/* fasttree — optional C accelerator for the tree builder's in-body hot
 * path (jsoup_spark/parser/treebuilder.py _run loop / _in_body dispatch),
 * the tokenizer's Data-state scanner (see "the Data-state scanner" below)
 * and the text and span walkers.
 *
 * Scope (strict subset; the Python tree builder remains the source of
 * truth and the fallback): while the builder sits in the InBody insertion
 * mode with no tracking / streaming callbacks / custom tagset / foster
 * parenting / active formatting reconstruction pending, apply queued
 * tokens directly:
 *   - Character tokens        -> TextNode append (+ frameset_ok rule)
 *   - start tags              -> p-closer blocks, simple voids, plain
 *                                known/unknown inserts, <li>, param/source/track
 *   - end tags                -> C_END_CLOSERS, </li> </p> </dd> </dt>,
 *                                any-other-end-tag (incl. unknown names)
 * Anything else (formatting tags, table machinery, text-state switches,
 * self-closing flags, NULs in text, depth/ns oddities) returns the token
 * to the Python dispatcher untouched.
 *
 * Semantics mirrored 1:1 from treebuilder.py (same error strings, same
 * error-count behavior, same node shapes); validated by the golden-tree
 * and fuzz differential campaigns with the accelerator active.
 */
#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <structmember.h>

/* token type codes — must match jsoup_spark.parser.tokenizer T_* */
#define TOK_START 1
#define TOK_END 2
#define TOK_CHAR 4

/* start actions */
#define SA_BAIL 0
#define SA_PLAIN_RECON 1   /* reconstruct(noop-checked) + insert */
#define SA_P_CLOSER 2      /* close p in button scope, insert */
#define SA_VOID_RECON 3    /* reconstruct + insert empty + frameset_ok=False */
#define SA_MEDIA_EMPTY 4   /* insert empty (param/source/track) */
#define SA_UNKNOWN 5       /* insert, no reconstruct (unknown tags) */
#define SA_LI 6
#define SA_FORMATTING 7    /* the 12 formatting tags: insert + push (Noah) */
#define SA_A 8             /* <a>: formatting unless nested-a pending */
#define SA_HEADING 9       /* h1-h6: close p, pop nested heading, insert */
#define SA_INPUT 10        /* input: empty insert, frameset_ok unless hidden */
#define SA_TO_HEAD_EMPTY 11 /* in-body link/meta/...: plain empty insert */
#define SA_BUTTON 12       /* button: insert unless a button is in scope */
#define SA_TEXT_SWITCH 13  /* title/script/style/noframes: enter TEXT mode */

/* end actions */
#define EA_BAIL 0
#define EA_CLOSER 1        /* C_END_CLOSERS */
#define EA_LI 2
#define EA_P 3
#define EA_ANY 4           /* _any_other_end_tag (default) */
#define EA_DD_DT 5
#define EA_FMT 6           /* adoption-agency formatters: fast paths only */
#define EA_HEADING 7       /* h1-h6 end: implied end + pop-to-close any */
#define EA_BODY 8          /* </body> in InBody: checks + -> AfterBody */
#define EA_HTML 9          /* </html> in InBody: checks + reprocess */

/* packed action-table value: start | end<<4 | opts<<8 | flags<<16 */
#define PACK_START(v) ((v) & 0xF)
#define PACK_END(v) (((v) >> 4) & 0xF)
#define PACK_OPTS(v) (((v) >> 8) & 0xFF)
#define PACK_FLAGS(v) (((v) >> 16) & 0xFFFF)

/* OPT_* bits — must match treebuilder.py */
#define OPT_SCOPE 1
#define OPT_LIST_SCOPE 2
#define OPT_BUTTON_SCOPE 4
#define OPT_IMPLIED_END 32
#define OPT_SPECIAL 128

#define MAX_DEPTH 512
#define MAX_QUEUE_DEPTH 256
#define MAX_USED_FORMATTING 12
#define MAX_ERRORS 64

static PyObject *g_actions = NULL;   /* dict: normal -> packed int */
static PyObject *g_ns_html = NULL;
static PyObject *g_element = NULL;   /* Element class */
static PyObject *g_textnode = NULL;  /* TextNode class */
static long g_in_body = -1;
static long g_flag_data = 0;         /* tags.DATA bit */

/* head-phase config (configure_head): tree-builder insertion-mode ids,
 * tokenizer state ids, the in-head name sets, node types and resolver */
static long g_before_head = -1, g_in_head = -1, g_after_head = -1,
    g_text_mode = -1, g_tz_rcdata = -1, g_tz_rawtext = -1,
    g_tz_scriptdata = -1;
static PyObject *g_head_empty = NULL;   /* frozenset: base basefont ... */
static PyObject *g_h_resolve = NULL;    /* nodes.resolve_url */
static PyObject *g_h_datanode = NULL, *g_h_cdata = NULL;
static PyObject *s_h_title = NULL, *s_h_script = NULL, *s_h_style = NULL,
    *s_h_noframes = NULL, *s_h_meta = NULL, *s_h_head = NULL,
    *s_h_body = NULL, *s_h_base = NULL, *s_h_href = NULL;
static PyObject *s_head_el = NULL, *s_original_state = NULL, *s_tok = NULL,
    *s_base_set = NULL, *s_base_uri = NULL, *s_base = NULL,
    *s_h_empty = NULL;

/* prelude/endgame config (configure_prelude): Initial/BeforeHtml synth
 * chains + AfterBody/AfterAfterBody endgame ids and sets */
static long g_initial = -1, g_before_html = -1, g_after_body = -1,
    g_after_after_body = -1;
static PyObject *g_end_other_errors = NULL; /* C_END_OTHER_ERRORS */
static PyObject *g_ah_bail = NULL;   /* after-head start bails (to_head+...) */
static PyObject *g_bh_to_head = NULL; /* C_BEFORE_HTML_TO_HEAD */
static PyObject *g_ih_bail = NULL;   /* in-head start bails */
static PyObject *g_err_body_not_in_scope = NULL, *g_err_no_body = NULL,
    *g_err_unexpected_end = NULL, *g_err_unexpected_end_in_head = NULL;
static PyObject *s_fragment = NULL, *s_quirks_mode = NULL,
    *g_quirks_str = NULL, *s_h_html = NULL;

/* error strings (exact Python literals, passed from treebuilder) */
static PyObject *g_err_dup_attrs = NULL;
static PyObject *g_err_not_in_scope = NULL;
static PyObject *g_err_unexpected_open = NULL;
static PyObject *g_err_li_not_in_scope = NULL;
static PyObject *g_err_no_p = NULL;
static PyObject *g_err_no_match = NULL;
static PyObject *g_err_special = NULL;
static PyObject *g_err_nested_heading = NULL;
static PyObject *g_err_no_heading = NULL;

/* interned attribute names */
static PyObject *s_stack, *s_doc, *s_state, *s_noscript, *s_track,
    *s_on_close, *s_foster, *s_tagset, *s_formatting, *s_frameset_ok,
    *s_errors, *s_children, *s_parent, *s_name, *s_ns, *s_attrs,
    *s_flags, *s_tagcase, *s_opts, *s_value, *s_normal, *s_data,
    *s_self_closing, *s_type;

static PyObject *g_minus_one = NULL;

static int headings_init(void);
static PyObject *g_comment_t;  /* defined with the walker globals below */

/* ---- slot-offset attribute access -----------------------------------
 * Element/TextNode/Node are __slots__ classes, so every hot attribute is
 * a member_descriptor with a fixed byte offset in the instance. Resolving
 * those offsets once (configure) and reading/writing the slot directly is
 * what CPython's descriptor machinery does after its lookups — this skips
 * the per-access type-dict probe. Subclasses (Document, DataNode, ...)
 * extend basicsize so base-class offsets stay valid; PyType_IsSubtype
 * gates every fast access. If ANY offset fails to resolve (layout change,
 * non-slots class), g_slots_ok stays 0 and everything falls back to
 * PyObject_Get/SetAttr — behavior identical, just slower. */
static int g_slots_ok = 0;
static PyTypeObject *g_node_tp = NULL;   /* Node (parent slot) */
static PyTypeObject *g_leaf_tp = NULL;   /* LeafNode (value slot) */
static Py_ssize_t off_name = -1, off_ns = -1, off_attrs = -1,
    off_children = -1, off_flags = -1, off_tagcase = -1, off_opts = -1,
    off_parent = -1, off_value = -1;

static Py_ssize_t
member_offset(PyObject *cls, const char *name)
{
    PyObject *d = PyObject_GetAttrString(cls, name);
    if (d == NULL) {
        PyErr_Clear();
        return -1;
    }
    Py_ssize_t off = -1;
    if (Py_TYPE(d) == &PyMemberDescr_Type) {
        PyMemberDef *m = ((PyMemberDescrObject *)d)->d_member;
        if (m != NULL && (m->type == T_OBJECT_EX || m->type == T_OBJECT))
            off = m->offset;
    }
    Py_DECREF(d);
    return off;
}

/* FastToken: the token object of the batched Data-state path (scan()
 * below, and full-pump bail materialization). It carries the attributes
 * the tree builder reads off the Python token classes; an unset object
 * field is NULL and reads as None. */
typedef struct {
    PyObject_HEAD
    int type;
    PyObject *name;        /* original case (tags) or NULL */
    PyObject *normal;      /* interned lowercase (tags) or NULL */
    PyObject *attrs;       /* list of (name, value) pairs or NULL */
    PyObject *attr_ranges; /* always NULL */
    PyObject *data;        /* Character text or NULL */
    int self_closing;
    Py_ssize_t start_pos;
    Py_ssize_t end_pos;
} FastToken;

static void
FastToken_dealloc(FastToken *self)
{
    Py_XDECREF(self->name);
    Py_XDECREF(self->normal);
    Py_XDECREF(self->attrs);
    Py_XDECREF(self->attr_ranges);
    Py_XDECREF(self->data);
    Py_TYPE(self)->tp_free((PyObject *)self);
}

static PyMemberDef FastToken_members[] = {
    {"type", T_INT, offsetof(FastToken, type), READONLY, NULL},
    {"name", T_OBJECT, offsetof(FastToken, name), 0, NULL},
    {"normal", T_OBJECT, offsetof(FastToken, normal), 0, NULL},
    {"attrs", T_OBJECT, offsetof(FastToken, attrs), 0, NULL},
    {"attr_ranges", T_OBJECT, offsetof(FastToken, attr_ranges), 0, NULL},
    {"data", T_OBJECT, offsetof(FastToken, data), 0, NULL},
    {"self_closing", T_INT, offsetof(FastToken, self_closing), 0, NULL},
    {"start_pos", T_PYSSIZET, offsetof(FastToken, start_pos), 0, NULL},
    {"end_pos", T_PYSSIZET, offsetof(FastToken, end_pos), 0, NULL},
    {NULL}
};

static PyTypeObject FastTokenType = {
    PyVarObject_HEAD_INIT(NULL, 0)
    .tp_name = "jsoup_fasttree.FastToken",
    .tp_basicsize = sizeof(FastToken),
    .tp_dealloc = (destructor)FastToken_dealloc,
    .tp_flags = Py_TPFLAGS_DEFAULT,
    .tp_members = FastToken_members,
    .tp_new = PyType_GenericNew,
};

#define IS_FASTTOKEN(t) (Py_TYPE(t) == &FastTokenType)

/* token field readers: FastToken fields directly, GetAttr otherwise */
static inline long
tok_type(PyObject *t)
{
    if (IS_FASTTOKEN(t))
        return ((FastToken *)t)->type;
    PyObject *v = PyObject_GetAttr(t, s_type);
    if (v == NULL)
        return -1;
    long r = PyLong_AS_LONG(v);
    Py_DECREF(v);
    return r;
}

static inline int
tok_selfc(PyObject *t)
{
    if (IS_FASTTOKEN(t))
        return ((FastToken *)t)->self_closing != 0;
    PyObject *v = PyObject_GetAttr(t, s_self_closing);
    if (v == NULL)
        return -1;
    int r = PyObject_IsTrue(v);
    Py_DECREF(v);
    return r;
}

static inline PyObject *      /* new ref; None when unset */
ft_field(PyObject *v)
{
    return Py_NewRef(v != NULL ? v : Py_None);
}
#define TOK_FIELD(t, f, sname) (IS_FASTTOKEN(t) \
    ? ft_field(((FastToken *)(t))->f) : PyObject_GetAttr((t), (sname)))
#define TOK_NORMAL(t) TOK_FIELD(t, normal, s_normal)
#define TOK_ATTRS(t) TOK_FIELD(t, attrs, s_attrs)
#define TOK_DATA(t) TOK_FIELD(t, data, s_data)

/* new-ref getter: slot read when the receiver is a known node class and
 * the slot is set; PyObject_GetAttr otherwise (including unset slots, so
 * AttributeError semantics are preserved). sname must be one of the
 * interned node-field singletons. */
static inline PyObject *
node_get(PyObject *o, PyObject *sname)
{
    if (g_slots_ok) {
        Py_ssize_t off = -1;
        PyTypeObject *gate = (PyTypeObject *)g_element;
        if (sname == s_name) off = off_name;
        else if (sname == s_ns) off = off_ns;
        else if (sname == s_attrs) off = off_attrs;
        else if (sname == s_children) off = off_children;
        else if (sname == s_flags) off = off_flags;
        else if (sname == s_tagcase) off = off_tagcase;
        else if (sname == s_opts) off = off_opts;
        else if (sname == s_parent) { off = off_parent; gate = g_node_tp; }
        else if (sname == s_value) { off = off_value; gate = g_leaf_tp; }
        if (off >= 0 && PyObject_TypeCheck(o, gate)) {
            PyObject *v = *(PyObject **)((char *)o + off);
            if (v != NULL) {
                Py_INCREF(v);
                return v;
            }
        }
    }
    return PyObject_GetAttr(o, sname);
}

/* setter twin of node_get; 0/-1 like PyObject_SetAttr */
static inline int
node_set(PyObject *o, PyObject *sname, PyObject *v)
{
    if (g_slots_ok) {
        Py_ssize_t off = -1;
        PyTypeObject *gate = (PyTypeObject *)g_element;
        if (sname == s_name) off = off_name;
        else if (sname == s_ns) off = off_ns;
        else if (sname == s_attrs) off = off_attrs;
        else if (sname == s_children) off = off_children;
        else if (sname == s_flags) off = off_flags;
        else if (sname == s_tagcase) off = off_tagcase;
        else if (sname == s_opts) off = off_opts;
        else if (sname == s_parent) { off = off_parent; gate = g_node_tp; }
        else if (sname == s_value) { off = off_value; gate = g_leaf_tp; }
        if (off >= 0 && PyObject_TypeCheck(o, gate)) {
            PyObject **p = (PyObject **)((char *)o + off);
            Py_INCREF(v);
            PyObject *old = *p;
            *p = v;
            Py_XDECREF(old);
            return 0;
        }
    }
    return PyObject_SetAttr(o, sname, v);
}

static void
resolve_slots(void)
{
    g_slots_ok = 0;
    if (g_element == NULL || g_textnode == NULL)
        return;
    PyTypeObject *el_tp = (PyTypeObject *)g_element;
    PyTypeObject *tn_tp = (PyTypeObject *)g_textnode;
    g_leaf_tp = tn_tp->tp_base;              /* TextNode -> LeafNode */
    if (g_leaf_tp == NULL)
        return;
    g_node_tp = g_leaf_tp->tp_base;          /* LeafNode -> Node */
    if (g_node_tp == NULL || el_tp->tp_base != g_node_tp)
        return;
    off_name = member_offset(g_element, "name");
    off_ns = member_offset(g_element, "ns");
    off_attrs = member_offset(g_element, "attrs");
    off_children = member_offset(g_element, "children");
    off_flags = member_offset(g_element, "flags");
    off_tagcase = member_offset(g_element, "tag_name_case");
    off_opts = member_offset(g_element, "opts");
    off_parent = member_offset(g_element, "parent");
    off_value = member_offset(g_textnode, "value");
    if (off_name < 0 || off_ns < 0 || off_attrs < 0 || off_children < 0 ||
        off_flags < 0 || off_tagcase < 0 || off_opts < 0 || off_parent < 0 ||
        off_value < 0)
        return;
    /* the parent slot must sit at the SAME offset for leaf nodes (both
     * inherit it from Node) — verify rather than assume */
    if (member_offset(g_textnode, "parent") != off_parent)
        return;
    g_slots_ok = 1;
}

static int
init_interned(void)
{
#define I(var, str) if (!(var = PyUnicode_InternFromString(str))) return -1
    I(s_stack, "stack"); I(s_doc, "doc"); I(s_state, "state");
    I(s_noscript, "noscript"); I(s_track, "track"); I(s_on_close, "on_close");
    I(s_foster, "foster_inserts"); I(s_tagset, "tagset");
    I(s_formatting, "formatting"); I(s_frameset_ok, "frameset_ok");
    I(s_errors, "errors"); I(s_children, "children"); I(s_parent, "parent");
    I(s_name, "name"); I(s_ns, "ns"); I(s_attrs, "attrs");
    I(s_flags, "flags"); I(s_tagcase, "tag_name_case"); I(s_opts, "opts");
    I(s_value, "value"); I(s_normal, "normal"); I(s_data, "data");
    I(s_self_closing, "self_closing"); I(s_type, "type");
#undef I
    g_minus_one = PyLong_FromLong(-1);
    return g_minus_one ? 0 : -1;
}

static PyObject *
configure(PyObject *self, PyObject *args)
{
    PyObject *actions, *ns_html, *element, *textnode, *errs;
    PyObject *comment = NULL;
    long in_body, flag_data;
    if (!PyArg_ParseTuple(args, "OOOOOll|O", &actions, &ns_html, &element,
                          &textnode, &errs, &in_body, &flag_data, &comment))
        return NULL;
    if (!PyTuple_Check(errs) || PyTuple_GET_SIZE(errs) != 9) {
        PyErr_SetString(PyExc_ValueError, "errs must be a 9-tuple");
        return NULL;
    }
#define SET(g, v) Py_XDECREF(g); Py_INCREF(v); g = v
    SET(g_actions, actions);
    SET(g_ns_html, ns_html);
    SET(g_element, element);
    SET(g_textnode, textnode);
    SET(g_err_dup_attrs, PyTuple_GET_ITEM(errs, 0));
    SET(g_err_not_in_scope, PyTuple_GET_ITEM(errs, 1));
    SET(g_err_unexpected_open, PyTuple_GET_ITEM(errs, 2));
    SET(g_err_li_not_in_scope, PyTuple_GET_ITEM(errs, 3));
    SET(g_err_no_p, PyTuple_GET_ITEM(errs, 4));
    SET(g_err_no_match, PyTuple_GET_ITEM(errs, 5));
    SET(g_err_special, PyTuple_GET_ITEM(errs, 6));
    SET(g_err_nested_heading, PyTuple_GET_ITEM(errs, 7));
    SET(g_err_no_heading, PyTuple_GET_ITEM(errs, 8));
#undef SET
    g_in_body = in_body;
    g_flag_data = flag_data;
    if (comment != NULL) {
        Py_XDECREF(g_comment_t);
        Py_INCREF(comment);
        g_comment_t = comment;
    }
    if (headings_init() < 0)
        return NULL;
    resolve_slots();
    Py_RETURN_NONE;
}

static PyObject *
configure_head(PyObject *self, PyObject *args)
{
    PyObject *head_empty, *resolve, *datanode, *cdata;
    long before_head, in_head, after_head, text_mode, rcd, raw, sd;
    if (!PyArg_ParseTuple(args, "OOOOlllllll", &head_empty, &resolve,
                          &datanode, &cdata, &before_head, &in_head,
                          &after_head, &text_mode, &rcd, &raw, &sd))
        return NULL;
#define SETH(g, v) Py_XDECREF(g); Py_INCREF(v); g = v
    SETH(g_head_empty, head_empty);
    SETH(g_h_resolve, resolve);
    SETH(g_h_datanode, datanode);
    SETH(g_h_cdata, cdata);
#undef SETH
    g_before_head = before_head;
    g_in_head = in_head;
    g_after_head = after_head;
    g_text_mode = text_mode;
    g_tz_rcdata = rcd;
    g_tz_rawtext = raw;
    g_tz_scriptdata = sd;
    if (s_h_title == NULL) {
        s_h_title = PyUnicode_InternFromString("title");
        s_h_script = PyUnicode_InternFromString("script");
        s_h_style = PyUnicode_InternFromString("style");
        s_h_noframes = PyUnicode_InternFromString("noframes");
        s_h_meta = PyUnicode_InternFromString("meta");
        s_h_head = PyUnicode_InternFromString("head");
        s_h_body = PyUnicode_InternFromString("body");
        s_h_base = PyUnicode_InternFromString("base");
        s_h_href = PyUnicode_InternFromString("href");
        s_head_el = PyUnicode_InternFromString("head_el");
        s_original_state = PyUnicode_InternFromString("original_state");
        s_tok = PyUnicode_InternFromString("tok");
        s_base_set = PyUnicode_InternFromString("base_set");
        s_base_uri = PyUnicode_InternFromString("base_uri");
        s_base = PyUnicode_InternFromString("base");
        s_h_empty = PyUnicode_InternFromString("");
        if (s_h_empty == NULL)
            return NULL;
    }
    Py_RETURN_NONE;
}

static PyObject *
configure_prelude(PyObject *self, PyObject *args)
{
    PyObject *end_other, *ah_bail, *bh_to_head, *ih_bail, *errs;
    long initial, before_html, after_body, after_after_body;
    if (!PyArg_ParseTuple(args, "OOOOllllO", &end_other, &ah_bail,
                          &bh_to_head, &ih_bail, &initial, &before_html,
                          &after_body, &after_after_body, &errs))
        return NULL;
    if (!PyTuple_Check(errs) || PyTuple_GET_SIZE(errs) != 4) {
        PyErr_SetString(PyExc_ValueError, "errs must be a 4-tuple");
        return NULL;
    }
#define SETP(g, v) Py_XDECREF(g); Py_INCREF(v); g = v
    SETP(g_end_other_errors, end_other);
    SETP(g_ah_bail, ah_bail);
    SETP(g_bh_to_head, bh_to_head);
    SETP(g_ih_bail, ih_bail);
    SETP(g_err_body_not_in_scope, PyTuple_GET_ITEM(errs, 0));
    SETP(g_err_no_body, PyTuple_GET_ITEM(errs, 1));
    SETP(g_err_unexpected_end, PyTuple_GET_ITEM(errs, 2));
    SETP(g_err_unexpected_end_in_head, PyTuple_GET_ITEM(errs, 3));
#undef SETP
    g_initial = initial;
    g_before_html = before_html;
    g_after_body = after_body;
    g_after_after_body = after_after_body;
    if (s_fragment == NULL) {
        s_fragment = PyUnicode_InternFromString("fragment");
        s_quirks_mode = PyUnicode_InternFromString("quirks_mode");
        g_quirks_str = PyUnicode_InternFromString("quirks");
        s_h_html = PyUnicode_InternFromString("html");
        if (s_h_html == NULL)
            return NULL;
    }
    Py_RETURN_NONE;
}


/* ---- optional section profiler (compile with -DFT_PROF) ---- */
#ifdef FT_PROF
#include <x86intrin.h>
enum { PB_FINALIZE, PB_MAKE, PB_APPEND, PB_TEXT, PB_RECON, PB_WALKS,
       PB_FUSE, PB_HEAD, PB_TOTAL,
       PB_SB, PB_EB, PB_CB, PB_NEXT, PB_ENTRY, PB_N };
static unsigned long long g_prof[PB_N];
static unsigned long long g_prof_calls[PB_N];
#define PROF_DECL unsigned long long _pt0
#define PROF_BEGIN() (_pt0 = __rdtsc())
#define PROF_END(b) (g_prof[b] += __rdtsc() - _pt0, g_prof_calls[b]++)
static PyObject *
prof_stats(PyObject *self, PyObject *args)
{
    static const char *names[PB_N] = {
        "finalize_attrs", "make_element", "append_child", "insert_text",
        "reconstruct", "walks", "fuse_text", "head_phase", "apply_total",
        "start_block", "end_block", "char_block", "next_token", "entry"};
    PyObject *d = PyDict_New();
    for (int i = 0; i < PB_N; i++) {
        PyObject *t = Py_BuildValue("(KK)", g_prof[i], g_prof_calls[i]);
        PyDict_SetItemString(d, names[i], t);
        Py_DECREF(t);
        g_prof[i] = 0;
        g_prof_calls[i] = 0;
    }
    return d;
}
#else
#define PROF_DECL
#define PROF_BEGIN() ((void)0)
#define PROF_END(b) ((void)0)
#endif

/* ---- tiny helpers (all borrow unless noted) ---- */

typedef struct {
    PyObject *tb;
    PyObject *stack;      /* borrowed list */
    PyObject *doc;        /* borrowed */
    PyObject *formatting; /* borrowed list */
    PyObject *errors;     /* borrowed list */
    int frameset_ok;      /* local mirror */
    int frameset_dirty;
} Ctx;

static void
err(Ctx *c, PyObject *msg)
{
    if (PyList_GET_SIZE(c->errors) < MAX_ERRORS)
        PyList_Append(c->errors, msg);
}

/* packed action value for a normal name; SA_UNKNOWN/EA_ANY defaults when
 * the name is not in the table (unknown tag). -1 on lookup error. */
static long
action_of(PyObject *normal, int *known)
{
    PyObject *v = PyDict_GetItemWithError(g_actions, normal);
    if (v == NULL) {
        if (PyErr_Occurred())
            return -1;
        *known = 0;
        return SA_UNKNOWN | (EA_ANY << 4);
    }
    *known = 1;
    return PyLong_AS_LONG(v);
}

/* element's scope-opts bitmask: el.opts if cached, else from the action
 * table (writes the cache back). */
static long
opts_of(PyObject *el)
{
    PyObject *o = node_get(el, s_opts);
    if (o == NULL)
        return -1;
    long v = PyLong_AS_LONG(o);
    Py_DECREF(o);
    if (v != -1)
        return v;
    PyObject *name = node_get(el, s_name);
    if (name == NULL)
        return -1;
    int known;
    long packed = action_of(name, &known);
    Py_DECREF(name);
    if (packed < 0)
        return -1;
    long opts = PACK_OPTS(packed);
    PyObject *cached = PyLong_FromLong(opts);
    if (cached == NULL)
        return -1;
    int rc = node_set(el, s_opts, cached);
    Py_DECREF(cached);
    return rc < 0 ? -1 : opts;
}

/* ns check: is el in the HTML namespace (identity fast path) */
static int
is_html_ns(PyObject *el)
{
    PyObject *ns = node_get(el, s_ns);
    if (ns == NULL)
        return -1;
    int r = (ns == g_ns_html);
    if (!r)
        r = PyUnicode_Compare(ns, g_ns_html) == 0 && !PyErr_Occurred();
    Py_DECREF(ns);
    return r;
}

/* in_specific_scope(target, boundary): walk stack top-down. 1/0/-1. */
static int
in_scope_walk(Ctx *c, PyObject *target, long boundary)
{
    Py_ssize_t n = PyList_GET_SIZE(c->stack);
    for (Py_ssize_t i = n - 1; i >= 0; i--) {
        PyObject *el = PyList_GET_ITEM(c->stack, i);
        PyObject *name = node_get(el, s_name);
        if (name == NULL)
            return -1;
        int eq = PyUnicode_Compare(name, target) == 0 && !PyErr_Occurred();
        Py_DECREF(name);
        if (eq)
            return 1; /* ns==HTML guaranteed by entry precondition */
        long o = opts_of(el);
        if (o < 0)
            return -1;
        if (o & boundary)
            return 0;
    }
    return 0;
}

/* current element name == target? (ns HTML by precondition) */
static int
current_is(Ctx *c, PyObject *target)
{
    Py_ssize_t n = PyList_GET_SIZE(c->stack);
    if (n == 0)
        return 0;
    PyObject *el = PyList_GET_ITEM(c->stack, n - 1);
    PyObject *name = node_get(el, s_name);
    if (name == NULL)
        return -1;
    int eq = PyUnicode_Compare(name, target) == 0 && !PyErr_Occurred();
    Py_DECREF(name);
    return eq;
}

/* pop the top element (no track/on_close by precondition) */
static int
pop_top(Ctx *c)
{
    Py_ssize_t n = PyList_GET_SIZE(c->stack);
    if (n == 0)
        return 0;
    return PyList_SetSlice(c->stack, n - 1, n, NULL);
}

/* generate_implied_end(exclude): pop while top has OPT_IMPLIED_END and
 * (exclude==NULL or top.name != exclude). */
static int
implied_end(Ctx *c, PyObject *exclude)
{
    for (;;) {
        Py_ssize_t n = PyList_GET_SIZE(c->stack);
        if (n == 0)
            return 0;
        PyObject *el = PyList_GET_ITEM(c->stack, n - 1);
        long o = opts_of(el);
        if (o < 0)
            return -1;
        if (!(o & OPT_IMPLIED_END))
            return 0;
        if (exclude != NULL) {
            PyObject *name = node_get(el, s_name);
            if (name == NULL)
                return -1;
            int eq = PyUnicode_Compare(name, exclude) == 0 && !PyErr_Occurred();
            Py_DECREF(name);
            if (eq) /* ns==HTML by precondition */
                return 0;
        }
        if (pop_top(c) < 0)
            return -1;
    }
}

/* pop_to_close(name): pop until an HTML element with that name popped */
static int
pop_to_close(Ctx *c, PyObject *name)
{
    for (;;) {
        Py_ssize_t n = PyList_GET_SIZE(c->stack);
        if (n == 0)
            return 0;
        PyObject *el = PyList_GET_ITEM(c->stack, n - 1);
        PyObject *nm = node_get(el, s_name);
        if (nm == NULL)
            return -1;
        int eq = PyUnicode_Compare(nm, name) == 0 && !PyErr_Occurred();
        Py_DECREF(nm);
        if (pop_top(c) < 0)
            return -1;
        if (eq)
            return 0;
    }
}

/* reconstruct_formatting() no-op check: 1 = no-op, 0 = needs real work,
 * -1 = error. Mirrors treebuilder.reconstruct_formatting entry tests. */
static int
reconstruct_is_noop(Ctx *c)
{
    if (PyList_GET_SIZE(c->stack) > MAX_QUEUE_DEPTH)
        return 1;
    Py_ssize_t nf = PyList_GET_SIZE(c->formatting);
    if (nf == 0)
        return 1;
    PyObject *last = PyList_GET_ITEM(c->formatting, nf - 1);
    if (last == Py_None)
        return 1;
    /* on_stack(last): identity scan (bounded window in Python only kicks
     * in past MAX_QUEUE_DEPTH which is already excluded above) */
    Py_ssize_t ns = PyList_GET_SIZE(c->stack);
    for (Py_ssize_t i = ns - 1; i >= 0; i--)
        if (PyList_GET_ITEM(c->stack, i) == last)
            return 1;
    return 0;
}

static PyObject *make_element(PyObject *normal, long flags,
                              PyObject *attrs_dict);
static int append_child(PyObject *parent, PyObject *node);
static PyObject *current_parent(Ctx *c);

/* ---- h1-h6 helpers ---- */
static PyObject *g_heading_names[6];

static int
headings_init(void)
{
    static const char *names[6] = {"h1", "h2", "h3", "h4", "h5", "h6"};
    if (g_heading_names[0] != NULL)
        return 0;
    for (int i = 0; i < 6; i++) {
        g_heading_names[i] = PyUnicode_InternFromString(names[i]);
        if (g_heading_names[i] == NULL)
            return -1;
    }
    return 0;
}

static int
is_heading_name(PyObject *name)
{
    for (int i = 0; i < 6; i++)
        if (PyUnicode_Compare(name, g_heading_names[i]) == 0)
            return 1;
    return PyErr_Occurred() ? -1 : 0;
}

/* current element is an h1-h6? (ns HTML by entry precondition) */
static int
current_is_heading(Ctx *c)
{
    Py_ssize_t n = PyList_GET_SIZE(c->stack);
    if (n == 0)
        return 0;
    PyObject *name = node_get(PyList_GET_ITEM(c->stack, n - 1),
                          s_name);
    if (name == NULL)
        return -1;
    int r = is_heading_name(name);
    Py_DECREF(name);
    return r;
}

/* treebuilder.heading_in_scope: any h1-h6 before an OPT_SCOPE boundary */
static int
heading_in_scope(Ctx *c)
{
    Py_ssize_t n = PyList_GET_SIZE(c->stack);
    for (Py_ssize_t i = n - 1; i >= 0; i--) {
        PyObject *el = PyList_GET_ITEM(c->stack, i);
        PyObject *name = node_get(el, s_name);
        if (name == NULL)
            return -1;
        int h = is_heading_name(name);
        Py_DECREF(name);
        if (h)
            return h < 0 ? -1 : 1;
        long o = opts_of(el);
        if (o < 0)
            return -1;
        if (o & OPT_SCOPE)
            return 0;
    }
    return 0;
}

/* treebuilder.pop_to_close_set(C_HEADINGS) */
static int
pop_to_close_heading(Ctx *c)
{
    for (;;) {
        Py_ssize_t n = PyList_GET_SIZE(c->stack);
        if (n == 0)
            return 0;
        PyObject *name = node_get(PyList_GET_ITEM(c->stack, n - 1),
                          s_name);
        if (name == NULL)
            return -1;
        int h = is_heading_name(name);
        Py_DECREF(name);
        if (h < 0)
            return -1;
        if (pop_top(c) < 0)
            return -1;
        if (h)
            return 0;
    }
}

/* full reconstruct_formatting (treebuilder.reconstruct_formatting /
 * HtmlTreeBuilder.java reconstructFormattingElements): clone every
 * formatting entry above the last on-stack/marker entry, insert + push +
 * replace in the list. Returns 1 done (incl. no-op), 0 bail to Python
 * (unclonable entry), -1 error. Partial completion is CONSISTENT state:
 * the algorithm is resumable (Python restarts from the last entry that is
 * now on the stack), so a mid-walk bail never corrupts the tree. */
static int
reconstruct_run(Ctx *c)
{
    PROF_DECL;
    PROF_BEGIN();
    int noop = reconstruct_is_noop(c);
    PROF_END(PB_RECON);
    if (noop != 0)
        return noop < 0 ? -1 : 1;
    PyObject *f = c->formatting;
    Py_ssize_t size = PyList_GET_SIZE(f);
    Py_ssize_t ceil_ = size - MAX_USED_FORMATTING;
    if (ceil_ < 0)
        ceil_ = 0;
    Py_ssize_t pos = size - 1;
    int skip = 0;
    PyObject *entry = PyList_GET_ITEM(f, pos);
    for (;;) {
        if (pos == ceil_) {
            skip = 1;
            break;
        }
        pos--;
        entry = PyList_GET_ITEM(f, pos);
        if (entry == Py_None)
            break;
        Py_ssize_t ns = PyList_GET_SIZE(c->stack);
        int on = 0;
        for (Py_ssize_t i = ns - 1; i >= 0; i--)
            if (PyList_GET_ITEM(c->stack, i) == entry) {
                on = 1;
                break;
            }
        if (on)
            break;
    }
    for (;;) {
        if (!skip) {
            pos++;
            entry = PyList_GET_ITEM(f, pos);
        }
        skip = 0;
        /* clonable: exact Element in the HTML namespace (tracking, custom
         * tagsets and foreign entries are excluded by the apply() gate or
         * never reach the formatting list; guard anyway) */
        if (Py_TYPE(entry) != (PyTypeObject *)g_element)
            return 0;
        {
            int h = is_html_ns(entry);
            if (h < 0)
                return -1;
            if (!h)
                return 0;
        }
        PyObject *eattrs = node_get(entry, s_attrs);
        if (eattrs == NULL)
            return -1;
        PyObject *attrs_copy = PyDict_Copy(eattrs);
        Py_DECREF(eattrs);
        if (attrs_copy == NULL)
            return -1;
        PyObject *ename = node_get(entry, s_name);
        PyObject *eflags = node_get(entry, s_flags);
        PyObject *etagcase = node_get(entry, s_tagcase);
        if (ename == NULL || eflags == NULL || etagcase == NULL) {
            Py_XDECREF(ename); Py_XDECREF(eflags); Py_XDECREF(etagcase);
            Py_DECREF(attrs_copy);
            return -1;
        }
        long flv = PyLong_AS_LONG(eflags);
        Py_DECREF(eflags);
        PyObject *new_el = make_element(ename, flv, attrs_copy);
        Py_DECREF(attrs_copy);
        Py_DECREF(ename);
        if (new_el == NULL) {
            Py_DECREF(etagcase);
            return -1;
        }
        if (node_set(new_el, s_tagcase, etagcase) < 0) {
            Py_DECREF(etagcase); Py_DECREF(new_el);
            return -1;
        }
        Py_DECREF(etagcase);
        if (append_child(current_parent(c), new_el) < 0 ||
            PyList_Append(c->stack, new_el) < 0) {
            Py_DECREF(new_el);
            return -1;
        }
        /* PyList_SetItem steals our reference */
        if (PyList_SetItem(f, pos, new_el) < 0)
            return -1;
        if (pos == size - 1)
            break;
    }
    return 1;
}

/* data string all-whitespace? (" \t\n\r\f") */
static int
is_all_ws(PyObject *data)
{
    Py_ssize_t n = PyUnicode_GET_LENGTH(data);
    int kind = PyUnicode_KIND(data);
    const void *buf = PyUnicode_DATA(data);
    for (Py_ssize_t i = 0; i < n; i++) {
        Py_UCS4 ch = PyUnicode_READ(kind, buf, i);
        if (ch != ' ' && ch != '\t' && ch != '\n' && ch != '\r' && ch != '\f')
            return 0;
    }
    return 1;
}

static int
contains_nul(PyObject *data)
{
    return PyUnicode_FindChar(data, 0, 0, PyUnicode_GET_LENGTH(data), 1) >= 0;
}

/* create a bare instance of a slots class without running __init__ */
static PyObject *
bare_instance(PyObject *cls)
{
    PyTypeObject *tp = (PyTypeObject *)cls;
    return tp->tp_alloc(tp, 0);
}

/* append child (fresh node, parent None) to parent element/doc */
static int
append_child(PyObject *parent, PyObject *node)
{
    if (node_set(node, s_parent, parent) < 0)
        return -1;
    PyObject *children = node_get(parent, s_children);
    if (children == NULL)
        return -1;
    int rc = PyList_Append(children, node);
    Py_DECREF(children);
    return rc;
}

static PyObject *
current_parent(Ctx *c)
{
    Py_ssize_t n = PyList_GET_SIZE(c->stack);
    return n ? PyList_GET_ITEM(c->stack, n - 1) : c->doc; /* borrowed */
}

/* TextNode(data) without __init__ frames */
static int
insert_text(Ctx *c, PyObject *data)
{
    PROF_DECL;
    PROF_BEGIN();
    PyObject *parent = current_parent(c);
    /* bail-to-python caller handles DATA-flag parents before calling */
    PyObject *node = bare_instance(g_textnode);
    if (node == NULL)
        return -1;
    if (node_set(node, s_value, data) < 0 ||
        append_child(parent, node) < 0) {
        Py_DECREF(node);
        return -1;
    }
    Py_DECREF(node);
    PROF_END(PB_TEXT);
    return 0;
}

/* finalize attrs: list[(k, v-or-None)] -> dict, lowercased keys,
 * first-wins; appends the dup error like Python. NULL on error.
 * Returns new ref (empty dict for None/empty). */
static PyObject *
finalize_attrs(Ctx *c, PyObject *attrs)
{
    if (attrs == NULL || attrs == Py_None)
        return PyDict_New();
    if (PyDict_Check(attrs)) {
        /* full-pump pre-built dict: keys already lowercased, first-wins,
         * dup-free by construction (dup-key tags take the list shape so
         * the dup error still fires here). Used by exactly one element,
         * so no copy: the ring slot's ref clears right after insert. */
        Py_INCREF(attrs);
        return attrs;
    }
    int is_list = PyList_Check(attrs);
    Py_ssize_t n = is_list ? PyList_GET_SIZE(attrs) : PySequence_Size(attrs);
    if (n < 0)
        return NULL;
    /* presize for the attr count: skips the 0->8 grow on 1-2 attr tags
     * (first-wins dupes only over-reserve) */
    PyObject *out = n > 0 ? _PyDict_NewPresized(n) : PyDict_New();
    if (out == NULL)
        return NULL;
    long dupes = 0;
    for (Py_ssize_t i = 0; i < n; i++) {
        PyObject *k, *v;
        if (is_list) {
            PyObject *pair = PyList_GET_ITEM(attrs, i); /* borrowed */
            if (PyTuple_Check(pair) && PyTuple_GET_SIZE(pair) == 2) {
                k = PyTuple_GET_ITEM(pair, 0);
                v = PyTuple_GET_ITEM(pair, 1);
                Py_INCREF(k);
                Py_INCREF(v);
            } else {
                k = PySequence_GetItem(pair, 0);
                v = PySequence_GetItem(pair, 1);
            }
        } else {
            PyObject *pair = PySequence_GetItem(attrs, i); /* new */
            if (pair == NULL) {
                Py_DECREF(out);
                return NULL;
            }
            k = PySequence_GetItem(pair, 0);
            v = PySequence_GetItem(pair, 1);
            Py_DECREF(pair);
        }
        if (k == NULL || v == NULL) {
            Py_XDECREF(k); Py_XDECREF(v); Py_DECREF(out);
            return NULL;
        }
        /* lowercase only when needed: scan for A-Z / non-ASCII upper */
        int needs_lower = 0;
        Py_ssize_t kn = PyUnicode_GET_LENGTH(k);
        int kind = PyUnicode_KIND(k);
        const void *buf = PyUnicode_DATA(k);
        for (Py_ssize_t j = 0; j < kn; j++) {
            Py_UCS4 ch = PyUnicode_READ(kind, buf, j);
            if (ch >= 128 || (ch >= 'A' && ch <= 'Z')) {
                needs_lower = 1;
                break;
            }
        }
        PyObject *key = k;
        if (needs_lower) {
            key = PyObject_CallMethod(k, "lower", NULL);
            Py_DECREF(k);
            if (key == NULL) {
                Py_DECREF(v); Py_DECREF(out);
                return NULL;
            }
        }
        /* first-wins in ONE hash probe: SetDefault inserts only when the
         * key is absent; an unchanged dict size means a duplicate. (A
         * pointer compare on the returned value would miss dupes whose
         * value object is shared, e.g. interned empty strings.) */
        Py_ssize_t before = PyDict_GET_SIZE(out);
        if (PyDict_SetDefault(out, key, v) == NULL) {
            Py_DECREF(key); Py_DECREF(v); Py_DECREF(out);
            return NULL;
        }
        if (PyDict_GET_SIZE(out) == before)
            dupes++;
        Py_DECREF(key);
        Py_DECREF(v);
    }
    if (dupes)
        err(c, g_err_dup_attrs);
    return out;
}

/* Element flags are dense small combos of the tags.py bit constants
 * (max < 2048), but CPython's small-int cache stops at 256 — so common
 * tags like div (KNOWN|BLOCK|TEXT_BOUNDARY = 1029) paid a PyLong
 * alloc + dealloc per element. Lazily-filled immortal cache instead. */
#define FLAG_CACHE_N 2048
static PyObject *g_flag_longs[FLAG_CACHE_N];

static PyObject *            /* new ref */
flags_long(long flags)
{
    if (flags >= 0 && flags < FLAG_CACHE_N) {
        PyObject *v = g_flag_longs[flags];
        if (v == NULL) {
            v = PyLong_FromLong(flags);
            if (v == NULL)
                return NULL;
            g_flag_longs[flags] = v;   /* cache keeps one immortal ref */
        }
        Py_INCREF(v);
        return v;
    }
    return PyLong_FromLong(flags);
}

/* Element without __init__ frames: name/ns/attrs/children/flags/
 * tag_name_case/opts/parent. Returns new ref. */
static PyObject *
make_element(PyObject *normal, long flags, PyObject *attrs_dict)
{
    PyObject *el = bare_instance(g_element);
    if (el == NULL)
        return NULL;
    PyObject *children = PyList_New(0);
    PyObject *flags_o = flags_long(flags);
    if (children == NULL || flags_o == NULL)
        goto fail;
    if (g_slots_ok && Py_TYPE(el) == (PyTypeObject *)g_element) {
        /* fresh tp_alloc instance: slots are NULL, write them directly */
#define INIT(off, v) do { PyObject *v_ = (v); Py_INCREF(v_); \
        *(PyObject **)((char *)el + (off)) = v_; } while (0)
        INIT(off_name, normal);
        INIT(off_ns, g_ns_html);
        INIT(off_attrs, attrs_dict);
        INIT(off_children, children);
        INIT(off_flags, flags_o);
        INIT(off_tagcase, normal);
        INIT(off_opts, g_minus_one);
        INIT(off_parent, Py_None);
#undef INIT
    } else if (PyObject_SetAttr(el, s_name, normal) < 0 ||
        PyObject_SetAttr(el, s_ns, g_ns_html) < 0 ||
        PyObject_SetAttr(el, s_attrs, attrs_dict) < 0 ||
        PyObject_SetAttr(el, s_children, children) < 0 ||
        PyObject_SetAttr(el, s_flags, flags_o) < 0 ||
        PyObject_SetAttr(el, s_tagcase, normal) < 0 ||
        PyObject_SetAttr(el, s_opts, g_minus_one) < 0 ||
        PyObject_SetAttr(el, s_parent, Py_None) < 0)
        goto fail;
    Py_DECREF(children);
    Py_DECREF(flags_o);
    return el;
fail:
    Py_XDECREF(children);
    Py_XDECREF(flags_o);
    Py_DECREF(el);
    return NULL;
}

/* insert_element core: create + append + push. push=0 for empties. */
static PyObject *
insert_element(Ctx *c, PyObject *normal, long flags, PyObject *attrs,
               int push)
{
    PROF_DECL;
    PROF_BEGIN();
    PyObject *attrs_dict = finalize_attrs(c, attrs);
    PROF_END(PB_FINALIZE);
    if (attrs_dict == NULL)
        return NULL;
    PROF_BEGIN();
    PyObject *el = make_element(normal, flags, attrs_dict);
    PROF_END(PB_MAKE);
    Py_DECREF(attrs_dict);
    if (el == NULL)
        return NULL;
    PROF_BEGIN();
    PyObject *parent = current_parent(c);
    if (append_child(parent, el) < 0) {
        Py_DECREF(el);
        return NULL;
    }
    if (push && PyList_Append(c->stack, el) < 0) {
        Py_DECREF(el);
        return NULL;
    }
    PROF_END(PB_APPEND);
    return el;
}

/* ---- fused raw-text content scan --------------------------------------
 * Called right after a title/script/style/noframes start switched the
 * builder into TEXT mode (tok.state already RCDATA/RAWTEXT/SCRIPT_DATA,
 * element pushed). Strict subset of the tokenizer's text states + the
 * Python _fused_text_close fast path: when the content up to the FIRST
 * '<' is free of NUL (and '&' for RCDATA) and that '<' begins exactly
 * "</name>" (ASCII case-insensitive, no ws/attrs/self-close), consume
 * content + close in one step — insert the text node (DataNode under
 * Data-flag elements, TextNode otherwise, mirroring insert_character_to),
 * pop, restore the insertion mode, and return the tokenizer to Data at
 * the position past '>'. markup_start stays stale on this path exactly
 * like the reference (Tokeniser.java — RCDataLessthanSign never moves
 * markupStartPos) and the Python fused path. Any other shape returns 0
 * with NOTHING consumed: tok.state is already the right text state, so
 * the Python tokenizer proceeds identically.
 * Returns 1 fused, 0 not fused, -1 error. */
static PyObject *s_tk_s = NULL, *s_tk_pos = NULL;

static int
fuse_text_content(Ctx *c, PyObject *tb, PyObject *normal, long elflags,
                  int is_rcdata, long *state, long restore_state)
{
    if (s_tk_s == NULL) {
        s_tk_s = PyUnicode_InternFromString("s");
        s_tk_pos = PyUnicode_InternFromString("pos");
        if (s_tk_pos == NULL)
            return -1;
    }
    PROF_DECL;
    PROF_BEGIN();
    PyObject *tok_o = PyObject_GetAttr(tb, s_tok);
    if (tok_o == NULL)
        return -1;
    PyObject *s_obj = PyObject_GetAttr(tok_o, s_tk_s);
    PyObject *pos_o = PyObject_GetAttr(tok_o, s_tk_pos);
    if (s_obj == NULL || pos_o == NULL) {
        Py_XDECREF(s_obj); Py_XDECREF(pos_o); Py_DECREF(tok_o);
        return -1;
    }
    Py_ssize_t pos = PyLong_AsSsize_t(pos_o);
    Py_DECREF(pos_o);
    if ((pos == -1 && PyErr_Occurred()) || !PyUnicode_Check(s_obj))
        goto not_fused;
    {
        const int kind = PyUnicode_KIND(s_obj);
        const void *data = PyUnicode_DATA(s_obj);
        const Py_ssize_t n = PyUnicode_GET_LENGTH(s_obj);
        Py_ssize_t i = pos;
        while (i < n) {
            Py_UCS4 ch = PyUnicode_READ(kind, data, i);
            if (ch == '<')
                break;
            if (ch == 0 || (is_rcdata && ch == '&'))
                goto not_fused;
            i++;
        }
        if (i >= n)
            goto not_fused;      /* EOF in text: python path */
        Py_ssize_t nl = PyUnicode_GET_LENGTH(normal);
        if (i + 2 + nl >= n || PyUnicode_READ(kind, data, i + 1) != '/')
            goto not_fused;
        const int nkind = PyUnicode_KIND(normal);
        const void *ndata = PyUnicode_DATA(normal);
        for (Py_ssize_t k = 0; k < nl; k++) {
            Py_UCS4 ch = PyUnicode_READ(kind, data, i + 2 + k);
            if (ch >= 'A' && ch <= 'Z')
                ch += 32;
            if (ch != PyUnicode_READ(nkind, ndata, k))
                goto not_fused;
        }
        if (PyUnicode_READ(kind, data, i + 2 + nl) != '>')
            goto not_fused;
        /* fusable: content [pos, i), close ends at i+2+nl */
        if (i > pos) {
            PyObject *content = PyUnicode_Substring(s_obj, pos, i);
            if (content == NULL)
                goto err;
            PyObject *cls = (elflags & g_flag_data) ? g_h_datanode
                                                    : g_textnode;
            PyObject *node = bare_instance(cls);
            if (node == NULL) {
                Py_DECREF(content);
                goto err;
            }
            if (node_set(node, s_value, content) < 0 ||
                append_child(current_parent(c), node) < 0) {
                Py_DECREF(node); Py_DECREF(content);
                goto err;
            }
            Py_DECREF(node);
            Py_DECREF(content);
        }
        if (pop_top(c) < 0)
            goto err;
        *state = restore_state;
        {
            PyObject *np = PyLong_FromSsize_t(i + 2 + nl + 1);
            PyObject *ds = PyLong_FromLong(0);   /* tz.DATA == 0 */
            if (np == NULL || ds == NULL ||
                PyObject_SetAttr(tok_o, s_tk_pos, np) < 0 ||
                PyObject_SetAttr(tok_o, s_state, ds) < 0) {
                Py_XDECREF(np); Py_XDECREF(ds);
                goto err;
            }
            Py_DECREF(np); Py_DECREF(ds);
        }
        Py_DECREF(s_obj); Py_DECREF(tok_o);
        PROF_END(PB_FUSE);
        return 1;
    }
not_fused:
    PyErr_Clear();
    Py_DECREF(s_obj); Py_DECREF(tok_o);
    return 0;
err:
    Py_DECREF(s_obj); Py_DECREF(tok_o);
    return -1;
}

/* ---- prelude/endgame helpers ---- */

/* bounded stack scan (tb.get_from_stack); *out borrowed or NULL */
static int
get_from_stack_name(Ctx *c, PyObject *name, PyObject **out)
{
    Py_ssize_t n = PyList_GET_SIZE(c->stack);
    Py_ssize_t lo = n - 1 - MAX_QUEUE_DEPTH;
    if (lo < 0)
        lo = 0;
    *out = NULL;
    for (Py_ssize_t i = n - 1; i >= lo; i--) {
        PyObject *el = PyList_GET_ITEM(c->stack, i);
        PyObject *nm = node_get(el, s_name);
        if (nm == NULL)
            return -1;
        int eq = PyUnicode_Compare(nm, name) == 0 && !PyErr_Occurred();
        Py_DECREF(nm);
        if (eq) { /* ns==HTML guaranteed by entry precondition */
            *out = el;
            return 0;
        }
    }
    return 0;
}

/* tb.on_stack_not(C_END_OTHER_ERRORS): any open element not in the set */
static int
stack_has_not_allowed(Ctx *c)
{
    Py_ssize_t n = PyList_GET_SIZE(c->stack);
    for (Py_ssize_t i = 0; i < n; i++) {
        PyObject *nm = node_get(PyList_GET_ITEM(c->stack, i), s_name);
        if (nm == NULL)
            return -1;
        int in = PySet_Contains(g_end_other_errors, nm);
        Py_DECREF(nm);
        if (in < 0)
            return -1;
        if (!in)
            return 1;
    }
    return 0;
}

/* synthesized html/head/body insert (process_start with no attrs) */
static int
synth_insert(Ctx *c, PyObject *tb, PyObject *normal, int set_head)
{
    int known;
    long packed = action_of(normal, &known);
    if (packed < 0)
        return -1;
    PyObject *el = insert_element(c, normal, PACK_FLAGS(packed), NULL, 1);
    if (el == NULL)
        return -1;
    int rc = 0;
    if (set_head)
        rc = PyObject_SetAttr(tb, s_head_el, el);
    Py_DECREF(el);
    return rc;
}

static int
set_quirks(Ctx *c)
{
    return PyObject_SetAttr(c->doc, s_quirks_mode, g_quirks_str);
}

/* append a TextNode holding `data` to an explicit parent (Python
 * insert_character_to) */
static int
insert_text_to(PyObject *parent, PyObject *data)
{
    PyObject *node = bare_instance(g_textnode);
    if (node == NULL)
        return -1;
    if (node_set(node, s_value, data) < 0 ||
        append_child(parent, node) < 0) {
        Py_DECREF(node);
        return -1;
    }
    Py_DECREF(node);
    return 0;
}

/* head-phase handler: Initial/BeforeHtml/BeforeHead/InHead/AfterHead/
 * Text/AfterBody/AfterAfterBody modes, strict whitelist; mirrors the
 * treebuilder._initial/_before_html/_before_head/_in_head/_after_head/
 * _text/_after_body/_after_after_body dispatch including the
 * "anything else" synthesis chains (process_start("html"/"head"/"body")
 * + reprocess). Returns 1 handled, 0 bail, -1 error, 2 = insertion mode
 * advanced to InBody — reprocess the SAME token in the main loop. */
static int
head_phase(Ctx *c, PyObject *tb, PyObject *token, long ttype, long *state)
{
    int prelude = (g_initial != -1);
    if (ttype == TOK_CHAR) {
        PyObject *data = TOK_DATA(token);
        if (data == NULL)
            return -1;
        if (!PyUnicode_Check(data) || contains_nul(data)) {
            Py_DECREF(data);
            return 0;
        }
        if (*state == g_text_mode) {
            /* insert_character_to: DataNode under Data-flag elements */
            PyObject *parent = current_parent(c);
            PyObject *fl = node_get(parent, s_flags);
            if (fl == NULL) { Py_DECREF(data); return -1; }
            long flv = PyLong_AS_LONG(fl);
            Py_DECREF(fl);
            PyObject *cls = (flv & g_flag_data) ? g_h_datanode : g_textnode;
            PyObject *node = bare_instance(cls);
            if (node == NULL) { Py_DECREF(data); return -1; }
            if (node_set(node, s_value, data) < 0 ||
                append_child(parent, node) < 0) {
                Py_DECREF(node); Py_DECREF(data);
                return -1;
            }
            Py_DECREF(node);
            Py_DECREF(data);
            return 1;
        }
        {
            int ws = is_all_ws(data);
        char_redispatch:
            if (prelude && *state == g_initial) {
                if (ws) {
                    Py_DECREF(data);
                    return 1;          /* _initial ignores whitespace */
                }
                if (set_quirks(c) < 0) { Py_DECREF(data); return -1; }
                *state = g_before_html;
                goto char_redispatch;
            }
            if (prelude && *state == g_before_html) {
                if (ws) {
                    int rc = insert_text(c, data);
                    Py_DECREF(data);
                    return rc < 0 ? -1 : 1;
                }
                if (synth_insert(c, tb, s_h_html, 0) < 0) {
                    Py_DECREF(data); return -1;
                }
                *state = g_before_head;
                goto char_redispatch;
            }
            if (*state == g_before_head) {
                if (ws) {
                    int rc = insert_text(c, data);
                    Py_DECREF(data);
                    return rc < 0 ? -1 : 1;
                }
                if (!prelude) { Py_DECREF(data); return 0; }
                if (synth_insert(c, tb, s_h_head, 1) < 0) {
                    Py_DECREF(data); return -1;
                }
                *state = g_in_head;
                goto char_redispatch;
            }
            if (*state == g_in_head) {
                if (ws) {
                    int rc = insert_text(c, data);
                    Py_DECREF(data);
                    return rc < 0 ? -1 : 1;
                }
                if (!prelude) { Py_DECREF(data); return 0; }
                /* _in_head_anything: process_end("head") = pop + AfterHead */
                if (pop_top(c) < 0) { Py_DECREF(data); return -1; }
                *state = g_after_head;
                goto char_redispatch;
            }
            if (*state == g_after_head) {
                if (ws) {
                    int rc = insert_text(c, data);
                    Py_DECREF(data);
                    return rc < 0 ? -1 : 1;
                }
                if (!prelude) { Py_DECREF(data); return 0; }
                /* _after_head_anything: synth body, framesetOk(true),
                 * reprocess in InBody */
                if (synth_insert(c, tb, s_h_body, 0) < 0) {
                    Py_DECREF(data); return -1;
                }
                if (!c->frameset_ok) {
                    c->frameset_ok = 1;
                    c->frameset_dirty = 1;
                }
                *state = g_in_body;
                Py_DECREF(data);
                return 2;
            }
            if (prelude && *state == g_after_body) {
                if (ws) {
                    PyObject *html_el;
                    if (get_from_stack_name(c, s_h_html, &html_el) < 0) {
                        Py_DECREF(data); return -1;
                    }
                    if (html_el == NULL) { Py_DECREF(data); return 0; }
                    int rc = insert_text_to(html_el, data);
                    Py_DECREF(data);
                    return rc < 0 ? -1 : 1;
                }
                Py_DECREF(data);
                return 0;
            }
            if (prelude && *state == g_after_after_body) {
                if (ws) {
                    int rc = insert_text_to(c->doc, data);
                    Py_DECREF(data);
                    return rc < 0 ? -1 : 1;
                }
                Py_DECREF(data);
                return 0;
            }
            Py_DECREF(data);
            return 0;
        }
    }
    if (*state == g_text_mode) {
        if (ttype != TOK_END)
            return 0;  /* EOF etc. -> python */
        if (pop_top(c) < 0)
            return -1;
        PyObject *os = PyObject_GetAttr(tb, s_original_state);
        if (os == NULL)
            return -1;
        *state = PyLong_AS_LONG(os);
        Py_DECREF(os);
        return 1;
    }
    if (ttype == TOK_START) {
        int selfc = tok_selfc(token);
        if (selfc < 0)
            return -1;
        if (selfc) {
            /* empty inserts ignore self-closing (insert_empty_element);
             * everything else (head insert, text-state switches) bails */
            if (*state != g_in_head)
                return 0;
            PyObject *normal0 = TOK_NORMAL(token);
            if (normal0 == NULL)
                return -1;
            int is_empty0 = PySet_Contains(g_head_empty, normal0);
            int is_meta0 = PyUnicode_Compare(normal0, s_h_meta) == 0;
            Py_DECREF(normal0);
            if (is_empty0 < 0)
                return -1;
            if (!is_empty0 && !is_meta0)
                return 0;
        }
        PyObject *normal = TOK_NORMAL(token);
        if (normal == NULL)
            return -1;
        int known;
        long packed = action_of(normal, &known);
        if (packed < 0) { Py_DECREF(normal); return -1; }
        long flags = PACK_FLAGS(packed);
        PyObject *attrs = TOK_ATTRS(token);
        if (attrs == NULL) { Py_DECREF(normal); return -1; }
        int handled = 0;
    start_redispatch:
        if (prelude && *state == g_initial) {
            /* _initial anything-else: quirks + BeforeHtml + reprocess */
            if (set_quirks(c) < 0) goto h_err;
            *state = g_before_html;
            goto start_redispatch;
        }
        if (prelude && *state == g_before_html) {
            if (PyUnicode_Compare(normal, s_h_html) == 0) {
                PyObject *el = insert_element(c, normal, flags, attrs, 1);
                if (el == NULL) goto h_err;
                Py_DECREF(el);
                *state = g_before_head;
                handled = 1;
            } else {
                /* _before_html_anything: synth html + reprocess */
                if (synth_insert(c, tb, s_h_html, 0) < 0) goto h_err;
                *state = g_before_head;
                goto start_redispatch;
            }
        } else if (*state == g_before_head) {
            if (PyUnicode_Compare(normal, s_h_head) == 0) {
                PyObject *el = insert_element(c, normal, flags, attrs, 1);
                if (el == NULL) goto h_err;
                int rc = PyObject_SetAttr(tb, s_head_el, el);
                Py_DECREF(el);
                if (rc < 0) goto h_err;
                *state = g_in_head;
                handled = 1;
            } else if (prelude &&
                       PyUnicode_Compare(normal, s_h_html) != 0) {
                /* _before_head anything-else: synth head + reprocess
                 * ("html" routes to the InBody rules -> python) */
                if (synth_insert(c, tb, s_h_head, 1) < 0) goto h_err;
                *state = g_in_head;
                goto start_redispatch;
            }
        } else if (*state == g_in_head) {
            int is_empty = PySet_Contains(g_head_empty, normal);
            if (is_empty < 0) goto h_err;
            if (is_empty) {
                PyObject *el = insert_element(c, normal, flags, attrs, 0);
                if (el == NULL) goto h_err;
                if (PyUnicode_Compare(normal, s_h_base) == 0) {
                    /* maybe_set_base (first <base href> rebases the doc) */
                    PyObject *bs = PyObject_GetAttr(tb, s_base_set);
                    if (bs == NULL) { Py_DECREF(el); goto h_err; }
                    int base_set = PyObject_IsTrue(bs);
                    Py_DECREF(bs);
                    PyObject *eattrs = node_get(el, s_attrs);
                    if (eattrs == NULL) { Py_DECREF(el); goto h_err; }
                    PyObject *hv = PyDict_GetItemWithError(eattrs, s_h_href);
                    int has_href = hv != NULL;
                    if (hv == NULL && PyErr_Occurred()) {
                        Py_DECREF(eattrs); Py_DECREF(el); goto h_err;
                    }
                    if (!base_set && has_href) {
                        PyObject *rel = (hv == Py_None) ? s_h_empty : hv;
                        PyObject *bu = PyObject_GetAttr(tb, s_base_uri);
                        if (bu == NULL) {
                            Py_DECREF(eattrs); Py_DECREF(el); goto h_err;
                        }
                        PyObject *resolved = PyObject_CallFunctionObjArgs(
                            g_h_resolve, bu, rel, NULL);
                        Py_DECREF(bu);
                        if (resolved == NULL) {
                            Py_DECREF(eattrs); Py_DECREF(el); goto h_err;
                        }
                        if (PyUnicode_Check(resolved) &&
                            PyUnicode_GET_LENGTH(resolved) > 0) {
                            if (PyObject_SetAttr(tb, s_base_uri, resolved) < 0 ||
                                PyObject_SetAttr(tb, s_base_set, Py_True) < 0 ||
                                PyObject_SetAttr(c->doc, s_base, resolved) < 0) {
                                Py_DECREF(resolved); Py_DECREF(eattrs);
                                Py_DECREF(el); goto h_err;
                            }
                        }
                        Py_DECREF(resolved);
                    }
                    Py_DECREF(eattrs);
                }
                Py_DECREF(el);
                handled = 1;
            } else if (PyUnicode_Compare(normal, s_h_meta) == 0) {
                PyObject *el = insert_element(c, normal, flags, attrs, 0);
                if (el == NULL) goto h_err;
                Py_DECREF(el);
                handled = 1;
            } else if (PyUnicode_Compare(normal, s_h_title) == 0 ||
                       PyUnicode_Compare(normal, s_h_script) == 0 ||
                       PyUnicode_Compare(normal, s_h_style) == 0 ||
                       PyUnicode_Compare(normal, s_h_noframes) == 0) {
                /* _handle_text_state: switch tokenizer, remember mode,
                 * enter TEXT, insert (push) */
                long tzstate =
                    PyUnicode_Compare(normal, s_h_title) == 0 ? g_tz_rcdata :
                    PyUnicode_Compare(normal, s_h_script) == 0 ? g_tz_scriptdata
                    : g_tz_rawtext;
                PyObject *tok_o = PyObject_GetAttr(tb, s_tok);
                if (tok_o == NULL) goto h_err;
                PyObject *tzv = PyLong_FromLong(tzstate);
                PyObject *osv = PyLong_FromLong(*state);
                if (tzv == NULL || osv == NULL ||
                    PyObject_SetAttr(tok_o, s_state, tzv) < 0 ||
                    PyObject_SetAttr(tb, s_original_state, osv) < 0) {
                    Py_XDECREF(tzv); Py_XDECREF(osv); Py_DECREF(tok_o);
                    goto h_err;
                }
                Py_DECREF(tzv); Py_DECREF(osv); Py_DECREF(tok_o);
                PyObject *el = insert_element(c, normal, flags, attrs, 1);
                if (el == NULL) goto h_err;
                Py_DECREF(el);
                *state = g_text_mode;
                {
                    int fr = fuse_text_content(c, tb, normal, flags,
                                               tzstate == g_tz_rcdata,
                                               state, g_in_head);
                    if (fr < 0) goto h_err;
                }
                handled = 1;
            } else if (prelude && !selfc) {
                int bailn = PySet_Contains(g_ih_bail, normal);
                if (bailn < 0) goto h_err;
                if (!bailn) {
                    /* _in_head_anything: pop head + AfterHead + reprocess */
                    if (pop_top(c) < 0) goto h_err;
                    *state = g_after_head;
                    goto start_redispatch;
                }
            }
        } else if (*state == g_after_head) {
            if (PyUnicode_Compare(normal, s_h_body) == 0) {
                PyObject *el = insert_element(c, normal, flags, attrs, 1);
                if (el == NULL) goto h_err;
                Py_DECREF(el);
                if (c->frameset_ok) {
                    c->frameset_ok = 0;
                    c->frameset_dirty = 1;
                }
                *state = g_in_body;
                handled = 1;
            } else if (prelude && !selfc) {
                int bailn = PySet_Contains(g_ah_bail, normal);
                if (bailn < 0) goto h_err;
                if (!bailn) {
                    /* _after_head_anything: synth body + framesetOk(true)
                     * + reprocess in InBody */
                    if (synth_insert(c, tb, s_h_body, 0) < 0) goto h_err;
                    if (!c->frameset_ok) {
                        c->frameset_ok = 1;
                        c->frameset_dirty = 1;
                    }
                    *state = g_in_body;
                    Py_DECREF(attrs);
                    Py_DECREF(normal);
                    return 2;
                }
            }
        }
        Py_DECREF(attrs);
        Py_DECREF(normal);
        return handled;
    h_err:
        Py_DECREF(attrs);
        Py_DECREF(normal);
        return -1;
    }
    if (ttype == TOK_END) {
        PyObject *normal = TOK_NORMAL(token);
        if (normal == NULL)
            return -1;
    end_redispatch:
        if (*state == g_in_head) {
            if (PyUnicode_Compare(normal, s_h_head) == 0) {
                Py_DECREF(normal);
                if (pop_top(c) < 0)
                    return -1;
                *state = g_after_head;
                return 1;
            }
            if (prelude) {
                int chain = PySet_Contains(g_bh_to_head, normal);
                if (chain < 0) { Py_DECREF(normal); return -1; }
                if (chain) {
                    /* body/br/html (head was handled above): pop head +
                     * AfterHead + reprocess (_in_head_anything) */
                    if (pop_top(c) < 0) { Py_DECREF(normal); return -1; }
                    *state = g_after_head;
                    goto end_redispatch;
                }
                int tmpl = PyUnicode_CompareWithASCIIString(normal,
                                                            "template") == 0;
                if (tmpl) { Py_DECREF(normal); return 0; }
                err(c, g_err_unexpected_end_in_head);
                Py_DECREF(normal);
                return 1;  /* consumed (python returns False, token done) */
            }
            Py_DECREF(normal);
            return 0;
        }
        if (prelude && *state == g_initial) {
            if (set_quirks(c) < 0) { Py_DECREF(normal); return -1; }
            *state = g_before_html;
            goto end_redispatch;
        }
        if (prelude && *state == g_before_html) {
            int chain = PySet_Contains(g_bh_to_head, normal);
            if (chain < 0) { Py_DECREF(normal); return -1; }
            if (chain) {
                if (synth_insert(c, tb, s_h_html, 0) < 0) {
                    Py_DECREF(normal); return -1;
                }
                *state = g_before_head;
                goto end_redispatch;
            }
            err(c, g_err_unexpected_end);
            Py_DECREF(normal);
            return 1;
        }
        if (prelude && *state == g_before_head) {
            int chain = PySet_Contains(g_bh_to_head, normal);
            if (chain < 0) { Py_DECREF(normal); return -1; }
            if (chain) {
                if (synth_insert(c, tb, s_h_head, 1) < 0) {
                    Py_DECREF(normal); return -1;
                }
                *state = g_in_head;
                goto end_redispatch;
            }
            err(c, g_err_unexpected_end);
            Py_DECREF(normal);
            return 1;
        }
        if (prelude && *state == g_after_head) {
            int chain = PySet_Contains(g_bh_to_head, normal);
            if (chain < 0) { Py_DECREF(normal); return -1; }
            if (chain && PyUnicode_Compare(normal, s_h_head) != 0) {
                /* body/br/html: _after_head_anything -> synth body +
                 * framesetOk(true) + reprocess in InBody */
                if (synth_insert(c, tb, s_h_body, 0) < 0) {
                    Py_DECREF(normal); return -1;
                }
                if (!c->frameset_ok) {
                    c->frameset_ok = 1;
                    c->frameset_dirty = 1;
                }
                *state = g_in_body;
                Py_DECREF(normal);
                return 2;
            }
            if (PyUnicode_CompareWithASCIIString(normal, "template") == 0 ||
                PyUnicode_Compare(normal, s_h_head) == 0) {
                Py_DECREF(normal);
                return 0;  /* template routes to _in_head; head errors */
            }
            err(c, g_err_unexpected_end);
            Py_DECREF(normal);
            return 1;
        }
        if (prelude && *state == g_after_body) {
            if (PyUnicode_Compare(normal, s_h_html) == 0) {
                PyObject *frag = PyObject_GetAttr(tb, s_fragment);
                if (frag == NULL) { Py_DECREF(normal); return -1; }
                int is_frag = PyObject_IsTrue(frag);
                Py_DECREF(frag);
                Py_DECREF(normal);
                if (is_frag)
                    return 0;  /* fragment error path -> python */
                *state = g_after_after_body;
                return 1;
            }
            Py_DECREF(normal);
            return 0;
        }
        Py_DECREF(normal);
        return 0;
    }
    return 0;
}

/* ---- the applier ----
 * apply(tb, token, q) -> leftover token (new ref) or None if everything
 * (token + all queued tokens) was consumed. On the FIRST token it cannot
 * handle, returns that token for the Python dispatcher. */
/* ---- pump-lite: C-side queue refill (trusted callers only) ----------
 * Without this, apply() returns to Python whenever the token queue
 * drains, and treebuilder._run pays a full loop iteration + gate check +
 * apply re-entry (entry validation, ctx setup) per tokenizer batch
 * (~3-4 per typical document). Here apply refills the queue itself by
 * running the SAME state functions with the SAME chars-first protocol as
 * _run's inner loop (`while not q: states[tok.state](tok)`, then flush
 * coalesced chars before popping), so one apply call usually covers the
 * whole document. Enabled only when configure_pump ran and the caller
 * passed trusted=1 (the gates _run checks are known inactive). */
static PyObject *g_states = NULL;       /* tz._STATES */
static PyObject *g_character = NULL;    /* tz.Character */
static PyObject *s_tk_state = NULL, *s_tk_chars = NULL,
    *s_tk_crs = NULL, *s_tk_ce = NULL, *s_start_pos = NULL,
    *s_end_pos = NULL;
static PyObject *g_empty_u = NULL;

static PyObject *
configure_pump(PyObject *self, PyObject *args)
{
    PyObject *states, *character;
    if (!PyArg_ParseTuple(args, "OO", &states, &character))
        return NULL;
    if (!PyList_Check(states)) {
        PyErr_SetString(PyExc_TypeError, "states must be a list");
        return NULL;
    }
    Py_XDECREF(g_states); Py_INCREF(states); g_states = states;
    Py_XDECREF(g_character); Py_INCREF(character); g_character = character;
    if (s_tk_state == NULL) {
        s_tk_state = PyUnicode_InternFromString("state");
        s_tk_chars = PyUnicode_InternFromString("_chars");
        s_tk_crs = PyUnicode_InternFromString("char_run_start");
        s_tk_ce = PyUnicode_InternFromString("char_end");
        s_start_pos = PyUnicode_InternFromString("start_pos");
        s_end_pos = PyUnicode_InternFromString("end_pos");
        g_empty_u = PyUnicode_InternFromString("");
        if (g_empty_u == NULL)
            return NULL;
    }
    Py_RETURN_NONE;
}

/* next token after a queue drain: run state functions until the queue
 * refills, then flush coalesced chars first (byte-for-byte the _run
 * protocol). Returns new ref, NULL on error. */
static PyObject *
pump_next(PyObject *tok_o, PyObject *q, PyObject *popleft)
{
    PyObject *chars = PyObject_GetAttr(tok_o, s_tk_chars);
    if (chars == NULL)
        return NULL;
    if (!PyList_Check(chars)) {
        Py_DECREF(chars);
        PyErr_SetString(PyExc_TypeError, "tokenizer _chars is not a list");
        return NULL;
    }
    Py_ssize_t qn = PyObject_Length(q);
    if (qn < 0) { Py_DECREF(chars); return NULL; }
    while (qn == 0) {
        PyObject *st = PyObject_GetAttr(tok_o, s_tk_state);
        if (st == NULL) { Py_DECREF(chars); return NULL; }
        long sv = PyLong_AsLong(st);
        Py_DECREF(st);
        if (sv < 0 || sv >= PyList_GET_SIZE(g_states)) {
            if (!PyErr_Occurred())
                PyErr_SetString(PyExc_IndexError, "bad tokenizer state");
            Py_DECREF(chars);
            return NULL;
        }
        PyObject *r = PyObject_CallOneArg(PyList_GET_ITEM(g_states, sv),
                                          tok_o);
        if (r == NULL) { Py_DECREF(chars); return NULL; }
        Py_DECREF(r);
        qn = PyObject_Length(q);
        if (qn < 0) { Py_DECREF(chars); return NULL; }
    }
    if (PyList_GET_SIZE(chars) > 0) {
        PyObject *data = PyUnicode_Join(g_empty_u, chars);
        if (data == NULL) { Py_DECREF(chars); return NULL; }
        PyObject *ctok = PyObject_CallOneArg(g_character, data);
        Py_DECREF(data);
        if (ctok == NULL) { Py_DECREF(chars); return NULL; }
        PyObject *crs = PyObject_GetAttr(tok_o, s_tk_crs);
        PyObject *ce = crs ? PyObject_GetAttr(tok_o, s_tk_ce) : NULL;
        int rc = (ce != NULL &&
                  PyObject_SetAttr(ctok, s_start_pos, crs) == 0 &&
                  PyObject_SetAttr(ctok, s_end_pos, ce) == 0) ? 0 : -1;
        Py_XDECREF(crs); Py_XDECREF(ce);
        if (rc < 0 ||
            PyList_SetSlice(chars, 0, PyList_GET_SIZE(chars), NULL) < 0) {
            Py_DECREF(ctok); Py_DECREF(chars);
            return NULL;
        }
        Py_DECREF(chars);
        return ctok;
    }
    Py_DECREF(chars);
    return PyObject_CallNoArgs(popleft);
}

/* ---- the Data-state scanner -------------------------------------------
 * One grammar, two entries:
 *   - scan(s, pos, errors): tokenizer._data's batching fast path; returns
 *     the committed tokens as FastToken objects;
 *   - cscan_fill(): the full pump inside apply(). pump-lite (above) still
 *     crosses into Python for every tokenizer batch (_data frame -> scan
 *     -> FastToken allocs -> deque extend -> per-token popleft); the full
 *     pump refills apply()'s ring of plain C structs (RawTok) instead: no
 *     token objects, no deque round trip, no tag-name substrings
 *     (raw chars -> interned normal hash), and attrs built as the final
 *     per-element dict. A token leaves C only on bail / head phase, where
 *     rt_materialize turns it into the FastToken scan() would return.
 * The pure-Python _data fast path in tokenizer.py (_P_FAST_SIMPLE,
 * _fast_attr_tag, _P_FAST_END) is the source of truth and the fallback:
 *   - text runs up to the next '&', '<', NUL or EOF;
 *   - start tags <name (ws+ attr)* ws* [/]> and end tags </name ws*>,
 *     name = [a-zA-Z][a-zA-Z0-9:._-]*;
 *   - text is committed only when the tag that FOLLOWS it parses fast;
 *   - batching stops after a start tag in the stop set
 *     (tokenizer._BATCH_STOP) or a self-closing one, and at 48 tags.
 * Anything else (a charref or NUL in text, an unterminated quote or an
 * error char in a tag, markup declarations) ends the scan at the '<' of
 * the tag that failed, where the Python state machine takes over. */

static inline int is_alpha_c(Py_UCS4 c)
{
    return (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z');
}

static inline int is_name_char_c(Py_UCS4 c)
{
    return is_alpha_c(c) || (c >= '0' && c <= '9') || c == ':' || c == '.' ||
           c == '_' || c == '-';
}

static inline int is_tag_ws_c(Py_UCS4 c)
{
    return c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f';
}

static inline int is_attr_name_char_c(Py_UCS4 c)
{
    /* the Python fast path's attr-name class: [^\x00-\x20/=>"'<]+ */
    return c > 0x20 && c != '/' && c != '=' && c != '>' && c != '"' &&
           c != '\'' && c != '<';
}

#define RING_CAP 100  /* <=48 tags + <=49 texts + chars-flush + margin */

#define RT_MAX_SPANS 8  /* dict-shaped attrs keep original-name spans */

typedef struct {
    int type;          /* TOK_START / TOK_END / TOK_CHAR */
    int selfc;
    PyObject *normal;  /* owned interned lowercase (tags) or NULL */
    PyObject *attrs;   /* owned dict (full pump) / pairs list / NULL */
    PyObject *data;    /* owned text (TOK_CHAR) or NULL */
    Py_ssize_t name_s, name_e;  /* tag-name span for materialization */
    Py_ssize_t start, end;      /* token source span */
    /* original-case attr-NAME spans, dict shape only: a bailed token must
     * reach Python with raw names (html/body attr merge and foreign
     * content preserve attribute case — observable in the tree) */
    Py_ssize_t aspan_s[RT_MAX_SPANS], aspan_e[RT_MAX_SPANS];
} RawTok;

static PyObject *g_scan_stop = NULL;   /* frozenset: batch-stop normals */
static PyObject *g_scan_decode = NULL; /* tokenizer._decode_attr_value */
static long g_tz_data_state = -1;
/* s_tk_s / s_tk_pos are declared at fuse_text_content (shared) */
static PyObject *s_tk_cs = NULL, *s_tk_ms = NULL, *s_tk_ls = NULL,
    *s_append_m = NULL;

static PyObject *
configure_scan(PyObject *self, PyObject *args)
{
    PyObject *stop, *decode;
    long data_state;
    if (!PyArg_ParseTuple(args, "OOl", &stop, &decode, &data_state))
        return NULL;
    Py_XDECREF(g_scan_stop); Py_INCREF(stop); g_scan_stop = stop;
    Py_XDECREF(g_scan_decode); Py_INCREF(decode); g_scan_decode = decode;
    g_tz_data_state = data_state;
    if (s_tk_s == NULL) {
        s_tk_s = PyUnicode_InternFromString("s");
        s_tk_pos = PyUnicode_InternFromString("pos");
        if (s_tk_pos == NULL)
            return NULL;
    }
    if (s_tk_cs == NULL) {
        s_tk_cs = PyUnicode_InternFromString("char_start");
        s_tk_ms = PyUnicode_InternFromString("markup_start");
        s_tk_ls = PyUnicode_InternFromString("last_start");
        s_append_m = PyUnicode_InternFromString("append");
        if (s_append_m == NULL)
            return NULL;
    }
    Py_RETURN_NONE;
}

/* raw-char -> interned lowercase normal, no substring on a hit.
 * ASCII-folded open-addressing table (tag + attr-name vocabularies are
 * tiny); non-ASCII / long names take the substring + str.lower() path,
 * which is exactly what finalize_attrs / the Python tokenizer would do. */
typedef struct {
    PyObject *normal;  /* owned forever (interned) */
    uint32_t hash;
    uint8_t len;
    char lower[27];
} NameEnt;
#define NAME_TAB_SIZE 4096
static NameEnt g_name_tab[NAME_TAB_SIZE];
static int g_name_count = 0;

static PyObject *  /* new ref */
normal_from_span(PyObject *s, int kind, const void *data,
                 Py_ssize_t a, Py_ssize_t b)
{
    Py_ssize_t len = b - a;
    if (len > 0 && len <= 27) {
        char key[27];
        uint32_t h = 2166136261u;
        int ascii_ok = 1;
        for (Py_ssize_t i = 0; i < len; i++) {
            Py_UCS4 ch = PyUnicode_READ(kind, data, a + i);
            if (ch >= 128) { ascii_ok = 0; break; }
            char lc = (ch >= 'A' && ch <= 'Z') ? (char)(ch + 32) : (char)ch;
            key[i] = lc;
            h = (h ^ (uint32_t)(unsigned char)lc) * 16777619u;
        }
        if (ascii_ok) {
            uint32_t idx = h & (NAME_TAB_SIZE - 1);
            for (;;) {
                NameEnt *e = &g_name_tab[idx];
                if (e->normal == NULL)
                    break;
                if (e->hash == h && e->len == (uint8_t)len &&
                    memcmp(e->lower, key, (size_t)len) == 0) {
                    Py_INCREF(e->normal);
                    return e->normal;
                }
                idx = (idx + 1) & (NAME_TAB_SIZE - 1);
            }
            PyObject *normal = PyUnicode_New(len, 127);
            if (normal == NULL)
                return NULL;
            memcpy(PyUnicode_1BYTE_DATA(normal), key, (size_t)len);
            PyUnicode_InternInPlace(&normal);
            if (g_name_count < NAME_TAB_SIZE * 3 / 4) {
                /* idx still points at the empty probe slot */
                NameEnt *e = &g_name_tab[idx];
                Py_INCREF(normal);
                e->normal = normal;
                e->hash = h;
                e->len = (uint8_t)len;
                memcpy(e->lower, key, (size_t)len);
                g_name_count++;
            }
            return normal;
        }
    }
    PyObject *name = PyUnicode_Substring(s, a, b);
    if (name == NULL)
        return NULL;
    PyObject *normal = PyObject_CallMethod(name, "lower", NULL);
    Py_DECREF(name);
    if (normal == NULL)
        return NULL;
    PyUnicode_InternInPlace(&normal);
    return normal;
}

static void
rt_clear(RawTok *rt)
{
    Py_CLEAR(rt->normal);
    Py_CLEAR(rt->attrs);
    Py_CLEAR(rt->data);
}

static void
ring_clear_from(RawTok *ring, int ri, int rn)
{
    for (int i = ri; i < rn; i++)
        rt_clear(&ring[i]);
}

/* a Character token: text (owned, may be NULL until filled) at [a, b) */
static void
rt_char(RawTok *rt, PyObject *text, Py_ssize_t a, Py_ssize_t b)
{
    rt->type = TOK_CHAR;
    rt->selfc = 0;
    rt->normal = NULL;
    rt->attrs = NULL;
    rt->data = text;
    rt->start = a;
    rt->end = b;
}

/* FastToken attrs: [(s[as_[x]:ae_[x]], av[x] or None)] — original-case
 * names in source order, as the Python fast path hands them to
 * finalize_attrs (which lowercases them and reports duplicates) */
static PyObject *
attr_pairs(PyObject *s, int n, const Py_ssize_t *as_, const Py_ssize_t *ae_,
           PyObject *const *av)
{
    PyObject *pairs = PyList_New(n);
    for (int x = 0; pairs != NULL && x < n; x++) {
        PyObject *name = PyUnicode_Substring(s, as_[x], ae_[x]);
        PyObject *pair = name == NULL ? NULL
            : PyTuple_Pack(2, name, av[x] != NULL ? av[x] : Py_None);
        Py_XDECREF(name);
        if (pair == NULL)
            Py_CLEAR(pairs);
        else
            PyList_SET_ITEM(pairs, x, pair);
    }
    return pairs;
}

/* struct -> FastToken, moving the struct's references into the token (rt
 * is left cleared, also on error). The tag name is the original-case
 * span; dict-shaped attrs become the pairs list, names from the recorded
 * spans and values in dict insertion order (== source order: duplicate
 * names never take the dict shape). */
static PyObject *
rt_materialize(RawTok *rt, PyObject *src)
{
    FastToken *ft = PyObject_New(FastToken, &FastTokenType);
    if (ft == NULL)
        return NULL;
    ft->type = rt->type;
    ft->self_closing = rt->selfc;
    ft->start_pos = rt->start;
    ft->end_pos = rt->end;
    ft->normal = rt->normal;
    ft->attrs = rt->attrs;
    ft->data = rt->data;
    ft->name = ft->attr_ranges = NULL;
    rt->normal = rt->attrs = rt->data = NULL;
    if (ft->attrs != NULL && PyDict_Check(ft->attrs)) {
        PyObject *k, *av[RT_MAX_SPANS];
        Py_ssize_t pos = 0;
        int n = 0;
        while (PyDict_Next(ft->attrs, &pos, &k, &av[n]))
            n++;
        Py_SETREF(ft->attrs,
                  attr_pairs(src, n, rt->aspan_s, rt->aspan_e, av));
        if (ft->attrs == NULL) {
            Py_DECREF(ft);
            return NULL;
        }
    }
    if (rt->type != TOK_CHAR) {
        ft->name = PyUnicode_Substring(src, rt->name_s, rt->name_e);
        if (ft->name == NULL) {
            Py_DECREF(ft);
            return NULL;
        }
    }
    return (PyObject *)ft;
}

/* bail with unconsumed ring tokens: requeue them (in order) as real
 * FastTokens so the Python loop continues exactly where C stopped. The
 * queue is empty by construction while the ring is active. */
static int
ring_flush_to_q(RawTok *ring, int ri, int rn, PyObject *q, PyObject *src)
{
    for (int i = ri; i < rn; i++) {
        PyObject *ft = rt_materialize(&ring[i], src);
        if (ft == NULL)
            return -1;
        PyObject *r = PyObject_CallMethodObjArgs(q, s_append_m, ft, NULL);
        Py_DECREF(ft);
        if (r == NULL)
            return -1;
        Py_DECREF(r);
    }
    return 0;
}

typedef struct {
    Py_ssize_t end;          /* after the last committed tag */
    Py_ssize_t markup_start; /* '<' of the last committed tag, or -1 */
    PyObject *last_start;    /* owned normal of the last start tag or NULL */
    int count;               /* committed tags */
} ScanOut;

static void
drop_vals(PyObject **av, int na)
{
    for (int x = 0; x < na; x++)
        Py_XDECREF(av[x]);
}

/* The scanner loop: the text from p2 up to the '<' at end2, then [tag]
 * or [text][tag] pairs, each committed to ring[*prn...] once its tag
 * confirms. dict_attrs selects the full pump's attrs shape: a dict with
 * lowercased interned keys when a tag has at most RT_MAX_SPANS attrs and
 * no duplicate names; otherwise (and always for scan()) the FastToken
 * pairs list. Returns 0 with *prn and *out filled, -1 on error (the
 * entries it added are cleared). */
static int
scan_tags(PyObject *s, Py_ssize_t p2, Py_ssize_t end2, PyObject *errors,
          int dict_attrs, RawTok *ring, int *prn, ScanOut *out)
{
    const int kind = PyUnicode_KIND(s);
    const void *data = PyUnicode_DATA(s);
    const Py_ssize_t n = PyUnicode_GET_LENGTH(s);
    const int rn0 = *prn;
    int rn = rn0, stop = 0;
    out->markup_start = -1;
    out->last_start = NULL;
    out->count = 0;

    while (!stop) {
        /* --- probe a fast tag at end2 (s[end2] == '<') --- */
        Py_ssize_t i = end2 + 1;
        int is_end = 0;
        if (i < n && PyUnicode_READ(kind, data, i) == '/') {
            is_end = 1;
            i++;
        }
        if (i >= n || !is_alpha_c(PyUnicode_READ(kind, data, i)))
            break; /* not a letter-led tag: Python path */
        Py_ssize_t name_start = i;
        i++;
        while (i < n && is_name_char_c(PyUnicode_READ(kind, data, i)))
            i++;
        Py_ssize_t name_end = i;

        /* --- attributes (start tags only): any NUL, unterminated quote,
         * error char, or >64 deferred '&' values bails the tag; attrs
         * past the 512th are dropped --- */
        PyObject *av[512];              /* value; NULL = none / deferred */
        Py_ssize_t as_[512], ae_[512];  /* original-case name spans */
        int na = 0;
        Py_ssize_t pend_vs[64], pend_ve[64];
        int pend_ai[64], n_pending = 0;
        if (!is_end) {
            while (1) {
                Py_ssize_t w = i;
                while (w < n && is_tag_ws_c(PyUnicode_READ(kind, data, w)))
                    w++;
                if (w == i || w >= n)
                    break; /* no separator: tail must follow */
                Py_UCS4 c0 = PyUnicode_READ(kind, data, w);
                if (!is_attr_name_char_c(c0))
                    break; /* '/' or '>' or error char: tail decides */
                Py_ssize_t an_start = w;
                while (w < n &&
                       is_attr_name_char_c(PyUnicode_READ(kind, data, w)))
                    w++;
                Py_ssize_t an_end = w;
                /* optional  ws* '=' ws* value */
                Py_ssize_t v = w;
                while (v < n && is_tag_ws_c(PyUnicode_READ(kind, data, v)))
                    v++;
                PyObject *val = NULL;
                int deferred = 0;
                if (v < n && PyUnicode_READ(kind, data, v) == '=') {
                    v++;
                    while (v < n &&
                           is_tag_ws_c(PyUnicode_READ(kind, data, v)))
                        v++;
                    if (v >= n)
                        goto attr_fail;
                    Py_UCS4 q = PyUnicode_READ(kind, data, v);
                    Py_ssize_t vs, ve;
                    if (q == '"' || q == '\'') {
                        Py_UCS4 c2 = 0;
                        int amp = 0;
                        vs = ve = v + 1;
                        while (ve < n) {
                            c2 = PyUnicode_READ(kind, data, ve);
                            if (c2 == q || c2 == 0)
                                break;
                            if (c2 == '&')
                                amp = 1;
                            ve++;
                        }
                        if (ve >= n || c2 != q)
                            goto attr_fail; /* NUL or unterminated */
                        w = ve + 1;
                        if (amp) {
                            /* decoded only once the tag's '>' confirms */
                            if (n_pending >= 64)
                                goto attr_fail;
                            pend_vs[n_pending] = vs;
                            pend_ve[n_pending] = ve;
                            deferred = 1;
                        }
                    } else {
                        vs = ve = v;
                        while (ve < n) {
                            Py_UCS4 c2 = PyUnicode_READ(kind, data, ve);
                            if (c2 == 0 || is_tag_ws_c(c2) || c2 == '>' ||
                                c2 == '"' || c2 == '\'' || c2 == '<' ||
                                c2 == '=' || c2 == '`' || c2 == '&')
                                break;
                            ve++;
                        }
                        if (ve == vs)
                            goto attr_fail; /* empty / error-led value */
                        if (ve < n) {
                            Py_UCS4 c2 = PyUnicode_READ(kind, data, ve);
                            if (c2 == '"' || c2 == '\'' || c2 == '<' ||
                                c2 == '=' || c2 == '`' || c2 == '&' ||
                                c2 == 0)
                                goto attr_fail; /* error char ends value */
                        }
                        w = ve;
                    }
                    if (!deferred && na < 512) {
                        val = PyUnicode_Substring(s, vs, ve);
                        if (val == NULL) {
                            drop_vals(av, na);
                            goto fail;
                        }
                    }
                }
                if (na < 512) {
                    av[na] = val;
                    as_[na] = an_start;
                    ae_[na] = an_end;
                    if (deferred)
                        pend_ai[n_pending++] = na;
                    na++;
                }
                i = w;
                continue;
            attr_fail:
                drop_vals(av, na);
                goto done; /* bail this tag to Python */
            }
        }
        while (i < n && is_tag_ws_c(PyUnicode_READ(kind, data, i)))
            i++;
        int self_closing = 0;
        if (!is_end && i < n && PyUnicode_READ(kind, data, i) == '/') {
            self_closing = 1;
            i++;
        }
        if (i >= n || PyUnicode_READ(kind, data, i) != '>') {
            drop_vals(av, na);
            break; /* malformed / EOF: Python path */
        }
        Py_ssize_t tend = i + 1;

        /* tag confirmed: decode the deferred '&'-bearing quoted values
         * (may append parse errors — only now, like the Python path) */
        for (int pi = 0; pi < n_pending; pi++) {
            PyObject *decoded = PyObject_CallFunction(
                g_scan_decode, "OnnO", s, pend_vs[pi], pend_ve[pi], errors);
            if (decoded == NULL) {
                drop_vals(av, na);
                goto fail;
            }
            av[pend_ai[pi]] = decoded;
        }

        PyObject *attrs = NULL;
        int dict_shape = 0;
        if (na > 0) {
            if (dict_attrs && na <= RT_MAX_SPANS) {
                /* keys lowercased + interned, first wins */
                attrs = _PyDict_NewPresized(na);
                for (int x = 0; attrs != NULL && x < na; x++) {
                    PyObject *key = normal_from_span(s, kind, data,
                                                     as_[x], ae_[x]);
                    if (key == NULL ||
                        PyDict_SetDefault(attrs, key, av[x] != NULL
                                          ? av[x] : Py_None) == NULL)
                        Py_CLEAR(attrs);
                    Py_XDECREF(key);
                }
                if (attrs == NULL) {
                    drop_vals(av, na);
                    goto fail;
                }
                dict_shape = PyDict_GET_SIZE(attrs) == na;
                if (!dict_shape)  /* duplicate names: finalize_attrs */
                    Py_CLEAR(attrs);  /* must see the pairs */
            }
            if (attrs == NULL)
                attrs = attr_pairs(s, na, as_, ae_, av);
            drop_vals(av, na);
            if (attrs == NULL)
                goto fail;
        }

        /* --- commit: text [p2, end2), then the tag --- */
        if (end2 > p2) {
            PyObject *text = PyUnicode_Substring(s, p2, end2);
            if (text == NULL) {
                Py_XDECREF(attrs);
                goto fail;
            }
            rt_char(&ring[rn++], text, p2, end2);
        }
        PyObject *normal = normal_from_span(s, kind, data,
                                            name_start, name_end);
        if (normal == NULL) {
            Py_XDECREF(attrs);
            goto fail;
        }
        RawTok *rt = &ring[rn++];
        rt->type = is_end ? TOK_END : TOK_START;
        rt->selfc = self_closing;
        rt->normal = normal;  /* steal */
        rt->attrs = attrs;    /* steal (may be NULL) */
        rt->data = NULL;
        rt->name_s = name_start;
        rt->name_e = name_end;
        rt->start = end2;
        rt->end = tend;
        if (dict_shape) {
            memcpy(rt->aspan_s, as_, na * sizeof(Py_ssize_t));
            memcpy(rt->aspan_e, ae_, na * sizeof(Py_ssize_t));
        }
        out->markup_start = end2;
        out->count++;
        if (!is_end) {
            Py_XSETREF(out->last_start, Py_NewRef(normal));
            if (self_closing || PySet_Contains(g_scan_stop, normal) == 1)
                stop = 1;
        }
        p2 = end2 = tend;
        if (out->count >= 48)
            stop = 1;
        if (stop)
            break;

        /* --- advance over plain text to the next '<' --- */
        Py_ssize_t j = p2;
        Py_UCS4 c3 = 0;
        while (j < n) {
            c3 = PyUnicode_READ(kind, data, j);
            if (c3 == '<' || c3 == '&' || c3 == 0)
                break;
            j++;
        }
        if (j >= n || c3 != '<')
            break; /* EOF / entity / NUL: trailing text to Python */
        end2 = j;
    }

done:
    out->end = p2;
    *prn = rn;
    return 0;

fail:
    ring_clear_from(ring, rn0, rn);
    Py_CLEAR(out->last_start);
    return -1;
}

/* scan(s, pos, errors) -> (tokens, end_pos, markup_start, last_start)
 * from the '<' at s[pos]: the committed FastTokens (empty: nothing
 * handled, use the Python path), the position after the last committed
 * tag (pos if none), that tag's '<' (-1 if none) and the normal of the
 * last start tag (None if none). Deferred attr decodes append their parse
 * errors to `errors`. */
static PyObject *
scan(PyObject *self, PyObject *args)
{
    PyObject *s, *errors;
    Py_ssize_t pos;
    if (!PyArg_ParseTuple(args, "UnO", &s, &pos, &errors))
        return NULL;
    if (g_scan_stop == NULL) {
        PyErr_SetString(PyExc_RuntimeError, "fasttree scan not configured");
        return NULL;
    }
    RawTok ring[RING_CAP];
    int rn = 0;
    ScanOut r;
    if (scan_tags(s, pos, pos, errors, 0, ring, &rn, &r) < 0)
        return NULL;
    PyObject *tokens = PyList_New(rn);
    for (int i = 0; tokens != NULL && i < rn; i++) {
        PyObject *ft = rt_materialize(&ring[i], s);
        if (ft == NULL)
            Py_CLEAR(tokens);
        else
            PyList_SET_ITEM(tokens, i, ft);
    }
    PyObject *res = NULL;
    if (tokens != NULL)
        res = Py_BuildValue("(NnnO)", tokens, r.end, r.markup_start,
                            r.last_start != NULL ? r.last_start : Py_None);
    else
        ring_clear_from(ring, 0, rn);
    Py_XDECREF(r.last_start);
    return res;
}

/* Full-pump refill from the tokenizer object. Returns 1 with *prn filled
 * (>=1 tag committed), 0 to decline (Python path; tokenizer untouched),
 * -1 on error. On success the tokenizer object's pos / markup_start /
 * char_start / last_start are updated exactly as the Python _data fast
 * path would, and pending _chars are flushed into ring[0]. *psrc holds an
 * owned ref to the source string for later materialization. */
static int
cscan_fill(PyObject *tok_o, RawTok *ring, int *prn, PyObject **psrc)
{
    if (g_scan_stop == NULL)
        return 0;
    PyObject *st = PyObject_GetAttr(tok_o, s_tk_state);
    if (st == NULL)
        return -1;
    long sv = PyLong_AsLong(st);
    Py_DECREF(st);
    if (sv == -1 && PyErr_Occurred())
        return -1;
    if (sv != g_tz_data_state)
        return 0;
    PyObject *s = PyObject_GetAttr(tok_o, s_tk_s);
    if (s == NULL)
        return -1;
    if (!PyUnicode_Check(s)) {
        Py_DECREF(s);
        return 0;
    }
    PyObject *poso = PyObject_GetAttr(tok_o, s_tk_pos);
    if (poso == NULL) { Py_DECREF(s); return -1; }
    Py_ssize_t pos = PyLong_AsSsize_t(poso);
    Py_DECREF(poso);
    if (pos == -1 && PyErr_Occurred()) { Py_DECREF(s); return -1; }

    const int kind = PyUnicode_KIND(s);
    const void *data = PyUnicode_DATA(s);
    const Py_ssize_t n = PyUnicode_GET_LENGTH(s);
    if (pos >= n) { Py_DECREF(s); return 0; }

    /* leading text run: only proceed when the next special is '<'
     * (entity / NUL / EOF shapes go to the Python state function) */
    Py_ssize_t lt = pos;
    Py_UCS4 cc = 0;
    while (lt < n) {
        cc = PyUnicode_READ(kind, data, lt);
        if (cc == '<' || cc == '&' || cc == 0)
            break;
        lt++;
    }
    if (lt >= n || cc != '<') { Py_DECREF(s); return 0; }

    PyObject *errors = NULL, *chars = NULL;
    ScanOut r = {.last_start = NULL};
    int rn = 0, flush;

    errors = PyObject_GetAttr(tok_o, s_errors);
    if (errors == NULL) goto fail;
    chars = PyObject_GetAttr(tok_o, s_tk_chars);
    if (chars == NULL || !PyList_Check(chars)) goto fail;
    /* pending _chars precede the first tag: ring[0] is kept for them */
    flush = PyList_GET_SIZE(chars) > 0;
    if (flush)
        rt_char(&ring[rn++], NULL, 0, 0);
    if (scan_tags(s, pos, lt, errors, 1, ring, &rn, &r) < 0)
        goto fail;
    if (r.count == 0) {
        Py_DECREF(errors);
        Py_DECREF(chars);
        Py_DECREF(s);
        return 0;
    }
    if (flush) {
        PyObject *crs = PyObject_GetAttr(tok_o, s_tk_crs);
        PyObject *ce = crs ? PyObject_GetAttr(tok_o, s_tk_ce) : NULL;
        if (ce != NULL) {
            ring[0].start = PyLong_AsSsize_t(crs);
            ring[0].end = PyLong_AsSsize_t(ce);
            if (!PyErr_Occurred())
                ring[0].data = PyUnicode_Join(g_empty_u, chars);
        }
        Py_XDECREF(crs);
        Py_XDECREF(ce);
        if (ring[0].data == NULL ||
            PyList_SetSlice(chars, 0, PyList_GET_SIZE(chars), NULL) < 0)
            goto fail;
    }
    /* write back tokenizer cursor exactly like the _data fast path */
    {
        PyObject *pv = PyLong_FromSsize_t(r.end);
        PyObject *mv = PyLong_FromSsize_t(r.markup_start);
        int rc = (pv != NULL && mv != NULL &&
                  PyObject_SetAttr(tok_o, s_tk_pos, pv) == 0 &&
                  PyObject_SetAttr(tok_o, s_tk_ms, mv) == 0 &&
                  PyObject_SetAttr(tok_o, s_tk_cs, pv) == 0) ? 0 : -1;
        Py_XDECREF(pv);
        Py_XDECREF(mv);
        if (rc == 0 && r.last_start != NULL)
            rc = PyObject_SetAttr(tok_o, s_tk_ls, r.last_start);
        if (rc < 0)
            goto fail;
    }
    Py_XDECREF(r.last_start);
    Py_DECREF(errors);
    Py_DECREF(chars);
    Py_XSETREF(*psrc, s); /* transfer */
    *prn = rn;
    return 1;

fail:
    ring_clear_from(ring, 0, rn);
    Py_XDECREF(r.last_start);
    Py_XDECREF(errors);
    Py_XDECREF(chars);
    Py_DECREF(s);
    return -1;
}

static PyObject *
apply(PyObject *self, PyObject *args)
{
    PyObject *tb, *token, *q;
    int trusted = 0;
    if (!PyArg_ParseTuple(args, "OOO|i", &tb, &token, &q, &trusted))
        return NULL;
    if (g_actions == NULL) {
        PyErr_SetString(PyExc_RuntimeError, "fasttree not configured");
        return NULL;
    }

    Ctx c;
    c.tb = tb;
    c.frameset_dirty = 0;
    PyObject *popleft = NULL;
    PyObject *tok_o = NULL;   /* lazy tb.tok, fetched at first pump refill */
    /* full-pump struct ring (see cscan_fill): invariant — exactly one of
     * (token != NULL) / (rt != NULL) holds at the loop head, and the
     * Python queue is empty whenever ri < rn. */
    RawTok ring[RING_CAP];
    int rn = 0, ri = 0;
    RawTok *rt = NULL;
    PyObject *pump_src = NULL;  /* owned source string for the ring */
    PROF_DECL;
    PROF_BEGIN();
#ifdef FT_PROF
    unsigned long long _et0 = __rdtsc();  /* entry-validation window */
#endif

    /* ---- entry validation (cheap attr reads; bail = return token) ---- */
    PyObject *tmp;
#define GETA(name) if ((tmp = PyObject_GetAttr(tb, name)) == NULL) return NULL
    GETA(s_state);
    long state = PyLong_AS_LONG(tmp);
    long entry_state = state;
    Py_DECREF(tmp);
    if (state != g_in_body &&
        !(g_in_head != -1 &&
          (state == g_before_head || state == g_in_head ||
           state == g_after_head || state == g_text_mode)) &&
        !(g_initial != -1 &&
          (state == g_initial || state == g_before_html ||
           state == g_after_body || state == g_after_after_body)))
        goto bail_entry;
    /* trusted=1: the caller (treebuilder._run) has ALREADY gated on
     * noscript/track/on_close/tagset being inactive this iteration —
     * skip re-reading them (4 GetAttrs per apply call; foster changes
     * inside table handling the Python caller doesn't gate on, so it is
     * always re-checked). */
    int ok;
    if (!trusted) {
        GETA(s_noscript);
        ok = (tmp == Py_None);
        Py_DECREF(tmp);
        if (!ok) goto bail_entry;
        GETA(s_track);
        ok = !PyObject_IsTrue(tmp);
        Py_DECREF(tmp);
        if (!ok) goto bail_entry;
        GETA(s_on_close);
        ok = (tmp == Py_None);
        Py_DECREF(tmp);
        if (!ok) goto bail_entry;
        GETA(s_tagset);
        ok = (tmp == Py_None);
        Py_DECREF(tmp);
        if (!ok) goto bail_entry;
    }
    GETA(s_foster);
    ok = !PyObject_IsTrue(tmp);
    Py_DECREF(tmp);
    if (!ok) goto bail_entry;
#undef GETA

    c.stack = PyObject_GetAttr(tb, s_stack);
    c.doc = PyObject_GetAttr(tb, s_doc);
    c.formatting = PyObject_GetAttr(tb, s_formatting);
    if (c.stack == NULL || c.doc == NULL || c.formatting == NULL)
        goto error_pre;
    c.errors = PyObject_GetAttr(c.doc, s_errors);
    if (c.errors == NULL)
        goto error_pre;
    {
        PyObject *fo = PyObject_GetAttr(tb, s_frameset_ok);
        if (fo == NULL)
            goto error_pre;
        c.frameset_ok = PyObject_IsTrue(fo);
        Py_DECREF(fo);
    }
    if (!PyList_Check(c.stack) || !PyList_Check(c.formatting) ||
        !PyList_Check(c.errors))
        goto bail_ctx;
    {
        Py_ssize_t n = PyList_GET_SIZE(c.stack);
        if (n >= MAX_DEPTH - 1)
            goto bail_ctx;
        if (n == 0 && !(g_initial != -1 &&
                        (state == g_initial || state == g_before_html)))
            goto bail_ctx;
        for (Py_ssize_t i = 0; i < n; i++) {
            int h = is_html_ns(PyList_GET_ITEM(c.stack, i));
            if (h < 0)
                goto error_ctx;
            if (!h)
                goto bail_ctx;
        }
    }

    /* ---- token loop ---- */
    static PyObject *s_popleft = NULL;
    if (s_popleft == NULL) {
        s_popleft = PyUnicode_InternFromString("popleft");
        if (s_popleft == NULL)
            goto error_ctx;
    }
    popleft = PyObject_GetAttr(q, s_popleft);
    if (popleft == NULL)
        goto error_ctx;
    Py_INCREF(token);
#ifdef FT_PROF
    g_prof[PB_ENTRY] += __rdtsc() - _et0;
    g_prof_calls[PB_ENTRY]++;
    unsigned long long _lt0 = __rdtsc();
#endif
    for (;;) {
    reprocess_token:;
        long ttype = rt != NULL ? rt->type : tok_type(token);
        if (ttype < 0)
            goto error_tok;

        if (state != g_in_body) {
            if (rt != NULL) {
                /* head_phase operates on real tokens (few per doc) */
                token = rt_materialize(rt, pump_src);
                if (token == NULL)
                    goto error_ctx;
                ri++;
                rt = NULL;
            }
            int hrc = head_phase(&c, tb, token, ttype, &state);
            if (hrc < 0)
                goto error_tok;
            if (hrc == 1)
                goto next_token;
            if (hrc == 2)
                goto reprocess_token; /* mode advanced; same token again */
            goto bail_tok;
        }

        if (ttype == TOK_CHAR) {
            /* exact-type check: CData subclass carries T_CDATA code, so
             * ttype alone is the discriminator */
            PyObject *data;
            if (rt != NULL) {
                data = rt->data;
                Py_INCREF(data);
            } else
                data = TOK_DATA(token);
            if (data == NULL)
                goto error_tok;
            if (!PyUnicode_Check(data) || contains_nul(data)) {
                Py_DECREF(data);
                goto bail_tok;
            }
            int rr = reconstruct_run(&c);
            if (rr < 0) { Py_DECREF(data); goto error_tok; }
            if (rr == 0) { Py_DECREF(data); goto bail_tok; }
            /* parent with Data flag (script/style) never current here by
             * action whitelist, but guard anyway */
            {
                PyObject *parent = current_parent(&c);
                PyObject *fl = node_get(parent, s_flags);
                if (fl == NULL) { Py_DECREF(data); goto error_tok; }
                long flv = PyLong_AS_LONG(fl);
                Py_DECREF(fl);
                if (flv & g_flag_data) { Py_DECREF(data); goto bail_tok; }
            }
            if (insert_text(&c, data) < 0) {
                Py_DECREF(data);
                goto error_tok;
            }
            if (c.frameset_ok && !is_all_ws(data)) {
                c.frameset_ok = 0;
                c.frameset_dirty = 1;
            }
            Py_DECREF(data);
        } else if (ttype == TOK_START) {
            PyObject *normal;
            if (rt != NULL) {
                normal = rt->normal;
                Py_INCREF(normal);
            } else {
                normal = TOK_NORMAL(token);
                if (normal == NULL)
                    goto error_tok;
            }
            int known;
            long packed = action_of(normal, &known);
            if (packed < 0) { Py_DECREF(normal); goto error_tok; }
            long act = PACK_START(packed);
            long flags = PACK_FLAGS(packed);
            int selfc = rt != NULL ? rt->selfc : tok_selfc(token);
            if (selfc < 0) { Py_DECREF(normal); goto error_tok; }
            if (selfc && act != SA_VOID_RECON && act != SA_MEDIA_EMPTY
                    && act != SA_INPUT && act != SA_TO_HEAD_EMPTY) {
                /* empty-insert paths ignore self-closing (Python
                 * insert_empty_element); everything else needs the
                 * SEEN_SELF_CLOSE / error handling -> Python */
                Py_DECREF(normal);
                goto bail_tok;
            }
            PyObject *attrs;
            if (rt != NULL) {
                attrs = rt->attrs != NULL ? rt->attrs : Py_None;
                Py_INCREF(attrs);
            } else {
                attrs = TOK_ATTRS(token);
                if (attrs == NULL) { Py_DECREF(normal); goto error_tok; }
            }
            if (PyList_GET_SIZE(c.stack) >= MAX_DEPTH - 1) {
                Py_DECREF(attrs); Py_DECREF(normal);
                goto bail_tok;
            }
            int handled = 1;
            switch (act) {
            case SA_P_CLOSER: {
                static PyObject *p_str = NULL;
                if (p_str == NULL)
                    p_str = PyUnicode_InternFromString("p");
                int in_p = in_scope_walk(&c, p_str, OPT_SCOPE | OPT_BUTTON_SCOPE);
                if (in_p < 0) goto error_start;
                if (in_p) {
                    /* process_end("p") == END_P success path */
                    if (implied_end(&c, p_str) < 0) goto error_start;
                    int cur = current_is(&c, p_str);
                    if (cur < 0) goto error_start;
                    if (!cur)
                        err(&c, g_err_unexpected_open);
                    if (pop_to_close(&c, p_str) < 0) goto error_start;
                }
                PyObject *el = insert_element(&c, normal, flags, attrs, 1);
                if (el == NULL) goto error_start;
                Py_DECREF(el);
                break;
            }
            case SA_PLAIN_RECON: {
                int rr = reconstruct_run(&c);
                if (rr < 0) goto error_start;
                if (rr == 0) { handled = 0; break; }
                PyObject *el = insert_element(&c, normal, flags, attrs, 1);
                if (el == NULL) goto error_start;
                Py_DECREF(el);
                break;
            }
            case SA_UNKNOWN: {
                PyObject *el = insert_element(&c, normal, flags, attrs, 1);
                if (el == NULL) goto error_start;
                Py_DECREF(el);
                break;
            }
            case SA_A: {
                /* nested-<a> check (treebuilder._in_body_start "a"): any
                 * open a entry after the last marker -> python handles the
                 * error + adoption close; else exactly SA_FORMATTING */
                Py_ssize_t nf = PyList_GET_SIZE(c.formatting);
                int nested = 0;
                for (Py_ssize_t i = nf - 1; i >= 0; i--) {
                    PyObject *cand = PyList_GET_ITEM(c.formatting, i);
                    if (cand == Py_None)
                        break;
                    PyObject *cn = node_get(cand, s_name);
                    if (cn == NULL) goto error_start;
                    int eq = PyUnicode_Compare(cn, normal) == 0;
                    Py_DECREF(cn);
                    if (eq) { nested = 1; break; }
                }
                if (nested) { handled = 0; break; }
            }
            /* fall through */
            case SA_FORMATTING: {
                int rr = reconstruct_run(&c);
                if (rr < 0) goto error_start;
                if (rr == 0) { handled = 0; break; }
                PyObject *el = insert_element(&c, normal, flags, attrs, 1);
                if (el == NULL) goto error_start;
                /* Noah's Ark (treebuilder._check_noahs_ark): at most 3
                 * identical (name, attrs) entries in the last 13 */
                Py_ssize_t nf = PyList_GET_SIZE(c.formatting);
                Py_ssize_t ceil_ = nf - 1 - 12;
                if (ceil_ < 0) ceil_ = 0;
                int seen = 0;
                for (Py_ssize_t i = nf - 1; i >= ceil_; i--) {
                    PyObject *cand = PyList_GET_ITEM(c.formatting, i);
                    if (cand == Py_None)
                        break;
                    PyObject *cn = node_get(cand, s_name);
                    if (cn == NULL) { Py_DECREF(el); goto error_start; }
                    int same_name = PyUnicode_Compare(cn, normal) == 0;
                    Py_DECREF(cn);
                    if (same_name) {
                        PyObject *ca = node_get(cand, s_attrs);
                        PyObject *ea = node_get(el, s_attrs);
                        if (ca == NULL || ea == NULL) {
                            Py_XDECREF(ca); Py_XDECREF(ea);
                            Py_DECREF(el); goto error_start;
                        }
                        int eq = PyObject_RichCompareBool(ca, ea, Py_EQ);
                        Py_DECREF(ca);
                        Py_DECREF(ea);
                        if (eq < 0) { Py_DECREF(el); goto error_start; }
                        if (eq)
                            seen++;
                    }
                    if (seen == 3) {
                        if (PyList_SetSlice(c.formatting, i, i + 1, NULL) < 0) {
                            Py_DECREF(el); goto error_start;
                        }
                        break;
                    }
                }
                int arc = PyList_Append(c.formatting, el);
                Py_DECREF(el);
                if (arc < 0) goto error_start;
                break;
            }
            case SA_VOID_RECON: {
                int rr = reconstruct_run(&c);
                if (rr < 0) goto error_start;
                if (rr == 0) { handled = 0; break; }
                PyObject *el = insert_element(&c, normal, flags, attrs, 0);
                if (el == NULL) goto error_start;
                Py_DECREF(el);
                if (c.frameset_ok) {
                    c.frameset_ok = 0;
                    c.frameset_dirty = 1;
                }
                break;
            }
            case SA_MEDIA_EMPTY: {
                PyObject *el = insert_element(&c, normal, flags, attrs, 0);
                if (el == NULL) goto error_start;
                Py_DECREF(el);
                break;
            }
            case SA_LI: {
                if (!c.frameset_ok) {
                    /* same either way */
                } else {
                    c.frameset_ok = 0;
                    c.frameset_dirty = 1;
                }
                /* scan down (excluding stack[0]) for an open li to close,
                 * stopping at special non-{address,div,p} elements */
                static PyObject *li_str = NULL, *addr_str = NULL,
                    *div_str = NULL, *p_str2 = NULL;
                if (li_str == NULL) {
                    li_str = PyUnicode_InternFromString("li");
                    addr_str = PyUnicode_InternFromString("address");
                    div_str = PyUnicode_InternFromString("div");
                    p_str2 = PyUnicode_InternFromString("p");
                }
                Py_ssize_t n = PyList_GET_SIZE(c.stack);
                for (Py_ssize_t i = n - 1; i >= 1; i--) {
                    PyObject *el = PyList_GET_ITEM(c.stack, i);
                    PyObject *nm = node_get(el, s_name);
                    if (nm == NULL) goto error_start;
                    int is_li = PyUnicode_Compare(nm, li_str) == 0;
                    if (is_li) {
                        Py_DECREF(nm);
                        /* process_end("li"): in_list_scope guaranteed by
                         * the li we just found? NOT exactly — boundary may
                         * sit between. Run the real end-li logic. */
                        int ls = in_scope_walk(&c, li_str,
                                               OPT_SCOPE | OPT_LIST_SCOPE);
                        if (ls < 0) goto error_start;
                        if (!ls) {
                            err(&c, g_err_li_not_in_scope);
                        } else {
                            if (implied_end(&c, li_str) < 0) goto error_start;
                            int cur = current_is(&c, li_str);
                            if (cur < 0) goto error_start;
                            if (!cur)
                                err(&c, g_err_unexpected_open);
                            if (pop_to_close(&c, li_str) < 0) goto error_start;
                        }
                        break;
                    }
                    long o = opts_of(el);
                    if (o < 0) { Py_DECREF(nm); goto error_start; }
                    if (o & OPT_SPECIAL) {
                        int breaker =
                            PyUnicode_Compare(nm, addr_str) == 0 ||
                            PyUnicode_Compare(nm, div_str) == 0 ||
                            PyUnicode_Compare(nm, p_str2) == 0;
                        Py_DECREF(nm);
                        if (!breaker)
                            break;
                        continue;
                    }
                    Py_DECREF(nm);
                }
                static PyObject *p_str3 = NULL;
                if (p_str3 == NULL)
                    p_str3 = PyUnicode_InternFromString("p");
                int in_p = in_scope_walk(&c, p_str3, OPT_SCOPE | OPT_BUTTON_SCOPE);
                if (in_p < 0) goto error_start;
                if (in_p) {
                    if (implied_end(&c, p_str3) < 0) goto error_start;
                    int cur = current_is(&c, p_str3);
                    if (cur < 0) goto error_start;
                    if (!cur)
                        err(&c, g_err_unexpected_open);
                    if (pop_to_close(&c, p_str3) < 0) goto error_start;
                }
                PyObject *el = insert_element(&c, normal, flags, attrs, 1);
                if (el == NULL) goto error_start;
                Py_DECREF(el);
                break;
            }
            case SA_TEXT_SWITCH: {
                /* in-body title/script/style/noframes route to the
                 * in-head rules == _handle_text_state: switch the
                 * tokenizer, remember IN_BODY as original_state, enter
                 * TEXT, insert (push). These tags stop the tokenizer
                 * batch, so this is always the last token in the queue. */
                if (g_text_mode == -1) { handled = 0; break; }
                /* reference InBody default: Tag.textState() drives the
                 * tokenizer here, and script's textState() is Rawtext --
                 * NOT ScriptData (that's the in-HEAD branch only;
                 * HtmlTreeBuilderState.java:592-595 vs :141-143). An
                 * in-body <script><!-- <script></script> therefore
                 * closes at the first end tag, with no double-escape. */
                long tzstate =
                    PyUnicode_Compare(normal, s_h_title) == 0 ? g_tz_rcdata :
                    g_tz_rawtext;
                PyObject *tok_o = PyObject_GetAttr(tb, s_tok);
                if (tok_o == NULL) goto error_start;
                PyObject *tzv = PyLong_FromLong(tzstate);
                PyObject *osv = PyLong_FromLong(state);
                if (tzv == NULL || osv == NULL ||
                    PyObject_SetAttr(tok_o, s_state, tzv) < 0 ||
                    PyObject_SetAttr(tb, s_original_state, osv) < 0) {
                    Py_XDECREF(tzv); Py_XDECREF(osv); Py_DECREF(tok_o);
                    goto error_start;
                }
                Py_DECREF(tzv); Py_DECREF(osv); Py_DECREF(tok_o);
                PyObject *el = insert_element(&c, normal, flags, attrs, 1);
                if (el == NULL) goto error_start;
                Py_DECREF(el);
                state = g_text_mode;
                {
                    int fr = fuse_text_content(&c, tb, normal, flags,
                                               tzstate == g_tz_rcdata,
                                               &state, g_in_body);
                    if (fr < 0) goto error_start;
                }
                break;
            }
            case SA_BUTTON: {
                /* treebuilder._in_body_start "button": nested-button (in
                 * button scope) -> python closes + reprocesses; else
                 * reconstruct + insert + frameset_ok=False */
                int s = in_scope_walk(&c, normal,
                                      OPT_SCOPE | OPT_BUTTON_SCOPE);
                if (s < 0) goto error_start;
                if (s) { handled = 0; break; }
                int rr = reconstruct_run(&c);
                if (rr < 0) goto error_start;
                if (rr == 0) { handled = 0; break; }
                PyObject *el = insert_element(&c, normal, flags, attrs, 1);
                if (el == NULL) goto error_start;
                Py_DECREF(el);
                if (c.frameset_ok) {
                    c.frameset_ok = 0;
                    c.frameset_dirty = 1;
                }
                break;
            }
            case SA_TO_HEAD_EMPTY: {
                /* in-body link/meta/basefont/bgsound: the C_TO_HEAD
                 * branch routes to _in_head, which for these is a plain
                 * empty insert at the current position (no error, no
                 * reconstruct, no base rebase — base itself bails) */
                PyObject *el = insert_element(&c, normal, flags, attrs, 0);
                if (el == NULL) goto error_start;
                Py_DECREF(el);
                break;
            }
            case SA_INPUT: {
                /* treebuilder._in_body_start "input": reconstruct +
                 * insert_empty; frameset_ok=False unless type=hidden
                 * (case-insensitive) */
                int rr = reconstruct_run(&c);
                if (rr < 0) goto error_start;
                if (rr == 0) { handled = 0; break; }
                PyObject *el = insert_element(&c, normal, flags, attrs, 0);
                if (el == NULL) goto error_start;
                PyObject *eattrs = node_get(el, s_attrs);
                Py_DECREF(el);
                if (eattrs == NULL) goto error_start;
                static PyObject *type_str = NULL, *hidden_str = NULL;
                if (type_str == NULL) {
                    type_str = PyUnicode_InternFromString("type");
                    hidden_str = PyUnicode_InternFromString("hidden");
                }
                PyObject *tv = PyDict_GetItemWithError(eattrs, type_str);
                Py_DECREF(eattrs);
                if (tv == NULL && PyErr_Occurred()) goto error_start;
                int hidden = 0;
                if (tv != NULL && tv != Py_None && PyUnicode_Check(tv)) {
                    PyObject *low = PyObject_CallMethod(tv, "lower", NULL);
                    if (low == NULL) goto error_start;
                    hidden = PyUnicode_Compare(low, hidden_str) == 0;
                    Py_DECREF(low);
                }
                if (!hidden && c.frameset_ok) {
                    c.frameset_ok = 0;
                    c.frameset_dirty = 1;
                }
                break;
            }
            case SA_HEADING: {
                /* h1-h6 start (treebuilder._in_body_start C_HEADINGS):
                 * close p in button scope; pop a nested open heading */
                static PyObject *p_str4 = NULL;
                if (p_str4 == NULL)
                    p_str4 = PyUnicode_InternFromString("p");
                int in_p = in_scope_walk(&c, p_str4,
                                         OPT_SCOPE | OPT_BUTTON_SCOPE);
                if (in_p < 0) goto error_start;
                if (in_p) {
                    if (implied_end(&c, p_str4) < 0) goto error_start;
                    int cur = current_is(&c, p_str4);
                    if (cur < 0) goto error_start;
                    if (!cur)
                        err(&c, g_err_unexpected_open);
                    if (pop_to_close(&c, p_str4) < 0) goto error_start;
                }
                int curh = current_is_heading(&c);
                if (curh < 0) goto error_start;
                if (curh) {
                    err(&c, g_err_nested_heading);
                    if (pop_top(&c) < 0) goto error_start;
                }
                PyObject *el = insert_element(&c, normal, flags, attrs, 1);
                if (el == NULL) goto error_start;
                Py_DECREF(el);
                break;
            }
            default:
                handled = 0;
                break;
            }
            Py_DECREF(attrs);
            Py_DECREF(normal);
            if (!handled)
                goto bail_tok;
            goto next_token;
        error_start:
            Py_DECREF(attrs);
            Py_DECREF(normal);
            goto error_tok;
        } else if (ttype == TOK_END) {
            PyObject *normal;
            if (rt != NULL) {
                normal = rt->normal;
                Py_INCREF(normal);
            } else {
                normal = TOK_NORMAL(token);
                if (normal == NULL)
                    goto error_tok;
            }
            int known;
            long packed = action_of(normal, &known);
            if (packed < 0) { Py_DECREF(normal); goto error_tok; }
            long act = PACK_END(packed);
            int handled = 1;
            switch (act) {
            case EA_CLOSER: {
                int s = in_scope_walk(&c, normal, OPT_SCOPE);
                if (s < 0) goto error_end;
                if (!s) {
                    err(&c, g_err_not_in_scope);
                    break;
                }
                if (implied_end(&c, NULL) < 0) goto error_end;
                int cur = current_is(&c, normal);
                if (cur < 0) goto error_end;
                if (!cur)
                    err(&c, g_err_unexpected_open);
                if (pop_to_close(&c, normal) < 0) goto error_end;
                break;
            }
            case EA_LI: {
                int s = in_scope_walk(&c, normal, OPT_SCOPE | OPT_LIST_SCOPE);
                if (s < 0) goto error_end;
                if (!s) {
                    err(&c, g_err_li_not_in_scope);
                    break;
                }
                if (implied_end(&c, normal) < 0) goto error_end;
                int cur = current_is(&c, normal);
                if (cur < 0) goto error_end;
                if (!cur)
                    err(&c, g_err_unexpected_open);
                if (pop_to_close(&c, normal) < 0) goto error_end;
                break;
            }
            case EA_DD_DT: {
                int s = in_scope_walk(&c, normal, OPT_SCOPE);
                if (s < 0) goto error_end;
                if (!s) {
                    err(&c, g_err_not_in_scope);
                    break;
                }
                if (implied_end(&c, normal) < 0) goto error_end;
                int cur = current_is(&c, normal);
                if (cur < 0) goto error_end;
                if (!cur)
                    err(&c, g_err_unexpected_open);
                if (pop_to_close(&c, normal) < 0) goto error_end;
                break;
            }
            case EA_P: {
                int s = in_scope_walk(&c, normal, OPT_SCOPE | OPT_BUTTON_SCOPE);
                if (s < 0) goto error_end;
                if (!s) {
                    /* error; insert <p> then close it: net effect is an
                     * empty p appended without staying on the stack */
                    err(&c, g_err_no_p);
                    PyObject *el = insert_element(&c, normal,
                                                  PACK_FLAGS(packed), NULL, 0);
                    if (el == NULL) goto error_end;
                    Py_DECREF(el);
                    break;
                }
                if (implied_end(&c, normal) < 0) goto error_end;
                int cur = current_is(&c, normal);
                if (cur < 0) goto error_end;
                if (!cur)
                    err(&c, g_err_unexpected_open);
                if (pop_to_close(&c, normal) < 0) goto error_end;
                break;
            }
            case EA_ANY: {
                /* _any_other_end_tag: bounded get_from_stack window */
                Py_ssize_t n = PyList_GET_SIZE(c.stack);
                Py_ssize_t lo = n - 1 - MAX_QUEUE_DEPTH;
                if (lo < 0)
                    lo = 0;
                int found = 0;
                for (Py_ssize_t i = n - 1; i >= lo; i--) {
                    PyObject *nm = node_get(
                        PyList_GET_ITEM(c.stack, i), s_name);
                    if (nm == NULL) goto error_end;
                    int eq = PyUnicode_Compare(nm, normal) == 0;
                    Py_DECREF(nm);
                    if (eq) { found = 1; break; }
                }
                if (!found) {
                    err(&c, g_err_no_match);
                    break;
                }
                int done = 0;
                for (Py_ssize_t i = PyList_GET_SIZE(c.stack) - 1;
                     i >= 0 && !done; i--) {
                    PyObject *el = PyList_GET_ITEM(c.stack, i);
                    PyObject *nm = node_get(el, s_name);
                    if (nm == NULL) goto error_end;
                    int eq = PyUnicode_Compare(nm, normal) == 0;
                    Py_DECREF(nm);
                    if (eq) {
                        if (implied_end(&c, normal) < 0) goto error_end;
                        int cur = current_is(&c, normal);
                        if (cur < 0) goto error_end;
                        if (!cur)
                            err(&c, g_err_unexpected_open);
                        if (pop_to_close(&c, normal) < 0) goto error_end;
                        done = 1;
                        break;
                    }
                    long o = opts_of(el);
                    if (o < 0) goto error_end;
                    if (o & OPT_SPECIAL) {
                        err(&c, g_err_special);
                        done = 1;
                        break;
                    }
                }
                break;
            }
            case EA_FMT: {
                /* adoption-agency formatting end tags: the two provable
                 * fast paths of treebuilder._adoption_agency; everything
                 * else (real adoption work) bails to Python */
                Py_ssize_t n = PyList_GET_SIZE(c.stack);
                if (n == 0) { handled = 0; break; }
                PyObject *cur = PyList_GET_ITEM(c.stack, n - 1);
                PyObject *cn = node_get(cur, s_name);
                if (cn == NULL) goto error_end;
                int name_eq = PyUnicode_Compare(cn, normal) == 0;
                Py_DECREF(cn);
                if (!name_eq) { handled = 0; break; }
                /* in_formatting(cur): bounded identity window */
                Py_ssize_t nf = PyList_GET_SIZE(c.formatting);
                Py_ssize_t lo = nf - 1 - MAX_QUEUE_DEPTH;
                if (lo < 0) lo = 0;
                int in_f = 0;
                for (Py_ssize_t i = nf - 1; i >= lo; i--)
                    if (PyList_GET_ITEM(c.formatting, i) == cur) {
                        in_f = 1;
                        break;
                    }
                if (!in_f) {
                    /* current matches and is NOT an active formatting
                     * entry: plain pop (WHATWG AA any-other-end shortcut) */
                    if (pop_top(&c) < 0) goto error_end;
                    break;
                }
                if (nf && PyList_GET_ITEM(c.formatting, nf - 1) == cur) {
                    /* well-nested: cur is both stack top and the last
                     * formatting entry -> the general algorithm collapses
                     * to pop + remove (no furthest block possible) */
                    if (pop_top(&c) < 0) goto error_end;
                    if (PyList_SetSlice(c.formatting, nf - 1, nf, NULL) < 0)
                        goto error_end;
                    break;
                }
                handled = 0;
                break;
            }
            case EA_HEADING: {
                int s = heading_in_scope(&c);
                if (s < 0) goto error_end;
                if (!s) {
                    err(&c, g_err_no_heading);
                    break;
                }
                if (implied_end(&c, normal) < 0) goto error_end;
                int cur = current_is(&c, normal);
                if (cur < 0) goto error_end;
                if (!cur)
                    err(&c, g_err_unexpected_open);
                if (pop_to_close_heading(&c) < 0) goto error_end;
                break;
            }
            case EA_BODY: {
                /* treebuilder._in_body_end "body" (track off by gate) */
                if (g_end_other_errors == NULL) { handled = 0; break; }
                int s = in_scope_walk(&c, normal, OPT_SCOPE);
                if (s < 0) goto error_end;
                if (!s) {
                    err(&c, g_err_body_not_in_scope);
                    break;  /* consumed (python returns False) */
                }
                int bad = stack_has_not_allowed(&c);
                if (bad < 0) goto error_end;
                if (bad)
                    err(&c, g_err_unexpected_open);
                state = g_after_body;
                break;
            }
            case EA_HTML: {
                /* treebuilder._in_body_end "html": checks, AfterBody,
                 * then the SAME token reprocesses under AfterBody */
                if (g_end_other_errors == NULL) { handled = 0; break; }
                PyObject *body_el;
                if (get_from_stack_name(&c, s_h_body, &body_el) < 0)
                    goto error_end;
                if (body_el == NULL) {
                    err(&c, g_err_no_body);
                    break;  /* consumed */
                }
                int bad = stack_has_not_allowed(&c);
                if (bad < 0) goto error_end;
                if (bad)
                    err(&c, g_err_unexpected_open);
                state = g_after_body;
                Py_DECREF(normal);
                goto reprocess_token;
            }
            default:
                handled = 0;
                break;
            }
            Py_DECREF(normal);
            if (!handled)
                goto bail_tok;
            goto next_token;
        error_end:
            Py_DECREF(normal);
            goto error_tok;
        } else if (ttype == 3 && g_comment_t != NULL) {
            /* in-body comment: insert_comment == CommentNode(token.data)
             * appended to the current element (track off by gate) */
            PyObject *data = TOK_DATA(token);
            if (data == NULL)
                goto error_tok;
            PyObject *node = bare_instance(g_comment_t);
            if (node == NULL) { Py_DECREF(data); goto error_tok; }
            if (node_set(node, s_value, data) < 0 ||
                append_child(current_parent(&c), node) < 0) {
                Py_DECREF(node); Py_DECREF(data);
                goto error_tok;
            }
            Py_DECREF(node);
            Py_DECREF(data);
        } else {
            goto bail_tok; /* doctype/EOF/CDATA: python path */
        }

    next_token:
#ifdef FT_PROF
        {
            unsigned long long _now = __rdtsc();
            int _b = ttype == TOK_START ? PB_SB
                   : ttype == TOK_END ? PB_EB
                   : ttype == TOK_CHAR ? PB_CB : PB_NEXT;
            g_prof[_b] += _now - _lt0;
            g_prof_calls[_b]++;
            _lt0 = _now;
        }
#endif
        if (rt != NULL) {
            rt_clear(rt);
            rt = NULL;
            ri++;
        } else {
            Py_DECREF(token);
            token = NULL;
        }
        /* ring continues even after a materialized detour (head_phase
         * consumed the struct token as a real one, but its successors
         * are still in the ring) */
        if (ri < rn)
            goto take_ring;
        rn = ri = 0;
        /* next from q (a deque): bound popleft cached per apply call;
         * IndexError == empty (saves a per-token bool probe + method
         * lookup). On empty: full-pump scan into the struct ring when the
         * tokenizer sits in Data, else pump-lite (Python state functions)
         * when trusted, else return to the Python loop. */
        token = PyObject_CallNoArgs(popleft);
        if (token == NULL) {
            if (!PyErr_ExceptionMatches(PyExc_IndexError))
                goto error_ctx;
            PyErr_Clear();
            if (trusted && g_states != NULL) {
                if (tok_o == NULL) {
                    tok_o = PyObject_GetAttr(tb, s_tok);
                    if (tok_o == NULL)
                        goto error_ctx;
                }
                int fr = cscan_fill(tok_o, ring, &rn, &pump_src);
                if (fr < 0)
                    goto error_ctx;
                if (fr > 0) {
                    ri = 0;
                take_ring:
                    rt = &ring[ri];
#ifdef FT_PROF
                    {
                        unsigned long long _now = __rdtsc();
                        g_prof[PB_NEXT] += _now - _lt0;
                        g_prof_calls[PB_NEXT]++;
                        _lt0 = _now;
                    }
#endif
                    continue;
                }
                token = pump_next(tok_o, q, popleft);
                if (token == NULL)
                    goto error_ctx;
            } else {
                break;
            }
        }
#ifdef FT_PROF
        {
            unsigned long long _now = __rdtsc();
            g_prof[PB_NEXT] += _now - _lt0;
            g_prof_calls[PB_NEXT]++;
            _lt0 = _now;
        }
#endif
    }

    /* ---- success exit: write back frameset_ok + state ---- */
    if (state != entry_state) {
        PyObject *sv = PyLong_FromLong(state);
        if (sv == NULL || PyObject_SetAttr(tb, s_state, sv) < 0) {
            Py_XDECREF(sv);
            goto error_ctx;
        }
        Py_DECREF(sv);
    }
    if (c.frameset_dirty &&
        PyObject_SetAttr(tb, s_frameset_ok,
                         c.frameset_ok ? Py_True : Py_False) < 0)
        goto error_ctx;
    Py_XDECREF(pump_src);
    Py_DECREF(popleft);
    Py_XDECREF(tok_o);
    Py_DECREF(c.stack); Py_DECREF(c.doc);
    Py_DECREF(c.formatting); Py_DECREF(c.errors);
    PROF_END(PB_TOTAL);
    if (token == NULL)
        Py_RETURN_NONE;
    return token; /* already owned */

bail_tok:
    /* ring active: the CURRENT struct token becomes the real token the
     * Python loop receives; unconsumed ring tokens requeue behind it */
    if (rt != NULL) {
        token = rt_materialize(rt, pump_src);
        if (token == NULL)
            goto error_ctx;
        rt = NULL;
        ri++;
    }
    if (ri < rn) {
        if (ring_flush_to_q(ring, ri, rn, q, pump_src) < 0)
            goto error_tok;
        rn = ri = 0;
    }
    if (state != entry_state) {
        PyObject *sv = PyLong_FromLong(state);
        if (sv == NULL || PyObject_SetAttr(tb, s_state, sv) < 0) {
            Py_XDECREF(sv);
            goto error_ctx;
        }
        Py_DECREF(sv);
    }
    if (c.frameset_dirty &&
        PyObject_SetAttr(tb, s_frameset_ok,
                         c.frameset_ok ? Py_True : Py_False) < 0)
        goto error_ctx;
    Py_XDECREF(pump_src);
    Py_XDECREF(popleft);
    Py_XDECREF(tok_o);
    Py_DECREF(c.stack); Py_DECREF(c.doc);
    Py_DECREF(c.formatting); Py_DECREF(c.errors);
    return token; /* owned; leftover for python */

bail_ctx:
    Py_XDECREF(popleft);
    Py_DECREF(c.stack); Py_DECREF(c.doc);
    Py_DECREF(c.formatting); Py_XDECREF(c.errors);
    Py_INCREF(token);
    return token;

bail_entry:
    Py_INCREF(token);
    return token;

error_tok:
    Py_XDECREF(token);
error_ctx:
    ring_clear_from(ring, ri, rn);
    Py_XDECREF(pump_src);
    Py_XDECREF(popleft);
    Py_XDECREF(tok_o);
    Py_XDECREF(c.stack); Py_XDECREF(c.doc);
    Py_XDECREF(c.formatting); Py_XDECREF(c.errors);
    return NULL;

error_pre:
    Py_XDECREF(c.stack); Py_XDECREF(c.doc);
    Py_XDECREF(c.formatting);
    return NULL;
}


/* ====================== span walker (extract.spans._walk) ==============
 * walk_spans(body, base_uri) -> list[(kind, text, ref)] or None to bail.
 * Strict subset of extract/spans.py _walk + _flush: bails (per document)
 * where the text walker t_walk below does. Semantics —
 * normalization, java_trim, separators, media/data barriers — mirror the
 * Python source of truth and are gated by the same golden/fuzz suites. */

static PyObject *g_w_media = NULL;   /* frozenset of media tag names */
static PyObject *g_w_data = NULL;    /* frozenset of data tag names */
static PyObject *g_w_resolve = NULL; /* nodes.resolve_url */
static PyObject *g_cdata_t = NULL, *g_datanode_t = NULL;
static long g_f_block = 0, g_f_boundary = 0, g_f_preserve = 0;
static PyObject *s_src = NULL, *s_alt = NULL, *s_kind_text = NULL,
    *s_kind_media = NULL, *s_kind_data = NULL, *s_empty = NULL,
    *s_br = NULL;

static PyObject *
configure_walk(PyObject *self, PyObject *args)
{
    PyObject *media, *data, *resolve, *datanode_t, *comment_t;
    if (!PyArg_ParseTuple(args, "OOOOO", &media, &data, &resolve,
                          &datanode_t, &comment_t))
        return NULL;
#define SETW(g, v) Py_XDECREF(g); Py_INCREF(v); g = v
    SETW(g_w_media, media);
    SETW(g_w_data, data);
    SETW(g_w_resolve, resolve);
    SETW(g_datanode_t, datanode_t);
    SETW(g_comment_t, comment_t);
#undef SETW
    if (s_src == NULL) {
        s_src = PyUnicode_InternFromString("src");
        s_alt = PyUnicode_InternFromString("alt");
        s_kind_text = PyUnicode_InternFromString("text");
        s_kind_media = PyUnicode_InternFromString("media");
        s_kind_data = PyUnicode_InternFromString("data");
        if (s_kind_data == NULL)
            return NULL;
    }
    Py_RETURN_NONE;
}

/* configure_text(Element, TextNode, CDataNode, BLOCK, TEXT_BOUNDARY,
 * PRESERVE_WS): the node classes and tag flags every text walk reads
 * (parser/nodes.py configures this at import) */
static PyObject *
configure_text(PyObject *self, PyObject *args)
{
    PyObject *element, *textnode, *cdata_t;
    long f_block, f_boundary, f_preserve;
    if (!PyArg_ParseTuple(args, "OOOlll", &element, &textnode, &cdata_t,
                          &f_block, &f_boundary, &f_preserve))
        return NULL;
#define SETW(g, v) Py_XDECREF(g); Py_INCREF(v); g = v
    SETW(g_element, element);
    SETW(g_textnode, textnode);
    SETW(g_cdata_t, cdata_t);
#undef SETW
    g_f_block = f_block;
    g_f_boundary = f_boundary;
    g_f_preserve = f_preserve;
    if (s_br == NULL) {
        s_empty = PyUnicode_InternFromString("");
        s_br = PyUnicode_InternFromString("br");
        if (s_br == NULL)
            return NULL;
    }
    resolve_slots();
    Py_RETURN_NONE;
}

/* growable UCS4 text accumulator */
typedef struct {
    Py_UCS4 *buf;
    Py_ssize_t len, cap;
} Accum;

static int
acc_reserve(Accum *a, Py_ssize_t extra)
{
    if (a->len + extra <= a->cap)
        return 0;
    Py_ssize_t ncap = a->cap ? a->cap : 256;
    while (ncap < a->len + extra)
        ncap *= 2;
    Py_UCS4 *nb = PyMem_Realloc(a->buf, ncap * sizeof(Py_UCS4));
    if (nb == NULL) {
        PyErr_NoMemory();
        return -1;
    }
    a->buf = nb;
    a->cap = ncap;
    return 0;
}

static inline int
is_norm_ws(Py_UCS4 c)
{
    return c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r' ||
           c == 0xA0;
}

/* StringUtil.appendNormalisedWhitespace; strip_leading drops a leading
 * whitespace run (the caller's lastCharIsWhitespace) */
static int
acc_append_normalised(Accum *a, PyObject *text, int strip_leading)
{
    Py_ssize_t n = PyUnicode_GET_LENGTH(text);
    if (acc_reserve(a, n) < 0)
        return -1;
    int kind = PyUnicode_KIND(text);
    const void *data = PyUnicode_DATA(text);
    int last_ws = strip_leading;
    for (Py_ssize_t i = 0; i < n; i++) {
        Py_UCS4 c = PyUnicode_READ(kind, data, i);
        if (is_norm_ws(c)) {
            if (!last_ws) {
                a->buf[a->len++] = ' ';
                last_ws = 1;
            }
        } else if (c == 0x200B || c == 0xAD) {
            /* invisibles: transparent to the collapse state */
        } else {
            a->buf[a->len++] = c;
            last_ws = 0;
        }
    }
    return 0;
}

static int
acc_append_raw(Accum *a, PyObject *text)
{
    Py_ssize_t n = PyUnicode_GET_LENGTH(text);
    if (acc_reserve(a, n) < 0)
        return -1;
    int kind = PyUnicode_KIND(text);
    const void *data = PyUnicode_DATA(text);
    for (Py_ssize_t i = 0; i < n; i++)
        a->buf[a->len++] = PyUnicode_READ(kind, data, i);
    return 0;
}

static int
emit_tuple(PyObject *out, PyObject *kind, PyObject *text, PyObject *ref)
{
    PyObject *t = PyTuple_Pack(3, kind, text, ref);
    if (t == NULL)
        return -1;
    int rc = PyList_Append(out, t);
    Py_DECREF(t);
    return rc;
}

/* nodes._pre_distance: steps from node to its nearest PRESERVE_WS
 * ancestor-or-self within the 6-element window, else 6; a text node is
 * whitespace-preserved iff its parent's distance is <= 5. -1 on error. */
static int
w_pre_distance(PyObject *node)
{
    PyObject *n = node;
    Py_INCREF(n);
    for (int i = 0; i < 6; i++) {
        if (!PyObject_TypeCheck(n, (PyTypeObject *)g_element))
            break;
        PyObject *fl = node_get(n, s_flags);
        if (fl == NULL) {
            Py_DECREF(n);
            return -1;
        }
        long v = PyLong_AS_LONG(fl);
        Py_DECREF(fl);
        if (v & g_f_preserve) {
            Py_DECREF(n);
            return i;
        }
        PyObject *p = node_get(n, s_parent);
        Py_DECREF(n);
        if (p == NULL)
            return -1;
        n = p;
        if (n == Py_None)
            break;
    }
    Py_DECREF(n);
    return 6;
}

/* Element.data(): preorder descendants collecting Data/CData/Comment */
static PyObject *
w_element_data(PyObject *el)
{
    PyObject *parts = PyList_New(0);
    if (parts == NULL)
        return NULL;
    PyObject *stack = PyList_New(0);
    if (stack == NULL) {
        Py_DECREF(parts);
        return NULL;
    }
    if (PyList_Append(stack, el) < 0)
        goto fail;
    while (PyList_GET_SIZE(stack) > 0) {
        Py_ssize_t last = PyList_GET_SIZE(stack) - 1;
        PyObject *n = PyList_GET_ITEM(stack, last);
        Py_INCREF(n);
        if (PyList_SetSlice(stack, last, last + 1, NULL) < 0) {
            Py_DECREF(n);
            goto fail;
        }
        PyTypeObject *tp = Py_TYPE(n);
        if (tp == (PyTypeObject *)g_datanode_t ||
            tp == (PyTypeObject *)g_cdata_t ||
            tp == (PyTypeObject *)g_comment_t) {
            PyObject *v = node_get(n, s_value);
            if (v == NULL || PyList_Append(parts, v) < 0) {
                Py_XDECREF(v);
                Py_DECREF(n);
                goto fail;
            }
            Py_DECREF(v);
        } else if (PyObject_TypeCheck(n, (PyTypeObject *)g_element)) {
            PyObject *ch = node_get(n, s_children);
            if (ch == NULL) {
                Py_DECREF(n);
                goto fail;
            }
            for (Py_ssize_t i = PyList_GET_SIZE(ch) - 1; i >= 0; i--)
                if (PyList_Append(stack, PyList_GET_ITEM(ch, i)) < 0) {
                    Py_DECREF(ch);
                    Py_DECREF(n);
                    goto fail;
                }
            Py_DECREF(ch);
        }
        Py_DECREF(n);
    }
    Py_DECREF(stack);
    PyObject *joined = PyUnicode_Join(s_empty, parts);
    Py_DECREF(parts);
    return joined;
fail:
    Py_DECREF(parts);
    Py_DECREF(stack);
    return NULL;
}

/* Element.has_text(): any non-blank TextNode in the subtree (blank =
 * all chars in " \t\n\f\r\xa0​­" — nodes._WS_CHARS+_INVISIBLE).
 * Returns 1/0/-1. */
static int
w_has_text(PyObject *el)
{
    PyObject *ch0 = node_get(el, s_children);
    if (ch0 == NULL)
        return -1;
    PyObject *stack = PySequence_List(ch0);
    Py_DECREF(ch0);
    if (stack == NULL)
        return -1;
    int found = 0;
    while (PyList_GET_SIZE(stack) > 0 && !found) {
        Py_ssize_t last = PyList_GET_SIZE(stack) - 1;
        PyObject *n = PyList_GET_ITEM(stack, last); /* borrowed */
        Py_INCREF(n);
        if (PyList_SetSlice(stack, last, last + 1, NULL) < 0) {
            Py_DECREF(n); Py_DECREF(stack);
            return -1;
        }
        if (PyObject_TypeCheck(n, (PyTypeObject *)g_textnode)) {
            PyObject *v = node_get(n, s_value);
            if (v == NULL) { Py_DECREF(n); Py_DECREF(stack); return -1; }
            Py_ssize_t vn = PyUnicode_GET_LENGTH(v);
            int kind = PyUnicode_KIND(v);
            const void *buf = PyUnicode_DATA(v);
            for (Py_ssize_t i = 0; i < vn; i++) {
                Py_UCS4 c = PyUnicode_READ(kind, buf, i);
                if (c != ' ' && c != '\t' && c != '\n' && c != '\f' &&
                    c != '\r' && c != 0xa0 && c != 0x200b && c != 0xad) {
                    found = 1;
                    break;
                }
            }
            Py_DECREF(v);
        } else if (PyObject_TypeCheck(n, (PyTypeObject *)g_element)) {
            PyObject *nch = node_get(n, s_children);
            if (nch == NULL) { Py_DECREF(n); Py_DECREF(stack); return -1; }
            Py_ssize_t add = PySequence_Length(nch);
            if (add < 0 ||
                PyList_SetSlice(stack, PyList_GET_SIZE(stack),
                                PyList_GET_SIZE(stack), nch) < 0) {
                Py_DECREF(nch); Py_DECREF(n); Py_DECREF(stack);
                return -1;
            }
            Py_DECREF(nch);
        }
        Py_DECREF(n);
    }
    Py_DECREF(stack);
    return found;
}

/* needs_trailing_sep */
static int
w_needs_trailing(PyObject *el, long flags)
{
    if (flags & (g_f_boundary | g_f_block))
        return 1;
    PyObject *ch = node_get(el, s_children);
    if (ch == NULL)
        return -1;
    for (Py_ssize_t i = 0; i < PyList_GET_SIZE(ch); i++) {
        PyObject *c = PyList_GET_ITEM(ch, i);
        if (PyObject_TypeCheck(c, (PyTypeObject *)g_element)) {
            PyObject *fl = node_get(c, s_flags);
            if (fl == NULL) {
                Py_DECREF(ch);
                return -1;
            }
            long v = PyLong_AS_LONG(fl);
            Py_DECREF(fl);
            if (v & g_f_block) {
                Py_DECREF(ch);
                return 1;
            }
        }
    }
    Py_DECREF(ch);
    return 0;
}

static long
w_flags(PyObject *el)
{
    PyObject *fl = node_get(el, s_flags);
    if (fl == NULL)
        return -1;
    long v = PyLong_AS_LONG(fl);
    Py_DECREF(fl);
    return v;
}

/* ---- text runs shared by the span and text walkers ----
 * TAcc tracks Python's *fragment* state (nodes._append_normalised and
 * the separator tests read accum[-1]), not the last buffered char: an
 * empty raw fragment (an empty TextNode under <pre>) leaves accum[-1] ==
 * "", so the next separator or strip-leading test sees no trailing
 * space. */

#define W_BAIL 2
#define TEXT_MAX_DEPTH 512

typedef struct {
    Accum a;
    int sp;   /* accum[-1].endswith(" ") — false while accum is empty */
    int any;  /* bool(accum) */
} TAcc;

static int
t_raw(TAcc *t, PyObject *v)
{
    if (acc_append_raw(&t->a, v) < 0)
        return -1;
    Py_ssize_t n = PyUnicode_GET_LENGTH(v);
    t->sp = n > 0 && PyUnicode_READ_CHAR(v, n - 1) == ' ';
    t->any = 1;
    return 0;
}

static int
t_norm(TAcc *t, PyObject *v)
{
    Py_ssize_t before = t->a.len;
    if (acc_append_normalised(&t->a, v, t->sp) < 0)
        return -1;
    if (t->a.len > before) {
        t->sp = t->a.buf[t->a.len - 1] == ' ';
        t->any = 1;
    }
    return 0;
}

static int
t_space(TAcc *t)
{
    if (acc_reserve(&t->a, 1) < 0)
        return -1;
    t->a.buf[t->a.len++] = ' ';
    t->sp = t->any = 1;
    return 0;
}

/* a TextNode/CDataNode child: 1 appended, 0 not one, W_BAIL, -1 error */
static int
t_text_child(TAcc *t, PyObject *child, int preserve)
{
    PyTypeObject *tp = Py_TYPE(child);
    if (tp != (PyTypeObject *)g_textnode && tp != (PyTypeObject *)g_cdata_t)
        return 0;
    PyObject *v = node_get(child, s_value);
    if (v == NULL)
        return -1;
    int rc = W_BAIL;
    if (PyUnicode_Check(v))
        rc = (preserve || tp == (PyTypeObject *)g_cdata_t)
            ? t_raw(t, v) : t_norm(t, v);
    Py_DECREF(v);
    return rc == 0 ? 1 : rc;
}

static int
t_is_br(PyObject *el)
{
    PyObject *nm = node_get(el, s_name);
    if (nm == NULL)
        return -1;
    int r = PyUnicode_Check(nm) && PyUnicode_Compare(nm, s_br) == 0;
    Py_DECREF(nm);
    return r;
}

/* nodes._needs_leading_sep */
static int
t_needs_leading(PyObject *el, long flags, Py_ssize_t nkids)
{
    if (flags & g_f_block)
        return 1;
    int br = t_is_br(el);
    if (br != 0)
        return br;
    if ((flags & g_f_boundary) && nkids > 0)
        return w_has_text(el);
    return 0;
}

/* nodes._tail: a space after an element that is followed by text or an
 * inline element */
static int
t_tail(TAcc *t, PyObject *el, PyObject *nxt)
{
    if (t->sp || nxt == NULL)
        return 0;
    if (!PyObject_TypeCheck(nxt, (PyTypeObject *)g_textnode)) {
        if (!PyObject_TypeCheck(nxt, (PyTypeObject *)g_element))
            return 0;
        long nf = w_flags(nxt);
        if (nf < 0)
            return -1;
        if (nf & g_f_block)
            return 0;
    }
    long flags = w_flags(el);
    int need = flags < 0 ? -1 : w_needs_trailing(el, flags);
    if (need <= 0)
        return need;
    return t_space(t);
}

/* java_trim(''.join(accum)) */
static PyObject *
t_result(TAcc *t)
{
    Py_ssize_t start = 0, end = t->a.len;
    while (start < end && t->a.buf[start] <= 0x20)
        start++;
    while (end > start && t->a.buf[end - 1] <= 0x20)
        end--;
    if (end == start)
        return PyUnicode_New(0, 0);
    return PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND,
                                     t->a.buf + start, end - start);
}

/* spans._flush: emit the trimmed run, if any, and clear the accumulator */
static int
t_flush(TAcc *t, PyObject *out)
{
    PyObject *txt = t_result(t);
    t->a.len = 0;
    t->sp = t->any = 0;
    if (txt == NULL)
        return -1;
    int rc = PyUnicode_GET_LENGTH(txt) > 0
        ? emit_tuple(out, s_kind_text, txt, s_empty) : 0;
    Py_DECREF(txt);
    return rc;
}

typedef struct {
    PyObject *children; /* owned */
    Py_ssize_t idx;
    PyObject *node;     /* borrowed (kept alive by the parent's list) */
    PyObject *nxt;      /* borrowed or NULL */
    int dist;           /* w_pre_distance(node), counting on past 6 */
} TFrame;

/* first frame of a walk over root's children; -1 error, W_BAIL */
static int
t_root_frame(TFrame *f, PyObject *root)
{
    f->children = node_get(root, s_children);
    if (f->children == NULL)
        return -1;
    if (!PyList_Check(f->children)) {
        Py_DECREF(f->children);
        return W_BAIL;
    }
    f->idx = 0;
    f->node = root;
    f->nxt = NULL;
    f->dist = w_pre_distance(root);
    if (f->dist < 0) {
        Py_DECREF(f->children);
        return -1;
    }
    return 0;
}

/* Document.title() fast path (nodes.py Document.title / reference
 * Document.java:198-202): first <title> inside the doc's html>head,
 * normalized + java-trimmed. Handles the common shape — title children
 * are all leaf text nodes; returns NotImplemented for anything else so
 * the Python implementation (the source of truth) takes over. */
static PyObject *
title_text(PyObject *self, PyObject *args)
{
    PyObject *doc;
    if (!PyArg_ParseTuple(args, "O", &doc))
        return NULL;
    if (s_h_title == NULL || g_textnode == NULL)
        Py_RETURN_NOTIMPLEMENTED;
    PyObject *dch = node_get(doc, s_children);
    if (dch == NULL || !PyList_Check(dch)) {
        Py_XDECREF(dch);
        PyErr_Clear();
        Py_RETURN_NOTIMPLEMENTED;
    }
    /* html = first Element child named "html" */
    PyObject *html_el = NULL, *head_el = NULL, *title_el = NULL;
    for (Py_ssize_t i = 0; i < PyList_GET_SIZE(dch); i++) {
        PyObject *c = PyList_GET_ITEM(dch, i);
        if (!PyObject_TypeCheck(c, (PyTypeObject *)g_element))
            continue;
        PyObject *nm = node_get(c, s_name);
        if (nm == NULL) { Py_DECREF(dch); return NULL; }
        int eq = PyUnicode_Compare(nm, s_h_html) == 0 && !PyErr_Occurred();
        Py_DECREF(nm);
        if (eq) { html_el = c; break; }
    }
    Py_DECREF(dch);
    if (html_el == NULL)
        return PyUnicode_FromString("");
    PyObject *hch = node_get(html_el, s_children);
    if (hch == NULL || !PyList_Check(hch)) {
        Py_XDECREF(hch);
        PyErr_Clear();
        Py_RETURN_NOTIMPLEMENTED;
    }
    for (Py_ssize_t i = 0; i < PyList_GET_SIZE(hch); i++) {
        PyObject *c = PyList_GET_ITEM(hch, i);
        if (!PyObject_TypeCheck(c, (PyTypeObject *)g_element))
            continue;
        PyObject *nm = node_get(c, s_name);
        if (nm == NULL) { Py_DECREF(hch); return NULL; }
        int eq = PyUnicode_Compare(nm, s_h_head) == 0 && !PyErr_Occurred();
        Py_DECREF(nm);
        if (eq) { head_el = c; break; }
    }
    Py_DECREF(hch);
    if (head_el == NULL)
        return PyUnicode_FromString("");
    /* DFS (pre-order) for the first descendant element named "title" */
    {
        PyObject *stack_nodes[256];
        Py_ssize_t stack_idx[256];
        int depth = 0;
        stack_nodes[0] = head_el;
        stack_idx[0] = 0;
        while (depth >= 0 && title_el == NULL) {
            PyObject *cur = stack_nodes[depth];
            PyObject *ch = node_get(cur, s_children);
            if (ch == NULL || !PyList_Check(ch)) {
                Py_XDECREF(ch);
                PyErr_Clear();
                Py_RETURN_NOTIMPLEMENTED;
            }
            Py_ssize_t i = stack_idx[depth];
            int descended = 0;
            for (; i < PyList_GET_SIZE(ch); i++) {
                PyObject *c = PyList_GET_ITEM(ch, i);
                if (!PyObject_TypeCheck(c, (PyTypeObject *)g_element))
                    continue;
                PyObject *nm = node_get(c, s_name);
                if (nm == NULL) { Py_DECREF(ch); return NULL; }
                int eq = PyUnicode_Compare(nm, s_h_title) == 0 &&
                         !PyErr_Occurred();
                Py_DECREF(nm);
                if (eq) { title_el = c; break; }
                if (depth >= 254) {
                    Py_DECREF(ch);
                    Py_RETURN_NOTIMPLEMENTED;
                }
                stack_idx[depth] = i + 1;
                stack_nodes[depth + 1] = c;
                stack_idx[depth + 1] = 0;
                depth++;
                descended = 1;
                break;
            }
            Py_DECREF(ch);
            if (title_el != NULL)
                break;
            if (!descended)
                depth--;
        }
    }
    if (title_el == NULL)
        return PyUnicode_FromString("");
    /* simple shape: all children leaf text nodes (TextNode/CDataNode) */
    PyObject *tch = node_get(title_el, s_children);
    if (tch == NULL || !PyList_Check(tch)) {
        Py_XDECREF(tch);
        PyErr_Clear();
        Py_RETURN_NOTIMPLEMENTED;
    }
    TAcc t = {{NULL, 0, 0}, 0, 0};
    for (Py_ssize_t i = 0; i < PyList_GET_SIZE(tch); i++) {
        PyObject *c = PyList_GET_ITEM(tch, i);
        if (!PyObject_TypeCheck(c, (PyTypeObject *)g_textnode)) {
            Py_DECREF(tch);
            PyMem_Free(t.a.buf);
            Py_RETURN_NOTIMPLEMENTED;
        }
        PyObject *v = node_get(c, s_value);
        if (v == NULL) { Py_DECREF(tch); PyMem_Free(t.a.buf); return NULL; }
        if (!PyUnicode_Check(v)) {
            Py_DECREF(v); Py_DECREF(tch); PyMem_Free(t.a.buf);
            Py_RETURN_NOTIMPLEMENTED;
        }
        int rc = t_norm(&t, v);
        Py_DECREF(v);
        if (rc < 0) { Py_DECREF(tch); PyMem_Free(t.a.buf); return NULL; }
    }
    Py_DECREF(tch);
    PyObject *out = t_result(&t);
    PyMem_Free(t.a.buf);
    return out;
}

/* spans' barrier test for an element: 1 media, 2 data, 0 neither, -1 */
static int
w_barrier(PyObject *el)
{
    PyObject *cns = node_get(el, s_ns);
    if (cns == NULL)
        return -1;
    int html_ns = (cns == g_ns_html) ||
        (PyUnicode_Compare(cns, g_ns_html) == 0);
    Py_DECREF(cns);
    PyErr_Clear();
    if (!html_ns)
        return 0;
    PyObject *nm = node_get(el, s_name);
    if (nm == NULL)
        return -1;
    int r = PySet_Contains(g_w_media, nm);
    if (r == 0) {
        r = PySet_Contains(g_w_data, nm);
        if (r > 0)
            r = 2;
    }
    Py_DECREF(nm);
    return r;
}

/* spans._emit_barrier: flush the text run, then emit ("media", trimmed
 * alt, absolute src or raw src) or ("data", el.data(), "") */
static int
w_emit_barrier(TAcc *t, PyObject *el, int is_media, PyObject *out,
               PyObject *base)
{
    if (t_flush(t, out) < 0)
        return -1;
    if (!is_media) {
        PyObject *d = w_element_data(el);
        if (d == NULL)
            return -1;
        int rc = emit_tuple(out, s_kind_data, d, s_empty);
        Py_DECREF(d);
        return rc;
    }
    PyObject *attrs = node_get(el, s_attrs);
    if (attrs == NULL)
        return -1;
    PyObject *ref = NULL, *alt = NULL;
    int rc = -1;
    PyObject *srcv = PyDict_GetItemWithError(attrs, s_src);
    if (srcv == NULL && PyErr_Occurred())
        goto done;
    if (srcv == NULL) {
        Py_INCREF(s_empty);
        ref = s_empty;
    } else {
        PyObject *rel = (srcv == Py_None) ? s_empty : srcv;
        ref = PyObject_CallFunctionObjArgs(g_w_resolve, base, rel, NULL);
        if (ref == NULL)
            goto done;
        if (PyUnicode_GET_LENGTH(ref) == 0) {
            Py_DECREF(ref);
            Py_INCREF(rel);
            ref = rel;
        }
    }
    PyObject *altv = PyDict_GetItemWithError(attrs, s_alt);
    if (altv == NULL && PyErr_Occurred())
        goto done;
    if (altv == NULL || altv == Py_None) {
        Py_INCREF(s_empty);
        alt = s_empty;
    } else {
        /* java_trim(alt) */
        Py_ssize_t st = 0, en = PyUnicode_GET_LENGTH(altv);
        int kind = PyUnicode_KIND(altv);
        const void *data = PyUnicode_DATA(altv);
        while (st < en && PyUnicode_READ(kind, data, st) <= 0x20)
            st++;
        while (en > st && PyUnicode_READ(kind, data, en - 1) <= 0x20)
            en--;
        alt = PyUnicode_Substring(altv, st, en);
        if (alt == NULL)
            goto done;
    }
    /* python emits ["media", alt, ref]: (kind, text, ref) */
    rc = emit_tuple(out, s_kind_media, alt, ref);
done:
    Py_XDECREF(alt);
    Py_XDECREF(ref);
    Py_DECREF(attrs);
    return rc;
}

/* The head/tail walk over root's descendants (nodes._text_accumulate),
 * shared by Element.text() (out == NULL) and the span emitter (out a
 * list; spans._walk): there, media and data elements flush the run and
 * emit a span. Returns 0, W_BAIL or -1. */
static int
t_walk(TAcc *t, PyObject *root, PyObject *out, PyObject *base)
{
    TFrame frames[TEXT_MAX_DEPTH];
    int depth = 0;
    int rc = t_root_frame(&frames[0], root);
    if (rc != 0)
        return rc;
    while (rc == 0 && depth >= 0) {
        TFrame *f = &frames[depth];
        Py_ssize_t n = PyList_GET_SIZE(f->children);
        if (f->idx >= n) {
            /* the root's tail is a no-op: it has no next sibling here */
            if (depth > 0)
                rc = t_tail(t, f->node, f->nxt);
            Py_DECREF(f->children);
            depth--;
            continue;
        }
        PyObject *child = PyList_GET_ITEM(f->children, f->idx);
        PyObject *nxt = f->idx + 1 < n
            ? PyList_GET_ITEM(f->children, f->idx + 1) : NULL;
        f->idx++;
        rc = t_text_child(t, child, f->dist <= 5);
        if (rc != 0) {
            if (rc == 1)
                rc = 0;
            continue;
        }
        if (!PyObject_TypeCheck(child, (PyTypeObject *)g_element)) {
            /* spans._walk appends a TextNode subclass; text() skips it */
            if (out != NULL &&
                PyObject_TypeCheck(child, (PyTypeObject *)g_textnode))
                rc = W_BAIL;
            continue;
        }
        long flags = w_flags(child);
        int barrier = flags < 0 ? -1 : 0;
        if (out != NULL && barrier == 0)
            barrier = w_barrier(child);
        if (barrier > 0 &&
            w_emit_barrier(t, child, barrier == 1, out, base) < 0)
            barrier = -1;
        PyObject *ch = barrier < 0 ? NULL : node_get(child, s_children);
        if (ch == NULL) {
            rc = -1;
            continue;
        }
        if (!PyList_Check(ch)) {
            Py_DECREF(ch);
            rc = W_BAIL;
            continue;
        }
        Py_ssize_t nkids = PyList_GET_SIZE(ch);
        if (!barrier && t->any && !t->sp) {
            int lead = t_needs_leading(child, flags, nkids);
            if (lead > 0)
                lead = t_space(t);
            if (lead < 0) {
                Py_DECREF(ch);
                rc = -1;
                continue;
            }
        }
        if (nkids == 0) {
            Py_DECREF(ch);
            rc = t_tail(t, child, nxt);
        } else if (depth + 1 >= TEXT_MAX_DEPTH) {
            Py_DECREF(ch);
            rc = W_BAIL;
        } else {
            TFrame *c = &frames[++depth];
            c->children = ch;
            c->idx = 0;
            c->node = child;
            c->nxt = nxt;
            c->dist = (flags & g_f_preserve) ? 0 : f->dist + 1;
        }
    }
    for (; depth >= 0; depth--)
        Py_DECREF(frames[depth].children);
    return rc;
}

static PyObject *
walk_spans(PyObject *self, PyObject *args)
{
    PyObject *root, *base;
    if (!PyArg_ParseTuple(args, "OO", &root, &base))
        return NULL;
    if (g_w_media == NULL || s_br == NULL || g_ns_html == NULL) {
        PyErr_SetString(PyExc_RuntimeError, "walker not configured");
        return NULL;
    }
    PyObject *out = PyList_New(0);
    if (out == NULL)
        return NULL;
    TAcc t = {{NULL, 0, 0}, 0, 0};
    int rc = t_walk(&t, root, out, base);
    if (rc == 0)
        rc = t_flush(&t, out);
    PyMem_Free(t.a.buf);
    if (rc == 0)
        return out;
    Py_DECREF(out);
    if (rc == W_BAIL)
        Py_RETURN_NONE;
    return NULL;
}

/* ================ Element.text() / own_text() (parser/nodes.py) ========
 * element_text(el) / element_own_text(el) -> str, or None to bail to the
 * Python source of truth (nodes._text_accumulate and Element.own_text).
 * Bails on a non-list children or non-str text value, and past
 * TEXT_MAX_DEPTH open elements. */

static PyObject *
element_text(PyObject *self, PyObject *root)
{
    if (s_br == NULL)
        Py_RETURN_NONE;
    TAcc t = {{NULL, 0, 0}, 0, 0};
    int rc = t_walk(&t, root, NULL, NULL);
    PyObject *out = rc == 0 ? t_result(&t) : NULL;
    PyMem_Free(t.a.buf);
    if (rc == W_BAIL)
        Py_RETURN_NONE;
    return out;
}

static PyObject *
element_own_text(PyObject *self, PyObject *el)
{
    if (s_br == NULL)
        Py_RETURN_NONE;
    PyObject *ch = node_get(el, s_children);
    if (ch == NULL)
        return NULL;
    if (!PyList_Check(ch)) {
        Py_DECREF(ch);
        Py_RETURN_NONE;
    }
    TAcc t = {{NULL, 0, 0}, 0, 0};
    int preserve = -1, rc = 0;  /* computed at the first text child */
    for (Py_ssize_t i = 0; rc == 0 && i < PyList_GET_SIZE(ch); i++) {
        PyObject *c = PyList_GET_ITEM(ch, i);
        PyTypeObject *tp = Py_TYPE(c);
        if (tp == (PyTypeObject *)g_textnode && preserve < 0) {
            int d = w_pre_distance(el);
            if (d < 0) {
                rc = -1;
                break;
            }
            preserve = d <= 5;
        }
        rc = t_text_child(&t, c, preserve > 0);
        if (rc != 0) {
            if (rc == 1)
                rc = 0;
            continue;
        }
        if (PyObject_TypeCheck(c, (PyTypeObject *)g_textnode))
            rc = W_BAIL;   /* a TextNode subclass: Python's isinstance */
        else if (PyObject_TypeCheck(c, (PyTypeObject *)g_element) && !t.sp) {
            rc = t_is_br(c);
            if (rc > 0)
                rc = t_space(&t);
        }
    }
    Py_DECREF(ch);
    PyObject *out = NULL;
    if (rc == 0)
        out = t_result(&t);
    else if (rc == W_BAIL) {
        Py_INCREF(Py_None);
        out = Py_None;
    }
    PyMem_Free(t.a.buf);
    return out;
}

static PyMethodDef methods[] = {
    {"configure", configure, METH_VARARGS,
     "configure(actions, ns_html, Element, TextNode, errs7, in_body, flag_data)"},
    {"apply", apply, METH_VARARGS,
     "apply(tb, token, q) -> leftover token or None"},
    #ifdef FT_PROF
    {"prof_stats", prof_stats, METH_NOARGS, "profiler buckets"},
#endif
    {"configure_scan", configure_scan, METH_VARARGS,
     "configure_scan(stop_set, decode_attr_value, data_state)"},
    {"scan", scan, METH_VARARGS,
     "scan(s, pos, errors) -> (tokens, end_pos, markup_start, last_start)"},
    {"configure_pump", configure_pump, METH_VARARGS,
     "set tokenizer state table + Character class for C-side refill"},
    {"configure_prelude", configure_prelude, METH_VARARGS,
     "configure Initial/BeforeHtml prelude + AfterBody endgame"},
    {"configure_head", configure_head, METH_VARARGS,
     "configure_head(head_empty_set, resolve, DataNode, CData, before_head, in_head, after_head, text, rcdata, rawtext, scriptdata)"},
    {"configure_walk", configure_walk, METH_VARARGS,
     "configure_walk(media_set, data_set, resolve, DataNode, Comment)"},
    {"configure_text", configure_text, METH_VARARGS,
     "configure_text(Element, TextNode, CData, BLOCK, TEXT_BOUNDARY, PRESERVE_WS)"},
    {"element_text", element_text, METH_O,
     "element_text(el) -> Element.text() str or None (bail)"},
    {"element_own_text", element_own_text, METH_O,
     "element_own_text(el) -> Element.own_text() str or None (bail)"},
    {"title_text", title_text, METH_VARARGS,
     "title_text(doc) -> normalized title str or NotImplemented"},
    {"walk_spans", walk_spans, METH_VARARGS,
     "walk_spans(body, base_uri) -> list[(kind,text,ref)] or None (bail)"},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef moduledef = {
    PyModuleDef_HEAD_INIT, "jsoup_fasttree", NULL, -1, methods,
};

PyMODINIT_FUNC
PyInit_jsoup_fasttree(void)
{
    if (init_interned() < 0 || PyType_Ready(&FastTokenType) < 0)
        return NULL;
    return PyModule_Create(&moduledef);
}
