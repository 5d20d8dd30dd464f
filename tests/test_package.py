"""The deploy artifact: tools/package.sh builds the zip that
`spark-submit --py-files` ships, and the engine imports from it alone."""

import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
import jsoup_spark, jsoup_spark.operators.blocking
from jsoup_spark import parse
assert jsoup_spark.__file__.startswith(sys.argv[1]), jsoup_spark.__file__
assert jsoup_spark.operators.blocking.__file__.startswith(sys.argv[1])
assert parse("<p>hi <b>there</b></p>").text() == "hi there"
"""


def test_package_zip_imports_standalone(tmp_path):
    subprocess.run(["bash", os.path.join(REPO, "tools", "package.sh")],
                   check=True, capture_output=True)
    zpath = str(tmp_path / "jsoup_spark.zip")
    shutil.copy(os.path.join(REPO, "dist", "jsoup_spark.zip"), zpath)
    # cwd outside the repo and no PYTHONPATH: only the zip provides
    # jsoup_spark
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    subprocess.run([sys.executable, "-c", _PROBE, zpath], cwd=tmp_path,
                   env=env, check=True)


def test_every_module_imports_in_as_form():
    """`import a.b.c as m` resolves `c` as an attribute of `a.b`, so a
    facade name bound on the package over a subpackage breaks it."""
    import pkgutil

    import jsoup_spark
    names = [m.name for m in pkgutil.walk_packages(jsoup_spark.__path__,
                                                   "jsoup_spark.")]
    assert "jsoup_spark.clean.serializer" in names
    for name in names:
        exec(f"import {name} as _m")


def test_no_unreferenced_top_level_names():
    """Every top-level def, class and assignment in the package is used:
    its name appears as a word in another source file, or a second time
    in its own (an `__all__` entry counts). Dunder names and decorated
    functions (registered by their decorator) are exempt."""
    import ast
    import collections
    import glob
    import re

    def sources(*patterns):
        return [p for pat in patterns
                for p in glob.glob(os.path.join(REPO, pat), recursive=True)]

    def words_of(path):
        with open(path, encoding="utf-8", errors="replace") as f:
            return collections.Counter(re.findall(r"\w+", f.read()))

    package = sources("jsoup_spark/**/*.py")
    words = {p: words_of(p) for p in package + sources(
        "jsoup_spark/_native/*.c", "tests/**/*.py", "tools/**/*.py",
        "tools/**/*.sh", "perfbench/**/*.py", "__spark_entry__.py",
        "bench.py")}
    unused = []
    for path in package:
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names = [] if node.decorator_list else [node.name]
            elif isinstance(node, ast.ClassDef):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) \
                    else [node.target]
                names = [n.id for t in targets for n in ast.walk(t)
                         if isinstance(n, ast.Name)]
            else:
                continue
            for name in names:
                if name.startswith("__") and name.endswith("__"):
                    continue
                if words[path][name] > 1 or any(
                        w[name] for p, w in words.items() if p != path):
                    continue
                unused.append(f"{os.path.relpath(path, REPO)}:"
                              f"{node.lineno} {name}")
    assert not unused, unused
