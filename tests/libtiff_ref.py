"""ctypes bindings for the system libtiff, used ONLY as a test oracle.

The engine's TIFF codec (operators/tiff.py) is native Python/numpy;
this module lets the test suite validate it pixel-exactly against the
canonical libtiff (`TIFFReadRGBAImageOriented`, top-left origin) when
libtiff.so is present — tests skip otherwise.  The RGBA interface
normalizes every supported layout (strips/tiles, chunky/planar,
palette, WhiteIsZero, all compressions) to RGBA8888, giving one
canonical rendering to compare against.

libtiff conversion conventions the tests account for: 16-bit samples
are CHOPPED to their top byte (not round-scaled), so 16-bit test data
uses v = k*257 values where both mappings agree; palette ColorMaps are
detected as 8- or 16-bit by value range exactly as our decoder does.
"""

from __future__ import annotations

import ctypes
import os
import tempfile

import numpy as np

_LIB = None
#: format strings of the errors and warnings libtiff reported during the
#: last decode_rgba call, also ones it recovered from (it fills in a
#: corrupt CCITT row, goes on and returns success)
reported = []


@ctypes.CFUNCTYPE(None, ctypes.c_char_p, ctypes.c_char_p, ctypes.c_void_p)
def _on_error(module, fmt, args):
    reported.append(fmt)


def libtiff():
    global _LIB
    if _LIB is None:
        lib = ctypes.CDLL("libtiff.so.6")
        lib.TIFFOpen.restype = ctypes.c_void_p
        lib.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
        lib.TIFFClose.restype = None
        lib.TIFFClose.argtypes = [ctypes.c_void_p]
        lib.TIFFReadRGBAImageOriented.restype = ctypes.c_int
        lib.TIFFReadRGBAImageOriented.argtypes = [
            ctypes.c_void_p, ctypes.c_uint32, ctypes.c_uint32,
            ctypes.c_void_p, ctypes.c_int, ctypes.c_int]
        # record errors and warnings in `reported` instead of printing
        for name in ("TIFFSetWarningHandler", "TIFFSetErrorHandler"):
            getattr(lib, name).restype = ctypes.c_void_p
            getattr(lib, name).argtypes = [ctypes.c_void_p]
            getattr(lib, name)(ctypes.cast(_on_error, ctypes.c_void_p))
        _LIB = lib
    return _LIB


def available() -> bool:
    try:
        libtiff()
        return True
    except OSError:
        return False


def encode(img: np.ndarray, *, compression: int = 1,
           predictor: int | None = None,
           rows_per_strip: int | None = None) -> bytes:
    """Encode uint8 gray/(H,W,1)/RGB/(H,W,4) via libtiff's own writer —
    the cross-direction oracle for OUR decoder."""
    lib = libtiff()
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, spp = img.shape
    lib.TIFFWriteScanline.restype = ctypes.c_int
    lib.TIFFWriteScanline.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_uint32,
        ctypes.c_uint16]
    fd, path = tempfile.mkstemp(suffix=".tif")
    os.close(fd)
    try:
        tif = lib.TIFFOpen(path.encode(), b"w")
        if not tif:
            raise ValueError("libtiff open-for-write failed")
        t = ctypes.c_void_p(tif)

        def setf(tag, val):
            if not lib.TIFFSetField(t, ctypes.c_uint32(tag),
                                    ctypes.c_int(val)):
                raise ValueError(f"TIFFSetField {tag} failed")

        setf(256, w)
        setf(257, h)
        setf(258, 8)
        setf(259, compression)
        setf(262, 1 if spp == 1 else 2)     # BlackIsZero / RGB
        setf(277, spp)
        setf(278, rows_per_strip or h)
        setf(284, 1)
        if predictor:
            setf(317, predictor)
        if spp == 4:
            arr2 = (ctypes.c_uint16 * 1)(2)  # unassociated alpha
            lib.TIFFSetField(t, ctypes.c_uint32(338),
                             ctypes.c_int(1), arr2)
        row = np.ascontiguousarray(img.astype(np.uint8))
        for y in range(h):
            if lib.TIFFWriteScanline(
                    tif, row[y].ctypes.data_as(ctypes.c_void_p),
                    y, 0) != 1:
                raise ValueError("TIFFWriteScanline failed")
        lib.TIFFClose(tif)
        with open(path, "rb") as f:
            return f.read()
    finally:
        os.unlink(path)


def decode_rgba(data: bytes) -> np.ndarray:
    """Decode via TIFFReadRGBAImageOriented (ORIENTATION_TOPLEFT) ->
    uint8 (H, W, 4). Raises ValueError on libtiff errors."""
    lib = libtiff()
    del reported[:]
    fd, path = tempfile.mkstemp(suffix=".tif")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        tif = lib.TIFFOpen(path.encode(), b"r")
        if not tif:
            raise ValueError("libtiff open failed")
        try:
            w = ctypes.c_uint32(0)
            h = ctypes.c_uint32(0)
            # TIFFGetField is varargs: declare per call site
            lib.TIFFGetField(ctypes.c_void_p(tif),
                             ctypes.c_uint32(256), ctypes.byref(w))
            lib.TIFFGetField(ctypes.c_void_p(tif),
                             ctypes.c_uint32(257), ctypes.byref(h))
            if not w.value or not h.value:
                raise ValueError("libtiff missing dimensions")
            buf = (ctypes.c_uint32 * (w.value * h.value))()
            ok = lib.TIFFReadRGBAImageOriented(
                tif, w.value, h.value, buf, 1, 0)  # 1 = TOPLEFT
            if not ok:
                raise ValueError("libtiff RGBA read failed")
            raw = np.frombuffer(bytes(buf), np.uint32).reshape(
                h.value, w.value)
            out = np.empty((h.value, w.value, 4), np.uint8)
            out[:, :, 0] = raw & 0xFF            # TIFFGetR
            out[:, :, 1] = (raw >> 8) & 0xFF
            out[:, :, 2] = (raw >> 16) & 0xFF
            out[:, :, 3] = (raw >> 24) & 0xFF
            return out
        finally:
            lib.TIFFClose(tif)
    finally:
        os.unlink(path)


def encode_bilevel(img: np.ndarray, *, compression: int = 4,
                   photometric: int = 0,
                   rows_per_strip: int | None = None) -> bytes:
    """Encode a bilevel (H,W) 0/1 array via libtiff's own G3/G4
    writer — the cross-direction oracle for OUR CCITT decoder.
    img values: 1 = black when photometric=0 (MinIsWhite)."""
    lib = libtiff()
    h, w = img.shape
    lib.TIFFWriteScanline.restype = ctypes.c_int
    lib.TIFFWriteScanline.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_uint32,
        ctypes.c_uint16]
    fd, path = tempfile.mkstemp(suffix=".tif")
    os.close(fd)
    try:
        tif = lib.TIFFOpen(path.encode(), b"w")
        if not tif:
            raise ValueError("libtiff open-for-write failed")
        t = ctypes.c_void_p(tif)

        def setf(tag, val):
            if not lib.TIFFSetField(t, ctypes.c_uint32(tag),
                                    ctypes.c_int(val)):
                raise ValueError(f"TIFFSetField {tag} failed")

        setf(256, w)
        setf(257, h)
        setf(258, 1)
        setf(259, compression)
        setf(262, photometric)
        setf(277, 1)
        setf(278, rows_per_strip or h)
        setf(284, 1)
        packed = np.packbits(img.astype(np.uint8), axis=1)
        packed = np.ascontiguousarray(packed)
        for y in range(h):
            if lib.TIFFWriteScanline(
                    tif, packed[y].ctypes.data_as(ctypes.c_void_p),
                    y, 0) != 1:
                raise ValueError("TIFFWriteScanline failed")
        lib.TIFFClose(tif)
        with open(path, "rb") as f:
            return f.read()
    finally:
        os.unlink(path)


def encode_bilevel_g3(img: np.ndarray, *, t4options: int = 0,
                      photometric: int = 0) -> bytes:
    """G3 (compression 3) writer with T4Options (bit0=2D, bit2=fill)."""
    lib = libtiff()
    h, w = img.shape
    lib.TIFFWriteScanline.restype = ctypes.c_int
    lib.TIFFWriteScanline.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_uint32,
        ctypes.c_uint16]
    fd, path = tempfile.mkstemp(suffix=".tif")
    os.close(fd)
    try:
        tif = lib.TIFFOpen(path.encode(), b"w")
        if not tif:
            raise ValueError("libtiff open-for-write failed")
        t = ctypes.c_void_p(tif)

        def setf(tag, val):
            if not lib.TIFFSetField(t, ctypes.c_uint32(tag),
                                    ctypes.c_int(val)):
                raise ValueError(f"TIFFSetField {tag} failed")

        setf(256, w)
        setf(257, h)
        setf(258, 1)
        setf(259, 3)
        setf(262, photometric)
        setf(277, 1)
        setf(278, h)
        setf(284, 1)
        setf(292, t4options)
        packed = np.packbits(img.astype(np.uint8), axis=1)
        packed = np.ascontiguousarray(packed)
        for y in range(h):
            if lib.TIFFWriteScanline(
                    tif, packed[y].ctypes.data_as(ctypes.c_void_p),
                    y, 0) != 1:
                raise ValueError("TIFFWriteScanline failed")
        lib.TIFFClose(tif)
        with open(path, "rb") as f:
            return f.read()
    finally:
        os.unlink(path)
