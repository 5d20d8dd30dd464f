"""The committed C accelerators are built from the committed sources.

The engine imports the prebuilt `jsoup_spark/_native/*.so` files; a stale
binary would silently keep running old code. Each module is rebuilt with
tools/build_native.sh's command (plus -Wall -Werror, which does not change
the output) and must equal the committed file byte for byte. A committed
binary without a source or a build line would be stale by construction."""

import glob
import os
import shutil
import subprocess
import sysconfig

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NATIVE = os.path.join(REPO, "jsoup_spark", "_native")
FLAGS = ["-O2", "-fPIC", "-shared"]
MODULES = sorted(os.path.basename(p)[:-2]
                 for p in glob.glob(os.path.join(NATIVE, "*.c")))


def _build_line(module):
    return (f'gcc {" ".join(FLAGS)} -I"$INC" '
            f"jsoup_spark/_native/{module}.c")


def _script():
    with open(os.path.join(REPO, "tools", "build_native.sh")) as f:
        return f.read()


def test_every_committed_binary_has_a_source_and_a_build_line():
    script = _script()
    for path in glob.glob(os.path.join(NATIVE, "jsoup_*.so")):
        module = os.path.basename(path)[len("jsoup_"):].split(".")[0]
        assert module in MODULES, f"{path} has no {module}.c source"
        assert _build_line(module) in script, (
            f"tools/build_native.sh does not build {module}.c")


@pytest.mark.skipif(shutil.which("gcc") is None, reason="gcc is not installed")
@pytest.mark.parametrize("module", MODULES)
def test_committed_native_module_matches_source(module, tmp_path):
    assert _build_line(module) in _script()
    src = f"jsoup_spark/_native/{module}.c"
    inc = sysconfig.get_paths()["include"]
    name = f"jsoup_{module}{sysconfig.get_config_var('EXT_SUFFIX')}"
    out = tmp_path / name
    # run from the repository root with the relative source path, as the
    # script does: the path is recorded in the binary
    cc = subprocess.run(["gcc", *FLAGS, "-Wall", "-Werror", f"-I{inc}", src,
                         "-o", str(out)], cwd=REPO, capture_output=True,
                        text=True)
    assert cc.returncode == 0, cc.stderr
    with open(os.path.join(NATIVE, name), "rb") as f:
        committed = f.read()
    assert out.read_bytes() == committed, (
        f"{name} is stale: rebuild it with tools/build_native.sh")
