"""The committed C accelerators are built from the committed sources.

The engine imports the prebuilt `jsoup_spark/_native/*.so` files; a stale
binary would silently keep running old code. Each module is rebuilt with
tools/build_native.sh's command (plus -Wall -Werror, which does not change
the output) and must equal the committed file byte for byte."""

import os
import shutil
import subprocess
import sysconfig

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FLAGS = ["-O2", "-fPIC", "-shared"]


@pytest.mark.skipif(shutil.which("gcc") is None, reason="gcc is not installed")
@pytest.mark.parametrize("module", ["fastscan", "fasttree", "fastser"])
def test_committed_native_module_matches_source(module, tmp_path):
    with open(os.path.join(REPO, "tools", "build_native.sh")) as f:
        script = f.read()
    src = f"jsoup_spark/_native/{module}.c"
    assert f'gcc {" ".join(FLAGS)} -I"$INC" {src}' in script
    inc = sysconfig.get_paths()["include"]
    name = f"jsoup_{module}{sysconfig.get_config_var('EXT_SUFFIX')}"
    out = tmp_path / name
    # run from the repository root with the relative source path, as the
    # script does: the path is recorded in the binary
    cc = subprocess.run(["gcc", *FLAGS, "-Wall", "-Werror", f"-I{inc}", src,
                         "-o", str(out)], cwd=REPO, capture_output=True,
                        text=True)
    assert cc.returncode == 0, cc.stderr
    with open(os.path.join(REPO, "jsoup_spark", "_native", name), "rb") as f:
        committed = f.read()
    assert out.read_bytes() == committed, (
        f"{name} is stale: rebuild it with tools/build_native.sh")
