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
