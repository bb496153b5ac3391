"""The --py-files artifact: `scripts/make_dist.py` builds the zip that
local-cluster executors (and `spark-submit --py-files`) import the
engine from. Every module it lists must import from the zip alone,
with the source tree off `sys.path`. No JVM is started."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import importlib, json, sys
zip_path, names = sys.argv[1], json.loads(sys.argv[2])
sys.path.insert(0, zip_path)
for name in names:
    importlib.import_module(name)
import pyspider_spark
print(pyspider_spark.__file__)
"""


def test_every_zipped_module_imports_from_the_zip(tmp_path):
    built = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "make_dist.py")],
        check=True,
        capture_output=True,
        text=True,
        timeout=120,
    )
    zip_path = built.stdout.strip().splitlines()[-1]
    with zipfile.ZipFile(zip_path) as z:
        files = [n for n in z.namelist() if n.endswith(".py")]
    assert "pyspider_spark/__init__.py" in files
    modules = sorted(
        n[: -len(".py")].removesuffix("/__init__").replace("/", ".") for n in files
    )

    # -I: no cwd, no PYTHONPATH, no user site — the zip is the only
    # place the engine can come from
    child = subprocess.run(
        [sys.executable, "-I", "-c", _CHILD, zip_path, json.dumps(modules)],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert child.returncode == 0, child.stderr[-2000:]
    pkg_file = child.stdout.strip().splitlines()[-1]
    assert pkg_file.startswith(zip_path + os.sep), pkg_file
