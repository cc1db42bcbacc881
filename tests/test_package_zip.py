"""The ``--py-files`` artifact imports on its own.

``tools/package.py`` zips the package for ``spark-submit``. A package
module that imports a repo-root file (``fixture_writers.py``,
``__spark_entry__.py``, ...) works in the repo checkout but fails on a
cluster, where only the zip ships. This test builds the zip and imports
every module from it in a fresh interpreter whose ``sys.path`` holds the
zip but not the repo root.
"""

import os
import subprocess
import sys
import zipfile

from conftest import REPO

_IMPORT_ALL = """
import importlib, os, sys, zipfile
zip_path = sys.argv[1]
repo = os.path.realpath(sys.argv[2])
assert not any(os.path.realpath(p or os.getcwd()) == repo for p in sys.path), sys.path
names = sorted(
    n[:-3].replace("/", ".").removesuffix(".__init__")
    for n in zipfile.ZipFile(zip_path).namelist()
)
for name in names:
    mod = importlib.import_module(name)
    assert mod.__file__.startswith(zip_path), (name, mod.__file__)
print(len(names))
"""


def test_every_package_module_imports_from_the_zip_alone(tmp_path):
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "package.py"), str(tmp_path)],
        cwd=REPO, check=True, capture_output=True,
    )
    zip_path = str(tmp_path / "kg_engine.zip")
    n_modules = len(zipfile.ZipFile(zip_path).namelist())
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = zip_path
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALL, zip_path, REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert int(out.stdout.split()[-1]) == n_modules
