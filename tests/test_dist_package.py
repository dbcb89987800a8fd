"""The --py-files artifact must track the package: a module added without
re-running jobs/package_pyfiles.py would import fine locally and crash only
on a real cluster — fail here instead. The zip is built into a tmp dir and
every module is imported from it in an interpreter that cannot see the
checkout."""

import importlib.util
import json
import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent

IMPORT_ALL = """
import importlib, json, sys
sys.path.insert(0, sys.argv[1])
files = {m: importlib.import_module(m).__file__ for m in json.loads(sys.argv[2])}
print(json.dumps(files))
"""


def test_dist_zip_contains_every_module(tmp_path):
    spec = importlib.util.spec_from_file_location("package_pyfiles", REPO / "jobs/package_pyfiles.py")
    package_pyfiles = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(package_pyfiles)
    zip_path = package_pyfiles.build(tmp_path / "rio_spark.zip")
    modules = sorted(
        ".".join(p.relative_to(REPO).with_suffix("").parts).removesuffix(".__init__")
        for p in (REPO / "rio_spark").rglob("*.py")
        if "__pycache__" not in p.parts
    )
    # cwd is the tmp dir and PYTHONPATH is unset, so only the zip holds rio_spark
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", IMPORT_ALL, str(zip_path), json.dumps(modules)],
        cwd=tmp_path, env=env, capture_output=True, text=True,
    )
    assert proc.returncode == 0, proc.stderr
    files = json.loads(proc.stdout)
    outside = {m: f for m, f in files.items() if not f.startswith(str(zip_path) + "/")}
    assert not outside, f"modules not imported from the zip: {outside}"
