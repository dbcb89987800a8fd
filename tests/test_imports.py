"""Every module of the package, every job script and the driver entry
import cleanly, so a deletion that leaves a dangling import fails here in
seconds instead of at CLI time.  All scripts keep their work behind
``__main__`` guards, so importing them runs nothing."""

import importlib
import importlib.util
import pkgutil
from pathlib import Path

import pytest

import rio_spark

ROOT = Path(__file__).resolve().parents[1]
MODULES = sorted(
    m.name for m in pkgutil.walk_packages(rio_spark.__path__, "rio_spark.")
)
SCRIPTS = sorted(
    str(p.relative_to(ROOT))
    for p in [*ROOT.glob("jobs/*.py"), ROOT / "__spark_entry__.py"]
)


def test_walk_found_the_package():
    assert "rio_spark.pipeline" in MODULES
    assert "jobs/run_pipeline.py" in SCRIPTS


@pytest.mark.parametrize("name", MODULES)
def test_module_imports(name):
    importlib.import_module(name)


@pytest.mark.parametrize("path", SCRIPTS)
def test_script_imports(path):
    mod_name = "_import_smoke_" + path.replace("/", "_").removesuffix(".py")
    spec = importlib.util.spec_from_file_location(mod_name, ROOT / path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
