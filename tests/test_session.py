"""session._ship_package ships a zip built from this tree, never a zip that
another version of the package left in $SPARK_GRAFT_TMP. No Spark needed."""

import os
import zipfile

import oaxaca_blinder_rs_spark
from oaxaca_blinder_rs_spark import session


class _RecordingContext:
    def __init__(self):
        self.shipped = []

    def addPyFile(self, path):
        self.shipped.append(path)


class _StubSpark:
    def __init__(self):
        self.sparkContext = _RecordingContext()


def _tree_sources():
    pkg = os.path.dirname(os.path.abspath(oaxaca_blinder_rs_spark.__file__))
    out = {}
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, os.path.dirname(pkg))] = fh.read()
    return out


def test_ship_package_ignores_stale_zip(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_TMP", str(tmp_path))
    stale = tmp_path / "oaxaca_blinder_rs_spark_pkg.zip"
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr("oaxaca_blinder_rs_spark/__init__.py", "STALE = True\n")

    spark = _StubSpark()
    session._ship_package(spark)
    session._ship_package(spark)  # a second launch reuses the same zip
    first, second = spark.sparkContext.shipped
    assert first == second
    assert os.path.abspath(first) != str(stale)
    with zipfile.ZipFile(first) as zf:
        shipped = {name: zf.read(name) for name in zf.namelist()}
    assert shipped == _tree_sources()
