"""Session helpers: the stamped zip invalidation every engine Python stage
installs in its worker, and driver-built frames that scan with no Python
worker."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from dude_spark import session
from dude_spark.api import Scraper
from dude_spark.extract import EXTRACT_SCHEMA, make_extract_iterator
from dude_spark.frontier import seed_frontier

below_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ zipimporter drops its cache lazily; nothing is installed",
)
SHIM = "_lazy_zip_invalidation.<locals>.invalidate_caches"


def _write_zip(path, modules):
    with zipfile.ZipFile(path + ".tmp", "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(path + ".tmp", path)


@below_313
def test_lazy_zip_invalidation_rereads_only_changed_archives(tmp_path):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"zshim_a": "X = 1\n"})
    orig = zipimport.zipimporter.invalidate_caches
    sys.path.insert(0, zpath)
    try:
        import zshim_a  # noqa: F401  (creates the archive's importer)

        imp = sys.path_importer_cache[zpath]
        assert isinstance(imp, zipimport.zipimporter)
        files = imp._files
        importlib.invalidate_caches()
        assert imp._files is not files  # the stock method re-reads eagerly
        session._lazy_zip_invalidation()
        files = imp._files
        importlib.invalidate_caches()
        assert imp._files is files
        _write_zip(zpath, {"zshim_a": "X = 1\n", "zshim_b": "Y = 2\n"})
        importlib.invalidate_caches()
        import zshim_b

        assert zshim_b.Y == 2
    finally:
        zipimport.zipimporter.invalidate_caches = orig
        sys.path.remove(zpath)
        sys.path_importer_cache.pop(zpath, None)
        for m in ("zshim_a", "zshim_b"):
            sys.modules.pop(m, None)


@below_313
def test_engine_stage_installs_lazy_zip_invalidation(spark):
    """A handler runs inside the extraction kernel's mapInPandas task and
    reports the invalidation method it finds there; the driver keeps the
    stock one."""
    app = Scraper()

    @app.select(css="title")
    def probe(element):
        import zipimport as zi

        return {"method": zi.zipimporter.invalidate_caches.__qualname__}

    pages = spark.createDataFrame(
        [(f"https://a.test/{i}", "<html><title>t</title></html>") for i in range(8)],
        "url string, html string",
    ).repartition(4)
    rows = pages.mapInPandas(
        make_extract_iterator(app.compile()), EXTRACT_SCHEMA
    ).collect()
    assert len(rows) == 8
    assert {r["data"]["method"] for r in rows} == {SHIM}
    assert zipimport.zipimporter.invalidate_caches.__qualname__ != SHIM


def _python_rdd(df) -> bool:
    return "PythonRDD[" in df._jdf.queryExecution().toRdd().toDebugString()


def test_driver_built_frames_scan_without_python_workers(spark):
    from pyspark.sql.types import _parse_datatype_string

    ddl = "url string, url_hash bigint, rules array<struct<path string, allow boolean>>"
    assert _python_rdd(spark.createDataFrame([], ddl))  # the path avoided
    empty = session._local_relation(spark, [], ddl)
    assert empty.schema == _parse_datatype_string(ddl)
    assert not _python_rdd(empty) and empty.count() == 0
    assert not _python_rdd(seed_frontier(spark, ["https://a.test/x"]))
    # independent of the session's Arrow conf
    with session._conf_override(
        spark, {"spark.sql.execution.arrow.pyspark.enabled": "false"}
    ):
        rows = session._local_relation(spark, [("u", 7, None)], ddl)
        assert not _python_rdd(rows)
        assert [tuple(r) for r in rows.collect()] == [("u", 7, None)]
