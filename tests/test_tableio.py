"""TableIO backend selection (the parquet/Iceberg flag, r3) and what the
parquet store counts as written."""

import os

import pytest


def test_auto_selects_parquet_without_iceberg_catalog(spark, tmp_path):
    from walker_spark.sources.tables import (
        ParquetTableIO,
        iceberg_catalogs,
        make_table_io,
    )

    assert iceberg_catalogs(spark) == []  # no Iceberg runtime in sandbox
    io = make_table_io(spark, str(tmp_path))
    assert isinstance(io, ParquetTableIO)


def test_explicit_iceberg_fails_fast_with_setup_hint(spark, tmp_path):
    from walker_spark.sources.tables import make_table_io

    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        make_table_io(spark, str(tmp_path), backend="iceberg")


def test_env_var_flag(spark, tmp_path, monkeypatch):
    from walker_spark.sources.tables import ParquetTableIO, make_table_io

    monkeypatch.setenv("SPARK_GRAFT_TABLE_BACKEND", "parquet")
    assert isinstance(make_table_io(spark, str(tmp_path)), ParquetTableIO)
    monkeypatch.setenv("SPARK_GRAFT_TABLE_BACKEND", "bogus")
    with pytest.raises(ValueError, match="unknown table backend"):
        make_table_io(spark, str(tmp_path))


def test_runtime_catalog_conf_detected(spark):
    """Catalogs registered AFTER context creation via spark.conf.set
    must be visible (ADVICE r3: getConf().getAll() only reflects
    creation-time conf, so backend='auto' stayed on parquet for
    runtime-configured catalogs)."""
    from walker_spark.sources.tables import iceberg_catalogs

    key = "spark.sql.catalog.rt_test_cat"
    spark.conf.set(key, "org.apache.iceberg.spark.SparkCatalog")
    try:
        assert "rt_test_cat" in iceberg_catalogs(spark)
    finally:
        spark.conf.unset(key)
    assert "rt_test_cat" not in iceberg_catalogs(spark)


def test_iceberg_namespace_derives_from_root():
    """Two Crawlers sharing a session must get DISJOINT Iceberg table
    spaces (ADVICE r3: a fixed 'walker' namespace let Crawler.loop's
    per-loop roots clobber each other). The namespace derivation is
    pure — assert it without an Iceberg runtime by computing idents the
    way __init__ does."""
    from walker_spark.sources.tables import namespace_for_root

    a = namespace_for_root("/ck/loop=0000")
    b = namespace_for_root("/ck/loop=0001")
    assert a != b and a.startswith("walker_ck_loop_0000_")
    # roots that sanitize identically still get distinct namespaces
    assert namespace_for_root("/ck/r.1") != namespace_for_root("/ck/r_1")
    # valid SQL identifier (alnum + underscore only)
    assert all(c.isalnum() or c == "_" for c in a)


def test_iceberg_catalog_detection_logic(spark):
    """iceberg_catalogs keys off spark.sql.catalog.<name> conf entries
    pointing at Iceberg's SparkCatalog — verify the parsing against the
    session's real conf list shape (no fake catalogs registered here,
    so the detection must return [] and not crash on nested keys like
    spark.sql.catalog.x.type)."""
    from walker_spark.sources.tables import iceberg_catalogs

    got = iceberg_catalogs(spark)
    assert got == []


def test_row_count_skips_uncommitted_files(spark, tmp_path):
    """`row_count` counts what Spark's reader reads: a part file left
    under `_temporary/` by an unfinished write is not part of the table."""
    import shutil

    from walker_spark.sources.tables import ParquetTableIO

    io = ParquetTableIO(spark, str(tmp_path))
    io.write(spark.range(7).repartition(2), "t")
    part = next(f for f in os.listdir(io.path("t")) if f.endswith(".parquet"))
    stray = os.path.join(io.path("t"), "_temporary", "0")
    os.makedirs(stray)
    shutil.copy(os.path.join(io.path("t"), part), stray)

    assert io.row_count("t") == io.read("t").count() == 7
    assert io.exists("t")
    os.remove(os.path.join(io.path("t"), "_SUCCESS"))
    assert not io.exists("t")


class _StubSession:
    """Answers ``spark.sql`` by raising ``error``."""

    def __init__(self, error):
        self.error = error

    def sql(self, query):
        raise self.error


def _iceberg_io(error):
    from walker_spark.sources.tables import IcebergTableIO

    io = object.__new__(IcebergTableIO)
    io.spark, io.catalog, io.namespace, io.root = _StubSession(error), "cat", "ns", "/r"
    return io


def test_legacy_namespace_probe_tolerates_only_analysis_errors():
    from pyspark.errors import AnalysisException

    _iceberg_io(AnalysisException(message="no such namespace"))._warn_if_legacy_namespace()
    with pytest.raises(RuntimeError, match="catalog down"):
        _iceberg_io(RuntimeError("catalog down"))._warn_if_legacy_namespace()
