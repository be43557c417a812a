"""Session defaults (dataslicer_spark/session.py), computed without a JVM,
and the table loader's per-session schema cache."""

from __future__ import annotations

import os
from weakref import WeakKeyDictionary

import pytest
from pyspark.sql.types import TimestampNTZType, TimestampType

import __spark_entry__ as entrymod
from dataslicer_spark import session


def _host(monkeypatch, phys_bytes: int) -> None:
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_bytes // page}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)


@pytest.mark.parametrize(
    "phys_gib, want",
    [(15, "7680m"), (16, "8192m"), (128, "65536m"), (512, "65536m")],
)
def test_driver_memory_defaults_to_half_of_host_capped(monkeypatch, phys_gib, want):
    _host(monkeypatch, phys_gib << 30)
    assert session.driver_memory() == want


def test_exported_driver_memory_wins(monkeypatch):
    _host(monkeypatch, 16 << 30)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert session.driver_memory() == "2g"


def test_cpus_default_to_the_cores_this_process_may_use(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.host_cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert session.host_cpus() == 6


@pytest.fixture
def fresh_schemas(monkeypatch):
    """An empty schema cache, so the first load in a test infers."""
    monkeypatch.setattr(session, "_SCHEMAS", WeakKeyDictionary())


def test_second_load_of_unchanged_table_runs_no_job(
    spark, sf_dir, count_jobs, fresh_schemas
):
    first, n_first = count_jobs(lambda: session.load_tables(spark, sf_dir, "lineitem"))
    again, n_again = count_jobs(lambda: session.load_tables(spark, sf_dir, "lineitem"))
    assert (n_first, n_again) == (1, 0)
    assert again.schema == first.schema
    assert again.count() == first.count()
    # the cache lives in the session: a new one infers again
    other = spark.newSession()
    _, n_other = count_jobs(lambda: session.load_tables(other, sf_dir, "lineitem"))
    assert n_other == 1


@pytest.mark.parametrize("layout", ["directory", "file"])
def test_rewritten_table_is_reinferred(spark, tmp_path, count_jobs, fresh_schemas, layout):
    """A table rewritten at the same path with other columns is read with
    its new schema, as a Spark output directory and as one parquet file."""
    path = str(tmp_path / "t.parquet")

    def write(df):
        if layout == "directory":
            df.write.mode("overwrite").parquet(path)
        else:
            df.toPandas().to_parquet(path)

    write(spark.createDataFrame([(1, "x")], "a long, b string"))
    assert session.load_tables(spark, str(tmp_path), "t").columns == ["a", "b"]
    _, n_cached = count_jobs(lambda: session.load_tables(spark, str(tmp_path), "t"))
    assert n_cached == 0

    write(spark.createDataFrame([(2, 3.5, True)], "a long, c double, d boolean"))
    t, n_new = count_jobs(lambda: session.load_tables(spark, str(tmp_path), "t"))
    assert n_new == 1
    assert t.schema.simpleString() == "struct<a:bigint,c:double,d:boolean>"
    assert [tuple(r) for r in t.collect()] == [(2, 3.5, True)]


def test_flipped_inference_conf_gives_the_new_type(spark, sf_dir, fresh_schemas):
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert spark.conf.get(ntz) == "true"
    li = session.load_tables(spark, sf_dir, "lineitem")
    assert isinstance(li.schema["l_shipdate"].dataType, TimestampNTZType)
    spark.conf.set(ntz, "false")
    try:
        flipped = session.load_tables(spark, sf_dir, "lineitem")
        inferred = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).schema
    finally:
        spark.conf.unset(ntz)
    assert isinstance(flipped.schema["l_shipdate"].dataType, TimestampType)
    assert flipped.schema == inferred
    back = session.load_tables(spark, sf_dir, "lineitem")
    assert isinstance(back.schema["l_shipdate"].dataType, TimestampNTZType)


def test_cached_schema_is_sparks_own_for_every_sf_table(spark, sf_dir, count_jobs):
    names = sorted(f[: -len(".parquet")] for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    session.load_tables(spark, sf_dir, *names)
    cached, n = count_jobs(lambda: session.load_tables(spark, sf_dir, *names))
    assert n == 0
    ntz = []
    for name in names:
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        assert cached[name].schema == inferred, name
        ntz += [f"{name}.{f.name}" for f in inferred if isinstance(f.dataType, TimestampNTZType)]
    assert {"lineitem.l_shipdate", "orders.o_orderdate"} <= set(ntz)


@pytest.mark.parametrize("query, tables", [("gr_pagerank", 2), ("emb_kmeans", 1)])
def test_repeat_registry_build_skips_schema_inference(
    spark, sf_dir, count_jobs, fresh_schemas, query, tables
):
    """A query's second build runs one job fewer per table it loads: the
    schema-inference job of each table."""
    build = entrymod.queries()[query]
    _, first = count_jobs(lambda: build(spark, sf_dir))
    _, second = count_jobs(lambda: build(spark, sf_dir))
    assert first - second == tables
