from __future__ import annotations

import pytest

from dataslicer_spark.utils import (
    check_col,
    expand_wildcard_columns,
    string_in_list,
    translate_query_expr,
)


def test_string_in_list_substring_semantics():
    # Reference semantics (df_utils.py:107-126): '*' → substring match.
    assert string_in_list("APCOR3", ["APCOR*"])
    assert string_in_list("XAPCORY", ["APCOR*"])  # substring, not prefix
    assert not string_in_list("APCO", ["APCOR*"])
    assert string_in_list("exact", ["exact"])
    assert not string_in_list("exact2", ["exact"])


def test_expand_wildcard_preserves_order():
    cols = ["a_price", "b_flag", "c_price_x", "d"]
    assert expand_wildcard_columns(["*price*", "d"], cols) == [
        "a_price", "c_price_x", "d",
    ]


def test_translate_chained_comparison():
    out = translate_query_expr("0.02 < l_discount < 0.07")
    assert out == "0.02 < l_discount AND l_discount < 0.07"


def test_translate_params_and_in():
    out = translate_query_expr("x < @maxq and name == @n", {"maxq": 3, "n": "a'b"})
    assert out == "x < 3 and name == 'a''b'"
    out2 = translate_query_expr("k in @lst", {"lst": [1, 2, 3]})
    assert out2 == "k in (1, 2, 3)"


def test_translate_missing_param_raises():
    with pytest.raises(KeyError):
        translate_query_expr("x < @missing")


def test_check_col_message(lineitem):
    with pytest.raises(KeyError) as e:
        check_col(["l_orderkey", "nope"], lineitem)
    assert "nope" in str(e.value)
    assert "l_orderkey" in str(e.value)  # lists available columns


def test_cluster_conf_shape():
    from dataslicer_spark.session import cluster_conf

    conf = cluster_conf(executors=1000, cores_per_executor=4)
    assert conf["spark.sql.shuffle.partitions"] == str(1000 * 4 * 2)
    assert int(conf["spark.sql.files.maxPartitionBytes"]) == 128 * 1024 * 1024
    assert conf["spark.sql.adaptive.enabled"] == "true"


def test_dense_ids_are_global_ranks(spark):
    from dataslicer_spark.utils import dense_ids

    vals = ["c", "a", "q", "a", "m", "z", "b"]  # dup 'a' collapses
    df = spark.createDataFrame([(v,) for v in vals], ["k"])
    out = {r["k"]: r["id"] for r in dense_ids(df, "k", "id", buckets=3).collect()}
    expected = {v: i for i, v in enumerate(sorted(set(vals)))}
    assert out == expected


def test_dense_ids_no_single_partition_window(spark):
    from dataslicer_spark.utils import dense_ids

    df = spark.range(100).selectExpr("CAST(id AS STRING) AS k")
    plan = dense_ids(df, "k", "id", buckets=8)._jdf.queryExecution().executedPlan().toString()
    # every Window in the plan must be partitioned (no global sort window)
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "__pid" in line, line


def test_dense_ids_empty(spark):
    from dataslicer_spark.utils import dense_ids

    df = spark.createDataFrame([], "k string")
    assert dense_ids(df, "k", "id").count() == 0


# ---- spread: guarded round-robin widening (r11 optimization) -------------


def test_spread_widens_narrow_scan(spark, tmp_path):
    from dataslicer_spark.utils import spread

    p = str(tmp_path / "one_group.parquet")
    spark.range(1000).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    target = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() < target
    out = spread(df)
    assert out.rdd.getNumPartitions() == target
    # row placement only — the value set is untouched
    assert sorted(r["v"] for r in out.collect()) == [2 * i for i in range(1000)]


def test_spread_noop_on_shuffle_rooted_frames(spark):
    from pyspark.sql import functions as F

    from dataslicer_spark.utils import spread

    agg = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    # aggregate/join/window frames are already shuffle-partitioned wide;
    # the guard must return them unchanged (same plan object)
    assert spread(agg) is agg


def test_spread_guard_reads_plan_nodes_not_names(spark, tmp_path, count_jobs):
    """The already-wide guard matches plan node names, not the plan text:
    a narrow scan whose column name spells three wide operators is still
    widened, while a real join or aggregate comes back unchanged without
    running a job."""
    from pyspark.sql import functions as F

    from dataslicer_spark.utils import spread

    p = str(tmp_path / "one_group_named.parquet")
    spark.range(200).selectExpr("id", "id AS Sorted_Window_Join").coalesce(
        1
    ).write.parquet(p)
    df = spark.read.parquet(p)
    out = spread(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r["Sorted_Window_Join"] for r in out.collect()) == list(
        range(200)
    )

    joined = df.join(spark.range(50), "id")
    agg = df.groupBy((F.col("id") % 7).alias("k")).count()
    for wide in (joined, agg):
        got, jobs = count_jobs(lambda: spread(wide))
        assert got is wide
        assert jobs == 0


def test_spread_barrier_truncates_lineage_and_keeps_rows(spark, tmp_path):
    """barrier=True must leave an RDD-scan-rooted frame: Catalyst pushes
    deterministic Projects/Filters through a round-robin Exchange, so a
    plain repartition still evaluates JVM expression kernels at scan
    width below the shuffle (r11: the minhash exact-verify shingle
    filter ran as a 1.85 s two-task stage under the Exchange)."""
    from dataslicer_spark.utils import spread

    p = str(tmp_path / "one_group_b.parquet")
    spark.range(500).selectExpr("id", "CAST(id AS STRING) AS t").coalesce(
        1
    ).write.parquet(p)
    df = spark.read.parquet(p)
    target = spark.sparkContext.defaultParallelism
    out = spread(df, barrier=True)
    assert out.rdd.getNumPartitions() == target
    plan = out._jdf.queryExecution().executedPlan().toString()
    # checkpointed: the plan root is an RDD scan with no Exchange left
    # for the optimizer to push anything below
    assert "ExistingRDD" in plan and "Exchange" not in plan
    assert sorted(r["id"] for r in out.collect()) == list(range(500))


def test_spread_barrier_noop_on_wide_input(spark):
    from dataslicer_spark.utils import spread

    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000, numPartitions=target)
    # already wide: no repartition, and therefore NO eager checkpoint job
    assert spread(wide, barrier=True) is wide


# ---- local_df: JVM-local small tables (r11 optimization) ------------------


def test_local_df_matches_list_form(spark):
    """local_df must be a drop-in for createDataFrame(list, schema) —
    same rows, same schema — while landing the data JVM-side (the list
    form parallelizes into defaultParallelism PYTHON partitions, one
    worker round trip per core per action; a 4-row meta write measured
    5.3 s at local[32] vs 0.25 s through this path)."""
    from pyspark.sql import types as T

    from dataslicer_spark.utils import local_df

    rows = [("a", 1, [1.0, 2.0]), ("b", None, []), ("c", 3, [0.5])]
    ddl = "k string, n int, v array<double>"
    a = local_df(spark, rows, ddl)
    b = spark.createDataFrame(rows, ddl)
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    # StructType schema form (graph.py mapping frames)
    st = T.StructType(
        [T.StructField("node", T.LongType()), T.StructField("rep", T.LongType())]
    )
    c = local_df(spark, [(1, 1), (2, 1)], st)
    assert c.schema == st and c.count() == 2

    # empty rows fall back to the list form
    assert local_df(spark, [], ddl).count() == 0


def test_local_df_ddl_split_keeps_nested_commas():
    from dataslicer_spark.utils import _split_ddl

    assert _split_ddl("a int, b array<struct<x:int,y:int>>, c map<int,int>") == [
        "a int",
        " b array<struct<x:int,y:int>>",
        " c map<int,int>",
    ]
