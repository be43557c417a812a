"""Row-count provenance (trace.TraceLog + SlicerFrame.traced) — the
reference's logged "%d rows survived" invariants (dataset_base.py:224-229)
as a queryable side table, with ZERO extra Spark jobs (Observations)."""

import pytest
from pyspark.sql import functions as F

from dataslicer_spark.api import SlicerFrame
from dataslicer_spark.trace import TraceLog, counted


@pytest.fixture()
def src(spark):
    return spark.createDataFrame(
        [(i, float(i % 7) + 14.0, float(i % 11), float(i % 13)) for i in range(100)],
        "sourceid long, mag double, xpos double, ypos double",
    )


def test_traced_pipeline_records_stage_counts(spark, src):
    """One final action fills EVERY stage's count; values equal
    independent recounts and arrive in pipeline order."""
    tf = SlicerFrame(src).traced()
    out = tf.query_df("mag < 18").query_df("xpos > 2")
    # a single action on the FINAL frame executes the whole observed plan
    n_final = out.df.count()
    got = out.trace.rows()
    assert [lab for lab, _ in got] == ["query_df", "query_df"]
    n1 = src.filter(F.col("mag") < 18).count()
    assert got[0][1] == n1
    assert got[1][1] == n_final
    # side table
    side = out.trace.to_df(spark).orderBy("stage").collect()
    assert [(r.stage, r.label, r.rows) for r in side] == [
        (1, "query_df", n1), (2, "query_df", n_final),
    ]


def test_traced_counts_cost_no_extra_jobs(spark, src):
    """The stage counts ride the materializing action: no count() jobs.
    Proxy assertion: rows() works after ONE action and the trace holds
    as many stages as verbs called."""
    tf = SlicerFrame(src).traced().query_df("mag < 20")
    assert len(tf.trace) == 1
    tf.df.write.format("noop").mode("overwrite").save()
    assert tf.trace.rows()[0][1] == src.filter(F.col("mag") < 20).count()


def test_trace_strict_raises_before_action(spark, src):
    tf = SlicerFrame(src).traced().query_df("mag < 18")
    with pytest.raises(RuntimeError, match="no metrics yet"):
        tf.trace.rows()
    # non-strict reports None instead
    assert tf.trace.rows(strict=False) == [("query_df", None)]


def test_trace_unmaterialized_branch_reports_none(spark, src):
    """filter_with_complement traces BOTH branches under disambiguated
    labels (multi-output verbs must not collide — the kept/rejected
    stages would otherwise be order-dependent twins); materializing only
    the kept side leaves the rejected stage None under strict=False."""
    tf = SlicerFrame(src).traced()
    kept, rejected = tf.filter_with_complement("mag < 18")
    kept.df.write.format("noop").mode("overwrite").save()
    got = dict(kept.trace.rows(strict=False))
    assert set(got) == {
        "filter_with_complement/kept", "filter_with_complement/rejected",
    }
    assert got["filter_with_complement/kept"] == src.filter(
        F.col("mag") < 18
    ).count()
    assert got["filter_with_complement/rejected"] is None


def test_trace_shared_log_across_frames(spark, src):
    """An explicit TraceLog can span separately-built frames."""
    log = TraceLog()
    a = SlicerFrame(src).traced(log).query_df("mag < 18")
    b = SlicerFrame(src).traced(log).query_df("mag >= 18")
    a.df.count(), b.df.count()
    labels = [lab for lab, _ in log.rows()]
    counts = [n for _, n in log.rows()]
    assert labels == ["query_df", "query_df"]
    assert sum(counts) == 100


def test_counted_reads_executed_stages_and_tasks(spark):
    """One shuffle job: a 4-task map stage and a 2-task reduce stage.  Run
    again, the shuffle output exists, so the map stage is skipped and not
    counted."""
    from operator import add

    pairs = spark.sparkContext.parallelize(range(100), 4).map(lambda x: (x % 3, 1))
    reduced = pairs.reduceByKey(add, 2)
    out, n = counted(spark, reduced.collect)
    assert sorted(out) == [(0, 34), (1, 33), (2, 33)]
    assert n == {"jobs": 1, "stages": 2, "tasks": 6}
    _, n = counted(spark, reduced.count)
    assert n == {"jobs": 1, "stages": 1, "tasks": 2}


def test_counted_runs_no_job_and_restores_the_callers_group(spark):
    """Counting is status-tracker reads only: an outer count around an
    inner count of nothing sees zero jobs.  The caller's job group and
    description come back."""
    sc = spark.sparkContext
    _, n = counted(spark, lambda: counted(spark, lambda: None))
    assert n == {"jobs": 0, "stages": 0, "tasks": 0}
    sc.setJobGroup("outer", "outer description")
    try:
        counted(spark, lambda: spark.range(3).collect())
        group = sc.getLocalProperty("spark.jobGroup.id")
        description = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (group, description) == ("outer", "outer description")
