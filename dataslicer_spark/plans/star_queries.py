"""Driver-contract queries: each SURVEY.md §2 operator exercised on the
synthetic star schema, with a DuckDB oracle.

Cross-engine determinism rules (every oracle-checked query obeys them):

- Sums/avgs/stddevs of non-integral doubles go through ``DECIMAL`` casts —
  decimal aggregation is exact and order-independent, so Spark's partial
  aggregation and DuckDB's sequential scan produce bit-identical doubles.
- Row-wise arithmetic uses only ``+ - * /`` and ``sqrt`` (exactly-rounded
  IEEE ops) — never ``pow``/trig, which are libm-dependent.
- Interpolated percentiles/medians are ``round(x, 6)`` on both sides (the
  two engines may differ in the last ulp of the interpolation).
- Integer division is ``floor`` on both sides (Spark's int cast truncates,
  DuckDB's rounds — we write ``floor`` explicitly in SQL).
- Column names are aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.aggregates import (
    calibration_quality,
    cluster_centroid_weighted,
    distinct_stats,
    group_stats,
    iqr_by_bin,
)
from ..operators.filters import magnitude_bin_filter, trim_edges
from ..operators.joins import (
    anti_join,
    merge_metadata_to_sources,
    select_clusters,
    union_reindex,
)
from ..operators.regression import photometric_solution
from ..operators.spatial import crossmatch_sky, nn_join_planar, tag_dust
from ..operators.windows import closest_match, largest_wins
from ..functions.photometry import (
    add_obsid,
    bandwise_ref_mag,
    calmag,
    compute_camera_coord,
    compute_ccd_coord,
)
from ..session import load_tables as _t
from ..utils import query_df, select_columns


# Binary fixed-point aggregation: floor(x·2^k) is bit-reproducible across
# engines (multiplying by a power of two is exact in IEEE; floor of the same
# double is the same integer), and int64 sums are order-independent — unlike
# native double sums, whose partial-aggregation order differs between Spark
# and DuckDB, and unlike decimal casts, whose double→decimal rounding paths
# differ between the engines.  The quantized sum is a well-defined number
# both engines agree on bit-for-bit.
FP_BITS = 20      # fractional bits for sums of values ≲1e5 (int64 headroom)
FP_BITS_SQ = 6    # for sums of squares (values ≲1e10)


def _fp(col: Column, bits: int) -> Column:
    return F.floor(col * F.lit(float(2**bits))).cast("long")


def dsum(c: Column | str, alias: str, bits: int = FP_BITS) -> Column:
    """Order-independent fixed-point sum of a double column."""
    col = F.col(c) if isinstance(c, str) else c
    return (F.sum(_fp(col, bits)).cast("double") / float(2**bits)).alias(alias)


def davg(c: Column | str, alias: str, bits: int = FP_BITS) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return (
        (F.sum(_fp(col, bits)).cast("double") / float(2**bits)) / F.count(col)
    ).alias(alias)


def dstd(c: Column | str, alias: str, bits: int = FP_BITS) -> Column:
    """Sample stddev from fixed-point sums: sqrt((Σx² − (Σx)²/n)/(n−1))."""
    col = F.col(c) if isinstance(c, str) else c
    sx = F.sum(_fp(col, bits)).cast("double") / float(2**bits)
    sxx = F.sum(_fp(col * col, FP_BITS_SQ)).cast("double") / float(2**FP_BITS_SQ)
    n = F.count(col).cast("double")
    return F.sqrt((sxx - sx * sx / n) / (n - 1)).alias(alias)


# SQL fragments mirroring the helpers above (DuckDB side).
def _sql_fpsum(c: str, bits: int = FP_BITS) -> str:
    m = repr(float(2**bits))
    return (
        f"CAST(SUM(CAST(FLOOR(({c}) * CAST({m} AS DOUBLE)) AS BIGINT)) AS DOUBLE)"
        f" / CAST({m} AS DOUBLE)"
    )


def _sql_dsum(c: str, alias: str, bits: int = FP_BITS) -> str:
    return f"{_sql_fpsum(c, bits)} AS {alias}"


def _sql_davg(c: str, alias: str, bits: int = FP_BITS) -> str:
    return f"({_sql_fpsum(c, bits)}) / COUNT({c}) AS {alias}"


def _sql_dstd(c: str, alias: str, bits: int = FP_BITS) -> str:
    sx = f"({_sql_fpsum(c, bits)})"
    sxx = f"({_sql_fpsum(f'({c})*({c})', FP_BITS_SQ)})"
    n = f"CAST(COUNT({c}) AS DOUBLE)"
    return f"SQRT(({sxx} - {sx}*{sx}/{n}) / ({n} - 1)) AS {alias}"


# ---------------------------------------------------------------------------
# flagship — P1 filter → J1 broadcast joins → F1-shaped arithmetic →
# A3/A4 groupBy-agg → O1 orderBy  (FIXTURES.md §Flagship)
# ---------------------------------------------------------------------------

def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")

    li = query_df(lineitem, "l_quantity < @maxq and l_discount >= 0.01", {"maxq": 45})
    enriched = li.join(
        F.broadcast(orders.select("o_orderkey", "o_custkey", "o_orderstatus")),
        li["l_orderkey"] == F.col("o_orderkey"),
        "inner",
    ).join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
        "inner",
    )
    net = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    return (
        enriched.withColumn("net_price", net)
        .groupBy("c_mktsegment", "l_returnflag")
        .agg(
            dsum("net_price", "revenue"),
            dsum("l_quantity", "sum_qty"),
            davg("l_extendedprice", "avg_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("c_mktsegment", "l_returnflag")
    )


FLAGSHIP_SQL = """
SELECT c_mktsegment, l_returnflag,
       {dsum_net}, {dsum_qty}, {davg_price},
       COUNT(*) AS n_rows
FROM (
  SELECT c_mktsegment, l_returnflag, l_quantity, l_extendedprice,
         l_extendedprice*(1-l_discount)*(1+l_tax) AS net_price
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE l_quantity < 45 AND l_discount >= 0.01)
GROUP BY c_mktsegment, l_returnflag
ORDER BY c_mktsegment, l_returnflag
""".format(
    dsum_net=_sql_dsum("net_price", "revenue"),
    dsum_qty=_sql_dsum("l_quantity", "sum_qty"),
    davg_price=_sql_davg("l_extendedprice", "avg_price"),
)


# ---------------------------------------------------------------------------
# P — filters / projections
# ---------------------------------------------------------------------------

def p1_filter_pandas_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — pandas-dialect expression filter: chained comparison + @param."""
    li = _t(spark, sf_dir, "lineitem")
    out = query_df(
        li, "0.02 < l_discount < 0.07 and l_quantity < @maxq", {"maxq": 24}
    )
    return out.select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


P1_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_discount
FROM lineitem
WHERE l_discount > 0.02 AND l_discount < 0.07 AND l_quantity < 24
"""


def p2_wildcard_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — substring-wildcard column projection (df_utils.py:107-139)."""
    li = _t(spark, sf_dir, "lineitem")
    return select_columns(li, ["l_orderkey", "l_linenumber", "*price*", "*flag*"])


P2_SQL = "SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag FROM lineitem"


def p3_range_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — edge trim, kept side (srcdf.py:578-613 documented intent)."""
    li = _t(spark, sf_dir, "lineitem")
    kept, _rejected = trim_edges(
        li, dx=5.0, dy=1000.0, xname="l_quantity", yname="l_extendedprice",
        xsize=50.0, ysize=60000.0,
    )
    return kept.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


P3_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_quantity > 5.0 AND l_quantity < 45.0
  AND l_extendedprice > 1000.0 AND l_extendedprice < 59000.0
"""


def p3_range_trim_rejected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — edge trim, rejected complement (reference bug B4 fixed)."""
    li = _t(spark, sf_dir, "lineitem")
    _kept, rejected = trim_edges(
        li, dx=5.0, dy=1000.0, xname="l_quantity", yname="l_extendedprice",
        xsize=50.0, ysize=60000.0,
    )
    return rejected.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


P3_REJECTED_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE NOT (l_quantity > 5.0 AND l_quantity < 45.0
           AND l_extendedprice > 1000.0 AND l_extendedprice < 59000.0)
"""


# ---------------------------------------------------------------------------
# J — joins
# ---------------------------------------------------------------------------

def j1_broadcast_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — metadata→sources broadcast enrich (dataset.py:206-246)."""
    li = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    orders = _t(spark, sf_dir, "orders")
    out = merge_metadata_to_sources(
        li, orders, metadata_cols=["o_custkey", "o_orderstatus"], join_on="o_orderkey"
    )
    return out.select(
        "o_orderkey", "l_linenumber", "l_quantity", "o_custkey", "o_orderstatus"
    )


J1_SQL = """
SELECT l_orderkey AS o_orderkey, l_linenumber, l_quantity, o_custkey, o_orderstatus
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


def j7_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 — customers with no high-value orders
    (subtract_dfs, df_utils.py:176-184)."""
    customer = _t(spark, sf_dir, "customer")
    big = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 200000)
        .withColumnRenamed("o_custkey", "c_custkey")
    )
    return anti_join(customer, big, on=["c_custkey"]).select(
        "c_custkey", "c_name", "c_nationkey"
    )


J7_SQL = """
SELECT c_custkey, c_name, c_nationkey FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
"""


def j8_group_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/W3 — keep customers where ALL their orders are below a cap
    (select_clusters, _objtable_methods.py:424-488)."""
    orders = _t(spark, sf_dir, "orders")
    kept, _rej = select_clusters(orders, "o_totalprice < 150000", group_col="o_custkey")
    return kept.select("o_orderkey", "o_custkey", "o_totalprice")


J8_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
WHERE o_custkey IN (
  SELECT o_custkey FROM orders GROUP BY o_custkey
  HAVING MIN(CASE WHEN o_totalprice < 150000 THEN 1 ELSE 0 END) = 1)
"""


def j8_group_quantified_rejected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — the rejected complement (clusters with ≥1 violating member)."""
    orders = _t(spark, sf_dir, "orders")
    _kept, rej = select_clusters(orders, "o_totalprice < 150000", group_col="o_custkey")
    return rej.select("o_orderkey", "o_custkey", "o_totalprice")


J8_REJECTED_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
WHERE o_custkey IN (
  SELECT o_custkey FROM orders GROUP BY o_custkey
  HAVING MIN(CASE WHEN o_totalprice < 150000 THEN 1 ELSE 0 END) = 0)
"""


def j9_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 — append two source tables (srcdf.add, srcdf.py:64-105; the
    id-reindex variant is non-deterministic by design and tested in pytest)."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R")
    b = li.filter(F.col("l_returnflag") == "A")
    return union_reindex(a, b, reindex=False).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )


J9_SQL = """
SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
FROM lineitem WHERE l_returnflag = 'R'
UNION ALL
SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
FROM lineitem WHERE l_returnflag = 'A'
"""


# ---------------------------------------------------------------------------
# W — window ops
# ---------------------------------------------------------------------------

def w1_closest_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — best-row-per-group: richest supplier per nation, deterministic
    tiebreak (PS1Cal_matching.py:100-104 pattern)."""
    sup = _t(spark, sf_dir, "supplier")
    best = closest_match(
        sup, "s_nationkey", F.col("s_acctbal").desc(), tiebreak_cols=["s_suppkey"]
    )
    return best.select("s_nationkey", "s_suppkey", "s_name", "s_acctbal")


W1_SQL = """
SELECT s_nationkey, s_suppkey, s_name, s_acctbal FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rn
  FROM supplier) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# A — aggregations
# ---------------------------------------------------------------------------

def a2_weighted_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (weighted) — inverse-variance centroid per group; the variant the
    reference left NotImplementedError (objtable.py:195-196)."""
    li = _t(spark, sf_dir, "lineitem")
    out = cluster_centroid_weighted(
        li, err_col="l_quantity", group_col="l_returnflag",
        xname="l_extendedprice", yname="l_discount", deterministic=True,
    )
    return out.select(
        "l_returnflag",
        F.round("l_extendedprice_centroid", 6).alias("x_centroid"),
        F.round("l_discount_centroid", 6).alias("y_centroid"),
        "n_members",
    )


A2W_SQL = """
SELECT l_returnflag,
       ROUND(({sxw}) / ({sw}), 6) AS x_centroid,
       ROUND(({syw}) / ({sw}), 6) AS y_centroid,
       COUNT(*) AS n_members
FROM (
  SELECT l_returnflag, l_extendedprice, l_discount,
         CAST(1.0 AS DOUBLE)/(l_quantity*l_quantity) AS w
  FROM lineitem)
GROUP BY l_returnflag
""".format(
    sxw=_sql_fpsum("l_extendedprice * w", 20),
    syw=_sql_fpsum("l_discount * w", 20),
    sw=_sql_fpsum("w", 30),
)


def a3_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — generic per-group min/max/count/mean/std (df_utils.py:241-251).

    mean/std recomputed via exact decimal sums for cross-engine determinism
    (the operator's native stddev_samp is used in pytest instead).
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.min("l_extendedprice").alias("min_l_extendedprice"),
        F.max("l_extendedprice").alias("max_l_extendedprice"),
        F.count("l_extendedprice").alias("count_l_extendedprice"),
        davg("l_extendedprice", "mean_l_extendedprice"),
        dstd("l_extendedprice", "std_l_extendedprice"),
    )


A3_SQL = """
SELECT l_returnflag, l_linestatus,
       MIN(l_extendedprice) AS min_l_extendedprice,
       MAX(l_extendedprice) AS max_l_extendedprice,
       COUNT(l_extendedprice) AS count_l_extendedprice,
       {davg}, {dstd}
FROM lineitem GROUP BY l_returnflag, l_linestatus
""".format(
    davg=_sql_davg("l_extendedprice", "mean_l_extendedprice"),
    dstd=_sql_dstd("l_extendedprice", "std_l_extendedprice"),
)


def a4_calibration_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — single-pass calibration-quality aggregate
    (_objtable_methods.py:190-262, minus the Python RCID loop)."""
    li = _t(spark, sf_dir, "lineitem")
    out = calibration_quality(
        li,
        cal_mag_col="l_extendedprice",
        ref_mag_col="l_quantity",
        group_cols=("l_returnflag", "l_linestatus"),
        mag_lo=1000.0,
        mag_hi=50000.0,
        order_cols=("l_returnflag", "l_linestatus"),
        deterministic=True,
    )
    return out.select(
        "l_returnflag", "l_linestatus",
        F.round("bias", 4).alias("bias"),
        F.round("spread", 4).alias("spread"),
        F.round("median_absdiff", 4).alias("median_absdiff"),
        "n_calibrators",
    )


A4_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND((({sx}) / COUNT(d)) * CAST(1000.0 AS DOUBLE), 4) AS bias,
       ROUND(SQRT((({sxx}) - ({sx})*({sx})/CAST(COUNT(d) AS DOUBLE))
                  / (CAST(COUNT(d) AS DOUBLE) - 1)) * CAST(1000.0 AS DOUBLE), 4) AS spread,
       ROUND(MEDIAN(d) * CAST(1000.0 AS DOUBLE), 4) AS median_absdiff,
       COUNT(d) AS n_calibrators
FROM (
  SELECT l_returnflag, l_linestatus,
         ABS(l_extendedprice - l_quantity) AS d
  FROM lineitem
  WHERE l_extendedprice >= 1000.0 AND l_extendedprice <= 50000.0)
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""".format(sx=_sql_fpsum("d", 20), sxx=_sql_fpsum("d*d", 6))


def a5_iqr_by_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — per-bin IQR + median (_objtable_methods.py:345-358)."""
    li = _t(spark, sf_dir, "lineitem")
    # method pinned: the oracle needs exact percentiles, and 'auto' would
    # pay a count-probe scan per run just to rediscover that
    out = iqr_by_bin(
        li, bin_col="l_returnflag", value_col="l_extendedprice",
        method="exact",
    )
    return out.select(
        "l_returnflag",
        F.round("iqr_l_extendedprice", 6).alias("iqr_price"),
        F.round("median_l_extendedprice", 6).alias("median_price"),
    )


A5_SQL = """
SELECT l_returnflag,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.75)
             - QUANTILE_CONT(l_extendedprice, 0.25), 6) AS iqr_price,
       ROUND(MEDIAN(l_extendedprice), 6) AS median_price
FROM lineitem GROUP BY l_returnflag
"""


def a6_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — exact distinct counts + sums + maxima in one pass
    (stats(), PS1Cal_matching.py:219-328; honest labels — bug B6 fixed)."""
    li = _t(spark, sf_dir, "lineitem")
    out = distinct_stats(
        li,
        id_cols=["l_orderkey", "l_partkey", "l_suppkey"],
        sum_cols=["l_quantity"],
        max_cols=["l_extendedprice"],
    )
    return out.select(
        "n_l_orderkey", "n_l_partkey", "n_l_suppkey",
        F.round("sum_l_quantity", 4).alias("sum_l_quantity"),
        "max_l_extendedprice",
    )


A6_SQL = """
SELECT COUNT(DISTINCT l_orderkey) AS n_l_orderkey,
       COUNT(DISTINCT l_partkey) AS n_l_partkey,
       COUNT(DISTINCT l_suppkey) AS n_l_suppkey,
       ROUND(SUM(l_quantity), 4) AS sum_l_quantity,
       MAX(l_extendedprice) AS max_l_extendedprice
FROM lineitem
"""


# ---------------------------------------------------------------------------
# O — sorts / dedup
# ---------------------------------------------------------------------------

def o4_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 — dropDuplicates before join (metadata.py:82-83)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select("o_orderstatus", "o_orderpriority").dropDuplicates()


O4_SQL = "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"


# ---------------------------------------------------------------------------
# O7/A9 — pivot / rollup / cube (no reference analogue — SURVEY §2.4 notes
# their absence; provided as engine surface with DuckDB oracles)
# ---------------------------------------------------------------------------

def o7_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus → columns (fixed value list keeps the schema
    static and plan single-pass)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity", "q"))
        .select(
            "l_returnflag",
            F.col("O").alias("qty_O"),
            F.col("F").alias("qty_F"),
        )
    )


O7_SQL = """
SELECT l_returnflag,
       {qo} , {qf}
FROM lineitem GROUP BY l_returnflag
""".format(
    qo=_sql_fpsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END") + " AS qty_O",
    qf=_sql_fpsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END") + " AS qty_F",
)


def o8_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) the per-part price/cost columns into rows —
    ``unpivot``/``stack``, the inverse surface of o7_pivot."""
    part = _t(spark, sf_dir, "part")
    return part.unpivot(
        ["p_partkey"],
        ["p_retailprice", "p_size"],
        "measure",
        "value",
    ).select(
        "p_partkey", "measure", F.col("value").cast("double").alias("value")
    )


O8_SQL = """
SELECT p_partkey, 'p_retailprice' AS measure,
       CAST(p_retailprice AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
"""


def a9_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals over (returnflag, linestatus) — partial-agg
    friendly hierarchy totals in one pass."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice", "sum_price"),
    )


A9_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows, {s}
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""".format(s=_sql_dsum("l_extendedprice", "sum_price"))


def a9_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) — all grouping-set combinations."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity", "sum_qty"),
    )


A9_CUBE_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows, {s}
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""".format(s=_sql_dsum("l_quantity", "sum_qty"))


# ---------------------------------------------------------------------------
# F — column expressions
# ---------------------------------------------------------------------------

def f1_calmag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — photometric calibration + error propagation (srcdf.py:366-443)
    mapped onto star-schema columns."""
    li = _t(spark, sf_dir, "lineitem")
    out = calmag(
        li,
        mag_col="l_quantity",
        err_mag_col="l_tax",
        zp_col="l_discount",
        zp_err_col="l_discount",
        clrcoeff_col="l_tax",
        clrcoeff_err_col="l_discount",
        color1_col="l_extendedprice",
        color2_col="l_quantity",
        color1_err_col="l_discount",
        color2_err_col="l_tax",
        cal_name="cal_mag",
        err_cal_name="err_cal_mag",
    )
    return out.select("l_orderkey", "l_linenumber", "cal_mag", "err_cal_mag")


F1_SQL = """
SELECT l_orderkey, l_linenumber,
       l_quantity + l_discount + l_tax * (l_extendedprice - l_quantity) AS cal_mag,
       SQRT(l_tax*l_tax + l_discount*l_discount
            + (l_discount*(l_extendedprice - l_quantity))*(l_discount*(l_extendedprice - l_quantity))
            + (l_tax*SQRT(l_discount*l_discount + l_tax*l_tax))*(l_tax*SQRT(l_discount*l_discount + l_tax*l_tax)))
         AS err_cal_mag
FROM lineitem
"""


def f2_bandwise_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — band-conditional column pick (CASE WHEN;
    _objtable_methods.py:158-188)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "FILTERID", (F.col("l_linenumber") % 3 + 1)
    )
    out = bandwise_ref_mag(
        li, filterid_col="FILTERID",
        g_col="l_extendedprice", r_col="l_quantity", i_col="l_discount",
    )
    return out.select("l_orderkey", "l_linenumber", "FILTERID", "ps1mag_band")


F2_SQL = """
SELECT l_orderkey, l_linenumber, (l_linenumber % 3 + 1) AS FILTERID,
       CASE WHEN (l_linenumber % 3 + 1) = 1 THEN l_extendedprice
            WHEN (l_linenumber % 3 + 1) = 2 THEN l_quantity
            ELSE l_discount END AS ps1mag_band
FROM lineitem
"""


def f3_camera_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — integer div/mod camera-plane coordinates (srcdf.py:446-506)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "RCID", (F.col("l_partkey") % 64).cast("int")
    )
    out = compute_camera_coord(
        li, rc_col="RCID", xname="l_quantity", yname="l_discount"
    )
    return out.select("l_orderkey", "l_linenumber", "RCID", "xcam", "ycam")


F3_SQL = """
SELECT l_orderkey, l_linenumber, CAST(l_partkey % 64 AS INT) AS RCID,
       xll + l_quantity AS xcam, yll + l_discount AS ycam
FROM (
  SELECT *,
         CAST(FLOOR(xrc/2.0) AS INT)*7 + xrc*3072 AS xll,
         CAST(FLOOR(yrc/2.0) AS INT)*10 + yrc*3080 AS yll
  FROM (
    SELECT *,
           2*CAST(FLOOR((ccd-1)/4.0) AS INT)
             + CASE WHEN q IN (1,2) THEN 1 ELSE 0 END AS yrc,
           2*(4 - (ccd-1) % 4) - 1
             - CASE WHEN q IN (2,3) THEN 1 ELSE 0 END AS xrc
    FROM (
      SELECT *,
             CAST(FLOOR((l_partkey % 64)/4.0) AS INT) + 1 AS ccd,
             (l_partkey % 64) % 4 + 1 AS q
      FROM lineitem)))
"""


def f8_key_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — decimal-string-concat integer key (metadata.py:167-169)."""
    li = _t(spark, sf_dir, "lineitem")
    out = add_obsid(li, expid_col="l_orderkey", rcid_col="l_linenumber")
    return out.select("l_orderkey", "l_linenumber", "OBSID")


F8_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(CONCAT(CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR)) AS BIGINT) AS OBSID
FROM lineitem
"""


# ---------------------------------------------------------------------------
# J5/J6 — spatial kernels on deterministic synthetic coordinates
# (integer-mod derived, so both engines see bit-identical doubles)
# ---------------------------------------------------------------------------

def j5_nn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — nearest-neighbor join (planar variant with an exact SQL oracle;
    the spherical crossmatch is property-tested vs brute force in pytest).

    Customer points vs supplier "catalog": cell-bucketed NN join within
    radius, closest match per point, deterministic tiebreak."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") % 1000) / 10.0).alias("x"),
        ((F.col("c_custkey") * 13 % 1000) / 10.0).alias("y"),
    )
    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 11 % 1000) / 10.0).alias("x"),
        ((F.col("s_suppkey") * 29 % 1000) / 10.0).alias("y"),
    )
    out = nn_join_planar(
        cust, sup, radius=5.0, left_id="c_custkey", right_id="s_suppkey"
    )
    return out.select("c_custkey", "s_suppkey", "dist2")


J5_SQL = """
SELECT c_custkey, s_suppkey, dist2 FROM (
  SELECT c.c_custkey, s.s_suppkey,
         (c.x - s.x)*(c.x - s.x) + (c.y - s.y)*(c.y - s.y) AS dist2,
         ROW_NUMBER() OVER (
           PARTITION BY c.c_custkey
           ORDER BY (c.x - s.x)*(c.x - s.x) + (c.y - s.y)*(c.y - s.y) ASC,
                    s.s_suppkey ASC) AS rn
  FROM (SELECT c_custkey, (c_custkey % 1000)/10.0 AS x,
               (c_custkey*13 % 1000)/10.0 AS y FROM customer) c
  CROSS JOIN (SELECT s_suppkey, (s_suppkey*11 % 1000)/10.0 AS x,
                     (s_suppkey*29 % 1000)/10.0 AS y FROM supplier) s
  WHERE (c.x - s.x)*(c.x - s.x) + (c.y - s.y)*(c.y - s.y) <= 25.0)
WHERE rn = 1
"""


def j5_sky_crossmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — SPHERICAL nearest-neighbor crossmatch with a direct DuckDB
    oracle (round 8; previously the sky path was pytest-brute-force
    only and only the planar variant carried a SQL twin).

    Fixture: every 3rd customer also appears in the catalog, jittered
    ≤0.3″ — so ⅓ of sources match their own twin and the rest fall
    outside the 3″ radius and drop (reference drop-unmatched mode,
    PS1Cal_matching.py:114-117).  The oracle replays the same haversine
    (`functions/photometry.haversine_arcsec`) over the exact pair
    space; the emitted distance is floor-quantized to 2⁻²⁰ arcsec so
    the value hash is robust to last-ulp libm differences between the
    engines (same device as the astro twin's fixed-point means)."""
    cust = _t(spark, sf_dir, "customer")
    c = F.col("c_custkey")
    src = cust.select(
        c.alias("srcID"),
        ((c * 9176 % 3_599_993) / 10000.0).alias("ra"),
        ((c * 7919 % 1_699_999) / 10000.0 - 85.0).alias("dec"),
    )
    cat = cust.filter(c % 3 == 0).select(
        c.alias("_id"),
        ((c * 9176 % 3_599_993) / 10000.0
         + (((c % 7) - 3).cast("double")) * 1.5e-5).alias("ra"),
        ((c * 7919 % 1_699_999) / 10000.0 - 85.0
         + (((c % 11) - 5).cast("double")) * 1.5e-5).alias("dec"),
    )
    out = crossmatch_sky(
        src, cat, rs_arcsec=3.0, source_id="srcID", catalog_id="_id",
        dist_col="dist",
    )
    return out.select(
        "srcID",
        F.col("_id").alias("match_id"),
        (F.floor(F.col("dist") * F.lit(1048576.0)) / F.lit(1048576.0))
        .alias("dist_q"),
    )


J5_SKY_SQL = """
WITH src AS (
  SELECT c_custkey AS srcID,
         (c_custkey * 9176 % 3599993) / 10000.0 AS ra,
         (c_custkey * 7919 % 1699999) / 10000.0 - 85.0 AS dec
  FROM customer),
cat AS (
  SELECT c_custkey AS _id,
         (c_custkey * 9176 % 3599993) / 10000.0
           + CAST((c_custkey % 7) - 3 AS DOUBLE) * 1.5e-5 AS ra,
         (c_custkey * 7919 % 1699999) / 10000.0 - 85.0
           + CAST((c_custkey % 11) - 5 AS DOUBLE) * 1.5e-5 AS dec
  FROM customer WHERE c_custkey % 3 = 0),
scored AS (
  SELECT s.srcID, c._id,
         DEGREES(2*ASIN(SQRT(
           POWER(SIN((RADIANS(c.dec)-RADIANS(s.dec))/2), 2)
           + COS(RADIANS(s.dec))*COS(RADIANS(c.dec))
             *POWER(SIN((RADIANS(c.ra)-RADIANS(s.ra))/2), 2))))*3600.0
           AS dist
  FROM src s JOIN cat c
    ON ABS(s.dec - c.dec) <= 0.002),
nearest AS (
  SELECT srcID, _id, dist,
         ROW_NUMBER() OVER (
           PARTITION BY srcID ORDER BY dist ASC, _id ASC) AS rn
  FROM scored WHERE dist <= 3.0)
SELECT srcID, _id AS match_id,
       FLOOR(dist * 1048576.0) / 1048576.0 AS dist_q
FROM nearest WHERE rn = 1
"""


def j6_tag_dust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — point-in-circle tagging, largest circle wins
    (tag_dust, srcdf.py:616-694)."""
    pts = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") % 100) * 1.0).alias("xpos"),
        ((F.col("c_custkey") * 13 % 100) * 1.0).alias("ypos"),
    )
    dust = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        ((F.col("n_nationkey") * 37 % 100) * 1.0).alias("x"),
        ((F.col("n_nationkey") * 73 % 100) * 1.0).alias("y"),
        ((F.col("n_nationkey") % 7 + 2) * 1.0).alias("r"),
    )
    out = tag_dust(pts, dust, dust_id="n_nationkey")
    return out.select("c_custkey", "xpos", "ypos", "dust_x", "dust_y", "dust_r")


J6_SQL = """
SELECT c_custkey, xpos, ypos, dust_x, dust_y, dust_r FROM (
  SELECT p.c_custkey, p.xpos, p.ypos,
         d.x AS dust_x, d.y AS dust_y, d.r AS dust_r,
         ROW_NUMBER() OVER (
           PARTITION BY p.c_custkey
           ORDER BY d.r DESC, d.n_nationkey ASC) AS rn
  FROM (SELECT c_custkey, (c_custkey % 100) * 1.0 AS xpos,
               (c_custkey*13 % 100) * 1.0 AS ypos FROM customer) p
  LEFT JOIN (SELECT n_nationkey, (n_nationkey*37 % 100) * 1.0 AS x,
                    (n_nationkey*73 % 100) * 1.0 AS y,
                    (n_nationkey % 7 + 2) * 1.0 AS r FROM nation) d
    ON (p.xpos - d.x)*(p.xpos - d.x) + (p.ypos - d.y)*(p.ypos - d.y)
       <= (d.r)*(d.r))
WHERE rn = 1
"""


def p4_magnitude_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — closed magnitude-bin filter (_objtable_methods.py:232-234)."""
    li = _t(spark, sf_dir, "lineitem")
    out = magnitude_bin_filter(li, "l_extendedprice", lo=10000.0, hi=20000.0)
    return out.select("l_orderkey", "l_linenumber", "l_extendedprice")


P4_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
WHERE l_extendedprice >= 10000.0 AND l_extendedprice <= 20000.0
"""


def w2_largest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — largest-wins per group (the dust-grain overwrite semantics,
    srcdf.py:666-682): each customer's biggest order."""
    orders = _t(spark, sf_dir, "orders")
    out = largest_wins(orders, "o_custkey", "o_totalprice",
                       tiebreak_cols=["o_orderkey"])
    return out.select("o_custkey", "o_orderkey", "o_totalprice")


W2_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) WHERE rn = 1
"""


def f4_ccd_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — readout-channel → CCD-plane coordinates (srcdf.py:509-575)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "RCID", (F.col("l_partkey") % 64).cast("int")
    )
    out = compute_ccd_coord(li, rc_col="RCID", xname="l_quantity",
                            yname="l_discount")
    return out.select("l_orderkey", "l_linenumber", "RCID", "xccd", "yccd")


F4_SQL = """
SELECT l_orderkey, l_linenumber, CAST(l_partkey % 64 AS INT) AS RCID,
       CASE WHEN (l_partkey % 64) % 4 + 1 IN (1, 4) THEN 3072 ELSE 0 END
         + l_quantity AS xccd,
       CASE WHEN (l_partkey % 64) % 4 + 1 IN (1, 2) THEN 3080 ELSE 0 END
         + l_discount AS yccd
FROM lineitem
"""


def m3_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 — IQR outlier rejection, fixed-width-bin variant (SQL-expressible;
    the Jenks-binned form is rows-only via the astro pipeline).

    Clusters = parts; per-cluster mean price and mean price-vs-retail
    offset; 10 equal-width magnitude bins; per-bin median/IQR; keep
    clusters with ``|offset − median| / IQR < 2.5`` — NULL norms (zero
    IQR) are outliers, matching pandas ``not (NaN < cut)`` semantics
    (_objtable_methods.py:366-367)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(
        F.broadcast(part.select("p_partkey", "p_retailprice")),
        li["l_partkey"] == F.col("p_partkey"),
    )
    per_cluster = joined.groupBy("l_partkey").agg(
        davg("l_extendedprice", "av_mag"),
        davg(F.col("l_extendedprice") - F.col("p_retailprice"), "av_dist"),
    )
    # global min/max as a broadcast 1-row aggregate cross-join — NOT a
    # Window.partitionBy() global window, which would funnel every
    # per-cluster row through one partition at scale
    rng = per_cluster.agg(
        F.min("av_mag").alias("__mag_lo"), F.max("av_mag").alias("__mag_hi")
    )
    binned = (
        per_cluster.crossJoin(F.broadcast(rng))
        .withColumn(
            "mag_bin",
            F.least(
                F.floor(
                    (F.col("av_mag") - F.col("__mag_lo"))
                    / ((F.col("__mag_hi") - F.col("__mag_lo")) / 10.0)
                ).cast("int"),
                F.lit(9),
            ),
        )
        .drop("__mag_lo", "__mag_hi")
    )
    per_bin = binned.groupBy("mag_bin").agg(
        (
            F.percentile(F.col("av_dist"), F.lit(0.75))
            - F.percentile(F.col("av_dist"), F.lit(0.25))
        ).alias("iqr_dist"),
        F.median("av_dist").alias("median_dist"),
    )
    scored = binned.join(per_bin, "mag_bin").withColumn(
        "norm",
        F.try_divide(F.abs(F.col("av_dist") - F.col("median_dist")),
                     F.col("iqr_dist")),
    )
    kept = scored.filter(
        F.coalesce(
            F.when(F.isnan("norm"), F.lit(False)).otherwise(F.col("norm") < 2.5),
            F.lit(False),
        )
    )
    return kept.select(
        "l_partkey", "mag_bin",
        F.round("av_mag", 6).alias("av_mag"),
        F.round("av_dist", 6).alias("av_dist"),
        F.round("norm", 6).alias("norm"),
    )


M3_SQL = """
WITH per_cluster AS (
  SELECT l_partkey, {av_mag}, {av_dist}
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY l_partkey),
binned AS (
  SELECT *, LEAST(CAST(FLOOR((av_mag - MIN(av_mag) OVER ())
             / ((MAX(av_mag) OVER () - MIN(av_mag) OVER ()) / 10.0)) AS INT),
             9) AS mag_bin
  FROM per_cluster),
per_bin AS (
  SELECT mag_bin,
         QUANTILE_CONT(av_dist, 0.75) - QUANTILE_CONT(av_dist, 0.25) AS iqr_dist,
         MEDIAN(av_dist) AS median_dist
  FROM binned GROUP BY mag_bin)
SELECT l_partkey, mag_bin, ROUND(av_mag, 6) AS av_mag,
       ROUND(av_dist, 6) AS av_dist,
       ROUND(ABS(av_dist - median_dist) / NULLIF(iqr_dist, 0), 6) AS norm
FROM binned JOIN per_bin USING (mag_bin)
WHERE COALESCE(ABS(av_dist - median_dist) / NULLIF(iqr_dist, 0) < 2.5, FALSE)
""".format(
    av_mag=_sql_davg("l_extendedprice", "av_mag"),
    av_dist=_sql_davg("(l_extendedprice - p_retailprice)", "av_dist"),
)


def f7_odr_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — grouped errors-in-variables fit vs the Deming closed form.

    With constant per-axis errors the profile-χ² ODR equals Deming
    regression, which IS SQL-expressible from second moments — so the
    numeric kernel gets a real oracle (rounded to 4 decimals; the
    golden-section optimum and the closed form agree to ~1e-12).

    Synthetic linear data from lineitem columns (deterministic integer
    hashing), grouped by a 3-value band column."""
    li = _t(spark, sf_dir, "lineitem")
    data = li.select(
        (F.col("l_linenumber") % 3).alias("band"),
        ((F.col("l_partkey") % 200) / 100.0 - 1.0).alias("x"),
        (
            20.0
            + 0.5 * ((F.col("l_partkey") % 200) / 100.0 - 1.0)
            + ((F.col("l_orderkey") * 7919 % 1000) / 1000.0 - 0.5) / 10.0
        ).alias("y"),
        F.lit(0.05).alias("sx"),
        F.lit(0.05).alias("sy"),
    )
    sol = photometric_solution(
        data, x_col="x", y_col="y", sx_col="sx", sy_col="sy",
        group_cols=["band"],
    )
    return sol.select(
        "band",
        F.round("fit_zp", 4).alias("fit_zp"),
        F.round("fit_clrcoeff", 4).alias("fit_clrcoeff"),
        "n_points",
    )


# Deming closed form (λ = sy²/sx² = 1): b1 = (syy − λ·sxx
#   + sqrt((syy − λ·sxx)² + 4λ·sxy²)) / (2·sxy), b0 = ȳ − b1·x̄,
# over the same fixed-point moment sums the engine uses.
F7_SQL = """
WITH pts AS (
  SELECT CAST(l_linenumber % 3 AS INT) AS band,
         (l_partkey % 200) / 100.0 - 1.0 AS x,
         20.0 + 0.5 * ((l_partkey % 200) / 100.0 - 1.0)
              + ((l_orderkey * 7919 % 1000) / 1000.0 - 0.5) / 10.0 AS y
  FROM lineitem),
m AS (
  SELECT band, COUNT(*) AS n, {sx} , {sy} , {sxx} , {syy} , {sxy}
  FROM pts GROUP BY band),
c AS (
  SELECT band, n,
         sxx_s / n - (sx_s / n) * (sx_s / n) AS vxx,
         syy_s / n - (sy_s / n) * (sy_s / n) AS vyy,
         sxy_s / n - (sx_s / n) * (sy_s / n) AS vxy,
         sx_s / n AS mx, sy_s / n AS my
  FROM m)
SELECT band,
       ROUND(my - ((vyy - vxx + SQRT((vyy - vxx)*(vyy - vxx) + 4*vxy*vxy))
                   / (2*vxy)) * mx, 4) AS fit_zp,
       ROUND((vyy - vxx + SQRT((vyy - vxx)*(vyy - vxx) + 4*vxy*vxy))
             / (2*vxy), 4) AS fit_clrcoeff,
       n AS n_points
FROM c
""".format(
    sx=_sql_fpsum("x", 30) + " AS sx_s",
    sy=_sql_fpsum("y", 30) + " AS sy_s",
    sxx=_sql_fpsum("x*x", 30) + " AS sxx_s",
    syy=_sql_fpsum("y*y", 26) + " AS syy_s",
    sxy=_sql_fpsum("x*y", 30) + " AS sxy_s",
)


def o9_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-family extension — generic top-k per group: the 3 highest-value
    lineitems per supplier (deterministic tiebreak on the row key).

    Partitioning by the *supplier* key keeps the window shuffle
    high-cardinality (10k groups/SF — no skew); per-partition sort + early
    row_number cutoff, no global sort."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    )
    return (
        li.select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


O9_SQL = """
SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rk
FROM (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
         ROW_NUMBER() OVER (
           PARTITION BY l_suppkey
           ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
         ) AS rk
  FROM lineitem)
WHERE rk <= 3
"""


def a10_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family extension — equi-width histogram of lineitem prices.

    Fixed bin width (constant, not data-dependent) keeps it one map-side
    bucket expression + one partial+final aggregate: a single shuffle of
    ~n_bins rows per partition, regardless of table size.  floor of an
    exactly-representable division is cross-engine deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    bin_c = F.floor(F.col("l_extendedprice") / F.lit(5000.0)).cast("long")
    return (
        li.groupBy(bin_c.alias("price_bin"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


A10_SQL = """
SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS price_bin,
       COUNT(*) AS n_items,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price
FROM lineitem
GROUP BY 1
"""


def a11_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family extension — windowed share-of-total (ratio_to_report):
    each (returnflag, linestatus) cell's revenue share within its
    linestatus.  The window sums the fixed-point LONG partials, so the
    share is bit-deterministic (a double window sum would depend on
    partition order)."""
    li = _t(spark, sf_dir, "lineitem")
    rev_fp = F.sum(
        F.floor(F.col("l_extendedprice") * F.lit(float(2 ** FP_BITS))).cast(
            "long"
        )
    ).alias("__rev_fp")
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(rev_fp)
    w = Window.partitionBy("l_linestatus")
    return cells.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("__rev_fp").cast("double") / F.lit(float(2 ** FP_BITS))).alias(
            "revenue"
        ),
        (
            F.col("__rev_fp").cast("double")
            / F.sum("__rev_fp").over(w).cast("double")
        ).alias("share"),
    )


A11_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(rev_fp AS DOUBLE) / CAST({float(2**FP_BITS)} AS DOUBLE) AS revenue,
       CAST(rev_fp AS DOUBLE)
         / CAST(SUM(rev_fp) OVER (PARTITION BY l_linestatus) AS DOUBLE)
         AS share
FROM (
  SELECT l_returnflag, l_linestatus,
         SUM(CAST(FLOOR(l_extendedprice * CAST({float(2**FP_BITS)} AS DOUBLE))
                  AS BIGINT)) AS rev_fp
  FROM lineitem GROUP BY 1, 2)
"""


def a12_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family extension — median absolute deviation per group: the
    robust dispersion sibling of A5's IQR (median of |x − median(x)|).
    Two aggregation stages sharing the group key; the per-group median
    broadcasts back (dimension-sized)."""
    li = _t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.median("l_extendedprice").alias("__med")
    )
    dev = li.select("l_returnflag", "l_extendedprice").join(
        F.broadcast(med), "l_returnflag"
    )
    return (
        dev.groupBy("l_returnflag")
        .agg(
            F.round(F.first("__med"), 6).alias("median_price"),
            F.round(
                F.median(F.abs(F.col("l_extendedprice") - F.col("__med"))), 6
            ).alias("mad_price"),
        )
    )


A12_SQL = """
SELECT d.l_returnflag,
       ROUND(ANY_VALUE(d.med), 6) AS median_price,
       ROUND(MEDIAN(ABS(d.l_extendedprice - d.med)), 6) AS mad_price
FROM (
  SELECT l.l_returnflag, l.l_extendedprice, m.med
  FROM lineitem l
  JOIN (SELECT l_returnflag, MEDIAN(l_extendedprice) AS med
        FROM lineitem GROUP BY 1) m
    ON l.l_returnflag = m.l_returnflag) d
GROUP BY d.l_returnflag
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "flagship": flagship,
    "p1_filter_pandas_dialect": p1_filter_pandas_dialect,
    "p2_wildcard_projection": p2_wildcard_projection,
    "p3_range_trim": p3_range_trim,
    "p3_range_trim_rejected": p3_range_trim_rejected,
    "j1_broadcast_enrich": j1_broadcast_enrich,
    "j7_anti_join": j7_anti_join,
    "j8_group_quantified": j8_group_quantified,
    "j8_group_quantified_rejected": j8_group_quantified_rejected,
    "j9_union": j9_union,
    "j5_nn_join": j5_nn_join,
    "j5_sky_crossmatch": j5_sky_crossmatch,
    "j6_tag_dust": j6_tag_dust,
    "w1_closest_match": w1_closest_match,
    "a2_weighted_centroid": a2_weighted_centroid,
    "a3_group_stats": a3_group_stats,
    "a4_calibration_quality": a4_calibration_quality,
    "a5_iqr_by_bin": a5_iqr_by_bin,
    "a6_distinct_stats": a6_distinct_stats,
    "o4_drop_duplicates": o4_drop_duplicates,
    "o7_pivot": o7_pivot,
    "o8_unpivot": o8_unpivot,
    "a9_rollup": a9_rollup,
    "a9_cube": a9_cube,
    "f1_calmag": f1_calmag,
    "f2_bandwise_pick": f2_bandwise_pick,
    "f3_camera_coords": f3_camera_coords,
    "f8_key_synthesis": f8_key_synthesis,
    "p4_magnitude_bin": p4_magnitude_bin,
    "w2_largest_wins": w2_largest_wins,
    "f4_ccd_coords": f4_ccd_coords,
    "m3_iqr_outliers": m3_iqr_outliers,
    "f7_odr_fit": f7_odr_fit,
    "o9_topk_per_group": o9_topk_per_group,
    "a10_histogram": a10_histogram,
    "a11_share_of_total": a11_share_of_total,
    "a12_mad": a12_mad,
}

ORACLES: dict[str, str] = {
    "flagship": FLAGSHIP_SQL,
    "p1_filter_pandas_dialect": P1_SQL,
    "p2_wildcard_projection": P2_SQL,
    "p3_range_trim": P3_SQL,
    "p3_range_trim_rejected": P3_REJECTED_SQL,
    "j1_broadcast_enrich": J1_SQL,
    "j7_anti_join": J7_SQL,
    "j8_group_quantified": J8_SQL,
    "j8_group_quantified_rejected": J8_REJECTED_SQL,
    "j9_union": J9_SQL,
    "j5_nn_join": J5_SQL,
    "j5_sky_crossmatch": J5_SKY_SQL,
    "j6_tag_dust": J6_SQL,
    "w1_closest_match": W1_SQL,
    "a2_weighted_centroid": A2W_SQL,
    "a3_group_stats": A3_SQL,
    "a4_calibration_quality": A4_SQL,
    "a5_iqr_by_bin": A5_SQL,
    "a6_distinct_stats": A6_SQL,
    "o4_drop_duplicates": O4_SQL,
    "o7_pivot": O7_SQL,
    "o8_unpivot": O8_SQL,
    "a9_rollup": A9_ROLLUP_SQL,
    "a9_cube": A9_CUBE_SQL,
    "f1_calmag": F1_SQL,
    "f2_bandwise_pick": F2_SQL,
    "f3_camera_coords": F3_SQL,
    "f8_key_synthesis": F8_SQL,
    "p4_magnitude_bin": P4_SQL,
    "w2_largest_wins": W2_SQL,
    "f4_ccd_coords": F4_SQL,
    "m3_iqr_outliers": M3_SQL,
    "f7_odr_fit": F7_SQL,
    "o9_topk_per_group": O9_SQL,
    "a10_histogram": A10_SQL,
    "a11_share_of_total": A11_SQL,
    "a12_mad": A12_SQL,
}
