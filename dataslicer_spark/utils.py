"""Schema preconditions, wildcard column matching, and pandas-dialect
expression translation.

Parity notes (reference = MatteoGiomi/dataslicer at /root/reference):

- ``check_col`` mirrors ``df_utils.py:77-105``: raise ``KeyError`` naming the
  missing columns and listing the available ones.
- Wildcard matching mirrors ``df_utils.py:107-139`` — semantics are
  *substring* match after stripping ``*`` (not glob, not prefix): the pattern
  ``'APCOR*'`` matches any column containing ``'APCOR'``.
- ``translate_query_expr`` maps the pandas ``DataFrame.query`` dialect used
  throughout the reference (``dataset_base.py:198-230``) onto Spark SQL:
  chained comparisons ``a < x < b`` (``srcdf.py:610``), ``@var`` parameter
  references (``_objtable_methods.py:366,465``), ``in @list``, and the
  pandas boolean operators (``and/or/not`` parse natively in Spark SQL).
"""

from __future__ import annotations

import numbers
import re
from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame


# ---------------------------------------------------------------------------
# schema preconditions
# ---------------------------------------------------------------------------

def check_col(col: str | Iterable[str], df: DataFrame) -> None:
    """Raise ``KeyError`` if any requested column is absent.

    Same contract as the reference's ``check_col`` (df_utils.py:77-105):
    the error message names what is missing and what is available, so
    failures surface at plan-build time with a friendly message instead of
    an ``AnalysisException`` deep in a lazy DAG.
    """
    wanted = [col] if isinstance(col, str) else list(col)
    available = set(df.columns)
    missing = [c for c in wanted if c not in available]
    if missing:
        raise KeyError(
            f"columns {missing} not present in DataFrame. "
            f"Available columns: {sorted(available)}"
        )


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (embedded backticks
    doubled), safe to splice into ``F.expr`` / ``selectExpr`` /
    ``filter(str)`` text whatever characters the column name holds."""
    return "`" + name.replace("`", "``") + "`"


# ---------------------------------------------------------------------------
# wildcard (substring) column matching — reference df_utils.py:107-139
# ---------------------------------------------------------------------------

def string_in_list(string: str, strlist: Sequence[str]) -> bool:
    """True if ``string`` matches any pattern in ``strlist``.

    A pattern containing ``*`` matches by *substring* of the pattern with the
    ``*`` stripped (reference semantics, df_utils.py:107-126); otherwise the
    match is exact equality.
    """
    for patt in strlist:
        if "*" in patt:
            if patt.replace("*", "") in string:
                return True
        elif string == patt:
            return True
    return False


def expand_wildcard_columns(patterns: Sequence[str], columns: Sequence[str]) -> list[str]:
    """Expand wildcard patterns against a column list, preserving column order."""
    return [c for c in columns if string_in_list(c, list(patterns))]


def strlist_in_strlist(patterns: Sequence[str], columns: Sequence[str]) -> bool:
    """True if every pattern matches at least one column (wildcard-aware).

    Reference semantics (``strlist_in_strlist`` df_utils.py:129-139): the
    cache-validity check — are all requested columns present?
    """
    return all(
        any(string_in_list(c, [patt]) for c in columns) for patt in patterns
    )


def select_columns(df: DataFrame, patterns: Sequence[str] | str) -> DataFrame:
    """Project columns by exact name or ``*``-substring wildcard (P2).

    ``'all'`` (or ``['all']``) keeps everything, as in the reference's
    ``select_columns='all'`` (df_utils.py:52-59).
    """
    if isinstance(patterns, str):
        patterns = [patterns]
    if list(patterns) == ["all"]:
        return df
    cols = expand_wildcard_columns(patterns, df.columns)
    if not cols:
        raise KeyError(
            f"no columns match patterns {list(patterns)}; available: {df.columns}"
        )
    return df.select(*cols)


# ---------------------------------------------------------------------------
# pandas-dialect expression translation (P1)
# ---------------------------------------------------------------------------

_CHAINED_CMP = re.compile(
    r"""(?P<a>[\w.@\(\)\-+*/]+)\s*(?P<op1><=?|>=?)\s*
        (?P<x>[\w.]+)\s*(?P<op2><=?|>=?)\s*(?P<b>[\w.@\(\)\-+*/]+)""",
    re.VERBOSE,
)
_PARAM = re.compile(r"@(\w+)")


def _sql_literal(value: Any) -> str:
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, numbers.Number):
        return repr(value)
    if isinstance(value, str):
        escaped = value.replace("'", "''")
        return f"'{escaped}'"
    if isinstance(value, (list, tuple, set)):
        return "(" + ", ".join(_sql_literal(v) for v in value) + ")"
    raise TypeError(f"cannot bind parameter of type {type(value)!r}")


def translate_query_expr(expr: str, params: dict[str, Any] | None = None) -> str:
    """Translate a pandas ``DataFrame.query`` expression into Spark SQL.

    Handles the dialect gaps catalogued in SURVEY.md §2.2 P1:

    - chained comparisons ``a < x < b``  →  ``a < x AND x < b``
    - ``@var`` locals → bound literals from ``params``
    - ``x in @lst`` → ``x IN (…)`` (via literal binding of the list)
    - ``and/or/not``, ``==``, ``!=`` parse natively in Spark SQL.
    """
    out = expr

    def _bind(m: re.Match) -> str:
        name = m.group(1)
        if params is None or name not in params:
            raise KeyError(f"expression references @{name} but no binding was given")
        return _sql_literal(params[name])

    out = _PARAM.sub(_bind, out)

    # Rewrite chained comparisons until fixpoint (they cannot nest after one
    # rewrite, but multiple independent chains may exist).
    while True:
        m = _CHAINED_CMP.search(out)
        if m is None:
            break
        a, op1, x, op2, b = m.group("a", "op1", "x", "op2", "b")
        out = out[: m.start()] + f"{a} {op1} {x} AND {x} {op2} {b}" + out[m.end() :]
    return out


def grouped_map_in_pandas(
    df,
    keys,
    fn,
    schema,
    num_partitions: int | None = None,
    batch_fn=None,
    sort_cols: Sequence[str] = (),
):
    """Many-groups-per-call grouped map: ``mapInPandas`` over key-partitioned,
    key-sorted batches.

    ``groupBy().applyInPandas`` pays one Arrow round-trip + Python call per
    GROUP (~1ms each — measured 20s+ for 17k small groups); this helper
    pays per *batch* and iterates groups with pandas ``groupby`` inside
    (~50µs/group).  Semantics match applyInPandas for a deterministic
    per-group ``fn(key_tuple, group_pdf) -> pdf``; rows of one key are
    guaranteed contiguous (repartition on keys + sortWithinPartitions).

    ``batch_fn(pdf, bounds) -> pdf | None`` is the zero-per-group-overhead
    mode: called once per batch with segment boundaries (``bounds[i] ..
    bounds[i+1]`` is one group's row range), so the kernel can run pure
    numpy over slices — no pandas groupby, no per-group frame construction
    (another ~5× on many-small-group workloads).

    ``sort_cols``: extra in-partition sort columns AFTER the keys — a
    time-ordered kernel (debounce's anchor walk) receives each group's
    rows already sorted, instead of re-sorting per group in Python.
    """
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    rep = df.repartition(*key_list) if num_partitions is None else df.repartition(
        num_partitions, *key_list
    )
    rep = rep.sortWithinPartitions(*key_list, *sort_cols)

    def run(batches):
        carry: pd.DataFrame | None = None

        def process(pdf: pd.DataFrame):
            if batch_fn is not None:
                kv = [pdf[k].to_numpy() for k in key_list]
                change = np.zeros(len(pdf), dtype=bool)
                change[0] = True
                for arr in kv:
                    # null-safe: NaN != NaN is True elementwise, which
                    # would split a NULL-keyed group into per-row segments
                    na = pd.isna(arr)
                    diff = arr[1:] != arr[:-1]
                    diff &= ~(na[1:] & na[:-1])
                    change[1:] |= diff
                bounds = np.flatnonzero(change).tolist() + [len(pdf)]
                out = batch_fn(pdf, bounds)
                if out is not None and len(out):
                    yield out
                return
            # dropna=False: a NULL group key is a real group (Spark's
            # groupBy().applyInPandas semantics) — pandas' default would
            # silently drop those rows
            for key, grp in pdf.groupby(key_list, sort=False, dropna=False):
                if not isinstance(key, tuple):
                    key = (key,)
                out = fn(key, grp)
                if out is not None and len(out):
                    yield out

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            # hold back the trailing (possibly incomplete) group
            # (null-safe: a trailing NULL-keyed group must be held back
            # too, or it would be split across two fn calls)
            kvals = [pdf[k].to_numpy() for k in key_list]
            mask_last = np.ones(len(pdf), dtype=bool)
            for kv in kvals:
                if pd.isna(kv[-1]):
                    mask_last &= pd.isna(kv)
                else:
                    eq = kv == kv[-1]
                    eq &= ~pd.isna(kv)
                    mask_last &= eq
            rev = mask_last[::-1]
            trailing = len(pdf) if rev.all() else int(np.argmin(rev))
            cut = len(pdf) - trailing
            if cut > 0:
                yield from process(pdf.iloc[:cut])
            carry = pdf.iloc[cut:].copy()
        if carry is not None and len(carry):
            yield from process(carry)

    return rep.mapInPandas(run, schema)


def query_df(
    df: DataFrame, expr: str, params: dict[str, Any] | None = None
) -> DataFrame:
    """The reference's workhorse expression filter (dataset_base.py:198-230).

    Returns a new DataFrame (Spark DFs are immutable — the reference mutates
    in place; see SURVEY.md §1.3 for the contract change).  The predicate is
    a Catalyst expression, so it is pushed into the parquet scan whenever the
    columns allow it.
    """
    return df.filter(translate_query_expr(expr, params))


def dense_ids(
    df: DataFrame,
    col: str,
    out_col: str,
    buckets: int = 64,
) -> DataFrame:
    """Assign dense ids ``0..n-1`` to the distinct values of ``col`` in
    value order — WITHOUT a single-partition global window.

    A plain ``row_number() OVER (ORDER BY col)`` funnels every row
    through one partition (Spark's WindowExec warns about exactly this),
    which caps the operator at one executor core at scale.  This is the
    two-phase zipWithIndex pattern instead:

    1. range-repartition the distinct values into ``buckets`` ordered
       ranges and pin the layout with ``localCheckpoint`` so both jobs
       below see identical partition ids;
    2. one tiny job collects per-partition counts (``buckets`` rows to
       the driver, regardless of data size) → cumulative offsets;
    3. final id = partition offset + per-partition ``row_number`` − 1.

    Because range partitions are ordered by value and offsets accumulate
    in partition order, the id equals the global rank of the value —
    deterministic, independent of the sampled range boundaries.

    Output: one row per distinct value of ``col``, columns
    ``(col, out_col)``.
    """
    from pyspark.sql import Window, functions as F

    spark = df.sparkSession
    ranged = (
        df.select(col)
        .distinct()
        .repartitionByRange(buckets, F.col(col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        r["__pid"]: r["n"]
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    acc = 0
    offsets = []
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    if not offsets:
        offsets = [(0, 0)]
    off_df = local_df(spark, offsets, "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(col)
    return (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn(
            out_col,
            (F.row_number().over(w) - 1 + F.col("__off")).cast("long"),
        )
        .drop("__pid", "__off")
    )


def local_df(spark, rows: Sequence, schema) -> DataFrame:
    """Small driver-side table → DataFrame via the Arrow/pandas path.

    ``createDataFrame(list)`` parallelizes the rows into
    ``defaultParallelism`` *Python* partitions, so every action over the
    frame (a broadcast build, a meta parquet write, a join) pays one
    Python-worker round trip per core — measured r11: a FOUR-row index
    meta write cost 5.3 s at local[32] (32 round trips) vs 0.25 s
    through pandas/Arrow, which lands the data JVM-side once at
    creation.  Use this for every literal/collected small table that a
    query plan consumes.

    ``schema`` is a DDL string or StructType; columns bind positionally,
    exactly like the list form.  Empty ``rows`` falls back to the list
    form (one empty relation — nothing to round-trip per core).
    """
    import pandas as pd

    if not rows:
        return spark.createDataFrame([], schema)
    pdf = pd.DataFrame([tuple(r) for r in rows])
    names = (
        [f.name for f in schema.fields]
        if hasattr(schema, "fields")
        else [c.strip().split()[0].strip("`") for c in _split_ddl(schema)]
    )
    pdf.columns = names[: len(pdf.columns)]
    return spark.createDataFrame(pdf, schema)


def _split_ddl(schema: str) -> list[str]:
    """Split a DDL column list on top-level commas (arrays/structs keep
    their internal commas)."""
    out, depth, cur = [], 0, []
    for ch in schema:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def materialize(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and truncate its lineage.

    Uses reliable ``checkpoint()`` when the session has a checkpoint dir
    configured — on a real cluster the stored blocks survive executor
    loss / dynamic-allocation downscale, and with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` stale
    rounds' files are reclaimed.  Without a checkpoint dir it falls back
    to ``localCheckpoint()``: correct and fast in local mode (and for
    bounded frames whose loss just fails the job), but the unreplicated
    executor blocks cannot be recomputed after executor loss — cluster
    deployments of iterative operators should set a checkpoint dir."""
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:
        has_dir = False
    if has_dir:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


#: Driver bound of ``sum_partials``, in int64 cells (partitions × width):
#: 2²² cells = 32 MB of partial vectors collected at once.
SUM_PARTIALS_MAX_CELLS = 1 << 22


def sum_partials(df: DataFrame, kernel, width: int):
    """Exact sum over partitions of one int64 vector each, in one job.

    ``kernel(batches) -> array`` reduces one partition — an iterator of
    pandas frames of ``df``'s columns, possibly empty — to a single
    int64 vector of length ``width``.  Each partition ships that vector
    as one ``binary`` row; the driver collects the rows and sums them in
    numpy.  Integer addition is order-independent, so the result does
    not depend on the partitioning.  This is MLlib's ``treeAggregate``
    shape: a ``mapInPandas → groupBy → collect`` reduce of the same
    partials costs an extra shuffle-map job under AQE.

    Driver bound: when ``partitions × width`` exceeds
    ``SUM_PARTIALS_MAX_CELLS`` one tree level first sums the partials on
    ``⌈√P⌉`` round-robin partitions, so the driver receives ``⌈√P⌉``
    vectors instead of ``P``.

    ``P`` is read with ``df.rdd.getNumPartitions()``: zero jobs on a
    scan-rooted or checkpointed frame (``materialize``), but a persisted
    or shuffle-rooted frame runs its upstream stages for the probe —
    hand this a materialized frame when it is called in a loop.
    """
    import math

    import numpy as np
    import pandas as pd

    def packed(batches):
        v = np.asarray(kernel(batches), dtype=np.int64)
        if v.shape != (width,):
            raise ValueError(
                f"kernel returned shape {v.shape}, expected ({width},)"
            )
        yield pd.DataFrame({"v": [v.tobytes()]})

    def unpack(rows) -> np.ndarray:
        total = np.zeros(width, dtype=np.int64)
        for b in rows:
            total += np.frombuffer(b, dtype=np.int64)
        return total

    def add(batches):
        total = unpack(b for pdf in batches for b in pdf["v"])
        yield pd.DataFrame({"v": [total.tobytes()]})

    parts = df.mapInPandas(packed, "v binary")
    nparts = df.rdd.getNumPartitions()
    if nparts * width > SUM_PARTIALS_MAX_CELLS:
        parts = parts.repartition(math.ceil(math.sqrt(nparts))).mapInPandas(
            add, "v binary"
        )
    return unpack(r["v"] for r in parts.collect())


#: Logical-plan node names that ``spread`` treats as already wide
#: (matched as substrings of the node name, so ``RepartitionByExpression``
#: and ``DeduplicateWithinWatermark`` count too).
_WIDE_NODES = (
    "Repartition", "Join", "Aggregate", "Sort", "Window", "Distinct",
    "Deduplicate",
)


def _has_wide_node(plan) -> bool:
    """Whether the JVM ``plan`` holds a shuffle-introducing node.  Walks
    ``nodeName()`` over the plan tree, so column names, expressions and
    file paths cannot match.  ``innerChildren`` reach a cached relation's
    plan and subqueries; an adaptive plan keeps its own under
    ``inputPlan``."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if any(k in name for k in _WIDE_NODES):
            return True
        for kids in (node.children(), node.innerChildren()):
            stack.extend(kids.apply(i) for i in range(kids.size()))
        if name == "AdaptiveSparkPlan":
            stack.append(node.inputPlan())
    return False


def spread(df: DataFrame, factor: int = 1, barrier: bool = False) -> DataFrame:
    """Round-robin repartition ``df`` to cluster parallelism when its
    current partitioning would leave most cores idle.

    The CPU-heavy map kernels (MinHash/CWS/SimHash signature UDFs, the
    bootstrap's per-row md5 replicates, tokenizers) are narrow: their
    parallelism is whatever the upstream scan produced.  A small table
    — one parquet row group, one gzip file, a catalog fetch — scans as
    ONE task, so the whole kernel runs on one core regardless of
    cluster width (guide §2.5 "input skew": repartition immediately
    after the read).  Measured at sf0.1: the bootstrap md5 stage alone
    held one core for >4 minutes of an 8.7 s-floor query.

    Scale guard: when the input already has at least
    ``defaultParallelism × factor`` partitions — every scan of a
    large table on a real cluster — this is a NO-OP, so the 100 TB
    plan shape is unchanged and no payload-shuffle is added at scale.
    Only apply where per-row compute dominates; the repartition itself
    costs one exchange of the projected input rows.

    Two placement rules, both load-bearing:

    - **Scan-rooted frames only.**  The partition probe goes through
      ``df.rdd``, which under AQE *executes* any upstream shuffle
      stages to finalize the plan (measured: one full job fired just
      probing a repartitioned frame).  On a narrow scan-rooted plan the
      probe is pure planning, zero jobs.  A guard below skips frames
      whose optimized plan contains shuffle-introducing nodes
      (``_has_wide_node``) — they already have shuffle-determined (wide)
      partitioning anyway.
    - **Below Python UDF columns.**  ``spread(df.select(udf(x)))``
      exchanges rows AFTER the ArrowEvalPython node — the kernel still
      runs at scan width.  Spread the input, then attach the kernel
      column.

    ``barrier=True`` additionally materializes the repartitioned frame
    (checkpoint → RDD-scan plan root).  Needed when the downstream
    per-row compute is JVM *expressions* (shingle trees, token HOFs)
    rather than a Python UDF: Catalyst pushes deterministic Projects
    and Filters straight through a round-robin Exchange, so without the
    barrier the expensive expression still evaluates at scan width
    below the shuffle (measured r11: the minhash exact-verify shingle
    filter ran as a 1.85 s two-task stage under the Exchange, then the
    Project above it re-evaluated the same tree).  The checkpoint only
    fires when a repartition actually happened, so at cluster scale —
    wide scans — ``barrier`` never adds a job.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    try:
        if _has_wide_node(df._jdf.queryExecution().optimizedPlan()):
            return df
        nparts = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - Connect / planning quirks
        return df
    if nparts < target:
        out = df.repartition(target)
        return materialize(out) if barrier else out
    return df
