"""Scale probe: the Spark jobs, stages and tasks of 44 heavy kernels at 1×
and 4× data — the 100 TB design claim, checked as plan shape.  Each
kernel runs once, cold, per size under ``trace.counted``: unlike wall
time, the counts do not move with host load.  Equal job and stage counts
mean one plan at both sizes.

Every input — an sf table, a derived table such as an edge set, and its
4× replica (shifted keys; the near-dup corpora also salt every token of a
copy, so the 4× corpus keeps the 1× near-dup density instead of holding
~16× the qualifying pairs) — is written by :func:`write_input` as one
parquet file of one row group, the sf tables' layout, so both sizes scan
the way the sf tables do.

A kernel lists the bounds that pick its path by size (``Kernel.bounds``):
module constants such as ``graph.DRIVER_MAX_EDGES``, or Spark confs such
as ``spark.sql.autoBroadcastJoinThreshold``.  A row whose job or stage
counts differ names them with their values.  One that differs with none
listed runs twice more per size: if identical runs disagree the row is
marked ``varying``, else ``unexplained`` and the script exits 1.
``bpe_merge_count_16_vs_64`` is a parameter axis (16 vs 64 merges on the
1× corpus): its row reports jobs per added merge.

Usage: python scripts/scale_probe.py [SF_DIR] (default
/root/testdata/sf0.1) → one JSON line per kernel.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import shutil
import sys
import tempfile
from collections.abc import Callable
from dataclasses import dataclass
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dataslicer_spark.functions import text  # noqa: E402
from dataslicer_spark.operators import (  # noqa: E402
    asof, bootstrap, bpe, classifier, clustering, decontam, dedup, dedup_index,
    drift, dsir, fuzzy, graph, kmeans, pq, resample, retrieval, retrieval_index,
    sampling, similarity, span_dedup, spatial, timeseries, weighted_minhash,
)
from dataslicer_spark.plans.astro_pipeline import make_astro_fixture  # noqa: E402
from dataslicer_spark.session import get_spark, load_tables, read_parquet  # noqa: E402
from dataslicer_spark.streaming.events import load_events  # noqa: E402
from dataslicer_spark.trace import counted  # noqa: E402

SIZES = (1, 4)


def write_input(
    df: DataFrame, path: str, copies: int = 1,
    replica: Callable[[int], dict] | None = None,
) -> str:
    """Write ``copies`` replicas of ``df`` to ``path`` as one parquet file
    holding one row group; replica ``i`` (0 is ``df`` itself) replaces
    the columns ``replica(i)`` maps to new values.  Returns ``path``."""
    out = df
    for i in range(1, copies):
        out = out.unionByName(df.withColumns(replica(i)))
    tmp = path + ".parts"
    # one task writes one file; a row group closes only past the block size
    out.coalesce(1).write.option("parquet.block.size", 1 << 30).parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    os.replace(part, path)
    shutil.rmtree(tmp)
    return path


def _shift(**steps: int) -> Callable[[int], dict]:
    """Replica ``i`` adds ``i * step`` to each named key column."""
    return lambda i: {c: F.col(c) + step * i for c, step in steps.items()}


def _salt(col: str, key: str, step: int) -> Callable[[int], dict]:
    """Shifted ``key``, and every token of ``col`` tagged with its replica."""
    tagged = lambda i: F.regexp_replace(F.col(col), r"(\S+)", f"c{i}$1")  # noqa: E731
    return lambda i: {key: F.col(key) + step * i, col: tagged(i)}


def _sky(id_col: str) -> Callable[[int], dict]:
    """Shifted ids, and positions rotated a quarter turn per replica."""
    return lambda i: {
        id_col: F.col(id_col) + 10_000_000 * i, "ra": (F.col("ra") + 90.0 * i) % 360.0
    }


def _table(name, *cols):
    return lambda spark, sf: load_tables(spark, sf, name).select(*(cols or ["*"]))


def _events(spark, sf):
    return load_events(spark, sf).select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"), "value",
    )


def _cust_supp_edges(spark, sf):
    li, o = load_tables(spark, sf, "lineitem", "orders").values()
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"), (F.col("l_suppkey") * 2 + 1).alias("dst")
    )


def _part_edges(spark, sf):
    """Part co-occurrence edges of the high-value orders' line items."""
    li, o = load_tables(spark, sf, "lineitem", "orders").values()
    hi = o.filter(F.col("o_totalprice") > 450_000.0).select("o_orderkey")
    lines = li.join(hi, li.l_orderkey == hi.o_orderkey, "left_semi")
    a = lines.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = lines.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    pairs = a.join(b, "ok").filter(F.col("src") < F.col("dst"))
    return pairs.select("src", "dst").distinct()


# input name -> (its 1× frame from the sf dir, replica(i) column map)
INPUTS = {
    "docs": (_table("documents"), _shift(doc_id=1_000_000)),
    "docs_salted": (_table("documents"), _salt("text", "doc_id", 1_000_000)),
    "events": (_events, _shift(user_id=1_000_000, event_id=10_000_000)),
    "customer": (
        _table("customer", "c_custkey", "c_name"),
        _salt("c_name", "c_custkey", 1_000_000),
    ),
    "emb": (_table("embeddings"), _shift(vec_id=1_000_000)),
    "sources": (lambda s, sf: make_astro_fixture(s, sf)[0], _sky("sourceid")),
    "catalog": (lambda s, sf: make_astro_fixture(s, sf)[2], _sky("_id")),
    "cust_supp_edges": (_cust_supp_edges, _shift(src=10_000_000)),
    "part_edges": (_part_edges, _shift(src=1_000_000, dst=1_000_000)),
}


def write_inputs(spark, sf_dir: str, root: str, names) -> dict[str, dict[int, str]]:
    """``{input: {size: path}}``: each named input at every size in SIZES,
    written under ``root`` by :func:`write_input`."""
    paths: dict[str, dict[int, str]] = {}
    for name in names:
        load, replica = INPUTS[name]
        base = load(spark, sf_dir)
        paths[name] = {
            n: write_input(base, os.path.join(root, f"{name}_{n}x.parquet"), n, replica)
            for n in SIZES
        }
    return paths


@dataclass(frozen=True)
class Kernel:
    """``run(d)`` returns the frame to sink, or runs the kernel's own
    action and returns anything else.  ``d`` has one attribute per input
    at the size under test, ``d.n`` (1 or 4), ``d.tmp`` (a fresh scratch
    dir) and ``d.one`` (the inputs at 1×, for fixed query and eval sets).
    """

    inputs: str  # input names, space-separated
    run: Callable[[SimpleNamespace], object]
    # ``module.NAME`` constants and ``spark.*`` confs that pick the path by size
    bounds: tuple[str, ...] = ()
    # a parameter axis instead of the data axis: (unit, units added 1× → 4×)
    axis: tuple[str, int] | None = None


def _purchases(ev, *cols):
    return ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", *cols
    ).dropDuplicates(["user_id", "ts_us"])


def _asof(d):
    clicks = d.events.filter(F.col("event_type") == "click")
    purch = _purchases(d.events, F.col("value").alias("pv"), "event_id")
    return asof.asof_join(
        clicks.select("event_id", "user_id", "ts_us"), purch, "ts_us", ["user_id"],
        ["pv"], tiebreak_col="event_id",
    )


def _queries(emb, mod):
    return emb.filter(F.col("vec_id") % 500 == mod).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _pq(d):
    """Codebooks trained on the 1× corpus at both sizes."""
    cbs = pq.train_pq(d.one.emb, m=8, k=64, seed=3)
    return pq.pq_search(pq.pq_encode(d.emb, cbs), _queries(d.one.emb, 1), cbs, k=10)


def _perceptron(d):
    feats = classifier.add_text_features(d.docs).withColumn(
        "y", F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1))
    ).persist()
    fcols = ["f_len", "f_spaces", "f_digits", "f_upper", "f_punct"]
    w = classifier.batch_perceptron_fit(feats, fcols, "y", n_epochs=3)
    return classifier.perceptron_predict(feats, fcols, w)


def _pagerank(d):
    e = d.cust_supp_edges
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return graph.pagerank(e.unionByName(rev), n_iter=3)


def _scored(docs):
    tk = F.split(F.trim(F.col("text")), r"\s+")
    distinct = F.size(F.array_distinct(tk)).cast("double")
    return docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id", "source", F.size(tk).alias("n_tok"),
        (distinct / F.size(tk).cast("double")).alias("score"),
    )


def _bm25_index(d):
    retrieval_index.build_bm25_index(d.docs, d.tmp)
    return retrieval_index.search_bm25_index(
        d.docs.sparkSession, d.tmp, ["merge", "join", "scan"], k=10
    )


def _minhash_index(d):
    path = os.path.join(d.tmp, "idx")
    dedup_index.build_minhash_index(d.docs, path, "doc_id", num_perm=64, bands=32)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    head = F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1)))
    batch = d.docs.filter(F.col("doc_id") % 16 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat_ws(" ", head).alias("text"),
    )
    return dedup_index.dedup_against_minhash_index(
        batch, path, "doc_id", threshold=0.8,
        append_survivors=False, exact_verify_with=d.docs,
    )[1]


def _ivf_rebalance(d):
    path = os.path.join(d.tmp, "idx")
    c, a = similarity.build_ivf_index(
        d.emb, n_lists=16, corpus_id="vec_id", corpus_vec="embedding"
    )
    similarity.save_ivf_index(c, a, path)
    similarity.rebalance_ivf_index(d.emb.sparkSession, path, n_lists=16)


def _mmr_ivf(d):
    """MMR fed from the pruned IVF probe (n_probe < n_lists), the
    sim_mmr_ivf plan's scale configuration; fixed query set."""
    qs = _queries(d.one.emb, 3)
    cand = similarity.ivf_topk(d.emb, qs, k=20, n_lists=16, n_probe=4)

    def quant(c):
        return F.transform(F.col(c), lambda x: F.floor(x * 4096.0).cast("long"))

    qv = qs.select(F.col("query_id").alias("__qid"), quant("embedding").alias("__qq"))
    rel = F.aggregate(
        F.zip_with(quant("embedding"), F.col("__qq"), lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, v: acc + v,
    )
    cand_rel = (
        cand.select("query_id", "vec_id")
        .join(d.emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qv), F.col("query_id") == F.col("__qid"))
        .select("query_id", "vec_id", rel.alias("rel_q"), "embedding")
    )
    return similarity.mmr_rerank(cand_rel, k=5, lam_num=7, lam_den=3, fp_bits=12)


_HOUR = 3_600_000_000
_EV3 = ("user_id", "event_id", "value")

KERNELS: dict[str, Kernel] = {
    # AQE coalesces a shuffle under the minimum partition size to one
    # partition; over it the merge probe's limit adds a single-partition stage
    "dbscan_sky": Kernel("sources", lambda d: clustering.dbscan(
        d.sources, 3.0, 2, "sourceid", coord="sky"
    ), bounds=(
        "clustering.DRIVER_MERGE_MAX_SETS",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    )),
    "crossmatch_sky": Kernel("sources catalog", lambda d: spatial.crossmatch_sky(
        d.sources, d.catalog, 3.0, source_id="sourceid"
    )),
    "minhash_lsh": Kernel("docs", lambda d: dedup.minhash_lsh_pairs(d.docs, "doc_id")),
    # t=0.8: the PPJoin prefix-filtered plan, the regime this exact kernel is for
    "ngram_jaccard": Kernel(
        "docs_salted",
        lambda d: dedup.ngram_jaccard_pairs(d.docs_salted, "doc_id", threshold=0.8),
    ),
    "asof_join": Kernel("events", _asof),
    "resample_ffill": Kernel("events", lambda d: resample.resample_ffill(
        _purchases(d.events, F.col("value").alias("pv")), "ts_us", ["user_id"], ["pv"],
        step_us=_HOUR,
    )),
    # the corpus grows, the eval set stays the 1× one (its real-world shape)
    "decontaminate": Kernel("docs", lambda d: decontam.contamination_pairs(
        d.docs,
        d.one.docs.filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("eval_id"), "text"),
        "doc_id", "eval_id", n=3, min_common=2,
    )),
    "temperature_resample": Kernel("docs", lambda d: sampling.temperature_resample(
        d.docs, "source", "doc_id", alpha=0.5, target_fraction=0.5
    )),
    "rolling_window": Kernel("events", lambda d: timeseries.rolling_window_stats(
        d.events.filter(F.col("event_type") == "purchase"), "ts_us", ["user_id"],
        "value", width_us=_HOUR,
    )),
    "interpolate_linear": Kernel("events", lambda d: timeseries.interpolate_linear(
        _purchases(d.events, F.col("value").alias("pv")), "ts_us", ["user_id"], "pv",
        step_us=_HOUR,
    )),
    "debounce": Kernel("events", lambda d: timeseries.debounce(
        _purchases(d.events, "event_id"), "ts_us", ["user_id"], window_us=_HOUR
    )),
    "fuzzy_join": Kernel("customer", lambda d: fuzzy.edit_distance_self_join(
        d.customer, "c_custkey", "c_name", max_dist=1
    )),
    "trigram_lm": Kernel("docs", lambda d: text.trigram_lm_scores(
        d.docs, text.trigram_model(d.docs, "text", max_chars=512), "doc_id", "text",
        max_chars=512,
    )),
    "pq_encode_search": Kernel("emb", _pq),
    "cosine_topk_batched": Kernel("emb", lambda d: similarity.cosine_topk_batched(
        d.emb, _queries(d.one.emb, 1), k=10
    )),
    "kmeans": Kernel("emb", lambda d: kmeans.kmeans(
        d.emb.select("vec_id", "embedding"), "vec_id", "embedding", k=8, n_iter=3
    ), bounds=("utils.DRIVER_MAX_CELLS",)),
    # k grows with the corpus (8 → 32): the operator's cluster-size contract
    "semantic_dedup": Kernel("emb", lambda d: dedup.semantic_dedup(
        d.emb.select("vec_id", "embedding"), threshold=0.35, k=8 * d.n, n_iter=2
    )[0], bounds=(
        "kmeans.EXPR_MAX_CELLS", "utils.DRIVER_MAX_CELLS", "dedup.MATRIX_MAX_ROWS"
    )),
    "perceptron_train": Kernel(
        "docs", _perceptron, bounds=("utils.DRIVER_MAX_CELLS",)
    ),
    "bpe_train_apply": Kernel("docs", lambda d: bpe.bpe_apply(
        d.docs, bpe.bpe_fit(d.docs, "text", n_merges=3, max_chars=256), "text",
        max_chars=256,
    )),
    "bpe_merge_count_16_vs_64": Kernel("docs", lambda d: bpe.bpe_fit(
        d.one.docs, "text", n_merges=16 * d.n, max_chars=256
    ), axis=("merge", 48)),
    "bpe_merge_count_data_axis": Kernel(
        "docs", lambda d: bpe.bpe_fit(d.docs, "text", n_merges=16, max_chars=256)
    ),
    "pagerank": Kernel("cust_supp_edges", _pagerank, bounds=(
        "graph.DRIVER_MAX_EDGES", "spark.sql.autoBroadcastJoinThreshold"
    )),
    "triangle_count": Kernel(
        "part_edges", lambda d: graph.triangle_count(d.part_edges),
        bounds=("spark.sql.autoBroadcastJoinThreshold",),
    ),
    "label_propagation": Kernel(
        "part_edges", lambda d: graph.label_propagation(d.part_edges, n_iter=3)
    ),
    "bootstrap_ci": Kernel("events", lambda d: bootstrap.bootstrap_mean_ci(
        d.events, "value", "event_id", n_replicates=64
    )),
    "bm25_topk": Kernel(
        "docs", lambda d: retrieval.bm25_topk(d.docs, ["spark", "vector", "fast"], k=10)
    ),
    "dsir_select": Kernel("docs", lambda d: dsir.dsir_select(
        d.docs, F.col("lang") == "en", k=50, n_buckets=4096
    )),
    "span_dedup_scrub": Kernel(
        "docs", lambda d: span_dedup.remove_duplicated_spans(d.docs, "doc_id", k=8)
    ),
    # the budget grows with the data, so the kept set grows 4× too
    "token_budget_select": Kernel("docs", lambda d: sampling.token_budget_select(
        _scored(d.docs), "score", "n_tok", "doc_id", 80_000 * d.n, n_buckets=32
    )),
    "paragraph_filter": Kernel("docs", lambda d: text.paragraph_quality_filter(
        d.docs, "doc_id", para_tokens=20, min_distinct_ratio=0.72
    )),
    "phrase_search": Kernel(
        "docs", lambda d: retrieval.phrase_search(d.docs, ["table", "part"])
    ),
    "epoch_mixture": Kernel("docs", lambda d: sampling.epoch_mixture(
        _scored(d.docs), "source", "n_tok", "doc_id",
        {f"src{j}": 30_000.0 * d.n for j in range(4)}, max_epochs=2.5,
    )),
    "bm25_index_build_probe": Kernel("docs", _bm25_index),
    "minhash_index_probe": Kernel(
        "docs", _minhash_index, bounds=("dedup_index.ISIN_MAX_IDS",)
    ),
    "ivf_rebalance": Kernel("emb", _ivf_rebalance),
    "ewma_smooth": Kernel("events", lambda d: timeseries.ewma_smooth(
        d.events.select(*_EV3), ["user_id"], "event_id", "value", 0.25
    )),
    "cusum_changepoints": Kernel("events", lambda d: timeseries.cusum_changepoints(
        d.events.select(*_EV3), ["user_id"], "event_id", "value", 50.0, 15.0, 120.0
    )),
    "seasonal_decompose": Kernel(
        "events", lambda d: timeseries.seasonal_decompose_naive(
            d.events.select("user_id", "ts_us", "value"), ["user_id"], "ts_us",
            "value", period_us=24 * _HOUR, bucket_us=_HOUR,
            trend_halfwidth_us=6 * _HOUR,
        ),
    ),
    "ks_2sample": Kernel("events", lambda d: drift.ks_2sample(
        d.events.select(
            F.lit("value").alias("feature"), "event_type", F.floor("value").alias("v")
        ),
        "event_type", "v", ["feature"], "click", "view",
    )),
    "centroid_drift": Kernel("emb", lambda d: drift.embedding_centroid_drift(
        d.emb.filter(F.col("vec_id") % 2 == 0), d.emb.filter(F.col("vec_id") % 2 == 1),
        ["label"],
    )),
    "kcore_peel": Kernel("part_edges", lambda d: graph.kcore(d.part_edges, k=4)),
    "weighted_minhash": Kernel(
        "docs_salted",
        lambda d: weighted_minhash.weighted_minhash_pairs(
            d.docs_salted, "doc_id", threshold=0.8
        ),
    ),
    # bits=16: the documented corpus-scale configuration (32-bit band buckets)
    "bbit_minhash": Kernel("docs_salted", lambda d: dedup.bbit_minhash_lsh_pairs(
        d.docs_salted, "doc_id", bits=16, threshold=0.8
    )),
    "mmr_ivf": Kernel("emb", _mmr_ivf),
}


def _bound(spark, name: str) -> str:
    """``name=value`` of a bound a kernel lists."""
    if name.startswith("spark."):
        return f"{name}={spark.conf.get(name)}"
    mod, const = name.split(".")
    pkg = "dataslicer_spark" if mod == "utils" else "dataslicer_spark.operators"
    return f"{name}={getattr(importlib.import_module(f'{pkg}.{mod}'), const)}"


def probe(spark, name: str, paths: dict[str, dict[int, str]], root: str) -> dict:
    """One row: the kernel's counted jobs/stages/tasks at 1× and at 4×."""
    k = KERNELS[name]
    # every read, with its schema-inference job, happens before counting
    inputs = k.inputs.split()
    d = {
        n: SimpleNamespace(n=n, **{i: read_parquet(spark, paths[i][n]) for i in inputs})
        for n in SIZES
    }

    def once(n):
        d[n].one, d[n].tmp = d[1], tempfile.mkdtemp(dir=root)

        def run():
            out = k.run(d[n])
            if isinstance(out, DataFrame):
                out.write.format("noop").mode("overwrite").save()

        counts = counted(spark, run)[1]
        spark.catalog.clearCache()
        return counts

    row: dict = {"kernel": name, "1x": once(1), "4x": once(4)}
    shape = {n: (row[f"{n}x"]["jobs"], row[f"{n}x"]["stages"]) for n in SIZES}
    if k.axis:
        unit, added = k.axis
        row[f"jobs_per_added_{unit}"] = round((shape[4][0] - shape[1][0]) / added, 3)
    elif shape[1] != shape[4] and k.bounds:
        row["bound"] = [_bound(spark, b) for b in k.bounds]
    elif shape[1] != shape[4]:
        # no bound: two more runs per size tell a size flip from a
        # structure that identical runs do not reproduce
        reps = {n: [row[f"{n}x"], once(n), once(n)] for n in SIZES}
        if any(len({(c["jobs"], c["stages"]) for c in r}) > 1 for r in reps.values()):
            row["varying"] = {f"{n}x": r for n, r in reps.items()}
        else:
            row["unexplained"] = True
    return row


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("scale-probe")
    unexplained = False
    with tempfile.TemporaryDirectory(prefix="scale_probe_") as root:
        names = sorted({i for k in KERNELS.values() for i in k.inputs.split()})
        paths = write_inputs(spark, sf_dir, root, names)
        for name in KERNELS:
            row = probe(spark, name, paths, root)
            print(json.dumps(row), flush=True)
            unexplained |= "unexplained" in row
    return int(unexplained)


if __name__ == "__main__":
    sys.exit(main())
