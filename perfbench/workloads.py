"""The benchmark workloads: which registry queries one iteration runs, which
generated tables they read, and the program's one-time set-up for each."""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    tables: tuple[str, ...]
    #: the query whose first call builds a persistent index that every later
    #: call reuses; that first call is the workload's set-up
    setup_query: str | None = None


WORKLOADS = {
    "astro_e2": Workload(("astro_flagship_oracle",), ("customer",)),
    "dedup_ingest": Workload(("dd_index_incremental",), ("documents",)),
    "dedup_probe": Workload(("dd_index_probe",), ("documents",), setup_query="dd_index_probe"),
    "iter_fit": Workload(
        ("gr_pagerank", "txt_hashed_bow_classifier", "emb_kmeans"),
        ("lineitem", "orders", "documents", "embeddings"),
    ),
}


def index_dirs(tmp_dir: str) -> list[str]:
    """The persistent MinHash index directories the dedup queries keep
    under the process temp dir (``dslicer_mhidx_*``)."""
    return sorted(glob.glob(os.path.join(tmp_dir, "dslicer_mhidx_*")))

