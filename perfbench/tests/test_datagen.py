import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen


def _digests(d):
    return {
        t: hashlib.sha256(open(os.path.join(d, f"{t}.parquet"), "rb").read()).hexdigest()
        for t in datagen.TABLES
    }


def test_same_seed_gives_byte_identical_tables(tmp_path):
    datagen.generate(7, str(tmp_path / "a"))
    datagen.generate(7, str(tmp_path / "b"))
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")


def test_different_seed_gives_different_tables(tmp_path):
    datagen.generate(7, str(tmp_path / "a"))
    datagen.generate(8, str(tmp_path / "b"))
    a, b = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    assert all(a[t] != b[t] for t in datagen.TABLES)
    assert datagen.knobs_for(7) != datagen.knobs_for(8)


def test_invariants_the_queries_assume(tmp_path):
    knobs = datagen.generate(3, str(tmp_path))
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    assert docs.doc_id.max() < 100_000 and docs.doc_id.is_unique
    assert docs.text.notna().all()
    assert (docs.n_chars == docs.text.str.len()).all()
    emb = pq.read_table(tmp_path / "embeddings.parquet").to_pandas()
    assert {len(v) for v in emb.embedding} == {64}
    cust = pq.read_table(tmp_path / "customer.parquet").to_pandas()
    assert len(cust) == knobs.n_stars and cust.c_custkey.is_unique


def test_star_keys_land_in_a_patch_of_the_seeded_area(tmp_path):
    knobs = datagen.generate(5, str(tmp_path))
    keys = pq.read_table(tmp_path / "customer.parquet").column("c_custkey").to_numpy()
    ra, dec = datagen.star_positions(keys)
    side = np.sqrt(knobs.sky_area_deg2)
    assert ra.max() - ra.min() <= side and dec.max() - dec.min() <= side
    assert len(set(zip(ra, dec))) == len(keys)


def test_schemas_match_the_star_schema(tmp_path):
    datagen.generate(1, str(tmp_path))
    names = {t: pq.read_schema(tmp_path / f"{t}.parquet").names for t in datagen.TABLES}
    assert names["customer"] == ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    assert names["documents"] == ["doc_id", "text", "lang", "source", "n_chars"]
    assert names["embeddings"] == ["vec_id", "embedding", "label"]
    assert names["orders"][:2] == ["o_orderkey", "o_custkey"]
    assert len(names["lineitem"]) == 11
