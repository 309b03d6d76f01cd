"""Streaming cross-batch corpus dedup (streaming/stream.py
dedup_batch_against_index / streamed_incremental_dedup): cross-batch
rejection through the growing index, within-batch min-id collapse,
at-least-once replay idempotency, and NULL-text semantics."""

import pytest
import tempfile

from pyspark.sql import Row

from reddit_etl_pipeline_spark.streaming.stream import (
    dedup_batch_against_index,
    streamed_incremental_dedup,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows],
        "doc_id long, text string",
    )


def _setup(tmp_prefix="sd_"):
    base = tempfile.mkdtemp(prefix=tmp_prefix)
    return f"{base}/idx", f"{base}/acc"


def _accepted(spark, acc):
    return sorted(
        r["doc_id"] for r in spark.read.parquet(acc).select("doc_id").collect()
    )


def test_cross_batch_duplicates_rejected(spark):
    idx, acc = _setup()
    dedup_batch_against_index(_docs(spark, [(1, "aa"), (2, "bb")]), 0, idx, acc)
    # batch 1: "aa" already accepted in batch 0 -> only "cc" survives
    dedup_batch_against_index(_docs(spark, [(3, "aa"), (4, "cc")]), 1, idx, acc)
    assert _accepted(spark, acc) == [1, 2, 4]


def test_within_batch_collapses_to_min_id(spark):
    idx, acc = _setup()
    dedup_batch_against_index(
        _docs(spark, [(9, "dup"), (3, "dup"), (5, "solo")]), 0, idx, acc
    )
    assert _accepted(spark, acc) == [3, 5]


def test_replay_same_batch_id_is_idempotent(spark):
    idx, acc = _setup()
    b = _docs(spark, [(1, "aa"), (2, "bb")])
    dedup_batch_against_index(b, 0, idx, acc)
    dedup_batch_against_index(b, 0, idx, acc)  # foreachBatch replay
    assert _accepted(spark, acc) == [1, 2]


def test_null_text_dedups_across_ingest_batches(spark):
    """NULL-text docs must behave exactly like the batch operator run
    over the whole ingest: ONE ingest-wide NULL representative (the
    batch min-id rule), regardless of how micro-batches slice it."""
    idx, acc = _setup()
    dedup_batch_against_index(_docs(spark, [(1, None), (2, "x")]), 0, idx, acc)
    # batch 0 already accepted a NULL doc -> batch 1's NULLs are its dups
    dedup_batch_against_index(_docs(spark, [(7, None), (5, None)]), 1, idx, acc)
    assert _accepted(spark, acc) == [1, 2]


def test_seed_corpus_null_never_suppresses_ingest_nulls(spark):
    """A NULL-text doc in the SEED corpus (batch_id=-1 index partition)
    must not reject ingest NULLs — SQL equality semantics: the batch
    operator's anti-join never matches NULL against the corpus."""
    idx, acc = _setup()
    # seed the index the way streamed_incremental_dedup does
    from reddit_etl_pipeline_spark.operators.dedup import nullable_fingerprint
    from pyspark.sql import functions as F

    _docs(spark, [(100, None), (101, "seen")]).select(
        nullable_fingerprint("text").alias("fp")
    ).distinct().write.mode("overwrite").parquet(f"{idx}/batch_id=-1")
    dedup_batch_against_index(
        _docs(spark, [(1, None), (2, "seen"), (3, "new")]), 0, idx, acc
    )
    # NULL survives (corpus NULL never matches); "seen" rejected
    assert _accepted(spark, acc) == [1, 3]


def test_streamed_matches_batch_incremental_dedup(spark, sf_dir):
    from reddit_etl_pipeline_spark.operators.dedup import incremental_dedup
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = sorted(
        r["doc_id"]
        for r in incremental_dedup(
            docs.filter(F.col("doc_id") % 2 == 1),
            docs.filter(F.col("doc_id") % 2 == 0),
        ).collect()
    )
    got = sorted(
        r["doc_id"]
        for r in streamed_incremental_dedup(spark, sf_dir).collect()
    )
    assert got == want


def test_streamed_incremental_neardup_matches_sequential_greedy(spark, sf_dir):
    """The streamed near-dup corpus build must equal one sequential
    greedy pass: seeds (even ids) all accepted; odd docs in id order,
    rejected iff est-Jaccard >= t against an already-accepted doc.
    Signatures are a pure per-doc function and slices are id-ordered, so
    the policies coincide exactly."""
    from pyspark.sql import functions as F

    from reddit_etl_pipeline_spark.operators.dedup import minhash_neardup_pairs
    from reddit_etl_pipeline_spark.streaming.stream import (
        streamed_incremental_neardup,
    )

    t = 0.5
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = [
        (r.doc_a, r.doc_b)
        for r in minhash_neardup_pairs(docs, threshold=t).collect()
    ]
    all_ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    nbrs = {}
    for a, b in edges:
        lo, hi = (a, b) if a < b else (b, a)
        nbrs.setdefault(hi, []).append(lo)
        nbrs.setdefault(lo, []).append(hi)
    accepted = {d for d in all_ids if d % 2 == 0}  # seeds
    want = set()
    for d in all_ids:
        if d % 2 == 0:
            continue
        if not any(e in accepted for e in nbrs.get(d, ())):
            accepted.add(d)
            want.add(d)
    got = {
        r.doc_id
        for r in streamed_incremental_neardup(spark, sf_dir, threshold=t).collect()
    }
    assert got == want, (len(got), len(want), sorted(got ^ want)[:10])


def test_index_probe_reraises_on_foreign_directory(spark):
    """A readable-but-not-parquet index path must RAISE, not silently be
    treated as 'no index yet' (which would skip the anti-join and accept
    every duplicate). Only PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA map
    to the first-batch case."""
    import os

    import pytest

    from reddit_etl_pipeline_spark.sources.lake import read_index_or_none as _read_index_or_none

    idx, acc = _setup("probe_")
    # missing path -> None (first batch)
    assert _read_index_or_none(spark, idx) is None
    # empty dir -> None (index dir created but nothing written yet)
    os.makedirs(idx, exist_ok=True)
    assert _read_index_or_none(spark, idx) is None
    # foreign content (unreadable footer) -> must raise, never None
    with open(f"{idx}/garbage.txt", "w") as f:
        f.write("not parquet")
    with pytest.raises(Exception):
        assert _read_index_or_none(spark, idx) is not None


def test_neardup_within_batch_edge_cap(spark):
    """A batch whose within-batch near-dup edges exceed max_batch_edges
    must fail fast with sizing guidance instead of collecting them all
    into driver memory."""
    import pytest

    from reddit_etl_pipeline_spark.streaming.stream import (
        neardup_batch_against_index,
    )

    idx, acc = _setup("cap_")
    # 6 identical docs -> 15 verified edges; cap at 3
    b = _docs(spark, [(i, "same text everywhere here") for i in range(6)])
    with pytest.raises(ValueError, match="max_batch_edges"):
        neardup_batch_against_index(b, 0, idx, acc, max_batch_edges=3)
    # with the default cap the batch goes through and keeps one doc
    neardup_batch_against_index(b, 0, idx, acc)
    assert _accepted(spark, acc) == [0]


def test_neardup_band_index_persisted_per_batch(spark):
    """The pre-banded (did, band, bucket) table must grow alongside the
    signature index — one partition per batch — so later batches band
    only their own docs instead of re-banding the whole corpus."""
    from reddit_etl_pipeline_spark.streaming.stream import (
        neardup_batch_against_index,
    )

    idx, acc = _setup("bands_")
    neardup_batch_against_index(
        _docs(spark, [(1, "alpha beta gamma delta"), (2, "zz yy xx ww")]),
        0, idx, acc,
    )
    neardup_batch_against_index(
        _docs(spark, [(3, "alpha beta gamma delta"), (4, "qq rr ss tt")]),
        1, idx, acc,
    )
    bands = spark.read.parquet(f"{idx}_bands")
    assert sorted(
        r.batch_id for r in bands.select("batch_id").distinct().collect()
    ) == [0, 1]
    # band rows exist only for ACCEPTED docs (3 was rejected vs 1)
    assert sorted(
        r.did for r in bands.select("did").distinct().collect()
    ) == [1, 2, 4]
    assert _accepted(spark, acc) == [1, 2, 4]


def test_streamed_embedding_neardup_matches_sequential_greedy(spark, sf_dir):
    """The embedding-LSH streaming corpus build must equal one sequential
    greedy pass over the batch operator's pair graph: seeds (even ids)
    all accepted; odd vectors in id order, rejected iff cosine >=
    threshold within an LSH bucket collision against an already-accepted
    vector. Buckets are a pure per-vector function (fixed planes, no
    hot-splits in the streaming index) and slices are id-ordered, so the
    policies coincide exactly."""
    from pyspark.sql import functions as F

    from reddit_etl_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs,
    )
    from reddit_etl_pipeline_spark.streaming.stream import (
        streamed_incremental_embedding_neardup,
    )

    t = 0.4
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = [
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(
            emb, dim=64, threshold=t, n_planes=8, bucket_cap=None
        ).collect()
    ]
    all_ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    accepted = {d for d in all_ids if d % 2 == 0}  # seeds
    want = set()
    for d in all_ids:
        if d % 2 == 0:
            continue
        if not any(e in accepted for e in nbrs.get(d, ())):
            accepted.add(d)
            want.add(d)
    got = {
        r.vec_id
        for r in streamed_incremental_embedding_neardup(
            spark, sf_dir, threshold=t
        ).collect()
    }
    assert got == want, (len(got), len(want), sorted(got ^ want)[:10])
