"""Content-defined chunking (operators/cdc): reassembly, determinism,
and the property that justifies CDC over fixed framing — boundary
re-alignment after an insertion."""

import pytest
from pyspark.sql import functions as F

from reddit_etl_pipeline_spark.operators import cdc

pytestmark = pytest.mark.usefixtures("spark")


def _mk_text(n: int, seed: int = 7) -> str:
    # deterministic pseudo-text with a small alphabet and word structure
    import random

    rng = random.Random(seed)
    words = ["alpha", "bravo", "charlie", "delta", "echo", "fox", "golf"]
    out = []
    while sum(len(w) + 1 for w in out) < n:
        out.append(rng.choice(words))
    return " ".join(out)[:n]


def _chunks_of(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = (
        cdc.cdc_chunks(df)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    return by_doc


def test_chunks_reassemble_and_are_deterministic(spark):
    texts = [_mk_text(600, seed=s) for s in range(4)] + [None, ""]
    by_doc = _chunks_of(spark, texts)
    for i, t in enumerate(texts):
        got = by_doc.get(i, [])
        if not t:
            assert got == []  # NULL/empty yield no chunks
            continue
        assert "".join(r["chunk"] for r in got) == t
        assert [r["start"] for r in got] == [
            1 + sum(len(x["chunk"]) for x in got[:k]) for k in range(len(got))
        ]
        assert all(len(r["chunk"]) > 0 for r in got)
    # identical text in two docs chunks identically
    dup = _chunks_of(spark, [texts[0], texts[0]])
    assert [r["chunk"] for r in dup[0]] == [r["chunk"] for r in dup[1]]


def test_boundaries_realign_after_insertion(spark):
    """The CDC property: prepending bytes shifts every character offset,
    but once the rolling window clears the edit the boundaries re-align,
    so the tail chunks are IDENTICAL — fixed-stride framing would lose
    every chunk. (This is why chunk-level dedup catches boilerplate at
    different offsets.)"""
    base = _mk_text(2000, seed=11)
    edited = "XYZZY " + base
    by_doc = _chunks_of(spark, [base, edited])
    a = [r["chunk"] for r in by_doc[0]]
    b = [r["chunk"] for r in by_doc[1]]
    assert len(a) > 10
    # common suffix of the two chunk sequences covers most of the text
    k = 0
    while k < min(len(a), len(b)) and a[-1 - k] == b[-1 - k]:
        k += 1
    shared = sum(len(c) for c in a[len(a) - k:])
    assert shared >= 0.8 * len(base)


def test_chunk_stats_on_duplicated_corpus(spark):
    t1, t2 = _mk_text(800, seed=3), _mk_text(900, seed=4)
    df = spark.createDataFrame(
        [(1, t1, "en"), (2, t1, "en"), (3, t2, "de")],
        "doc_id long, text string, lang string",
    )
    rows = {r["lang"]: r for r in cdc.cdc_chunk_stats(df).collect()}
    en, de = rows["en"], rows["de"]
    # doc 2 duplicates doc 1: every chunk appears at least twice, so the
    # stored (unique) chars are at most half the total
    assert en["chars_total"] >= 2 * en["chars_unique"]
    assert en["n_chunks"] >= 2 * en["n_unique_chunks"]
    assert en["dup_char_frac"] >= 0.5
    assert de["n_chunks"] >= de["n_unique_chunks"]
    assert de["chars_total"] == len(t2)


@pytest.mark.slow
def test_stream_chunk_store_ledger_consistency(spark, tmp_path):
    """The streaming chunk-store ledger must tie out against the batch
    rollup: every batch's new chunks are a subset of its chunks, and the
    TOTAL stored chars across batches equals the batch operator's global
    chars_unique (the stored-chunk set is batch-order-independent)."""
    from reddit_etl_pipeline_spark.streaming import stream as st

    texts = [_mk_text(700, seed=s % 5) for s in range(12)]  # heavy dups
    df = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    )
    pq = str(tmp_path / "documents.parquet")
    df.write.mode("overwrite").parquet(pq)
    ledger = (
        st.streamed_cdc_chunk_store(spark, str(tmp_path)).orderBy("batch_id").collect()
    )
    assert [r["batch_id"] for r in ledger][0] == -1  # seed first
    for r in ledger:
        assert 0 <= r["n_new_chunks"] <= r["n_chunks"]
        assert 0 <= r["chars_new"] <= r["chars_total"]
    glob = cdc.cdc_chunk_stats(df).collect()
    assert sum(r["chars_new"] for r in ledger) == sum(
        g["chars_unique"] for g in glob
    )
    assert sum(r["n_new_chunks"] for r in ledger) == sum(
        g["n_unique_chunks"] for g in glob
    )
    assert sum(r["n_chunks"] for r in ledger) == sum(g["n_chunks"] for g in glob)
    # heavy duplication: later batches must actually HIT the store
    assert any(
        r["n_new_chunks"] < r["n_chunks"] for r in ledger if r["batch_id"] >= 0
    )


def test_blocked_rolling_equals_single_shot(spark):
    """Long-document memory guard: computing the rolling state in
    overlapping blocks must yield byte-identical chunks to the
    single-shot windowed product."""
    texts = [_mk_text(3000, seed=s) for s in range(3)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    one = cdc.cdc_chunks(df).orderBy("doc_id", "chunk_idx").collect()
    blk = (
        cdc.cdc_chunks(df, rolling_block=37)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )
    assert [tuple(r) for r in one] == [tuple(r) for r in blk]


def test_stream_build_frees_checkpoint_blocks(spark, tmp_path):
    """Regression for the round-5 review finding: DataFrame.unpersist()
    is a CacheManager call and does NOT release localCheckpoint blocks,
    so the per-batch frees must go through the RDD-level
    fixpoint.free_checkpoint. A bounded run (seed + 3 batches, two
    checkpoints each) must not leave its per-batch RDDs pinned in the
    block manager."""
    from reddit_etl_pipeline_spark.streaming import stream as st

    df = spark.createDataFrame(
        [(i, _mk_text(400, seed=i % 4)) for i in range(10)],
        "doc_id long, text string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    st.streamed_cdc_chunk_store(spark, str(tmp_path)).collect()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after - before <= 0, (before, after)


def test_gear_table_is_alphabet_bounded(spark):
    df = spark.createDataFrame([(1, "aabbc"), (2, "cbade")], "doc_id long, text string")
    g = cdc.gear_table(df)
    assert set(g) == {"a", "b", "c", "d", "e"}
    assert all(0 <= v < (1 << 64) for v in g.values())
    # gear values are Spark xxhash64 of the single character
    ref = {
        r["c"]: r["g"] % (1 << 64)
        for r in spark.createDataFrame([(c,) for c in g], "c string")
        .select("c", F.xxhash64("c").alias("g"))
        .collect()
    }
    assert g == ref


def test_gear_table_rejects_binary_scale_alphabets(spark):
    """The driver collect is bounded: an alphabet above max_alphabet
    raises loudly instead of materializing toward the full Unicode
    range on the driver."""
    import pytest

    df = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "ijklmnop")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="max_alphabet"):
        cdc.gear_table(df, max_alphabet=10)
    # at exactly the cap it still works
    assert len(cdc.gear_table(df, max_alphabet=16)) == 16
