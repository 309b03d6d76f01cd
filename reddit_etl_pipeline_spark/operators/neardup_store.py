"""Persisted MinHash signature store: per-``batch_id`` signature
partials written at document ingest, near-dup queries answered from the
stored signatures — never re-shingling or re-hashing the corpus per
query.

The 100 TB pattern (the ``ann_store`` discipline applied to the text
near-dup family): a production curation pipeline computes each
document's MinHash signature ONCE when the document arrives
(``append_batch`` — the shingle-explode + ``num_perm`` min-agg pass,
which reads the full TEXT and is the corpus-size-proportional term),
and every later near-dup query (``store_pairs``) reads the merged
signature relation — ``num_perm`` BIGINTs per document instead of the
document body — and runs only the band self-join + slot-agreement
verification. Re-running ``minhash_neardup_pairs`` instead would
re-tokenize and re-hash EVERY document's text on every query; at 100 TB
the signature table is ~512 B/doc regardless of document length, so the
store turns a text-proportional scan into a doc-cardinality one.

Why merged partials equal a full rebuild (the per-row-assignment law,
the same one the ANN store's IVF/PQ legs rely on): a signature is a
PER-ROW function of the document text and the FROZEN permutation
family (``dedup._perm_consts`` — deterministic by construction), so the
union of per-batch signature partials is bit-identical to one
full-corpus signature pass. ``store_pairs`` therefore shares the
``minhash_neardup`` rebuild twin's DuckDB replay
(``neardup_oracles.minhash_neardup_oracle``) verbatim.

Frozen-parameter law: ``num_perm`` / ``shingle_n`` / ``bands`` are
pinned IN the store at init (a corpus that crossed an auto-sizing
threshold between ingest and query would otherwise band a different
signature space than it stored), together with a CRC of the permutation
constants themselves — a reseeded ``_perm_consts`` can never silently
make stored signatures and query-side banding disagree (the
plane-checksum discipline from the LSH leg).

Reference parity: the reference has no dedup surface; this is part of
the beyond-reference training-data family (SURVEY §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.lake import N_BATCHES  # noqa: F401 (the store's batch key)
from ..sources.lake import read_meta_table, with_batch_id, write_meta_table, write_table
from . import dedup as D

#: signature partial layout (``{id_col}``: the doc id), pinned on read
SIGNATURES_SCHEMA = "{id_col} bigint, signature array<bigint>, batch_id int"


def _perm_family_crc(num_perm: int) -> int:
    """Fingerprint of the deterministic permutation family: CRC32 of
    the (a, b) constants as int64 little-endian bytes. Changes whenever
    ``dedup._perm_consts`` seeding or the Mersenne modulus changes."""
    import struct
    import zlib

    buf = b"".join(
        struct.pack("<qq", a, b) for a, b in D._perm_consts(num_perm)
    )
    return zlib.crc32(buf)


def init_store(
    spark: SparkSession,
    store_dir: str,
    num_perm: int = 64,
    shingle_n: int = 3,
    bands: int = 16,
) -> None:
    """Freeze the signature GEOMETRY (num_perm, shingle_n, bands) and
    the permutation-family checksum into the store. Run once at index
    creation; every later append signs under exactly this family."""
    write_meta_table(
        [(
            int(num_perm), int(shingle_n), int(bands),
            int(_perm_family_crc(num_perm)),
        )],
        "num_perm int, shingle_n int, bands int, perm_crc long",
        f"{store_dir}/minhash_meta",
    )


def load_meta(spark: SparkSession, store_dir: str) -> tuple:
    """(num_perm, shingle_n, bands), refusing a store whose permutation
    family no longer matches the code's — the stored signatures would
    band into a different bucket space than a fresh query side."""
    r = read_meta_table(f"{store_dir}/minhash_meta")[0]
    crc = _perm_family_crc(r["num_perm"])
    if crc != r["perm_crc"]:
        raise ValueError(
            f"minhash store at {store_dir} was built under a different "
            f"permutation family (stored crc {r['perm_crc']}, current "
            f"{crc}) — dedup._perm_consts seeding changed since the "
            f"index was written; rebuild the store."
        )
    return r["num_perm"], r["shingle_n"], r["bands"]


def append_batch(
    docs: DataFrame,
    store_dir: str,
    batch_id: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incremental ingest: sign ONE batch of new documents under the
    frozen family and write the (batch_id, doc_id, signature) partition
    with dynamic overwrite — re-running a batch replaces only itself;
    no other batch's partial (and no document text) is read or touched.
    This is the text-proportional pass (shingle explode + min-aggs);
    everything downstream reads only the fixed-width signatures."""
    spark = docs.sparkSession
    num_perm, shingle_n, _bands = load_meta(spark, store_dir)
    sigs = D.minhash_signatures(docs, text_col, id_col, num_perm, shingle_n)
    keyed = with_batch_id(sigs, batch_id, id_col)
    # one file per batch: signature partials are doc-cardinality rows of
    # num_perm+1 BIGINTs — a 32-task write would scatter each batch into
    # KB-sized files (the sketch-store lesson); store_pairs rebalances
    # the read side back to full parallelism
    write_table(
        keyed.repartition("batch_id"),
        f"{store_dir}/signatures",
        mode="overwrite",
        partition_by=["batch_id"],
    )


def build_store(
    docs: DataFrame,
    store_dir: str,
    num_perm: int = 64,
    shingle_n: int = 3,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Full-corpus store build: pin the family, then write every
    batch's signature partial in one signing pass (equal, by the
    per-row law, to appending each batch separately — pinned in
    tests/test_neardup_store.py)."""
    init_store(docs.sparkSession, store_dir, num_perm, shingle_n, bands)
    append_batch(docs, store_dir, None, text_col, id_col)


def store_signatures(
    spark: SparkSession, store_dir: str, id_col: str = "doc_id"
) -> DataFrame:
    """The merged signature relation (id, signature) — the union of
    per-batch partials, rebalanced to full parallelism (the stored
    files are one per batch; an unsplit scan would run the band
    self-join on a handful of tasks)."""
    return (
        spark.read.schema(SIGNATURES_SCHEMA.format(id_col=id_col))
        .parquet(f"{store_dir}/signatures")
        .select(id_col, "signature")
        .repartition(spark.sparkContext.defaultParallelism)
    )


def store_pairs(
    spark: SparkSession,
    store_dir: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs answered FROM THE STORE: banding + slot-agreement
    verification over the persisted signatures
    (``dedup.minhash_pairs_from_signatures``) — no document text is
    read at all. Bit-identical to the ``minhash_neardup_pairs`` rebuild
    twin under the frozen family, so it shares
    ``neardup_oracles.minhash_neardup_oracle`` verbatim."""
    num_perm, _shingle_n, bands = load_meta(spark, store_dir)
    sigs = store_signatures(spark, store_dir, id_col).localCheckpoint(
        eager=True
    )
    return D.minhash_pairs_from_signatures(
        sigs, id_col, num_perm, bands, threshold
    )
