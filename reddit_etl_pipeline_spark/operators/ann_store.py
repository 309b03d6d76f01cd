"""Persisted ANN index store: per-``batch_id`` IVF cell-assignment
partials written at ingest, queries answered from the stored index —
never re-deriving the quantizer or re-assigning the corpus per query.

The 100 TB pattern (the ``sketch_store`` discipline applied to the
similarity family): a production vector pipeline trains its coarse
quantizer ONCE (``init_store`` — frozen k x dim integer-grid centroids,
the FAISS deployment convention), then every ingest batch appends only
its OWN rows' cell assignments (``append_batch`` — a map-only Arrow
projection over the new vectors, written as one idempotent partition).
An ANN query (``store_topk``) reads the merged assignment relation —
bounded by corpus CARDINALITY (one (id, cid) row per vector), not by
query count — probes nprobe cells via an equi-join, and reranks exactly
against the vector table. Re-running ``cosine_topk_ivf`` instead would
re-collect the training sample, re-run 5 Lloyd iterations, and
re-assign the WHOLE corpus on every query.

Why merged partials equal a full rebuild (the store's oracle-sharing
law, like the sketch store's MAX/SUM laws): cell assignment under a
frozen quantizer is PER-ROW — argmin over exact integer distances with
(distance, cid) tie order — so the union of per-batch assignment
partials is bit-identical to assigning the union in one scan. That is
why ``store_topk`` hash-matches the ``ivf_topk`` rebuild twin and
shares its DuckDB replay (``ann_oracles.ivf_topk_oracle``) verbatim,
provided the stored centroids come from the same deterministic
lowest-id sample (`similarity.train_ivf_grid_centroids`).

Integer-grid contract (CLAUDE.md): centroids are integer-valued
float64 on the 1/2^17 unit grid — they round-trip through parquet
DOUBLE exactly, so a store written on one host and read on another
probes identical cells.

The LSH leg (below) carries the same contract with even less state:
the plane family is deterministic by seed, so only the bucket GEOMETRY
is frozen at init and the partials are per-batch (tbl, bucket, ext)
projections — merged partials == the full-scan bucket table because
projection is per-row, and ``store_lsh_topk`` shares
``ann_oracles.lsh_topk_oracle`` with the ``cosine_topk_lsh`` rebuild
twin.

Reference parity: the reference has no vector surface; this is part of
the beyond-reference large-scale family (SURVEY §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.lake import N_BATCHES  # noqa: F401 (the store's batch key)
from ..sources.lake import read_meta_table, with_batch_id, write_meta_table, write_table
from . import similarity as S

#: partial layouts (``{id_col}``: the vector id), pinned on final reads
IVF_ASSIGN_SCHEMA = "{id_col} bigint, batch_id int, cid int"
LSH_BUCKETS_SCHEMA = "did bigint, tbl int, bucket bigint, ext bigint, batch_id int"
PQ_CODES_SCHEMA = "{id_col} bigint, codes array<bigint>, batch_id int, cid int"


def init_store(
    corpus: DataFrame,
    store_dir: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "np.ndarray":
    """Train the coarse quantizer on the deterministic lowest-id sample
    and FREEZE it into the store (``centroids`` table: cid, vec). Run
    once at index creation; every later ``append_batch`` assigns against
    these centroids, which is what makes incremental ingest equal a
    full rebuild. Returns the k x dim centroid matrix."""
    cents = S.train_ivf_grid_centroids(
        corpus, n_centroids, id_col=id_col, vec_col=vec_col
    )
    rows = [(int(i), [float(v) for v in c]) for i, c in enumerate(cents)]
    write_meta_table(rows, "cid bigint, vec array<double>", f"{store_dir}/centroids")
    return cents


def load_centroids(spark: SparkSession, store_dir: str) -> "np.ndarray":
    """The frozen quantizer back as a k x dim float64 matrix (k rows
    read on the driver; integer-valued doubles round-trip parquet
    exactly)."""
    import numpy as np

    rows = sorted(
        read_meta_table(f"{store_dir}/centroids"), key=lambda r: r["cid"]
    )
    return np.array([r["vec"] for r in rows], dtype="float64")


def append_batch(
    vectors: DataFrame,
    store_dir: str,
    batch_id: int | None = None,
    cents: "np.ndarray | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ingest: assign ONE batch of new vectors to their
    cells under the frozen quantizer and write the (batch_id, vec_id,
    cid) partition with dynamic overwrite — re-running a batch replaces
    only itself; no other batch's partial (and no raw history) is read
    or touched. ``batch_id=None`` derives each row's batch from the
    lake's batch key (multi-batch input); pass it explicitly when the
    caller already isolated one ingest batch."""
    spark = vectors.sparkSession
    if cents is None:
        cents = load_centroids(spark, store_dir)
    assign = S.ivf_assign_cells(vectors, cents, 1, id_col, vec_col)
    keyed = with_batch_id(assign, batch_id, id_col)
    # INVERTED-LIST layout (round 10): partials partition by (batch_id,
    # cid), not batch_id alone — each cell IS an inverted list, so a
    # query's nprobe cells prune the scan to nprobe/k of the corpus at
    # PLANNING time (the FAISS read pattern; round-9's batch-only layout
    # read every list and, worse, packed the whole 66 MB relation into a
    # handful of input splits, collapsing the candidate-expansion stage
    # to ~8 tasks on 32 cores). One file per (batch, cell); dynamic
    # overwrite still replaces exactly batch b's subtree because every
    # written row carries batch_id = b.
    write_table(
        keyed.repartition("batch_id", "cid"),
        f"{store_dir}/ivf_assign",
        mode="overwrite",
        partition_by=["batch_id", "cid"],
    )


def build_ann_store(
    corpus: DataFrame,
    store_dir: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Full-corpus store build: train + freeze the quantizer, then
    write every batch's assignment partial in one scan (equal, by the
    per-row assignment law, to appending each batch separately — pinned
    in tests/test_ann_store.py)."""
    cents = init_store(corpus, store_dir, n_centroids, id_col, vec_col)
    append_batch(corpus, store_dir, None, cents, id_col, vec_col)


def store_assignments(spark: SparkSession, store_dir: str, id_col: str = "vec_id") -> DataFrame:
    """The merged inverted-list membership relation (id, cid) — the
    union of per-batch partials, read with partition pruning available
    on cid (the probed lists) and batch_id (rebuilds/audits)."""
    return spark.read.schema(IVF_ASSIGN_SCHEMA.format(id_col=id_col)).parquet(
        f"{store_dir}/ivf_assign"
    ).select(id_col, "cid")


# ---------------------------------------------------------------------------
# LSH leg: persisted bucket-table partials
# ---------------------------------------------------------------------------


def _plane_family_crc(dim: int, n_planes: int) -> int:
    """Fingerprint of the deterministic plane family at this geometry:
    CRC32 of table-0's quantized plane integers (int64 little-endian
    bytes). Any change to ``similarity._table_planes`` seeding or to
    ``PLANE_SCALE`` changes this value, so a store written under an old
    family refuses to answer queries projected under a new one — the
    frozen-parameter law extended from shape to CONTENT."""
    import zlib

    q = S._quantize_grid(S._table_planes(0, n_planes, dim)).astype("int64")
    return zlib.crc32(q.tobytes())


def init_lsh_store(
    spark: SparkSession,
    store_dir: str,
    dim: int,
    n_planes: int,
    n_tables: int = 8,
    split_bits: int = 16,
) -> None:
    """Freeze the LSH index GEOMETRY into the store (the plane family
    itself is deterministic from ``similarity._table_planes``, so the
    shape parameters pin the bucket space — without them a corpus that
    grew past an auto_planes threshold would probe a different space
    than it was indexed under) plus a CHECKSUM of the plane family
    content (``_plane_family_crc``), so a future reseeding of the plane
    generator can never silently make stored bucket partials and
    query-side projections disagree."""
    write_meta_table(
        [(
            int(dim), int(n_planes), int(n_tables), int(split_bits),
            int(_plane_family_crc(dim, n_planes)),
        )],
        "dim int, n_planes int, n_tables int, split_bits int, plane_crc long",
        f"{store_dir}/lsh_meta",
    )


def load_lsh_meta(spark: SparkSession, store_dir: str) -> tuple:
    r = read_meta_table(f"{store_dir}/lsh_meta")[0]
    crc = _plane_family_crc(r["dim"], r["n_planes"])
    if crc != r["plane_crc"]:
        raise ValueError(
            f"LSH store at {store_dir} was built under a different plane "
            f"family (stored crc {r['plane_crc']}, current {crc}) — "
            f"similarity._table_planes seeding or PLANE_SCALE changed "
            f"since the index was written; rebuild the store."
        )
    return r["dim"], r["n_planes"], r["n_tables"], r["split_bits"]


def append_lsh_batch(
    vectors: DataFrame,
    store_dir: str,
    batch_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental LSH ingest: project ONE batch of new vectors to
    their (tbl, bucket, ext) rows under the frozen geometry and write
    the partition idempotently. Bucket projection is per-row (a pure
    function of the deterministic planes), so merged partials == the
    full-scan bucket table — the same law as the IVF leg, with no
    trained state at all."""
    spark = vectors.sparkSession
    dim, n_planes, n_tables, split_bits = load_lsh_meta(spark, store_dir)
    cb = S.lsh_bucket_table(
        vectors, dim, n_planes, n_tables, id_col, vec_col,
        extra_bits=split_bits,
    )
    keyed = with_batch_id(cb, batch_id, "did")
    # one file per (batch, table): every query probes all tables, so
    # there is no tbl-level pruning win (unlike the IVF cells) — but
    # n_tables files per batch keep the read parallel instead of
    # packing the whole bucket relation into one input split
    write_table(
        keyed.repartition("batch_id", "tbl"),
        f"{store_dir}/lsh_buckets",
        mode="overwrite",
        partition_by=["batch_id"],
    )


def build_lsh_store(
    corpus: DataFrame,
    store_dir: str,
    dim: int,
    n_planes: int,
    n_tables: int = 8,
    split_bits: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Full-corpus LSH store build: pin the geometry, then write every
    batch's bucket partial in one projection pass."""
    init_lsh_store(
        corpus.sparkSession, store_dir, dim, n_planes, n_tables, split_bits
    )
    append_lsh_batch(corpus, store_dir, None, id_col, vec_col)


def store_lsh_topk(
    spark: SparkSession,
    store_dir: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bucket_cap: int | None = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH top-k answered FROM THE STORE: the corpus bucket table comes
    off the persisted partials (no corpus re-projection — the dominant
    per-query Arrow cost in the rebuild twin), hot-bucket splitting and
    the probe/rerank tail run unchanged (``similarity.lsh_probe``).
    Bit-identical to ``cosine_topk_lsh`` under the stored geometry, so
    it shares ``ann_oracles.lsh_topk_oracle``."""
    dim, n_planes, n_tables, split_bits = load_lsh_meta(spark, store_dir)
    # rebalance the skinny bucket rows to full parallelism before the
    # band self-join (the stored files are few; an unsplit scan would
    # run the bucket-join stages on a handful of tasks)
    cb = (
        spark.read.schema(LSH_BUCKETS_SCHEMA)
        .parquet(f"{store_dir}/lsh_buckets")
        .select("did", "tbl", "bucket", "ext")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return S.lsh_probe(
        corpus, queries, cb, dim, k, n_planes, n_tables,
        id_col, vec_col, bucket_cap, split_bits,
    )


def store_topk(
    spark: SparkSession,
    store_dir: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k answered FROM THE STORE: corpus-side cell membership
    comes from the persisted partials (no corpus re-assignment, no
    quantizer retraining — the only per-query Arrow work is assigning
    the handful of QUERY vectors), and ONLY THE PROBED LISTS are read:
    the query batch's nprobe cells collect driver-side (bounded by
    |queries| x nprobe <= n_centroids — the k-bounded-collect pattern)
    and prune the (batch_id, cid)-partitioned partials at planning
    time, so the scan cost is ~nprobe/k of the corpus regardless of
    corpus size. The pruned skinny rows then rebalance to full
    parallelism (a few-MB shuffle) before the candidate-expansion join
    — without it the handful of pruned files would run the biggest
    row-expansion stage on a handful of tasks. Filtering to probed
    cells is a semantic no-op (the cid equi-join enforces it anyway),
    so the result stays bit-identical to the ``ivf_topk`` rebuild twin
    and shares ``ann_oracles.ivf_topk_oracle``."""
    cents = load_centroids(spark, store_dir)
    q_assign = S.ivf_assign_cells(queries, cents, nprobe, id_col, vec_col)
    probed = sorted(
        r["cid"] for r in q_assign.select("cid").distinct().collect()
    )
    c_assign = (
        store_assignments(spark, store_dir, id_col)
        .filter(F.col("cid").isin(probed))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return S.ivf_probe(corpus, queries, c_assign, q_assign, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# IVF-PQ leg: persisted code partials — the compressed 100 TB index
# ---------------------------------------------------------------------------
#
# The IVF leg above persists cell MEMBERSHIP but still joins back to the
# raw vector table to score candidates; at 100 TB that join rescans
# full-width embeddings for every probed list. The FAISS production
# answer is IVF-PQ: persist the m-byte PQ code of each vector's residual
# alongside its cid, so the probed lists scan as code arrays (~16x
# smaller) and only the final top-``rerank`` candidates per query ever
# touch a raw vector. Frozen parameters here are the coarse centroids
# AND the residual codebooks — both trained once at init, both persisted
# IN the store (the persisted-index law: an auto-sized or retrained
# parameter at query time would probe/score a different space than was
# indexed). Code assignment under frozen (cents, books) is per-row
# (exact-integer argmins, ties to the lowest code), so the union of
# per-batch (id, cid, codes) partials is bit-identical to one full
# encode pass — ``store_pq_topk`` therefore shares the ``ivf_pq_topk``
# rebuild twin's DuckDB replay (``ann_oracles.ivfpq_topk_oracle``)
# verbatim.


def init_pq_store(
    corpus: DataFrame,
    store_dir: str,
    n_centroids: int = 16,
    m: int = 16,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple:
    """Train the coarse quantizer + residual codebooks on the
    deterministic lowest-id sample and FREEZE both into the store
    (``centroids``: cid, vec; ``codebooks``: s, c, vec — integer-valued
    doubles, exact through parquet). Returns (cents, books)."""
    cents = init_store(corpus, store_dir, n_centroids, id_col, vec_col)
    books = S._train_residual_codebooks(
        corpus, cents, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col
    )
    brows = [
        (int(s), int(c), [float(v) for v in books[s, c]])
        for s in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    write_meta_table(
        brows, "s bigint, c bigint, vec array<double>", f"{store_dir}/codebooks"
    )
    return cents, books


def load_pq_model(spark: SparkSession, store_dir: str) -> tuple:
    """The frozen (centroids, codebooks) back as float64 tensors — a
    model-size-bounded driver read (k x dim + m x n_codes x sub
    integer-valued doubles)."""
    import numpy as np

    cents = load_centroids(spark, store_dir)
    # the full (s, c) grid init_pq_store wrote, in (s, c) order
    rows = sorted(
        read_meta_table(f"{store_dir}/codebooks"),
        key=lambda r: (r["s"], r["c"]),
    )
    books = np.array([r["vec"] for r in rows], dtype="float64")
    return cents, books.reshape(rows[-1]["s"] + 1, rows[-1]["c"] + 1, -1)


def append_pq_batch(
    vectors: DataFrame,
    store_dir: str,
    batch_id: int | None = None,
    model: tuple | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF-PQ ingest: encode ONE batch of new vectors —
    nearest frozen centroid + PQ codes of the residual — and write the
    (batch_id, cid)-partitioned inverted-list partial with dynamic
    overwrite (idempotent; re-running a batch replaces only itself).
    One map-only Arrow pass over the new rows; the stored relation is
    m+1 BIGINTs per vector, never the raw embedding."""
    spark = vectors.sparkSession
    cents, books = model if model is not None else load_pq_model(spark, store_dir)
    layout = S.ivfpq_layout(vectors, cents, books, id_col, vec_col)
    keyed = with_batch_id(layout, batch_id, id_col)
    write_table(
        keyed.repartition("batch_id", "cid"),
        f"{store_dir}/pq_codes",
        mode="overwrite",
        partition_by=["batch_id", "cid"],
    )


def build_pq_store(
    corpus: DataFrame,
    store_dir: str,
    n_centroids: int = 16,
    m: int = 16,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Full-corpus IVF-PQ store build: train + freeze the model, then
    write every batch's code partial in one encode pass (equal, by the
    per-row assignment law, to appending each batch separately)."""
    model = init_pq_store(
        corpus, store_dir, n_centroids, m, n_codes, id_col, vec_col
    )
    append_pq_batch(corpus, store_dir, None, model, id_col, vec_col)


def store_pq_topk(
    spark: SparkSession,
    store_dir: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = 100_000,
) -> DataFrame:
    """IVF-PQ top-k answered FROM THE STORE: no training, no corpus
    encode — the query side assigns its own handful of vectors against
    the frozen centroids driver-side, prunes the (batch_id, cid)-
    partitioned code partials to the probed lists at PLANNING time
    (PartitionFilters on cid, like ``store_topk``), rebalances the
    pruned skinny code rows to full parallelism, and runs the shared
    ADC scan + exact-rerank tail (``similarity._ivfpq_scan_rerank``).
    Per-query cost is ~(nprobe/n_centroids) of the corpus read at
    ~1/16 the bytes plus a rerank-bounded vector join — independent of
    how many batches built the store. Bit-identical to the
    ``ivf_pq_topk`` rebuild twin under the frozen model, so it shares
    ``ann_oracles.ivfpq_topk_oracle`` verbatim."""
    import numpy as np

    cents, books = load_pq_model(spark, store_dir)
    qrows = S._collect_queries_gated(
        queries, id_col, vec_col, max_queries, "store_pq_topk"
    )
    if not qrows:
        return S._rank_topk(
            spark.createDataFrame(
                [], "query_id long, neighbor_id long, sim double"
            ),
            k,
        )
    qids = np.array([r[0] for r in qrows], dtype="int64")
    qm = S._unit_grid(np.array([list(r[1]) for r in qrows], dtype="float64"))
    probes = S._grid_assign_topn(qm, cents, nprobe)
    by_cid: dict[int, list[int]] = {}
    for qi, row in enumerate(probes):
        for cid in row:
            by_cid.setdefault(int(cid), []).append(qi)
    index = (
        spark.read.schema(PQ_CODES_SCHEMA.format(id_col=id_col))
        .parquet(f"{store_dir}/pq_codes")
        .filter(F.col("cid").isin(sorted(by_cid)))
        .select(id_col, "cid", "codes")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return S._ivfpq_scan_rerank(
        corpus, queries, index, cents, books, qids, qm, by_cid, k, rerank,
        id_col, vec_col,
    )
