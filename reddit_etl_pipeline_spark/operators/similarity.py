"""Similarity search over embedding columns (array<float>).

Two paths:

- ``cosine_topk_bruteforce``: exact top-k — broadcast the (small) query
  set against the corpus, score pairs with Arrow-batched numpy
  (mapInPandas) including a batch-local top-k prune, rank with a
  per-query window. The right plan whenever |queries| << |corpus|: the
  corpus scan stays partition-parallel and shuffle-free; the final
  window sees only O(batches * k) rows per query.
- ``cosine_topk_lsh``: approximate — random-hyperplane LSH buckets
  (sign-bit sketch of the embedding), search only the query's bucket
  (plus optional multi-probe). Turns full-corpus scans into
  bucket-bounded probes; the 100 TB path.

Vectors are cast to double before arithmetic so results are reproducible
across engines (float32 accumulation is not).

Exactness contract (what makes every query here value-hash
oracle-checkable): the approximate index structures — LSH sign bits
(PLANE_SCALE), IVF/PQ quantizers (VEC_SCALE) — run entirely on integer
grids, where the only float ops are single correctly-rounded IEEE
divides/sqrts of exactly-determined integers; multi-term float SUMS
(the one order-dependent operation) never occur off-grid. The final
candidate rerank is exact cosine rounded to RANK_DP before ranking.
DuckDB replays every stage bit-identically (ann_oracles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions.text import ROUND_DP
from .dedup import bucket_self_join
from .fixpoint import free_checkpoint

# Similarities are rounded to this precision BEFORE ranking (not just at
# output): numpy's pairwise summation and DuckDB's left-to-right
# list_dot_product disagree at ~1e-16 relative, so ranking raw float64
# sims makes near-tie top-k membership engine-dependent. 12 dp is far
# below any meaningful similarity difference and far above summation-
# order noise; after rounding, ties break on neighbor_id — fully
# engine-independent. The oracle SQL rounds identically before its
# row_number().
RANK_DP = 12


# NOTE: _dot/_norm/cosine are interpreted per-element HOF expressions —
# kept ONLY for the O(n^2) oracle baseline embedding_neardup_exact, whose
# left-to-right summation order matches the DuckDB oracle exactly. Hot
# paths score via _pair_cosine_scored (Arrow numpy) instead.
def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _pair_cosine_scored(
    paired: DataFrame, local_topk: int | None = None
) -> DataFrame:
    """(query_id, neighbor_id, qvec, cvec) -> (query_id, neighbor_id, sim)
    via Arrow-batched numpy — millions of dots/sec/core, vs interpreted
    per-element HOF lambda evaluation (the pattern CLAUDE.md bans from
    corpus-scale hot paths).

    ``local_topk``: keep only each Arrow batch's top-k rows per query
    (same (-sim, neighbor_id) total order as the global rank) — the
    map-side prune for brute-force scans: the global top-k is a subset of
    every batch's local top-k, so the downstream window shuffles
    O(batches*k) rows instead of O(corpus).
    """
    import numpy as np
    import pandas as pd

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["qvec"].to_numpy()).astype("float64")
            b = np.stack(pdf["cvec"].to_numpy()).astype("float64")
            # zero-norm guard: a zero vector's similarity is 0, not NaN
            # (NaN would arrive as NULL through Arrow and silently sort
            # LAST under desc(sim) — a rank the oracle can't reproduce)
            sims = (a * b).sum(axis=1) / np.maximum(
                np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1),
                1e-12,
            )
            sims = np.round(sims, RANK_DP)  # engine-independent rank order
            out = pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "sim": sims,
                }
            )
            if local_topk is not None:
                out = (
                    out.sort_values(
                        ["query_id", "sim", "neighbor_id"],
                        ascending=[True, False, True],
                    )
                    .groupby("query_id", sort=False)
                    .head(local_topk)
                )
            yield out

    return paired.mapInPandas(score, "query_id long, neighbor_id long, sim double")


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("sim", ROUND_DP).alias("sim"))
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` rows are broadcast; each corpus partition scores its
    pairs in numpy Arrow batches and pre-prunes to a batch-local top-k
    (no shuffle), then a single tiny window ranks per query.
    Self-matches (same id) are excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    paired = c.join(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _rank_topk(_pair_cosine_scored(paired, local_topk=k), k)


def auto_planes(n_rows: int, target_bucket: int = 32) -> int:
    """Size the LSH bucket space to the corpus: ~``target_bucket`` vectors
    per bucket. A FIXED plane count is a scale trap — candidate volume per
    bucket grows as (n/2^planes)^2, so 10x the corpus at constant planes
    means 100x the candidate pairs. log2 growth keeps occupancy (and thus
    per-bucket quadratic cost) constant; recall loss per added plane is
    compensated by the multi-table OR.

    Integer formula (ceil(log2(x)) == ceil(log2(ceil(x))) for x > 0, and
    ceil(log2(m)) == bit_length(m-1) for int m >= 2) — no float log2, so
    the DuckDB oracle's length(bin(...)) replay is exact at any corpus
    size."""
    m = (max(n_rows, 2) + target_bucket - 1) // target_bucket
    return max(4, min(16, (m - 1).bit_length() if m >= 2 else 0))


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int | None = None,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_rows: int | None = None,
    bucket_cap: int | None = 256,
    split_bits: int = 16,
) -> DataFrame:
    """Approximate cosine top-k: candidates = corpus vectors sharing ANY
    of ``n_tables`` hyperplane buckets with the query (multi-table OR for
    recall), exact rerank inside the candidate set via Arrow numpy.

    ``n_planes=None`` sizes the bucket space to the corpus (auto_planes):
    candidate count per query stays ~n_tables * target_bucket instead of
    growing linearly with the corpus. Pass it explicitly to trade recall
    (fewer planes) against candidate volume (more planes). When auto-sizing,
    pass ``corpus_rows`` (from table stats / parquet footers) to avoid an
    extra count() job over the corpus — at scale that's a whole scan plan
    just to pick a constant; only if neither is given do we fall back to
    ``corpus.count()``.

    ``bucket_cap`` bounds per-query candidate cost on hub buckets: the
    CORPUS buckets are split once (``split_hot_buckets``), and each query
    probes the refined key it falls into — a broadcast lookup of the
    (tbl, bucket) → lvl level table (bounded by |assignments|/cap rows,
    each holding > cap members) computes ``sub = ext & mask(lvl)`` on the
    query side, keeping the corpus-side probe a pure equi-join. A query
    probing a hub bucket then scans ≤ cap corpus vectors in that table
    instead of the whole hub. ``None`` disables splitting."""
    if n_planes is None:
        n = corpus_rows if corpus_rows is not None else corpus.count()
        n_planes = max(auto_planes(n) - 2, 4)  # favor recall
    extra = split_bits if bucket_cap is not None else 0
    cb = lsh_bucket_table(
        corpus, dim, n_planes, n_tables, id_col, vec_col, extra_bits=extra
    )
    return lsh_probe(
        corpus, queries, cb, dim, k, n_planes, n_tables,
        id_col, vec_col, bucket_cap, split_bits,
    )


def lsh_probe(
    corpus: DataFrame,
    queries: DataFrame,
    cb: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = 256,
    split_bits: int = 16,
) -> DataFrame:
    """The LSH query tail given a PREBUILT corpus bucket table ``cb``
    (with the ``ext`` refinement column when ``bucket_cap`` is set) —
    split from :func:`cosine_topk_lsh` so the corpus-side projection can
    come from the persisted index store (operators/ann_store.py) instead
    of a per-query rebuild. Bucket projection is a pure per-row function
    of the deterministic plane family, so a stored table probes
    identically to a fresh one under the same (dim, planes, tables,
    split) geometry."""
    extra = split_bits if bucket_cap is not None else 0
    qb = lsh_bucket_table(
        queries, dim, n_planes, n_tables, id_col, vec_col, extra_bits=extra
    ).withColumnRenamed("did", "query_id")
    key = ["tbl", "bucket"]
    if bucket_cap is not None:
        cb = split_hot_buckets(cb, bucket_cap, extra_bits=split_bits).drop("ext")
        # level lookup restricted to SPLIT buckets (lvl > 0): an unsplit
        # bucket holds only lvl 0, so missing rows default there via the
        # left join — the broadcast stays bounded by the number of
        # refined hot groups (≲ assignments/cap), NOT by the total
        # bucket count. A split (tbl, bucket) may hold several levels
        # (uneven sub-splits); the query probes its refined key at each.
        hot_levels = cb.filter(F.col("lvl") > 0).select(
            "tbl", "bucket", "lvl"
        ).distinct()
        qb = (
            qb.join(F.broadcast(hot_levels), ["tbl", "bucket"], "left")
            .withColumn("lvl", F.coalesce("lvl", F.lit(0)))
            .withColumn("sub", F.expr("ext & (shiftleft(1L, lvl) - 1)"))
            .drop("ext")
        )
        key = ["tbl", "bucket", "lvl", "sub"]
    cand_ids = (
        cb.join(F.broadcast(qb), key)
        .filter(F.col("did") != F.col("query_id"))
        .select("query_id", F.col("did").alias("neighbor_id"))
        .distinct()
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    paired = cand_ids.join(F.broadcast(q), "query_id").join(c, "neighbor_id")
    return _rank_topk(_pair_cosine_scored(paired, local_topk=k), k)


def embedding_neardup_exact(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 200_000,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: all-pairs baseline.

    O(n²) by construction — the correctness reference for the LSH variant
    below, NOT a scale path: it plans a BroadcastNestedLoopJoin and is
    gated by ``max_rows`` (raises beyond it; pass ``max_rows=None`` to
    opt in explicitly on a corpus you accept quadratic cost for). Use
    ``embedding_neardup_pairs`` (bucketed LSH) at scale. Norms are
    precomputed once per side so the pair loop does a single dot product.
    """
    if max_rows is not None:
        n = df.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"embedding_neardup_exact is an O(n^2) all-pairs baseline; "
                f"input exceeds max_rows={max_rows}. Use "
                f"embedding_neardup_pairs (LSH) at this scale, or pass "
                f"max_rows=None to opt in to quadratic cost."
            )
    e = df.select(
        F.col(id_col).alias("did"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    x, y = e.alias("x"), e.alias("y")
    # zero-norm guard (same convention as _pair_cosine_scored): a zero
    # vector's similarity is 0, not NaN/NULL, on both engine and oracle
    sim = _dot(F.col("x.vec"), F.col("y.vec")) / F.greatest(
        F.col("x.nrm") * F.col("y.nrm"), F.lit(1e-12)
    )
    return (
        x.join(y, F.col("x.did") < F.col("y.did"))
        .select(
            F.col("x.did").alias("id_a"),
            F.col("y.did").alias("id_b"),
            F.round(sim, ROUND_DP).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


# Unit-grid quantization for the IVF/PQ family: vectors are snapped to
# the 1/VEC_SCALE integer grid, L2-normalized through ONE exact-integer
# norm (sum of squared grid points — order-independent), and re-snapped.
# Every step is an exact integer or a single correctly-rounded IEEE op
# (divide, sqrt, floor), so numpy and DuckDB compute bit-identical unit
# vectors — the foundation that lets the whole IVF/PQ pipeline (Lloyd
# with rounded-integer centroids, integer code distances, integer ADC
# lookup sums) be value-hash oracle-checked instead of rows-only. At
# 2^-17 resolution the geometry is unchanged (recall floors hold).
VEC_SCALE = 1 << 17


def _unit_grid(m: "np.ndarray") -> "np.ndarray":
    """(batch, dim) floats -> integer-valued float64 unit-grid vectors:
    u = floor(q / max(||q||, 1e-12) * VEC_SCALE + 0.5) with
    q = floor(x * VEC_SCALE + 0.5). ||q||^2 is an exact integer (every
    square and partial sum < 2^53), so the norm — and hence u — is the
    identical double in any IEEE engine."""
    import numpy as np

    q = np.floor(m.astype("float64") * VEC_SCALE + 0.5)
    nrm = np.maximum(np.sqrt((q * q).sum(axis=1, keepdims=True)), 1e-12)
    return np.floor(q / nrm * VEC_SCALE + 0.5)


def _first_distinct_rows(x: "np.ndarray", k: int) -> "np.ndarray":
    """First ``k`` distinct rows in order — the deterministic seed rule
    shared with kmeans_cluster_stats (duplicate rows would seed
    coincident centroids and freeze them)."""
    import numpy as np

    seen: list = []
    for row in x:
        t = tuple(row)
        if t not in seen:
            seen.append(t)
        if len(seen) == k:
            break
    return np.array(seen, dtype="float64")


def _grid_lloyd(x: "np.ndarray", k: int, iters: int) -> "np.ndarray":
    """Lloyd k-means over integer-valued rows with ROUNDED-INTEGER
    centroids: each update snaps the mean back to the grid
    (floor(sum/count + 0.5) — one correctly-rounded divide of exact
    integers), so every iteration's distances are exact integer sums and
    the loop replays bit-identically as unrolled SQL CTEs
    (ann_oracles). Assignment = argmin squared L2, ties to the lowest
    centroid id; empty clusters keep their previous centroid."""
    import numpy as np

    c = _first_distinct_rows(x, k)
    for _ in range(iters):
        # exact expansion of ||x-c||^2 minus the per-row ||x||^2 constant:
        # integer-valued operands keep every term < 2^53 (same bound as
        # pq_encode), and dropping a row constant preserves argmin AND tie
        # order — the O(n*k*dim) difference tensor this replaces allocated
        # ~1.3 GB per 10k-row block at k=256/dim=64
        d2 = -2.0 * (x @ c.T) + (c * c).sum(axis=1)
        assign = d2.argmin(axis=1)  # first occurrence -> lowest id
        nxt = c.copy()
        for j in range(len(c)):
            members = x[assign == j]
            if len(members):
                nxt[j] = np.floor(members.sum(axis=0) / len(members) + 0.5)
        c = nxt
    return c


def train_ivf_grid_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    sample_size: int = 512,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Integer-grid IVF coarse quantizer: unit-grid the deterministic
    lowest-id sample, then rounded-centroid Lloyd (``_grid_lloyd``).
    Squared-L2 on unit vectors is the FAISS cosine setup (normalize +
    METRIC_L2); the returned k x dim integer-valued matrix ships to
    executors in the task closure.

    The sample is floored at 32 training points per centroid — an
    undertrained quantizer produces hub lists that degrade the probe
    toward a scan (measured at 100x/200 k rows: 256 centroids from a
    512-row sample gave max/mean list occupancy 10.6; from a 64x-k
    sample, 1.2 — ``tools/audit_ivf_lists.py``). At the default
    n_centroids=16 the floor is inactive (512 = 32x16), so small-scale
    results — and the DuckDB oracle replay, which pins SAMPLE=512 —
    are unchanged."""
    import numpy as np

    sample_size = max(sample_size, 32 * n_centroids)
    rows = df.orderBy(id_col).limit(sample_size).select(vec_col).collect()
    if not rows:
        raise ValueError("cannot train IVF centroids on an empty corpus")
    u = _unit_grid(np.array([list(r[0]) for r in rows], dtype="float64"))
    return _grid_lloyd(u, min(n_centroids, len(u)), iters)


def _grid_assign_topn(u: "np.ndarray", cents: "np.ndarray", topn: int):
    """Top-``topn`` centroids per row by (squared L2, centroid id) —
    exact integer distances, stable sort, so the probe order is total
    and engine-independent. Returns min(topn, len(cents)) columns.

    Distances use the -2 u·c + ||c||^2 expansion (exact on the integer
    grid, every term < 2^53; the per-row ||u||^2 constant cannot change
    the ordering or tie groups) instead of materializing the
    O(rows x centroids x dim) difference tensor."""
    import numpy as np

    d2 = -2.0 * (u @ cents.T) + (cents * cents).sum(axis=1)
    return np.argsort(d2, axis=1, kind="stable")[:, :topn]


def ivf_assign_cells(
    df: DataFrame,
    cents: "np.ndarray",
    topn: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only Arrow assignment of each vector to its ``topn`` nearest
    integer-grid centroids — the IVF inverted-list membership relation
    (id, cid). Exact integer distances and the (distance, cid) total
    order make the assignment engine-independent, which is what lets
    assignments be PERSISTED (operators/ann_store.py) and merged across
    ingest batches: assignment is per-row, so a union of per-batch
    assignments under a frozen quantizer equals the full-scan
    assignment. A duplicate-heavy sample can train fewer centroids than
    ``topn``; the effective column count then shrinks to len(cents) and
    the id repeat matches (a ragged Arrow batch otherwise)."""
    import numpy as np
    import pandas as pd

    eff = min(topn, len(cents))

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            u = _unit_grid(np.stack(pdf[vec_col].to_numpy()))
            order = _grid_assign_topn(u, cents, eff)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().repeat(eff),
                    "cid": order.ravel(),
                }
            )

    return df.mapInPandas(run, f"{id_col} long, cid long")


def ivf_probe(
    corpus: DataFrame,
    queries: DataFrame,
    c_assign: DataFrame,
    q_assign: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF query tail: candidates = corpus ids sharing a probed cell
    (equi-join on cid — candidate cost ~ nprobe/n_centroids of the
    corpus), exact cosine rerank inside the candidate set. Split from
    :func:`ivf_topk` so the corpus-side assignment can come from the
    persisted index store instead of an ingest-time rebuild."""
    cand = (
        q_assign.withColumnRenamed(id_col, "query_id")
        .join(c_assign.withColumnRenamed(id_col, "neighbor_id"), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    paired = cand.join(F.broadcast(q), "query_id").join(c, "neighbor_id")
    return _rank_topk(_pair_cosine_scored(paired, local_topk=k), k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate cosine top-k: corpus vectors are bucketed by
    nearest centroid (inverted lists); each query probes its ``nprobe``
    nearest lists and reranks exactly inside them.

    Spark shape: centroid assignment is an Arrow-batched numpy projection
    (map-only, :func:`ivf_assign_cells`); the probe is an equi-join on
    the centroid id (:func:`ivf_probe`) — candidate cost ~
    nprobe/n_centroids of the corpus instead of all of it. The other
    classic ANN layout besides LSH; prefer IVF when the corpus is
    clusterable, LSH when it isn't.

    The coarse quantizer is the integer-grid trainer
    (``train_ivf_grid_centroids``): unit-grid vectors, rounded-integer
    centroids, exact integer distances — which makes the whole query
    value-hash oracle-checkable (ann_oracles.ivf replay) instead of
    rows-only."""
    cents = train_ivf_grid_centroids(
        corpus, n_centroids, id_col=id_col, vec_col=vec_col
    )
    c_assign = ivf_assign_cells(corpus, cents, 1, id_col, vec_col)
    q_assign = ivf_assign_cells(queries, cents, nprobe, id_col, vec_col)
    return ivf_probe(corpus, queries, c_assign, q_assign, k, id_col, vec_col)


def train_pq_codebooks(
    df: DataFrame,
    m: int = 16,
    n_codes: int = 16,
    sample_size: int = 512,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Product-quantization codebooks: split the (L2-normalized) vector
    into ``m`` contiguous sub-vectors and k-means each subspace to
    ``n_codes`` centroids (driver-side mini-Lloyd on the deterministic
    lowest-id sample — same regime as train_ivf_grid_centroids: the model is
    a tiny m x n_codes x (dim/m) tensor that ships to executors).

    PQ is the memory-bounded ANN layout: a 64-dim float32 vector (256 B)
    compresses to m code bytes (16 B at m=16), so a 100 TB embedding
    corpus scans as ~6 TB of codes — the difference between an
    in-memory rescan and a disk-bound one. Returns ndarray
    (m, n_codes, dim//m) of integer-valued centroids on the unit grid
    (``_grid_lloyd`` per subspace — the exactness contract that lets
    the PQ queries be value-hash oracle-checked)."""
    import numpy as np

    rows = df.orderBy(id_col).limit(sample_size).select(vec_col).collect()
    if not rows:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    u = _unit_grid(np.array([list(r[0]) for r in rows], dtype="float64"))
    return _fit_subspace_codebooks(u, m, n_codes, iters)


def _fit_subspace_codebooks(x, m: int, n_codes: int, iters: int):
    """Per-subspace mini-Lloyd over a driver-resident sample of
    integer-valued rows: split into m contiguous sub-vectors and
    ``_grid_lloyd`` each subspace to n_codes rounded-integer centroids
    (first-distinct init, the kmeans_cluster_stats seed rule; degenerate
    samples repeat the last centroid). Shared by the raw-vector and the
    IVF-residual codebook trainers."""
    import numpy as np

    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = np.zeros((m, n_codes, sub))
    for s in range(m):
        xs = x[:, s * sub : (s + 1) * sub]
        c = _grid_lloyd(xs, min(n_codes, len(xs)), iters)
        books[s, : len(c)] = c
        if len(c) < n_codes:  # degenerate sample: repeat last centroid
            books[s, len(c):] = c[-1]
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — nearest sub-centroid per subspace, from
    the unit-grid vector. Map-only Arrow numpy; one (batch x n_codes)
    distance block per subspace, no shuffle. Distances are exact
    integer sums (u and codebooks both integer-valued, every term
    < 2^53), ties to the lowest code — engine-independent."""
    import numpy as np
    import pandas as pd

    m, n_codes, sub = codebooks.shape

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            u = _unit_grid(np.stack(pdf[vec_col].to_numpy()))
            codes = np.empty((len(u), m), dtype="int64")
            for s in range(m):
                xs = u[:, s * sub : (s + 1) * sub]
                # -2 a.c + ||c||^2 (drop ||a||^2): all exact integers
                d = -2.0 * (xs @ codebooks[s].T) + (codebooks[s] ** 2).sum(axis=1)
                codes[:, s] = d.argmin(axis=1)
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        encode, "id long, codes array<bigint>"
    ).withColumnRenamed("id", id_col)


def _collect_queries_gated(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    max_queries: int | None,
    caller: str,
):
    """Collect the query table to the driver to build per-query PQ LUTs,
    gated by ``max_queries`` (same contract as knn_label_confusion's
    exact path): a corpus-sized query side would OOM the driver, so past
    the gate we raise with the fix spelled out instead of failing late.
    Returns the list of Rows (possibly empty)."""
    if max_queries is not None:
        n = queries.limit(max_queries + 1).count()
        if n > max_queries:
            raise ValueError(
                f"{caller} collects the query side to the driver to build "
                f"per-query PQ lookup tables; query set exceeds "
                f"max_queries={max_queries}. Batch the queries, use "
                f"ivf_topk/cosine_topk_lsh for a corpus-sized query side, "
                f"or pass max_queries=None to opt in."
            )
    return queries.select(id_col, vec_col).collect()


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    n_codes: int = 16,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = 100_000,
) -> DataFrame:
    """PQ asymmetric-distance cosine top-k: corpus vectors are scanned as
    code arrays; each query precomputes an (m x n_codes) lookup table of
    sub-dot-products against its own (exact) sub-vectors, so the
    approximate dot is m table lookups per corpus vector — no float
    vector ever rescanned.

    Spark shape: encode is map-only; the scan is map-only over the code
    table with a batch-local top-``rerank`` prune (same contract as the
    brute-force scan's local_topk); only the pruned candidate ids join
    back to raw vectors for the exact rerank window. At 100 TB the scan
    reads the ~16x-smaller code table instead of the embeddings — the
    standard IVF-PQ decomposition's PQ half (compose with ivf_topk's
    lists for the full FAISS-style layout).
    """
    import numpy as np
    import pandas as pd

    books = train_pq_codebooks(
        corpus, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col
    )
    sub = books.shape[2]
    qrows = _collect_queries_gated(queries, id_col, vec_col, max_queries, "pq_topk")
    if not qrows:
        return _rank_topk(
            corpus.sparkSession.createDataFrame(
                [], "query_id long, neighbor_id long, sim double"
            ),
            k,
        )
    qids = np.array([r[0] for r in qrows], dtype="int64")
    qm = _unit_grid(np.array([list(r[1]) for r in qrows], dtype="float64"))
    # LUT[q, s, c] = <u_sub_s, codebook[s, c]> — exact integer dots, so
    # the ADC sums below are exact and the candidate cut replays in SQL
    lut = np.einsum("qsd,scd->qsc", qm.reshape(len(qm), m, sub), books)

    codes = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col)

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c = np.stack(pdf["codes"].to_numpy()).astype("int64")
            ids = pdf[id_col].to_numpy()
            out = []
            # approx[q, x] = sum_s LUT[q, s, c[x, s]] — accumulated per
            # subspace over query BLOCKS: the fancy-indexed
            # (n_queries x batch x m) tensor this replaces allocated
            # ~128 TB at the max_queries gate (the gate was sold as the
            # safety limit); blocks bound it at QBLK x batch x 8 B.
            # Exact-integer terms (< 2^53) make the accumulation order
            # irrelevant to the value.
            QBLK = 1024
            for qs in range(0, len(qids), QBLK):
                qe = min(qs + QBLK, len(qids))
                approx = np.zeros((qe - qs, len(ids)))
                for s in range(m):
                    approx += lut[qs:qe, s, :][:, c[:, s]]
                approx = np.round(approx, RANK_DP)
                for qi in range(qs, qe):
                    mask = ids != qids[qi]
                    a, nids = approx[qi - qs][mask], ids[mask]
                    # same (-approx, id) total order as the global cut
                    keep = np.lexsort((nids, -a))[:rerank]
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": qids[qi],
                                "neighbor_id": nids[keep],
                                "approx": a[keep],
                            }
                        )
                    )
            yield pd.concat(out, ignore_index=True)

    # Global top-``rerank`` per query (deterministic total order) so the
    # candidate set does not depend on Arrow-batch/partition boundaries;
    # the window shuffles only O(batches * rerank) rows per query.
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("neighbor_id")
    )
    cand = (
        codes.mapInPandas(scan, "query_id long, neighbor_id long, approx double")
        .withColumn("arn", F.row_number().over(wr))
        .filter(F.col("arn") <= rerank)
        .select("query_id", "neighbor_id")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    paired = cand.join(F.broadcast(q), "query_id").join(c, "neighbor_id")
    return _rank_topk(_pair_cosine_scored(paired, local_topk=k), k)


def _train_residual_codebooks(
    df: DataFrame,
    cents: "np.ndarray",
    m: int = 16,
    n_codes: int = 16,
    sample_size: int = 512,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """PQ codebooks fit on IVF RESIDUALS (u − nearest centroid) of the
    deterministic lowest-id sample — the distribution the IVF-PQ scan
    actually quantizes. Residuals of integer-valued unit-grid vectors
    against rounded-integer centroids are themselves exact integers, so
    the residual codebooks inherit the oracle-replay contract."""
    import numpy as np

    rows = df.orderBy(id_col).limit(sample_size).select(vec_col).collect()
    if not rows:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    u = _unit_grid(np.array([list(r[0]) for r in rows], dtype="float64"))
    res = u - cents[_grid_assign_topn(u, cents, 1)[:, 0]]
    return _fit_subspace_codebooks(res, m, n_codes, iters)


def ivfpq_layout(
    corpus: DataFrame,
    cents: "np.ndarray",
    books: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The materialized IVF-PQ index relation (id, cid, codes): nearest
    coarse centroid + PQ codes of the RESIDUAL against it, per row. One
    map-only Arrow pass, no shuffle; every distance term is an exact
    integer (unit-grid vectors, rounded-integer centroids/codewords, all
    < 2^53) with ties to the lowest code — engine-independent, which is
    what lets a persisted copy of this relation (ann_store's PQ leg)
    answer queries bit-identically to an inline rebuild."""
    import numpy as np
    import pandas as pd

    m, _n_codes, sub = books.shape

    def layout(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            u = _unit_grid(np.stack(pdf[vec_col].to_numpy()))
            cid = _grid_assign_topn(u, cents, 1)[:, 0]
            res = u - cents[cid]  # PQ quantizes the RESIDUAL (exact ints)
            codes = np.empty((len(u), m), dtype="int64")
            for s in range(m):
                xs = res[:, s * sub : (s + 1) * sub]
                d = -2.0 * (xs @ books[s].T) + (books[s] ** 2).sum(axis=1)
                codes[:, s] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cid": cid,
                    "codes": list(codes),
                }
            )

    return corpus.mapInPandas(
        layout, f"{id_col} long, cid long, codes array<bigint>"
    )


def _ivfpq_scan_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    index: DataFrame,
    cents: "np.ndarray",
    books: "np.ndarray",
    qids: "np.ndarray",
    qm: "np.ndarray",
    by_cid: dict,
    k: int,
    rerank: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The ADC scan + exact-rerank tail shared by ``ivf_pq_topk`` and
    the persisted-store path (``ann_store.store_pq_topk``): LUT-scan the
    probed lists' code arrays (map-only), cut to a deterministic global
    top-``rerank`` per query, then rerank only those candidates against
    raw vectors. ``index`` must already be restricted to the probed
    cids; both callers restrict with the same predicate, so the result
    is independent of whether the codes came from an inline encode or
    from stored per-batch partials."""
    import numpy as np
    import pandas as pd

    m, _n_codes, sub = books.shape
    lut = np.einsum("qsd,scd->qsc", qm.reshape(len(qm), m, sub), books)

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            for cid_val, grp in pdf.groupby("cid"):
                qs = by_cid.get(int(cid_val))
                if not qs:
                    continue
                c = np.stack(grp["codes"].to_numpy()).astype("int64")
                ids = grp[id_col].to_numpy()
                # q.x ~ q.centroid (one scalar per query for this list)
                #     + sum_s LUT[q, s, code_s] (residual part) —
                # accumulated per subspace over query BLOCKS, like
                # pq_topk's scan: the fancy-indexed (queries x rows x m)
                # tensor blew past the max_queries gate's promise; exact
                # integer terms make the accumulation order value-neutral
                cent_term = qm[qs] @ cents[int(cid_val)]
                QBLK = 1024
                for bs in range(0, len(qs), QBLK):
                    be = min(bs + QBLK, len(qs))
                    blk = qs[bs:be]
                    lb = lut[blk]  # (block, m, n_codes), copied once
                    approx = np.zeros((len(blk), len(ids)))
                    for s in range(m):
                        approx += lb[:, s, :][:, c[:, s]]
                    approx = np.round(
                        approx + cent_term[bs:be, None], RANK_DP
                    )
                    for row_i, qi in enumerate(blk):
                        mask = ids != qids[qi]
                        a, nids = approx[row_i][mask], ids[mask]
                        # batch-local prune under the SAME (-approx, id)
                        # total order as the global window cut below, so
                        # the global top-rerank is a subset of each
                        # batch's survivors
                        keep = np.lexsort((nids, -a))[:rerank]
                        out.append(
                            pd.DataFrame(
                                {
                                    "query_id": qids[qi],
                                    "neighbor_id": nids[keep],
                                    "approx": a[keep],
                                }
                            )
                        )
            if out:
                yield pd.concat(out, ignore_index=True)

    # Global top-``rerank`` cut per query over the batch-local survivors:
    # approx scores are deterministic functions of the (seeded) centroids
    # and codebooks, and the (-approx, neighbor_id) order is total, so the
    # candidate set — and hence the final top-k — no longer depends on
    # partition/Arrow-batch boundaries. The window sees only
    # O(batches * rerank) rows per query.
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("neighbor_id")
    )
    cand = (
        index.mapInPandas(scan, "query_id long, neighbor_id long, approx double")
        .withColumn("arn", F.row_number().over(wr))
        .filter(F.col("arn") <= rerank)
        .select("query_id", "neighbor_id")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    paired = cand.join(F.broadcast(q), "query_id").join(c, "neighbor_id")
    return _rank_topk(_pair_cosine_scored(paired, local_topk=k), k)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 16,
    n_codes: int = 16,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = 100_000,
) -> DataFrame:
    """The full FAISS-style IVF-PQ composition: coarse-quantize the
    corpus into inverted lists (IVF) AND PQ-encode every vector's
    RESIDUAL (x − centroid[cid], the FAISS IndexIVFPQ layout — residuals
    are much smaller than raw vectors, so the same code budget quantizes
    them far more finely), so a query (a) touches only its ``nprobe``
    nearest lists and (b) scans those lists as m-byte code arrays:
    q·x ≈ q·centroid[cid] + Σ_s LUT[q,s,code_s] — the centroid term is
    one scalar per (query, probed list) and the SAME query LUT serves
    every list, because q·codeword is cid-independent. Multiplicative
    savings: ~(nprobe/n_centroids) of the corpus read at ~1/16 the
    bytes; top-``rerank`` candidates per query rerank exactly against
    raw vectors.

    Spark shape: ONE map-only Arrow pass builds the corpus layout
    (cid + codes — at 100 TB this is the materialized index table,
    partitioned by cid so a probe prunes partitions); the probed-list
    restriction is a codegen ``isin`` filter on cid (partition-prunable),
    the LUT scan is map-only, and only pruned candidate ids shuffle.
    Query side is collected to build the LUT, gated by ``max_queries``
    (clear error past the gate; opt out with ``max_queries=None``)."""
    import numpy as np

    cents = train_ivf_grid_centroids(
        corpus, n_centroids, id_col=id_col, vec_col=vec_col
    )
    books = _train_residual_codebooks(
        corpus, cents, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col
    )

    qrows = _collect_queries_gated(
        queries, id_col, vec_col, max_queries, "ivf_pq_topk"
    )
    if not qrows:
        return _rank_topk(
            corpus.sparkSession.createDataFrame(
                [], "query_id long, neighbor_id long, sim double"
            ),
            k,
        )
    qids = np.array([r[0] for r in qrows], dtype="int64")
    qm = _unit_grid(np.array([list(r[1]) for r in qrows], dtype="float64"))
    # nprobe nearest lists per query -> cid -> query-index lists
    probes = _grid_assign_topn(qm, cents, nprobe)
    by_cid: dict[int, list[int]] = {}
    for qi, row in enumerate(probes):
        for cid in row:
            by_cid.setdefault(int(cid), []).append(qi)

    index = ivfpq_layout(corpus, cents, books, id_col, vec_col).filter(
        F.col("cid").isin([int(c) for c in by_cid])
    )
    return _ivfpq_scan_rerank(
        corpus, queries, index, cents, books, qids, qm, by_cid, k, rerank,
        id_col, vec_col,
    )


def _table_planes(t: int, n: int, dim: int) -> "np.ndarray":
    """Deterministic gaussian hyperplanes for LSH table ``t`` (PCG64 with
    a fixed per-table seed, so corpus- and query-side bucketings agree).

    Gaussian, not uniform-component: sign-of-gaussian-projection is the
    rotation-invariant SimHash family with the published collision
    probability 1-θ/π. Also replaces an earlier tuple-hash generator
    whose planes came out HIGHLY correlated (measured |cos| up to 0.99
    between planes of one table) — correlated planes waste bits and
    concentrate occupancy, amplifying hub-bucket skew. Row p is plane p
    and prefixes of the stream are stable, so requesting extra
    refinement planes never changes the base bucket ids."""
    import numpy as np

    return np.random.default_rng(977 + 1009 * t).standard_normal((n, dim))


# Sign bits are taken from INTEGER-quantized projections (planes and
# vectors both snapped to the 1/PLANE_SCALE grid): with |x| <~ 1 and
# gaussian |g| <~ 5, every product is < 2^41 and every 64-term partial
# sum < 2^47 — all integers exactly representable in float64, so the
# numpy BLAS matmul below never rounds and ANY engine (DuckDB included)
# that sums the same integer products gets the bit-identical sign. That
# is what lets the LSH queries be value-hash oracle-checked instead of
# rows-only: the oracle replays the same quantized planes as SQL integer
# literals (ann_oracles._planes_values). At 2^-18 resolution the planes
# are gaussian to ~4e-6 — recall floors are unchanged (tests/test_lsh_*).
PLANE_SCALE = 1 << 18


def _quantize_grid(m: "np.ndarray", scale: int = PLANE_SCALE) -> "np.ndarray":
    """floor(x*scale + 0.5) as integer-valued float64 — each step is a
    single correctly-rounded IEEE op (the multiply is exact for
    power-of-two scales), so every engine computes the identical grid
    point from the identical input."""
    import numpy as np

    return np.floor(m.astype("float64") * scale + 0.5)


def lsh_bucket_table(
    df: DataFrame,
    dim: int,
    n_planes: int = 6,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_bits: int = 0,
) -> DataFrame:
    """(did, tbl, bucket) rows for multi-table hyperplane LSH.

    One numpy matmul per Arrow batch: project the (batch x dim) vector
    block against all n_tables*n_planes hyperplanes at once and pack the
    sign bits into per-table bucket ids. Map-only — no explode, no
    shuffle, no per-element expression evaluation; the projection cost
    is a dense BLAS multiply. (Earlier explode+aggregate and per-element
    HOF formulations shuffled |docs| x planes*tables doubles and were
    respectively ~3x and ~30x slower at corpus scale.)

    ``extra_bits > 0`` additionally emits an ``ext`` column: that many
    REFINEMENT sign bits per table, from planes deeper in the same
    deterministic family (indices n_planes..n_planes+extra_bits-1, so
    the base bucket ids are unchanged). ``split_hot_buckets`` consumes
    them to subdivide over-occupied buckets without re-projecting.

    Planes and vectors are quantized to the 1/PLANE_SCALE integer grid
    before the projection (see PLANE_SCALE): the matmul then involves
    only exactly-representable integers, so the sign bits — hence every
    bucket id — replay bit-identically in the DuckDB oracle.
    """
    import numpy as np
    import pandas as pd

    total = n_planes + extra_bits
    planes = _quantize_grid(
        np.concatenate(
            [_table_planes(t, total, dim) for t in range(n_tables)], axis=0
        )
    )
    bit_weights = 1 << np.arange(n_planes, dtype="int64")
    ext_weights = 1 << np.arange(extra_bits, dtype="int64")
    tbl_ids = np.arange(n_tables, dtype="int32")

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = _quantize_grid(np.stack(pdf[vec_col].to_numpy()))
            proj = m @ planes.T  # (batch, tables*total) — exact: see PLANE_SCALE
            bits = (proj >= 0).astype("int64").reshape(len(m), n_tables, total)
            buckets = (bits[:, :, :n_planes] * bit_weights).sum(axis=2)
            out = {
                "did": pdf[id_col].to_numpy().repeat(n_tables),
                "tbl": np.tile(tbl_ids, len(m)),
                "bucket": buckets.ravel(),
            }
            if extra_bits:
                out["ext"] = (
                    (bits[:, :, n_planes:] * ext_weights).sum(axis=2).ravel()
                )
            yield pd.DataFrame(out)

    schema = "did long, tbl integer, bucket long"
    if extra_bits:
        schema += ", ext long"
    return df.select(id_col, vec_col).mapInPandas(run, schema)


def split_hot_buckets(
    b: DataFrame, cap: int, max_rounds: int = 4, extra_bits: int = 16
) -> DataFrame:
    """Recursively subdivide LSH buckets whose occupancy exceeds ``cap``
    using the refinement bits emitted by ``lsh_bucket_table(extra_bits=)``.

    Hub vectors skew bucket occupancy (the 100x audit measured max 3.7 k
    vs mean 27); per-bucket candidate cost is quadratic in occupancy, so
    the biggest buckets dominate candidate volume. Each round counts
    members per refined key (tbl, bucket, lvl, sub), and every group
    still over ``cap`` takes ceil(log2(n/cap)) MORE refinement bits:
    lvl grows, sub becomes the member's low ``lvl`` ext bits. Two vectors
    collide iff their refined keys are equal — members of one group share
    the full refinement history, so key equality remains a pure equi-join
    condition downstream.

    Guarantees and bounds:
    - converges in <= max_rounds rounds or when every group fits cap; a
      group of IDENTICAL-direction vectors is unsplittable (same side of
      every hyperplane) and is left intact once its ext bits are
      exhausted — those members genuinely are mutual near-dup candidates.
    - the per-round stats table has at most |assignments|/cap hot rows
      (each holds > cap members), so the broadcast is bounded by corpus
      size / cap regardless of skew.
    - splitting only REMOVES candidate pairs within hot buckets (recall
      there is re-earned by the multi-table OR); buckets <= cap are
      untouched, so typical-bucket recall is unchanged.

    Output: (did, tbl, bucket, lvl, sub) plus the input's other columns.
    """
    cur = (
        b.withColumn("lvl", F.lit(0))
        .withColumn("sub", F.lit(0).cast("long"))
        .localCheckpoint()  # the loop re-reads it once per round
    )
    for _ in range(max_rounds):
        hot = (
            cur.groupBy("tbl", "bucket", "lvl", "sub")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter((F.col("n") > cap) & (F.col("lvl") < extra_bits))
            .select(
                "tbl",
                "bucket",
                "lvl",
                "sub",
                # step = ceil(log2(n/cap)) computed EXACTLY in integers:
                # for m = ceil(n/cap) >= 2, ceil(log2(m)) = bit_length(m-1)
                # = length(bin(m-1)). No libm log2 — its last-ulp rounding
                # differs across engines near power-of-two boundaries, and
                # the DuckDB oracle replays this formula verbatim.
                F.least(
                    F.length(F.bin(F.expr(f"(n + {cap} - 1) div {cap} - 1"))),
                    F.lit(extra_bits) - F.col("lvl"),
                ).cast("int").alias("step"),
            )
        )
        # materialize the hot table ONCE: isEmpty() + the join used to
        # run the corpus-wide groupBy twice per round. The collect is
        # bounded by |assignments|/cap rows (each hot row holds > cap
        # members) — the same bound that already justified broadcasting.
        hot_rows = hot.collect()
        if not hot_rows:
            break
        # pandas/Arrow local relation (all-int columns): the tuple/Row
        # form re-evaluates through a Python-RDD worker round trip at
        # every downstream action that broadcasts it (round 10)
        import pandas as pd

        hot = b.sparkSession.createDataFrame(
            pd.DataFrame([r.asDict() for r in hot_rows]), hot.schema
        )
        prev = cur
        cur = (
            cur.join(F.broadcast(hot), ["tbl", "bucket", "lvl", "sub"], "left")
            .withColumn(
                "lvl",
                F.when(
                    F.col("step").isNotNull(), F.col("lvl") + F.col("step")
                ).otherwise(F.col("lvl")),
            )
            .withColumn(
                "sub",
                F.when(
                    F.col("step").isNotNull(),
                    F.expr("ext & (shiftleft(1L, lvl) - 1)"),
                ).otherwise(F.col("sub")),
            )
            .drop("step")
            .localCheckpoint()
        )
        # the new checkpoint is materialized (localCheckpoint is eager);
        # release the superseded round's blocks instead of pinning up to
        # max_rounds corpus-sized copies in the block manager
        free_checkpoint(prev)
    return cur


def embedding_neardup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.4,
    n_planes: int | None = None,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = 256,
    split_bits: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table hyperplane LSH.

    ``n_tables`` independent bucket functions of ``n_planes`` sign bits
    each; a pair is a candidate if it collides in ANY table (banding OR,
    like MinHash LSH). Recall for a pair at angle θ is
    1-(1-(1-θ/π)^planes)^tables. The scale path: the self-join is
    bucket-equi (shuffle on the bucket key), never all-pairs, and
    ``n_planes=None`` auto-sizes the bucket space to the corpus so
    per-bucket candidate cost stays constant as it grows (auto_planes).

    ``bucket_cap`` bounds the occupancy skew auto_planes cannot: mean
    occupancy stays ~target_bucket but HUB vectors concentrate (the 100x
    audit measured max 3.7 k vs mean 27, and per-bucket cost is
    quadratic). Buckets above the cap are recursively subdivided with
    extra refinement planes (``split_hot_buckets``) — the join stays
    equi, buckets under the cap (the typical case, cap = 8x the
    occupancy target) are untouched. ``None`` disables splitting.

    Candidate verification is an Arrow-batched mapInPandas cosine (numpy
    dot per batch) — millions of 64-dim dots per second per core, vs
    interpreted array-expression evaluation per pair
    (``cosine_verify_pairs``).
    """
    if n_planes is None:
        n_planes = auto_planes(df.count())
    b = lsh_bucket_table(
        df, dim, n_planes, n_tables, id_col, vec_col,
        extra_bits=split_bits if bucket_cap is not None else 0,
    )
    key = ["tbl", "bucket"]
    if bucket_cap is not None:
        b = split_hot_buckets(b, bucket_cap, extra_bits=split_bits).drop("ext")
        key = ["tbl", "bucket", "lvl", "sub"]
    cands = bucket_self_join(b, key)
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return cosine_verify_pairs(cands, va, vb, threshold)


def cosine_verify_pairs(
    cands: DataFrame, va: DataFrame, vb: DataFrame, threshold: float
) -> DataFrame:
    """The one embedding near-dup verifier: join each side's vector
    (``va`` = (id_a, vec_a), ``vb`` = (id_b, vec_b)) onto the candidate
    (id_a, id_b) pairs and keep (id_a, id_b, sim) with the cosine,
    rounded to ROUND_DP, at or above ``threshold``. Arrow-batched numpy,
    map-only after the two joins."""
    import numpy as np
    import pandas as pd

    paired = cands.join(va, "id_a").join(vb, "id_b")

    def verify(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["vec_a"].to_numpy()).astype("float64")
            bm = np.stack(pdf["vec_b"].to_numpy()).astype("float64")
            # zero-norm guard: sim 0, not NaN (a NaN here is DROPPED by
            # the pandas >= filter but KEPT by the SQL oracle and the
            # exact baseline's NaN-larger semantics — engine-dependent)
            sims = (a * bm).sum(axis=1) / np.maximum(
                np.linalg.norm(a, axis=1) * np.linalg.norm(bm, axis=1),
                1e-12,
            )
            out = pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy(),
                    "id_b": pdf["id_b"].to_numpy(),
                    "sim": np.round(sims, ROUND_DP),
                }
            )
            yield out[out["sim"] >= threshold]

    return paired.mapInPandas(verify, "id_a long, id_b long, sim double")


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.97,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizer: str = "learned",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    embeddings, then inside each cluster drop every vector that has a
    LOWER-id cluster-mate at cosine >= ``threshold`` (keep-lowest is the
    engine's deterministic stand-in for the paper's
    keep-farthest-from-centroid variant).

    ``quantizer`` picks the clustering:
    - ``"learned"`` (default): the deterministic integer-grid coarse
      k-means (train_ivf_grid_centroids) — the paper's shape, best
      cluster quality, and bit-reproducible, so the driver value-hash
      checks it end to end (semantic_dedup_learned).
    - ``"signbit"``: axis-aligned hyperplane partition — cid from the
      sign bits of the first log2(n_centroids) embedding components
      (requires power-of-two n_centroids). Slightly coarser clusters,
      but closed-form: the SAME partition is expressible in ANSI SQL,
      which lets the driver's DuckDB oracle check the full
      cluster+keep-one pipeline end-to-end (the learned path is covered
      by property tests instead — Lloyd isn't SQL-expressible).

    Returns (id, cid, keep) for every vector — ``keep`` = 1 for cluster
    representatives/uniques, 0 for semantic duplicates.

    Spark shape: centroid assignment is a map-only Arrow numpy projection;
    the pairwise pass is applyInPandas per cluster — ONE shuffle keyed by
    centroid id, and the O(m^2) gram matrix is per-cluster (m ~ n/k), not
    corpus-wide. At 100 TB, n_centroids scales with the corpus (the paper
    used 50k clusters for LAION-scale) so m stays bounded; cross-cluster
    near-dups are the documented approximation, exactly as in the paper.
    Cluster skew is the operational risk: AQE splits oversized clusters'
    shuffle partitions, and a degenerate corpus (everything in one
    cluster) degrades to the exact-pairs baseline cost.
    """
    import math

    import numpy as np
    import pandas as pd

    if quantizer == "learned":
        # integer-grid coarse quantizer (train_ivf_grid_centroids): same
        # clustering quality as the float cosine Lloyd it replaced, but
        # bit-reproducible across engines — which makes the learned path
        # value-hash oracle-checkable (semantic_dedup_learned), not just
        # property-tested
        cents = train_ivf_grid_centroids(
            df, n_centroids, id_col=id_col, vec_col=vec_col
        )

        def cid_of(m: "np.ndarray") -> "np.ndarray":
            return _grid_assign_topn(_unit_grid(m), cents, 1)[:, 0]

    elif quantizer == "signbit":
        n_bits = int(math.log2(n_centroids))
        if 2**n_bits != n_centroids:
            raise ValueError(
                f"signbit quantizer needs power-of-two n_centroids, got {n_centroids}"
            )

        def cid_of(m: "np.ndarray") -> "np.ndarray":
            bits = (m[:, :n_bits] >= 0).astype("int64")
            return bits @ (1 << np.arange(n_bits, dtype="int64"))

    else:
        raise ValueError(f"unknown quantizer: {quantizer!r}")

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "cid": cid_of(m),
                    "vec": pdf[vec_col],
                }
            )

    assigned = df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        assign, "id long, cid long, vec array<float>"
    )

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id", ignore_index=True)
        m = np.stack(pdf["vec"].to_numpy()).astype("float64")
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        n = len(m)
        # j is a duplicate iff ANY earlier (lower-id) i has sim >= t.
        # Blocked gram computation: the full n x n similarity matrix is
        # O(m^2) MEMORY (an 8 GB spike at m = 32k) — compute row blocks
        # of bounded size instead; identical comparisons, flat memory.
        dup = np.zeros(n, dtype=bool)
        blk_rows = max(1, 4_000_000 // max(n, 1))  # <= ~32 MB per block
        col_idx = np.arange(n)
        for s in range(0, n, blk_rows):
            e = min(s + blk_rows, n)
            # round to ROUND_DP before the threshold compare (the same
            # 6-dp boundary contract every thresholded sim query uses):
            # numpy's normalized gram and DuckDB's cosine differ at
            # ~1e-16, so an unrounded compare is engine-dependent on
            # near-threshold pairs
            sims = np.round(m[s:e] @ m.T, ROUND_DP)  # (block, n)
            later = col_idx[None, :] > np.arange(s, e)[:, None]
            dup |= ((sims >= threshold) & later).any(axis=0)
        return pd.DataFrame(
            {
                "id": pdf["id"].to_numpy(),
                "cid": pdf["cid"].to_numpy(),
                "keep": (~dup).astype("int64"),
            }
        )

    return (
        assigned.groupBy("cid")
        .applyInPandas(dedup_cluster, "id long, cid long, keep long")
        .withColumnRenamed("id", id_col)
    )


def knn_label_confusion(
    train: DataFrame,
    test: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    method: str = "exact",
    max_queries: int | None = 100_000,
    **ann_kwargs,
) -> DataFrame:
    """k-NN label classification over embeddings, evaluated as a
    confusion matrix (actual, predicted, n_vecs) — the standard
    embedding-space sanity check of a training-data pipeline (does a
    nearest-neighbor vote recover the annotation?).

    Prediction: majority vote over the exact cosine top-``k`` neighbors;
    ties break to the label holding the NEAREST neighbor among the tied
    labels, then to the smallest label — fully deterministic, so the
    integer confusion matrix is value-hash oracle-checkable.

    Scale: ``method='exact'`` broadcasts the QUERY side
    (cosine_topk_bruteforce) — the correctness baseline, gated by
    ``max_queries`` like embedding_neardup_exact. ``method='ivf'`` feeds
    the IDENTICAL vote/argmax stage from the inverted-list ANN
    (``ann_kwargs`` forwarded to ivf_topk) — candidate cost
    ~nprobe/n_centroids of the corpus, no broadcast of either side, the
    production path."""
    if method == "exact":
        if max_queries is not None:
            n = test.limit(max_queries + 1).count()
            if n > max_queries:
                raise ValueError(
                    f"knn_label_confusion(method='exact') broadcasts the "
                    f"query side; test set exceeds max_queries="
                    f"{max_queries}. Use method='ivf' at this scale, or "
                    f"pass max_queries=None to opt in."
                )
        topk = cosine_topk_bruteforce(
            train, test, k=k, id_col=id_col, vec_col=vec_col
        )
    elif method == "ivf":
        topk = ivf_topk(
            train, test, k=k, id_col=id_col, vec_col=vec_col, **ann_kwargs
        )
    else:
        raise ValueError(f"unknown method {method!r} (exact|ivf)")
    labels = train.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).cast("long").alias("n_label"),
    )
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(
            F.count(F.lit(1)).alias("n_votes"),
            F.min("rank").alias("best_rank"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("best_rank"), F.asc("n_label")
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("n_label").alias("predicted"))
    )
    actual = test.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).cast("long").alias("actual"),
    )
    # LEFT join: an ANN query whose probed lists held no candidates has
    # no vote rows — surface it as predicted = -1 instead of silently
    # dropping it (the matrix must always sum to the test-set size)
    return (
        actual.join(pred, "query_id", "left")
        .select(
            "actual",
            F.coalesce("predicted", F.lit(-1)).alias("predicted"),
        )
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )
