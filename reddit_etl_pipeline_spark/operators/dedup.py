"""Deduplication operators for training-data pipelines.

Four families, each with a distinct scale profile:

- exact: hash-groupBy on a normalized-content fingerprint. One shuffle on
  the 64-bit hash; at 100 TB this is the cheapest full-corpus op there is.
- n-gram Jaccard: token/shingle explode -> self-join on shingle ->
  intersection counts. Exact pairwise similarity, SQL-expressible (DuckDB
  oracle). Cost is bounded by shingle document frequency — the hot-shingle
  filter caps the join fan-out (a shingle appearing in k docs contributes
  k^2 pairs; dropping ubiquitous shingles is both a skew guard and an
  accuracy no-op for near-dup detection).
- MinHash + LSH: signature matrix via per-permutation min over shingle
  hashes, banded into buckets; only intra-bucket pairs are candidates.
  Turns O(n^2) into O(n * bands + candidate pairs). The scale path.
- SimHash: 64-bit near-dup fingerprint via sign-aggregated token hashes;
  hamming-close fingerprints ~ similar docs. One projection + groupBy.

Embedding-cosine near-dup lives in ``similarity.py``.
"""

from __future__ import annotations

from pyspark.errors import PythonException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import ROUND_DP, fingerprint
from .fixpoint import iterate


# ------------------------------------------------------------------- exact


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized content: keep the lowest id per duplicate
    group. min_by aggregate -> map-side partial combine, single shuffle on
    the fingerprint."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "n_copies")
    )


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups with >1 member (the audit view of dedup_exact)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.sort_array(F.collect_list(id_col)).alias("ids"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------- n-gram Jaccard


def _distinct_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(did, th): per-document DISTINCT token sets, tokens as xxhash64
    longs. ``array_distinct`` dedups per row BEFORE the explode (pure
    map-side), replacing the corpus-wide ``distinct`` shuffle of
    (did, token-string) rows the old shape paid; hashing AT the explode
    then keeps every downstream shuffle (doc-frequency aggregate, df
    join, per-doc collect) on 8-byte longs instead of token strings
    (guide §2.3/§2.4 — measured r10: per_doc build 7.1 -> ~2.5 s at
    sf0.1). Same results: the old path hashed the same strings after
    its distinct, and both intersect hash arrays downstream."""
    toks = F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    return (
        df.select(F.col(id_col).alias("did"), F.explode(toks).alias("tok"))
        .filter(F.col("tok") != "")
        .select("did", F.xxhash64("tok").alias("th"))
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-set Jaccard pairs at/above ``threshold`` via prefix
    filtering (AllPairs/PPJoin family).

    A naive token self-join fans out quadratically on common tokens ("the"
    in k docs -> k² join rows). Prefix filtering keeps the join EXACT while
    only indexing each doc's ⌊(1-t)·|d|⌋+1 rarest tokens (global order =
    ascending document frequency): any pair with J >= t must share a
    prefix token, so candidates are generated by rare tokens only.

    Plan: (1) distinct (doc, token); (2) token doc-frequencies (one agg);
    (3) per-doc token array sorted by (df, token) — one shuffle on doc;
    (4) explode only the prefix -> self-join on token with a length filter
    (t·|a| <= |b| <= |a|/t); (5) verify candidates exactly with
    array_intersect on the full token arrays. No UDFs; every step is a
    hash shuffle/agg or codegen'd projection. At 100 TB the candidate set,
    not the corpus square, bounds the cost.
    """
    toks = _distinct_tokens(df, text_col, id_col)
    tok_df = toks.groupBy("th").agg(F.count(F.lit(1)).alias("tdf"))
    # Token strings never survive _distinct_tokens: doc frequencies, the
    # prefix join and the verification all run on xxhash64 token hashes
    # (8-byte longs), which cuts shuffle width and array_intersect cost
    # ~an order of magnitude vs ~20-byte strings. (Collision odds at 64
    # bits are negligible against any real vocabulary.)
    per_doc = (
        toks.join(tok_df, "th")
        .groupBy("did")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("tdf", "th"))
            ).alias("sorted")
        )
        .select(
            "did",
            F.col("sorted").getField("th").alias("toks"),
            F.size("sorted").alias("sz"),
        )
        # referenced three times below (prefix explode + both verify
        # sides): materialize once so tokenize+df-join+sort doesn't run
        # thrice. localCheckpoint (eager) instead of cache(): cache
        # registers in the session CacheManager and lives until someone
        # unpersists — a long session accretes corpora — while checkpoint
        # blocks are freed when the plan is garbage-collected.
        .localCheckpoint(eager=True)
    )
    # Float-safety note: every pruning bound below is loosened by EPS
    # before ceil/comparison. IEEE rounding can push e.g.
    # (0.9/1.9)*133 to 63.00000000000001 (ceil -> 64 instead of the
    # exact 63) or 70*0.9 to 63.000000000000007 (> 63), which would
    # DROP pairs sitting exactly on the threshold that the oracle keeps.
    # Loosening only admits extra candidates — the exact jaccard filter
    # at the end still decides membership.
    EPS = 1e-9
    # standard Jaccard prefix length: |d| - ceil(t*|d|) + 1 == floor((1-t)|d|)+1
    plen = (
        F.col("sz")
        - F.ceil(F.col("sz") * F.lit(float(threshold)) - F.lit(EPS))
        + 1
    ).cast("int")
    prefix = per_doc.select(
        "did",
        "sz",
        F.posexplode(F.slice("toks", F.lit(1), plen)).alias("pos", "tok"),
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter: a pair needs overlap alpha = ceil(t/(1+t)
    # * (sz_a+sz_b)); a candidate row matching at (0-based) positions
    # (i, j) bounds the overlap by 1 + min(sz_a-1-i, sz_b-1-j). Pruning
    # each row by its own bound is exact: the pair's first common token
    # has the largest bound, so if any row could pass, that one does —
    # and distinct() keeps the pair if any row survives.
    alpha = F.ceil(
        F.lit(float(threshold) / (1.0 + float(threshold)))
        * (F.col("a.sz") + F.col("b.sz"))
        - F.lit(EPS)
    )
    ubound = 1 + F.least(
        F.col("a.sz") - 1 - F.col("a.pos"), F.col("b.sz") - 1 - F.col("b.pos")
    )
    cands = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.did") < F.col("b.did"))
            & (F.col("b.sz") * F.lit(float(threshold)) <= F.col("a.sz") + F.lit(EPS))
            & (F.col("a.sz") * F.lit(float(threshold)) <= F.col("b.sz") + F.lit(EPS))
            & (ubound >= alpha),
        )
        .select(F.col("a.did").alias("doc_a"), F.col("b.did").alias("doc_b"))
        .distinct()
    )
    fa = per_doc.select(
        F.col("did").alias("doc_a"), F.col("toks").alias("toks_a"), F.col("sz").alias("sz_a")
    )
    fb = per_doc.select(
        F.col("did").alias("doc_b"), F.col("toks").alias("toks_b"), F.col("sz").alias("sz_b")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    return (
        cands.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(inter / (F.col("sz_a") + F.col("sz_b") - inter), ROUND_DP),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ------------------------------------------------------------ MinHash + LSH


def shingles(col, n: int = 3):
    """Word n-gram shingles of normalized text as an array column."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "), " ")
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


# Deterministic permutation constants (odd multipliers, fixed seed set) for
# the universal-hash family h_i(x) = (a_i * x + b_i) mod 2^31-1. The 31-bit
# Mersenne prime keeps a*h + b < 2^62 — no int64 overflow in the JVM.
_MERSENNE = (1 << 31) - 1


def _perm_consts(num_perm: int) -> list[tuple[int, int]]:
    consts = []
    state = 0x9E3779B9
    for _ in range(num_perm):
        state = (state * 1103515245 + 12345) % (1 << 31)
        a = (state % (_MERSENNE - 1)) + 1
        state = (state * 1103515245 + 12345) % (1 << 31)
        b = state % _MERSENNE
        consts.append((a, b))
    return consts


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    h_i(xxhash64(shingle)).

    Implemented as explode(shingles) -> one xxhash64 per (doc, shingle)
    row -> hash aggregate with num_perm ``min`` columns. The permutations
    are plain arithmetic on the base hash, so the whole map side stays in
    whole-stage codegen (higher-order-function lambdas over arrays are
    interpreted per element — an order of magnitude slower at corpus
    scale). Map-side partial mins make the shuffle carry at most
    |docs| x num_perm longs."""
    # Shingle hashing without building shingle STRINGS or shuffling the
    # exploded tokens: posexplode positions while RETAINING the token
    # array, and read the n-1 following tokens by index (F.get — NULL
    # past the end, never an ANSI error). The array never crosses an
    # exchange; neighbor access is a per-row getItem instead of the old
    # lead()-window, which forced a full shuffle + sort of every token
    # row by doc id (round 10: the window Exchange was ~the whole map
    # cost). The pre-aggregate ``.distinct()`` the old path carried is
    # dropped outright: min() is duplicate-insensitive, so min over the
    # shingle MULTISET equals min over the set — one whole shuffle of
    # |doc x shingle| rows removed, values bit-identical. Docs shorter
    # than n tokens keep one zero-padded shingle (pos == 0 row).
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " ")
    ex = df.select(F.col(id_col), toks.alias("_t")).select(
        id_col, "_t", F.posexplode("_t").alias("pos", "tok")
    )
    n_t = F.size("_t")
    ths = [F.xxhash64("tok")] + [
        # zero padding where pos+i runs past the doc, exactly like the
        # old coalesce(lead(th, i), 0)
        F.when(
            F.col("pos") + i < n_t, F.xxhash64(F.get("_t", F.col("pos") + i))
        ).otherwise(F.lit(0))
        for i in range(1, shingle_n)
    ]
    full = (
        (F.col("pos") + (shingle_n - 1) < n_t)
        if shingle_n > 1
        else F.lit(True)
    )
    combined = F.xxhash64(*ths)
    base = ex.filter(full | (F.col("pos") == 0)).select(
        id_col, F.pmod(combined, F.lit(_MERSENNE)).alias("h")
    )
    aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE))).alias(f"h{i}")
        for i, (a, b) in enumerate(_perm_consts(num_perm))
    ]
    return (
        base.groupBy(id_col)
        .agg(*aggs)
        .select(F.col(id_col), F.array(*[f"h{i}" for i in range(num_perm)]).alias("signature"))
    )


def minhash_bands(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    id_col: str = "did",
) -> DataFrame:
    """(did, band, bucket): each band of the signature hashed to a
    bucket — the one banding projection of every MinHash pair path,
    batch or streamed. Unrolled literal-index slices keep it in
    whole-stage codegen (a transform() lambda is interpreted per band)."""
    bh = F.array(
        *[
            F.xxhash64(
                F.slice("signature", b * rows_per_band + 1, rows_per_band)
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col).alias("did"),
        F.posexplode(bh).alias("band", "bucket"),
    )


def bucket_self_join(
    keys_df: DataFrame,
    key_cols: list[str],
    broadcast: bool = False,
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """The one LSH candidate generator: distinct (id_a, id_b), id_a <
    id_b, over the ``did`` rows of ``keys_df`` that agree on every key
    column (a MinHash (band, bucket), a hyperplane (tbl, bucket[, lvl,
    sub])). The join carries NO payload — key and id columns only — and
    dedupes to unique pairs at once, so a pair colliding in several
    bands costs a few 16-byte rows, never copies of its signatures or
    vectors (the shuffle audit in ``minhash_neardup_pairs``).

    ``broadcast`` hints one side broadcast-able; the caller decides
    from exact metadata (``minhash_pairs_from_signatures``).
    ``pair_cols`` names the two output columns."""
    a, b = keys_df.alias("a"), keys_df.alias("b")
    on = F.col("a.did") < F.col("b.did")
    for k in key_cols:
        on = on & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    return (
        a.join(F.broadcast(b) if broadcast else b, on)
        .select(F.col("a.did").alias(pair_cols[0]), F.col("b.did").alias(pair_cols[1]))
        .distinct()
    )


def minhash_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    broadcast: bool = False,
) -> DataFrame:
    """LSH banding: hash each band of the signature to a bucket; docs
    sharing any (band, bucket) are candidate (doc_a, doc_b) pairs. Pair
    generation is a self-join per bucket — bounded by bucket occupancy,
    not corpus size.

    ``broadcast``: hint one side of the band self-join broadcast-able
    (see ``minhash_pairs_from_signatures`` — the caller decides from
    EXACT relation metadata, never from Catalyst's estimate)."""
    return bucket_self_join(
        minhash_bands(signatures, bands, rows_per_band, id_col),
        ["band", "bucket"],
        broadcast,
        ("doc_a", "doc_b"),
    )


def minhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 3,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH near-dup: candidates via banding, estimated
    Jaccard = fraction of matching signature slots, thresholded.

    Shuffle shape, audited at 100x (500k docs, ~25M candidate pairs):

    - the band self-join carries NO payload (did/band/bucket only) and
      dedupes to unique pairs immediately (minhash_candidate_pairs) —
      a pair colliding in ~8 of 16 bands costs 8 16-byte rows into the
      distinct, not 8 copies of its signatures. Carrying signatures
      through the band join was measured at ~1.4 KB x 476M joined rows
      (~600 GB of row materialization); joining signatures per candidate
      pair BEFORE deduping was measured at >50 GB of shuffle. This
      order keeps every stage bounded by corpus + candidate volume.
    - verification joins each side's signature onto the deduped pairs
      and computes slot agreement as an UNROLLED codegen sum of
      num_perm equality terms — no interpreted HOF lambdas in the
      per-pair hot path (CLAUDE.md rule).
    """
    # localCheckpoint, not cache: see jaccard_pairs — blocks free on GC
    # instead of accreting in the session CacheManager
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_n).localCheckpoint(
        eager=True
    )
    return minhash_pairs_from_signatures(
        sigs, id_col, num_perm, bands, threshold
    )


#: in-memory bytes per signature row (id + num_perm longs + row overhead)
#: used for the explicit broadcast decision below
_SIG_ROW_OVERHEAD = 40


def minhash_pairs_from_signatures(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    broadcast_bytes: int = 1 << 30,
) -> DataFrame:
    """The banding + verification tail of ``minhash_neardup_pairs``,
    factored out so a PERSISTED signature relation (the neardup_store's
    per-batch partials) answers near-dup queries identically to an
    inline signature build — signatures are per-row functions of the
    frozen permutation family, so where they came from cannot change
    the pairs. Band projection over signatures is a per-row codegen
    xxhash64 of literal-index slices: recomputing it per query costs
    one projection over |docs| rows, which is why the store persists
    signatures (the shingle-explode + num_perm min-agg term) and not
    buckets.

    Broadcast policy (the round-10 lesson): the signature relation is
    referenced FOUR times downstream (both band-join sides, both
    verification sides), and whether those joins broadcast or
    sort-merge swings the tail ~4x at 500k docs — yet Catalyst's
    LogicalRDD estimate for a checkpointed relation depends on where
    the rows CAME from (a parquet-sourced store reports its true size,
    an aggregate-output estimate can be 26x under), so the rebuild and
    the store were getting DIFFERENT plans for identical data. The
    decision is therefore made here, explicitly, from exact metadata:
    rows x exact row width <= ``broadcast_bytes`` (default 1 GiB —
    driver-safe in local/single-JVM mode and modest on a cluster;
    at true corpus scale the estimate exceeds the bound and every join
    degrades gracefully to the shuffle plan, which is the correct one
    there). ``sigs`` should be materialized (localCheckpoint) — both
    callers do — so the deciding ``count()`` is a cached-block read."""
    est = sigs.count() * (8 * num_perm + _SIG_ROW_OVERHEAD)
    bc = est <= broadcast_bytes
    cands = minhash_candidate_pairs(
        sigs, id_col, bands, num_perm // bands, broadcast=bc
    )
    sa = sigs.select(F.col(id_col).alias("doc_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("doc_b"), F.col("signature").alias("sig_b"))
    if bc:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return minhash_verify_pairs(
        cands, sa, sb, num_perm, threshold, ("doc_a", "doc_b")
    )


def minhash_verify_pairs(
    cands: DataFrame,
    sa: DataFrame,
    sb: DataFrame,
    num_perm: int,
    threshold: float,
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """The one MinHash pair verifier: join each side's signature
    (``sa`` = (id_a, sig_a), ``sb`` = (id_b, sig_b)) onto the candidate
    pairs and keep est_jaccard = matching slots / num_perm, rounded to
    ROUND_DP, at or above ``threshold``. Slot agreement is an UNROLLED
    codegen sum of num_perm equality terms — no interpreted HOF lambdas
    in the per-pair hot path (CLAUDE.md rule). ``pair_cols`` names the
    id columns of all three inputs and of the output."""
    a, b = pair_cols
    agree = sum(
        F.when(F.col("sig_a").getItem(i) == F.col("sig_b").getItem(i), 1).otherwise(0)
        for i in range(num_perm)
    )
    return (
        cands.join(sa, a)
        .join(sb, b)
        .select(
            a,
            b,
            F.round(agree / F.lit(num_perm), ROUND_DP).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every k-token gram, then keep the MINIMUM gram
    hash of every w-long window of consecutive gram positions — the
    guarantee is that any shared passage of at least k + w − 1 tokens
    contributes at least one IDENTICAL selected fingerprint to both
    documents, while only ~2/(w+1) of grams are kept. The standard
    plagiarism / shared-boilerplate detector, complementing MinHash
    (whole-doc resemblance) and CDC (storage chunks): winnowing localizes
    MATCHING PASSAGES.

    Returns distinct (id, fp) rows. Wholly codegen: token explode →
    xxhash64 → lead() gram chain (the minhash_signatures shingle path,
    generalized to k) → one per-doc window min → distinct. Docs shorter
    than k tokens keep one zero-padded gram (pos == 0), like minhash —
    every non-NULL doc yields at least one fingerprint. Tail windows
    truncate (the last w−1 positions see shorter windows); both the
    engine and the DuckDB oracle use the same ROWS frame so selections
    agree exactly."""
    from pyspark.sql import Window

    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
    )
    ex = df.select(F.col(id_col), F.posexplode(toks).alias("pos", "tok")).select(
        id_col, "pos", F.xxhash64("tok").alias("th")
    )
    wl = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("th", i).over(wl).alias(f"th{i}") for i in range(1, k)]
    with_leads = ex.select(id_col, "pos", "th", *leads)
    full = F.col(f"th{k - 1}").isNotNull() if k > 1 else F.lit(True)
    gram = F.xxhash64(
        "th", *[F.coalesce(f"th{i}", F.lit(0)) for i in range(1, k)]
    )
    grams = with_leads.filter(full | (F.col("pos") == 0)).select(
        id_col, "pos", gram.alias("gh")
    )
    ww = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.select(F.col(id_col), F.min("gh").over(ww).alias("fp"))
        .distinct()
    )


def winnow_overlap(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 3,
    max_df: int = 100,
    topn: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top document pairs by shared winnowing fingerprints — the
    passage-overlap report (plagiarism / boilerplate / contamination
    shape). Fingerprints appearing in more than ``max_df`` documents are
    dropped before pairing (the PPJoin-style frequency cap that keeps
    the fp equi-join candidate-bounded at corpus scale: a stop-phrase
    fingerprint shared by every doc would otherwise fan out
    quadratically); pairs need ``min_shared`` surviving fingerprints.
    Output (doc_a, doc_b, shared_fps), totally ordered, top ``topn``."""
    fps = winnow_fingerprints(df, k, w, text_col, id_col)
    ok = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("fp")
    )
    f2 = fps.join(ok, "fp", "left_semi")
    a = f2.select(F.col(id_col).alias("doc_a"), "fp")
    b = f2.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        a.join(b, (a["fp"] == b["fp"]) & (a["doc_a"] < b["doc_b"]))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
        .orderBy(F.desc("shared_fps"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(topn)
    )


def greedy_accept_order(doc_ids: list[int], edges: list[tuple[int, int]]) -> set[int]:
    """Lexicographic-greedy ONLINE dedup decision over a verified near-dup
    pair graph: process ids ascending; a doc is rejected iff it has an
    ALREADY-ACCEPTED earlier neighbor. The policy of streaming corpus
    builds (reject only true near-dups of RETAINED docs — a doc similar
    only to previously-rejected docs survives), strictly weaker than
    connected-components keep-one and exactly replayable batch-by-batch
    when batches arrive in id order.

    Pure-Python on purpose: callers hand it DRIVER-SIZED inputs — a
    micro-batch's ids and its verified candidate edges (output-bounded),
    never corpus-scale relations."""
    nbrs: dict[int, list[int]] = {}
    for a, b in edges:
        lo, hi = (a, b) if a < b else (b, a)
        nbrs.setdefault(hi, []).append(lo)
    accepted: set[int] = set()
    for d in sorted(doc_ids):
        if not any(e in accepted for e in nbrs.get(d, ())):
            accepted.add(d)
    return accepted


# ---------------------------------------------------- duplicate clustering


#: Bytes of symmetrized edge set (two int64 endpoints per directed edge,
#: ``_CC_EDGE_BYTES``) below which ``connected_components`` runs in
#: ONE Python task instead of the distributed loop. Sized to one Python
#: worker: the task holds the edges plus their sort permutation and the
#: gathered neighbor labels. Measured on the sf0.1 part co-purchase
#: graph (1,196,000 pairs = 2,392,000 directed edges, 36.5 MiB, inside
#: the bound; 4 cores): the worker's peak RSS was 213 MiB (61 MiB of it
#: the forked daemon), and the step function alone grew 94 MiB (2.6x
#: the edge bytes), so at the bound one worker peaks near 0.45 GB.
CC_ONE_TASK_BYTES = 128 << 20
_CC_EDGE_BYTES = 16
#: the one-line non-convergence message's fixed prefix; the small path
#: finds it in the worker's wrapped exception to re-raise the message
_CC_NOT_CONVERGED = "connected_components did not converge after"


def _cc_not_converged(steps: int, n: int | None) -> str:
    return (
        f"{_CC_NOT_CONVERGED} {steps} propagation steps "
        f"({n} labels still changing); raise max_iter"
    )


def _cc_one_task(edges: DataFrame, max_iter: int) -> DataFrame:
    """``connected_components``' small path: every edge in ONE task,
    where synchronous min-label steps run in numpy — the loop's steps
    exactly (each node takes the min of its own and its neighbors'
    previous labels), so the step count, the stop rule and the
    non-convergence error are the loop's. Integer logic only. Edges are
    sorted by source once; a step is one gather and one
    ``np.minimum.reduceat`` over the source runs (every node is a
    source, the edge set being symmetric)."""
    import numpy as np
    import pandas as pd

    def run(batches):
        parts = [b for b in batches if len(b)]
        if not parts:  # no edges, no nodes
            return
        s = np.concatenate([b["s"].to_numpy() for b in parts])
        d = np.concatenate([b["d"].to_numpy() for b in parts])
        del parts
        order = np.argsort(s)
        s, d = s[order], d[order]
        del order
        starts = np.flatnonzero(np.r_[True, s[1:] != s[:-1]])
        nodes = s[starts]
        nbr = np.searchsorted(nodes, d)
        del s, d
        # labels are node positions: ``nodes`` is sorted, so the min
        # position is the min node id
        lbl = np.arange(len(nodes))
        n = None
        for _step in range(max_iter):
            nxt = np.minimum(lbl, np.minimum.reduceat(lbl[nbr], starts))
            n = int(np.count_nonzero(nxt != lbl))
            lbl = nxt
            if n == 0:
                yield pd.DataFrame({"node": nodes, "component": nodes[lbl]})
                return
        raise RuntimeError(_cc_not_converged(max_iter, n))

    t = edges.schema["s"].dataType.simpleString()
    return edges.coalesce(1).mapInPandas(run, f"node {t}, component {t}")


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    pre_normalized: bool = False,
    assume_distinct: bool = False,
) -> DataFrame:
    """Connected components over a pair graph via synchronous min-label
    propagation: each step, every node adopts the smallest label among
    itself and its neighbors; the labels stop changing after
    O(component diameter) steps (near-dup graphs are clique-ish, so a
    few). A run of ``max_iter`` steps that still changes a label raises
    ``RuntimeError`` naming the steps run — partial labels would
    silently split components.

    Returns (node, component) with component = min node id reachable,
    materialized (eager ``localCheckpoint``), so a failure surfaces
    inside this call.

    Two paths run the same steps, chosen from the exact directed edge
    count x 16 B against ``CC_ONE_TASK_BYTES`` (the pattern of
    ``minhash_pairs_from_signatures``):

    - below the bound, all edges go to ONE task and the steps run
      in numpy (``_cc_one_task``). At the sizes this engine serves the
      loop's cost is all per-round fixed cost (a checkpoint, a change
      count job and two propagation joins, 1.4-3.9 s per round at sf0.1
      whatever the partition count), which one task never pays;
    - above it, one propagation step per ``fixpoint.iterate`` round:
      one shuffle join + one aggregate + a left join back, checkpointed,
      with a driver-side change count against the carried round-start
      label (the standard Spark CC pattern, cf. GraphX/GraphFrames).

    ``pre_normalized``: the input is already the MATERIALIZED distinct
    lo<hi edge set (graph_store.store_edges — an unfiltered parquet
    read), so the symmetrized union is distinct by construction: skip
    the distinct shuffle and the re-materialization.

    ``assume_distinct``: the input is a distinct lo<hi pair set but NOT
    yet materialized (``jaccard_pairs``/``minhash_neardup_pairs``
    output — each ends in a distinct/aggregate keyed on the pair): skip
    only the redundant distinct shuffle of the symmetrized union, keep
    the checkpoint that pins one execution of the pair-generation plan.
    """
    edges = pairs.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).unionAll(pairs.select(F.col(dst).alias("s"), F.col(src).alias("d")))
    if not pre_normalized:
        if not assume_distinct:
            edges = edges.distinct()
        # materialize once: the path decision counts it, and every loop
        # round re-reads it — without this the (possibly expensive)
        # pair-generation plan above would re-execute per read
        edges = edges.localCheckpoint(eager=True)

    # exact directed edge count: a cached-block read of the checkpoint,
    # or row-group metadata for a ``pre_normalized`` parquet read
    if edges.count() * _CC_EDGE_BYTES < CC_ONE_TASK_BYTES:
        try:
            return _cc_one_task(edges, max_iter).localCheckpoint(eager=True)
        except PythonException as e:
            # the worker's non-convergence error arrives wrapped in the
            # failed job's exception; raise it as the loop would
            msg = str(e)
            start = msg.find(_CC_NOT_CONVERGED)
            if start < 0:
                raise
            raise RuntimeError(msg[start:].splitlines()[0]) from None

    labels = (
        edges.select(F.col("s").alias("node")).distinct().withColumn("label", F.col("node"))
    )

    # NOTE (round 10, measured on the distributed loop): pointer-jumping
    # (label <- label[label] via a labels self-join each round, the
    # Kiveris et al. shortcut) was tried here and MEASURED A 3x
    # REGRESSION at sf0.1 under clean probes (neardup_clusters 12.7 ->
    # 36.7 s, stream_incremental_neardup 14.6 -> 25.0 s): the extra
    # per-round labels shuffle + join costs more than the rounds it
    # saves on these shallow graphs (8 rounds, changed =
    # 2610/2596/1668/543/79/7/1/0 — diameter is already small because
    # near-dup components are near-cliques). Keep plain neighbor-min;
    # revisit only with a measured deep-chain workload.
    def _step(lbl: DataFrame, _r: int) -> DataFrame:
        """One min-label step: label <- min(label, min over neighbors);
        the round-start label rides along as ``label0``, so the change
        count reads the checkpoint with no extra join."""
        lbl = lbl.select("node", "label", F.col("label").alias("label0"))
        nbr = (
            edges.join(lbl, edges.d == lbl.node)
            .groupBy("s")
            .agg(F.min("label").alias("nbr_label"))
        )
        return lbl.join(nbr, lbl.node == nbr.s, "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
            "label0",
        )

    labels = iterate(
        labels,
        _step,
        max_iter,
        changed=lambda lbl: lbl.filter(F.col("label") != F.col("label0")).count(),
        stuck=lambda steps, n: RuntimeError(_cc_not_converged(steps, n)),
    )
    return labels.select(F.col("node"), F.col("label").alias("component"))


def neardup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    method: str = "exact",
) -> DataFrame:
    """Every document mapped to its near-duplicate cluster representative
    (min doc id of the connected component of the pair graph; singletons
    represent themselves). The keep-one-per-cluster step of a dedup
    pipeline: filter ``doc_id == rep_id`` downstream.

    ``method`` picks the pair graph: ``"exact"`` = exact token-set
    Jaccard PPJoin (``jaccard_pairs`` — oracle-replayable, cost grows
    with candidate volume), ``"minhash"`` = banded MinHash-LSH over word
    3-gram shingles (``minhash_neardup_pairs`` — the 100 TB path:
    linear-shuffle banding, verify-in-band-join, never rescans text).

    The two measure related but different similarities: token-set
    Jaccard ignores order and multiplicity; shingle Jaccard (the
    standard production near-dup measure, cf. GPT-3/Gopher dedup) also
    requires SEQUENCE overlap. On true near-duplicates (copies with
    small edits) both are high and the modes collapse the same clusters
    (pinned in tests/test_cli.py); on bag-of-words-similar but
    differently-ordered text only ``exact`` fires. Unigram shingles are
    deliberately NOT used to mimic token-set Jaccard at scale: on a
    shared-vocabulary corpus the per-permutation minimum concentrates on
    globally common tokens, collapsing LSH buckets into
    corpus-sized hot buckets (measured: top tokens in ~78% of the
    synthetic docs -> the band self-join degenerates to ~n^2)."""
    if method == "exact":
        pairs = jaccard_pairs(df, text_col, id_col, threshold)
    elif method == "minhash":
        pairs = minhash_neardup_pairs(
            df, text_col, id_col, threshold=threshold
        ).select("doc_a", "doc_b")
    else:
        raise ValueError(f"method must be 'exact' or 'minhash', got {method!r}")
    # both pair generators end in a pair-keyed distinct, so the
    # symmetrized edge set needs no second distinct shuffle (round 10)
    comp = connected_components(pairs, assume_distinct=True)
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(comp, F.col("doc_id") == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("rep_id"),
        )
    )


def neardup_canonical(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    method: str = "exact",
) -> DataFrame:
    """Quality-aware keep-one: map every document to the member of its
    near-duplicate cluster with the HIGHEST quality score (ties → lowest
    id) instead of ``neardup_clusters``' lowest-id rule — when dedup
    collapses a cluster, keep the best copy, not the earliest.

    Output: (doc_id, canonical_id, quality) for every input doc;
    downstream keeps ``doc_id == canonical_id``. NULL-text docs take
    quality −1 so they never win a cluster with a scored member.

    Scale shape: the cluster pass is ``neardup_clusters`` (bounded
    min-label propagation, one task or the distributed loop by edge
    count — see ``connected_components``); canonical selection is ONE
    map-side combinable ``max(struct(quality, −id))`` per cluster + an
    equi-join back — no window sort of the corpus. The cluster pass dominates cost
    (exact-Jaccard PPJoin by default, because the oracle needs
    exactness); at 100 TB pass ``method='minhash'`` (the banded-LSH pair
    graph, wired through the curate CLI as ``--neardup minhash``) — the
    selection is agnostic to how the pair graph was built."""
    from ..functions.text import quality_score

    clusters = neardup_clusters(df, text_col, id_col, threshold, method=method)
    q = df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(quality_score(text_col), F.lit(-1.0)).alias("quality"),
    )
    # member feeds BOTH the per-cluster argmax and the final join; the
    # checkpoint pins ONE execution of the jaccard+connected-components
    # lineage (tests/test_dedup.py::test_neardup_canonical_single_cluster_pass
    # asserts a single documents scan). Measured at sf0.1: neardup_clusters alone ~ neardup_canonical
    # total (the selection adds ~0 on top of the cluster pass) — without
    # the checkpoint the cluster pass would run twice.
    member = clusters.join(q, "doc_id").localCheckpoint()
    best = (
        member.groupBy("rep_id")
        .agg(
            F.max(
                F.struct(
                    F.col("quality"), (-F.col("doc_id")).alias("neg_id")
                )
            ).alias("b")
        )
        .select("rep_id", (-F.col("b.neg_id")).alias("canonical_id"))
    )
    return member.join(best, "rep_id").select(
        "doc_id", "canonical_id", "quality"
    )


# ----------------------------------------------------------------- SimHash


def simhash(col, bits: int = 64):
    """SimHash fingerprint: per token, xxhash64 -> 64 bits; each bit
    position accumulates +1/-1; fingerprint bit = sign. One projection
    using bit arithmetic over the token array — no explode."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.array_distinct(
        F.filter(F.split(F.trim(F.lower(c)), r"\s+"), lambda t: t != "")
    )
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def _vote_fn(i: int):
        # closure factory: PySpark counts lambda default-args as HOF params
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_exprs = []
    for i in range(bits):
        votes = F.aggregate(hashes, F.lit(0), _vote_fn(i))
        bit_exprs.append(
            F.when(votes > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    fp = F.lit(0).cast("long")
    for i, bit in enumerate(bit_exprs):
        fp = fp + F.shiftleft(bit, i)
    return fp


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """Explode tokens -> one xxhash64 per (doc, token) -> hash aggregate
    with ``bits`` signed vote sums -> pack sign bits into a long. Stays in
    whole-stage codegen (the array-lambda formulation in ``simhash`` is
    interpreted; keep that one for column-level composition, this one for
    corpus runs). explode_outer keeps token-less docs (fingerprint 0),
    matching ``simhash``'s behavior on empty input."""
    c = F.col(text_col)
    toks = F.array_distinct(
        F.filter(F.split(F.trim(F.lower(c)), r"\s+"), lambda t: t != "")
    )
    base = df.select(F.col(id_col), F.explode_outer(toks).alias("t")).select(
        # xxhash64(null) is the seed (42), not null — guard so token-less
        # docs keep fingerprint 0 like the column-level ``simhash``
        id_col,
        F.when(F.col("t").isNotNull(), F.xxhash64("t")).alias("h"),
    )
    vote = lambda i: F.when(F.col("h").isNull(), 0).when(  # noqa: E731
        F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1
    ).otherwise(-1)
    g = base.groupBy(id_col).agg(
        *[F.sum(vote(i)).alias(f"b{i}") for i in range(bits)]
    )
    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp + F.shiftleft((F.col(f"b{i}") > 0).cast("long"), i)
    return g.select(F.col(id_col), fp.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming, using the
    pigeonhole block trick: split fingerprints into (max_hamming+1) blocks;
    any pair within distance must share >= 1 exact block -> equi-join on
    (block_idx, block_value) instead of an O(n^2) cross join."""
    nblocks = max_hamming + 1
    width = bits // nblocks
    fps = simhash_fingerprints(df, text_col, id_col, bits)
    mask = (1 << width) - 1
    blocks = fps.select(
        F.col(id_col).alias("did"),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", i * width).bitwiseAND(F.lit(mask))
                    for i in range(nblocks)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.did") < F.col("b.did")),
        )
        .select(
            F.col("a.did").alias("doc_a"),
            F.col("b.did").alias("doc_b"),
            F.col("a.simhash").alias("fp_a"),
            F.col("b.simhash").alias("fp_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        # long at the query boundary (bit_count is int32; the DuckDB
        # oracle's bit_count is BIGINT — CLAUDE.md boundary-type rule)
        .select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))
    )


# ---------------------------------------------------- segment-level dedup


def segment_dedup_stats(
    segments: DataFrame, id_col: str = "doc_id", seg_col: str = "seg"
) -> DataFrame:
    """Corpus-wide duplicate-segment stats from a (doc, segment) stream.

    A segment is "duplicated" when it occurs in >= 2 DISTINCT documents.
    Returns one row per doc id present in ``segments``:
    (id, n_segments, n_dup_segments, dup_seg_frac) where counts are over
    segment INSTANCES (a line repeated 3x in a doc counts 3x).

    Scale shape: distinct (doc, seg) -> groupBy seg (map-side combined)
    for document frequency, then an equi-join back to the instance stream
    and a per-doc rollup — two shuffles, both keyed and combinable, never
    n^2. At 100 TB the seg string would be pre-hashed to xxhash64 before
    the shuffle; kept as strings here so the DuckDB oracle sees identical
    semantics.
    """
    seg_df = (
        segments.select(F.col(id_col), F.col(seg_col).alias("seg"))
        .distinct()
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("seg_docs"))
    )
    per_doc = (
        segments.select(F.col(id_col), F.col(seg_col).alias("seg"))
        .join(seg_df, "seg")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("seg_docs") >= 2).cast("long")).alias("n_dup_segments"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_segments").cast("long"),
        F.col("n_dup_segments").cast("long"),
        F.round(
            F.when(F.col("n_segments") == 0, F.lit(0.0)).otherwise(
                F.col("n_dup_segments") / F.col("n_segments").cast("double")
            ),
            ROUND_DP,
        ).alias("dup_seg_frac"),
    )


def doc_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, seg) rows of normalized (lowercased, trimmed) non-empty lines,
    split on newline — the segment unit of CCNet/RefinedWeb-style
    paragraph dedup. Pure codegen projection + explode, no shuffle."""
    return (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), "\n")).alias("_raw"),
        )
        .select(id_col, F.trim(F.lower(F.col("_raw"))).alias("seg"))
        .filter(F.length("seg") > 0)
    )


def line_dedup_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet/RefinedWeb-style line-level dedup signals: per document, how
    many of its lines also appear in at least one OTHER document. Docs
    whose text contains no newline contribute their whole text as one
    line, so this degrades gracefully to whole-doc dup detection on
    single-line corpora. Docs with empty text keep a zero row."""
    stats = segment_dedup_stats(doc_lines(df, text_col, id_col), id_col)
    return (
        df.select(id_col)
        .join(stats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_segments", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("n_dup_segments", F.lit(0)).cast("long").alias("n_dup_lines"),
            F.coalesce("dup_seg_frac", F.lit(0.0)).alias("dup_line_frac"),
        )
    )


def duplicate_span_stats(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """ExactSubstr-style duplicate-span signal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better",
    approximated at k-token granularity): per document, the fraction of
    its k-token spans that also occur in another document. High
    dup_span_frac marks docs sharing long verbatim passages — the docs
    substring-dedup would trim. Span stream is the word_ngrams explode
    (codegen, one shuffle on the doc id for the lead window)."""
    from .text_quality import word_ngrams

    spans = word_ngrams(df, k, text_col, id_col).withColumnRenamed("gram", "seg")
    stats = segment_dedup_stats(spans, id_col)
    return (
        df.select(id_col)
        .join(stats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_segments", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_segments", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("dup_seg_frac", F.lit(0.0)).alias("dup_span_frac"),
        )
    )


# ------------------------------------------------------ incremental dedup


def nullable_fingerprint(col: str):
    """Content fingerprint that keeps NULL text NULL-keyed: xxhash64(NULL)
    would yield the seed constant, silently clustering all NULL docs and
    matching them across joins — SQL equality semantics say NULL never
    matches, and the oracles agree. NULL-fp docs group together under
    groupBy (which treats NULLs as equal, like GROUP BY) but always
    survive fingerprint anti-joins."""
    return F.when(
        F.col(col).isNull(), F.lit(None).cast("long")
    ).otherwise(fingerprint(col))


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-batch exact dedup: the docs of ``new_df`` whose normalized
    content is NOT already in ``corpus_df`` — the daily-ingest shape of a
    production corpus build, where today's batch dedups against
    everything already accepted WITHOUT rescanning it per-doc.

    Scale shape: the corpus side collapses to DISTINCT 8-byte
    fingerprints (in production this is a maintained fingerprint index
    table appended per batch, so the heavy corpus scan happens once per
    corpus, not once per ingest); within-batch duplicates collapse to
    the lowest id first (arrival-order invariant), then one
    fingerprint-keyed LEFT ANTI join — both sides shuffle only 8-byte
    keys + ids, never text. New-batch << corpus, so AQE broadcasts the
    batch side against the index in the planned-join formulation.
    """
    new_fp = new_df.select(
        F.col(id_col), nullable_fingerprint(text_col).alias("fp")
    )
    first_in_batch = new_fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    seen = corpus_df.select(nullable_fingerprint(text_col).alias("fp")).distinct()
    return first_in_batch.join(seen, "fp", "left_anti").select(id_col)


def dedup_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style duplicate-LINE REMOVAL — the rewrite counterpart of
    ``line_dedup_stats``: every line whose normalized (lowercased,
    trimmed) form already appeared earlier in the corpus (by (doc, pos)
    order) is dropped; blank lines survive (they carry structure, not
    content). Returns (id, clean_text, n_lines, n_lines_removed).

    Scale shape: one posexplode (codegen); the first-occurrence rule is
    a ``min(struct(id, pos))`` AGGREGATE per normalized line plus a hash
    join back — deliberately NOT a row_number window: the min agg
    combines map-side and the join's hot keys (boilerplate headers/
    footers — exactly the data this op kills — land millions of rows on
    one line value) are split by AQE skew-join, while a window's
    per-partition sort cannot be split. Reassembly sorts the kept
    (pos, line) structs with array_sort and extracts the field
    ARRAY-wise (``.getField`` on array<struct> — codegen ExtractValue,
    NOT an interpreted transform() lambda, per the repo's HOF rule)."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("norm", F.trim(F.lower(F.col("line"))))
    firsts = (
        lines.filter(F.length("norm") > 0)
        .groupBy("norm")
        .agg(F.min(F.struct(id_col, "pos")).alias("first"))
    )
    flagged = lines.join(firsts, "norm", "left").withColumn(
        "keep",
        (F.length("norm") == 0)
        | (
            (F.col(f"first.{id_col}") == F.col(id_col))
            & (F.col("first.pos") == F.col("pos"))
        ),
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("keep"), F.struct("pos", "line"))
                )
            ).getField("line"),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum((~F.col("keep")).cast("long")).alias("n_lines_removed"),
    )


def remove_duplicate_spans(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """ExactSubstr-style duplicate-span REMOVAL (Lee et al. 2021) at
    k-token granularity — the rewrite counterpart of
    ``duplicate_span_stats``: each document's token stream is cut into
    consecutive NON-overlapping k-token grains; a grain whose exact token
    sequence already occurred as a grain earlier in the corpus (by
    (doc, grain) order) is dropped; the trailing partial grain (< k
    tokens) always survives. Returns (id, clean_text, n_tokens,
    n_tokens_removed) with clean_text rebuilt space-joined (token-level
    rewrite: original inter-token whitespace is normalized, the standard
    trade of substring dedup at scale).

    Scale shape: grain extraction is pure codegen (sequence-explode +
    column-arg slice — no per-row Python, no HOF lambdas); the
    first-occurrence rule is a map-side-combinable ``min(struct)`` agg
    on the grain string plus an AQE-skew-splittable hash join (not a
    window — verbatim boilerplate forms heavy grain keys, and a window
    sort of a hot key cannot be split); reassembly is one per-doc
    shuffle of kept grain strings."""
    from ..functions.text import tokens

    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    n = F.size("toks")
    grains = (
        toks.filter(n > 0)
        .select(
            id_col,
            "toks",
            F.explode(
                F.sequence(F.lit(0), F.floor((n - 1) / k).cast("int"))
            ).alias("gi"),
        )
        .select(
            id_col,
            "gi",
            F.slice("toks", F.col("gi") * k + 1, F.lit(k)).alias("grain"),
        )
        .select(
            id_col,
            "gi",
            F.size("grain").alias("g_len"),
            F.array_join("grain", " ").alias("g_str"),
        )
    )
    firsts = (
        grains.filter(F.col("g_len") == k)
        .groupBy("g_str")
        .agg(F.min(F.struct(id_col, "gi")).alias("first"))
    )
    flagged = grains.join(firsts, "g_str", "left").withColumn(
        "keep",
        (F.col("g_len") < k)
        | (
            (F.col(f"first.{id_col}") == F.col(id_col))
            & (F.col("first.gi") == F.col("gi"))
        ),
    )
    rebuilt = flagged.groupBy(id_col).agg(
        F.array_join(
            F.array_sort(
                F.collect_list(F.when(F.col("keep"), F.struct("gi", "g_str")))
            ).getField("g_str"),
            " ",
        ).alias("clean_text"),
        F.sum("g_len").cast("long").alias("n_tokens"),
        F.sum(
            F.when(~F.col("keep"), F.col("g_len")).otherwise(F.lit(0))
        ).cast("long").alias("n_tokens_removed"),
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_tokens_removed", F.lit(0)).alias("n_tokens_removed"),
        )
    )


def remove_duplicate_spans_v2(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """ExactSubstr duplicate-span REMOVAL with OVERLAPPING windows — the
    fidelity upgrade over ``remove_duplicate_spans``' non-overlapping
    grains (Lee et al. 2021 removes ANY repeated substring; fixed grains
    miss repeats that straddle a grain boundary).

    Semantics: every k-token window at stride 1 whose token sequence
    occurred EARLIER in the corpus (first occurrence by (doc, pos) order
    survives) marks all k of its tokens removed; overlapping/adjacent
    duplicate windows therefore merge into maximal removed spans, exactly
    like the paper's substring removal at token granularity. Docs shorter
    than k tokens are never touched.

    Scale shape (the Rabin-Karp idea, Spark-idiomatically): the window
    key is ``xxhash64(tok_i, …, tok_{i+k-1})`` built from k codegen
    ``element_at`` columns — NO window string is ever materialized, and
    the shuffle moves 8-byte hashes instead of k-token text (the v1 grain
    join shuffles full grain strings). First-occurrence is the same
    map-side-combinable min(struct) + AQE-skew-splittable join as v1.
    Token-level rebuild is one Arrow mapInPandas pass over (doc, tokens,
    dup_starts) — integer/string ops only, fully deterministic, so the
    result stays value-hash oracle-comparable (the DuckDB oracle uses
    window-STRING equality; token joins are boundary-bijective because
    whitespace-split tokens cannot contain whitespace, so hash-vs-string
    decisions differ only on an xxhash64 collision, P ~ n_windows²/2⁶⁵).
    """
    import pandas as pd

    from ..functions.text import tokens

    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    n = F.size("toks")
    wins = (
        toks.filter(n >= k)
        .select(
            id_col,
            "toks",
            F.explode(F.sequence(F.lit(0), (n - k).cast("int"))).alias("i"),
        )
        .select(
            id_col,
            "i",
            F.xxhash64(
                *[F.element_at("toks", F.col("i") + j + 1) for j in range(k)]
            ).alias("h"),
        )
    )
    firsts = wins.groupBy("h").agg(F.min(F.struct(id_col, "i")).alias("first"))
    dup_starts = (
        wins.join(firsts, "h")
        .filter(
            ~(
                (F.col(f"first.{id_col}") == F.col(id_col))
                & (F.col("first.i") == F.col("i"))
            )
        )
        .groupBy(id_col)
        .agg(F.collect_list("i").alias("dup_starts"))
    )
    joined = toks.join(dup_starts, id_col, "left")
    out_schema = (
        f"{id_col} long, clean_text string, n_tokens long, "
        "n_tokens_removed long"
    )

    def rebuild(batches):
        for pdf in batches:
            rows = []
            for did, tk, starts in zip(
                pdf[id_col], pdf["toks"], pdf["dup_starts"]
            ):
                if tk is None or len(tk) == 0:
                    rows.append((did, "", 0, 0))
                    continue
                tk = list(tk)
                removed = [False] * len(tk)
                if starts is not None:
                    for s in starts:
                        for j in range(int(s), min(int(s) + k, len(tk))):
                            removed[j] = True
                kept = [t for t, r in zip(tk, removed) if not r]
                rows.append((did, " ".join(kept), len(tk), sum(removed)))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "clean_text", "n_tokens", "n_tokens_removed"],
            )

    return joined.mapInPandas(rebuild, out_schema)
