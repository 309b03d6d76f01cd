"""Text analysis for large-scale training-data pipelines.

All hot-path metrics are built-in Column expressions (JVM-side, inside
whole-stage codegen) — no Python UDFs. The token regex and ratio
definitions are chosen to be expressible identically in ANSI SQL so the
DuckDB oracle can verify them bit-for-bit (ratios rounded to ROUND_DP).

Operators:
- tokenization + counts (whitespace and BPE-ish word/punct split)
- quality scoring (length, punctuation ratio, stopword ratio,
  alpha ratio, mean token length)
- language ID (stopword-hit heuristic over common-word lists)
- document fingerprinting (rolling/content hash)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: the 6-dp boundary rounding of every floating query result: Spark
#: and the DuckDB oracles hash identically despite different summation
#: orders. Defined here only — this module imports nothing from the
#: package — and imported everywhere else.
ROUND_DP = 6

#: BPE-ish tokenizer: words (incl. apostrophes) or single non-space symbols.
BPE_TOKEN_RE = r"[A-Za-z0-9]+(?:'[A-Za-z]+)?|[^\sA-Za-z0-9]"

#: Tiny common-word lists for the language-ID heuristic. Deliberately small
#: and transparent — a real pipeline would plug fasttext-style models in via
#: mapInPandas; the engine-side contract (column in, column out) is the same.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von", "zu"],
    "fr": ["le", "la", "les", "et", "des", "est", "pour", "que", "dans", "une"],
    "es": ["el", "la", "los", "que", "de", "es", "por", "con", "para", "una"],
}


def tokens(col: str | Column = "text") -> Column:
    """Whitespace tokens of trimmed text; empty text -> empty array."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(col: str | Column = "text") -> Column:
    return F.size(tokens(col)).alias("n_tokens")


def doc_token_pairs(
    docs: DataFrame, text_col: str, keep: list[str]
) -> DataFrame:
    """(``keep`` cols..., w1, w2) — adjacent-token bigrams of lowercased
    whitespace tokens via the codegen arrays_zip(slice, slice) explode
    (no array-lambda HOFs, no per-doc window); docs with < 2 tokens
    contribute nothing. Single-sourced here because the n-gram LM
    (operators/lm), DSIR (operators/dsir) and PMI (bigram_pmi_topk
    below) all depend on the exact same pair construction."""
    toks = tokens(F.lower(F.col(text_col)))
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("a"),
        F.slice(toks, 2, n - 1).alias("b"),
    )
    return (
        docs.filter(n >= 2)
        .select(*keep, F.explode(pairs).alias("p"))
        .select(
            *keep,
            F.col("p.a").alias("w1"),
            F.col("p.b").alias("w2"),
        )
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )


def bpe_tokens(col: str | Column = "text") -> Column:
    """BPE-ish sub-word split: word runs (with optional apostrophe suffix)
    plus single symbol chars — the pre-tokenization most BPE vocabularies
    apply. Pure regexp_extract_all projection, JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), 0)


def bpe_token_count(col: str | Column = "text") -> Column:
    return F.size(bpe_tokens(col)).alias("n_bpe_tokens")


def char_count(col: str | Column = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c).alias("n_chars")


def punct_ratio(col: str | Column = "text") -> Column:
    """Non-alphanumeric-non-space chars / total chars (0 for empty)."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return F.round(
        F.when(F.length(c) == 0, F.lit(0.0)).otherwise(n_punct / F.length(c)),
        ROUND_DP,
    )


def alpha_ratio(col: str | Column = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    return F.round(
        F.when(F.length(c) == 0, F.lit(0.0)).otherwise(n_alpha / F.length(c)),
        ROUND_DP,
    )


def mean_token_length(col: str | Column = "text") -> Column:
    toks = tokens(col)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(
        F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(total / F.size(toks)),
        ROUND_DP,
    )


def stopword_ratio(col: str | Column = "text", lang: str = "en") -> Column:
    """Fraction of lowercase tokens that are common ``lang`` stopwords."""
    toks = F.transform(tokens(col), F.lower)
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS[lang]))
    )
    return F.round(
        F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(hits / F.size(toks)),
        ROUND_DP,
    )


def quality_score(col: str | Column = "text") -> Column:
    """Composite heuristic quality in [0,1]: rewards prose-like alpha ratio,
    reasonable length, and low punctuation noise. Deterministic, portable."""
    c = F.col(col) if isinstance(col, str) else col
    length_term = F.least(F.length(c) / F.lit(1000.0), F.lit(1.0))
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")) / F.greatest(
        F.length(c), F.lit(1)
    )
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", "")) / F.greatest(
        F.length(c), F.lit(1)
    )
    score = (
        F.lit(0.4) * length_term + F.lit(0.5) * alpha + F.lit(0.1) * (1 - F.least(punct * 5, F.lit(1.0)))
    )
    return F.round(score, ROUND_DP)


def detect_language(col: str | Column = "text") -> Column:
    """Stopword-hit language ID: argmax of per-language common-word hits,
    'und' (undetermined) when no list scores >= 2 hits. Pure Column
    expression — scales as a projection, no shuffle."""
    toks = F.transform(tokens(col), F.lower)

    def _hits(words: list[str]):
        # closure factory: PySpark counts lambda default-args as HOF params
        return lambda t: t.isin(*words)

    scores = [
        (lang, F.size(F.filter(toks, _hits(words))))
        for lang, words in LANG_STOPWORDS.items()
    ]
    best_lang = F.lit("und")
    best_score = F.lit(1)  # require >= 2 hits to claim a language
    # fold: later languages win only on strictly higher scores -> stable
    for lang, score in scores:
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


def detect_language_df(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-level language ID: (id, lang_pred) via explode + broadcast
    stopword-dimension join + pivot — whole-stage codegen throughout,
    unlike the per-row array-lambda ``detect_language`` (same fold
    semantics: >= 2 hits, later language wins only on strictly more)."""
    from pyspark.sql import functions as F

    import pandas as pd

    spark = df.sparkSession
    # pandas/Arrow local relation (the tuple form pays a Python-RDD
    # worker round trip at every broadcast evaluation — round 10)
    pairs = [
        (lang, w) for lang, words in LANG_STOPWORDS.items() for w in words
    ]
    dim = spark.createDataFrame(
        pd.DataFrame(
            {"lang": [p[0] for p in pairs], "tok": [p[1] for p in pairs]}
        ),
        "lang string, tok string",
    )
    langs = list(LANG_STOPWORDS)
    ex = df.select(
        F.col(id_col), F.explode(tokens(col)).alias("raw")
    ).select(id_col, F.lower("raw").alias("tok"))
    hits = (
        ex.join(F.broadcast(dim), "tok")
        .groupBy(id_col)
        .pivot("lang", langs)
        .count()
        .na.fill(0, subset=langs)
    )
    # unrolled fold, generated from LANG_STOPWORDS order so this stays in
    # lockstep with detect_language. The fold's "later language wins only
    # on strictly more hits" unrolls to: check languages LAST-first, each
    # requiring >= 2 hits and strictly more than every EARLIER language.
    # Building inside-out (enumerate order) makes the last language the
    # outermost — first-evaluated — branch.
    pred = F.lit("und")
    for i, li in enumerate(langs):
        c = F.col(li) >= 2
        for lj in langs[:i]:
            c = c & (F.col(li) > F.col(lj))
        pred = F.when(c, F.lit(li)).otherwise(pred)
    scored = hits.select(id_col, pred.alias("lang_pred"))
    # docs with zero stopword hits never reach the join -> 'und'
    return df.select(id_col).join(scored, id_col, "left").na.fill(
        {"lang_pred": "und"}
    )


def text_stats(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document stat block — one projection, no shuffle."""
    return df.select(
        id_col,
        char_count(col).alias("n_chars"),
        token_count(col).alias("n_tokens"),
        mean_token_length(col).alias("mean_token_len"),
        punct_ratio(col).alias("punct_ratio"),
        alpha_ratio(col).alias("alpha_ratio"),
        stopword_ratio(col).alias("en_stopword_ratio"),
        quality_score(col).alias("quality"),
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: int | None = None,
) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document: (id, keyword, score, rank).

    tf = in-doc token count; idf = ln((N+1)/(df+1)) (smoothed);
    score rounded to 6 dp BEFORE ranking so ties order identically on any
    engine (tiebreak: token asc). Plan: explode -> two map-side-combined
    aggs (keyed (doc, tok) then tok) -> one shuffle join on tok -> per-doc
    row_number window. ``n_docs`` (corpus size) is a scalar: passed in, or
    computed once via a metadata-cheap parquet count — never a 1-row
    cross join, which would plan as a BroadcastNestedLoopJoin.
    """
    from pyspark.sql import Window

    if n_docs is None:
        n_docs = df.count()
    # explode first, lower the scalar column after — keeps the whole map
    # side in codegen (array HOF lambdas evaluate interpreted per element)
    ex = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("raw"))
        .select(id_col, F.lower("raw").alias("tok"))
        .filter(F.col("tok") != "")
    )
    tf = ex.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("dfreq"))
    scored = tf.join(dfreq, "tok").select(
        F.col(id_col),
        F.col("tok").alias("keyword"),
        F.round(
            F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("dfreq") + 1.0)),
            ROUND_DP,
        ).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("keyword").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def bigram_pmi_topk(
    df: DataFrame,
    min_count: int = 5,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` bigram collocations by pointwise mutual information:
    (tok_a, tok_b, n_ab, pmi) — the classic corpus-analysis op for
    finding multi-word expressions worth protecting from tokenizers.

    pmi = ln(P(ab) / (P(a)·P(b))) with unigram/bigram probabilities from
    corpus-wide counts; ``min_count`` drops rare bigrams whose PMI is
    pure noise (standard practice).

    Plan: bigrams come from exploding arrays_zip(slice, slice) — fully
    codegen, NO array-lambda HOFs and NO per-doc window shuffle; one
    map-side-combined bigram count agg (localCheckpoint'd so the corpus
    scan runs once), positional marginals + the single total derived
    from that vocab²-bounded table, keyed joins back, TakeOrdered top-k.
    The PMI double expression uses one fixed association order
    (cast-to-double FIRST — products of raw counts would overflow int64
    at 100 TB token counts) so any SQL engine reproduces it bit-for-bit.
    """
    # the shared codegen pair construction (doc_token_pairs) keeps the
    # PMI bigram distribution in lockstep with the LM/DSIR ones
    ex = doc_token_pairs(df, text_col, []).select(
        F.col("w1").alias("tok_a"), F.col("w2").alias("tok_b")
    )
    bi = (
        ex.groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .localCheckpoint(eager=True)
    )
    # positional marginals of the bigram distribution: c_a = sum_b n(a,b),
    # c_b = sum_a n(a,b); both sum to n_bi, so PMI needs ONE total scalar
    ua = bi.groupBy("tok_a").agg(F.sum("n_ab").alias("c_a"))
    ub = bi.groupBy("tok_b").agg(F.sum("n_ab").alias("c_b"))
    n_bi = bi.agg(F.sum("n_ab")).first()[0] or 0
    scored = (
        bi.filter(F.col("n_ab") >= min_count)
        .join(ua, "tok_a")
        .join(ub, "tok_b")
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.lit(float(n_bi))
                    / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
                ),
                ROUND_DP,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b")
    ).limit(k)


def fingerprint(col: str | Column = "text") -> Column:
    """64-bit content fingerprint of normalized text (lower, collapsed
    whitespace) — the exact-dedup key. xxhash64 is Spark-native and
    deterministic across the cluster."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.xxhash64(normalized)


# AFINN-style integer valence lexicon (public-domain word list subset,
# Nielsen 2011 scheme: -5..+5 per word). Bounded model-side constant —
# compiled into a literal MAP column, so scoring is pure codegen
# (element_at), no join, no UDF.
SENTIMENT_LEXICON: dict[str, int] = {
    "good": 3, "great": 3, "excellent": 3, "amazing": 4, "awesome": 4,
    "love": 3, "loved": 3, "like": 2, "liked": 2, "best": 3,
    "happy": 3, "win": 4, "winning": 4, "nice": 3, "cool": 1,
    "fantastic": 4, "perfect": 3, "better": 2, "success": 2, "helpful": 2,
    "interesting": 2, "fun": 4, "wow": 4, "thanks": 2, "thank": 2,
    "recommend": 2, "impressive": 3, "solid": 2, "beautiful": 3, "easy": 1,
    "bad": -3, "terrible": -3, "awful": -3, "horrible": -3, "worst": -3,
    "hate": -3, "hated": -3, "dislike": -2, "problem": -2, "problems": -2,
    "sad": -2, "lose": -3, "losing": -3, "broken": -1, "bug": -2,
    "bugs": -2, "fail": -2, "failed": -2, "failure": -2, "scam": -2,
    "wrong": -2, "slow": -2, "crash": -2, "useless": -2, "annoying": -2,
    "disappointed": -2, "disappointing": -2, "poor": -2, "waste": -1,
    "difficult": -1,
}


def _sentiment_map() -> Column:
    flat: list[Column] = []
    for w, v in SENTIMENT_LEXICON.items():
        flat.append(F.lit(w))
        flat.append(F.lit(v))
    return F.create_map(*flat)


def sentiment_rollup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
) -> DataFrame:
    """Lexicon sentiment rollup per ``group_col`` (the social-media
    analytics op — per-subreddit mood curves are the reference
    dashboard's natural next panel): per doc, valence = INTEGER sum of
    per-token lexicon scores; per group, doc counts, total valence,
    positive-doc fraction, and mean per-doc valence.

    Scale shape: token explode + a LITERAL-map ``element_at`` lookup
    (codegen — no lexicon join, no HOF lambda; the map is a few KB of
    plan constants however big the lexicon), one (group, doc) partial
    agg, one group rollup. Integer valences keep every aggregate
    engine-exact; only the two reported ratios round."""
    ex = df.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    val = F.coalesce(F.element_at(_sentiment_map(), F.col("tok")), F.lit(0))
    per_doc = (
        ex.select("g", "id", val.alias("v"))
        .groupBy("g", "id")
        .agg(F.sum("v").alias("valence"))
    )
    # docs with no tokens score 0 (the explode drops them; restore at
    # doc grain so n_docs and fractions count the whole corpus)
    all_docs = df.select(
        F.col(group_col).alias("g"), F.col(id_col).alias("id")
    )
    scored = all_docs.join(per_doc, ["g", "id"], "left").select(
        "g", F.coalesce("valence", F.lit(0)).alias("valence")
    )
    return scored.groupBy(F.col("g").alias(group_col)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("valence").cast("long").alias("sum_valence"),
        F.round(
            F.avg(F.col("valence").cast("double")), ROUND_DP
        ).alias("avg_doc_valence"),
        F.round(
            F.sum((F.col("valence") > 0).cast("long"))
            / F.count(F.lit(1)),
            ROUND_DP,
        ).alias("pos_doc_frac"),
    )
