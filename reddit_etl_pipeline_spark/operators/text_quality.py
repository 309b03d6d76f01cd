"""Corpus quality filters: n-gram repetition stats and benchmark
contamination checks.

Both are standard stages in a large-scale training-data pipeline:

- ``repetition_stats`` implements Gopher-style repetitious-text signals
  (duplicate n-gram fraction, most-common-n-gram fraction, symbol-to-word
  ratio) — documents dominated by repeated phrases are boilerplate/spam
  and get filtered before training.
- ``contamination_summary`` implements benchmark decontamination: flag
  corpus documents sharing any word n-gram with a benchmark set (the
  GPT-3/Llama n-gram-overlap method), so evaluation data can be excluded
  from training corpora.

Scale design
------------
N-grams are materialized ONCE per document via posexplode + lead() over a
window partitioned by the doc id — one shuffle keyed by doc id, all
column work inside whole-stage codegen (no higher-order-function lambdas:
those are interpreted per element). Aggregations are map-side-combined
groupBys keyed by (doc, gram) then doc — cardinality-bounded, never n².

Contamination joins the corpus' distinct grams against the benchmark's
distinct grams. Benchmark sets are small by nature (eval suites, not
corpora), so the benchmark side is broadcast — the corpus side is a
map-only probe with no shuffle of corpus grams. At 100 TB the join key
would be xxhash64(gram) with a string verify; here grams are joined as
strings directly so the DuckDB oracle sees bit-identical semantics.

Reference scope note: the reference has no corpus-quality surface
(pandas transforms only, airflow/extraction/transform_reddit_data.py);
this module is part of the engine's training-data extension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import ROUND_DP

#: Gopher-style flag thresholds (Rae et al. 2021, table A1-ish —
#: simplified to the token-count variants implemented here).
DUP_2GRAM_MAX = 0.20
DUP_3GRAM_MAX = 0.18
SYMBOL_WORD_MAX = 0.10


def _lower_tokens(col: str | Column) -> Column:
    """Lowercased whitespace tokens; empty/whitespace-only text -> []."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(F.lower(c))
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def word_ngrams(
    df: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, gram) rows of word ``n``-grams as space-joined strings.

    posexplode positions while RETAINING the token array; the n-1
    following tokens are read per-row by index (F.get — codegen, NULL
    past the end) instead of the old lead()-window, which shuffled and
    sorted every exploded token row by doc id just to see its neighbors
    (round 10: that Exchange+Sort was most of the map cost). The array
    never crosses an exchange. Documents with fewer than ``n`` tokens
    yield no rows, exactly as before (same bound the lead-NULL filter
    enforced)."""
    ex = df.select(F.col(id_col), _lower_tokens(text_col).alias("_t")).select(
        id_col, "_t", F.posexplode("_t").alias("pos", "tok")
    )
    parts = [F.col("tok")] + [
        F.get("_t", F.col("pos") + i) for i in range(1, n)
    ]
    bound = (
        (F.col("pos") + (n - 1) < F.size("_t")) if n > 1 else F.lit(True)
    )
    return ex.filter(bound).select(
        id_col, F.concat_ws(" ", *parts).alias("gram")
    )


def _gram_agg(grams: DataFrame, id_col: str, suffix: str) -> DataFrame:
    """Per-doc total/distinct/max-occurrence counts of a gram stream."""
    return (
        grams.groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias(f"n{suffix}"),
            F.count(F.lit(1)).alias(f"d{suffix}"),
            F.max("c").alias(f"m{suffix}"),
        )
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document.

    Returns (id, n_2grams, dup_2gram_frac, dup_3gram_frac, top_2gram_frac,
    symbol_word_ratio, gopher_flag): duplicate-fraction = 1 -
    distinct/total n-grams; top-fraction = occurrences of the most common
    2-gram / total; symbol_word_ratio = non-alphanumeric-non-space chars
    per token. ``gopher_flag`` = 1 when any signal crosses its threshold.
    """
    a2 = _gram_agg(word_ngrams(df, 2, text_col, id_col), id_col, "2")
    a3 = _gram_agg(word_ngrams(df, 3, text_col, id_col), id_col, "3")

    toks = _lower_tokens(text_col)
    n_sym = F.length(F.regexp_replace(F.col(text_col), r"[A-Za-z0-9\s]", ""))
    base = df.select(
        F.col(id_col),
        F.size(toks).alias("_ntok"),
        n_sym.alias("_nsym"),
    )

    n2 = F.coalesce("n2", F.lit(0))
    n3 = F.coalesce("n3", F.lit(0))

    def frac(num: Column, den: Column) -> Column:
        return F.round(
            F.when(den == 0, F.lit(0.0)).otherwise(num / den.cast("double")), ROUND_DP
        )

    dup2 = frac(n2 - F.coalesce("d2", F.lit(0)), n2)
    dup3 = frac(n3 - F.coalesce("d3", F.lit(0)), n3)
    top2 = frac(F.coalesce("m2", F.lit(0)), n2)
    symr = frac(F.col("_nsym"), F.greatest("_ntok", F.lit(1)))

    out = (
        base.join(a2, id_col, "left")
        .join(a3, id_col, "left")
        .select(
            F.col(id_col),
            n2.cast("long").alias("n_2grams"),
            dup2.alias("dup_2gram_frac"),
            dup3.alias("dup_3gram_frac"),
            top2.alias("top_2gram_frac"),
            symr.alias("symbol_word_ratio"),
        )
    )
    flagged = (
        (F.col("dup_2gram_frac") > DUP_2GRAM_MAX)
        | (F.col("dup_3gram_frac") > DUP_3GRAM_MAX)
        | (F.col("symbol_word_ratio") > SYMBOL_WORD_MAX)
    )
    return out.withColumn("gopher_flag", F.when(flagged, 1).otherwise(0).cast("long"))


def contaminated_doc_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct corpus doc ids sharing at least one word ``n``-gram with
    the benchmark set. Benchmark grams are broadcast (eval suites are
    small); the corpus side is probed map-side — corpus grams never
    shuffle."""
    bench_grams = (
        word_ngrams(benchmark, n, text_col, id_col).select("gram").distinct()
    )
    return (
        word_ngrams(corpus, n, text_col, id_col)
        .join(F.broadcast(bench_grams), "gram", "leftsemi")
        .select(id_col)
        .distinct()
    )


def contamination_summary(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-``group_col`` contamination rollup over non-benchmark corpus
    docs: (group, n_docs, n_contaminated). Benchmark membership is
    decided by the caller via the ``benchmark`` frame; benchmark docs
    are excluded from the scanned corpus before counting."""
    scanned = corpus.join(
        benchmark.select(id_col), id_col, "left_anti"
    )
    hits = contaminated_doc_ids(scanned, benchmark, n, text_col, id_col)
    flagged = scanned.join(
        hits.withColumn("_hit", F.lit(1)), id_col, "left"
    )
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_contaminated"),
        )
        .orderBy(group_col)
    )


def ngram_frequency(
    df: DataFrame,
    n: int = 2,
    top_k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide top-``top_k`` word n-grams: (gram, n_occurrences,
    n_docs) — the frequency table a BPE/vocab-building or stopword-mining
    stage reads. Totally ordered by (count desc, gram asc) so the top-k
    is deterministic.

    Scale shape: gram stream -> one map-side-combined groupBy on the gram
    string (at 100 TB: xxhash64 the gram for the shuffle key, carry one
    example string); count(DISTINCT id) is a partial-aggregated two-level
    agg, not a re-shuffle; the limit plans as TakeOrderedAndProject — only
    top_k rows per partition ever reach the driver side of the sort."""
    grams = word_ngrams(df, n, text_col, id_col)
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(id_col).alias("n_docs"),
        )
        .select(
            "gram",
            F.col("n_occurrences").cast("long"),
            F.col("n_docs").cast("long"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("gram").asc())
        .limit(top_k)
    )


def vocab_oov_stats(
    df: DataFrame,
    vocab_size: int = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Vocabulary-coverage audit: mine the corpus' top-``vocab_size``
    tokens (count desc, token asc — totally ordered), then report
    per-``group_col`` how much of each document falls OUTSIDE that
    vocabulary: (group, n_docs, total_tokens, oov_tokens, avg_oov_ratio).

    This is the tokenizer-fit signal a training pipeline checks before
    committing a vocab: a source whose OOV ratio is high will fragment
    into byte-fallback tokens and inflate sequence lengths.

    Scale shape: token stream -> one map-side-combined groupBy(token) for
    the frequency table; the top-k plans as TakeOrderedAndProject and the
    resulting ``vocab_size``-row vocab BROADCASTS to a left join marking
    in-vocab tokens (map-only probe — corpus tokens never shuffle for
    the membership test); per-doc rollup keys the doc id, group rollup
    keys the group — both cardinality-bounded. Docs with zero tokens
    count with ratio 0.0 via the left join from ``df`` itself."""
    from ..functions.text import tokens

    ex = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("raw")
    ).select(id_col, F.lower("raw").alias("tok")).filter(F.col("tok") != "")
    vocab = (
        ex.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    per_doc = (
        ex.join(F.broadcast(vocab), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
    )
    return (
        df.select(id_col, group_col)
        .join(per_doc, id_col, "left")
        .na.fill({"n_tokens": 0, "n_oov": 0})
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_oov").cast("long").alias("oov_tokens"),
            F.round(
                F.avg(
                    F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                        F.col("n_oov") / F.col("n_tokens")
                    )
                ),
                6,
            ).alias("avg_oov_ratio"),
        )
    )


def c4_filter_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_retained_lines: int = 3,
) -> DataFrame:
    """C4-style heuristic format filter (Raffel et al. 2020 §2.2,
    the public cleaning rules behind the C4 corpus), as per-doc signals:

    - a line is RETAINED if it ends in terminal punctuation (. ! ? ")
      and has >= ``min_words_per_line`` words;
    - a doc WOULD_KEEP if it retains >= ``min_retained_lines`` lines,
      contains no curly brace (code/JSON markers) and no "lorem ipsum".

    Returns (id, n_lines, n_retained_lines, retained_line_frac,
    has_curly, has_lorem, would_keep) — the audit table a corpus build
    reviews before applying the verdict. Pure codegen: one line explode,
    one per-doc agg; the boolean columns are BIGINT 0/1 so the oracle
    comparison is integer-exact (the fraction rounds at 6 dp).

    Completes the quality-gate family: C4 format rules here, Gopher
    repetition in ``repetition_stats``, LM perplexity in operators/lm,
    learned classifiers in operators/classify + operators/dsir."""
    # doc-level markers are computed BEFORE the explode so the per-line
    # rows carry two ints, not a full copy of the document text each
    lines = df.select(
        F.col(id_col),
        F.col(text_col).contains("{").cast("long").alias("has_curly"),
        F.lower(F.col(text_col))
        .contains("lorem ipsum")
        .cast("long")
        .alias("has_lorem"),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"),
    ).withColumn("lt", F.trim(F.col("line")))
    n_words = F.size(F.split(F.col("lt"), r"\s+"))
    retained = (
        (F.length("lt") > 0)
        & F.col("lt").rlike('[.!?"]$')
        & (n_words >= min_words_per_line)
    )
    per_doc = lines.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(retained.cast("long")).alias("n_retained_lines"),
        F.first("has_curly").alias("has_curly"),
        F.first("has_lorem").alias("has_lorem"),
    )
    return per_doc.select(
        id_col,
        "n_lines",
        "n_retained_lines",
        F.round(
            F.col("n_retained_lines") / F.col("n_lines"), ROUND_DP
        ).alias("retained_line_frac"),
        "has_curly",
        "has_lorem",
        (
            (F.col("n_retained_lines") >= min_retained_lines)
            & (F.col("has_curly") == 0)
            & (F.col("has_lorem") == 0)
        ).cast("long").alias("would_keep"),
    )


#: Flesch-Kincaid grade constants ×1e6 (0.39, 11.8, 15.59) and the
#: positivity offset for cross-engine integer division: Spark's ``div``
#: truncates toward zero while DuckDB's ``//`` floors, so the numerator
#: is shifted by FK_OFF grades (> 15.59, the largest negative term)
#: before the divide and shifted back after — the divide itself only
#: ever sees a positive numerator.
FK_W = 390_000
FK_SYL = 11_800_000
FK_C = 15_590_000
FK_OFF = 16_000_000


def readability_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Flesch–Kincaid grade level in exact micro-units —
    the classic readability filter of a text-curation pipeline
    (e.g. "drop documents above grade 16 / below grade 2" gates).

    Counts are the standard heuristics, identical on both engines:
    words = whitespace tokens; sentences = [.!?]+ runs (min 1);
    syllables = per-word [aeiouy]+ vowel-group runs (min 1/word).
    The grade 0.39·(w/se) + 11.8·(syl/w) − 15.59 is cleared to ONE
    integer division over the common denominator w·se:

        fk_micro = (390000·w² + 11800000·syl·se − 15590000·w·se) div (w·se)

    computed in DECIMAL(38)/HUGEINT with the FK_OFF positivity shift
    (div vs // disagree on negatives), so the DuckDB replay
    hash-matches. Zero-word documents are absent (the ratio is
    undefined). Returns (id, n_words, n_sentences, n_syllables,
    fk_grade_micro)."""
    from ..functions.text import tokens

    words = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
    ).filter(F.col("w") != "")
    per_doc = words.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(
            F.greatest(
                F.lit(1),
                F.size(F.expr("regexp_extract_all(w, '[aeiouy]+', 0)")),
            )
        ).alias("n_syllables"),
    )
    sents = docs.select(
        F.col(id_col),
        F.greatest(
            F.lit(1),
            F.size(F.expr(f"regexp_extract_all({text_col}, '[.!?]+', 0)")),
        ).cast("long").alias("n_sentences"),
    )
    j = per_doc.join(sents, id_col)
    num = (
        f"CAST({FK_W} AS DECIMAL(38,0)) * n_words * n_words"
        f" + CAST({FK_SYL} AS DECIMAL(38,0)) * n_syllables * n_sentences"
        f" - CAST({FK_C} AS DECIMAL(38,0)) * n_words * n_sentences"
        f" + CAST({FK_OFF} AS DECIMAL(38,0)) * n_words * n_sentences"
    )
    den = "(CAST(n_words AS DECIMAL(38,0)) * n_sentences)"
    return j.select(
        id_col,
        "n_words",
        "n_sentences",
        F.col("n_syllables").cast("long").alias("n_syllables"),
        F.expr(
            f"CAST(({num}) div {den} AS BIGINT) - {FK_OFF}"
        ).alias("fk_grade_micro"),
    )


def readability_oracle_sql(tokens_expr: str) -> str:
    """DuckDB replay of ``readability_stats`` over the documents table:
    same counts, same positivity-shifted single HUGEINT division."""
    return f"""
WITH words AS MATERIALIZED (
  SELECT doc_id, t.tok AS w
  FROM documents, unnest({tokens_expr}) AS t(tok)
  WHERE t.tok <> ''
),
per_doc AS MATERIALIZED (
  SELECT doc_id,
         count(*) AS n_words,
         sum(greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))
           AS n_syllables
  FROM words GROUP BY doc_id
),
sents AS MATERIALIZED (
  SELECT doc_id,
         CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
              AS BIGINT) AS n_sentences
  FROM documents
)
SELECT p.doc_id,
       CAST(p.n_words AS BIGINT) AS n_words,
       s.n_sentences,
       CAST(p.n_syllables AS BIGINT) AS n_syllables,
       CAST((CAST({FK_W} AS HUGEINT) * p.n_words * p.n_words
             + CAST({FK_SYL} AS HUGEINT) * p.n_syllables * s.n_sentences
             - CAST({FK_C} AS HUGEINT) * p.n_words * s.n_sentences
             + CAST({FK_OFF} AS HUGEINT) * p.n_words * s.n_sentences)
            // (CAST(p.n_words AS HUGEINT) * s.n_sentences)
            - {FK_OFF} AS BIGINT) AS fk_grade_micro
FROM per_doc p JOIN sents s ON s.doc_id = p.doc_id
"""


def source_vocab_overlap(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus sources — the
    cross-source comparability read (is src7 the same register as src3,
    or a different domain?) taken before mixing sources into one
    training corpus.

    The per-token source set drives pair generation, so the join is
    bounded by |sources|^2 per SHARED token (never |vocab|^2): distinct
    (source, token) -> self-join on token with source_a < source_b ->
    intersection counts; union = |A| + |B| - common by
    inclusion-exclusion, jaccard = common * 1e6 div union in exact
    integers. Returns (source_a, source_b, vocab_a, vocab_b, common,
    jaccard_micro), totally ordered.

    Scale: one token-keyed shuffle over the distinct (source, token)
    frame; a pathological token shared by EVERY source costs
    C(|sources|, 2) rows — quadratic in the (small) source count, not
    the corpus."""
    from ..functions.text import tokens

    st = (
        docs.select(
            F.col(group_col).alias("s"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = st.groupBy("s").agg(F.count(F.lit(1)).alias("vocab"))
    a, b = st.alias("a"), st.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(
            F.col("a.s").alias("source_a"), F.col("b.s").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        common.join(sa, F.col("source_a") == F.col("sa.s"))
        .join(sb, F.col("source_b") == F.col("sb.s"))
        .select(
            "source_a",
            "source_b",
            F.col("sa.vocab").alias("vocab_a"),
            F.col("sb.vocab").alias("vocab_b"),
            "common",
            F.expr(
                "(common * CAST(1000000 AS BIGINT))"
                " div (sa.vocab + sb.vocab - common)"
            ).alias("jaccard_micro"),
        )
        .orderBy("source_a", "source_b")
    )


def source_vocab_overlap_oracle_sql(tokens_expr: str) -> str:
    """DuckDB replay of :func:`source_vocab_overlap`."""
    return f"""
WITH st AS MATERIALIZED (
  SELECT DISTINCT source AS s, t.tok
  FROM documents, unnest({tokens_expr}) AS t(tok)
  WHERE t.tok <> ''
), sizes AS MATERIALIZED (
  SELECT s, count(*) AS vocab FROM st GROUP BY s
), common AS MATERIALIZED (
  SELECT a.s AS source_a, b.s AS source_b, count(*) AS common
  FROM st a JOIN st b ON a.tok = b.tok AND a.s < b.s
  GROUP BY a.s, b.s
)
SELECT source_a, source_b,
       CAST(sa.vocab AS BIGINT) AS vocab_a,
       CAST(sb.vocab AS BIGINT) AS vocab_b,
       CAST(common AS BIGINT) AS common,
       CAST((common * 1000000) // (sa.vocab + sb.vocab - common)
            AS BIGINT) AS jaccard_micro
FROM common
JOIN sizes sa ON sa.s = source_a
JOIN sizes sb ON sb.s = source_b
ORDER BY source_a, source_b
"""


def zipf_curve(
    docs: DataFrame, text_col: str = "text", max_rank: int = 4096
) -> DataFrame:
    """The corpus frequency curve probed at power-of-two ranks — the
    Zipf diagnostic (is the rank-frequency slope ~-1? does the tail
    collapse?) read off a handful of exact points instead of a float
    regression.

    The top ``max_rank`` terms by (freq DESC, token ASC) come back via
    TakeOrdered; ranks are re-derived on that bounded frame and only
    ranks with a single set bit survive (rank & (rank-1) = 0 — exact
    integer, no log). Returns (rank, token, freq) at ranks 1, 2, 4, ...

    Scale: one map-combinable term count + a top-``max_rank`` cut; the
    window runs over max_rank rows only."""
    from ..functions.text import tokens

    tf = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "tok")
        .limit(max_rank)
    )
    w = Window.orderBy(F.desc("freq"), "tok")
    return (
        tf.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.expr("(rank & (rank - 1)) = 0"))
        .select("rank", F.col("tok").alias("token"), "freq")
        .orderBy("rank")
    )


def zipf_curve_oracle_sql(tokens_expr: str, max_rank: int = 4096) -> str:
    """DuckDB replay of :func:`zipf_curve`."""
    return f"""
WITH tf AS MATERIALIZED (
  SELECT t.tok, count(*) AS freq
  FROM documents, unnest({tokens_expr}) AS t(tok)
  WHERE t.tok <> ''
  GROUP BY t.tok
  ORDER BY freq DESC, tok
  LIMIT {max_rank}
), ranked AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY freq DESC, tok) AS rank, tok, freq
  FROM tf
)
SELECT CAST(rank AS BIGINT) AS rank, tok AS token,
       CAST(freq AS BIGINT) AS freq
FROM ranked WHERE (rank & (rank - 1)) = 0
ORDER BY rank
"""
