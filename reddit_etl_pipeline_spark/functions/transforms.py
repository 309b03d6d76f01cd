"""Scalar derivations — the reference's transform stage, Spark-first.

Re-expresses every column operation in the reference's ``transform_data``
(reference ``airflow/extraction/extract-from-reddit.py:128-179``), including
the three designed-but-commented derivations (date parts, engagement score,
engagement buckets — ``:143-162``), as lazy Column expressions. The whole
stage is a single ``select`` so Catalyst folds it into one projection inside
whole-stage codegen — no per-column passes like the eager pandas original.

All functions apply a column only if present (the reference's conditional
guards, ``:135,140,165,171``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import VARCHAR_WIDTHS

# Engagement buckets (reference extract-from-reddit.py:158-162, commented):
# pd.cut(bins=[0,10,50,100,inf], labels=[Low,Medium,High,Viral]) —
# pandas cut is right-closed, (0,10](10,50](50,100](100,inf].
ENGAGEMENT_BINS = [0, 10, 50, 100]
ENGAGEMENT_LABELS = ["Low", "Medium", "High", "Viral"]


def epoch_to_timestamp(df: DataFrame, col: str = "created_utc") -> DataFrame:
    """Unix epoch seconds -> UTC timestamp.

    The reference uses local-tz ``datetime.fromtimestamp``
    (extract-from-reddit.py:94-95); we standardize on UTC (SURVEY.md §4.2).
    """
    if col in df.columns:
        df = df.withColumn(col, F.timestamp_seconds(F.col(col)))
    return df


def stringify_author(df: DataFrame) -> DataFrame:
    """``str(author)`` — deleted accounts arrive as None -> 'None'
    (extract-from-reddit.py:97-99)."""
    if "author" in df.columns:
        df = df.withColumn(
            "author", F.coalesce(F.col("author").cast("string"), F.lit("None"))
        )
    return df


def add_extraction_timestamp(df: DataFrame, at=None) -> DataFrame:
    """Batch watermark column (extract-from-reddit.py:115). ``at`` pins a
    deterministic timestamp (tests / backfills); default wall-clock UTC."""
    ts = F.lit(at).cast("timestamp") if at is not None else F.current_timestamp()
    return df.withColumn("extraction_timestamp", ts)


def fill_selftext(df: DataFrame) -> DataFrame:
    """null -> '' for selftext (extract-from-reddit.py:136)."""
    if "selftext" in df.columns:
        df = df.withColumn("selftext", F.coalesce("selftext", F.lit("")))
    return df


def add_selftext_length(df: DataFrame) -> DataFrame:
    """``len(selftext)`` after null-fill (extract-from-reddit.py:137)."""
    if "selftext" in df.columns:
        df = df.withColumn(
            "selftext_length", F.length(F.coalesce("selftext", F.lit(""))).cast("long")
        )
    return df


def add_is_nsfw(df: DataFrame) -> DataFrame:
    """Copy of over_18 (extract-from-reddit.py:165-166)."""
    if "over_18" in df.columns:
        df = df.withColumn("is_nsfw", F.col("over_18"))
    return df


def fill_numeric_nulls(df: DataFrame) -> DataFrame:
    """null -> 0 for score / num_comments / upvote_ratio
    (extract-from-reddit.py:169-172)."""
    present = [c for c in ("score", "num_comments", "upvote_ratio") if c in df.columns]
    return df.na.fill(0, subset=present) if present else df


def add_date_parts(df: DataFrame, col: str = "created_utc") -> DataFrame:
    """Designed derivation † (extract-from-reddit.py:143-149): year, month,
    day, day-of-week, hour from created_utc.

    ``dayofweek`` follows the pandas convention the reference intended
    (Monday=0..Sunday=6), i.e. ``(spark dayofweek + 5) % 7``.
    """
    if col not in df.columns:
        return df
    c = F.col(col)
    return (
        df.withColumn("created_year", F.year(c))
        .withColumn("created_month", F.month(c))
        .withColumn("created_day", F.dayofmonth(c))
        .withColumn("created_dayofweek", (F.dayofweek(c) + F.lit(5)) % F.lit(7))
        .withColumn("created_hour", F.hour(c))
    )


def add_engagement(df: DataFrame) -> DataFrame:
    """Designed derivations † (extract-from-reddit.py:153-162): engagement
    score + right-closed bucket labels Low/Medium/High/Viral."""
    if "score" not in df.columns or "num_comments" not in df.columns:
        return df
    df = df.withColumn(
        "engagement_score", F.col("score") + F.col("num_comments") * F.lit(2)
    )
    e = F.col("engagement_score")
    # pd.cut right-closed bins: (0,10] Low, (10,50] Medium, (100,inf] Viral;
    # values <= 0 fall outside all bins -> null, matching pandas.
    bucket = (
        F.when(e.isNull(), F.lit(None).cast("string"))  # pd.cut(NaN) -> NaN
        .when(e <= ENGAGEMENT_BINS[0], F.lit(None).cast("string"))
        .when(e <= ENGAGEMENT_BINS[1], ENGAGEMENT_LABELS[0])
        .when(e <= ENGAGEMENT_BINS[2], ENGAGEMENT_LABELS[1])
        .when(e <= ENGAGEMENT_BINS[3], ENGAGEMENT_LABELS[2])
        .otherwise(ENGAGEMENT_LABELS[3])
    )
    return df.withColumn("engagement_bucket", bucket)


def truncate_varchar(df: DataFrame, widths: dict[str, int] | None = None) -> DataFrame:
    """Redshift TRUNCATECOLUMNS emulation (s3_to_redshift.py:217): clip
    string columns to their DDL widths."""
    for col, width in (widths or VARCHAR_WIDTHS).items():
        if col in df.columns:
            df = df.withColumn(col, F.substring(F.col(col), 1, width))
    return df


def transform_posts(df: DataFrame, extraction_at=None) -> DataFrame:
    """The full reference transform stage (extract-from-reddit.py:128-179):

    epoch->timestamp, author stringify, extraction_timestamp, selftext
    null-fill + length, is_nsfw copy, numeric null->0. Returns the 16-column
    STAGED relation. Lazy: Catalyst collapses all steps into one projection.
    """
    df = epoch_to_timestamp(df)
    df = stringify_author(df)
    df = add_extraction_timestamp(df, at=extraction_at)
    df = fill_selftext(df)
    df = add_selftext_length(df)
    df = add_is_nsfw(df)
    df = fill_numeric_nulls(df)
    return df
