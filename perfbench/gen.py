"""Seeded input generators for the two perfbench workloads.

Pure numpy/pyarrow: no Spark session is needed to build any input, and the
same seed always yields byte-identical inputs (``input_digest`` hashes them;
``tests/test_perfbench.py`` pins the property). Each generator also states,
as exact ground truth, the properties an optimisation could depend on:

- ``DailyGen``: the share of each day's ids that repeat an earlier id, the
  subreddit skew, and the distinct-id count the warehouse must hold.
- ``ShardGen``: the exact-duplicate share, the near-duplicate chain depth,
  and the corpus size after exact dedup and after near-dup dedup.
- ``StreamGen``: the events table and the rows per micro-batch of the
  hourly-counts twin.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EPOCH = 1742169600  # 2025-03-17 00:00:00 UTC
DAY_S = 86400


def rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream ``stream`` of run seed ``seed``."""
    return np.random.default_rng([seed, *stream])


def input_digest(obj) -> str:
    """sha256 over a generated input: a pyarrow Table (IPC bytes), a list
    of row dicts (their sorted-key repr), or a list of either."""
    h = hashlib.sha256()
    items = obj if isinstance(obj, list) and obj and not isinstance(obj[0], dict) else [obj]
    for it in items:
        if isinstance(it, pa.Table):
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, it.schema) as w:
                w.write_table(it)
            h.update(sink.getvalue().to_pybytes())
        else:
            for row in it:
                h.update(repr(sorted(row.items())).encode())
    return h.hexdigest()


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="zstd")


# ------------------------------------------------------------ daily_cycle
#
# Post shape follows FIXTURES.md's column constraints for the reference's
# ``reddit`` relation: 7-char base-36 ids; titles of 5-120 chars with
# commas, double quotes and non-ASCII (``’``, emoji); selftext of 0-5,000
# chars with embedded newlines (null or empty on link posts); about ten
# subreddits skewed toward one. A post's text, author, subreddit and
# creation time are a pure function of (seed, id), so an id that comes back
# on a later day carries the same post with a new score, comment count and
# upvote ratio, as the upsert path expects.

SUBREDDITS = [
    "stocks", "wallstreetbets", "investing", "StockMarket", "options",
    "pennystocks", "dividends", "ETFs", "SecurityAnalysis", "Bogleheads",
]
_FINANCE = (
    "market stock stocks earnings call calls put puts rally dip moon hold "
    "bag bull bear price volume chart trend index fund yield bond rate cut "
    "hike Fed CPI inflation shares buy sell short squeeze SPY QQQ NVDA TSLA "
    "AAPL portfolio dividend ETF options strike expiry IV DD YOLO gains loss"
).split()
_FUNCTION = "the a to of and in is it I that for on you this with my be are".split()
_MARKUP = ["\n\n", "\n", ",", ".", "?", "\u2019s", "\U0001F680", "\"", "$", "%"]


def _post_vocab() -> tuple[pa.Array, np.ndarray]:
    """Token strings and a token lookup table for uniform draws: function
    words and finance terms are frequent, pseudo-words form a Zipf tail,
    markup tokens (paragraph breaks, punctuation, quotes, emoji) are rare."""
    words = _FUNCTION + _FINANCE + [w[:-2] for w in VOCAB[:3000]]
    w = np.concatenate(
        [
            np.full(len(_FUNCTION), 3.0),
            np.full(len(_FINANCE), 1.0),
            4.0 / np.arange(1, 3001) ** 0.8,
        ]
    )
    w = w / w.sum() * 0.9
    m = np.array([0.012, 0.01, 0.03, 0.025, 0.004, 0.006, 0.002, 0.006, 0.003, 0.002])
    p = np.concatenate([w, m * 0.1 / m.sum()])
    # token for each of 2**20 equal slices of [0, 1): one lookup per draw
    lookup = np.searchsorted(np.cumsum(p), (np.arange(2**20) + 0.5) / 2**20, side="right")
    return pa.array(words + _MARKUP), np.minimum(lookup, len(p) - 1)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser: a well-mixed uint64 hash, elementwise."""
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _unit(h: np.ndarray) -> np.ndarray:
    """uint64 hash -> float in [0, 1)."""
    return (h >> np.uint64(11)).astype(np.float64) * 2.0**-53


def _base36(v: np.ndarray, width: int = 7) -> pa.Array:
    digits = np.frombuffer(b"0123456789abcdefghijklmnopqrstuvwxyz", np.uint8)
    cols = [digits[(v // 36**k) % 36] for k in range(width - 1, -1, -1)]
    return pa.array(np.stack(cols, axis=1).copy().view(f"S{width}")[:, 0].astype(str))


@dataclass(frozen=True)
class DailySpec:
    warehouse_rows: int = 40_000
    day_posts: int = 1_000
    repeat_share: float = 0.30
    zipf_s: float = 1.5  # subreddit popularity ~ 1 / rank**s
    link_post_share: float = 0.2  # selftext null (half) or empty (half)
    selftext_median_words: float = 120.0  # lognormal word count of self posts
    selftext_sigma: float = 1.0


class DailyGen:
    """Reddit posts for a pre-seeded warehouse and a sequence of days.

    Ids are issued in order: the pre-seed holds ids ``[0, W)`` and day
    ``k >= 1`` issues ``day_posts - repeats`` new ids after those of day
    ``k - 1``; its ``repeats`` other ids are drawn without replacement from
    every id issued before it. So the warehouse holds exactly
    ``distinct_ids_after(k)`` rows after day ``k``, whatever the order of
    the days that were generated.
    """

    def __init__(self, seed: int, spec: DailySpec = DailySpec()):
        self.seed = seed
        self.spec = spec
        self.repeats = round(spec.day_posts * spec.repeat_share)
        self.new_per_day = spec.day_posts - self.repeats
        w = 1.0 / np.arange(1, len(SUBREDDITS) + 1) ** spec.zipf_s
        self._sub_cdf = np.cumsum(w / w.sum())
        self._tokens, self._tok_lookup = _post_vocab()
        self._salt = _mix(np.array([seed % 2**64], np.uint64))[0]

    def distinct_ids_after(self, day: int) -> int:
        return self.spec.warehouse_rows + day * self.new_per_day

    def _issue_day(self, ids: np.ndarray) -> np.ndarray:
        later = ids >= self.spec.warehouse_rows
        return np.where(later, 1 + (ids - self.spec.warehouse_rows) // self.new_per_day, 0)

    def _text(self, key: np.ndarray, counts: np.ndarray, max_chars: int) -> pa.Array:
        """Per-row text of ``counts`` tokens, each drawn by hashing (row
        key, position); clipped to ``max_chars`` code points."""
        import pyarrow.compute as pc

        offsets = np.zeros(len(counts) + 1, np.int64)
        np.cumsum(counts, out=offsets[1:])
        pos = np.arange(offsets[-1], dtype=np.uint64) - np.repeat(offsets[:-1], counts).astype(np.uint64)
        with np.errstate(over="ignore"):
            h = _mix(np.repeat(key, counts) * np.uint64(0x100000001B3) + pos)
        tok = self._tok_lookup[h >> np.uint64(44)]
        words = pa.ListArray.from_arrays(pa.array(offsets), self._tokens.take(pa.array(tok)))
        return pc.utf8_slice_codeunits(pc.binary_join(words, " "), 0, max_chars)

    def _table(self, ids: np.ndarray, g: np.random.Generator) -> pa.Table:
        """RAW posts columns for ``ids``, built column-wise in pyarrow."""
        import pyarrow.compute as pc

        s, n = self.spec, len(ids)
        key = _mix(ids.astype(np.uint64) ^ self._salt)
        u = [_unit(_mix(key + np.uint64(k))) for k in range(6)]
        sid = _base36(36**6 + (self._salt % np.uint64(10**9)).astype(np.int64) + ids * 37)
        sub = pa.array(np.array(SUBREDDITS)[np.searchsorted(self._sub_cdf, u[0], side="right")])
        title_words = 3 + (u[1] * 18).astype(np.int64)
        link = u[2] < s.link_post_share
        z = np.sqrt(-2 * np.log1p(-u[3])) * np.cos(2 * np.pi * u[4])
        body_words = np.where(link, 0, np.clip(np.exp(np.log(s.selftext_median_words) + s.selftext_sigma * z), 1, 1_200))
        body_words = body_words.astype(np.int64)
        selftext = self._text(key ^ np.uint64(0xA5A5A5A5), body_words, 5_000)
        issued = self._issue_day(ids)
        created = np.where(issued == 0, BASE_EPOCH - 7 * DAY_S, BASE_EPOCH + issued * DAY_S)
        created = created + (u[5] * np.where(issued == 0, 8, 1) * DAY_S).astype(np.int64)
        null = g.random((n, 3))
        author_no = (key % np.uint64(50_000)).astype(np.int64)
        return pa.table(
            {
                "id": sid,
                "title": self._text(key, title_words, 120),
                "score": pa.array(np.minimum(g.zipf(1.6, n) - 1, 20_000), mask=null[:, 0] < 0.05),
                "num_comments": pa.array(np.minimum(g.zipf(1.8, n) - 1, 5_000), mask=null[:, 1] < 0.05),
                "author": pc.binary_join_element_wise(
                    "user_",
                    pa.array(author_no, mask=(key % np.uint64(100)) < 3).cast(pa.string()),
                    "",
                ),
                "created_utc": pa.array(created.astype(float)),
                "url": pc.binary_join_element_wise("https://www.reddit.com/r/", sub, "/comments/", sid, ""),
                "upvote_ratio": pa.array(np.round(0.5 + g.random(n) / 2, 2), mask=null[:, 2] < 0.03),
                "over_18": pa.array(np.where((key >> np.uint64(20)) % np.uint64(100) < 5, "True", "False")),
                "spoiler": pa.array(np.where((key >> np.uint64(30)) % np.uint64(100) < 5, "True", "False")),
                "stickied": pa.array(np.where((key >> np.uint64(40)) % np.uint64(100) < 5, "True", "False")),
                "selftext": pc.if_else(
                    pa.array(link & (u[2] < s.link_post_share / 2)), pa.scalar(None, pa.string()), selftext
                ),
                "subreddit": sub,
            }
        )

    def preseed(self) -> pa.Table:
        """The warehouse's starting rows (day 0) as RAW posts columns."""
        return self._table(np.arange(self.spec.warehouse_rows), rng(self.seed, 1, 0))

    def day(self, k: int) -> list[dict]:
        """Posts fetched on day ``k >= 1``, as the fetcher's row dicts."""
        if k < 1:
            raise ValueError("days start at 1; day 0 is the pre-seed")
        g = rng(self.seed, 1, k)
        start = self.distinct_ids_after(k - 1)
        new = np.arange(start, start + self.new_per_day)
        old = g.choice(start, self.repeats, replace=False)
        ids = g.permutation(np.concatenate([new, old]))
        return self._table(ids, g).to_pylist()

    def properties(self, sample: pa.Table | None = None) -> dict:
        """Stated shape, plus what the pre-seed sample measures: bytes of
        text per post, selftext length, newline and subreddit shares."""
        import pyarrow.compute as pc

        t = sample if sample is not None else self.preseed()
        body = pc.fill_null(t["selftext"], "")
        body_len = pc.utf8_length(body).to_numpy()
        subs = pc.value_counts(t["subreddit"]).to_pylist()
        top = max(subs, key=lambda d: d["counts"])
        return {
            "warehouse_rows": self.spec.warehouse_rows,
            "day_posts": self.spec.day_posts,
            "id_overlap_share": self.repeats / self.spec.day_posts,
            "subreddits": len(subs),
            "top_subreddit": top["values"],
            "top_subreddit_share": round(top["counts"] / t.num_rows, 4),
            "title_chars_min_max": [
                int(pc.min(pc.utf8_length(t["title"])).as_py()),
                int(pc.max(pc.utf8_length(t["title"])).as_py()),
            ],
            "selftext_chars_mean": round(float(body_len.mean()), 1),
            "selftext_chars_p50_p99_max": [
                int(np.percentile(body_len, 50)),
                int(np.percentile(body_len, 99)),
                int(body_len.max()),
            ],
            "selftext_empty_or_null_share": round(float((body_len == 0).mean()), 4),
            "selftext_with_newline_share": round(
                float(pc.mean(pc.cast(pc.match_substring(body, "\n"), pa.int8())).as_py()), 4
            ),
            "raw_text_bytes_per_post": round(
                sum(pc.sum(pc.binary_length(c)).as_py() or 0 for c in (t["title"], body)) / t.num_rows, 1
            ),
        }


# ------------------------------------------------ curate_stream: the shard

_VOCAB_SIZE = 6_000
_EN_STOP = ["the", "and", "of", "to", "in", "is"]


def _vocab() -> list[str]:
    """Alphabetic pseudo-words, all distinct (base-26 spellings)."""
    out = []
    for i in range(_VOCAB_SIZE):
        s, n = "", i + 26 * 26
        while n:
            n, r = divmod(n, 26)
            s = chr(97 + r) + s
        out.append(s + "on")
    return out


VOCAB = _vocab()


def normalize_text(text: str) -> str:
    """The exact-dedup normalisation: trim spaces, lowercase, collapse
    whitespace (mirrors ``functions.text.fingerprint``)."""
    return re.sub(r"\s+", " ", text.strip(" ").lower())


@dataclass(frozen=True)
class ShardSpec:
    docs: int = 1_000
    exact_dup_share: float = 0.15  # docs that are exact copies of another
    chains: int = 15
    chain_depth: int = 12  # docs per near-duplicate chain
    low_quality_share: float = 0.08
    pii_share: float = 0.10
    doc_tokens: int = 60


class ShardGen:
    """A document shard for ``curate_corpus``.

    A shard holds (in shuffled doc_id order): clean singleton documents;
    near-duplicate chains, where member ``i + 1`` replaces one more
    content token of the chain's base document, so token-set Jaccard
    between members ``k`` apart is ``(T - k) / (T + k)`` and only members
    at most 3 apart clear the 0.9 threshold — connected components must
    propagate labels across ``chain_depth / 3`` hops; low-quality
    documents (digits and punctuation); and exact copies (case and
    spacing variants) of earlier documents. PII tokens (emails, phones)
    ride inside some clean documents.
    """

    def __init__(self, seed: int, spec: ShardSpec = ShardSpec()):
        self.seed, self.spec = seed, spec
        g = rng(seed, 2)
        s = spec
        n_copies = round(s.docs * s.exact_dup_share)
        n_low = round(s.docs * s.low_quality_share)
        n_chain = s.chains * s.chain_depth
        n_single = s.docs - n_copies - n_low - n_chain
        if n_single < 1:
            raise ValueError("shard too small for its chains and copies")
        content = s.doc_tokens - len(_EN_STOP)
        texts: list[str] = []

        def clean_tokens() -> list[str]:
            return [VOCAB[i] for i in g.choice(_VOCAB_SIZE, content, replace=False)]

        def render(toks: list[str]) -> str:
            words = _EN_STOP + toks
            if g.random() < s.pii_share:
                j = int(g.integers(0, 1_000_000))
                words = words + [f"user{j}@example.com", f"555-{j % 1000:03d}-{j % 10000:04d}"]
            order = g.permutation(len(words))
            return " ".join(words[i] for i in order)

        for _ in range(n_single):
            texts.append(render(clean_tokens()))
        for _ in range(s.chains):
            base = clean_tokens()
            slots = g.choice(content, s.chain_depth - 1, replace=False)
            fresh = g.choice(_VOCAB_SIZE, s.chain_depth - 1, replace=False)
            toks = list(base)
            words = _EN_STOP + toks
            order = g.permutation(len(words))
            for step in range(s.chain_depth):
                if step:
                    toks[slots[step - 1]] = f"{VOCAB[fresh[step - 1]]}x"
                words = _EN_STOP + toks
                texts.append(" ".join(words[i] for i in order))
        for _ in range(n_low):
            nums = g.integers(0, 10_000, 40)
            texts.append(" ".join(f"{v}!?#" for v in nums))
        originals = len(texts)
        for src in g.choice(originals, n_copies, replace=True):
            t = texts[int(src)]
            texts.append(t.upper() if g.random() < 0.5 else t.replace(" ", "  ", 3))
        perm = g.permutation(len(texts))
        self.texts = [texts[i] for i in perm]
        self.doc_ids = np.arange(len(texts)).tolist()
        self.expected_exact = len({normalize_text(t) for t in self.texts})
        self.expected_neardup = self.expected_exact - s.chains * (s.chain_depth - 1)

    def table(self) -> pa.Table:
        return pa.table(
            {
                "doc_id": pa.array(self.doc_ids, pa.int64()),
                "text": pa.array(self.texts, pa.string()),
            }
        )

    def properties(self) -> dict:
        n = len(self.texts)
        return {
            "docs": n,
            "exact_dup_share": round(1 - self.expected_exact / n, 4),
            "neardup_chain_depth": self.spec.chain_depth,
            "neardup_chains": self.spec.chains,
            "after_exact_dedup": self.expected_exact,
            "after_neardup": self.expected_neardup,
        }


# ----------------------------------------------- curate_stream: the events

EVENT_TYPES = ["view", "click", "cart", "purchase", "signup", "error"]
_EVENT_P = np.array([0.45, 0.25, 0.12, 0.08, 0.05, 0.05])


@dataclass(frozen=True)
class StreamSpec:
    events: int = 20_000
    users: int = 2_000


class StreamGen:
    """The ``events`` table the hourly-counts twin streams, in the layout
    ``plans.star.load`` expects (``<dir>/events.parquet``), with
    seed-permuted event ids, Zipf users and two days of timestamps."""

    def __init__(self, seed: int, spec: StreamSpec = StreamSpec()):
        self.seed, self.spec = seed, spec

    def events(self) -> pa.Table:
        s, g = self.spec, rng(self.seed, 3, 0)
        ts = np.sort(g.integers(0, 2 * DAY_S * 1_000_000, s.events))
        ts = (BASE_EPOCH - 400 * DAY_S) * 1_000_000 + ts
        return pa.table(
            {
                "event_id": pa.array(g.permutation(s.events), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(g.zipf(1.3, s.events) % s.users, pa.int64()),
                "event_type": pa.array(
                    [EVENT_TYPES[i] for i in g.choice(len(EVENT_TYPES), s.events, p=_EVENT_P)]
                ),
                "value": pa.array(np.round(g.random(s.events) * 200, 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, s.events)]),
            }
        )

    def properties(self, events: pa.Table) -> dict:
        # the hourly twin streams every event in one data micro-batch
        return {"events_rows": events.num_rows, "rows_per_microbatch": events.num_rows}
