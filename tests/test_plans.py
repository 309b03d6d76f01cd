"""Physical-plan regression tests: the properties that make these queries
scale (predicate pushdown to the parquet scan, column pruning, broadcast
joins for dims, top-K as TakeOrderedAndProject) must survive refactors.
`.explain("formatted")` is the contract — see SURVEY.md §4.2."""

import contextlib
import io
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reddit_etl_pipeline_spark.plans import star as Q  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_summary_pushdown_and_partial_agg(spark, sf_dir):
    p = plan_of(Q.pricing_summary(spark, sf_dir))
    assert "LessThanOrEqual(l_shipdate" in p  # filter reached the scan
    assert "l_comment" not in p  # column pruning
    assert p.count("HashAggregate") >= 2  # partial + final


def test_topk_is_take_ordered(spark, sf_dir):
    p = plan_of(Q.topk_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p or "rangepartitioning" not in p  # no full sort


def test_staging_projection_prunes_scan(spark, sf_dir):
    p = plan_of(Q.staging_projection(spark, sf_dir))
    assert "o_orderpriority" not in p and "o_orderstatus" not in p


def test_revenue_by_nation_broadcasts_dims(spark, sf_dir):
    p = plan_of(Q.revenue_by_nation(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_anti_join_pushes_value_filter(spark, sf_dir):
    p = plan_of(Q.market_share_projection(spark, sf_dir))
    assert "GreaterThan(o_totalprice" in p
    assert "LeftAnti" in p


def test_range_join_is_equi_not_bnl(spark, sf_dir):
    """The time-bucket rewrite must plan as an equi-join (hash/sort-merge),
    never BroadcastNestedLoop/Cartesian."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["purchase_clicks_window"](spark, sf_dir))
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p


def test_asof_join_single_key_shuffle(spark, sf_dir):
    """As-of join: the union+window formulation shuffles on the key, with
    no join-shaped candidate blowup in the plan."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["purchase_asof_click"](spark, sf_dir))
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p
    assert "Window" in p


# The ONLY queries allowed a non-equi join shape:
# - embedding_neardup: documented O(n^2) oracle baseline for the LSH
#   variant, gated by max_rows in embedding_neardup_exact
# - cosine_topk: corpus x broadcast(queries) cross product is the exact
#   brute-force contract — linear in corpus (the nested side is the tiny
#   broadcast query set), shuffle-free until the post-prune top-k window
BNL_ALLOWED = {
    "embedding_neardup",
    "cosine_topk",
    # nb_lang_confusion: its two cross joins (vocab x label totals,
    # docs x priors) both have a label-cardinality nested side (a fixed
    # vocabulary, like nation), not sf-proportional;
    # test_nb_confusion_only_bounded_crosses pins that no third one creeps in.
    "nb_lang_confusion",
    # nb_lang_auc: ranks the same nb_scores table, so it inherits the
    # identical label-cardinality docs x priors cross — nothing new.
    "nb_lang_auc",
    # knn_label_confusion: composes cosine_topk_bruteforce (the declared
    # exact baseline above), gated by max_queries; the IVF/LSH top-k is
    # the scale path for the same vote/argmax composition.
    "knn_label_confusion",
    # hybrid_doc_search: its semantic leg composes cosine_topk_bruteforce
    # (same declared exact baseline, 5 gated queries); the RRF fusion is
    # system-agnostic — swap in cosine_topk_lsh/ivf for the scale path.
    "hybrid_doc_search",
}

# Streaming entries execute the stream when called (run_stream_to_batch /
# foreachBatch), so their "plan" is just the sink read-back — nothing to
# sweep, and executing them here would re-run every stream per sweep.


# Queries whose CONSTRUCTION executes Spark jobs (iterative driver loops
# — CC/pagerank/kcore/Lloyd/BPE — and persisted-store builds): building
# their DataFrame runs a chunk of the workload, which made one monolithic
# sweep the single most expensive test in the suite (165 s of the
# round-10 profile). The default sweep covers every lazily-built query;
# the eager builders get the same check under the slow profile (the
# split keeps the driver's default pytest run inside its budget —
# round-10 verdict item 1).
_EAGER_BUILD_PREFIXES = (
    "part_", "ann_store_", "sketch_store_", "neardup_store_",
)
_EAGER_BUILD = {
    "supplier_pagerank", "kmeans_cluster_stats", "kmeans_silhouette",
    "semantic_dedup_learned", "bpe_vocab_stats", "bpe_token_stats",
    "neardup_clusters", "neardup_canonical", "neardup_canonical_minhash",
    "curated_corpus", "curation_funnel", "leakage_safe_split",
    "rollup_store_revenue", "incremental_dedup", "vocab_oov_stats",
    "domain_rollup", "domain_capped_docs",
}


def _eager_build(name: str) -> bool:
    return name in _EAGER_BUILD or name.startswith(_EAGER_BUILD_PREFIXES)


def _sweep_bnl(spark, sf_dir, names) -> None:
    import __spark_entry__ as E

    qs = E.queries()
    offenders = {}
    for name in names:
        p = plan_of(qs[name](spark, sf_dir))
        bad = [
            marker
            for marker in ("BroadcastNestedLoop", "CartesianProduct")
            if marker in p
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"non-equi join shapes in: {offenders}"


def test_every_query_plan_is_bnl_free(spark, sf_dir):
    """Sweep the lazily-built driver surface: no query may plan a
    BroadcastNestedLoopJoin or CartesianProduct unless it is a declared
    all-pairs baseline. Catches accidental non-equi joins on new operators
    before they become 100x-scale cliffs."""
    import __spark_entry__ as E

    _sweep_bnl(
        spark, sf_dir,
        [
            n for n in E.queries()
            if not n.startswith("stream_")
            and n not in BNL_ALLOWED
            and not _eager_build(n)
        ],
    )


@pytest.mark.slow
def test_eager_build_query_plans_are_bnl_free(spark, sf_dir):
    """The same BNL/cartesian sweep over the queries whose construction
    executes Spark jobs (store builds, iterative loops) — the expensive
    half of the old monolithic sweep, slow-profile-gated."""
    import __spark_entry__ as E

    _sweep_bnl(
        spark, sf_dir,
        [
            n for n in E.queries()
            if not n.startswith("stream_")
            and n not in BNL_ALLOWED
            and _eager_build(n)
        ],
    )


def test_shipping_priority_pushdown_topk(spark, sf_dir):
    p = plan_of(Q.shipping_priority(spark, sf_dir))
    # both date filters and the segment filter reach their parquet scans
    assert "GreaterThan(l_shipdate" in p
    assert "LessThan(o_orderdate" in p
    assert "EqualTo(c_mktsegment,BUILDING)" in p
    assert "TakeOrderedAndProject" in p


def test_pit_join_is_equi_with_range_residual(spark, sf_dir):
    """The point-in-time state join must plan as a hash/sort-merge join
    on the user_id equi key with the interval-containment bounds as
    residual conditions — never a BNL (the leakage-free feature lookup
    must survive 100 TB event tables)."""
    p = plan_of(Q.purchase_state_pit(spark, sf_dir))
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p
    # the purchase filter reaches the scan
    assert "EqualTo(event_type,purchase)" in p


def test_late_shipment_semi_join_residual(spark, sf_dir):
    """EXISTS plans as a left-semi hash/sort-merge join on the equi key;
    the 90-day comparison rides as a residual condition, never a BNL."""
    p = plan_of(Q.late_shipment_priority(spark, sf_dir))
    assert "LeftSemi" in p
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p
    assert "GreaterThanOrEqual(o_orderdate" in p  # range filter at the scan


def test_spend_deciles_window_is_partitioned(spark, sf_dir):
    """The NTILE window must partition by nation — a global (unpartitioned)
    window would serialize the corpus through a single task."""
    p = plan_of(Q.spend_deciles_by_nation(spark, sf_dir))
    assert "Window" in p
    # hashpartitioning on the nation name (not SinglePartition) feeds the sort
    assert "SinglePartition" not in p.split("Window")[0].splitlines()[-1]
    assert "n_name" in p


def test_top_value_parts_scans_lineitem_once(spark, sf_dir):
    """The global-total-as-driver-scalar rewrite: exactly ONE lineitem
    scan (the scalar-subquery SQL form measured three)."""
    p = plan_of(Q.top_value_parts(spark, sf_dir))
    assert p.count("lineitem.parquet") <= 1
    assert "Subquery" not in p


def test_idle_customer_balance_anti_join_with_pushed_recency(spark, sf_dir):
    p = plan_of(Q.idle_customer_balance(spark, sf_dir))
    assert "LeftAnti" in p
    assert "GreaterThanOrEqual(o_orderdate" in p  # recency reached the scan
    assert "GreaterThan(c_acctbal" in p  # driver scalar reached the scan


def test_disjunctive_predicate_splits_to_both_scans(spark, sf_dir):
    p = plan_of(Q.disjunctive_promo_revenue(spark, sf_dir))
    # quantity bands pushed to the lineitem scan, brand/size to part
    assert "l_quantity,1.0" in p or "GreaterThanOrEqual(l_quantity,1.0" in p
    assert "EqualTo(p_brand,Brand#12)" in p
    assert "BroadcastNestedLoop" not in p


def test_no_forced_broadcast_of_sf_proportional_tables():
    """Broadcast hints in the star plans may target only bounded dims
    (nation: 25 rows, region: 5 rows). customer/part/supplier/orders/
    lineitem/events/documents/embeddings all grow with sf — a forced
    F.broadcast() on any of them overrides Spark's size check and becomes
    a driver OOM at 100x scale (seen: returned_items_report 11.2x at 10x
    with a forced customer broadcast). AQE picks broadcast-vs-shuffle by
    measured size for those; the hint must not."""
    import re

    src = open(
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "reddit_etl_pipeline_spark",
            "plans",
            "star.py",
        )
    ).read()
    targets = re.findall(r"F\.broadcast\((\w+)", src)
    assert targets, "expected broadcast hints on bounded dims to remain"
    # n1/n2 are nation_trade_volume's filtered projections of nation;
    # reg/local_nations are local_supplier_volume's region-filtered
    # region (1 row) and nation⋈region members (<= 25 rows) — bounded;
    # stats is daily_count_anomalies' per-event_type sum table (|types|
    # rows — type cardinality, not sf)
    bad = [
        t
        for t in targets
        if t
        not in {"nation", "region", "n1", "n2", "reg", "local_nations", "stats"}
    ]
    assert not bad, f"forced broadcast of sf-proportional tables: {bad}"


def test_customer_join_not_forced_broadcast(spark, sf_dir):
    """With the auto-broadcast threshold disabled, the customer join must
    fall back to a shuffle join — proving no F.broadcast hint forces it."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for q in (
            Q.revenue_by_nation,
            Q.top_customers_per_nation,
            Q.spend_deciles_by_nation,
            Q.returned_items_report,
            Q.large_order_customers,
        ):
            p = plan_of(q(spark, sf_dir))
            # nation/region hints still force their (bounded) broadcasts;
            # the customer side must not appear as a broadcast build.
            for line in p.splitlines():
                if "BroadcastExchange" in line or "BroadcastHashJoin" in line:
                    continue
            # the plan must contain at least one non-broadcast join now
            assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, (
                f"{q.__name__}: all joins still broadcast with threshold=-1 "
                "=> a hint is forcing an sf-proportional table"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_min_cost_supplier_decorrelated_single_scan(spark, sf_dir):
    """The Q2 correlated-min shape must decorrelate to one lineitem scan
    + a partitioned window min (no self-join rescans, no BNL) and a
    TakeOrderedAndProject top-k."""
    p = plan_of(Q.min_cost_supplier(spark, sf_dir))
    assert p.count("lineitem.parquet") == 1
    assert "Window" in p and "SinglePartition" not in p
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p
    # the partkey repartition must serve BOTH the composite-key agg and
    # the window: exactly ONE shuffle Exchange in the whole plan (the
    # rest are broadcast exchanges for the dim joins)
    import re

    shuffle_nodes = re.findall(r"^\(\d+\) Exchange", p, flags=re.MULTILINE)
    assert len(shuffle_nodes) == 1, p
    assert "hashpartitioning(l_partkey" in p


def test_nation_trade_volume_pushes_nation_filter(spark, sf_dir):
    """The Q7 two-sided dim shape: the nation pair filter must prune
    each bounded dim side at its scan, never ride as a post-join filter
    over the fact."""
    p = plan_of(Q.nation_trade_volume(spark, sf_dir))
    assert "In(n_name" in p or "EqualTo(n_name" in p
    assert p.count("lineitem.parquet") == 1
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p


def test_bigram_pmi_codegen_no_window(spark, sf_dir):
    """Bigram extraction must be the arrays_zip/slice codegen form: no
    per-doc window shuffle, no interpreted array-lambda HOFs in the
    explode path, top-k as TakeOrderedAndProject."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["bigram_pmi"](spark, sf_dir))
    assert "Window" not in p
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p


def test_no_interpreted_hof_outside_oracle_baseline():
    """Catalyst higher-order-function lambdas (F.aggregate / F.zip_with)
    are interpreted per-element — banned from corpus-scale numeric hot
    paths (CLAUDE.md). In similarity.py the ONLY functions allowed to
    carry them are _dot/_norm, the documented left-to-right-summation
    helpers for the gated O(n^2) oracle baseline. Everything else must
    score via Arrow numpy. Guards against wiring an interpreted rerank
    (like the deleted hyperplane_bucket) back in."""
    import ast

    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "reddit_etl_pipeline_spark",
    )
    # Allowed carriers of interpreted HOFs, all documented non-hot-path:
    # similarity._dot/_norm = the gated O(n^2) oracle baseline's
    # left-to-right summation; dedup.shingles/simhash = column-level
    # composition variants whose corpus-scale twins (minhash_signatures,
    # simhash_fingerprints) are codegen; dedup._distinct_tokens and the
    # tokenizers use F.filter on a split array (per-token predicate, not
    # per-pair numeric work).
    allowed = {
        ("similarity.py", "_dot"),
        ("similarity.py", "_norm"),
        ("dedup.py", "shingles"),
        ("dedup.py", "simhash"),
    }
    offenders = []
    for rel in [
        os.path.join("operators", "similarity.py"),
        os.path.join("operators", "dedup.py"),
        os.path.join("streaming", "stream.py"),
    ]:
        path = os.path.join(base, rel)
        fname = os.path.basename(rel)
        tree = ast.parse(open(path).read())
        for fn in [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]:
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in {"aggregate", "zip_with", "transform"}
                ):
                    if (fname, fn.name) not in allowed:
                        offenders.append(f"{fname}:{fn.name}: F.{node.func.attr}")
    assert not offenders, f"interpreted HOF outside oracle baseline: {offenders}"
    sim_src = open(os.path.join(base, "operators", "similarity.py")).read()
    assert "hyperplane_bucket" not in sim_src


def test_small_quantity_revenue_reuses_agg_partitioning(spark, sf_dir):
    """The per-part threshold joins on the aggregate's own key: the join
    must be hash-based with no extra Exchange between agg and join on
    the threshold side beyond the single keyed shuffle."""
    p = plan_of(Q.small_quantity_revenue(spark, sf_dir))
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p
    # part dim broadcasts
    assert "BroadcastHashJoin" in p


def test_market_share_pushes_type_filter_and_decimal_sums(spark, sf_dir):
    """Q8 shape: p_type equality must reach the part scan; the share
    split must ride one aggregate (partial+final), not two joins."""
    p = plan_of(Q.market_share(spark, sf_dir))
    assert "EqualTo(p_type,PROMO)" in p
    assert p.count("HashAggregate") >= 2
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p


def test_product_profit_prunes_part_and_single_agg(spark, sf_dir):
    """Q9 shape: the name-fragment filter prunes part before the fact
    join; unused wide columns never reach any scan."""
    p = plan_of(Q.product_profit(spark, sf_dir))
    assert "StringContains(p_name,gear)" in p
    assert "l_returnflag" not in p and "o_orderpriority" not in p
    assert p.count("HashAggregate") >= 2


def test_forecast_revenue_all_filters_reach_scan(spark, sf_dir):
    """Q6 shape: every predicate must appear in PushedFilters — this is
    the canonical pushdown probe; a regression here means stats-based
    row-group pruning is lost at scale."""
    p = plan_of(Q.forecast_revenue(spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_shipdate" in p
    assert "GreaterThanOrEqual(l_discount,0.05)" in p
    assert "LessThan(l_quantity,24" in p
    assert "Exchange" in p  # single-row global agg partial merge only
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_supplier_part_variety_anti_join_and_pair_dedup(spark, sf_dir):
    """Q16 shape: complaints NOT IN plans as an anti-join (AQE sizes the
    build side — no forced hint, the list is sf-proportional); the brand
    exclusion pushes to the part scan."""
    p = plan_of(Q.supplier_part_variety(spark, sf_dir))
    assert "LeftAnti" in p
    assert "Not(EqualTo(p_brand,Brand#1))" in p
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p


def test_nb_confusion_only_bounded_crosses(spark, sf_dir):
    """The NB pipeline's ONLY non-equi joins are the two label-bounded
    grids (vocab x label totals in train, docs x priors in predict) —
    both have a fixed-vocabulary nested side, so they're linear in the
    big side. A third one means an accidental all-pairs crept in."""
    import re

    import __spark_entry__ as E

    p = plan_of(E.queries()["nb_lang_confusion"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 2
    assert "CartesianProduct" not in p


def test_local_supplier_volume_equi_locality_no_bnl(spark, sf_dir):
    """Q5 shape: the c_nationkey = s_nationkey locality predicate must
    ride the supplier join as an EQUI key (composite hash join), the
    region filter prunes before any fact, and the date range reaches
    the orders scan."""
    p = plan_of(Q.local_supplier_volume(spark, sf_dir))
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p
    assert "EqualTo(r_name,ASIA)" in p
    assert "GreaterThanOrEqual(o_orderdate" in p
    # locality key is part of a hash-join key list, not a post-join filter
    assert "c_nationkey" in p


def test_ship_latency_priority_pushdown_and_prune(spark, sf_dir):
    """Q12 shape: the ship-year range reaches the lineitem scan and only
    the three needed orders columns are read."""
    p = plan_of(Q.ship_latency_priority(spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_shipdate" in p
    assert "o_totalprice" not in p  # orders scan pruned
    assert p.count("HashAggregate") >= 2  # partial+final CASE sums


def test_top_supplier_scans_lineitem_once(spark, sf_dir):
    """Q15 shape: the max-revenue scalar is a driver literal over the
    checkpointed supplier-grain aggregate — exactly ONE lineitem scan
    (the view-referenced-twice SQL form rescans per reference)."""
    p = plan_of(Q.top_supplier(spark, sf_dir))
    assert p.count("lineitem.parquet") <= 1
    assert "Subquery" not in p


def test_lm_buckets_window_partitioned_by_lang(spark, sf_dir):
    """The tercile NTILE must partition by language — an unpartitioned
    window would serialize the scored corpus through one task (the
    production path uses sampled cutoffs; the exact rollup must still
    be per-lang parallel)."""
    import __spark_entry__ as E

    df = E.queries()["lm_perplexity_buckets"](spark, sf_dir)
    p = plan_of(df)
    assert "Window" in p
    assert "SinglePartition" not in p


def test_token_budget_sample_two_phase_no_serial_window(spark, sf_dir):
    """Budget selection is the two-phase cumsum: the data-volume window
    partitions by (group, bucket) — groups x 64 parallelism — and the
    only group-wide window runs over the TINY per-bucket offset table.
    Never a SinglePartition sort, never a per-group window over the
    corpus (which would serialize each language through one task)."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["token_budget_sample"](spark, sf_dir))
    assert "SinglePartition" not in p
    # both windows present: tiny per-bucket offsets + per-(group,bucket)
    windows = [
        l for l in p.splitlines() if l.startswith("(") and "Window" in l
    ]
    assert len(windows) == 2, p
    # the corpus-volume window must include the bucket in its partition key
    assert "_bkt" in p
    # offsets side broadcasts into the probe (no shuffle of the corpus
    # for the offset join)
    assert "BroadcastHashJoin" in p


def test_rfm_segments_two_phase_no_serial_window(spark, sf_dir):
    """RFM quartile ranks are the two-phase bucketed rank: all three
    row_number windows partition by the axis bucket (never the
    whole-customer-dim global sort the round-8 shape had), offsets
    broadcast back as tiny literal frames, and no stage funnels the
    customer dimension through one task."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["rfm_segments"](spark, sf_dir))
    assert "SinglePartition" not in p, p
    windows = [
        l for l in p.splitlines() if l.startswith("(") and "Window" in l
    ]
    assert len(windows) == 3, p  # one bucket-partitioned window per axis
    assert "_bkt" in p  # windows carry the bucket partition key
    assert "BroadcastHashJoin" in p  # offset tables broadcast in
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p


def test_media_decode_stats_is_map_only(spark, sf_dir):
    """The real-codec decode path must never shuffle blobs: zero
    Exchanges — one scan feeding one Arrow mapInPandas."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["media_decode_stats"](spark, sf_dir))
    assert "Exchange" not in p, p
    assert "MapInPandas" in p


def test_cdc_chunk_stats_no_chunk_text_in_exchanges(spark, sf_dir):
    """cdc_chunk_stats hashes and measures chunks BEFORE the group join,
    so every Exchange carries only (id, hash, len) — chunk STRINGS must
    never shuffle (at corpus scale the chunk table is the text itself).
    Each formatted-plan Exchange detail block lists its input columns;
    none may include the chunk column."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["cdc_chunk_stats"](spark, sf_dir))
    assert "MapInPandas" in p
    blocks = p.split("\n\n")
    exchanges = [
        b for b in blocks
        if b.strip().splitlines()
        and b.strip().splitlines()[0].lstrip("(0123456789) ").startswith("Exchange")
    ]
    assert exchanges, p  # the rollup does shuffle (hash, len) rows
    for b in exchanges:
        assert "chunk#" not in b, b


def test_cms_sketch_bounded_and_topk_take_ordered(spark, sf_dir):
    """The CMS probe must broadcast the 4096-row sketch (never shuffle
    the candidate side against it), and the exact top-n cut must be
    TakeOrderedAndProject, not a global-window sort."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["cms_heavy_hitters"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "Window" not in p


def test_bloom_probe_broadcasts_filter_and_banned_set(spark, sf_dir):
    """Both the bloom word table and the exact banned-fingerprint set are
    broadcast build sides — the corpus side never shuffles for either
    join (the whole point of the runtime-filter pattern)."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["bloom_contamination_stats"](spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_fuzzy_resolve_blocking_is_equi_join(spark, sf_dir):
    import __spark_entry__ as E

    p = plan_of(E.queries()["fuzzy_resolve_customers"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_triangles_all_hash_joins_no_bnl(spark, sf_dir):
    """Wedge build and closure are equi hash joins on node keys; the
    checkpointed edge set must appear (no recompute of the normalize/
    orient lineage per branch)."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["part_triangles"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Scan ExistingRDD" in p  # the localCheckpointed edges


def test_bm25_broadcasts_query_terms_no_bnl(spark, sf_dir):
    """The posting-table join must probe a BROADCAST query-term side (the
    corpus side never shuffles for it) and stay all equi hash joins."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["bm25_doc_search"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_basket_rules_take_ordered_no_cartesian(spark, sf_dir):
    """The top-n cut must be TakeOrderedAndProject (per-partition heaps,
    not a global window sort); all joins equi (basket self-join on bid,
    support joins on item keys)."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["basket_rules_parts"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_hll_overlap_bnl_only_on_type_pairs(spark, sf_dir):
    """hll_user_overlap's only non-equi join is the type-pair cross
    (|types|² rows — bounded by the GROUP cardinality, never data);
    the register and estimate joins stay equi."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["hll_user_overlap"](spark, sf_dir))
    assert "CartesianProduct" not in p
    # the type-pair inequality cross is checkpoint-materialized before
    # its two register joins, so no BNL survives in the final plan
    assert "BroadcastNestedLoopJoin" not in p


def test_triangle_estimate_sampling_pushed_to_filter(spark, sf_dir):
    """The DOULION sampling predicate must run as a plain Filter over
    the materialized edge set (map-side; no join, no shuffle to
    sample), and the closing join stays a hash join."""
    from reddit_etl_pipeline_spark.operators.graph import triangle_estimate
    import __spark_entry__ as E

    df = triangle_estimate(
        E._copurchase_edges(spark, sf_dir), sample_num=1, sample_den=4
    )
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_graph_queries_read_store_not_lineitem(spark, sf_dir):
    """The re-pointed part_* graph queries must answer from the
    persisted graph store: the plan scans the store's edge/degree
    parquet and NEVER lineitem — the round-9 measured scale-killer was
    exactly the per-query lineitem self-join + edge distinct."""
    import __spark_entry__ as E

    # link_prediction and degree_hist keep their full lineage (no
    # terminal checkpoint), so the store scan is visible in the final
    # plan; the iterative peels (kcore/LPA/CC) cut lineage per round —
    # their store-read equality is pinned in tests/test_graph_store.py
    for name in ("part_degree_hist", "part_link_prediction"):
        p = plan_of(E.queries()[name](spark, sf_dir))
        assert "lineitem" not in p, f"{name} still scans lineitem"
        assert "graph_store_" in p, f"{name} does not read the store"
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p


def test_degree_hist_reads_degree_partials_only(spark, sf_dir):
    """part_degree_hist must not even touch the EDGE relation — the
    store's additive degree partials alone answer it."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["part_degree_hist"](spark, sf_dir))
    assert "degrees" in p and "/edges" not in p


def test_ann_store_probe_prunes_to_probed_cells(spark, sf_dir, embeddings):
    """store_topk must read ONLY the probed inverted lists: the scan of
    the (batch_id, cid)-partitioned partials carries a PartitionFilters
    entry on cid (planning-time pruning), never a full-store scan."""
    from pyspark.sql import functions as F

    from reddit_etl_pipeline_spark.operators import ann_store as A
    from reddit_etl_pipeline_spark.streaming.bounded import scratch_dir

    store = scratch_dir("ann_prune_")
    A.build_ann_store(embeddings, store)
    df = A.store_topk(
        spark, store, embeddings, embeddings.filter(F.col("vec_id") < 5), k=5
    )
    p = plan_of(df)
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*cid[^\]]*(IN|in)[^\]]*\]", p)
    assert m, "no cid partition filter in the store scan"
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_pq_store_probe_prunes_to_probed_cells(spark, sf_dir, embeddings):
    """store_pq_topk must read ONLY the probed inverted lists' code
    partials: the scan of the (batch_id, cid)-partitioned pq_codes
    carries a PartitionFilters entry on cid, never a full-store scan —
    and the codes path stays BNL-free."""
    import re

    from pyspark.sql import functions as F

    from reddit_etl_pipeline_spark.operators import ann_store as A
    from reddit_etl_pipeline_spark.streaming.bounded import scratch_dir

    store = scratch_dir("pq_prune_")
    A.build_pq_store(embeddings, store)
    df = A.store_pq_topk(
        spark, store, embeddings, embeddings.filter(F.col("vec_id") < 5), k=5
    )
    p = plan_of(df)
    m = re.search(r"PartitionFilters: \[[^\]]*cid[^\]]*(IN|in)[^\]]*\]", p)
    assert m, "no cid partition filter in the pq store scan"
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_minhash_tail_broadcast_policy_is_source_independent(
    spark, sf_dir, documents
):
    """The banding/verification tail must make the SAME (explicit,
    metadata-driven) broadcast decision whether signatures come from an
    inline signing pass or the persisted store — Catalyst's LogicalRDD
    estimate differs wildly between the two sources (the round-10 4x
    regression), so the plans are pinned broadcast-for-small on BOTH
    paths: no SortMergeJoin anywhere in the tail at fixture scale."""
    from reddit_etl_pipeline_spark.operators import dedup as D
    from reddit_etl_pipeline_spark.operators import neardup_store as NS
    from reddit_etl_pipeline_spark.streaming.bounded import scratch_dir

    store = scratch_dir("nd_bc_")
    NS.build_store(documents, store)
    p_store = plan_of(NS.store_pairs(spark, store, threshold=0.7))
    p_inline = plan_of(D.minhash_neardup_pairs(documents, threshold=0.7))
    for p, name in [(p_store, "store"), (p_inline, "inline")]:
        assert "SortMergeJoin" not in p, f"{name} tail fell back to SMJ"
        assert "BroadcastHashJoin" in p


def _checkpointed_plans(monkeypatch, spark, run):
    """The physical plan of every frame ``run()`` checkpoints (a
    connected_components result is itself a checkpoint, so its own plan
    shows only the scan of the stored blocks)."""
    cls = type(spark.range(1))
    real = cls.localCheckpoint
    plans = []

    def spy(self, *a, **kw):
        plans.append(plan_of(self))
        return real(self, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(cls, "localCheckpoint", spy)
        return run(), plans


def test_cc_path_decision_plans(spark, monkeypatch):
    """connected_components picks its path from the exact edge count:
    below ``CC_ONE_TASK_BYTES`` the labels are one MapInPandas over ONE
    partition with no join anywhere; with the bound patched to 0 every
    step is the loop's propagation joins and no Python runs."""
    from reddit_etl_pipeline_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a bigint, doc_b bigint"
    )
    cc, plans = _checkpointed_plans(
        monkeypatch, spark, lambda: D.connected_components(pairs)
    )
    assert cc.rdd.getNumPartitions() == 1
    assert plans[-1].count("MapInPandas (") == 1
    assert "Coalesce (" in plans[-1]
    assert not any("Join" in p for p in plans)

    monkeypatch.setattr(D, "CC_ONE_TASK_BYTES", 0)
    _, plans = _checkpointed_plans(
        monkeypatch, spark, lambda: D.connected_components(pairs)
    )
    assert not any("MapInPandas" in p for p in plans)
    # 1-2-3 needs two changing steps and one that certifies the
    # fixpoint; each is the neighbor join + the left join back
    steps = [p for p in plans if "Join" in p]
    assert len(steps) == 3
    for p in steps:
        assert len(re.findall(r"^\(\d+\) \w*Join", p, re.M)) == 2
