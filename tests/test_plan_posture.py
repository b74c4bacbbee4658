"""100 TB plan-posture regression tests over the WHOLE catalog.

PLANS.md is a point-in-time audit; these assertions make its two
load-bearing invariants permanent:

1. **Zero row-at-a-time Python anywhere** (`BatchEvalPython`): every
   Python stage must be Arrow-batched (`ArrowEvalPython` /
   `MapInPandas` / `FlatMapGroupsInPandas`). A single row-at-a-time
   UDF in a hot path is a 10-100x regression at scale.
2. **No unbounded nested-loop joins**: `BroadcastNestedLoopJoin` is
   allowed only where one side is a bounded (sketch/bound-row)
   relation or the entry is an explicitly-labeled all-pairs baseline
   twin, and `CartesianProduct` (the non-broadcast cross) never.

The check explains, it does not execute — entries whose plan-build
itself executes jobs (streaming seams, write-path round-trips,
iterative checkpointed loops, the 31-day replays) are skipped with the
same justifications as tools/plan_audit.py's SKIP set; their posture
is covered by dedicated tests (streaming suite, writer exchange-count
asserts, the scale bench sections).
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from data_engineering_bootcamp_spark.plans.catalog import QUERIES

SF_DIR = "/root/testdata/sf0.001"

# mirrors tools/plan_audit.py SKIP (kept in sync by the count assert in
# test_skip_set_is_current): plan-build executes jobs for these
SKIP = {
    "streaming_tumbling_hits",
    "streaming_sliding_hits",
    "streaming_session_windows",
    "streaming_foreachbatch_sink",
    "streaming_stateful_sessions",
    "streaming_kafka_mirror",
    "streaming_dedup",
    "streaming_neardup_admission",
    "streaming_interval_join",
    "streaming_upsert_sink",
    "streaming_countmin",
    "streaming_bpe_encode",
    "streaming_embedding_admission",
    "streaming_ivfpq_index",
    "bucketed_join_rollup",
    "partitioned_prune_rollup",
    "sorted_layout_rollup",
    "csv_roundtrip_rollup",
    "orc_roundtrip_rollup",
    "insert_select_rollup",
    "metadata_scan",
    "compaction_rollup",
    "training_export_rollup",
    "ivfpq_index_compact",
    "training_export_tokenized",
    "pagerank_parts",
    # iterative BPE training: each step's argmax winner is eagerly
    # localCheckpointed at plan-build (the merge decision feeds the
    # next step), so the final plan is a union of checkpointed 1-row
    # scans; the per-step shape (1 pair-count groupBy + TakeOrdered(1)
    # + broadcast merge map) is pinned by operators/bpe.py's design
    # notes and the gate
    "bpe_train_merges",
    "bpe_encode_corpus",       # same: train jobs run at plan build
    "bpe_train_merges_batched",  # same loop, k merges per round
    "pipeline_replay_31d",
    "scd_replay_31d",
    "users_cumulated_replay_31d",
}

# BNLJ allowance (distinct plan nodes): every
# entry here joins a BOUNDED side by construction — scalar bound rows
# (quantile/histogram thresholds, sketch unions of k<=256 rows) or is
# the labeled exact-baseline twin whose all-pairs form IS the point.
BNLJ_ALLOWED = {
    "hll_user_cardinality": 1,      # 1-row global-union register bound
    "kmv_set_ops": 2,               # k=256-row sketch set algebra bounds
    "bloom_prune_stats": 1,         # 1-row bloom-bitmap bound relation
    "distinct_sketch_users": 1,     # 1-row register union
    "quantile_band_filter": 1,      # 1-row percentile-bounds relation
    "histogram_quantiles": 1,       # 1-row bin-edge bound relation
    "table_profile_approx": 2,      # 1-row exact-agg x 1-row approx-agg
                                    # recombination (the r12 Expand/HLL
                                    # split), one per profiled table
                                    # (orders + events) — all sides
                                    # single rows by construction
    "ann_pq_adc": 1,                # bounded query side by contract:
                                    # the ADC scan joins the narrow
                                    # codes relation to the broadcast
                                    # (<=10-row) query distance tables
    "bm25_top_docs": 1,             # 1-row global constants (T, dfs)
                                    # cross-joined back to per-doc rows
                                    # — bounded by construction
    "hybrid_rrf_topk": 1,           # composes bm25_top_docs, inherits
                                    # its 1-row constants cross join;
                                    # the fusion itself is equi-only
    "vocab_coverage_curve": 1,      # 1-row total-tokens constant
                                    # cross-joined to the 3 k-cuts —
                                    # bounded by construction
    "doc_quality_classifier": 1,    # 1-row class-totals constants
                                    # cross-joined to the 512-row
                                    # bucket spine (the NB model dim)
                                    # — bounded by construction
    "classifier_pr_eval": 1,        # composes doc_quality_classifier,
                                    # inherits its 1-row constants
                                    # cross join; the eval itself is
                                    # one complete aggregate + inline
    "doc_lang_id_learned": 2,       # 1-row seed-total constants into
                                    # the (<=64-row) prior relation +
                                    # the folded 1-row prior constants
                                    # into the per-doc scores — both
                                    # bounded by construction
    "lang_id_confusion": 2,         # composes doc_lang_id_learned,
                                    # inherits its two 1-row constants
                                    # cross joins; the matrix itself
                                    # is one equi groupBy + window
    "corpus_curation_pipeline_learned": 2,  # composes
                                    # doc_quality_classifier, whose
                                    # 1-row class-totals constants
                                    # cross join appears TWICE in the
                                    # lazy plan (the persisted `kept`
                                    # relation feeds both gram-pair
                                    # join sides, duplicating the
                                    # upstream classifier subtree);
                                    # both instances are the same
                                    # bounded 1-row shape — the
                                    # pipeline's own joins are all
                                    # equi/anti
    "ngram_jaccard_allpairs": 1,    # labeled exact all-pairs baseline
    "embedding_neardup_allpairs": 1,  # labeled exact all-pairs baseline
    "ann_cosine_topk": 1,           # labeled brute-force ANN baseline
}


def _node_count(op: str, plan: str) -> int:
    """Distinct plan NODES named `op` in a formatted explain.

    Structural count (ADVICE r11): formatted mode prints every node as
    "(<id>) <OpName>" — once in the tree and once in the details
    section — always with its node id, so distinct ids count distinct
    nodes. The old ceil-halved findall assumed exactly two prints per
    node and under-counted two genuinely distinct nodes printed once
    each.

    Section-aware (ADVICE r12): when an executed AQE query prints BOTH
    "== Initial Plan ==" and "== Final Plan ==", the two sections are
    numbered INDEPENDENTLY, so two genuinely distinct nodes can share
    an id across sections and a flat distinct-id count would collapse
    them. Count distinct ids WITHIN each section and take the max —
    the final plan (what actually executes) dominates, and an
    unexecuted single-section explain degenerates to the old count."""
    sections = re.split(r"== (?:Initial|Final) Plan ==", plan)
    return max(
        len(set(re.findall(rf"\((\d+)\)\s+{op}\b", s))) for s in sections
    )


@pytest.fixture(scope="module")
def plans(spark):
    """Formatted plan per non-skipped entry, built once for the module."""
    out = {}
    for name, fn in QUERIES.items():
        if name in SKIP:
            continue
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out[name] = buf.getvalue()
    # dedup-family signature caches persist during plan builds; drop
    # them so this module leaves the session flat
    from data_engineering_bootcamp_spark.operators.dedup import (
        release_caches,
    )

    release_caches()
    return out


def test_no_row_at_a_time_python_anywhere(plans):
    bad = {n: p.count("BatchEvalPython") for n, p in plans.items()
           if "BatchEvalPython" in p}
    assert not bad, (
        f"row-at-a-time Python UDF stages found (Arrow-batch them): {bad}"
    )


def test_no_cartesian_product_anywhere(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"non-broadcast cross joins found: {bad}"


def test_bnlj_only_on_bounded_or_baseline_entries(plans):
    over = {}
    for name, plan in plans.items():
        n = _node_count("BroadcastNestedLoopJoin", plan)
        if n > BNLJ_ALLOWED.get(name, 0):
            over[name] = (n, BNLJ_ALLOWED.get(name, 0))
    assert not over, (
        "BroadcastNestedLoopJoin beyond the bounded/baseline allowance "
        f"(got vs allowed): {over}"
    )


def test_filters_reach_the_scan(plans):
    """Predicate pushdown on the three load-bearing shapes PLANS.md
    verifies by hand: the date filter (P3), the NOT NULL entity filter
    (P4), and the per-branch event_type equality (P7) must all appear
    in the parquet scan's PushedFilters — a filter evaluated above the
    scan reads 100 TB to keep 1 TB."""
    cases = {
        "pricing_summary": r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_shipdate",
        "users_cumulated": r"PushedFilters: \[[^\]]*IsNotNull\(user_id\)",
        "funnel_conversion": r"PushedFilters: \[[^\]]*EqualTo\(event_type,view\)",
    }
    missing = {
        n: pat for n, pat in cases.items()
        if not re.search(pat, plans[n])
    }
    assert not missing, f"filters not pushed to scan: {missing}"


def test_scans_are_column_pruned(plans):
    """Column pruning on wide-table consumers: a scan that reads every
    column for a narrow projection ships the whole corpus. Bounds are
    the audited PLANS.md widths (small slack for optimizer drift —
    the failure mode guarded is reading ~ALL columns)."""
    # (entry, max allowed width of its WIDEST scan)
    caps = {
        "pricing_summary": 8,    # 7 of lineitem's 16 columns
        "users_cumulated": 3,    # 2 of events' 6
        "funnel_conversion": 4,  # 3 of events' 6, both branches
        "top_customers": 5,      # narrow slices of customer/orders
        "doc_dedup_exact": 4,    # doc_id/text(+source) of documents' 7
    }
    wide = {}
    for name, cap in caps.items():
        widths = [
            len(s.split(","))
            for s in re.findall(r"ReadSchema: struct<([^>]*)>", plans[name])
        ]
        if widths and max(widths) > cap:
            wide[name] = (max(widths), cap)
    assert not wide, f"scan wider than audited cap (got, cap): {wide}"


def test_skip_set_is_current():
    """Every skipped name must still exist (catches silent rot)."""
    stale = SKIP - set(QUERIES)
    assert not stale, f"SKIP names no longer in the registry: {stale}"


def test_pagerank_iteration_plan_shape(spark):
    """VERDICT r12 #3: pin `pagerank`'s per-iteration physical shape
    STRUCTURALLY, not in prose. Composed lazily over a checkpointed
    adjacency, each iteration must add exactly TWO Exchanges — the
    adjacency re-partitioned on the join key and the destination
    groupBy — with the rank re-shuffle elided by alias-propagated
    partitioning (the previous groupBy leaves ranks hash-partitioned
    on v = the next join's s) and the sum map-side partial. Any drift
    in `_pagerank_step` (an extra shuffle, a lost partial agg, a
    broadcast flip to BNLJ) changes the slope or the plan text and
    fails here, like every other shape regression."""
    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.operators.graph import (
        _pagerank_step,
        pagerank,
    )
    from data_engineering_bootcamp_spark.plans.introspect import (
        count_exchanges,
        formatted_plan,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long"
    )
    # step-body slope over a CHECKPOINTED adjacency and seed, so the
    # count isolates the per-iteration machinery from lineage noise
    e = (
        edges.select(
            F.least("id_a", "id_b").alias("s"),
            F.greatest("id_a", "id_b").alias("d"),
        )
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    adj = sym.join(deg, "s").localCheckpoint(eager=True)
    seed = deg.select(
        F.col("s").alias("v"),
        F.lit(1_000_000).cast("long").alias("r"),
    ).localCheckpoint(eager=True)

    def compose(k):
        ranks = seed
        for _ in range(k):
            ranks = _pagerank_step(adj, ranks, 85, 150_000)
        return ranks

    n1, n2, n5 = (count_exchanges(compose(k)) for k in (1, 2, 5))
    # iteration 1 pays the one-time seed shuffle: adj + seed + groupBy
    assert n1 == 3, f"first iteration should plan 3 Exchanges, got {n1}"
    assert n2 - n1 == 2 and (n5 - n2) == 2 * 3, (
        f"per-iteration Exchange slope drifted: n1={n1} n2={n2} n5={n5} "
        "(expected exactly 2 per iteration: adjacency repartition + "
        "destination groupBy; rank side must stay alias-co-partitioned)"
    )
    plan5 = formatted_plan(compose(5))
    assert "BroadcastNestedLoopJoin" not in plan5
    assert "CartesianProduct" not in plan5

    # r16 optimization pin: pagerank() co-partitions the PERSISTED
    # adjacency on the join key `s` (repartition("s").persist() +
    # eager count — the InMemoryTableScan exposes the hash
    # partitioning; a localCheckpoint would lose it under AQE), so
    # over THAT adjacency each iteration must plan only ONE top-level
    # Exchange (the destination groupBy) — the 2|E|-row adjacency side
    # is never re-shuffled. Counted OUTSIDE cached-plan subtrees
    # (introspect.count_top_level_exchanges), with broadcast disabled
    # so the tiny fixture plans the same SMJ shape as real data.
    from data_engineering_bootcamp_spark.plans.introspect import (
        count_top_level_exchanges as _top_level_exchanges,
    )

    bcast_before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        adj_cp = sym.join(deg, "s").repartition("s").persist()
        adj_cp.count()
        try:

            def compose_cp(k):
                ranks = seed
                for _ in range(k):
                    ranks = _pagerank_step(adj_cp, ranks, 85, 150_000)
                return ranks

            c1, c2, c5 = (_top_level_exchanges(compose_cp(k)) for k in (1, 2, 5))
            assert c2 - c1 == 1 and c5 - c2 == 3, (
                f"co-partitioned adjacency no longer elides its "
                f"per-iteration Exchange: c1={c1} c2={c2} c5={c5} "
                "(expected slope 1/iteration: destination groupBy only)"
            )
        finally:
            adj_cp.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast_before)

    # the public function wires that step: the fully-lazy introspection
    # cadence (checkpoint_every=-1) must show the same linear growth
    # through pagerank() itself, loop and all
    p2 = pagerank(edges, iterations=2, checkpoint_every=-1)
    p5 = pagerank(edges, iterations=5, checkpoint_every=-1)
    d2, d5 = count_exchanges(p2), count_exchanges(p5)
    per_iter = (d5 - d2) / 3
    assert d5 > d2 and (d5 - d2) % 3 == 0, (d2, d5)
    # whole-plan slope includes the persisted adjacency's lineage
    # re-counted per reference (runtime executes it once — persist);
    # what matters is that it is LINEAR and the wiring stays intact
    assert count_exchanges(
        pagerank(edges, iterations=8, checkpoint_every=-1)
    ) == d5 + int(per_iter * 3), "exchange growth is not linear in depth"


def test_cc_minlabel_adjacency_copartition(spark):
    """r17 optimization pin (VERDICT r16 #4, the pagerank pattern):
    `_cc_minlabel` repartitions the loop-invariant symmetric edge list
    on the iteration join key `b` and persists it eagerly, so each
    iteration's join re-shuffles only the |V|-row label relation —
    the (2|E| + |V|)-row edge side contributes ZERO top-level
    Exchanges per iteration. Pinned by planning one iteration body
    over the co-partitioned adjacency vs a plain-persisted twin:
    the co-partitioned plan must show exactly one fewer top-level
    Exchange (the elided edge-side shuffle), with broadcast disabled
    so the tiny fixture plans the same SMJ shape as real data."""
    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.plans.introspect import (
        count_top_level_exchanges,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 6)], "a long, b long"
    ).localCheckpoint(eager=True)
    verts = (
        edges.select("a").union(edges.select(F.col("b").alias("a"))).distinct()
    )
    sym_plan = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).union(verts.select("a", F.col("a").alias("b")))
    labels = verts.select(
        F.col("a").alias("doc_id"), F.col("a").alias("cluster_id")
    ).localCheckpoint(eager=True)

    def body(sym_df):
        return (
            sym_df.join(
                labels.select(
                    F.col("doc_id").alias("b"),
                    F.col("cluster_id").alias("nb_label"),
                ),
                "b",
            )
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("nb_label").alias("cluster_id"))
        )

    bcast_before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sym_cp = sym_plan.repartition("b").persist()
    sym_plain = sym_plan.persist()
    try:
        sym_cp.count()
        sym_plain.count()
        n_cp = count_top_level_exchanges(body(sym_cp))
        n_plain = count_top_level_exchanges(body(sym_plain))
        assert n_cp == n_plain - 1, (
            f"co-partitioned CC adjacency no longer elides its "
            f"iteration-join Exchange: co-partitioned={n_cp}, "
            f"plain={n_plain} (expected exactly one fewer)"
        )
        # absolute shape: label-side shuffle + destination groupBy only
        assert n_cp == 2, (
            f"CC iteration body over the co-partitioned adjacency "
            f"should plan 2 top-level Exchanges, got {n_cp}"
        )
    finally:
        sym_cp.unpersist()
        sym_plain.unpersist()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast_before)

    # and the public operator still resolves components correctly over
    # the co-partitioned loop (mixed: chain, pair, self-loop singleton)
    from data_engineering_bootcamp_spark.operators.clustering import (
        connected_components,
    )

    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(
            spark.createDataFrame(
                [(1, 2), (2, 3), (4, 5), (6, 6)], "doc_id_a long, doc_id_b long"
            )
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)}


def test_ivfpq_probe_join_is_equi(plans):
    """VERDICT r13 #1: the IVFPQ candidate pass must be an EQUI hash
    join on bucket id — the whole point of composing IVF with PQ is
    converting `ann_pq_adc`'s query x codes nested-loop scan into a
    probed-bucket hash join. Zero BNLJ (the generic gate also enforces
    this — ann_ivfpq is deliberately NOT in the allowlist) and at
    least two BroadcastHashJoins: probes ⋈ codes on bucket, and the
    rerank's query-vector join."""
    plan = plans["ann_ivfpq"]
    assert _node_count("BroadcastNestedLoopJoin", plan) == 0, (
        "IVFPQ candidate pass regressed to a nested-loop scan"
    )
    assert _node_count("BroadcastHashJoin", plan) >= 2


# dedup_keep_first's window over the fingerprint key: the expensive
# uncached body of the curation pipelines' `kept` relation
_KEEP_FIRST_WINDOW = re.compile(r"row_number\(\) windowspecdefinition\(fp#")


def _plan_children(p) -> list:
    """Child plans of a JVM SparkPlan, looking through adaptive
    wrappers, query stages, reused exchanges and subqueries (but not
    into an InMemoryTableScan's cached plan — callers decide that)."""
    name = p.nodeName()
    if name == "AdaptiveSparkPlan":
        return [p.executedPlan()]
    if name.endswith("QueryStage"):
        return [p.plan()]
    if name == "ReusedExchange":
        return [p.child()]
    return [
        seq.apply(i)
        for seq in (p.children(), p.subqueries())
        for i in range(seq.size())
    ]


def _kept_reads(plan, identity) -> tuple[set, int]:
    """(identities of the caches `kept` is read from, keep-first windows
    evaluated outside any cache) over one JVM physical plan, descending
    into every cached relation built on top of `kept`."""
    caches: set = set()
    stray = 0

    def keep_first(p) -> bool:
        return p.nodeName() == "Window" and bool(
            _KEEP_FIRST_WINDOW.search(p.simpleString(1000))
        )

    def builds_kept(p) -> bool:
        if p.nodeName() == "InMemoryTableScan":
            return False
        return keep_first(p) or any(builds_kept(k) for k in _plan_children(p))

    def walk(p) -> None:
        nonlocal stray
        if p.nodeName() == "InMemoryTableScan":
            rel = p.relation()
            if builds_kept(rel.cachedPlan()):
                caches.add(identity(rel.cacheBuilder()))
            else:
                walk(rel.cachedPlan())
            return
        stray += keep_first(p)
        for k in _plan_children(p):
            walk(k)

    walk(plan)
    return caches, stray


@pytest.mark.parametrize(
    "name", ["corpus_curation_pipeline", "corpus_curation_pipeline_learned"]
)
def test_curation_kept_is_populated_once(spark, name):
    """`kept` (catalog_extra's keep-first relation in
    both curation pipelines) is a lazy persist with several consumers —
    the near-dup operator's gram caches (executed at plan build by the
    connected-components loop) and the final anti join. Pin that every
    consumer reads the ONE cached relation and that no plan re-derives
    the fingerprint + keep-first body outside it: a second consumer
    built over an uncached copy would recompute it silently. Checked on
    the executed query and on every relation the run persisted."""
    from data_engineering_bootcamp_spark.operators import dedup

    identity = spark.sparkContext._jvm.java.lang.System.identityHashCode
    try:
        df = QUERIES[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        caches, stray = _kept_reads(
            df._jdf.queryExecution().executedPlan(), identity
        )
        for cached in dedup._CACHED:
            c, s = _kept_reads(
                cached._jdf.queryExecution().executedPlan(), identity
            )
            caches |= c
            stray += s
        assert len(caches) == 1, (
            f"{name}: `kept` read from {len(caches)} cached relations"
        )
        assert stray == 0, (
            f"{name}: keep-first body evaluated {stray}x outside the cache"
        )
    finally:
        dedup.release_caches()
