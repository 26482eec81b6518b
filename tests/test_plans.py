"""Physical-plan regression gate (SURVEY §6 scale design).

Executes the top queries at sf0.001 and asserts the *shape* of the
final adaptive plan — join strategy, shuffle count, parquet filter
pushdown, Python-stage count. A regression that silently turns a
broadcast join into a sort-merge join, or adds a shuffle to the CDC
merge, fails here mechanically instead of surfacing as a 100×-scale
slowdown.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

_QS = entrymod.queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = _QS[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    # operators that materialize-and-release (dedup entry points) hand
    # back a checkpointed frame; assert on the executed pre-checkpoint
    # lineage they expose, not the truncated scan
    df = getattr(df, "_lineage", df)
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan: str) -> int:
    return len(re.findall(r"\bExchange\b", plan))


def _pushed_scans(plan: str) -> int:
    return len(re.findall(r"PushedFilters: \[[^\]]", plan))


def test_cdc_merge_is_single_shuffle_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cdc_merge_state")
    assert _exchanges(plan) == 1, "CDC merge must stay a single shuffle"
    assert "Join" not in plan, "CDC merge is join-free by design"


def test_pricing_summary_pushes_filter_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert _pushed_scans(plan) >= 1, "scan filter must reach parquet"
    assert _exchanges(plan) <= 1


def test_enrichment_joins_are_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "enrich_supplier_geo")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "dim joins must broadcast, not shuffle"
    assert _exchanges(plan) == 0, "broadcast chain should not shuffle the fact side"


def test_topk_window_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_orders_per_customer")
    assert _exchanges(plan) == 1
    assert "Join" not in plan


@pytest.mark.parametrize("name", ["ann_topk_methods", "dedup_near_pairs"])
def test_similarity_ops_never_sortmerge_or_cartesian(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "SortMergeJoin" not in plan, f"{name}: small side must broadcast"
    assert "CartesianProduct" not in plan, f"{name}: no unbounded cross join"


def test_extract_is_one_arrow_stage_no_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "extract_listing_fields")
    assert len(re.findall(r"MapInPandas", plan)) == 1, "exactly one Arrow stage"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (
        "no per-expression Python UDFs in the extract path"
    )
    # exactly one exchange, and it must sit BEFORE the render: it moves
    # the ~1 KB pre-render doc rows so the ~75 KB rendered pages (and
    # their parse) fan out across cores without ever being shuffled
    assert _exchanges(plan) == 1


def test_quarantine_sniff_is_native(spark, sf_dir):
    # E8 standalone: the error marker must be sniffed JVM-side — no
    # Arrow stage, no Python — so error pages are pruned before any
    # expensive parse at scale
    plan = _plan(spark, sf_dir, "extract_quarantine_pagination")
    assert not re.search(r"EvalPython|MapInPandas", plan), "sniff stays native"


def test_asof_join_free_bounded_shuffles(spark, sf_dir):
    plan = _plan(spark, sf_dir, "asof_click_before_purchase")
    assert "Join" not in plan, "as-of composes union+window, not a range join"
    # two direction-labelled halves, each = clicks agg + window shuffle
    assert _exchanges(plan) <= 4


def test_decontaminate_probe_is_broadcast(spark, sf_dir):
    # gate each configuration's own plan, not the registered union (the
    # prefilter branch legitimately shuffles its few SURVIVORS for the
    # exact verify — the exact-broadcast branch must not shuffle at all)
    from rental_data_pipeline_spark.operators.dedup import contamination_report
    from rental_data_pipeline_spark.operators.sampling import sample_bucket
    from rental_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    bucket = sample_bucket("doc_id")
    holdout, train = docs.where(bucket < 2000), docs.where(bucket >= 2000)

    def plan_of(df):
        df.write.format("noop").mode("overwrite").save()
        return df._jdf.queryExecution().executedPlan().toString()

    exact = plan_of(contamination_report(train, holdout))
    assert "BroadcastHashJoin" in exact, "eval shingle index must broadcast"
    assert "SortMergeJoin" not in exact, "train side must never shuffle for the probe"

    pref = plan_of(
        contamination_report(
            train, holdout, broadcast_index=False, hash_prefilter=True,
            prefilter_mod=4096,
        )
    )
    assert re.search(r"BroadcastHashJoin .*LeftSemi", pref), (
        "the hash prefilter must prune the train side map-side (broadcast semi-join)"
    )


@pytest.mark.parametrize("name", ["pii_scrub"])
def test_scalar_text_ops_are_pure_map(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert _exchanges(plan) == 0, f"{name} is a map-side scan, no shuffle"
    assert "EvalPython" not in plan and "MapInPandas" not in plan, "no Python stage"


def test_repetition_operator_pure_map_query_join_broadcasts(spark, sf_dir):
    # the intra-doc operator stays a map-side scan; the QUERY adds the
    # corpus-level span-coverage columns, whose per-doc join must
    # broadcast (the coverage side is tiny next to the corpus)
    from rental_data_pipeline_spark.operators.textstats import (
        repetition_stats,
    )
    from rental_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    # corpus-scale shape: input already fanned out (splits >= cores) →
    # _with_tokens skips its repartition and the operator stays a pure
    # map-side scan, zero exchanges
    n = spark.sparkContext.defaultParallelism
    wide = repetition_stats(docs.repartition(n, "doc_id"))
    wide.write.format("noop").mode("overwrite").save()
    wp = wide._jdf.queryExecution().executedPlan().toString()
    # exactly the input repartition we added; the operator adds none
    assert _exchanges(wp) == 1, "repetition_stats is map-side at scale"
    # single-split corpus file: the conditional fan-out engages so the
    # per-doc array folds don't serialize onto the one scan task
    # (round 13: this was a measured 4.6 s single-task stage)
    op = repetition_stats(docs)
    op.write.format("noop").mode("overwrite").save()
    op_plan = op._jdf.queryExecution().executedPlan().toString()
    assert _exchanges(op_plan) == 1, "single-split input fans out"
    assert "EvalPython" not in op_plan and "MapInPandas" not in op_plan

    plan = _plan(spark, sf_dir, "text_repetition")
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan, "coverage joins onto docs broadcast"


def test_span_operators_native_and_bounded_shuffles(spark, sf_dir):
    """The substring-dedup family stays whole-stage-native (zero
    Python stages) with bounded shuffles: the multi-window sweep is
    one tokenize repartition + one pre-agg exchange regardless of how
    many windows ride it (the shared-scan claim, mechanically), and
    the corpus rewrite's cut-set joins broadcast — the corpus never
    sort-merges for its own edit."""
    from rental_data_pipeline_spark.operators.dedup import (
        cut_duplicated_spans,
        multi_window_duplicated_spans,
    )
    from rental_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    multi = multi_window_duplicated_spans(docs, windows=[10, 20])
    multi.write.format("noop").mode("overwrite").save()
    mp = multi._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"EvalPython|MapInPandas", mp)
    assert _exchanges(mp) <= 2, "window sweep must not add per-window scans"
    assert "Join" not in mp

    cut = cut_duplicated_spans(docs, window=10)
    cut.write.format("noop").mode("overwrite").save()
    cp = cut._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"EvalPython|MapInPandas", cp)
    assert "SortMergeJoin" not in cp and "CartesianProduct" not in cp
    assert "BroadcastHashJoin" in cp
    spark.catalog.clearCache()


def test_canonical_corpus_drop_is_broadcast_anti(spark, sf_dir):
    # the shingle self-join deep in the pair lineage is legitimately
    # sort-merge; the assertion targets the final drop join only
    plan = _plan(spark, sf_dir, "dedup_canonical_corpus")
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), (
        "the drop anti-join must broadcast — the corpus never shuffles for it"
    )


def test_tfidf_vocab_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tfidf_top_terms")
    assert "BroadcastHashJoin" in plan, "vocabulary must broadcast onto tf side"
    assert "SortMergeJoin" not in plan


def test_stratified_split_is_pure_map(spark, sf_dir):
    plan = _plan(spark, sf_dir, "stratified_sample_split")
    assert _exchanges(plan) == 0, "hash-mod sampling must not shuffle"
    assert "Join" not in plan


def test_ngram_counts_single_agg_plus_sharded_topk(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ngram_lm_counts")
    # the per-lang rank runs topk_per_group with n_shards='auto': at
    # bench scale (few upstream partitions) the shard level collapses
    # to the plain single-window rank — no __tk_shard exchange; the
    # sharded regime at scale is pinned directly below
    assert "__tk_shard" not in plan, (
        "small input must keep the single-window rank under auto shards"
    )
    # and Spark's rank-limit pushdown still bounds the map side of
    # both rank levels (k rows per group per partition pre-shuffle)
    assert "WindowGroupLimit" in plan
    # the doc_ppl branch's count probes are equi-joins on
    # (lang, w1[, w2]) — shuffle-joinable at corpus scale where the
    # count tables outgrow broadcast range, but never a cartesian;
    # the per-lang vocab is the one broadcast
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, "per-lang V must broadcast"
    assert not re.search(r"EvalPython|MapInPandas", plan)


def test_sketch_joins_broadcast_never_sortmerge(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sketch_distinct_counts")
    assert "SortMergeJoin" not in plan, "per-group sketch outputs are tiny — broadcast"
    assert "CartesianProduct" not in plan


def test_text_profile_is_one_scan_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_profile")
    assert not re.search(r"EvalPython|MapInPandas", plan), "all signals stay native"
    assert _exchanges(plan) <= 3, "map-side profile + entropy agg + one join"
    assert "SortMergeJoin" not in plan


def test_scalar_suite_all_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scalar_suite")
    assert _exchanges(plan) == 0, "literal fixtures must broadcast, never shuffle"
    assert "SortMergeJoin" not in plan


def test_pipeline_join_strategies_are_pinned(spark, sf_dir):
    """The pipeline runs no shuffle join: its id bookkeeping (J6-J9
    worklist scoping and the J8 tombstones) is one keyed aggregation
    over the state's and the cards' ids, not the offer-id anti-joins
    (one of them a SortMergeJoin) it replaced. Everything else (geo
    lookup chain, scope plumbing) must broadcast; nothing may degrade
    to a nested loop or accidentally broadcast the state side. Any
    sort-merge join appearing here is a regression this test catches."""
    plan = _plan(spark, sf_dir, "pipeline_end_to_end")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert not smj, smj
    assert "BroadcastHashJoin" in plan, "geo lookups must broadcast"


def test_pipeline_folds_state_once(spark, sf_dir):
    """One keyed fold per crawl cycle: the search and listing batches
    merge into the state in ONE aggregation, and distance is a
    broadcast projection, not a third merge. The chained three-merge
    form executed five merge aggregations (the distance step's work
    scan re-ran the listing merge) over 21 exchanges; the fused fold
    with anti-join scoping took 11, and the id ledger takes 6."""
    plan = _plan(spark, sf_dir, "pipeline_end_to_end")
    merges = [ln for ln in plan.splitlines() if "functions=[max_by(" in ln]
    assert len(merges) == 1, merges
    assert _exchanges(plan) == 6


def test_tiered_single_slice_read_skips_reduce_shuffle(spark, tmp_path):
    """The tiered span store's steady state right after a compaction
    is ONE live slice; read_tiered must plan it as a bare scan (zero
    exchanges — every slice is keyed-unique by contract, so reducing
    one slice is the identity), while a multi-slice read pays exactly
    the merge-on-read reduce's aggregate shuffle."""
    from rental_data_pipeline_spark.streaming.span_stream import (
        _reduce_span_stats,
        fold_spans_batch,
    )
    from rental_data_pipeline_spark.streaming.tiered import (
        maybe_compact,
        read_tiered,
    )
    from tests.test_tiered_spans import _docs

    root = str(tmp_path / "spans")
    for i in range(2):
        fold_spans_batch(
            spark, root, _docs(spark, [2 * i + 1, 2 * i + 2]), i, window=10
        )
    multi = read_tiered(spark, root, _reduce_span_stats)
    multi.write.format("noop").mode("overwrite").save()
    mp = multi._jdf.queryExecution().executedPlan().toString()
    assert _exchanges(mp) >= 1, "multi-slice read must reduce (shuffle)"

    maybe_compact(spark, root, _reduce_span_stats, force_full=True)
    single = read_tiered(spark, root, _reduce_span_stats)
    single.write.format("noop").mode("overwrite").save()
    sp = single._jdf.queryExecution().executedPlan().toString()
    assert _exchanges(sp) == 0, f"single-slice read must be a bare scan:\n{sp}"


def test_registry_names_bind_their_own_functions():
    """Every queries() entry must be the function registered UNDER its
    name, and every entry must carry an oracle twin. A helper inserted
    between a @register decorator and its query def silently rebinds
    the registration to the helper (round-11 near-miss: four queries
    briefly registered str-returning state builders); this gate makes
    that a unit failure instead of a driver-run surprise."""
    import rental_data_pipeline_spark.queries as registry

    qs = registry.queries()
    assert len(qs) == 50  # the driver checks exactly the first 50
    for name, fn in qs.items():
        assert callable(fn), name
        assert fn.__name__ == name, (name, fn.__name__)
    oracles = registry.oracles()
    assert set(oracles) == set(qs)
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_bottomk_state_sharded_two_level(spark, sf_dir):
    """The bottom-k quantile state must never sort a whole group in
    one task (the r12 group-skew straggler): stage 1 ranks within
    (group, __shard) — the first exchange partitions on the shard —
    and only the ≤ k·n_shards survivors reach the per-group exchange.
    Exactly two shuffles, all JVM-side."""
    from rental_data_pipeline_spark.operators.sketch import bottomk_sample_state
    from rental_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    st = bottomk_sample_state(docs, ["lang"], "n_chars", "doc_id", k=16, n_shards=8)
    st.write.format("noop").mode("overwrite").save()
    plan = st._jdf.queryExecution().executedPlan().toString()
    assert _exchanges(plan) == 2, "two-level rank is exactly two shuffles"
    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)", plan)
    assert any("__shard" in p for p in parts), (
        "stage-1 exchange must shard groups: no task sorts a whole group"
    )
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_bottomk_state_auto_shards_collapse_small(spark, sf_dir):
    """n_shards='auto' sizes the shard stage to the input volume
    (guide §2.4): a bench-scale table (few scan splits) must collapse
    to the plain single-shuffle per-group rank — no __shard exchange —
    while producing EXACTLY the rows of the sharded plan (bottom-k is
    n_shards-invariant by construction)."""
    from rental_data_pipeline_spark.operators.sketch import bottomk_sample_state
    from rental_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    auto = bottomk_sample_state(
        docs, ["lang"], "n_chars", "doc_id", k=16, n_shards="auto"
    )
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "__shard" not in plan, (
        "small input must keep the single-shuffle plan under auto shards"
    )
    sharded = bottomk_sample_state(
        docs, ["lang"], "n_chars", "doc_id", k=16, n_shards=8
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, sharded.collect())
    )
