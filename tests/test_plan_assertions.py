"""Physical-plan regression tests: the scale-critical plan properties the
100 TB design depends on, asserted against `.explain` output so a future
refactor can't silently regress them (SURVEY.md §4)."""

from __future__ import annotations

from tests.conftest import SF_DIR
from tts_data_pipeline_spark.plans import catalog


def plan_of(spark, name: str) -> str:
    df = catalog.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(spark, name: str) -> str:
    df = catalog.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_flagship_broadcasts_all_dims(spark):
    plan = plan_of(spark, "flagship_revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan


def test_q6_filters_pushed_to_scan(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    # all four predicates reach the reader
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert any(frag in ln for ln in pushed), (frag, pushed)


def test_q1_prunes_unread_columns(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    # projection needs 7 of 11 lineitem columns; pruned ones must not be read
    for absent in ("l_partkey", "l_suppkey", "l_orderkey"):
        assert not any(absent in ln for ln in read), (absent, read)


def test_q1_aggregates_partially_before_shuffle(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # two-phase hash aggregation: partial before the exchange, final after
    assert plan.count("HashAggregate") >= 2, plan


def test_semi_join_for_exists(spark):
    plan = plan_of(spark, "q4_order_priority_exists")
    assert "LeftSemi" in plan, plan


def test_anti_join_stays_anti(spark):
    plan = plan_of(spark, "j6_anti_join_outliers")
    assert "LeftAnti" in plan, plan


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "o2_lexicographic_sort")
    assert "TakeOrderedAndProject" in plan, plan


def test_minhash_bucket_join_shuffles_no_token_arrays(spark):
    """The LSH candidate join must not carry token sets through the band
    explosion — only (id, bucket)."""
    opt = optimized_of(spark, "dedup_minhash_xx64")
    # the explode node's output must not include the token-set column
    explode_lines = [
        ln for ln in opt.splitlines() if "Generate explode" in ln
    ]
    assert explode_lines, opt
    assert all("_tokset" not in ln for ln in explode_lines), explode_lines


def test_ivf_broadcasts_codebook(spark):
    plan = plan_of(spark, "sim_ivf_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_no_cartesian_products_anywhere(spark):
    """No catalog query may plan an unintended cartesian product (the IVF
    n×k assignment is an intended broadcast nested-loop; plain
    CartesianProduct = both sides big = death at scale).  The same loop
    pins the ordering contract (plans/registry.py): no entry but the
    flagship ends in a global Sort — a sort consumed by a LIMIT roots at
    the limit, so top-k entries pass."""
    sorted_roots = []
    for name, fn in catalog.queries().items():
        if name.startswith("stream_"):
            continue  # streaming queries execute at build time
        qe = fn(spark, SF_DIR)._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian:\n{plan}"
        root = qe.optimizedPlan()
        while root.nodeName() == "Project":
            root = root.children().apply(0)
        if root.nodeName() == "Sort" and getattr(root, "global")():
            sorted_roots.append(name)
    assert sorted_roots == ["flagship_revenue_by_nation"], sorted_roots


def test_similarity_never_evaluated_in_join_condition(spark):
    """eval_once regression guard: the similarity expression must appear in
    a Project, never inside a join's condition or a filter predicate —
    pushed into the join it re-evaluates per matched row on the
    interpreted path (measured 100x slower at sf0.1)."""
    for name, marker in (
        ("dedup_ngram_jaccard_bucketed", "array_intersect"),
        ("dedup_minhash_lsh", "array_intersect"),
        ("dedup_minhash_xx64", "array_intersect"),
        ("dedup_embedding_cosine", "aggregate"),
        ("dedup_fuzzy_levenshtein", "levenshtein"),
    ):
        plan = optimized_of(spark, name)
        for line in plan.splitlines():
            stripped = line.strip().strip(":+- ")
            if stripped.startswith(("Join ", "Filter ")):
                assert marker not in line, (name, line)


def test_decontaminate_broadcasts_eval_grams(spark):
    # the eval n-gram set is benchmark-sized: it must broadcast; the
    # training side must never shuffle for a join
    plan = plan_of(spark, "ta_decontaminate_eval")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan


def test_semantic_decontaminate_broadcasts_eval_vectors(spark):
    # the eval embedding set is benchmark-sized: it must broadcast onto
    # the streaming training scan — never a CartesianProduct (both sides
    # shuffled) and never a SortMergeJoin
    plan = plan_of(spark, "ta_decontaminate_semantic")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_int8_topk_broadcasts_query_side(spark):
    # scored corpus x queries: broadcast nested loop on the tiny query
    # side, never a CartesianProduct (which would shuffle both sides)
    plan = plan_of(spark, "sim_int8_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_paragraph_dedup_shuffles_segments_not_docs(spark):
    # the dedup exchange partitions by segment content and must carry only
    # (doc_id, seg_idx, seg) -- never the full document text column
    plan = plan_of(spark, "dedup_paragraph_exact")
    assert "SortMergeJoin" not in plan
    seg_exchanges = [
        ln for ln in plan.splitlines() if "hashpartitioning(seg" in ln
    ]
    assert seg_exchanges, plan
    assert not any("text#" in ln for ln in seg_exchanges), seg_exchanges


def test_substring_span_dedup_shuffles_hashes_not_text(spark):
    # the global dedup exchange partitions by the W-token window hash and
    # must carry only (doc_id, pos, md5) — never the document text or the
    # window text itself; no position ever fans out to >1 candidate row
    plan = plan_of(spark, "dedup_substring_spans")
    gram_exchanges = [
        ln for ln in plan.splitlines() if "hashpartitioning(g#" in ln
    ]
    assert gram_exchanges, plan
    assert not any("text#" in ln for ln in gram_exchanges), gram_exchanges
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # dup-start join stays broadcast/hash


def test_perplexity_model_broadcasts(spark):
    # the bigram/unigram count tables are vocabulary-sized: they must
    # broadcast onto the per-doc bigram stream, never sort-merge it
    plan = plan_of(spark, "ta_perplexity_bigram")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan


def test_cdc_and_gapfill_single_keyed_shuffle_shapes(spark):
    # CDC compaction and the gap-fill window each need exactly the keyed
    # shuffles their semantics require — no stray sort-merge joins
    for name in ("j12_cdc_apply_log", "w11_gap_fill_ffill"):
        plan = plan_of(spark, name)
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_kmeans_releases_its_cache(spark):
    # emb_kmeans_lloyd caches its base relation for the per-round
    # model-state collects; the cache must not outlive the query
    # (VERDICT r3 "What's wrong" #3: a long session leaked one cached
    # relation per invocation).
    from tts_data_pipeline_spark.plans.registry import QUERIES

    spark.catalog.clearCache()
    df = QUERIES["emb_kmeans_lloyd"](spark, SF_DIR)
    assert df.count() > 0
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() == 0


def test_bpe_merge_loop_plan_depth_is_bounded(spark):
    # BPE state lineage is truncated every persist_every rounds via the
    # parquet round-trip (VERDICT r3 "What's wrong" #1 — without it the
    # plan deepened linearly with R and round k recomputed all k-1 prior
    # merges from the raw word table).  At R=10 the analyzed plan must
    # reset to the bare persisted-scan size at every truncation boundary
    # and never grow beyond the persist window's stacked replaces.
    from tts_data_pipeline_spark.plans.corpus import learn_bpe_merges

    sizes: dict[int, int] = {}

    def probe(k, state_df):
        plan = state_df._jdf.queryExecution().analyzed().toString()
        sizes[k] = len(plan)

    out = learn_bpe_merges(
        spark, SF_DIR, rounds=10, persist_every=5, on_round=probe
    )
    rows = out.collect()
    assert len(rows) == 10
    assert [r.rank for r in rows] == list(range(1, 11))
    base = sizes[0]
    # truncation boundary: plan collapses back to the bare state scan
    assert sizes[5] == base, sizes
    # within a window the plan grows by at most persist_every replace
    # wrappers — bounded by the window, independent of total round count
    assert max(sizes.values()) <= base + 5 * 150, sizes


def test_bpe_oracle_generator_matches_rounds(spark, ddb):
    # the programmatic unrolled-CTE oracle stays in lockstep with the Spark
    # loop at a non-default round count
    from tests.conftest import run_parity
    from tts_data_pipeline_spark.plans.corpus import (
        _bpe_oracle,
        learn_bpe_merges,
    )

    run_parity(
        spark,
        ddb,
        lambda s, d: learn_bpe_merges(s, d, rounds=5),
        _bpe_oracle(5),
        "bpe_r5",
    )


def test_pq_adc_exchange_carries_codes_not_vectors(spark):
    # the ADC top-k window shuffle must move only scalar (query, neighbor,
    # dist, codes-free) rows — never the codebook column or raw vectors,
    # which would undo PQ's whole compression argument
    plan = plan_of(spark, "sim_pq_adc_topk")
    exchange_lines = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert exchange_lines, plan
    for ln in exchange_lines:
        assert "cbl" not in ln, ln
        assert "qv#" not in ln, ln
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_triangle_closure_is_equi_join(spark):
    # the wedge-closure check must hash-join on the rank-ordered far pair;
    # an OR-of-both-directions condition planned a nested loop (measured
    # 3x slower at sf0.01 before the wedge pair was rank-ordered)
    plan = plan_of(spark, "graph_triangle_copurchase")
    assert "LeftSemi" in plan, plan
    semi_lines = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert not any("BroadcastNestedLoopJoin" in ln for ln in semi_lines), (
        semi_lines
    )


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Runtime-filter awareness: with broadcast off (both join sides
    "big"), a selective build side must inject a bloom_filter_agg
    semi-filter onto the probe side's scan — at 100 TB this is what cuts
    the shuffled probe volume before the exchange.  Thresholds are
    lowered to demo scale (the real ones are sized for TB scans); the
    capability and the plan shape are what's pinned."""
    from pyspark.sql import functions as F

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )


def test_bpe_plan_depth_bounded_at_r100_on_zipf_vocab(spark, tmp_path):
    """R=100 against a 10k-word Zipfian corpus — a merge count that
    actually exercises the vocabulary (the driver corpus saturates at 31
    words, so the r4 R=10 test couldn't distinguish 'bounded plan' from
    'ran out of pairs').  The analyzed plan must collapse to the bare
    persisted-scan size at EVERY truncation boundary and stay within one
    persist window's growth — independent of total round count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import sys as _sys

    _sys.path.insert(0, "tools")
    from gen_scale_data import _DOC_SCHEMA, zipf_documents
    from tts_data_pipeline_spark.plans.corpus import learn_bpe_merges

    pq.write_table(
        pa.table(zipf_documents(120, 99), schema=_DOC_SCHEMA),
        str(tmp_path / "documents.parquet"),
    )
    sizes: dict[int, int] = {}

    def probe(k, state_df):
        sizes[k] = len(state_df._jdf.queryExecution().analyzed().toString())

    out = learn_bpe_merges(
        spark, str(tmp_path), rounds=100, persist_every=5, on_round=probe
    )
    rows = out.collect()
    assert [r.rank for r in rows] == list(range(1, 101))
    # 100 distinct learned merges — the vocabulary never saturated
    assert len({r.pair for r in rows}) == 100
    base = sizes[0]
    boundaries = [sizes[k] for k in sorted(sizes) if k % 5 == 0]
    # every boundary collapses to the bare persisted-scan plan; sizes can
    # differ by a few chars (the state dir's round number in the scan path)
    assert max(boundaries) - min(boundaries) <= 10, sizes
    assert max(boundaries) <= base + 10, sizes
    assert max(sizes.values()) <= base + 5 * 150, max(sizes.values())


def test_bpe_chunked_encode_equals_static(spark):
    """Chunked merge application (the large-R shape) must be bit-identical
    to the monolithic replace-chain at the same R — chunk size is a pure
    codegen knob, never a semantics knob.  Both run with the local-learn
    dial at 1, so both take the distributed chain (under the dial the
    two would share the driver-local encode)."""
    from tts_data_pipeline_spark.conf import TOKENIZER_LOCAL_LEARN_VOCAB
    from tts_data_pipeline_spark.plans.corpus import bpe_encode_corpus
    from tts_data_pipeline_spark.session import scoped_conf

    with scoped_conf(spark, {TOKENIZER_LOCAL_LEARN_VOCAB[0]: "1"}):
        a = bpe_encode_corpus(spark, SF_DIR, rounds=5).collect()
        b = bpe_encode_corpus(spark, SF_DIR, rounds=5, chunk_size=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_corpus_validate_broadcasts_lexicon_and_pairs_on_stem(spark):
    """qc_corpus_validate: the pronunciation lexicon (vocabulary-sized)
    must broadcast onto the token stream; the transcript/audio pairing is
    the one corpus-sized exchange — a full-outer shuffle join on
    (book, stem); nothing may plan a cartesian."""
    plan = plan_of(spark, "qc_corpus_validate")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "FullOuter" in plan, plan


def test_jaccard_prefix_candidates_never_carry_token_sets(spark):
    """The prefix-filter candidate join must shuffle only narrow keys
    (id, size, bucket, prefix token) — the token-set arrays join back by
    id in the verify stage, exactly like the MinHash band join.  Built
    with prefix_filter forced on: the catalog entry's probe would pick
    the exhaustive path on the degenerate test corpus."""
    from pyspark.sql import functions as F

    from tts_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs
    from tts_data_pipeline_spark.sources.readers import table

    d = table(spark, SF_DIR, "documents").withColumn(
        "size_bucket", F.floor(F.col("n_chars") / 100.0).cast("long")
    )
    df = ngram_jaccard_pairs(
        d, bucket_cols=("lang", "size_bucket"), prefix_filter=True
    )
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # the pair-generating explodes are over _pref (posexplode since the
    # round-11 PPJoin positional filter — the position rides as one int);
    # the _tokset explodes upstream are the per-token frequency builders
    # (one token per row, array never rides a join).  The _pref explode
    # outputs must not carry the token-set arrays.
    pref_lines = [
        ln for ln in opt.splitlines() if "Generate posexplode(_pref" in ln
    ]
    assert len(pref_lines) == 2, opt
    assert all("_tokset" not in ln for ln in pref_lines), pref_lines
    # the PPJoin positional filter is cost-only (the exact verify hides
    # its absence from every value test), so pin it in the plan: the
    # candidate join's condition (Catalyst folds the post-join filters
    # into the Join node) must compare both prefix positions
    assert any(
        ("Join" in ln or "Filter" in ln) and "_pa#" in ln and "_pb#" in ln
        for ln in opt.splitlines()
    ), opt


def test_unigram_lm_dp_is_jvm_expression_and_model_broadcasts(spark):
    """The unigram-LM Viterbi must be pure codegen — no Python evaluation
    anywhere in the DP — with the piece model riding a broadcast join
    (never shuffling the lattice), and the encode's corpus-side join of
    the segmented vocabulary must broadcast too.  Built on non-registry
    frames so cached InMemoryRelations can't hide the join operators."""
    from pyspark.sql import functions as F

    from tts_data_pipeline_spark.plans.corpus import (
        _uni_logp,
        _uni_spans,
        _uni_viterbi,
    )
    from tts_data_pipeline_spark.sources.readers import table

    words = (
        table(spark, SF_DIR, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    spans = _uni_spans(words)
    v = _uni_logp(
        spans.groupBy("piece").agg(
            F.sum("freq").cast("bigint").alias("cnt")
        )
    )
    seg = _uni_viterbi(words, spans, v)
    plan = seg._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1, plan

    from tts_data_pipeline_spark.plans.corpus import ta_unigram_lm_encode

    eplan = (
        ta_unigram_lm_encode(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in eplan and "ArrowEvalPython" not in eplan
    assert eplan.count("BroadcastHashJoin") >= 1, eplan


def test_perceptual_dedups_shuffle_fingerprints_not_payloads(spark):
    # the multimodal near-dup family reduces each blob to ONE/TWO BIGINT
    # fingerprints map-side; the only data shuffle is the fingerprint
    # groupBy and must never carry the decoded samples, the binary
    # payload, or the document text
    for name, keys in [
        ("mm_audio_fingerprint_dedup", "hashpartitioning(fp#"),
        ("mm_image_dhash_dedup", "hashpartitioning(dhash_lo#"),
    ]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name
        fp_exchanges = [
            ln for ln in plan.splitlines() if keys in ln
        ]
        assert fp_exchanges, (name, plan)
        for ln in fp_exchanges:
            for payload in ("content#", "samples#", "text#", "w#", "e#"):
                assert payload not in ln, (name, ln)


def test_hamming_topk_broadcasts_queries_and_shuffles_codes_only(spark):
    # binary-sign ANN: query side broadcast (8-byte codes), corpus
    # streams map-side; the single hash shuffle is the per-query top-k
    # and carries (query_id, vec_id, hamming) — never the float
    # embedding arrays or even the packed codes
    plan = plan_of(spark, "sim_hamming_topk")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    topk_exchanges = [
        ln
        for ln in plan.splitlines()
        if "hashpartitioning(query_id#" in ln
    ]
    assert topk_exchanges, plan
    for ln in topk_exchanges:
        for payload in ("embedding#", "code_lo#", "q_lo#"):
            assert payload not in ln, ln


def test_incremental_minhash_shuffles_bands_not_text(spark):
    # batch-vs-index dedup: every hash shuffle carries band keys /
    # signatures / ids — the document text never enters an exchange
    # (verification reads token sets from the probe-side broadcast)
    plan = plan_of(spark, "dedup_incremental_minhash")
    assert "CartesianProduct" not in plan
    hash_exchanges = [
        ln for ln in plan.splitlines() if "hashpartitioning(" in ln
    ]
    assert hash_exchanges, plan
    assert not any("text#" in ln for ln in hash_exchanges), hash_exchanges


def test_tpch_double_referenced_subtrees_read_cache(spark):
    """q11/q15/q17 each reference a heavy derived frame twice (the scoped
    values, the revenue CTE, the branded join); uncached, Spark rebuilds
    the lineitem scan + shuffle per reference.  Round 10 caches them via
    the registry — both references must resolve to InMemoryTableScan.
    (The printed plan still re-expands the cached build under each scan,
    so count InMemoryTableScan nodes, not parquet mentions.)"""
    for name in (
        "q11_important_value_parts",
        "q15_top_revenue_supplier",
        "q17_small_qty_revenue",
    ):
        plan = plan_of(spark, name)
        assert plan.count("InMemoryTableScan") >= 2, (name, plan)


def test_tpch_single_scan_of_lineitem_elsewhere(spark):
    """The rest of the suite reads each heavy fact once per ROLE: the only
    legitimate multi-scans are different-filter base-table re-reads with
    column pruning (q21's EXISTS profile vs probe, q22's scalar-avg twin,
    q2/q7/q8 two-role dims) — never a duplicated derived subtree.  Pin the
    single-scan queries so a refactor can't silently double one."""
    single_scan = [
        "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority_exists",
        "q5_region_revenue", "q6_forecast_revenue", "q9_profit_by_nation_year",
        "q10_returned_items", "q12_priority_shipping_buckets", "q14_promo_ratio",
        "q16_supplier_part_variety", "q18_large_volume_having",
        "q19_disjunctive_predicates", "q20_qualified_part_suppliers",
    ]
    from tests.conftest import SF_DIR
    from tts_data_pipeline_spark.plans import catalog

    for name in single_scan:
        df = catalog.queries()[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("lineitem.parquet") <= 1, (name, plan)


def test_pair_entries_plan_no_terminal_sort(spark):
    """Round-10 unordered pair contracts: a terminal global Sort on a
    pair generator re-executes the verify subtree via the
    range-partitioner's sampling pass (measured 2.2× at skew-3).  The
    catalog entries must plan NO global Sort.  (Sort inside window
    functions doesn't appear as a top-level Sort+RangePartitioning pair
    on these plans.)"""
    for name in (
        "dedup_embedding_cosine",
        "dedup_embedding_cosine_ivf",
        "dedup_fuzzy_levenshtein",
        "dedup_minhash_lsh",
        "dedup_minhash_xx64",
        "dedup_minhash_ml",
        "dedup_ngram_jaccard_bucketed",
        "dedup_shingle_containment",
    ):
        plan = plan_of(spark, name)
        assert "rangepartitioning(" not in plan.lower(), (name, plan)


def test_weighted_reservoir_is_take_ordered(spark):
    """A-ES global sampling must stay per-partition top-k (no shuffle,
    k rows per partition to the driver merge) — TakeOrderedAndProject,
    never a global Sort + Limit pair."""
    plan = plan_of(spark, "sample_weighted_reservoir")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_c15b_single_exchange_parallel_projection(spark):
    """r14: the interpreted Vietnamese-cardinal tree must project over
    the explicit range partitions, ONCE — exactly one exchange (the
    repartitionByRange, so the range sampler never re-evaluates the
    expensive projection), and the projection must not collapse below
    the exchange (where it would both serialize on the single-file scan
    partition and run again in the sampler)."""
    df = catalog.queries()["c15b_cardinal_words"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "rangepartitioning" in plan.lower(), plan
    # the cardinal projection sits ABOVE the exchange: in the physical
    # string, the Project containing the cardinal words appears before
    # (shallower than) the Exchange node
    proj_at = plan.find("tram")  # "trăm" ascii-fragment from the words
    if proj_at == -1:
        proj_at = plan.find("cardinal#")
    exch_at = plan.find("Exchange")
    assert proj_at != -1 and exch_at != -1
    assert proj_at < exch_at, plan[:2000]


def test_skyline_has_no_quadratic_join(spark):
    """agg_skyline_pareto replaces the oracle's NOT EXISTS self-join
    with two range-frame prefix-max windows: the plan must contain NO
    join of any kind (the quadratic form would appear as
    BroadcastNestedLoopJoin or CartesianProduct) and exactly one
    exchange: the brand-keyed hash exchange feeding the window."""
    plan = plan_of(spark, "agg_skyline_pareto")
    for bad in ("CartesianProduct", "BroadcastNestedLoop", "SortMergeJoin",
                "BroadcastHashJoin"):
        assert bad not in plan, (bad, plan)
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan, plan


def test_hard_negatives_broadcast_anchor_side(spark):
    """sim_hard_negative_mining must broadcast the 8-anchor side into
    the scan (never shuffle the embedding table against it) and keep
    the label filter in the same join stage, not a separate pass."""
    plan = plan_of(spark, "sim_hard_negative_mining")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_word_entropy_aggregates_partially(spark):
    """ta_word_entropy's (doc_id, word) count must partial-aggregate
    map-side before its exchange — the explode multiplies rows, and
    shipping raw exploded words would move the whole corpus through the
    shuffle."""
    plan = plan_of(spark, "ta_word_entropy")
    assert plan.count("HashAggregate") >= 4, plan  # partial+final x 2 aggs
    assert "Generate explode" in plan or "Generate posexplode" in plan or "Expand" in plan or "explode" in plan.lower(), plan


def test_attribution_single_join_pass_no_window(spark):
    """ev_attribution_last_touch's argmax must ride the max-struct
    aggregate inside the one keyed join pass — no Window operator, no
    cartesian fallback (the time predicate must stay attached to the
    user_id equi-join, not degrade the join into a nested loop)."""
    plan = plan_of(spark, "ev_attribution_last_touch")
    assert "Window" not in plan, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoop"):
        assert bad not in plan, (bad, plan)


def test_hll_union_reuses_group_sketches(spark):
    """agg_hll_union_mergeable's union row must merge the CACHED group
    sketches (InMemoryRelation in the plan), not rebuild sketches from a
    second scan of lineitem on the union side."""
    plan = plan_of(spark, "agg_hll_union_mergeable")
    assert "InMemoryTableScan" in plan, plan
    # exactly one union-side hll_union_agg aggregation over the cache
    assert "hll_union_agg" in plan.lower() or "HllUnionAgg".lower() in plan.lower(), plan


def _zipf_docs_dir(tmp_path, n_docs=120, seed=99):
    import pyarrow as pa
    import pyarrow.parquet as pq

    import sys as _sys

    _sys.path.insert(0, "tools")
    from gen_scale_data import _DOC_SCHEMA, zipf_documents

    pq.write_table(
        pa.table(zipf_documents(n_docs, seed), schema=_DOC_SCHEMA),
        str(tmp_path / "documents.parquet"),
    )
    return str(tmp_path)


def test_bpe_local_learn_matches_distributed(spark, tmp_path):
    """r14 optimization contract: when the vocabulary fits the
    local-learn dial the BPE merge selection runs in the driver — the
    merge table must be BIT-IDENTICAL to the distributed loop's (same
    seed, same (cnt DESC, pair ASC) argmax, same double-space replace
    application), pinned here by running both paths on the same
    Zipf corpus (richer vocabulary than the driver fixture) and
    requiring row-for-row equality."""
    from tts_data_pipeline_spark.conf import TOKENIZER_LOCAL_LEARN_VOCAB
    from tts_data_pipeline_spark.plans.corpus import learn_bpe_merges

    sf_dir = _zipf_docs_dir(tmp_path)
    local = learn_bpe_merges(spark, sf_dir, rounds=12).collect()
    key = TOKENIZER_LOCAL_LEARN_VOCAB[0]
    spark.conf.set(key, "1")  # vocab (>1 word) exceeds the cap -> distributed
    try:
        dist = learn_bpe_merges(spark, sf_dir, rounds=12).collect()
    finally:
        spark.conf.unset(key)
    assert len(local) == 12
    assert [tuple(r) for r in local] == [tuple(r) for r in dist]


def test_wordpiece_local_learn_matches_distributed(spark, tmp_path):
    """Same contract for the WordPiece likelihood argmax: identical
    merges, counts AND scores (the raw score is the same IEEE
    double/double division in both paths — the local loop floats the
    count product before dividing — then both engine-side round to
    9dp)."""
    from tts_data_pipeline_spark.conf import TOKENIZER_LOCAL_LEARN_VOCAB
    from tts_data_pipeline_spark.plans.corpus import learn_wordpiece_merges

    sf_dir = _zipf_docs_dir(tmp_path)
    local = learn_wordpiece_merges(spark, sf_dir, rounds=12).collect()
    key = TOKENIZER_LOCAL_LEARN_VOCAB[0]
    spark.conf.set(key, "1")
    try:
        dist = learn_wordpiece_merges(spark, sf_dir, rounds=12).collect()
    finally:
        spark.conf.unset(key)
    assert len(local) == 12
    assert [tuple(r) for r in local] == [tuple(r) for r in dist]


def test_bpe_encode_local_matches_distributed(spark, tmp_path):
    """r15 encode-crossover contract: when the vocabulary fits the
    local-learn dial, the CHUNKED BPE encode computes the merges and the
    per-word piece counts in the driver (same argmax, same double-space
    replace chain applied to the seed segmentation) and broadcasts the
    vocabulary back as a local relation — per-doc budgets must be
    row-for-row identical to the distributed chunked chain (which also
    exercises the between-chunk persist discipline)."""
    from tts_data_pipeline_spark.conf import TOKENIZER_LOCAL_LEARN_VOCAB
    from tts_data_pipeline_spark.plans.corpus import bpe_encode_corpus

    sf_dir = _zipf_docs_dir(tmp_path)
    local = bpe_encode_corpus(
        spark, sf_dir, rounds=6, chunk_size=2
    ).collect()
    key = TOKENIZER_LOCAL_LEARN_VOCAB[0]
    spark.conf.set(key, "1")
    try:
        dist = bpe_encode_corpus(
            spark, sf_dir, rounds=6, chunk_size=2
        ).collect()
    finally:
        spark.conf.unset(key)
    assert len(local) == 120
    # row sets (plans/registry.py): compare in a canonical row order
    assert sorted(map(tuple, local)) == sorted(map(tuple, dist))


def test_wordpiece_encode_local_matches_distributed(spark, tmp_path):
    """Same contract for the WordPiece greedy longest-match encode: the
    driver-side walk over the locally-built vocabulary must reproduce
    the relational jump-table walk's per-doc (n_words, n_pieces,
    n_unk_words) exactly — pure integer/string logic, no floats."""
    from tts_data_pipeline_spark.conf import TOKENIZER_LOCAL_LEARN_VOCAB
    from tts_data_pipeline_spark.plans.corpus import ta_wordpiece_encode

    sf_dir = _zipf_docs_dir(tmp_path)
    local = ta_wordpiece_encode(spark, sf_dir).collect()
    key = TOKENIZER_LOCAL_LEARN_VOCAB[0]
    spark.conf.set(key, "1")
    try:
        dist = ta_wordpiece_encode(spark, sf_dir).collect()
    finally:
        spark.conf.unset(key)
    assert len(local) == 120
    # row sets (plans/registry.py): compare in a canonical row order
    assert sorted(map(tuple, local)) == sorted(map(tuple, dist))
