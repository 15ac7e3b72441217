"""Measure scaling exponents for the most expensive catalog queries.

Runs each query at sf0.1 / sf0.3 / sf1 (all generated by
``tools/gen_scale_data.py`` — sf0.1's keyed tables byte-tile the driver's,
and EVERY point's documents come from the same seeded Zipfian ~10k-word
model, so text-stack slopes measure token-count growth under an identical
distribution rather than the driver corpus's 31-word saturation),
materializing through the ``noop`` sink (min of ``--runs`` passes guards
host noise), then fits the log-log slope of wall time vs scale factor.
Slope ~1 = linear scaling; <1 = fixed per-job overhead still dominates at
these sizes; >1 = superlinear — a plan that will not survive 100 TB and
needs a named cause.

Wall times INCLUDE per-query fixed costs (job scheduling, codegen,
driver-side model-state rounds), so small-t queries read as sublinear;
the slope is a lower bound on asymptotic behavior and the interesting
signal is any slope meaningfully ABOVE 1.

Queries in ``SF3_QUERIES`` get one more decade: an sf3 point
(documents/events/embeddings tiles only).

Queries driving ``connected_components`` also report, per scale, its
run record under the job group each query and scale runs in: the
star-round count, and for pre-contracted runs the forest edge count that
gated the local finish (``n_edges``) and the contraction passes run
(``contractions``).  Wall time is rounds x per-round cost and rounds grow
~log² n, so a slope without the round count can overstate per-round
scaling; a local-finish run has 0 rounds, and its ``n_edges`` says how
close it came to the star loop.

Usage: python tools/scaling_curve.py [--runs 2] [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tts_data_pipeline_spark.plans import catalog  # noqa: E402
from tts_data_pipeline_spark.session import get_spark, run_stats  # noqa: E402

DEFAULT_QUERIES = [
    "dedup_embedding_cosine_ivf",
    "dedup_semdedup",
    "dedup_clusters",
    "ta_bpe_learn_merges",
    "ta_bpe_encode",
    "ta_perplexity_bigram",
    "dedup_semantic_clusters",
    "dedup_semantic_clusters_ivf",
    "w11_gap_fill_ffill",
    "q21_multi_supplier_pending",
    "emb_kmeans_lloyd",
    "ta_trigram_lang_id",
    "graph_pagerank_trade",
    "ta_bigram_pmi",
    "ta_tfidf_topterms",
    "dedup_minhash_lsh",
    "dedup_minhash_survivors",
    "dedup_substring_spans",
    "ta_decontaminate_eval",
    "sim_ivf_topk",
    "dedup_paragraph_exact",
    "pipeline_e2e_curation",
    "q1_pricing_summary",
    # round-11 addition: near-dup pairs -> CC -> rep-hash split; the
    # exact-Jaccard form and its banded MinHash twin (the scale path)
    "split_leakage_safe",
    "split_leakage_safe_minhash",
    # round-13 family representatives: sort-based blocking dedup (range-
    # partitioned rank) and its two-pass twin
    "dedup_sorted_neighborhood",
    "dedup_snm_multipass",
]

SCALES = [
    (0.1, "/tmp/scaledata/sf0.1"),
    (0.3, "/tmp/scaledata/sf0.3"),
    (1.0, "/tmp/scaledata/sf1"),
]
SF3 = (3.0, "/tmp/scaledata/sf3")
# documents-only fifth decade (round-11, gen_scale_data --extra): the
# tokenizer encodes are the slowest stable bench entries and their
# theory says the DISTINCT-WORD working set (the expensive codegen-fold
# side) grows sublinearly while the corpus side is one linear pass —
# the sf10d point pins that in practice.
SF10D = (10.0, "/tmp/scaledata/sf10d")
SF10D_QUERIES = {
    "ta_bpe_encode_chunked",
    "ta_wordpiece_encode",
    "ta_unigram_lm_encode",
    # round-12 (r11 verdict #3): the banded dedup/split family — the
    # actual 100 TB flagship — gets the same fourth decade the tokenizer
    # encodes got in r11 (500k docs, documents-only tile)
    "split_leakage_safe_minhash",
    "dedup_minhash_survivors",
}
# embeddings-only ×100 tile (gen_scale_data --extra): the SemDeDup
# decade — cell count k ∝ n doubles ~3 more times, so this point checks
# the per-cell-population-constant claim where the codebook itself is
# 10× bigger
SF10E = (10.0, "/tmp/scaledata/sf10e")
SF10E_QUERIES = {
    "dedup_semdedup",
}
# sf3 has documents + events + embeddings only (gen_scale_data
# documents_only tiles); queries here must read nothing else.  The three
# round-6 additions are the near-linear rows (slopes 0.98/0.90/0.89 at
# sf1) where one more decade makes a future regression above 1.0
# visible; the round-8 embedding-dedup rows exercise one more doubling
# of the adaptive cell/precision policies (61k vectors).
SF3_QUERIES = {
    "dedup_embedding_cosine",
    "dedup_semantic_clusters",
    "dedup_semantic_clusters_ivf",
    # documents-only entry; fourth decade for the banded split twin
    "split_leakage_safe_minhash",
    "dedup_semdedup",
    "dedup_embedding_cosine_ivf",
    "ta_trigram_lang_id",
    "dedup_substring_spans",
    "ta_decontaminate_eval",
    "dedup_minhash_survivors",
    "pipeline_e2e_curation",
    "mm_audio_book_concat",
    "w11_gap_fill_ffill",
    "ta_winnow_fingerprints",
}


def _fit_slope(times: dict[float, float]) -> float:
    xs = [math.log(sf) for sf in times]
    ys = [math.log(max(t, 1e-3)) for t in times.values()]
    mx = sum(xs) / len(xs)
    my = sum(ys) / len(ys)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )


# Skew-sensitive operators measured on the skewed-KEY replicas
# (gen_scale_data.make_skewed: Zipf(1.1) histograms on events.user_id /
# orders.o_custkey / lineitem.l_orderkey, same rows and schemas).
# dedup_clusters is deliberately absent: its shuffle key is the FastSS
# band signature DERIVED FROM CONTENT, and the Zipf document corpus
# already skews content — its uniform-table rows ARE its skewed-key
# rows.
SKEW_QUERIES = [
    "j8_salted_skew_join",
    "ev_funnel_steps",
    "w11_gap_fill_ffill",
    "w3_sessionize",
    "w2_topk_per_group",
    # label-skew decade (round-10): make_skewed Zipfs embeddings.label,
    # the blocking key of the exact cosine verify — candidate mass
    # Θ(bucket²) concentrates in the hot bucket
    "dedup_embedding_cosine",
    "dedup_semantic_clusters",
    # label-skew IMMUNITY claim (round-10 headline, harnessed in r11 per
    # the verdict): the IVF twin's blocking keys are data-derived
    # (cell, sub-bucket) — embeddings.label never enters the plan, so
    # its skew rows must track its uniform rows.  Re-measure the claim
    # in one command instead of ad-hoc scripts.
    "dedup_semantic_clusters_ivf",
]
SKEW_SCALES = [
    (0.1, "/tmp/scaledata/skew-0.1"),
    (0.3, "/tmp/scaledata/skew-0.3"),
    (1.0, "/tmp/scaledata/skew-1"),
]
SKEW_SF3 = (3.0, "/tmp/scaledata/skew-3")
# events-only queries get the skewed fourth decade (skew-3 carries only
# the events table — its source sf3 dir is documents_only+events)
SKEW_SF3_QUERIES = {
    "w11_gap_fill_ffill",
    "w3_sessionize",
    "ev_funnel_steps",
    "dedup_embedding_cosine",
    "dedup_semantic_clusters",
    "dedup_semantic_clusters_ivf",
}


def main() -> None:
    runs = 2
    skew = False
    args = sys.argv[1:]
    while args and args[0] in ("--runs", "--skew"):
        if args[0] == "--runs":
            runs = int(args[1])
            args = args[2:]
        else:
            skew = True
            args = args[1:]
    names = args or (SKEW_QUERIES if skew else DEFAULT_QUERIES)
    queries = catalog.queries()
    spark = get_spark(
        "scaling_curve", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    # warm the session once so the first measured query doesn't pay JVM
    # startup
    queries["q1_pricing_summary"](spark, SCALES[0][1]).write.format(
        "noop"
    ).mode("overwrite").save()

    results = {}
    for name in names:
        fn = queries[name]
        if skew:
            scales = SKEW_SCALES + (
                [SKEW_SF3] if name in SKEW_SF3_QUERIES else []
            )
        else:
            scales = SCALES + ([SF3] if name in SF3_QUERIES else [])
            if name in SF10D_QUERIES and os.path.isdir(SF10D[1]):
                scales = scales + [SF10D]
            if name in SF10E_QUERIES and os.path.isdir(SF10E[1]):
                scales = scales + [SF10E]
        times: dict[float, float] = {}
        cc: dict[float, dict] = {}
        for sf, d in scales:
            best = math.inf
            spark.sparkContext.setJobGroup(f"{name}@sf{sf}", name)
            for _ in range(runs):
                t0 = time.time()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            times[sf] = round(best, 3)
            try:
                stats = run_stats(spark, "connected_components")
            except LookupError:  # the query runs no connected_components
                continue
            cc[sf] = {
                k: stats[k]
                for k in ("rounds", "n_edges", "contractions")
                if k in stats
            }
        results[name] = {"times": times, "slope": round(_fit_slope(times), 2)}
        if cc:
            results[name]["cc"] = cc
        print(json.dumps({"query": name, **results[name]}), flush=True)
    print(
        "\n| query | sf0.1 s | sf0.3 s | sf1 s | sf3 s | sf10 s "
        "| slope | cc rounds / n_edges / contractions |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for name, r in sorted(results.items(), key=lambda kv: -kv[1]["slope"]):
        t = r["times"]
        cc = "; ".join(
            f"sf{sf}: " + " / ".join(
                str(st.get(k, "—")) for k in ("rounds", "n_edges", "contractions")
            )
            for sf, st in r.get("cc", {}).items()
        )
        print(
            f"| `{name}` | {t[0.1]} | {t[0.3]} | {t[1.0]} "
            f"| {t.get(3.0, '—')} | {t.get(10.0, '—')} | {r['slope']} "
            f"| {cc or '—'} |"
        )


if __name__ == "__main__":
    main()
