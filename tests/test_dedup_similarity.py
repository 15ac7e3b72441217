"""Behavioral tests for dedup and similarity operators on crafted inputs:
MinHash-LSH must find planted near-dups, SimHash must agree on identical
docs and differ on unrelated ones, LSH-ANN recall is measured against the
brute-force baseline."""

from __future__ import annotations

import random

import pytest as _pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tts_data_pipeline_spark.operators import dedup as D
from tts_data_pipeline_spark.operators import similarity as S
from tts_data_pipeline_spark.session import run_stats


def _corpus(spark):
    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(200)]
    docs = []
    for i in range(30):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(60))))
    # planted near-dups: 100/101 differ by one word; 102 == 103 exactly
    base = " ".join(rng.choice(vocab) for _ in range(60))
    docs.append((100, base))
    docs.append((101, base.replace("tok", "tok", 1) + " extraword"))
    docs.append((102, base + " tailA tailB"))
    docs.append((103, base + " tailA tailB"))
    return spark.createDataFrame(docs, ["doc_id", "text"])


def test_substring_span_dedup_semantics_on_crafted_corpus(spark, tmp_path):
    # pins the Lee-et-al. semantics independent of the DuckDB oracle
    # (both engines could share a misreading): keep the globally-first
    # occurrence, excise every later one, merge overlapping duplicate
    # windows into one maximal span, and catch WITHIN-doc repetition
    from tts_data_pipeline_spark.plans.corpus import dedup_substring_spans

    docs = [
        (0, "a b c d e f x y z p q r"),  # first occurrence of "a b c d e f"
        (1, "c d e f g h u v w q1 q2 q3"),  # first occ. of "c d e f g h"
        (5, "a b c d e f g h t1 t2 t3 t4"),  # both 6-grams again, OVERLAPPING
        (6, "r1 r2 r3 r4 r5 r6 r1 r2 r3 r4 r5 r6"),  # self-repetition
    ]
    # the full declared documents table: a missing column fails the read
    spark.createDataFrame(
        [(i, t, "vi", "crafted", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in dedup_substring_spans(spark, str(tmp_path)).collect()
    }
    # first occurrences survive untouched
    assert out[0].removed_tokens == 0 and out[0].n_spans == 0
    assert out[0].new_text == docs[0][1]
    assert out[1].removed_tokens == 0
    # doc 5: dup windows start at 0 ("a b c d e f") and 2 ("c d e f g h");
    # covers merge into ONE span over tokens 0..7
    assert out[5].n_spans == 1
    assert out[5].removed_tokens == 8
    assert out[5].new_text == "t1 t2 t3 t4"
    # doc 6: the second copy of the repeated 6-gram is excised, first kept
    assert out[6].n_spans == 1
    assert out[6].removed_tokens == 6
    assert out[6].new_text == "r1 r2 r3 r4 r5 r6"


def test_minhash_lsh_finds_planted_dups(spark):
    df = _corpus(spark)
    pairs = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(df, jaccard_threshold=0.7).collect()
    }
    assert (102, 103) in pairs
    assert (100, 101) in pairs or (100, 102) in pairs  # near-dups of base
    # unrelated random docs don't flood the result
    assert all(a >= 100 or b >= 100 for a, b in pairs), pairs


def test_ngram_jaccard_salted_matches_unsalted(spark):
    """The triangle salt decomposition must be a pure plan-shape change:
    results bit-identical for any salt width, including the degenerate
    S=1 (the original single-cell self-join)."""
    df = _corpus(spark).withColumn("bucket", F.col("doc_id") % 2)
    results = {}
    for s in (1, 3, 8):
        results[s] = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in D.ngram_jaccard_pairs(
                df,
                bucket_cols=("bucket",),
                threshold=0.1,
                pair_salt=s,
                prefix_filter=False,
            ).collect()
        )
    assert results[1] == results[3] == results[8]
    assert len(results[1]) > 0
    assert all(a < b for a, b, _ in results[1])
    # the AllPairs prefix filter (+ the round-11 PPJoin positional
    # filter riding inside it) is a pure candidate bound: identical
    # output to the exhaustive enumeration at any threshold — 0.9
    # exercises the α-bound boundary where near-identical sets must
    # survive the positional prune
    for t in (0.1, 0.5, 0.9):
        exhaustive = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in D.ngram_jaccard_pairs(
                df, bucket_cols=("bucket",), threshold=t, prefix_filter=False
            ).collect()
        )
        filtered = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in D.ngram_jaccard_pairs(
                df, bucket_cols=("bucket",), threshold=t, prefix_filter=True
            ).collect()
        )
        assert filtered == exhaustive, t


def test_ngram_jaccard_pair_budget(spark):
    """No salt cell may carry more than ~(B/S)^2 candidate pairs where B is
    the biggest bucket — the reducer-skew bound that motivates the salting.
    Replicates the operator's cell assignment on the sf0.001 documents
    table with its catalog bucketing (lang, size_bucket)."""
    import math

    from tts_data_pipeline_spark.sources.readers import table

    S = 8
    d = (
        table(spark, SF_DIR, "documents")
        .withColumn("size_bucket", F.floor(F.col("n_chars") / 100.0).cast("long"))
        .select(
            "doc_id",
            "lang",
            "size_bucket",
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(S)).cast("int").alias("salt"),
        )
    )
    per_salt = (
        d.groupBy("lang", "size_bucket", "salt").count().collect()
    )
    buckets: dict[tuple, dict[int, int]] = {}
    for r in per_salt:
        buckets.setdefault((r.lang, r.size_bucket), {})[r.salt] = r["count"]
    b_max = max(sum(cells.values()) for cells in buckets.values())
    naive_worst = b_max * (b_max - 1) // 2
    budget = 4 * math.ceil(b_max / S) ** 2  # slack for salt imbalance
    worst_cell = 0
    for cells in buckets.values():
        for i in range(S):
            for j in range(i, S):
                ci, cj = cells.get(i, 0), cells.get(j, 0)
                pairs = ci * (ci - 1) // 2 if i == j else ci * cj
                worst_cell = max(worst_cell, pairs)
    assert worst_cell <= budget, (worst_cell, budget, b_max)
    assert worst_cell * 8 < naive_worst, (worst_cell, naive_worst)


def test_exact_dedup_representative(spark):
    df = _corpus(spark)
    groups = D.exact_dedup(df).collect()
    dup_groups = [g for g in groups if g.n_copies > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0].keep_id == 102 and dup_groups[0].n_copies == 2


def test_simhash_properties(spark):
    df = _corpus(spark)
    rows = {r.doc_id: r.sh for r in df.select(
        "doc_id", D.simhash64(F.col("text")).alias("sh")).collect()}
    assert rows[102] == rows[103]  # identical docs, identical fingerprint
    # near-dups are close in hamming distance; unrelated docs far
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(rows[100], rows[102]) <= 12
    assert ham(rows[0], rows[1]) > 12


def test_simhash_golden_fingerprints(spark):
    """Pin exact fingerprints so the batch-vectorized rewrite (and any
    future one) provably preserves the per-row algorithm's outputs —
    values computed with the original per-row implementation."""
    cases = [
        ("the quick brown fox jumps over the lazy dog", 1788073569399355415),
        ("the quick brown fox jumped over the lazy dog", 1932188420320407575),
        ("một hai ba bốn năm", 7794615271055579771),
        ("x", 5395104992458594383),
        ("", 0),
        (None, 0),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], ["i", "text"]
    )
    got = {r.i: r.sh for r in df.select(
        "i", D.simhash64(F.col("text")).alias("sh")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i][0], got[i])


def _vectors(spark, n=80, dim=16):
    rng = random.Random(3)
    rows = []
    for i in range(n):
        rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    return df.withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )


def test_bruteforce_topk_shape_and_selfexclusion(spark):
    em = _vectors(spark)
    q = em.filter(F.col("vec_id") < 3)
    out = S.brute_force_topk(em, q, k=4).collect()
    assert len(out) == 12
    for r in out:
        assert r.query_id != r.neighbor_id
        assert 1 <= r.rank <= 4
        assert -1.0001 <= r.cosine_sim <= 1.0001


def test_lsh_ann_recall_vs_bruteforce(spark):
    em = _vectors(spark, n=120, dim=16)
    q = em.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(em, q, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.lsh_ann_topk(em, q, k=3, n_planes=4, dim=16).collect()
    }
    # few planes -> large buckets -> decent recall; exact bar would be flaky,
    # but finding SOME true neighbors and never a self-match is structural
    assert len(approx & exact) >= 3
    assert all(a != b for a, b in approx)


def test_ivf_recall_vs_brute_force(spark):
    """IVF ANN must recover most of the exact top-5 neighbors — recall@5
    measured against the brute-force baseline on the same queries.

    Calls the operator directly with parameters sized to the tiny sf0.001
    corpus (~200 vectors): 8 cells × 4 probes ≈ half the corpus scanned per
    query.  The catalog query's 32×2 configuration targets sf0.01+ where a
    6% probe fraction is the point of the index; its Spark/DuckDB parity is
    covered by the driver sweep."""
    from tts_data_pipeline_spark.operators.similarity import ivf_topk
    from tts_data_pipeline_spark.sources.readers import table

    em = table(spark, SF_DIR, "embeddings")
    q = em.filter(F.col("vec_id") < 8)
    exact = {}
    for r in S.brute_force_topk(em, q, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in ivf_topk(
        em, query_pred=F.col("vec_id") < 8, k=5, n_centroids=8, nprobe=4
    ).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    avg_recall = sum(recalls) / len(recalls)
    # 4-of-8-cells probe on random vectors: recall well above chance
    assert avg_recall >= 0.4, f"IVF recall@5 too low: {avg_recall:.2f} ({recalls})"


def test_ivf_plan_has_no_big_side_window(spark):
    """The assignment stage must NOT materialize n×k rows under a window —
    the plan should show exactly one Window (the final per-query top-k) and
    broadcast exchanges for codebook + probes."""
    from tts_data_pipeline_spark.operators.similarity import ivf_topk
    from tts_data_pipeline_spark.sources.readers import table

    em = table(spark, SF_DIR, "embeddings")
    plan = (
        ivf_topk(em, query_pred=F.col("vec_id") < 8, n_centroids=8, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # WindowGroupLimit nodes are the rank<=k pushdown, not extra windows
    assert plan.count("windowspecdefinition") == 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ngram_jaccard_probe_picks_path_by_vocab_richness(spark):
    """The auto mode's sampled probe must choose prefix filtering on a
    rich-vocabulary corpus and the exhaustive enumeration on a
    near-universal one (where rarity ordering can't discriminate)."""
    rich = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3}", 0) for i in range(60)],
        ["doc_id", "text", "bucket"],
    )
    D.ngram_jaccard_pairs(rich, bucket_cols=("bucket",)).collect()
    plan = run_stats(spark, "ngram_jaccard_pairs")
    assert plan["prefix_filter"] is True, plan

    degenerate = spark.createDataFrame(
        [(i, "aa bb cc dd", 0) for i in range(60)],
        ["doc_id", "text", "bucket"],
    )
    D.ngram_jaccard_pairs(degenerate, bucket_cols=("bucket",)).collect()
    plan = run_stats(spark, "ngram_jaccard_pairs")
    assert plan["prefix_filter"] is False, plan
    assert plan["sampled_vocab"] == 4


def test_cache_registry_reuses_same_plan_replaces_changed(spark):
    """cache_replacing must hand back the stored frame on a same-plan
    reinvocation (repeat queries keep hitting materialized data) and
    unpersist the old base when the plan changes (no accumulation across
    table dirs in a long session)."""
    from tts_data_pipeline_spark import cachereg

    a1 = spark.range(100).selectExpr("id", "id * 2 AS v")
    c1 = cachereg.cache_replacing("t_reg", a1)
    c1.count()
    assert c1.storageLevel.useMemory
    # same plan, new DataFrame object -> the STORED frame comes back
    a2 = spark.range(100).selectExpr("id", "id * 2 AS v")
    c2 = cachereg.cache_replacing("t_reg", a2)
    assert c2 is c1
    # different plan -> old unpersisted, new cached
    b = spark.range(100).selectExpr("id", "id * 3 AS v")
    c3 = cachereg.cache_replacing("t_reg", b)
    c3.count()
    assert not c1.storageLevel.useMemory
    assert c3.storageLevel.useMemory
    c3.unpersist()
    del cachereg._CACHED["t_reg"]


def test_minhash_signature_components_are_independent_and_seeded(spark):
    """Regression for the (element, index) two-parameter lambda trap:
    PySpark hands `lambda h, j=j: ...` the higher-order (element, index)
    form even though j is defaulted, which silently collapsed all 64
    signature components to one single-hash min.  Pin (a) component
    independence for the xxhash64 production signature, and (b) the md5
    twin's components to literal hashlib-computed seeded values — a third
    implementation besides Spark and the DuckDB oracle."""
    import hashlib

    from pyspark.sql import functions as F

    from tts_data_pipeline_spark.operators.dedup import (
        minhash_signature,
        shingle_hashes,
    )

    df = spark.createDataFrame(
        [(["a", "b", "c", "d", "e", "f", "g", "h"],)], "toks: array<string>"
    )
    sig = df.select(
        minhash_signature(shingle_hashes(F.col("toks"), 5), 16).alias("s")
    ).collect()[0]["s"]
    assert len(set(sig)) > 1, f"degenerate signature (all equal): {sig[:3]}"

    # streaming md5 path end-to-end: the emitted signature set must contain
    # the hashlib-computed signature of a known document
    import duckdb

    from tests.conftest import SF_DIR
    from tts_data_pipeline_spark.plans.corpus import _UNI_MAX_WORD  # noqa: F401
    from tts_data_pipeline_spark.streaming.events import (
        run_stream_dedup_minhash,
    )

    text = duckdb.sql(
        f"SELECT text FROM '{SF_DIR}/documents.parquet' WHERE doc_id = 0"
    ).fetchone()[0]
    words = text.strip().lower().split(" ")

    def md5long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # one-permutation MinHash: one md5 per WORD, 3-gram shingle hash
    # combined arithmetically (4a + 2b + c), bins by h % 8, min per bin,
    # max-long sentinel for empty bins
    wh = [md5long(t) for t in words]
    hs = [
        wh[i] * 4 + wh[i + 1] * 2 + wh[i + 2]
        for i in range(len(wh) - 2)
    ]
    expected = tuple(
        min((h for h in hs if h % 8 == j), default=2**63 - 1)
        for j in range(8)
    )
    out = run_stream_dedup_minhash(spark, SF_DIR)
    rows = {tuple(r) for r in out.collect()}
    assert expected in rows


def test_ivf_dedup_recall_vs_exact(spark, tmp_path):
    """Recall measurement for the SHIPPED ``dedup_embedding_cosine_ivf``
    (not a numpy model of it) against the UNBUCKETED exact all-pairs
    ground truth, in two bands:

    1. **Driver table, recall@0.40, nprobe ladder** — every qualifying
       pair in the shipped embeddings sits in cosine [0.40, 0.60):
       ~66-degree angles, the adversarial band for ANY partition-based
       candidate scheme (these are not near-dups; nprobe multiple
       assignment is the knob that buys this band, at candidate-fraction
       cost: measured nprobe=1/2/4 → recall 0.182/0.409/0.742 at
       candidates 3%/12%/42% of all pairs — PLANS.md carries the
       fraction ladder).  Pin the measured floors and the monotone
       ladder, not a wish; also pin ZERO false candidates above
       threshold (the verify stage is exact, so extras would mean a
       broken sim fold, not loose banding).
    2. **Planted near-dups** (cosine ≥ 0.99 — what a DEDUP operator must
       catch): recall is limited only by Voronoi-boundary splits of the
       32-sample codebook; the shipped nprobe=2 default catches the
       boundary splits single-probe missed (measured 1.00 on this seed
       vs 0.90 at nprobe=1).  Pin ≥ 0.95.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tts_data_pipeline_spark.plans.coverage import dedup_embedding_cosine_ivf

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    v = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    ids = np.array(t.column("vec_id").to_pylist())
    n = len(ids)
    nrm = np.sqrt((v * v).sum(1))

    # --- band 1: driver table, exact all-pairs ground truth at 0.40
    sim_raw = (v @ v.T) / np.maximum(np.outer(nrm, nrm), 1e-12)
    sim = np.round(sim_raw, 6)
    iu = np.triu_indices(n, 1)
    hit = sim[iu] >= 0.40
    truth = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[0][hit]], ids[iu[1][hit]])
    }
    # boundary slack: pairs whose UNROUNDED cosine sits within 2e-6 of
    # the 0.40 threshold can legitimately land on either side across
    # engines (numpy matmul vs Spark's sequential fold sum in different
    # orders; np.round is half-even, Spark ROUND half-up) — admit them
    # in the containment check without counting them as recall truth
    nearb = np.abs(sim_raw[iu] - 0.40) <= 2e-6
    slack = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[0][nearb]], ids[iu[1][nearb]])
    }
    assert truth, "driver corpus lost its >=0.40 pairs — rebase the test"
    recalls = {}
    for p in (1, 2, 4):
        got = {
            (int(r.id_a), int(r.id_b))
            for r in dedup_embedding_cosine_ivf(spark, SF_DIR, nprobe=p).collect()
        }
        assert got <= truth | slack, (
            f"nprobe={p}: pairs above threshold not in truth"
        )
        recalls[p] = len(got & truth) / len(truth)
    assert recalls[1] <= recalls[2] <= recalls[4], recalls
    assert recalls[1] >= 0.10, recalls
    assert recalls[2] >= 0.35, recalls
    assert recalls[4] >= 0.65, recalls

    # --- band 2: planted near-dups in a synthetic sf_dir
    rng = np.random.default_rng(7)
    k = 100
    pert = v[:k] + rng.normal(0.0, 0.05 * v.std(), (k, v.shape[1]))
    planted_ids = ids.max() + 1 + np.arange(k)
    labels = np.array(t.column("label").to_pylist())
    pq.write_table(
        pa.table(
            {
                "vec_id": np.concatenate([ids, planted_ids]).astype(np.int64),
                "embedding": pa.array(
                    [[float(x) for x in row] for row in np.vstack([v, pert])],
                    type=pa.list_(pa.float32()),
                ),
                "label": np.concatenate([labels, labels[:k]]),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    pairs = {
        (int(r.id_a), int(r.id_b))
        for r in dedup_embedding_cosine_ivf(spark, str(tmp_path)).collect()
    }
    planted = {
        (int(min(a, b)), int(max(a, b))) for a, b in zip(ids[:k], planted_ids)
    }
    recall_planted = len(pairs & planted) / len(planted)
    assert recall_planted >= 0.95, recall_planted


def test_decontaminate_semantic_empty_eval_keeps_all_training_rows(
    spark, tmp_path
):
    """Empty-benchmark edge (round-4/5/6 advice): when no vector matches
    the eval predicate (vec_id % 97 == 0), the left-broadcast pair fold
    must return EVERY training row with contaminated=0 — an empty
    benchmark means "nothing is contaminated", never "the corpus
    vanished".  Crafted corpus: 40 vectors, ids 1..40, none divisible by
    97."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tts_data_pipeline_spark.plans.corpus import ta_decontaminate_semantic

    rng = np.random.default_rng(3)
    ids = np.arange(1, 41, dtype=np.int64)
    pq.write_table(
        pa.table(
            {
                "vec_id": ids,
                "embedding": pa.array(
                    [[float(x) for x in row] for row in rng.normal(0, 1, (40, 64))],
                    type=pa.list_(pa.float32()),
                ),
                "label": np.zeros(40, dtype=np.int32),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    rows = ta_decontaminate_semantic(spark, str(tmp_path)).collect()
    assert len(rows) == 40
    assert all(r.contaminated == 0 for r in rows)
    assert all(r.max_cos is None for r in rows)


def test_ivf_codebook_kmeans_vs_sample_measurement():
    """Round-6 verdict #2 optional lift, measured: a k-means codebook
    (same deterministic md5-order init, 5 numpy Lloyd iterations) vs the
    operator's md5-sample codebook, on cell balance and recall.

    Measured on this corpus/seed: planted-near-dup recall 0.91 → 1.00,
    cell-size std 3.8 → 3.3, recall@0.40 0.182 → 0.197.  The deltas are
    real but the sample codebook already clears the operator's pinned
    floors; wiring Lloyd into the catalog entry would require replaying
    k=32 iterative centroid updates inside the DuckDB oracle — the
    documented trade in the operator docstring.  This test pins the
    MEASUREMENT so the recorded numbers can't drift from the corpus."""
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    v = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    ids = np.array(t.column("vec_id").to_pylist())
    n = len(ids)
    nrm = np.sqrt((v * v).sum(1))

    def assign(cv, x, xn):
        cn = np.sqrt((cv * cv).sum(1))
        cs = (x @ cv.T) / np.maximum(np.outer(xn, cn), 1e-12)
        return np.argmax(cs, axis=1)

    order = sorted(
        range(n),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )
    cv_sample = v[order[:32]]
    cv_kmeans = cv_sample.copy()
    for _ in range(5):
        a = assign(cv_kmeans, v, nrm)
        for c in range(32):
            members = v[a == c]
            if len(members):
                cv_kmeans[c] = members.mean(0)

    rng = np.random.default_rng(7)
    pert = v[:100] + rng.normal(0.0, 0.05 * v.std(), (100, v.shape[1]))
    pn = np.sqrt((pert * pert).sum(1))

    stats = {}
    for name, cv in [("sample", cv_sample), ("kmeans", cv_kmeans)]:
        a = assign(cv, v, nrm)
        planted = (a[:100] == assign(cv, pert, pn)).mean()
        stats[name] = (np.bincount(a, minlength=32).std(), planted)

    # k-means must not be WORSE on either axis (it measured strictly
    # better); equality slack covers future corpus regeneration
    assert stats["kmeans"][0] <= stats["sample"][0] + 0.5, stats
    assert stats["kmeans"][1] >= stats["sample"][1] - 0.02, stats
    # and the sample codebook keeps clearing the operator's own floor
    assert stats["sample"][1] >= 0.85, stats


def test_containment_prefix_equals_exhaustive_and_probe_picks_prefix(spark):
    """The containment prefix filter (probe prefix × FULL index) must be
    candidate-complete: identical (id_a, id_b, containment) rows to the
    salted exhaustive enumeration.  And on the shingle vocabulary the
    auto-probe must take the prefix path (sequences are rich even over
    the driver's 31-word token vocabulary) — the opposite decision from
    the token-level Jaccard twin."""
    from tts_data_pipeline_spark.operators.dedup import shingle_containment_pairs
    from tts_data_pipeline_spark.sources import table

    d = table(spark, SF_DIR, "documents")
    auto = sorted(
        (r.id_a, r.id_b, r.containment)
        for r in shingle_containment_pairs(
            d, bucket_cols=("lang",), threshold=0.8
        ).collect()
    )
    assert run_stats(spark, "shingle_containment_pairs")["prefix_filter"] is True
    exhaustive = sorted(
        (r.id_a, r.id_b, r.containment)
        for r in shingle_containment_pairs(
            d, bucket_cols=("lang",), threshold=0.8, prefix_filter=False
        ).collect()
    )
    assert auto == exhaustive
    assert auto, "threshold must be live on the test corpus"


def test_ivf_assign_hier_invariant_to_input_partitioning(spark):
    """The two-level assignment must be a pure function of the DATA: the
    md5-ordered codebook prefixes are TakeOrdered results and every
    argmax ties to the smallest id, so repartitioning the input (13
    skewed partitions vs the scan default) may not move a single vector
    between cells — the determinism a 1000-executor run needs."""
    from tts_data_pipeline_spark.operators.similarity import ivf_assign_hier
    from tts_data_pipeline_spark.sources.readers import table

    em = table(spark, SF_DIR, "embeddings")
    base = {
        r.vec_id: (r.cell, r.centroid_sim)
        for r in ivf_assign_hier(em, 16).select(
            "vec_id", "cell", "centroid_sim"
        ).collect()
    }
    shuffled = {
        r.vec_id: (r.cell, r.centroid_sim)
        for r in ivf_assign_hier(em.repartition(13, "label"), 16)
        .select("vec_id", "cell", "centroid_sim")
        .collect()
    }
    assert base == shuffled
    # and the distributed-codebook strategy lands the same assignment
    dist = {
        r.vec_id: (r.cell, r.centroid_sim)
        for r in ivf_assign_hier(em, 16, codebook="distributed")
        .select("vec_id", "cell", "centroid_sim")
        .collect()
    }
    assert base == dist


@_pytest.mark.parametrize("grid_s", [None, 3, 13])
@_pytest.mark.parametrize("skew_labels", [False, True])
def test_grid_blocked_pairs_match_naive_all_pairs(spark, grid_s, skew_labels):
    """The grid-blocked self-join (round-9 parallelism fix: 10 label
    keys capped the sf3 verify at 7 tasks) must emit EXACTLY the naive
    label-bucketed all-pairs output — every unordered pair once, ids
    ordered, cosine identical — including pairs whose hash blocks are
    equal, cross, and in reversed id order.  Parameterized over the
    spark.graft.cosine.grid_s conf dial (round-10): S is physical-only,
    so the shipped default (None = 8), a smaller S, and a larger
    non-divisor S must all produce the identical pair set."""
    import itertools

    import numpy as np

    from tts_data_pipeline_spark.plans import coverage as C

    rng = np.random.default_rng(23)
    n = 120
    base = rng.normal(size=(12, 16))
    vecs = base[np.arange(n) % 12] + rng.normal(scale=0.35, size=(n, 16))
    # skewed case: one label carries ~67% of rows, so the adaptive grid
    # assigns it a LARGER per-label S — the pair set must stay identical
    lab = (lambda i: i % 3) if not skew_labels else (
        lambda i: i % 3 if i % 3 else 0 if i % 2 else 1
    )
    rows = [(int(i), lab(i), [float(x) for x in vecs[i]]) for i in range(n)]
    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile, os

    d = tempfile.mkdtemp(prefix="gridpairs_")
    pq.write_table(
        pa.table(
            {
                "vec_id": [r[0] for r in rows],
                "embedding": pa.array(
                    [r[2] for r in rows], type=pa.list_(pa.float32())
                ),
                "label": pa.array([r[1] for r in rows], pa.int32()),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )
    if grid_s is not None:
        spark.conf.set("spark.graft.cosine.grid_s", str(grid_s))
    try:
        got = {
            (r.id_a, r.id_b): r.cosine_sim
            for r in C._embedding_cosine_pairs(spark, d).collect()
        }
    finally:
        if grid_s is not None:
            spark.conf.unset("spark.graft.cosine.grid_s")
    # naive ground truth from the same float32-truncated vectors
    v64 = np.array(
        pa.parquet.read_table(os.path.join(d, "embeddings.parquet"))
        .column("embedding")
        .to_pylist(),
        dtype=np.float64,
    )
    want = {}
    for i, j in itertools.combinations(range(n), 2):
        if lab(i) != lab(j):
            continue
        c = float(
            np.round(
                v64[i] @ v64[j]
                / max(
                    np.sqrt(v64[i] @ v64[i]) * np.sqrt(v64[j] @ v64[j]),
                    1e-12,
                ),
                6,
            )
        )
        if c >= 0.40:
            want[(i, j)] = c
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 2e-6, (k, got[k], want[k])


def test_semantic_apply_survivors_drops_planted_copies(spark, tmp_path):
    """End-to-end survivor semantics at the vector layer: 100 planted
    near-identical copies (cosine >= 0.99 to their originals) must be
    DROPPED by dedup_semantic_apply_survivors — the IVF pair stage finds
    the pair (nprobe=2 planted-near-dup recall measured 1.00), the
    closure puts copy and original in one component, and the copy
    (larger id) is never the min representative.  Rows never in any
    pair survive untouched."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tts_data_pipeline_spark.plans.coverage import (
        dedup_semantic_apply_survivors,
    )

    t = pq.read_table("/root/testdata/sf0.01/embeddings.parquet")
    v = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    ids = np.array(t.column("vec_id").to_pylist())
    rng = np.random.default_rng(7)
    k = 100
    pert = v[:k] + rng.normal(0.0, 0.01 * v.std(), (k, v.shape[1]))
    planted_ids = ids.max() + 1 + np.arange(k)
    labels = np.array(t.column("label").to_pylist(), dtype=np.int32)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.concatenate([ids, planted_ids]).astype(np.int64),
                "embedding": pa.array(
                    [[float(x) for x in row] for row in np.vstack([v, pert])],
                    type=pa.list_(pa.float32()),
                ),
                "label": np.concatenate([labels, labels[:k]]),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    survivors = {
        r.vec_id
        for r in dedup_semantic_apply_survivors(spark, str(tmp_path)).collect()
    }
    dropped_copies = sum(1 for p in planted_ids if int(p) not in survivors)
    assert dropped_copies >= 95, dropped_copies
    # beyond the planted copies, only members of the driver corpus's own
    # 59 adversarial-band pairs can be dropped — everything else is
    # never in a pair and must survive untouched
    assert len(survivors) >= len(ids) - 59, len(survivors)


def test_pre_contract_empty_and_tiny_pair_frames(spark):
    """Edge cases of the local-contraction pass: an EMPTY pair frame
    (zero near-dups found) must produce an empty component table, not an
    Arrow schema error from empty pandas batches; a single pair
    contracts to itself."""
    from tts_data_pipeline_spark.operators.components import (
        connected_components,
        contract_pairs_locally,
    )

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert contract_pairs_locally(empty).collect() == []
    assert connected_components(empty, pre_contract=True).collect() == []

    one = spark.createDataFrame([(7, 3)], ["id_a", "id_b"])
    got = {
        r.id: r.component
        for r in connected_components(one, pre_contract=True).collect()
    }
    assert got == {3: 3, 7: 3}


def test_cachereg_recaches_after_external_clearcache(spark):
    """spark.catalog.clearCache() between invocations de-materializes a
    registry-held frame; the registry must detect the external
    unpersist (storageLevel == NONE) and re-cache the same plan instead
    of handing back a frame every reference silently rebuilds."""
    from pyspark import StorageLevel

    from tts_data_pipeline_spark.cachereg import cache_replacing

    base = spark.range(100).selectExpr("id", "id * 2 AS y")
    c1 = cache_replacing("test_clearcache_slot", base)
    c1.count()
    assert c1.storageLevel != StorageLevel.NONE
    spark.catalog.clearCache()
    assert c1.storageLevel == StorageLevel.NONE
    c2 = cache_replacing("test_clearcache_slot", base)
    c2.count()
    assert c2.storageLevel != StorageLevel.NONE
    c2.unpersist()


@_pytest.mark.parametrize(
    "entry_name, generator_name",
    [
        ("split_leakage_safe", "dedup_ngram_jaccard_bucketed"),
        ("split_leakage_safe_minhash", "dedup_minhash_lsh"),
    ],
)
def test_split_leakage_safe_no_pair_straddles(spark, entry_name, generator_name):
    """The property the twins exist for: every near-dup pair (from the
    same pair generator each twin consumes) lands in ONE split — and
    singleton documents keep the plain per-doc hash split, so the
    leakage-safe variant only moves documents in a duplicate family."""
    from tests.conftest import SF_DIR
    from tts_data_pipeline_spark.plans import coverage, extensions

    entry = getattr(coverage, entry_name)
    generator = getattr(extensions, generator_name)

    asg = entry(spark, SF_DIR).collect()
    split_of = {r.doc_id: r.split for r in asg}
    rep_of = {r.doc_id: r.rep_id for r in asg}
    pairs = generator(spark, SF_DIR).collect()
    assert pairs, "generator produced no pairs at the test sf"
    for p in pairs:
        assert split_of[p.id_a] == split_of[p.id_b], (p.id_a, p.id_b)
        assert rep_of[p.id_a] == rep_of[p.id_b]
    # singletons (docs in no pair) are their own representative
    paired = {p.id_a for p in pairs} | {p.id_b for p in pairs}
    for doc, rep in rep_of.items():
        if doc not in paired:
            assert rep == doc


def test_sorted_neighborhood_recovers_adjacent_dups(spark, tmp_path):
    """SNM (round 13) recall floor on a controlled corpus: documents
    sharing their sort key occupy CONSECUTIVE ranks, so every dup pair
    in a same-key group of size <= w must be emitted (jaccard 1.0 for
    exact copies), while a high-jaccard pair whose PREFIX mutated sorts
    apart and is missed — the documented single-pass recall trade."""
    from tts_data_pipeline_spark.plans.extensions import (
        dedup_sorted_neighborhood,
    )

    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = []
    # 3 exact copies (one group), plus unrelated filler spread around
    for i, txt in enumerate(
        [base, base, base]
        + [f"unrelated document number {j} with distinct words" for j in range(9)]
        # prefix-mutated near-dup of base: same token set minus the first
        # word -> high jaccard but sorts far away (starts with 'zzz')
        + ["zzz " + base]
    ):
        rows.append((i, txt, "vi", "crafted", len(txt)))
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        (r.id_a, r.id_b): (r.rank_dist, r.jaccard)
        for r in dedup_sorted_neighborhood(spark, str(tmp_path)).collect()
    }
    # the exact-copy group is fully recovered at consecutive ranks
    for pair in [(0, 1), (0, 2), (1, 2)]:
        assert pair in got and got[pair][1] == 1.0, (pair, got)
    assert {got[(0, 1)][0], got[(1, 2)][0]} == {1}
    assert got[(0, 2)][0] == 2
    # the prefix-mutated twin (doc 12) is NOT found by this single pass
    assert not any(12 in p for p in got)

    # ... but the multipass form (reversed-tail second key) recovers it:
    # doc 12 shares its TAIL with the three base copies
    from tts_data_pipeline_spark.plans.extensions import dedup_snm_multipass

    multi = {
        (r.id_a, r.id_b): (r.jaccard, r.n_passes)
        for r in dedup_snm_multipass(spark, str(tmp_path)).collect()
    }
    for pair in [(0, 12), (1, 12), (2, 12)]:
        assert pair in multi and multi[pair][1] == 1, (pair, multi)
    # the exact-copy group is found by BOTH passes and collapses to one
    # row each with n_passes = 2
    for pair in [(0, 1), (0, 2), (1, 2)]:
        assert multi[pair] == (1.0, 2)

    # boundary independence (the property the range rank's correctness
    # rests on): the composed rank is the position in the total
    # (snm_key, doc_id) order for ANY range-sampler boundaries, so the
    # pair set cannot move with the partition count
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        few = {
            (r.id_a, r.id_b)
            for r in dedup_sorted_neighborhood(
                spark, str(tmp_path)
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert few == set(got)
