"""Unigram-LM tokenizer (SentencePiece hard-EM): a third independent
implementation (pure Python) must agree with the Spark expression DP and
the DuckDB oracle, plus hand-crafted Viterbi tie-break pins.

The DP's total order is (score DESC, piece count ASC, path ASC); the
crafted cases pin each tie-break level because a regression there would
still produce a *valid-looking* segmentation — only cross-engine
comparison would catch it, and at that point the failure is opaque."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tests.conftest import SF_DIR
from tts_data_pipeline_spark.plans.corpus import (
    _UNI_MAX_WORD,
    _UNI_PIECE_LEN,
    _UNI_ROUNDS,
    _UNI_SEED_MULTI,
    _uni_piece_table,
    _uni_spans,
    _uni_viterbi,
)


def _ref_spans(word: str):
    for j in range(len(word)):
        for pl in range(1, _UNI_PIECE_LEN + 1):
            if j + pl <= len(word):
                yield j, j + pl, word[j : j + pl]


def _ref_logp(vocab: dict[str, int]) -> dict[str, float]:
    tot = float(sum(vocab.values()))
    return {p: round(math.log(c / tot), 6) for p, c in vocab.items()}


def _ref_viterbi(word: str, lp: dict[str, float]):
    """(negscore, k, path) — the exact total order the Spark struct
    ordering and the oracle ROW_NUMBER replay."""
    best = [(0.0, 0, "")]
    for i in range(1, len(word) + 1):
        cands = []
        for j in range(max(0, i - _UNI_PIECE_LEN), i):
            p = word[j:i]
            if p in lp:
                b = best[j]
                cands.append(
                    (
                        b[0] - lp[p],
                        b[1] + 1,
                        p if b[2] == "" else b[2] + " " + p,
                    )
                )
        best.append(min(cands))
    return best[len(word)]


def _ref_learn(words_freq: dict[str, int], rounds: int):
    seed: dict[str, int] = {}
    for w, f in words_freq.items():
        for _, _, p in _ref_spans(w):
            seed[p] = seed.get(p, 0) + f
    chars = {p: c for p, c in seed.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in seed.items() if len(p) >= 2),
        key=lambda x: (-x[1], x[0]),
    )[:_UNI_SEED_MULTI]
    vocab = dict(chars)
    vocab.update(dict(multi))
    lp = _ref_logp(vocab)
    for _ in range(rounds):
        ecnt: dict[str, int] = {}
        for w, f in words_freq.items():
            _, _, path = _ref_viterbi(w, lp)
            for p in path.split(" "):
                ecnt[p] = ecnt.get(p, 0) + f
        vocab = {p: max(ecnt.get(p, 0), 1) for p in chars}
        vocab.update(
            {p: c for p, c in ecnt.items() if len(p) >= 2}
        )
        lp = _ref_logp(vocab)
    return vocab, lp


def _piece_df(spark, lp: dict[str, float]):
    schema = StructType(
        [
            StructField("piece", StringType()),
            StructField("cnt", LongType()),
            StructField("logp", DoubleType()),
        ]
    )
    return spark.createDataFrame(
        [(p, 1, v) for p, v in lp.items()], schema
    )


def _word_df(spark, words: list[str]):
    schema = StructType(
        [StructField("word", StringType()), StructField("freq", LongType())]
    )
    return spark.createDataFrame([(w, 1) for w in words], schema)


def test_viterbi_picks_best_score_then_fewest_pieces_then_path(spark):
    lp = {"a": -1.0, "b": -1.0, "ab": -2.0, "ba": -2.0, "abab": -0.5}
    words = _word_df(spark, ["abab", "aa", "aba"])
    # "aa" needs the k tie-break: a+a and (absent) "aa" — add it at the
    # exact score of the two-char path
    lp2 = dict(lp, aa=-2.0)
    out = {
        r["word"]: (r["k"], r["path"])
        for r in _uni_viterbi(
            words, _uni_spans(words), _piece_df(spark, lp2)
        ).collect()
    }
    # score wins outright: one -0.5 piece beats any composition
    assert out["abab"] == (1, "abab")
    # score tie (-2.0): fewer pieces wins
    assert out["aa"] == (1, "aa")
    # score tie (-3.0, via ab+a and a+ba), equal k=2: lexicographically
    # first path wins ("a ba" < "ab a" because ' ' < 'b')
    assert out["aba"] == (2, "a ba")


def test_learn_and_encode_match_pure_python_reference(spark, ddb):
    words_freq = {
        w: int(f)
        for w, f in duckdb.sql(
            f"""SELECT w, COUNT(*) FROM (
                  SELECT unnest(string_split(text, ' ')) AS w
                  FROM read_parquet('{SF_DIR}/documents.parquet'))
                WHERE w <> '' AND length(w) <= {_UNI_MAX_WORD} GROUP BY w"""
        ).fetchall()
    }
    ref_vocab, ref_lp = _ref_learn(words_freq, _UNI_ROUNDS)
    got = {
        r["piece"]: (r["cnt"], r["logp"])
        for r in _uni_piece_table(spark, SF_DIR, _UNI_ROUNDS).collect()
    }
    assert set(got) == set(ref_vocab)
    for p, c in ref_vocab.items():
        assert got[p][0] == c, p
        assert got[p][1] == pytest.approx(ref_lp[p], abs=1e-9), p
    # encode: per-word piece counts recomposed per doc
    seg = {w: _ref_viterbi(w, ref_lp) for w in words_freq}
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    from tts_data_pipeline_spark.plans.corpus import ta_unigram_lm_encode

    enc = {
        r["doc_id"]: (r["n_words"], r["n_tokens"], r["tokens_head"])
        for r in ta_unigram_lm_encode(spark, SF_DIR).collect()
    }
    checked = 0
    for doc_id, text in docs[:50]:
        ws = [
            w
            for w in text.split(" ")
            if w != "" and len(w) <= _UNI_MAX_WORD
        ]
        if not ws:
            assert doc_id not in enc
            continue
        pieces = [p for w in ws for p in seg[w][2].split(" ")]
        assert enc[doc_id] == (
            len(ws),
            len(pieces),
            " ".join(pieces[:8]),
        ), doc_id
        checked += 1
    assert checked >= 40


def test_unigram_lm_higher_rounds_register_per_round_frames(spark):
    """At higher EM round counts every per-round piece frame must land in
    the cache registry (one tiny frame per round — the BPE persist_every
    lesson applied to this operator): guards the recompute-blowup
    regression that made even R=2 take 63 s at sf0.001 when each v{r}
    reference replayed the whole upstream chain."""
    from tts_data_pipeline_spark import cachereg
    from tts_data_pipeline_spark.plans.corpus import _uni_piece_table

    out = _uni_piece_table(spark, SF_DIR, rounds=4)
    assert out.count() > 30
    keys = sorted(k for k in cachereg._CACHED if k.startswith("ta_unigram_lm"))
    assert keys == [
        "ta_unigram_lm_chars",
        "ta_unigram_lm_v0",
        "ta_unigram_lm_v1",
        "ta_unigram_lm_v2",
        "ta_unigram_lm_v3",
        "ta_unigram_lm_v4",
        "ta_unigram_lm_words",
    ], keys


def test_unigram_local_entries_match_distributed(spark, tmp_path):
    """r14 optimization contract: under the local-learn dial the three
    unigram entries run their model induction in the driver — output
    must be BIT-identical (including every logp double and every EM
    micro-count) to the distributed codegen-fold path, pinned on a Zipf
    corpus with a much richer vocabulary than the driver fixture."""
    from tests.test_plan_assertions import _zipf_docs_dir
    from tts_data_pipeline_spark.conf import TOKENIZER_LOCAL_LEARN_VOCAB
    from tts_data_pipeline_spark.plans.corpus import (
        ta_unigram_lm_encode,
        ta_unigram_lm_learn,
        ta_unigram_lm_learn_em,
    )

    sf_dir = _zipf_docs_dir(tmp_path)
    key = TOKENIZER_LOCAL_LEARN_VOCAB[0]
    for entry in (
        ta_unigram_lm_learn,
        ta_unigram_lm_learn_em,
        ta_unigram_lm_encode,
    ):
        # entries return row sets: compare in a canonical row order
        local = sorted(tuple(r) for r in entry(spark, sf_dir).collect())
        spark.conf.set(key, "1")  # vocab exceeds cap -> distributed
        try:
            dist = sorted(tuple(r) for r in entry(spark, sf_dir).collect())
        finally:
            spark.conf.unset(key)
        assert len(local) > 30, entry.__name__
        assert local == dist, entry.__name__
