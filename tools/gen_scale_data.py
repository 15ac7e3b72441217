"""Generate scaling-measurement tables beyond the driver's shipped sizes.

The driver ships sf0.001/0.01/0.1 only (TESTDATA.md, read-only).  To
measure how the engine's plans scale BEYOND sf0.1 we synthesize larger
tables under ``/tmp/scaledata``:

- **Keyed TPC-H-ish tables** (customer/orders/lineitem/part/supplier/
  events) tile the driver's sf0.1 K times with consistent key offsets —
  foreign keys stay valid, attribute distributions are preserved exactly,
  row counts scale linearly.

- **documents** are generated FRESH at every scale from a seeded
  Zipf-Mandelbrot model over a shared ~10k-word synthetic vocabulary.
  The driver's own documents saturate at 31 distinct words, which made
  every text-stack scaling row flat by construction (BPE runs out of
  pairs, TF-IDF/PMI/perplexity/trigram tables stop growing, MinHash
  shingle space is tiny — round-4 verdict #1).  The generator keeps the
  quantities that drive text-operator cost faithful to a real corpus:
  rank-frequency follows 1/(rank+q)^s (s=1.05, q=2.7 — the classic
  English fit), document lengths are lognormal (~120 words, clipped
  10..500), and the vocabulary is FIXED across scales so growing sf grows
  token count linearly under an identical distribution — exactly what a
  scaling-exponent fit needs.

  Near-dup structure is planted at a CONSTANT RATE so dedup slopes stay
  honest: ~6% of docs are near-dups (a window-local source doc with 20%
  of tokens rewritten) and ~2% exact dups; the source is drawn from the
  previous 100 originals, so cluster sizes stay bounded and pair counts
  grow linearly in n rather than quadratically.

- **embeddings** tile sf0.1 with per-copy Gaussian noise at 0.5x the
  component std, preserving within-copy cosine structure without
  accumulating cross-copy near-identical pairs.

Outputs (all deterministic, seeded):

- ``sf0.01``: FULL table set at driver-sf0.01 size with Zipfian documents
  — exists so ``tools/driver_sim.py /tmp/scaledata/sf0.01`` can replay the
  whole oracle sweep on the richer text (genericity check: no catalog
  query may depend on the driver corpus's degenerate vocabulary).
- ``sf0.1`` (K=1), ``sf0.3`` (K=3), ``sf1`` (K=10): scaling-curve points.
  sf0.1 is regenerated (keyed tables byte-tiled at K=1) so all curve
  points share the Zipfian document distribution.
- ``sf3`` (documents + tiled events + tiled embeddings, n=150k docs):
  one more decade for the two end-to-end lineages a 100 TB user
  actually runs (``dedup_minhash_survivors``, ``pipeline_e2e_curation``),
  the event-window rows, and the embedding-dedup family (the adaptive
  cell-count policies double k/p more times at 61k vectors).

Usage:  python tools/gen_scale_data.py [outdir]   (default /tmp/scaledata)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TESTDATA = "/root/testdata"
SRC = f"{TESTDATA}/sf0.1"
KEY_OFF = 10_000_000  # larger than any sf0.1 key

# (table, [key columns to offset per copy])
KEYED = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
}
FIXED_DIMS = ["region", "nation"]

VOCAB_SIZE = 10_000
ZIPF_S = 1.05  # exponent of the Zipf-Mandelbrot rank-frequency law
ZIPF_Q = 2.7   # Mandelbrot shift
NEAR_DUP_RATE = 0.06
EXACT_DUP_RATE = 0.02
DUP_WINDOW = 100   # near-dup sources come from the last N docs: bounded clusters
REWRITE_P = 0.20   # token rewrite probability inside a near-dup
DOCS_PER_SF01 = 5000  # matches the driver's sf0.1 corpus size

_LETTERS = np.array(list("etaoinshrdlcumwfgypbvkjxqz"))
# geometric-ish letter weights (rough English frequency ordering)
_LETTER_P = np.array(
    [12.7, 9.1, 8.2, 7.5, 7.0, 6.7, 6.3, 6.1, 6.0, 4.3, 4.0, 2.8, 2.8,
     2.4, 2.4, 2.2, 2.0, 2.0, 1.9, 1.5, 1.0, 0.8, 0.2, 0.15, 0.1, 0.07]
)
_LETTER_P = _LETTER_P / _LETTER_P.sum()


def build_vocab(size: int = VOCAB_SIZE, seed: int = 1729) -> list[str]:
    """Deterministic synthetic vocabulary: pseudo-words with English-ish
    letter frequencies and lengths 3..11.  Fixed seed → every scale (and
    every session) sees the identical vocabulary."""
    rng = np.random.default_rng(seed)
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        n = size - len(out)
        lengths = rng.integers(3, 12, n)
        letters = rng.choice(_LETTERS, int(lengths.sum()), p=_LETTER_P)
        pos = 0
        for L in lengths:
            w = "".join(letters[pos: pos + L])
            pos += L
            if w not in seen:
                seen.add(w)
                out.append(w)
    return out


def _zipf_probs(size: int = VOCAB_SIZE) -> np.ndarray:
    ranks = np.arange(1, size + 1, dtype=np.float64)
    p = 1.0 / np.power(ranks + ZIPF_Q, ZIPF_S)
    return p / p.sum()


_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = np.array([0.44, 0.15, 0.15, 0.14, 0.12])
_LANG_P = _LANG_P / _LANG_P.sum()


def zipf_documents(n_docs: int, seed: int) -> dict[str, list]:
    """Seeded Zipfian corpus with constant-rate planted duplicates."""
    vocab = np.array(build_vocab())
    probs = _zipf_probs()
    rng = np.random.default_rng(seed)

    lengths = np.clip(
        np.rint(rng.lognormal(np.log(110.0), 0.65, n_docs)), 10, 500
    ).astype(np.int64)
    # one bulk draw for every original token (dup docs reuse their source's
    # tokens, so the pool is an upper bound; cheap at these sizes)
    pool = rng.choice(VOCAB_SIZE, int(lengths.sum()), p=probs)
    kinds = rng.random(n_docs)  # < NEAR -> near-dup, < NEAR+EXACT -> exact
    srcs = rng.integers(1, DUP_WINDOW + 1, n_docs)
    langs = rng.choice(len(_LANGS), n_docs, p=_LANG_P)

    docs: list[np.ndarray] = []
    pos = 0
    originals: list[int] = []  # indices of non-dup docs, for dup sourcing
    for i in range(n_docs):
        L = lengths[i]
        if originals and kinds[i] < NEAR_DUP_RATE:
            j = originals[max(0, len(originals) - int(srcs[i]))]
            toks = docs[j].copy()
            mask = rng.random(len(toks)) < REWRITE_P
            toks[mask] = rng.choice(VOCAB_SIZE, int(mask.sum()), p=probs)
        elif originals and kinds[i] < NEAR_DUP_RATE + EXACT_DUP_RATE:
            j = originals[max(0, len(originals) - int(srcs[i]))]
            toks = docs[j]
        else:
            toks = pool[pos: pos + L]
            pos += L
            originals.append(i)
        docs.append(toks)

    texts = [" ".join(vocab[t]) for t in docs]
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [_LANGS[k] for k in langs],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


_DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _write_documents(n_docs: int, seed: int, outdir: str) -> None:
    pq.write_table(
        pa.table(zipf_documents(n_docs, seed), schema=_DOC_SCHEMA),
        f"{outdir}/documents.parquet",
    )


def _tile_keyed(name: str, k_copies: int, outdir: str, src: str = SRC) -> None:
    t = pq.read_table(f"{src}/{name}.parquet")
    copies = []
    for k in range(k_copies):
        c = t
        for col in KEYED[name]:
            i = c.schema.get_field_index(col)
            arr = pa.compute.add(c.column(col), k * KEY_OFF)
            c = c.set_column(i, c.schema.field(col), arr)
        if name == "customer" and k > 0:
            # Rewrite the name prefix per copy (same length, pairwise
            # Levenshtein ≥2 between ALL copy prefixes, within-copy
            # structure untouched).  Tiling names VERBATIM made every copy
            # of "Customer#N" fuzzy-match every other copy, growing
            # edit-distance dup PAIRS quadratically in K — the measured
            # cause of dedup_clusters' 1.19 slope at K=10 (constant 6 CC
            # rounds, so it was the edge list, not convergence).
            #
            # The code is a repetition code over one decimal digit: copy k
            # writes "Cus{d}{d}mer#" with d = k % 10.  Any two distinct
            # copies differ in BOTH digit positions, and copy 0's original
            # "Customer#" differs from every "Cus{d}{d}mer#" at the same
            # two positions ("to" vs "dd") — equal-length strings with
            # Hamming distance 2 have Levenshtein distance exactly 2, so
            # no cross-copy pair passes the catalog's lev<=1 predicate.
            # (The previous "Cus{k:02d}mer#" code made copies 01..09
            # pairwise distance 1 — second digit only — which re-created
            # the quadratic cross-copy pair growth; round-6 verdict #1.)
            # tests/test_properties.py pins the pairwise-distance
            # invariant.  The digit code caps K at 10, which sf1 (K=10)
            # exactly uses; the assert below makes a silent collision
            # impossible if a bigger scale point is ever added.
            assert k_copies <= 10, (
                "per-copy customer codes are single-digit: pairwise "
                "Levenshtein >=2 only holds for K <= 10"
            )
            d = k % 10
            i = c.schema.get_field_index("c_name")
            arr = pa.compute.replace_substring(
                c.column("c_name"), "Customer#", f"Cus{d}{d}mer#"
            )
            c = c.set_column(i, c.schema.field("c_name"), arr)
        copies.append(c)
    pq.write_table(pa.concat_tables(copies), f"{outdir}/{name}.parquet")


def _tile_embeddings(k_copies: int, outdir: str, src: str = SRC) -> None:
    os.makedirs(outdir, exist_ok=True)
    t = pq.read_table(f"{src}/embeddings.parquet")
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    labels = np.array(t.column("label").to_pylist(), dtype=np.int32)
    ids = np.array(t.column("vec_id").to_pylist(), dtype=np.int64)
    sigma = 0.5 * float(vecs.std())
    all_ids, all_vecs, all_labels = [], [], []
    for k in range(k_copies):
        rng = np.random.default_rng(142 + k)
        v = vecs if k == 0 else (
            vecs + rng.normal(0.0, sigma, vecs.shape).astype(np.float32)
        )
        all_ids.append(ids + k * KEY_OFF)
        all_vecs.append(v)
        all_labels.append(labels)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.concatenate(all_ids),
                "embedding": pa.array(
                    [list(map(float, r)) for r in np.concatenate(all_vecs)],
                    type=pa.list_(pa.float32()),
                ),
                "label": np.concatenate(all_labels),
            }
        ),
        f"{outdir}/embeddings.parquet",
    )


# --- Skewed-KEY variants (round-9) -----------------------------------
#
# The Zipf corpus de-biased document CONTENT, but every join/group key in
# the tiled tables stays near-uniform (TPC-H-style), so the scaling table
# never exercised the skew path of the keyed-shuffle operators.  The
# skew variants remap the HOT keys of the shuffle-heavy tables to a
# Zipf(s=1.1) draw over the EXISTING key domain — row counts, schemas,
# and foreign-key validity are unchanged; only the key histogram changes
# (at sf1 the hottest of ~150k user_ids carries ~4% of all events
# instead of ~1/150k).  Values drawn FROM the existing domain keep every
# FK resolvable: events.user_id and orders.o_custkey over their own
# distinct sets, lineitem.l_orderkey over ORDERS' key set.
ZIPF_KEY_S = 1.1


def _densify_events(k_copies: int, outdir: str, src: str = SRC) -> None:
    """User-DENSITY tile of the events table (round-11): k copies with
    only ``user_id`` offset — timestamps and event types verbatim, so
    the (event_type, hour) co-occurrence bucket COUNT stays fixed while
    users-per-bucket grows ×k and per-bucket pair mass ×k².  This is the
    deployment shape the r10 verdict flagged for the LPA co-occurrence
    build: a service's user count grows while its event-type count (and
    any fixed observation window) does not.  Used by the density decade
    in PLANS.md ("User-density decade") and by
    ``tools/streaming_state_curve.py`` (dens-8)."""
    os.makedirs(outdir, exist_ok=True)
    t = pq.read_table(f"{src}/events.parquet")
    copies = []
    for k in range(k_copies):
        i = t.schema.get_field_index("user_id")
        arr = pa.compute.add(t.column("user_id"), k * KEY_OFF)
        copies.append(t.set_column(i, t.schema.field("user_id"), arr))
    pq.write_table(pa.concat_tables(copies), f"{outdir}/events.parquet")
    print(f"wrote {outdir} (events density ×{k_copies})")


def _hotspot_events(
    outdir: str, src_dir: str, frac: float = 0.3, seed: int = 77
) -> None:
    """Hot-BUCKET variant of a density tile (round-11): remap ``frac``
    of the events to one (event_type, hour) — the flash-crowd shape
    where a single co-occurrence bucket captures ~every user, so the
    plain bucketed self-join runs that bucket's Θ(n²) pair mass on ONE
    task while the adaptive grid splits it into ceil(n/target)² cells.
    This is the measurable 32-core form of the 1000-executor argument."""
    os.makedirs(outdir, exist_ok=True)
    t = pq.read_table(f"{src_dir}/events.parquet")
    rng = np.random.default_rng(seed)
    mask = pa.array(rng.random(len(t)) < frac)
    import datetime

    hot_ts = pa.scalar(
        datetime.datetime(2024, 6, 1, 12, 0, 0),
        type=t.schema.field("ts").type,
    )
    hot_et = pa.scalar("hotspot", type=t.schema.field("event_type").type)
    for col, val in (("ts", hot_ts), ("event_type", hot_et)):
        i = t.schema.get_field_index(col)
        arr = pa.compute.if_else(mask, val, t.column(col).combine_chunks())
        t = t.set_column(i, t.schema.field(col), arr)
    pq.write_table(t, f"{outdir}/events.parquet")
    print(f"wrote {outdir} (hotspot frac={frac})")


def _zipf_remap(vals: np.ndarray, domain: np.ndarray, seed: int) -> np.ndarray:
    """Replace each value with a Zipf-weighted draw over ``domain``
    (random rank permutation so the hot keys aren't the smallest ids).
    PER-ROW independent — right for keys where each row is its own
    entity (events.user_id, orders.o_custkey: one row per order); for
    keys that GROUP rows (lineitem.l_orderkey) use
    :func:`_zipf_remap_keyed` so the grouping survives."""
    rng = np.random.default_rng(seed)
    perm = rng.permutation(domain)
    p = 1.0 / np.power(np.arange(1, len(domain) + 1, dtype=np.float64), ZIPF_KEY_S)
    p /= p.sum()
    return perm[rng.choice(len(domain), size=len(vals), p=p)]


def _zipf_remap_keyed(vals: np.ndarray, domain: np.ndarray, seed: int) -> np.ndarray:
    """Zipf remap through a KEY→KEY table: each distinct old value maps
    to one Zipf-drawn new key, so rows sharing an old key still share
    the new one (lines of one order stay together — a round-9 replica
    remapped l_orderkey per row, which destroyed per-order line counts
    and made 'same rows, skewed histogram' untrue for any query
    aggregating lines per order).  Distinct old keys may collide on a
    hot new key — that merging IS the intended histogram skew."""
    rng = np.random.default_rng(seed)
    perm = rng.permutation(domain)
    p = 1.0 / np.power(np.arange(1, len(domain) + 1, dtype=np.float64), ZIPF_KEY_S)
    p /= p.sum()
    olds = np.unique(vals)
    drawn = perm[rng.choice(len(domain), size=len(olds), p=p)]
    lut = dict(zip(olds.tolist(), drawn.tolist()))
    return np.array([lut[v] for v in vals.tolist()], dtype=vals.dtype)


def make_skewed(outdir: str, src_dir: str, seed: int) -> None:
    """Skewed-key replica of a generated scale dir: events.user_id,
    orders.o_custkey, lineitem.l_orderkey go Zipfian; every other table
    (and every other column) is byte-copied."""
    import shutil

    os.makedirs(outdir, exist_ok=True)

    def _remap(
        name: str, col: str, domain: np.ndarray, s: int, keyed: bool = False
    ) -> None:
        t = pq.read_table(f"{src_dir}/{name}.parquet")
        vals = t.column(col).to_numpy(zero_copy_only=False)
        fn = _zipf_remap_keyed if keyed else _zipf_remap
        i = t.schema.get_field_index(col)
        t = t.set_column(
            i,
            t.schema.field(col),
            pa.array(fn(vals, domain, s), type=t.schema.field(col).type),
        )
        pq.write_table(t, f"{outdir}/{name}.parquet")

    ev = pq.read_table(f"{src_dir}/events.parquet", columns=["user_id"])
    _remap(
        "events",
        "user_id",
        np.unique(ev.column("user_id").to_numpy(zero_copy_only=False)),
        seed + 1,
    )
    # orders/lineitem exist only in full-keyed dirs; the sf3 point is
    # documents_only+events, so its skew replica carries events alone
    if os.path.exists(f"{src_dir}/orders.parquet"):
        orders = pq.read_table(
            f"{src_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"]
        )
        _remap(
            "orders",
            "o_custkey",
            np.unique(orders.column("o_custkey").to_numpy(zero_copy_only=False)),
            seed + 2,
        )
        # keyed remap: l_orderkey GROUPS lineitem rows — lines of one
        # order must land on the same (Zipf-drawn) key
        _remap(
            "lineitem",
            "l_orderkey",
            np.unique(orders.column("o_orderkey").to_numpy(zero_copy_only=False)),
            seed + 3,
            keyed=True,
        )
    # embeddings.label is the BLOCKING KEY of the exact cosine verify
    # (_embedding_cosine_pairs): a Zipfian label concentrates the
    # Θ(bucket²) candidate mass in one bucket — the stress the uniform
    # 10-label histogram never exercises (round-10, verdict #5)
    if os.path.exists(f"{src_dir}/embeddings.parquet"):
        emb = pq.read_table(f"{src_dir}/embeddings.parquet", columns=["label"])
        _remap(
            "embeddings",
            "label",
            np.unique(emb.column("label").to_numpy(zero_copy_only=False)),
            seed + 4,
        )
    for f in os.listdir(src_dir):
        if f.endswith(".parquet") and f.split(".")[0] not in (
            "events",
            "orders",
            "lineitem",
            "embeddings",
        ):
            shutil.copy(os.path.join(src_dir, f), os.path.join(outdir, f))
    print(f"wrote {outdir} (skewed keys, s={ZIPF_KEY_S})")


def generate(
    outdir: str,
    k_copies: int,
    n_docs: int,
    doc_seed: int,
    src: str = SRC,
    documents_only: bool = False,
    with_events: bool | None = None,
    with_embeddings: bool | None = None,
) -> None:
    """``with_events`` / ``with_embeddings`` apply ONLY to
    ``documents_only`` runs: they let
    the sf3 point carry a tiled events table WITHOUT the rest of the
    keyed set — the extra-decade rows for the event-window family
    (w11_gap_fill) need events, while the e2e document lineages need only
    documents; ``with_embeddings`` gives the embedding-dedup family its
    third decade (the adaptive cell-count policy doubles k more times).
    Full runs (``documents_only=False``) always tile events and
    embeddings as part of the keyed set, so passing either flag there is
    a contradiction and raises rather than being silently ignored."""
    if (with_events is not None or with_embeddings is not None) and not documents_only:
        raise ValueError(
            "with_events/with_embeddings only apply to documents_only "
            "runs; a full run always tiles both tables"
        )
    os.makedirs(outdir, exist_ok=True)
    _write_documents(n_docs, doc_seed, outdir)
    if not documents_only:
        for name in FIXED_DIMS:
            pq.write_table(
                pq.read_table(f"{src}/{name}.parquet"),
                f"{outdir}/{name}.parquet",
            )
        for name in KEYED:
            _tile_keyed(name, k_copies, outdir, src)
        _tile_embeddings(k_copies, outdir, src)
    else:
        if with_events:
            _tile_keyed("events", k_copies, outdir, src)
        if with_embeddings:
            _tile_embeddings(k_copies, outdir, src)
    print(f"wrote {outdir} (K={k_copies}, docs={n_docs})")


def _have(outdir: str, *tables: str) -> bool:
    """True when every named parquet already exists in ``outdir`` —
    lets ``--missing-only`` rebuild exactly the tiles an ephemeral
    /tmp wipe took without regenerating the survivors (the per-round
    'regenerate /tmp/scaledata first if wiped' step in one cheap
    command)."""
    return all(
        os.path.exists(os.path.join(outdir, f"{t}.parquet")) for t in tables
    )


if __name__ == "__main__":
    _pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    base = _pos[0] if _pos else "/tmp/scaledata"
    missing_only = "--missing-only" in sys.argv

    def _skip(outdir: str, *tables: str) -> bool:
        if missing_only and _have(outdir, *tables):
            print(f"have {outdir} — skipped")
            return True
        return False

    # completeness sentinel = EVERY table a full generate() writes
    # (derived from the same constants, r12 ADVICE: a hand-picked subset
    # let a partially wiped tile that kept the five biggest tables be
    # skipped with region/nation/customer/part/supplier missing —
    # breaking bench.py's region warmup and every dim join)
    _FULL = ("documents", "embeddings", *FIXED_DIMS, *KEYED)
    # full oracle-sweep replica at driver-sf0.01 size, Zipfian text
    if not _skip(os.path.join(base, "sf0.01"), *_FULL):
        generate(
            os.path.join(base, "sf0.01"), 1, 500, doc_seed=11,
            src=f"{TESTDATA}/sf0.01",
        )
    # scaling-curve points — shared vocabulary, n_docs ∝ sf
    if not _skip(os.path.join(base, "sf0.1"), *_FULL):
        generate(os.path.join(base, "sf0.1"), 1, DOCS_PER_SF01, doc_seed=21)
    if not _skip(os.path.join(base, "sf0.3"), *_FULL):
        generate(os.path.join(base, "sf0.3"), 3, 3 * DOCS_PER_SF01, doc_seed=23)
    if not _skip(os.path.join(base, "sf1"), *_FULL):
        generate(os.path.join(base, "sf1"), 10, 10 * DOCS_PER_SF01, doc_seed=31)
    # one more decade for the e2e lineages (documents) and the
    # event-window extra-decade rows (events only; the full keyed set
    # would triple generation time for tables nothing at sf3 reads)
    if not _skip(os.path.join(base, "sf3"), "documents", "events", "embeddings"):
        generate(
            os.path.join(base, "sf3"), 30, 30 * DOCS_PER_SF01, doc_seed=43,
            documents_only=True, with_events=True, with_embeddings=True,
        )
    # skewed-key replicas of the curve points (round-9): same rows, same
    # schemas, Zipfian key histograms for the keyed-shuffle operators
    for i, sf in enumerate(("sf0.1", "sf0.3", "sf1", "sf3")):
        if not _skip(os.path.join(base, f"skew-{sf[2:]}"), "events"):
            make_skewed(
                os.path.join(base, f"skew-{sf[2:]}"),
                os.path.join(base, sf),
                seed=900 + 10 * i,
            )
    # fourth-decade + density tiles, behind --extra (minutes, used only
    # by the decade measurements; the default path stays ~25 s):
    #   sf10e — embeddings-only ×100 (IVF round-growth decade, round-10)
    #   sf10d — documents-only 100× corpus (tokenizer-encode decade, r11)
    #   dens-{2,4,8} — events user-density tiles (LPA co-occurrence, r11)
    if "--extra" in sys.argv:
        if not _skip(os.path.join(base, "sf10e"), "embeddings"):
            _tile_embeddings(
                100, os.path.join(base, "sf10e"), src=f"{TESTDATA}/sf0.1"
            )
            print(f"wrote {base}/sf10e (embeddings x100)")
        if not _skip(os.path.join(base, "sf10d"), "documents"):
            generate(
                os.path.join(base, "sf10d"), 100, 100 * DOCS_PER_SF01,
                doc_seed=57, documents_only=True,
            )
        for k in (2, 4, 8):
            if not _skip(os.path.join(base, f"dens-{k}"), "events"):
                _densify_events(k, os.path.join(base, f"dens-{k}"))
        if not _skip(os.path.join(base, "dens-4hot"), "events"):
            _hotspot_events(
                os.path.join(base, "dens-4hot"), os.path.join(base, "dens-4")
            )
        # the PLANS.md hot-bucket control is measured at k=8 (12k users
        # in one (event_type, hour) — ~72M candidate pairs on one key);
        # write that tile too so the claim reproduces from the harness
        if not _skip(os.path.join(base, "dens-8hot"), "events"):
            _hotspot_events(
                os.path.join(base, "dens-8hot"), os.path.join(base, "dens-8")
            )
