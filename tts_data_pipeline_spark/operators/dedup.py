"""Deduplication operators — exact, MinHash-LSH, SimHash, n-gram Jaccard.

Not in the reference (it never dedups); mandated by the driver as core
training-data-pipeline capability.  Design point is 100 TB:

- exact dedup is a hash-groupBy (one shuffle on the content hash, map-side
  partial aggregation);
- near-dup goes through MinHash-LSH banding so candidate generation is a
  shuffle on band keys (O(n·bands)) instead of an O(n²) similarity join;
- verification (true Jaccard) runs only on within-bucket candidate pairs.

Everything below is pure DataFrame expressions (JVM-side, codegen'd) except
SimHash, which is an Arrow-batched pandas UDF doing numpy bit-votes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tts_data_pipeline_spark.session import run_record


def eval_once(col: Column) -> Column:
    """Pin an expensive similarity expression to ONE evaluation in its
    projection — blocks Catalyst from inlining it into filters/joins.

    A deterministic threshold filter on a computed similarity column
    (``jaccard >= t``) gets inlined through the projection and pushed into
    the verify join's condition, where the similarity expression
    (array_intersect / dot product / levenshtein) is re-evaluated per
    matched row on the join/filter's interpreted non-codegen path —
    measured **102-196 s vs 1.7 s** on the sf0.1 ngram verify stage (the
    whole-stage-codegen projection evaluates the same 588k intersects in
    under 2 s).  Keeping the predicate above the projection via a
    non-deterministic OR-term is NOT enough: predicate-through-project
    inlining still substitutes the expression into the filter (117 s
    measured).  Adding an always-zero NON-DETERMINISTIC term to the COLUMN
    itself makes the projection non-inlinable, so every downstream
    consumer references the materialized attribute: join (equi only) →
    codegen project (similarity once) → trivial attribute filter.  The
    value is unchanged (``+ 0 * spark_partition_id``, no rand state).
    """
    return col + F.spark_partition_id() * F.lit(0)


def eval_once_any(col: Column) -> Column:
    """:func:`eval_once` for non-numeric columns (arrays, strings): wrap in
    a ``when`` whose condition is non-deterministic but always true —
    project-collapsing and predicate-through-project inlining both require
    deterministic expressions, so downstream consumers reference the
    materialized attribute instead of re-evaluating the tree."""
    return F.when(F.spark_partition_id() >= 0, col)


def content_fingerprint(col: Column) -> Column:
    """Stable content hash for exact dedup (md5 here; sha2 for prod)."""
    return F.md5(col.cast("binary"))


def normalized_tokens(col: Column) -> Column:
    """Lower-cased whitespace tokens — the canonical token set for dedup."""
    return F.split(F.lower(F.trim(col)), r"\s+")


def word_shingles(tokens: Column, n: int = 5) -> Column:
    """n-gram word shingles as strings: ['a','b','c'] (n=2) → ['a b','b c'].
    Empty array when the document is shorter than ``n``.

    Built as n−1 ``zip_with`` concat passes over n aligned slices — O(n·m)
    per document — instead of the previous per-position
    ``slice(tokens, i, n)`` inside ``transform``, whose non-foldable start
    makes codegen re-copy the array per element (O(m²): measured 12.2 s →
    1.1 s shingling 5 000 Zipf docs of ≤500 words, identical output
    strings, so every md5/xxhash built on shingles is unchanged).  The
    slices' negative length below n tokens is never evaluated: CaseWhen
    branches execute lazily per row."""
    m = F.size(tokens) - (n - 1)
    acc = F.slice(tokens, 1, m)
    for k in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(tokens, k + 1, m),
            # null-GUARDED concat, not bare concat (which null-propagates
            # the whole shingle on a NULL token) and not concat_ws (which
            # has the right skip semantics but measures ~25% slower in
            # this codegen loop — varargs + separator handling; 8.7 vs
            # 7.0 s min-of-4 shingling the sf1 Zipf corpus).  The when
            # chain reproduces concat_ws's skip-null-side behavior at
            # plain concat speed — identical on null-bearing arrays
            # EXCEPT a window whose tokens are ALL null, which yields a
            # NULL element where concat_ws(' ', NULL, ..., NULL) yields
            # '' (pinned in tests/test_properties.py).  split()-produced
            # arrays carry no nulls, but this helper is shared by five
            # plans and the contract should not narrow.
            lambda a, b: F.when(a.isNull(), b)
            .when(b.isNull(), a)
            .otherwise(F.concat(a, F.lit(" "), b)),
        )
    return F.when(F.size(tokens) >= n, acc).otherwise(
        F.array().cast("array<string>")
    )


def shingle_hashes(tokens: Column, n: int = 5) -> Column:
    """n-gram shingles hashed straight to longs: xxhash64 over the n
    tokens of each shingle, no intermediate shingle strings (saves a
    concat allocation per shingle — the dominant cost at scale).  Empty
    array below ``n`` tokens.

    Same O(m²)→O(n·m) rewrite as :func:`word_shingles` (per-position
    ``slice`` re-copies the array per element): n aligned slices are
    ``arrays_zip``-ped and each shingle hashes via the MULTI-ARG
    ``xxhash64(t_i, …, t_{i+n−1})``, which chains elements exactly like
    the old ``xxhash64(slice(...))`` array form — verified
    ``xxhash64(array(a,b,c)) == xxhash64(a,b,c)`` — so every signature,
    band and golden pin downstream is bit-identical."""
    m = F.size(tokens) - (n - 1)
    z = F.arrays_zip(
        *[F.slice(tokens, k + 1, m).alias(f"s{k}") for k in range(n)]
    )
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            z, lambda s: F.xxhash64(*[s[f"s{k}"] for k in range(n)])
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def minhash_signature(shingle_hash: Column, num_hashes: int = 64) -> Column:
    """MinHash signature: for seed j, ``min over shingles of xxhash64(j, h)``
    where ``h`` is the shingle's long hash — per-seed mixing hashes 8 bytes,
    not the shingle text.

    xxhash64 is a JVM intrinsic, so the whole signature is one projection —
    no Python in the loop.  IMPORTANT: pass a materialized attribute (a
    column produced by a previous ``select``), not an inline expression —
    Column trees are not DAGs, and an inline expression would be recomputed
    ``num_hashes`` times per row.  Documents with no shingles get a per-seed
    sentinel (max long) signature.
    """
    def seed_mix(j: int):
        # closure, NOT a default-arg lambda: PySpark hands a 2-parameter
        # lambda the (element, index) higher-order form even when the
        # second parameter is defaulted, which turned the seed into the
        # array POSITION — every signature component collapsed to the
        # same single-hash min and the banding was silently degenerate
        return lambda h: F.xxhash64(F.lit(j), h)

    return F.array(
        *[
            F.coalesce(
                F.array_min(F.transform(shingle_hash, seed_mix(j))),
                F.lit(2**63 - 1),
            )
            for j in range(num_hashes)
        ]
    )


def band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """LSH banding: hash each band of the signature to one bucket key.
    Two docs agreeing on any band collide in that band's bucket."""
    return F.array(
        *[
            F.xxhash64(
                F.lit(b), *[signature[b * rows_per_band + r] for r in range(rows_per_band)]
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.8,
    shingle_n: int = 5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH with exact-Jaccard verification.

    Pipeline: tokens → shingles → minhash signature → band buckets →
    within-bucket self-join (candidates) → exact Jaccard on distinct token
    sets → threshold filter.  Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    from tts_data_pipeline_spark.sources.readers import spread

    rows_per_band = num_hashes // bands
    tokens = normalized_tokens(F.col(text_col))
    # Spread the INPUT before the signature projection: the projection is
    # compute-dense (num_hashes × shingles JVM hashes per row) and a
    # repartition placed after it would run it single-partition below the
    # exchange.  Cache so the signature is computed once, not per consumer.
    narrow = spread(df.select(F.col(id_col).alias("_id"), F.col(text_col)))
    # Materialize shingles as an attribute BEFORE the 64-way signature
    # projection: Column expressions are trees, not DAGs, so inlining the
    # shingle expression into every per-seed array_min would recompute the
    # shingling num_hashes times per row (~60× slower, measured).
    shingled = narrow.select(
        "_id",
        F.array_distinct(tokens).alias("_tokset"),
        shingle_hashes(tokens, shingle_n).alias("_shingles"),
    )
    signed = shingled.select(
        "_id",
        "_tokset",
        minhash_signature(F.col("_shingles"), num_hashes).alias("_sig"),
    )
    from tts_data_pipeline_spark.cachereg import cache_replacing

    base = cache_replacing(
        "minhash_lsh_pairs",
        signed.select(
            "_id",
            "_tokset",
            band_keys(F.col("_sig"), bands, rows_per_band).alias("_bands"),
        ),
    )
    # Candidate generation shuffles ONLY (id, bucket) — never the token
    # sets: at 100 TB the band explosion is ×bands rows, and carrying the
    # token arrays through it would multiply shuffle bytes by the document
    # size.  Bucket key includes the band index so bands can't cross-collide.
    bucketed = base.select("_id", F.explode("_bands").alias("_bucket"))
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    candidate_ids = (
        a.join(b, "_bucket")
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verification: join token sets back (two hash joins on id), exact
    # Jaccard only on the surviving candidate pairs.
    toksets = base.select("_id", "_tokset")
    candidates = (
        candidate_ids.join(
            toksets.select(
                F.col("_id").alias("id_a"), F.col("_tokset").alias("tok_a")
            ),
            "id_a",
        )
        .join(
            toksets.select(
                F.col("_id").alias("id_b"), F.col("_tokset").alias("tok_b")
            ),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("tok_a", "tok_b"))
    union = F.size("tok_a") + F.size("tok_b") - inter
    return (
        candidates.withColumn(
            "jaccard",
            eval_once(F.round(inter.cast("double") / F.greatest(union, F.lit(1)), 4)),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _probe_vocab(base: DataFrame, kind: str) -> tuple[int, int, bool]:
    """Vocabulary-richness probe behind ``prefix_filter=None``: returns
    ``(n_docs, n_vocab, prefix_filter)`` for a sample of ``base``'s
    ``_tokset`` column and records them as a ``session.run_record`` of
    ``kind``, so a test can pin the decision on both corpus shapes (rich
    vocab → prefix filter, near-universal vocab → exhaustive).

    Vocabulary richness is a ratio, so a ~1k-doc sample decides it as
    reliably as a full scan at any corpus size.  The 1024 docs are the
    smallest by xxhash64(id) (TakeOrdered: per-partition top-k, no full
    shuffle) — a DETERMINISTIC pseudo-random sample, unlike a bare
    limit(1024) whose rows follow partition arrival order and could flip
    the path choice between runs.  ONE action sizes the sample and its
    vocabulary together; ``explode_outer`` keeps empty-tokset docs in
    ``countDistinct(_id)``."""
    probe = (
        base.select("_id", "_tokset")
        .orderBy(F.xxhash64(F.col("_id").cast("string")), F.col("_id"))
        .limit(1024)
        .select("_id", F.explode_outer("_tokset").alias("_t"))
        .agg(
            F.countDistinct("_id").alias("d"),
            F.countDistinct("_t").alias("v"),
        )
        .first()
    )
    n_docs, n_vocab = probe["d"], probe["v"]
    prefix_filter = n_vocab * 4 >= n_docs
    run_record(
        base.sparkSession,
        kind,
        sampled_docs=n_docs,
        sampled_vocab=n_vocab,
        prefix_filter=prefix_filter,
    )
    return n_docs, n_vocab, prefix_filter


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cols: tuple[str, ...] = (),
    threshold: float = 0.5,
    pair_salt: int = 8,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """Exact token-set Jaccard over bucketed candidate pairs.

    ``bucket_cols`` bound the pair space (equi-join keys) — at 100 TB you
    never do an unbucketed self-join; LSH (above) is the general bucketing,
    this operator is the verify-everything-in-a-partition variant.

    **Prefix filtering** (the AllPairs/PPJoin bound — Bayardo et al.
    WWW'07, Xiao et al. WWW'08, both public): under any global token
    order, two sets with Jaccard ≥ t MUST share a token inside their
    first ``|s| − ⌈t·|s|⌉ + 1`` tokens, so candidates are generated by a
    token-banded join over those prefixes only, with the global order
    chosen as (document-frequency asc, token) to concentrate prefixes on
    RARE tokens.  Candidate volume then tracks true near-collisions
    instead of bucket population — the round-5 scaling run measured the
    plain within-bucket enumeration at slope 1.7 (bucket populations grow
    linearly, pair spaces quadratically; the same degeneracy class the
    fuzzy-levenshtein length-banding had), and the prefix filter brought
    it to 0.70 (sf1: 69.5 s → 28.5 s).  The exact verify stage after
    the filter is unchanged, so results are identical to the unfiltered
    join (property-tested against it).  Worst-case band = the document
    frequency of a prefix token — bounded by construction for everything
    but short documents made entirely of stop-words.

    ``prefix_filter=False`` keeps the exhaustive salted enumeration — the
    right tool when buckets ARE the candidate bound (e.g. verifying LSH
    buckets, already near-collision-sized).  Its skew bound (``pair_salt``
    = S): the triangle decomposition splits every bucket into S·(S+1)/2
    salt cells — row salt = ``pmod(xxhash64(id), S)``; the A side emits
    cells (s, s..S-1), the B side cells (0..s, s) — so each unordered
    pair meets in EXACTLY one cell and per-reducer work drops ~S²/2-fold,
    bit-identical to the unsalted join (property-tested).  Either way
    candidate generation replicates only narrow keys — the token sets
    never ride the explode; they join back by id afterwards, exactly like
    the MinHash verify stage.

    ``prefix_filter=None`` (default) decides from the data, the way a
    cost-based planner would: one aggregate job over a deterministic
    1024-doc sample of the cached base measures vocabulary richness
    (recorded as a ``session.run_record`` of kind
    ``"ngram_jaccard_pairs"``), and a corpus whose distinct-token count
    is a small fraction of its document count (vocab < docs/4) takes the
    exhaustive path — with a near-universal vocabulary every token is in
    most documents, the rarity order cannot discriminate, and the prefix
    join only multiplies the same pair stream by the prefix length
    (measured 4× slower on the driver's 31-word corpus).  Any corpus with
    a real vocabulary takes the prefix path.  Both paths are exact, so
    the statistic steers cost only, never results.
    """
    from tts_data_pipeline_spark.sources.readers import spread

    tokens = F.array_distinct(normalized_tokens(F.col(text_col)))
    from tts_data_pipeline_spark.cachereg import cache_replacing

    base = cache_replacing(
        "ngram_jaccard_pairs",
        spread(
            df.select(
                F.col(id_col).alias("_id"), tokens.alias("_tokset"), *bucket_cols
            )
        ),
    )
    if prefix_filter is None:
        prefix_filter = _probe_vocab(base, "ngram_jaccard_pairs")[2]
    if prefix_filter:
        ex = base.select("_id", *bucket_cols, F.explode("_tokset").alias("_t"))
        tok_df = ex.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
        ranked = ex.join(F.broadcast(tok_df), "_t")
        n = F.size("_st")
        plen = F.greatest(
            n - F.ceil(F.lit(threshold) * n).cast("int") + 1, F.lit(1)
        )
        pref = (
            ranked.groupBy("_id", *bucket_cols)
            .agg(F.array_sort(F.collect_list(F.struct("_df", "_t"))).alias("_st"))
            .select(
                "_id",
                *bucket_cols,
                F.size("_st").alias("_n"),
                F.slice(
                    F.transform("_st", lambda s: s["_t"]), F.lit(1), plen
                ).alias("_pref"),
            )
        )
        pa = pref.select(
            F.col("_id").alias("_ida"),
            F.col("_n").alias("_na"),
            *bucket_cols,
            F.posexplode("_pref").alias("_pa", "_t"),
        )
        pb = pref.select(
            F.col("_id").alias("_idb"),
            F.col("_n").alias("_nb"),
            *bucket_cols,
            F.posexplode("_pref").alias("_pb", "_t"),
        )
        # positional filter (PPJoin, Xiao et al. WWW'08 §3.2, public): at
        # the FIRST shared prefix token — positions i=_pa+1 / j=_pb+1 in
        # the df-asc global order — nothing earlier is shared, so
        # overlap ≤ min(|a|−i, |b|−j) + 1, which must reach the Jaccard-
        # equivalent overlap bound α = ⌈t/(1+t)·(|a|+|b|)⌉.  Applied to
        # EVERY matched row and pairs kept when ANY row passes: the
        # first-match row carries the minimal positions (loosest, valid
        # bound), so every true pair survives; later-match rows can only
        # keep extra candidates, and the exact verify decides those.  At
        # t=0.5 the prefix is ~|s|/2, and on the Zipf sf1 corpus this
        # prunes the candidate stream 7.0M → 2.3M for the same 1,046
        # verified pairs (entry wall 80 → 25 s) — the α subtraction uses
        # a 1e-9 slack so float rounding can only LOOSEN the bound.
        alpha = F.ceil(
            (F.col("_na") + F.col("_nb")) * F.lit(threshold / (1.0 + threshold))
            - F.lit(1e-9)
        )
        cand = (
            pa.join(pb, [*bucket_cols, "_t"])
            .filter(F.col("_ida") < F.col("_idb"))
            # length filter (exact): Jaccard ≥ t forces t·max(|a|,|b|) ≤
            # min(|a|,|b|) — set sizes ride the explode as one int each,
            # so size-incompatible candidates die before the DISTINCT and
            # the token-set verify join ever see them
            .filter(
                F.lit(threshold) * F.greatest("_na", "_nb")
                <= F.least("_na", "_nb")
            )
            .filter(
                F.least(
                    F.col("_na") - (F.col("_pa") + 1),
                    F.col("_nb") - (F.col("_pb") + 1),
                )
                + 1
                >= alpha
            )
            .select(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"))
            # a pair can share several prefix tokens: dedup before verify
            .distinct()
        )
    else:
        s_max = F.lit(pair_salt - 1)
        salt = F.pmod(F.xxhash64(F.col("_id")), F.lit(pair_salt)).cast("int")
        narrow = base.select("_id", *bucket_cols, salt.alias("_salt"))
        a_keys = narrow.select(
            F.col("_id").alias("_ida"),
            *bucket_cols,
            F.col("_salt").alias("_lo"),
            F.explode(F.sequence(F.col("_salt"), s_max)).alias("_hi"),
        )
        b_keys = narrow.select(
            F.col("_id").alias("_idb"),
            *bucket_cols,
            F.explode(F.sequence(F.lit(0), F.col("_salt"))).alias("_lo"),
            F.col("_salt").alias("_hi"),
        )
        cand = (
            a_keys.join(b_keys, [*bucket_cols, "_lo", "_hi"])
            # diagonal cells hold same-salt pairs: order the ids to emit
            # each pair once and drop self-pairs; off-diagonal cells meet
            # once by construction and only need the id normalization
            .filter(
                (F.col("_lo") != F.col("_hi")) | (F.col("_ida") < F.col("_idb"))
            )
            .select(
                F.least("_ida", "_idb").alias("id_a"),
                F.greatest("_ida", "_idb").alias("id_b"),
            )
        )
    toksets = base.select("_id", "_tokset")
    pairs = cand.join(
        toksets.select(F.col("_id").alias("id_a"), F.col("_tokset").alias("tok_a")),
        "id_a",
    ).join(
        toksets.select(F.col("_id").alias("id_b"), F.col("_tokset").alias("tok_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("tok_a", "tok_b"))
    union = F.size("tok_a") + F.size("tok_b") - inter
    return (
        pairs.withColumn(
            "jaccard",
            eval_once(F.round(inter.cast("double") / F.greatest(union, F.lit(1)), 4)),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cols: tuple[str, ...] = (),
    threshold: float = 0.8,
    shingle_n: int = 3,
    pair_salt: int = 8,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """Asymmetric set-CONTAINMENT near-dup pairs over word shingles —
    ``containment = |A∩B| / min(|A|, |B|)`` — the quote/subset detector
    resemblance misses: a paragraph fully embedded in a 100× longer
    document has Jaccard ≈ |A|/|B| ≈ 0 but containment 1 (the statistic
    eval-decontamination and quote-mining pipelines threshold on).

    Shingles (not unigram tokens): on a saturated vocabulary every
    token-SET contains every other (the driver corpus: 27 103 of 33 487
    in-lang pairs at token containment ≥ 0.8 — a meaningless signal);
    word n-grams keep sequence structure, so containment is selective.

    **Containment prefix filter** — the asymmetric sibling of the
    AllPairs bound used by :func:`ngram_jaccard_pairs`: if the SMALLER
    set's containment is ≥ t, at most ``(1−t)·|A|`` of its shingles are
    missing from B, so one of its first ``|A| − ⌈t·|A|⌉ + 1`` shingles
    under the global (df asc, shingle) order appears in B.  Unlike the
    Jaccard bound, the probe prefix must join the OTHER side's FULL
    shingle index (B carries no size constraint — it may be arbitrarily
    larger), and since either endpoint of a canonical pair can be the
    smaller one, every doc probes as a potential contained side; the
    candidate set is therefore provably complete and the exact verify
    keeps results identical to the exhaustive join.  There is no
    size-compatibility filter (containment constrains no size ratio).

    ``prefix_filter=None`` auto-decides from the same deterministic
    1024-doc vocabulary-richness probe as the Jaccard operator —
    shingle vocabularies are rich even over tiny word vocabularies
    (sequences multiply), so real corpora take the prefix path;
    ``False`` falls back to the salted-triangle exhaustive enumeration
    within ``bucket_cols`` (exact, skew-bounded, same cell scheme).
    The probe's decision is recorded as a ``session.run_record`` of kind
    ``"shingle_containment_pairs"``."""
    from tts_data_pipeline_spark.cachereg import cache_replacing
    from tts_data_pipeline_spark.sources.readers import spread

    words = F.split(F.lower(F.trim(F.col(text_col))), " ")
    toks = F.array_distinct(word_shingles(words, shingle_n))
    base = cache_replacing(
        "shingle_containment_pairs",
        spread(
            # filter on the PROJECTED column — a filter on the raw `toks`
            # expression would evaluate the whole shingling twice
            df.select(
                F.col(id_col).alias("_id"), toks.alias("_tokset"), *bucket_cols
            ).filter(F.size(F.col("_tokset")) > 0)
        ),
    )
    if prefix_filter is None:
        prefix_filter = _probe_vocab(base, "shingle_containment_pairs")[2]
    ex = base.select("_id", *bucket_cols, F.explode("_tokset").alias("_t"))
    if prefix_filter:
        tok_df = ex.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
        ranked = ex.join(F.broadcast(tok_df), "_t")
        n = F.size("_st")
        plen = F.greatest(
            n - F.ceil(F.lit(threshold) * n).cast("int") + 1, F.lit(1)
        )
        pref = (
            ranked.groupBy("_id", *bucket_cols)
            .agg(F.array_sort(F.collect_list(F.struct("_df", "_t"))).alias("_st"))
            .select(
                "_id",
                *bucket_cols,
                F.slice(
                    F.transform("_st", lambda s: s["_t"]), F.lit(1), plen
                ).alias("_pref"),
            )
        )
        pa = pref.select(
            F.col("_id").alias("_ida"),
            *bucket_cols,
            F.explode("_pref").alias("_t"),
        )
        fb = ex.select(F.col("_id").alias("_idb"), *bucket_cols, "_t")
        cand = (
            pa.join(fb, [*bucket_cols, "_t"])
            .filter(F.col("_ida") != F.col("_idb"))
            .select(
                F.least("_ida", "_idb").alias("id_a"),
                F.greatest("_ida", "_idb").alias("id_b"),
            )
            .distinct()
        )
    else:
        s_max = F.lit(pair_salt - 1)
        salt = F.pmod(F.xxhash64(F.col("_id")), F.lit(pair_salt)).cast("int")
        narrow = base.select("_id", *bucket_cols, salt.alias("_salt"))
        a_keys = narrow.select(
            F.col("_id").alias("_ida"),
            *bucket_cols,
            F.col("_salt").alias("_lo"),
            F.explode(F.sequence(F.col("_salt"), s_max)).alias("_hi"),
        )
        b_keys = narrow.select(
            F.col("_id").alias("_idb"),
            *bucket_cols,
            F.explode(F.sequence(F.lit(0), F.col("_salt"))).alias("_lo"),
            F.col("_salt").alias("_hi"),
        )
        cand = (
            a_keys.join(b_keys, [*bucket_cols, "_lo", "_hi"])
            .filter(
                (F.col("_lo") != F.col("_hi")) | (F.col("_ida") < F.col("_idb"))
            )
            .select(
                F.least("_ida", "_idb").alias("id_a"),
                F.greatest("_ida", "_idb").alias("id_b"),
            )
            .distinct()
        )
    toksets = base.select("_id", "_tokset")
    pairs = cand.join(
        toksets.select(F.col("_id").alias("id_a"), F.col("_tokset").alias("tok_a")),
        "id_a",
    ).join(
        toksets.select(F.col("_id").alias("id_b"), F.col("_tokset").alias("tok_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("tok_a", "tok_b"))
    mn = F.least(F.size("tok_a"), F.size("tok_b"))
    return (
        pairs.withColumn(
            "containment",
            eval_once(
                F.round(inter.cast("double") / F.greatest(mn, F.lit(1)), 4)
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


@F.pandas_udf(T.LongType())
def simhash64(texts):  # type: ignore[no-untyped-def]
    """64-bit SimHash (Arrow-batched, fully batch-vectorized numpy).

    Token hashes vote ±1 per bit; the sign vector is the fingerprint.
    Near-dups differ in few bits → group by rotated prefixes or compare
    hamming distance within LSH buckets.

    Vectorization (vs the naive per-row loop this replaced, ~15× measured):
    - distinct tokens are blake2b-hashed ONCE PER BATCH via a dict cache —
      corpus vocabulary repeats heavily, so most rows pay zero hash calls;
    - all (row, token-hash) pairs across the batch form one flat uint64
      array; the 64-bit expansion is a single broadcasted shift, and the
      per-row ±1 votes accumulate with one ``np.add.at`` scatter —
      no per-row numpy allocations.
    Fingerprints are bit-identical to the per-row form (golden-pinned in
    tests/test_dedup_similarity.py).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    n = len(texts)
    rows: list[int] = []
    hashes: list[int] = []
    cache: dict[str, int] = {}
    for i, t in enumerate(texts):
        if not t:
            continue
        for w in set(t.lower().split()):
            h = cache.get(w)
            if h is None:
                h = int.from_bytes(
                    hashlib.blake2b(w.encode(), digest_size=8).digest(), "big"
                )
                cache[w] = h
            rows.append(i)
            hashes.append(h)
    out = np.zeros(n, dtype=np.int64)
    if hashes:
        hs = np.array(hashes, dtype=np.uint64)
        idx = np.array(rows, dtype=np.int64)
        shifts = np.arange(64, dtype=np.uint64)
        contrib = (2 * ((hs[:, None] >> shifts) & 1).astype(np.int64)) - 1
        votes = np.zeros((n, 64), dtype=np.int64)
        np.add.at(votes, idx, contrib)
        sig = ((votes > 0).astype(np.uint64) << shifts).sum(
            axis=1, dtype=np.uint64
        )
        out = sig.view(np.int64)
    return pd.Series(out)


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    """Exact dedup: keep the min-id representative per distinct content.
    One shuffle on the content hash; never a driver-side set."""
    return (
        df.groupBy(content_fingerprint(F.col(content_col)).alias("fp"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )
