"""Deduplication operators — the scale-critical piece of a training-data
pipeline (beyond the reference's per-run memoization, SURVEY.md §2.7 O4).

All variants are expressed as declarative DataFrame plans so Catalyst plans
the shuffles; the only "model" is hashing, done with ``md5`` so the DuckDB
oracle computes byte-identical values (xxhash64 exists in both engines but
with different seeds/variants — md5 is the cross-engine-stable choice; at
production scale swap HASH_FN for xxhash64 to cut CPU).

Scale notes (10^12 docs):
- exact dedup = one hash-partitioned aggregation on the digest — the digest
  (16B) shuffles, never the text; Spark's partial (map-side) agg means each
  executor emits one row per distinct digest per partition.
- MinHash-LSH = per-row signature (narrow) -> explode to (band, doc) ->
  ONE shuffle on band-hash -> within-bucket pairs. Bucket sizes are the
  skew risk: boilerplate-identical pages all land in one bucket, so
  candidate pairs are capped per bucket upstream by distinct-digest dedup.
- embedding near-dup brute-force is O(n^2) — kept for oracle-checkable
  correctness at test SF; the LSH variant in similarity.py is the scale path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Shingling (shared by minhash / jaccard): w-word shingles joined by a space
# over whitespace tokens of the trimmed text.
# ---------------------------------------------------------------------------


def shingle_rows(df: DataFrame, text_col: str = "text", key: str = "doc_id", w: int = 3) -> DataFrame:
    """Exploded (id, s) shingle rows: every run of ``w`` consecutive
    ``textanalysis.words`` tokens joined by one space; docs with < w
    tokens (and null text) contribute no rows. Pinned multiset-equal to a
    python model over ``textanalysis.jvm_tokens`` by test.

    Whole-stage-codegen throughout: explode(sequence) generates the start
    indices, then ``slice(toks, i, w)`` / ``concat_ws`` run as ordinary
    codegen expressions — no interpreted lambda per element. The token
    array rides along the generator rows within the stage (never through a
    shuffle), which costs an in-stage array copy per shingle but measured
    10x faster than an interpreted ``F.transform`` array form and adds no
    exchange.

    Implemented as the positioned form minus the index, so the ONE
    tokenization expression the oracles mirror cannot drift between the
    two (Catalyst prunes identically — pos is the explode output either
    way)."""
    return positioned_shingle_rows(df, text_col, key, w).select("id", "s")


def positioned_shingle_rows(
    df: DataFrame, text_col: str = "text", key: str = "doc_id", w: int = 3
) -> DataFrame:
    """``shingle_rows`` plus the 1-based start-token index: (id, pos, s).

    The position column is what span-level operators (``duplicate_spans``,
    ``repetition_signals``) need to map a duplicated shingle back onto the
    token range it covers. Same codegen shape as ``shingle_rows`` —
    explode(sequence) start indices, ``slice`` + ``concat_ws``, no
    interpreted lambda; docs with < w tokens contribute no rows. (id, pos)
    is unique per input row, so every downstream window ordered by pos is
    deterministic. Tokenizer = ``textanalysis.words`` — the ONE JVM
    definition (python twin: ``jvm_tokens``), so the pinned twin test
    covers the span family's position space."""
    from .textanalysis import words

    toks = words(F.col(text_col))
    d = (
        df.select(F.col(key).alias("id"), toks.alias("_toks"))
        .filter(F.size("_toks") >= w)
        .select(
            "id",
            "_toks",
            F.explode(F.sequence(F.lit(1), F.size("_toks") - (w - 1))).alias("pos"),
        )
    )
    return d.select(
        "id", "pos", F.concat_ws(" ", F.slice(F.col("_toks"), F.col("pos"), w)).alias("s")
    )


def _hashed_positioned_shingles(
    df: DataFrame, text_col: str, key: str, w: int
) -> DataFrame:
    """(id, pos, h) rows: positioned shingles keyed by the 60-bit
    md5-prefix int — the ONE definition of the span-family shuffle key.
    conv(substring(md5(s),1,15),16,10) == DuckDB's 0x-cast (cross-engine
    equality pinned), so oracles group by the IDENTICAL value."""
    return (
        positioned_shingle_rows(df, text_col, key, w)
        .withColumn("h", F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long"))
        .drop("s")
    )


def _spans_from_hits(hits: DataFrame, key: str, w: int) -> DataFrame:
    """Gaps-and-islands merge of duplicated-shingle hit positions into
    maximal spans — shared by ``duplicate_spans`` and ``strip_duplicate_spans``.

    Two hits merge when the earlier one's half-open end ``pos + w`` reaches
    the later one's start — overlapping OR back-to-back coverage, never
    across an uncovered token gap. ``partitionBy(doc)`` window: hash-
    partitioned, no global sort; (id, pos) unique => deterministic."""
    from pyspark.sql import Window

    wo = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + w).over(
        wo.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)), F.lit(1)).otherwise(
        F.lit(0)
    )
    g = hits.withColumn("_brk", brk).withColumn(
        "_island", F.sum("_brk").over(wo.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        g.groupBy("id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (w - 1)).alias("span_end"),
            F.count("*").cast("long").alias("n_dup_shingles"),
        )
        .select(F.col("id").alias(key), "span_start", "span_end", "n_dup_shingles")
    )


def duplicate_spans(
    df: DataFrame, text_col: str = "text", key: str = "doc_id", w: int = 8
) -> DataFrame:
    """Substring-level dedup: maximal token spans covered by w-token
    shingles that occur in >= 2 DISTINCT documents (the span-extraction
    step of suffix-array training-data dedup — Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" —
    re-expressed as a shingle plan instead of a suffix array; the
    reference's own dedup is doc-level only, so this is a beyond-reference
    pipeline operator).

    Returns (key, span_start, span_end, n_dup_shingles): 1-based inclusive
    token indices of each maximal duplicated span and the number of
    duplicated shingles merged into it (merge contract in
    ``_spans_from_hits``).

    Plan shape (the 100 TB story), chosen by A/B at 120k/1.2M docs:
    - each shingle is keyed by a 60-bit md5-prefix int (the minhash-family
      idiom: conv(substring(md5(s),1,15),16,10) == DuckDB's 0x-cast, so the
      oracle groups by the IDENTICAL value and parity holds even under a
      collision) — the shuffle moves (h:8B, id, pos) rows, never ~50-100B
      shingle strings, and all comparisons are long, not string: measured
      ~4.5x over a string-keyed groupBy+join form (the string-keyed DuckDB
      query in test_operators checks the hashed keying loses nothing);
    - "appears in >= 2 distinct docs" is min(id)!=max(id) computed as
      window aggregates over ``partitionBy(h)`` in ONE pass — no second
      shingle scan, no join back, and (unlike a collect_list agg, measured
      ~40% slower) the window is sort-based and SPILLS, so a boilerplate
      mega-shingle appearing in millions of docs grows disk, not one
      aggregation buffer;
    - span merging is the gaps-and-islands pattern under a
      ``partitionBy(doc)`` window whose hashpartitioning the final span agg
      reuses (plan-pinned: exactly 2 exchanges, no join).

    Collision contract: 60 bits over S distinct shingles ~ S^2/2^61 false
    merges (negligible below ~10^8 shingles; at 10^12-doc scale a rare
    false merge adds noise hits to a dedup HEURISTIC, never corrupts text).
    That tolerance is specific to DETECTION — the action op
    ``strip_duplicate_spans`` cuts text on its hits, so it uses a 120-bit
    key (two independent md5 slices) instead; see its docstring."""
    sh = _hashed_positioned_shingles(df, text_col, key, w)

    from pyspark.sql import Window

    wh = Window.partitionBy("h")
    hits = (
        sh.withColumn("_lo", F.min("id").over(wh))
        .withColumn("_hi", F.max("id").over(wh))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("id", "pos")
    )
    return _spans_from_hits(hits, key, w)


# ---------------------------------------------------------------------------
# D1. Exact dedup by content hash.
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (fp_md5, group_size, min_doc_id).

    The keep-one policy is "smallest key wins" (deterministic under
    reshuffle; order-insensitive)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fp_md5"), F.col(key))
        .groupBy("fp_md5")
        .agg(
            F.count("*").cast("long").alias("group_size"),
            F.min(key).alias("keep_id"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Survivors of exact dedup: one row per distinct text (min-key winner).

    Plan: hash-agg on digest (partial+final), then a broadcast-friendly
    semi-join back for the full row when needed — here we keep keys only."""
    groups = exact_dedup_groups(df, text_col, key)
    return groups.select(F.col("keep_id").alias(key), "fp_md5", "group_size")


# ---------------------------------------------------------------------------
# D2. MinHash + LSH candidate pairs.
# ---------------------------------------------------------------------------


# MinHash family: ONE md5 per shingle, parsed to a 32-bit int h, then
# h_i = (a_i*h + b_i) mod P (P = 2^31 - 1 prime) — the classic affine
# universal family over a base hash. Chosen over the previous salted-md5-
# per-index family because it computes 1 digest + 8 long multiply-adds per
# shingle instead of 8 digests (signature agg measured 1.38 -> 0.58 s at
# sf0.1) while every expression still runs bit-identically in DuckDB
# (CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT) == Spark's
# conv(substring(md5(x),1,8),16,10); products < 2^46, fitting int64 with
# huge margin in both engines — asserted below). Implemented via explode +
# hash-agg below; an
# array-expression formulation (array_min of transform per salt) measured
# ~20x slower because Spark interprets higher-order functions and
# re-evaluates duplicated subtrees.

MINHASH_P = 2147483647
MINHASH_A = [
    787, 1031, 1523, 2069, 2657, 3121, 3673, 4231,
    4789, 5381, 5987, 6577, 7193, 7823, 8431, 9067,
]
MINHASH_B = [
    12289, 24593, 49157, 98317, 196613, 393241, 786433, 1572869,
    3145739, 6291469, 12582917, 25165843, 50331653, 100663319, 201326611, 402653189,
]
# overflow guard for any future widening of the family: a_i*h + b_i with
# h < 2^32 must stay far inside int64 for BOTH Spark and DuckDB arithmetic
assert max(MINHASH_A) * (2**32 - 1) + max(MINHASH_B) < 2**62


def minhash_lsh_candidates(
    shingles: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (a<b) sharing >=1 LSH band, from ``shingle_rows``
    (id, s) rows; a signature is a min, so distinct rows give the same pairs.

    ``max_bucket_size`` caps the in-bucket self-join: a band bucket of B
    docs yields B^2/2 pairs, so one boilerplate bucket can dominate the
    whole job — buckets over the cap are DROPPED (they are exact-dup
    territory; compose ``exact_dedup`` upstream, as
    ``minhash_jaccard_dedup`` does). Enforced with a window count on the
    band key — same shuffle the self-join needs anyway, no extra exchange.
    None = exact LSH semantics (the oracle-checked contract).

    Physical plan — deliberately explode-based so every hot expression stays
    in whole-stage codegen (higher-order functions are interpreted in Spark;
    an array-expression formulation of the signature measured ~20x slower):

      shingle rows -> one md5 per shingle -> hash-agg min((a_i*h + b_i) mod P)
              x num_hashes (cheap long arithmetic; partial agg
              combines map-side: one row per doc reaches the shuffle)
           -> explode band digests -> ONE shuffle on band -> in-bucket
              self-join -> distinct pairs.

    At 10^12 docs the band digest is the shuffle key; hot buckets
    (boilerplate) should be exact-deduped first.
    """
    if num_hashes > len(MINHASH_A):
        raise ValueError(
            f"minhash_lsh_candidates has {len(MINHASH_A)} pinned affine constants; "
            f"num_hashes must be <= {len(MINHASH_A)} (got {num_hashes})"
        )
    rows_per_band = num_hashes // bands
    h32 = F.conv(F.substring(F.md5(F.col("s")), 1, 8), 16, 10).cast("long")
    sig = shingles.select("id", h32.alias("_h")).groupBy("id").agg(
        *[
            F.min((F.col("_h") * MINHASH_A[i] + MINHASH_B[i]) % MINHASH_P).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.lit(str(b)),
                            *[F.col(f"h{b * rows_per_band + j}") for j in range(rows_per_band)],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).dropDuplicates(["id", "band"])
    if max_bucket_size is not None:
        from pyspark.sql import Window

        bucket_n = F.count("*").over(Window.partitionBy("band"))
        banded = (
            banded.withColumn("_bn", bucket_n)
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# D3. n-gram Jaccard similarity on candidate pairs.
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    shingles: DataFrame,
    pairs: DataFrame | None = None,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact Jaccard over distinct ``shingle_rows`` (id, s) per candidate pair.

    ``pairs`` defaults to all (a<b) pairs — O(n^2), test-scale only; pass the
    LSH candidates at scale so the verify join is |candidates|, not n^2.
    Output: (id_a, id_b, inter, union_sz, jaccard) with exact integer
    inter/union so the double division is bit-stable cross-engine.
    """
    ex = shingles.dropDuplicates(["id", "s"])
    na = ex.groupBy("id").agg(F.count("*").alias("n"))
    if pairs is None:
        inter = (
            ex.alias("x")
            .join(ex.alias("y"), (F.col("x.s") == F.col("y.s")) & (F.col("x.id") < F.col("y.id")))
            .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .agg(F.count("*").cast("long").alias("inter"))
        )
    else:
        cand = pairs.select(F.col("id_a"), F.col("id_b"))
        inter = (
            cand.join(ex.alias("x"), F.col("id_a") == F.col("x.id"))
            .join(
                ex.alias("y"),
                (F.col("id_b") == F.col("y.id")) & (F.col("x.s") == F.col("y.s")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").cast("long").alias("inter"))
        )
    out = (
        inter.join(na.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(na.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            "inter",
            (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("long").alias("union_sz"),
            (
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )
    if threshold > 0.0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


# ---------------------------------------------------------------------------
# D4. SimHash (64-bit) — native bit arithmetic over word hashes.
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, text_col: str = "text", key: str = "doc_id", bits: int = 64) -> DataFrame:
    """64-bit SimHash of the lowercased word multiset via xxhash64 word
    hashes: bit b of the output = majority vote of bit b across word hashes.

    Pure native columns: explode words -> per-bit vote aggregation (sum of
    +-1) -> recombine. One shuffle on the doc key. xxhash64 (not md5): this
    operator is engine-internal (no cross-engine oracle needed — verified by
    a python twin in tests), so the cheap JVM hash wins.
    """
    if bits % 2 != 0:
        raise ValueError(f"simhash packs vote counters in pairs: bits must be even (got {bits})")
    # Codegen-only plan: explode BEFORE lower (an F.transform(…, F.lower)
    # over the token array is an interpreted HOF — same disease shingle_rows
    # cures), then PACKED vote counters: bit b and bit b+32 share one long
    # sum (ones-count in the low/high 32 bits; each addend is 0/1 so the low
    # counter cannot carry into the high one below 2^32 words per doc).
    # Majority sum(+-1) > 0  <=>  2*ones > n — identical bit decisions,
    # half the aggregation buffers, no per-bit conditional on the hot side.
    t = F.trim(F.col(text_col))
    toks = F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )
    exploded = (
        df.select(F.col(key).alias("id"), F.explode(toks).alias("_w0"))
        .select("id", F.xxhash64(F.lower(F.col("_w0"))).alias("h"))
    )
    h = F.col("h")
    half = bits // 2
    packed = [
        (
            F.shiftright(h, b).bitwiseAND(F.lit(1))
            + F.shiftleft(F.shiftright(h, b + half).bitwiseAND(F.lit(1)), 32)
        ).alias(f"p{b}")
        for b in range(half)
    ]
    pr = exploded.select("id", *packed)
    voted = pr.groupBy("id").agg(
        *[F.sum(F.col(f"p{b}")).alias(f"s{b}") for b in range(half)],
        F.count("*").alias("n"),
    )
    sim = None
    for b in range(bits):
        ones = (
            F.col(f"s{b}").bitwiseAND(F.lit(0xFFFFFFFF))
            if b < half
            else F.shiftrightunsigned(F.col(f"s{b - half}"), 32)
        )
        win = ones * 2 > F.col("n")
        term = (
            F.when(win, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
            if b < 63
            else F.when(win, F.lit(-(1 << 63)).cast("long")).otherwise(F.lit(0).cast("long"))
        )
        sim = term if sim is None else sim + term
    return voted.select(F.col("id").alias(key), sim.alias("simhash"))


def simhash_md5(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Cross-engine-verifiable SimHash twin: word hashes from md5 (the only
    hash both engines compute identically), emitted as two 32-bit halves
    (hi, lo) so no signed-64 edge exists in either engine. Semantics equal
    ``simhash`` (per-bit majority vote over the lowercased word multiset);
    only the hash family differs. The xxhash64 variant stays the scale path
    (JVM-native hash, single 64-bit column); this one exists so the SimHash
    *algorithm* is pinned by the DuckDB oracle, not just a python twin.
    Docs with zero words are absent from the output (both engines)."""
    # Same codegen-only shape as ``simhash``: explode before lower (no
    # interpreted HOF), md5 halves materialized ONCE in their own projection
    # (the conv(substring(...)) parse would otherwise be duplicated into
    # every vote expression), and bit b of (hi, lo) packed into one long
    # ones-counter pair (hi in the low 32 bits, lo in the high 32; 0/1
    # addends cannot carry below 2^32 words per doc). Majority sum(+-1) > 0
    # <=> 2*ones > n, so the emitted fingerprints — and the DuckDB oracle —
    # are unchanged bit for bit. Measured ~19% off the sf0.1 wall vs the
    # per-bit conditional-vote form.
    t = F.trim(F.col(text_col))
    toks = F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )
    md5w = F.md5(F.lower(F.col("_w0")))
    halves = (
        df.select(F.col(key).alias("id"), F.explode(toks).alias("_w0"))
        .select("id", md5w.alias("_m"))
        .select(
            "id",
            F.conv(F.substring("_m", 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring("_m", 9, 8), 16, 10).cast("long").alias("lo"),
        )
    )
    packed = [
        (
            F.shiftright(F.col("hi"), b).bitwiseAND(F.lit(1))
            + F.shiftleft(F.shiftright(F.col("lo"), b).bitwiseAND(F.lit(1)), 32)
        ).alias(f"p{b}")
        for b in range(32)
    ]
    voted = halves.select("id", *packed).groupBy("id").agg(
        *[F.sum(F.col(f"p{b}")).alias(f"s{b}") for b in range(32)],
        F.count("*").alias("n"),
    )
    out = {}
    for h, ones_of in (
        ("hi", lambda b: F.col(f"s{b}").bitwiseAND(F.lit(0xFFFFFFFF))),
        ("lo", lambda b: F.shiftrightunsigned(F.col(f"s{b}"), 32)),
    ):
        acc = None
        for b in range(32):
            bit = F.when(ones_of(b) * 2 > F.col("n"), F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            acc = bit if acc is None else acc + bit
        out[h] = acc
    return voted.select(
        F.col("id").alias(key), out["hi"].alias("simhash_hi"), out["lo"].alias("simhash_lo")
    )


def _hamming_block_keys(n_chunks: int, bits_of) -> Column:
    """Chunk-key string array partitioning the 64 bit positions into
    ``n_chunks`` near-equal contiguous runs (widths differ by at most 1).

    Pigeonhole invariant the callers rely on: the runs PARTITION all 64
    bits, so two hashes within hamming <= n_chunks - 1 cannot differ in
    every run — they share at least one exact chunk key and meet in that
    bucket. ``bits_of(start, width)`` must return a long Column holding bit
    positions [start, start+width) of the 64-bit fingerprint."""
    widths = [64 // n_chunks + (1 if i < 64 % n_chunks else 0) for i in range(n_chunks)]
    keys, start = [], 0
    for i, w in enumerate(widths):
        keys.append(F.concat(F.lit(f"{i}:"), bits_of(start, w).cast("string")))
        start += w
    return F.array(*keys)


def _check_hamming_coverage(op: str, max_hamming: int, n_chunks: int) -> None:
    if not 2 <= n_chunks <= 64:
        raise ValueError(f"{op}: n_chunks must be in [2, 64] (got {n_chunks})")
    if max_hamming >= n_chunks:
        # c chunks only guarantee a shared exact chunk for hamming < c; a
        # larger radius would silently LOSE pairs whose diffs spread one per
        # chunk — refuse rather than return an incomplete pair set
        raise ValueError(
            f"{op} blocks on {n_chunks} chunks: max_hamming must be <= "
            f"{n_chunks - 1} (got {max_hamming}); raise n_chunks to at least "
            f"max_hamming + 1 to cover the radius"
        )


def simhash_md5_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by Hamming distance on the ORACLE-checkable md5
    SimHash (two 32-bit halves), blocked on ``n_chunks`` near-equal bit
    runs — a pair within hamming <= n_chunks - 1 over the 64 bits must
    share >= 1 exact chunk (pigeonhole), so the join is bucket-local, never
    a cross join. Same plan shape as ``simhash_near_pairs`` (the xxhash64
    scale variant); this twin exists so the full extract-pairs step — not
    just the fingerprint — is pinned by the DuckDB oracle. Blocking
    losslessness at radii 3-7 is pinned against the all-pairs DuckDB twin
    in tests. Output: (id_a, id_b, hamming).

    Scale note: chunk buckets collide at rate n/2^(64/n_chunks) per chunk —
    compose ``exact_dedup`` upstream (boilerplate collapses to one row) and
    keep n_chunks at the minimum covering the radius (wider chunks = fewer,
    colder buckets AND fewer exploded rows); the blocked join itself is the
    standard pigeonhole design.
    """
    _check_hamming_coverage("simhash_md5_near_pairs", max_hamming, n_chunks)
    sim = simhash_md5(df, text_col, key)

    def bits_of(start: int, width: int) -> Column:
        # logical bit b of the 64-bit fingerprint: b<32 -> bit b of hi,
        # b>=32 -> bit b-32 of lo; a run spanning the boundary concatenates
        # the two extracts (lo part shifted above the hi part)
        parts = []
        w_hi = min(max(32 - start, 0), width)
        if w_hi:
            parts.append(
                F.shiftrightunsigned(F.col("simhash_hi"), start).bitwiseAND(
                    F.lit((1 << w_hi) - 1)
                )
            )
        if width > w_hi:
            w_lo = width - w_hi
            lo_part = F.shiftrightunsigned(
                F.col("simhash_lo"), max(start - 32, 0)
            ).bitwiseAND(F.lit((1 << w_lo) - 1))
            parts.append(F.shiftleft(lo_part, w_hi) if w_hi else lo_part)
        out = parts[0]
        for p in parts[1:]:
            out = out + p
        return out

    blocked = sim.select(
        F.col(key).alias("id"),
        F.col("simhash_hi").alias("hi"),
        F.col("simhash_lo").alias("lo"),
        F.explode(_hamming_block_keys(n_chunks, bits_of)).alias("blk"),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    ham = F.bit_count(F.col("a.hi").bitwiseXOR(F.col("b.hi"))) + F.bit_count(
        F.col("a.lo").bitwiseXOR(F.col("b.lo"))
    )
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_pairs(
    sim_df: DataFrame,
    key: str = "doc_id",
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by Hamming distance on simhash, blocked on
    ``n_chunks`` near-equal bit runs (a pair within hamming <= n_chunks - 1
    must share >= 1 exact chunk — pigeonhole) so the join is bucket-local,
    never a cross join."""
    _check_hamming_coverage("simhash_near_pairs", max_hamming, n_chunks)
    bits_of = lambda start, width: (  # noqa: E731
        F.shiftrightunsigned(F.col("simhash"), start).bitwiseAND(
            F.lit((1 << width) - 1) if width < 64 else F.lit(-1)
        )
    )
    blocked = sim_df.select(
        F.col(key).alias("id"),
        F.col("simhash"),
        F.explode(_hamming_block_keys(n_chunks, bits_of)).alias("blk"),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    pop = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            pop.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# D5. Duplicate-cluster resolution: connected components over near-dup pairs.
# The edge count picks the path: union-find on the driver for the small
# graphs verification leaves, two-phase contraction above a measured bound.
# ---------------------------------------------------------------------------

# Most symmetrized edges (2 per pair) resolved on the driver; set by driver
# memory, as the driver path is faster at every measured size (BENCH.md).
_CC_DRIVER_MAX_EDGES = 2_000_000
_CC_MAX_ROUNDS = 50  # two-phase rounds grow as log n: a 100-chain takes 8


def connected_components(pairs: DataFrame) -> DataFrame:
    """(id_a, id_b) near-dup pairs -> (node, component) with component = the
    MINIMUM node id reachable through the pair graph: one survivor (the min
    id) per transitive duplicate cluster. Ids keep the input's type (``url``
    strings in the recipe, ``long`` doc ids in the registry). A pair with a
    NULL endpoint is dropped: a NULL key is not a node.

    The edge count, observed by the edge checkpoint's own job, picks one of
    two paths with identical labels:

    - at most ``_CC_DRIVER_MAX_EDGES``: Arrow-collect the edges, union-find
      on the driver (Python's ``str`` order is code-point order, the order
      of Spark's UTF-8 binary ``min``), return at most
      ``defaultParallelism`` partitions;
    - above: ``_cc_two_phase``, which raises ``RuntimeError`` rather than
      return labels short of its fixpoint after ``_CC_MAX_ROUNDS`` rounds.

    Deterministic: a pure function of the pair set.
    """
    import pandas as pd
    from pyspark.sql import Observation

    pairs = pairs.filter(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
    size = Observation()
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .observe(size, F.count(F.lit(1)).alias("n"))
        # Materialize the edge set ONCE: every later JOB re-reads it, and
        # without this the upstream pair pipeline (capped LSH + Jaccard in
        # near_dup_survivors) recomputes per job — survivors 171 -> ~90 s at
        # 120k docs (10x stress run).
        .localCheckpoint()
    )
    if size.get["n"] > _CC_DRIVER_MAX_EDGES:
        return _cc_two_phase(edges)
    # one direction of each pair suffices; <= keeps self-loops as nodes
    pdf = edges.filter(F.col("src") <= F.col("dst")).toPandas()
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # a root is its set's min
    labels = pd.DataFrame({"node": list(parent), "component": [find(n) for n in parent]})
    spark = edges.sparkSession
    # Arrow makes one partition per arrow.maxRecordsPerBatch rows
    return spark.createDataFrame(
        labels, edges.selectExpr("src AS node", "dst AS component").schema
    ).coalesce(spark.sparkContext.defaultParallelism)


def _cc_two_phase(edges_sym: DataFrame) -> DataFrame:
    """Alternating large-star/small-star contraction.

    Per round on the undirected edge multiset E (kept deduped):

    - large-star: for every node u with neighborhood N(u), m = min(N(u) ∪
      {u}); rewire each strictly-LARGER neighbor to m: emit (v, m) for
      v ∈ N(u), v > u.
    - small-star: direct each edge from its larger endpoint; for every node
      u with smaller-neighbors S(u), m = min(S(u) ∪ {u}); emit (v, m) for
      v ∈ S(u) ∪ {u}, v ≠ m.

    Both steps preserve connectivity and only shrink the reachable minimum
    distance; at the fixpoint E is a star forest (every node points at its
    component min). Convergence detected by an order-independent edge-set
    checksum (count + sum of xxhash64) — deterministic for a given input.
    """
    nodes = edges_sym.select(F.col("src").alias("node")).distinct()

    def sym(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()

    def checksum(e: DataFrame) -> tuple:
        # bit_xor: order-independent and overflow-free (ANSI mode rejects a
        # plain sum of 64-bit hashes)
        row = e.agg(
            F.count("*").alias("n"), F.expr("bit_xor(xxhash64(src, dst))").alias("h")
        ).first()
        return (row.n, row.h)

    def large_star(e_sym: DataFrame) -> DataFrame:
        m = e_sym.groupBy("src").agg(F.min("dst").alias("mn"))
        m = m.select("src", F.least(F.col("src"), F.col("mn")).alias("m"))
        return (
            e_sym.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        directed = e.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        ).filter(F.col("src") != F.col("dst"))
        m = directed.groupBy("src").agg(F.min("dst").alias("m"))
        rewired = (
            directed.join(m, "src")
            .select(F.col("dst").alias("v"), F.col("m"))
            .unionByName(m.select(F.col("src").alias("v"), F.col("m")))
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        return rewired

    e = edges_sym
    prev = None
    for _ in range(_CC_MAX_ROUNDS):
        e = sym(large_star(e))
        # localCheckpoint (eager) truncates the logical plan: without it
        # every round nests the previous round's plan and Catalyst analysis
        # time grows super-linearly with iterations — the classic
        # iterative-DataFrame trap (same reason MLlib checkpoints)
        e = small_star(e).localCheckpoint()
        cur = checksum(e)
        if cur == prev:
            break
        prev = cur
        e = sym(e)
    else:
        # short of the fixpoint the edge set is not yet a star forest and
        # the labels read off it below would be silently wrong
        raise RuntimeError(
            f"connected_components: two-phase contraction did not converge in "
            f"{_CC_MAX_ROUNDS} rounds"
        )
    # fixpoint: e (directed larger->smaller after small_star) is a star
    # forest; every non-root node appears once as src with dst = its root
    parents = e.select(
        F.greatest("src", "dst").alias("node"), F.least("src", "dst").alias("component")
    ).groupBy("node").agg(F.min("component").alias("component"))
    return (
        nodes.join(parents, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )


def near_dup_survivors(
    df: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    threshold: float = 0.5,
    max_bucket_size: int = 200,
) -> DataFrame:
    """The end-to-end dedup operator a corpus pipeline actually wants:
    exact-dedup -> capped MinHash-LSH candidates -> Jaccard verify ->
    connected components -> ONE survivor (min key) per duplicate cluster.
    Output: the rows of ``df`` that keep their exact-text group (its min key,
    matched null-safely on (key, fp_md5)) and lose no near-dup cluster, with
    all of ``df``'s columns plus ``fp_md5`` and ``group_size``. One distinct
    (id, s) shingle table, materialized once, feeds the LSH and the verify:
    ReuseExchange did not dedupe their subtrees (12 shingle runs at 20k pages)."""
    fp = df.withColumn("fp_md5", F.md5(F.col(text_col)))
    keepers = (
        fp.join(exact_dedup_groups(df, text_col, key), "fp_md5")
        .filter(F.col(key).eqNullSafe(F.col("keep_id")))
        .select(*fp.columns, "group_size")
    )
    shingles = shingle_rows(keepers, text_col, key).dropDuplicates(["id", "s"]).localCheckpoint()
    cand = minhash_lsh_candidates(shingles, max_bucket_size=max_bucket_size)
    near = ngram_jaccard_pairs(shingles, pairs=cand, threshold=threshold)
    comp = connected_components(near.select("id_a", "id_b"))
    losers = comp.filter(F.col("node") != F.col("component")).select(F.col("node").alias(key))
    return keepers.join(losers, key, "left_anti")


# ---------------------------------------------------------------------------
# D6. Embedding-cosine near-duplicates (brute force; LSH path in similarity.py)
# ---------------------------------------------------------------------------


def _seq_dot(a, b):
    """Sequential-order double dot product: cumsum accumulates left-to-right
    like DuckDB's ``list_cosine_similarity`` oracle (numpy's sum/dot use
    pairwise/SIMD orders, which are NOT bit-identical for floats)."""
    prod = a * b
    return prod.cumsum(axis=-1)[..., -1]


def _as_vec(v, dim: int | None = None):
    """The ONE definition of a usable embedding row: a 1-D float64 vector
    (optionally of exactly ``dim``) or None for every degenerate SHAPE —
    null, unconvertible (string/object element), nested/scalar, empty, or
    dim-mismatched. A null ELEMENT is not a shape problem: numpy converts
    None -> NaN, the vector passes through, and the NaN cosine becomes a
    SQL null downstream (pinned in the ANN degenerate-vector test). Shared
    by cosine_scores, the blocked near-dup scorer, and the ANN bucket/cell
    UDFs so 'what counts as degenerate' cannot drift between operators."""
    import numpy as np

    if v is None:
        return None
    try:
        a = np.asarray(v, dtype=np.float64)
    except (TypeError, ValueError):
        return None
    if a.ndim != 1 or a.size == 0 or (dim is not None and a.size != dim):
        return None
    return a


def cosine_scores(a: Column, b: Column) -> Column:
    """Vectorized cosine (Arrow-batched pandas UDF): a sequential double
    fold — elementwise double products accumulated in order via cumsum,
    IEEE sqrt/divide — bit-identical to DuckDB's ``list_cosine_similarity``
    oracle, at codegen-class speed (an interpreted higher-order-function
    fold measured ~7x slower end-to-end in the similarity_topk driver
    bench)."""
    import numpy as np
    import pandas as pd

    # NOTE: no type hints on the inner fn — `from __future__ import
    # annotations` turns them into strings pandas_udf cannot resolve here;
    # the explicit returnType carries the schema.
    @F.pandas_udf("double")
    def _cos(xs, ys):
        n = len(xs)
        if n == 0:
            return pd.Series([], dtype="float64")

        def row(x, y):
            # degenerate inputs (null / empty / mismatched-dim vectors)
            # yield NULL: never crash the stage, always dropped by
            # threshold filters, and unlike the Column fold's NaN for
            # empty-vs-empty (NaN sorts GREATER than every number in Spark,
            # polluting a desc top-k) nulls sort last. Arrow maps pandas
            # NaN to SQL null anyway, so null is also the only
            # representable choice here.
            xa, ya = _as_vec(x), _as_vec(y)
            if xa is None or ya is None or xa.shape != ya.shape:
                return None
            return _seq_dot(xa, ya) / (
                np.sqrt(_seq_dot(xa, xa)) * np.sqrt(_seq_dot(ya, ya))
            )

        try:  # uniform-dim fast path: one stacked cumsum per batch
            xa = np.stack([np.asarray(x, dtype=np.float64) for x in xs])
            ya = np.stack([np.asarray(y, dtype=np.float64) for y in ys])
            if xa.ndim != 2 or xa.shape[1] == 0 or ya.shape != xa.shape:
                raise ValueError("degenerate batch")
            dot = _seq_dot(xa, ya)
            na = np.sqrt(_seq_dot(xa, xa))
            nb = np.sqrt(_seq_dot(ya, ya))
            return pd.Series(dot / (na * nb))
        except (ValueError, TypeError):  # ragged/empty/null rows: per-row
            return pd.Series([row(x, y) for x, y in zip(xs, ys)], dtype="float64")

    return _cos(a, b)


def embedding_near_dup_pairs_brute(
    emb: DataFrame, key: str = "vec_id", vec_col: str = "embedding", threshold: float = 0.95
) -> DataFrame:
    """SPEC form: all (a<b) pairs scored through the pair cross join —
    every pair ships BOTH arrays through Arrow. Kept as the semantic
    reference the blocked operator is pinned against in tests; never the
    path to run (O(n^2) rows × O(dim) bytes each through the shuffle)."""
    a = emb.select(F.col(key).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(key).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_scores(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b")
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    key: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_blocks: int = 8,
    chunk_rows: int = 256,
) -> DataFrame:
    """All (a<b) pairs with cosine >= threshold, scored block-at-a-time.

    Blocked matrix plan: each vector gets a content-hash block (md5 of the
    key mod B — reshuffle-stable), is replicated to the B block-pair groups
    it participates in (ONE shuffle of n·B narrow rows — each row one id +
    one vector, never a pair of vectors), and every block-pair task scores
    its cross product as numpy matrices via ``applyInPandas``. Compared to
    the pair cross join this ships each vector B times instead of n times
    (~n/B fewer bytes through Arrow) and replaces 2·dim-element python rows
    with one vectorized cumsum per chunk.

    Still exact all-pairs semantics (every unordered pair lands in exactly
    one block-pair group, so no dedup pass is needed) — total WORK remains
    O(n^2·dim/cluster); this is the exact operator with distributed-matrix
    constants. For sub-quadratic near-dup at corpus scale, block by
    sign-LSH / simhash first (similarity.lsh_ann, simhash_near_pairs).

    Scoring is bit-identical to ``cosine_scores`` (sequential
    cumsum dots, IEEE sqrt/divide; degenerate rows — null / null-element /
    dim-mismatched vs their partner — can never pass the threshold, exactly
    like the NULL cosines of the pair form). ``n_blocks``: pick ≈
    sqrt(2·tasks_wanted); per-task memory is bounded by
    chunk_rows·(n/B)·dim·8 bytes via row-chunking.
    """
    import numpy as np
    import pandas as pd

    B = n_blocks
    id_type = dict(emb.dtypes)[key]
    blk = (
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 4), 16, 10).cast("long")
        % F.lit(B)
    ).cast("int")
    other = F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("other")
    replicated = (
        emb.select(F.col(key).alias("id"), F.col(vec_col).alias("v"), blk.alias("blk"))
        .select("id", "v", "blk", other)
        .withColumn(
            "pair", F.least(F.col("blk"), F.col("other")) * B + F.greatest(F.col("blk"), F.col("other"))
        )
        .drop("other")
    )

    def _parse(series):
        """Per-row vector parse; invalid rows -> None (same rows the pair
        form scores as NULL — `_as_vec` is the shared degeneracy contract)."""
        return [_as_vec(v) for v in series]

    def _score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pair = int(pdf["pair"].iloc[0])
        i, j = divmod(pair, B)
        vecs = _parse(pdf["v"])
        ids = pdf["id"].to_numpy()
        blks = pdf["blk"].to_numpy()
        out_a: list = []
        out_b: list = []
        # score per embedding dimension present (cross-dim pairs are NULL
        # cosines in the spec form -> never emitted)
        dims = sorted({a.size for a in vecs if a is not None})
        for dim in dims:
            valid = np.array([a is not None and a.size == dim for a in vecs])
            if i == j:
                sel = valid
                X = np.stack([a for a, m in zip(vecs, valid) if m]) if sel.any() else None
                if X is None or len(X) < 2:
                    continue
                xid = ids[valid]
                Y, yid, upper = X, xid, True
            else:
                ma = valid & (blks == i)
                mb = valid & (blks == j)
                if not ma.any() or not mb.any():
                    continue
                X = np.stack([a for a, m in zip(vecs, ma) if m])
                Y = np.stack([a for a, m in zip(vecs, mb) if m])
                xid, yid, upper = ids[ma], ids[mb], False
            nx = np.sqrt(_seq_dot(X, X))
            ny = np.sqrt(_seq_dot(Y, Y))
            for s in range(0, len(X), chunk_rows):
                Xc = X[s : s + chunk_rows]
                # (c, nY, dim) products, cumsum over dim = the sequential
                # fold, per pair — bit-equal to cosine_scores
                dot = (Xc[:, None, :] * Y[None, :, :]).cumsum(axis=2)[:, :, -1]
                cos = dot / (nx[s : s + chunk_rows, None] * ny[None, :])
                hit = cos >= threshold  # NaN (zero-norm) never passes
                if upper:
                    # only a<b by POSITION to visit each unordered pair once
                    hit &= (s + np.arange(Xc.shape[0]))[:, None] < np.arange(len(Y))[None, :]
                ha, hb = np.nonzero(hit)
                if ha.size:
                    ia, ib = xid[s + ha], yid[hb]
                    out_a.extend(np.minimum(ia, ib).tolist())
                    out_b.extend(np.maximum(ia, ib).tolist())
        return pd.DataFrame({"id_a": out_a, "id_b": out_b})

    return (
        replicated.groupBy("pair")
        .applyInPandas(_score_block, schema=f"id_a {id_type}, id_b {id_type}")
        .select(F.col("id_a").alias("id_a"), F.col("id_b").alias("id_b"))
    )


def _hashed_positioned_shingles120(
    df: DataFrame, text_col: str, key: str, w: int
) -> DataFrame:
    """(id, pos, h, h2) rows: positioned shingles keyed by TWO independent
    60-bit md5 slices (chars 1-15 and 16-30 of the hex digest) — the
    action-grade 120-bit key shared by ``strip_duplicate_spans`` and
    ``decontaminate``. Same single codegen stage as
    ``_hashed_positioned_shingles``; +8 bytes/row buys a collision rate of
    ~S^2/2^121 (see strip_duplicate_spans' contract)."""
    return (
        positioned_shingle_rows(df, text_col, key, w)
        .withColumn("_m", F.md5("s"))
        .withColumn("h", F.conv(F.substring("_m", 1, 15), 16, 10).cast("long"))
        .withColumn("h2", F.conv(F.substring("_m", 16, 15), 16, 10).cast("long"))
        .drop("s", "_m")
    )


def decontaminate(
    docs: DataFrame,
    contaminants: DataFrame,
    *,
    w: int = 13,
    text_col: str = "text",
    key: str = "doc_id",
    cont_text_col: str | None = None,
    mode: str = "drop",
    broadcast: bool = True,
) -> DataFrame:
    """Benchmark decontamination: drop (or flag) every training document
    that shares at least one w-token n-gram with a contaminant corpus —
    the GPT-3/Gopher/Llama eval-overlap filter (13-gram overlap is the
    published convention), the cross-corpus complement of this module's
    within-corpus dedup family. The reference has no cross-corpus filter
    (its nearest analog is per-run memoization, SURVEY.md §2.7 O4); this is
    a training-data-pipeline op in its own right.

    mode="drop" returns ``docs`` rows (schema unchanged) whose text shares
    NO w-gram with any contaminant; mode="flag" returns ``docs`` plus
    ``contaminated`` (boolean) and ``n_hits`` (number of shingle POSITIONS
    in the doc whose w-gram occurs in the contaminant set — adjacent
    overlapping positions each count, so a verbatim L-token quote scores
    L-w+1). Docs with fewer than w tokens cannot contain a w-gram and are
    never contaminated. Tokenizer = ``textanalysis.words`` (the ONE JVM
    definition; python twin ``jvm_tokens``), same position/token space as
    the rest of the span family.

    Hits are matched back onto ``docs`` on ``key`` with null-safe
    equality, so rows that share a key share one verdict: a hit in any of
    them drops (or flags, with the merged ``n_hits``) all of them. NULL
    keys are one such shared key, never a way past the filter.

    Collision contract: ACTION-grade like ``strip_duplicate_spans`` — a
    false n-gram match silently discards a clean training doc, so both
    sides join on the 120-bit double md5 slice (~|grams_docs| x
    |grams_cont| / 2^120 expected false drops: ~8e-13 corpus-wide even at
    10^15 x 10^9 grams), never the 60-bit heuristic key.

    Plan at 100 TB: the docs side is ONE codegen scan stage
    (explode(sequence) shingles -> md5 -> broadcast hash join probe) — the
    corpus never shuffles to discover its hits. The contaminant gram set
    (eval suites: ~10^5-10^6 docs -> ~10^7-10^8 distinct grams at 16 B
    each) is distinct-ed then broadcast; set ``broadcast=False`` when it
    exceeds executor memory (falls back to a shuffle join on the 16 B
    key — still only hashes shuffle, never text). Hit rows are a tiny
    fraction of the corpus, so the count-per-doc aggregation and the
    join back onto ``docs`` shuffle almost nothing (AQE turns the final
    join into a broadcast when the contaminated-id set is small).
    """
    if mode not in ("drop", "flag"):
        raise ValueError(f"mode must be 'drop' or 'flag', got {mode!r}")
    if mode == "flag":
        # same reserved-OUTPUT-name guard as domain_cap (r4 advisor class):
        # a pre-existing column would make the join-back ambiguous downstream
        clash = {"contaminated", "n_hits"} & set(docs.columns)
        if clash:
            raise ValueError(
                f"decontaminate(mode='flag') adds columns {sorted(clash)} "
                "which already exist on the input — rename them first"
            )
    ctc = cont_text_col if cont_text_col is not None else text_col
    cont_grams = (
        _hashed_positioned_shingles120(
            contaminants.select(F.lit(0).alias("_cid"), F.col(ctc)), ctc, "_cid", w
        )
        .select("h", "h2")
        .distinct()
    )
    if broadcast:
        cont_grams = F.broadcast(cont_grams)
    hits = _hashed_positioned_shingles120(docs, text_col, key, w).join(
        cont_grams, ["h", "h2"], "left_semi"
    )
    hits = hits.select(F.col("id").alias("_hit_id"))
    on_key = F.col(key).eqNullSafe(F.col("_hit_id"))
    if mode == "drop":
        return docs.join(hits.distinct(), on_key, "left_anti")
    per_doc = hits.groupBy("_hit_id").agg(F.count("*").alias("n_hits"))
    return (
        docs.join(per_doc, on_key, "left")
        .drop("_hit_id")
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0).cast("long")))
        .withColumn("contaminated", F.col("n_hits") > 0)
    )


def canonical_url_dedup(
    df: DataFrame, url_col: str = "url", ts_col: str | None = None
) -> DataFrame:
    """URL-identity dedup: keep ONE row per CANONICAL url
    (``functions.url_canonical`` — lowercase scheme/host, fragment/
    userinfo/default-port/tracking-param stripping), the cheap first pass
    a crawl pipeline runs BEFORE any content hashing — re-crawls and
    tracking-decorated share-links collapse here for the cost of one
    16 B-keyed shuffle, never reaching extraction or MinHash.

    Keep rule (pure function of row content, reshuffle/retry-
    deterministic): newest ``ts_col`` first when given (re-crawls keep the
    freshest copy), then lexicographically smallest ``url_col``, then —
    so a full (url, ts) tie between rows with DIFFERENT content cannot
    pick a partition-arrival-order winner (r5 review; the domain_cap
    tiebreak class) — ``xxhash64`` over every input column; rows that tie
    on that too are byte-identical and either is the same survivor. Rows
    with NO url identity pass through untouched: a NULL ``url_col`` or
    one whose canonical form is EMPTY (blank, whitespace-only or
    fragment-only urls — r5 review: these must not collapse into one
    accidental ''-keyed group). Output schema = input schema.

    Plan: one hash shuffle on the canonical key; the rank-1 filter rides
    Spark's WindowGroupLimit pushdown (same shape as ``domain_cap``,
    plan-pinned there) so each map task ships at most one row per
    canonical url per split — a boilerplate URL duplicated 10^6 times
    ships ~1 row per task, not 10^6 rows to one reducer."""
    from pyspark.sql import Window

    from ..functions.url_canonical import with_canonical_url

    if "_canon" in df.columns or "_rk1" in df.columns:
        raise ValueError("input already has a reserved _canon/_rk1 column")
    # no-identity ⟺ canonical form is NULL or '' ⟺ the RAW url is NULL or
    # (spaces + optional fragment) only — ONE cheap scan-pushable regex on
    # the raw column. Splitting on the COMPUTED canonical instead inlines
    # the whole staged regex chain into both union subtrees' filter
    # predicates (aliases don't survive predicate pushdown) — measured 12 s
    # vs 1.5-4 s at 1.2M rows (BENCH.md round-5).
    no_identity = F.col(url_col).isNull() | F.col(url_col).rlike(
        r"^ *(#[\s\S]*)?\z"
    )
    order = [
        F.col(url_col).asc(),
        F.xxhash64(*[F.col(c) for c in df.columns]).asc(),
    ]
    if ts_col is not None:
        order = [F.col(ts_col).desc_nulls_last()] + order
    w = Window.partitionBy("_canon").orderBy(*order)
    kept = (
        with_canonical_url(df.filter(~no_identity), url_col, "_canon")
        .withColumn("_rk1", F.row_number().over(w))
        .filter(F.col("_rk1") == 1)
        .drop("_canon", "_rk1")
    )
    return kept.unionByName(df.filter(no_identity))


def strip_duplicate_spans(
    df: DataFrame, text_col: str = "text", key: str = "doc_id", w: int = 8
) -> DataFrame:
    """The ACTION half of substring-level dedup (Lee et al. 2021 policy
    analog): remove every duplicated w-shingle span from every document
    EXCEPT the one canonical owner, so each span's content survives exactly
    once in the corpus.

    Keep-one policy: for each duplicated shingle, the minimum doc_id among
    its owners keeps it (the same min-key-wins rule as ``exact_dedup`` /
    ``near_dup_survivors``); a hit is removable in doc d iff d != min(id).
    Removable hits merge into maximal spans per doc (same gaps-and-islands
    contract as ``duplicate_spans``), and those token ranges are cut.

    Output: every input column except ``text_col`` (key first), plus
    (text_stripped, n_words, n_removed, n_kept_words), one row per input
    row. ``text_stripped`` is the WHITESPACE-NORMALIZED token sequence
    minus removed spans, joined by single spaces (the standard token-level
    dedup contract — original inter-token whitespace is not preserved);
    docs with nothing to remove pass through with n_removed = 0 (normalized
    the same way, so the column is uniformly single-spaced). Pure function
    of row content: reshuffle/retry-deterministic.

    Plan: same single-pass hashed-window detection as ``duplicate_spans``
    (sort-based/spilling, no join), then ONE small join of per-doc span
    lists (collect_list bounded by doc length — spans per doc can't exceed
    n_tokens/w) back onto the doc scan, and one Arrow stage to cut tokens
    that passes the other columns through. Docs without removable spans
    take the join's left-outer fast path.

    Collision contract — STRONGER than ``duplicate_spans``' 60-bit key,
    because this op is an ACTION: a false merge there adds a noise hit to
    a heuristic, but here it would cut genuinely unique text from the
    non-owner doc, silently and irreversibly (round-4 advisor finding). The
    window therefore partitions by TWO independent 60-bit md5 slices
    (120 bits total, same single shuffle, +8 bytes/row): expected false
    cuts ~ S^2/2^121, i.e. ~4e-7 corpora-wide at S=10^15 shingles
    (~10^12 docs) — vanishing where the 60-bit key's ~S^2/2^61 was ~4e11
    expected collisions. Carrying the shingle STRING instead would be
    collision-free but re-introduces the 50-100B string shuffle the hashed
    form exists to avoid (measured 4.5x on the detection op)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    sh = _hashed_positioned_shingles120(df, text_col, key, w)

    from pyspark.sql import Window

    wh = Window.partitionBy("h", "h2")
    removable = (
        sh.withColumn("_lo", F.min("id").over(wh))
        .filter(F.col("id") != F.col("_lo"))  # cross-doc dup AND not the owner
        .select("id", "pos")
    )
    spans = _spans_from_hits(removable, key, w)
    per_doc = spans.groupBy(key).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    joined = df.join(per_doc, key, "left")
    carried = [c for c in joined.columns if c not in (text_col, "_spans")]
    out_schema = StructType(
        [f for f in joined.schema.fields if f.name in carried]
        + [StructField("text_stripped", StringType())]
        + [StructField(c, LongType()) for c in ("n_words", "n_removed", "n_kept_words")]
    )

    def cut(batches):
        # POSITION SPACE: spans were computed over the JVM shingle tokens
        # (positioned_shingle_rows), so the cut MUST index the same token
        # list — jvm_tokens, the exact python twin incl. phantom empty
        # tokens at leading/trailing tabs/newlines. rules.tokens here would
        # shift every index by the phantom count and cut wrong tokens
        # (review-caught, pinned by test_strip_duplicate_spans_jvm_token_space).
        from .textanalysis import jvm_tokens

        for pdf in batches:
            out_rows = []
            for t, sp in zip(pdf[text_col], pdf["_spans"]):
                if t is None:
                    out_rows.append((None, None, 0, None))
                    continue
                toks = jvm_tokens(t)
                n = len(toks)
                if sp is None or len(sp) == 0:
                    kept = toks
                    n_removed = 0
                else:
                    drop = set()
                    for s in sp:  # 1-based inclusive token ranges
                        drop.update(range(int(s["span_start"]) - 1, int(s["span_end"])))
                    kept = [tok for i, tok in enumerate(toks) if i not in drop]
                    n_removed = n - len(kept)
                # phantom '' tokens carry no content: drop them from the
                # RENDERED text (single-spaced contract) without counting
                # them as removed — n_words/n_removed stay in position space,
                # while n_kept_words counts REAL rendered words (what a
                # min-length floor downstream should filter on)
                real_kept = [tok for tok in kept if tok]
                out_rows.append((" ".join(real_kept), n, n_removed, len(real_kept)))
            o = pd.DataFrame(
                out_rows,
                columns=["text_stripped", "n_words", "n_removed", "n_kept_words"],
                index=pdf.index,
            )
            o["n_words"] = o["n_words"].astype("Int64")
            o["n_kept_words"] = o["n_kept_words"].astype("Int64")
            yield pd.concat([pdf[carried], o], axis=1)

    return joined.mapInPandas(cut, schema=out_schema)
