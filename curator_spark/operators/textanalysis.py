"""Text-analysis operators over a documents-style table — all native Columns.

Training-data-pipeline staples beyond the reference's own operator set
(language scores, token counting, quality scoring, fingerprinting), built so
each has an exact ANSI-SQL twin (DuckDB oracle in ``__spark_entry__``).

Reference analogs: the char-census building block
(/root/reference/examples/custom/utils.py:4-36), the scoring rubric's
structural criteria (examples/custom/score.py:21-66), and the 4-chars/token
estimate (openai_online_request_processor.py:211). Everything stays inside
whole-stage codegen — no Python in the hot path, so the plan is a single
narrow scan->project stage that scales linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import rules

# BPE-ish token pattern: word pieces, numbers, or single non-space symbols.
# Same regex dialect subset (no lookaround) works in Java regex and RE2, so
# the DuckDB oracle uses the identical pattern string.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def words(text: Column) -> Column:
    """Whitespace tokens of trimmed text; [] for blank. NOT rules.tokens:
    Spark trim is 0x20-only and split keeps leading/trailing empties, so
    "\\ta b" -> ['', 'a', 'b'] here vs ['a', 'b'] there — see jvm_tokens
    (the pinned python twin of THIS form) and the CLAUDE.md invariant."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


import re as _re

_JVM_WS_RE = _re.compile(r"[ \t\n\r\x0b\f]+")


def jvm_tokens(text: str) -> list[str]:
    """EXACT python twin of ``words()`` / the shingle tokenizer — NOT of
    ``rules.tokens``. The JVM form trims SPACES ONLY (Spark ``trim`` is
    0x20-only) and splits with Java ``\\s+`` at limit -1, so text with
    leading/trailing tabs/newlines yields phantom EMPTY tokens that
    ``rules.tokens`` (python .strip(), all whitespace) does not produce:
    ``"\\ta b"`` -> ``['', 'a', 'b']`` here vs ``['a', 'b']`` there. Every
    DuckDB oracle mirrors the JVM form (``_SQL_TOKS``), so python stages
    that must agree with shingle/gram POSITIONS or the oracles
    (``repetition_signals``, ``strip_duplicate_spans``) must tokenize with
    THIS function; the flagship pipeline keeps ``rules.tokens`` (pinned by
    the hash book). Pinned equal to ``words()`` on adversarial corpora by
    ``test_jvm_tokens_twin``."""
    t = text.strip(" ")
    if not t:
        return []
    return _JVM_WS_RE.split(t)


def token_stats(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Token counting: whitespace words, BPE-ish regex tokens, chars/token.

    chars-per-token mirrors the reference's `len(text)/4` token estimate
    (openai_online_request_processor.py:211) as an exact measured ratio.
    """
    text = F.col(text_col)
    w = words(text)
    n_words = F.size(w)
    n_bpe = F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN))
    return df.select(
        F.col(key),
        F.length(text).cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        F.when(n_bpe > 0, F.length(text).cast("double") / n_bpe)
        .otherwise(F.lit(0.0))
        .alias("chars_per_token"),
    )


def _lang_argmax(out: DataFrame, langs: list[str]) -> DataFrame:
    """Deterministic winner column: highest hits; among equals the smallest
    lang code (langs iterates sorted asc, so the first coalesce branch to
    fire is the smallest code among the maxima) — codegen CASE chain."""
    top_h = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    winner = F.coalesce(*[F.when(F.col(f"hits_{lang}") == top_h, F.lit(lang)) for lang in langs])
    return out.withColumn(
        "lang_pred",
        F.when(top_h > 0, winner).otherwise(F.lit("und")),
    )


def lang_scores(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Lexicon-vote language scores (the SQL-expressible core of langid).

    One hit-count column per language + deterministic argmax (score desc,
    lang asc — same tie-break as rules.langid). The full langid() (script
    checks, confidence) runs in the fused UDF stage; this native variant is
    the scalable path for when the corpus is known-Latin-script.

    Shape: explode the lowered token array and take per-language conditional
    sums over a codegen InSet — no interpreted higher-order function on the
    scan, map-side partial agg, ONE shuffle of n_docs tiny count rows. The
    round-4 A/B measured this ~2x faster than a per-row
    `F.size(F.filter(isin))` HOF at every doc length 300-4000 chars (the 4
    lexicon scans amortize one cheap shuffle; BENCH.md round 4). Pinned
    equal to the DuckDB ``lang_scores`` oracle, including the null-text
    edge (null hits, not 0; lang_pred 'und').
    """
    langs = sorted(rules.LANG_LEXICONS)
    # words(lower(text)), NOT transform(words(text), lower): lowercasing
    # never changes whitespace, so the token multiset is identical — and the
    # split-of-lowered form is pure codegen where the array transform is an
    # interpreted HOF (~16% off the sf0.1 wall, pinned identical)
    lw = words(F.lower(F.col(text_col)))
    # explode_outer keeps zero-word docs (one null-token row); the carried
    # null-text flag distinguishes null text (hits NULL — the oracle's
    # len(NULL) semantics) from blank text (hits 0)
    toks = df.select(
        F.col(key),
        F.col(text_col).isNull().alias("_tnull"),
        F.explode_outer(lw).alias("_w"),
    )
    tnull = F.max(F.col("_tnull"))
    out = toks.groupBy(key).agg(
        *[
            F.when(
                tnull,
                F.lit(None).cast("long"),
            )
            .otherwise(
                F.sum(
                    F.when(
                        F.col("_w").isin(*sorted(rules.LANG_LEXICONS[lang])), 1
                    ).otherwise(0)
                )
            )
            .alias(f"hits_{lang}")
            for lang in langs
        ]
    )
    return _lang_argmax(out, langs)


def quality_score_cols(text: Column) -> dict[str, Column]:
    """The heuristic quality score as Columns of one row: the four rule
    flags (f_len, f_symbol, f_stopword, f_dup_word) and ``score``, 5 -
    fired, clipped to [0,5] (np.clip parity,
    examples/custom/predict.py:63). Each is aliased by its key, so a
    caller scores rows in the projection that carries them."""
    w = words(text)
    lw = words(F.lower(text))  # same tokens as transform(w, lower), codegen
    n_words = F.size(w)
    n_chars = F.length(text)
    en = sorted(rules.LANG_LEXICONS["en"])
    stop_hits = F.size(F.filter(lw, lambda x: x.isin(*en)))
    n_symbols = n_chars - F.length(F.regexp_replace(text, r"[!-/:-@\[-`{-~]", ""))
    dup_frac = F.lit(1.0) - F.size(F.array_distinct(lw)).cast("double") / n_words
    flags = {
        "f_len": (n_chars < rules.MIN_CHARS) | (n_chars > rules.MAX_CHARS),
        "f_symbol": (n_words > 0) & (n_symbols.cast("double") / n_words > rules.MAX_SYMBOL_RATIO),
        "f_stopword": (n_words > 0)
        & (stop_hits.cast("double") / n_words < rules.MIN_STOPWORD_DENSITY),
        "f_dup_word": (n_words > 0) & (dup_frac > rules.MAX_DUP_WORD_FRAC),
    }
    fired = sum(f.cast("int") for f in flags.values())
    score = F.least(F.greatest(F.lit(5) - fired, F.lit(0)), F.lit(5)).cast("int")
    return {name: c.alias(name) for name, c in {**flags, "score": score}.items()}


def quality_score(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Heuristic quality score over a plain text column (no html/model
    stages): length + symbol + stopword + dup-word rules
    (``quality_score_cols``). Output (key, f_len, f_symbol, f_stopword,
    f_dup_word, score)."""
    return df.select(F.col(key), *quality_score_cols(F.col(text_col)).values())


def token_budget_pack_bucketed(
    df: DataFrame,
    budget: int,
    k: int,
    text_col: str = "text",
    key: str = "doc_id",
    score_col: str | None = None,
) -> DataFrame:
    """Fill a training-token budget with the best documents: rank by quality
    score (desc), tie-break by content hash (deterministic, reshuffle-
    stable), keep rows while the running BPE-token sum stays within budget —
    the data-mixing counterpart of quality filtering ("give me the best
    N-billion tokens"). Exact integer running sums -> oracle-exact.

    The budget is allocated per content-hash bucket (``budget // k`` tokens
    to each of ``k`` buckets) and the running-sum window runs under
    ``partitionBy(bucket)`` — k independent sorted partitions instead of
    ONE global sort, so the plan scales out (pick k ≈ executor count; each
    bucket's rows fit one task).

    The bucket is a pure content hash of the key (first 16 md5 bits mod k)
    — reshuffle/retry-stable, uniform, and computable identically in the
    DuckDB oracle. Because membership is hash-uniform, the per-bucket packs
    approximate the global pack's quality mix with budget-fraction variance
    O(1/sqrt(k)) — the standard distributed-quota design. k=1 is exactly
    the global pack (pinned against the DuckDB oracle at k=1).

    ``score_col``: rank by an EXISTING score column instead of recomputing
    ``quality_score_cols`` over ``text_col`` — what a composed recipe wants
    when an upstream stage already scored the docs (curate_corpus_exact
    packs span-stripped text by the original quality score).

    Output: the input rows that fit, with ``bucket``, ``score``,
    ``n_bpe_tokens`` and ``running_tokens`` (the within-bucket running sum)
    added in one projection; input columns of those names are replaced.
    Rows are packed as they come, so a repeated key is packed per row;
    NULL-key rows are never packed.
    """
    from pyspark.sql import Window

    text = F.col(text_col)
    score = F.col(score_col) if score_col is not None else quality_score_cols(text)["score"]
    bucket = (
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 4), 16, 10).cast("long")
        % F.lit(k)
    )
    ranked = df.filter(F.col(key).isNotNull()).withColumns(
        {
            "bucket": bucket,
            "score": score,
            "n_bpe_tokens": F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN)).cast("long"),
        }
    )
    # pack order = the oracle's ORDER BY: score desc, content hash, key
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col("score").desc(), F.md5(F.col(key).cast("string")), F.col(key))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = F.sum("n_bpe_tokens").over(w)
    return ranked.withColumn("running_tokens", running.cast("long")).filter(
        F.col("running_tokens") <= budget // k
    )


def fingerprint(df: DataFrame, text_col: str = "text", key: str = "doc_id") -> DataFrame:
    """Document fingerprints: full-text md5 plus a shift-window fingerprint
    (md5 of each 64-char stride-32 window, min-hashed) for near-dup probing.

    md5 (not xxhash64) so the DuckDB oracle computes byte-identical values.
    """
    text = F.col(text_col)
    n = F.length(text)
    starts = F.when(n > 0, F.sequence(F.lit(1), F.greatest(n - 32, F.lit(1)), F.lit(32))).otherwise(
        F.array().cast("array<int>")
    )
    win_hashes = F.transform(starts, lambda s: F.md5(F.substring(text, s, F.lit(64))))
    return df.select(
        F.col(key),
        F.md5(text).alias("fp_md5"),
        F.array_min(win_hashes).alias("fp_window_min"),
        # size over STARTS, not win_hashes: the transform is an interpreted
        # HOF, and a second reference re-evaluates every window md5
        F.size(starts).cast("long").alias("fp_windows"),
    )


def _repetition_row(text, dup_n: int):
    """Per-doc repetition signals — the row function the Arrow-batched
    shipped form maps over each batch. Mirrors the DuckDB
    ``repetition_signals`` oracle bit-exactly: the ``jvm_tokens`` tokenizer
    (the JVM/oracle form WITH phantom empty tokens at leading/trailing
    tabs/newlines — NOT ``rules.tokens``), same integers into the same
    long/long divisions, same interval-union coverage as the SQL
    gaps-and-islands merge.
    top2/top3 are ALWAYS 2-/3-gram stats; only the coverage signal follows
    ``dup_n`` (they were coupled once — caught by review, pinned since)."""
    from collections import Counter

    if text is None:
        return None, 0.0, 0.0, 0.0  # oracle: n_words NULL, fracs 0.0
    toks = jvm_tokens(text)
    n = len(toks)
    if n < 2:
        return n, 0.0, 0.0, 0.0
    c2 = Counter(zip(toks, toks[1:]))
    top2 = max(c2.values()) / (n - 1)
    top3 = 0.0
    if n >= 3:
        c3 = Counter(zip(toks, toks[1:], toks[2:]))
        top3 = max(c3.values()) / (n - 2)
    covered = 0
    if n >= dup_n:
        grams = list(zip(*(toks[i:] for i in range(dup_n))))
        cd = Counter(grams)
        end = -1  # exclusive end of current coverage (0-based token index)
        for p, g in enumerate(grams):
            if cd[g] >= 2:
                if p + dup_n > end:
                    covered += p + dup_n - max(p, end)
                    end = p + dup_n
        # covered/n: same integer operands as the oracle's SUM(b-a+1)/n
    return n, top2, top3, covered / n


def repetition_signals(
    df: DataFrame, text_col: str = "text", key: str = "doc_id", dup_n: int = 3
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    "Scaling Language Models: Methods, Analysis & Insights from Training
    Gopher", App. A1.1 — the repetition-removal half of its quality filter;
    a beyond-reference pipeline operator: the flagship heuristics cover
    repeated LINES, this covers repeated n-grams):

      n_words   — whitespace token count (NULL text -> NULL, like the oracle)
      top2_frac — occurrences of the most frequent 2-gram / total 2-grams
      top3_frac — same at 3-grams
      dup_frac  — fraction of token positions covered by ``dup_n``-grams
                  that occur >= 2 times WITHIN the doc

    Every signal is a WITHIN-doc function, so the shipped plan is ONE
    Arrow-batched ``mapInPandas`` over the scan — ZERO exchanges (plan-
    pinned; bit-identical to the DuckDB oracle). The explode/agg/window
    form the oracle uses was measured in Spark 7x slower at 120k docs and
    36x slower at 1.2M (19 s -> 2.6 s, 193 s -> 5.3 s; BENCH.md late-r4):
    three corpus-wide gram explosions through (doc, gram) shuffles lose
    badly to ~15 µs of per-doc python when the semantics never cross a
    document boundary — the same economics as the flagship's fused-UDF
    stage."""
    import pandas as pd

    key_type = df.schema[key].dataType.simpleString()  # key-generic (long doc_id, string url, ...)
    out_schema = (
        f"{key} {key_type}, n_words long, top2_frac double, top3_frac double, dup_frac double"
    )

    def gen(batches):
        for pdf in batches:
            sig = [_repetition_row(t, dup_n) for t in pdf[text_col]]
            out = pd.DataFrame(sig, columns=["n_words", "top2_frac", "top3_frac", "dup_frac"])
            out["n_words"] = out["n_words"].astype("Int64")  # keep NULL for null text
            out.insert(0, key, pdf[key].values)
            yield out

    return df.select(key, text_col).mapInPandas(gen, schema=out_schema)


# The ONE host-extraction regex (url_domain + the DuckDB oracle mirror both
# splice it; Java∩RE2 subset, no lookaround). Greedy [^/?#]*@ consumes
# through the LAST @ in the authority (the host per WHATWG); bracketed IPv6
# literals keep their colons, bare hosts stop at the port colon.
URL_HOST_PATTERN = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?(\[[^\]/?#]*\]|[^/?#:@]+)"


def url_domain(url: Column) -> Column:
    """Normalized HOST extraction from a url — the grouping key for
    domain-level corpus controls. Lowercased, with userinfo (``user@``)
    and port (``:8080``) stripped so cosmetic authority variants of one
    host can't multiply a quota (review-caught: they used to form separate
    groups). Subdomains are kept: host-level grouping admits up to cap
    rows PER SUBDOMAIN, so a farm spreading one corpus across wildcard
    subdomains needs registrable-domain (eTLD+1) grouping — that upgrade
    lives in ``functions.public_suffix.registrable_domain`` (PSL
    longest-match / wildcard / exception algorithm over a pluggable
    snapshot) and is selected with ``domain_cap(..., grouping="etld1")``.
    Pure Java/RE2-subset regex (no lookaround), NULL-safe: non-matching /
    null urls yield NULL."""
    d = F.regexp_extract(url, URL_HOST_PATTERN, 1)
    return F.when(d == "", F.lit(None).cast("string")).otherwise(F.lower(d))


def domain_cap(
    df: DataFrame,
    cap: int,
    url_col: str = "url",
    order_col: str | None = None,
    grouping: str = "host",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-domain quota (the C4/RefinedWeb anti-domination step): keep at
    most ``cap`` pages per domain, deterministically.

    ``grouping="host"`` (default) keys on the normalized host;
    ``grouping="etld1"`` keys on the registrable domain (public suffix +
    one label, ``functions.public_suffix``) so subdomain farms share one
    quota — still a pure-codegen key (literal InSet lookups, no join), so
    the WindowGroupLimit scale shape below is identical.

    Preference order within a domain: ``order_col`` descending when given
    (e.g. a quality score), content-hash order otherwise (md5(url) — the
    repo's seeded-shuffle idiom, reshuffle/retry-stable); url is always a
    tiebreak. The kept set is a pure function of row content ONLY if the
    order keys are unique within each domain — rows sharing a url (or with
    NULL urls, which all land in the NULL-domain group with NULL order
    keys) tie, and row_number breaks ties by partition layout. Pass
    ``tiebreak_col`` (a unique row id, ascending) whenever such collisions
    are possible and determinism matters (review-caught: the registry
    oracle diverged at sf0.1 once the NULL group outgrew the cap).

    Scale shape: rank-filter over ``Window.partitionBy(domain)`` keeps
    Spark's WindowGroupLimit pushdown (plan-pinned) — each map task prunes
    to ``cap`` rows per domain BEFORE the shuffle, so a mega-domain
    (boilerplate farm, 10^9 pages) ships ~cap rows per input split instead
    of sorting 10^9 rows in one window partition. Pages with NULL/
    unparseable urls form their own NULL-domain group (window partitions
    treat NULL as one key), never a crash."""
    from pyspark.sql import Window

    if grouping not in ("host", "etld1"):
        raise ValueError(f"grouping must be 'host' or 'etld1', got {grouping!r}")
    # names this op writes (and would silently clobber/drop if the caller
    # already had them — review-caught for _host): refuse loudly. 'domain'
    # is the OUTPUT name — a pre-existing 'domain' column would survive the
    # withColumnRenamed and leave TWO 'domain' columns, an AnalysisException
    # landmine on first downstream reference (round-4 advisor finding).
    for c in ("_domain", "_rk", "_host", "domain"):
        if c in df.columns:
            raise ValueError(f"domain_cap reserves column name {c!r}; rename it first")
    if grouping == "etld1":
        from ..functions.public_suffix import registrable_domain

        # stage the host into its OWN projection before the PSL CASE tree:
        # codegen re-evaluates a subexpression at each conditional
        # reference, and registrable_domain references its input ~15 times
        # across CASE branches — inlining url_domain would re-run the host
        # regex per reference (measured 18.4 -> 2.0 s for the key over
        # 4.8M urls). CollapseProject keeps the split because the alias is
        # non-cheap and multiply referenced; the plan pin asserts it.
        d = (
            df.withColumn("_host", url_domain(F.col(url_col)))
            .withColumn("_domain", registrable_domain(F.col("_host")))
            .drop("_host")
        )
    else:
        d = df.withColumn("_domain", url_domain(F.col(url_col)))
    if order_col is not None:
        order = [F.col(order_col).desc(), F.col(url_col).asc()]
    else:
        order = [F.md5(F.col(url_col)).asc(), F.col(url_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy("_domain").orderBy(*order)
    return (
        d.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
        .withColumnRenamed("_domain", "domain")
    )
