"""Gopher/C4-style heuristic quality rules as NATIVE Column expressions.

Per the north rule these stay JVM-side (whole-stage codegen; no Python).
Semantics are pinned to be bit-identical with the pure-python versions in
``rules.heuristic_stats`` — the oracle runs those, tests assert equality.

Reference analog: the char-census building block
(/root/reference/examples/custom/utils.py:4-36) and the rubric's structural
criteria (coherence/promotional checks, examples/custom/score.py:21-66),
re-expressed as deterministic statistics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import rules

# Java regex classes (NOTE: \v means "vertical whitespace" in Java — use \x0B
# to match Python's [ \t\n\r\f\v] exactly; SURVEY.md §7 regex-dialect hazard).
_WS_CLASS = r" \t\n\r\f\x0B"
# Every code point Python's str.strip() removes (all 29 str.isspace chars);
# Spark's trim removes only U+0020.
_PY_WS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2000\u2001\u2002\u2003"
    "\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)
# ASCII punct/symbol only (twin of rules._SYMBOL_RE): CJK/Arabic letters are
# NOT symbols.
_SYMBOL_CLASS = r"[!-/:-@\[-`{-~]"

_EN_STOPWORDS = sorted(rules.LANG_LEXICONS["en"])


def words_col(text: Column) -> Column:
    """Whitespace tokens of the trimmed text; [] for blank. NOT exactly
    rules.tokens — see the leading-whitespace edge documented on
    heuristics_stage below and textanalysis.jvm_tokens."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, rf"[{_WS_CLASS}]+")
    )


# Token-exact stopword counter as ONE regex scan: a stopword counts only as
# a full whitespace-delimited token (same as membership of the split token
# in the lexicon), which the zero-width boundary assertions encode. Java
# regex allows alternation in (bounded) lookbehind.
_STOPWORD_COUNT_RE = (
    rf"(?<=^|[{_WS_CLASS}])(?:" + "|".join(_EN_STOPWORDS) + rf")(?=$|[{_WS_CLASS}])"
)


def heuristics_stage(
    df: DataFrame,
    text_col: str = "text_t",
    stop_hits_col: str | None = None,
    token_stats_cols: tuple[str, str] | None = None,
) -> DataFrame:
    """Adds n_chars, n_words, mean_word_len, stop_density, symbol_ratio,
    repeated_line_frac, dup_word_frac.

    Perf note: Spark evaluates higher-order functions (aggregate/filter/
    transform) interpreted, re-evaluating duplicated subtrees, so the heavy
    per-token statistics are expressed as single regex scans instead —
    char_sum as a whitespace-strip length diff, stop_hits as one
    boundary-anchored regexp_count — which stay inside whole-stage codegen.
    Only dup_word_frac/repeated_line_frac keep (cheap, single) array ops.

    ``stop_hits_col`` / ``token_stats_cols`` = (n_words_col,
    n_distinct_col): when the scoring UDF already tokenized each document
    (the langid vote computes exactly these numbers), pass the columns and
    this stage performs NO re-tokenization at all — no stopword alternation
    regex, no split, no array_distinct (combined ~1.3 s of an 8-core sf0.1
    run). The ride-along counts follow the PYTHON tokenizer
    (``rules.tokens``: str.strip of all whitespace) — the same semantics as
    the golden oracle, so pipeline-vs-golden parity is exact (pinned by
    equivalence/property tests + the frozen hash book). The JVM fallback
    below differs on one edge the fixtures (and real extracted text) never
    hit: Spark's ``trim`` strips only 0x20 spaces, so text with LEADING
    non-space whitespace (e.g. "\\tfoo") gains an empty leading token in
    the fallback. The fallback's own SQL oracle (DuckDB trim, also
    space-only) shares its behavior, so each verification pair stays
    internally exact. With ride-along columns the char sum and the
    blank-line test strip like ``str.strip()`` instead (``btrim`` over
    ``_PY_WS``), so every statistic equals ``rules.heuristic_stats``.
    """
    text = F.col(text_col)
    trimmed = F.trim(text)
    strip = F.trim
    tmp_cols: list[str] = []
    if token_stats_cols is not None:
        n_words = F.col(token_stats_cols[0])
        n_distinct = F.col(token_stats_cols[1])
        strip = lambda c: F.btrim(c, F.lit(_PY_WS))  # noqa: E731
    else:
        # lowercase once, split once: the token array used for count+distinct
        lwords = F.when(
            F.length(trimmed) == 0, F.array().cast("array<string>")
        ).otherwise(F.split(F.lower(trimmed), rf"[{_WS_CLASS}]+"))
        df = df.withColumn("_lwords", lwords)
        tmp_cols.append("_lwords")
        n_words = F.size(F.col("_lwords"))
        n_distinct = F.size(F.array_distinct(F.col("_lwords")))
    # sum(len(token)) == len(trimmed) - (# whitespace chars inside trimmed)
    char_sum = F.length(F.regexp_replace(strip(text), rf"[{_WS_CLASS}]", ""))
    if stop_hits_col is not None:
        stop_hits = F.col(stop_hits_col)
    else:
        stop_hits = F.regexp_count(F.lower(trimmed), F.lit(_STOPWORD_COUNT_RE))
    n_symbols = F.length(text) - F.length(F.regexp_replace(text, _SYMBOL_CLASS, ""))
    # deliberately INLINE twice: runtime subexpression elimination already
    # dedupes the repeated filter within the Project; a materializing
    # withColumn measured ~20% slower (extra array copy per row)
    lines = F.filter(F.split(text, r"\n"), lambda ln: F.length(strip(ln)) > 0)
    n_lines = F.size(lines)

    return (
        df.withColumn("n_chars", F.length(text).cast("long"))
        .withColumn("n_words", n_words.cast("long"))
        .withColumn(
            "mean_word_len",
            F.when(n_words > 0, char_sum.cast("double") / n_words).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "stop_density",
            F.when(n_words > 0, stop_hits.cast("double") / n_words).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "symbol_ratio",
            F.when(n_words > 0, n_symbols.cast("double") / n_words).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "repeated_line_frac",
            F.when(
                n_lines > 1,
                F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / n_lines,
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "dup_word_frac",
            F.when(
                n_words > 0,
                F.lit(1.0) - n_distinct.cast("double") / n_words,
            ).otherwise(F.lit(0.0)),
        )
        .drop(*tmp_cols)
    )


def census_stage(df: DataFrame, text_col: str = "text_t") -> DataFrame:
    """Char-class census as native columns (parity with
    /root/reference/examples/custom/utils.py:4-36; python twin:
    rules.char_census)."""
    text = F.col(text_col)

    def count_class(pattern: str) -> Column:
        return (F.length(text) - F.length(F.regexp_replace(text, pattern, ""))).cast("long")

    df = (
        df.withColumn("english_count", count_class(r"[A-Za-z]"))
        .withColumn("arabic_count", count_class(r"[؀-ۿݐ-ݿࢠ-ࣿ]"))
        .withColumn("digit_count", count_class(r"[0-9]"))
        .withColumn("whitespace_count", count_class(rf"[{_WS_CLASS}]"))
        .withColumn("punct_symbol_count", count_class(r"[!-/:-@\[-`{-~]"))
    )
    counted = (
        F.col("english_count")
        + F.col("arabic_count")
        + F.col("digit_count")
        + F.col("whitespace_count")
        + F.col("punct_symbol_count")
    )
    return df.withColumn("other_count", (F.length(text) - counted).cast("long"))
