"""Gopher/C4-style heuristic quality rules as NATIVE Column expressions.

Per the north rule the ratios and rules stay JVM-side (whole-stage codegen;
no Python); in the pipeline their per-document counts arrive from the
scoring UDF, which has already tokenized each page. Semantics are pinned to be bit-identical with the pure-python versions in
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
# ASCII punct/symbol only (twin of rules._SYMBOL_RE): CJK/Arabic letters are
# NOT symbols.
_SYMBOL_CLASS = r"[!-/:-@\[-`{-~]"

_EN_STOPWORDS = sorted(rules.LANG_LEXICONS["en"])

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

    Ride-along contract: ``stop_hits_col`` / ``token_stats_cols`` =
    (n_words_col, n_distinct_col) name counts the scoring UDF already
    computed in Python over the same text; with ``token_stats_cols`` the
    stage also reads the UDF's ``tok_chars``, ``n_symbols``, ``n_lines`` and
    ``n_distinct_lines`` columns (fixed names, ``udf_stages._TEXT_SCORE_SCHEMA``;
    ``rules.heuristic_counts_batch``). Counts come from Python, so the JVM
    scans no text: no stopword regex, no split, no strip, no line array.
    Ratios and everything downstream (thresholds, verdict) stay native
    Column expressions. The counts follow the python tokenizer
    (``rules.tokens``) and ``str.strip()``, so every statistic equals
    ``rules.heuristic_stats`` (pinned by property tests and the frozen hash
    book).

    Without ride-along columns the stage computes every count itself as
    native expressions — the registry's ``heuristic_stats`` form, checked
    against its DuckDB oracle. Spark evaluates higher-order functions
    interpreted, so the per-token statistics there are single regex scans
    (char_sum as a whitespace-strip length diff, stop_hits as one
    boundary-anchored regexp_count) that stay inside whole-stage codegen;
    only the token and line counts keep (cheap, single) array ops. This
    form differs from ``rules.tokens`` on one edge: Spark's ``trim`` strips
    only 0x20 spaces, so text with LEADING non-space whitespace (e.g.
    "\\tfoo") gains an empty leading token, and a line holding only
    non-space whitespace counts as non-blank. DuckDB's trim is space-only
    too, so the pair stays exact.
    """
    text = F.col(text_col)
    trimmed = F.trim(text)
    if token_stats_cols is not None:
        n_words = F.col(token_stats_cols[0])
        n_distinct = F.col(token_stats_cols[1])
        char_sum, n_symbols = F.col("tok_chars"), F.col("n_symbols")
        n_lines, n_distinct_lines = F.col("n_lines"), F.col("n_distinct_lines")
    else:
        # lowercase once, split once: the token array used for count+distinct
        lwords = F.when(
            F.length(trimmed) == 0, F.array().cast("array<string>")
        ).otherwise(F.split(F.lower(trimmed), rf"[{_WS_CLASS}]+"))
        df = df.withColumn("_lwords", lwords)
        n_words = F.size(F.col("_lwords"))
        n_distinct = F.size(F.array_distinct(F.col("_lwords")))
        # sum(len(token)) == len(trimmed) - (# whitespace chars inside trimmed)
        char_sum = F.length(F.regexp_replace(trimmed, rf"[{_WS_CLASS}]", ""))
        n_symbols = F.length(text) - F.length(F.regexp_replace(text, _SYMBOL_CLASS, ""))
        # deliberately INLINE twice: runtime subexpression elimination already
        # dedupes the repeated filter within the Project; a materializing
        # withColumn measured ~20% slower (extra array copy per row)
        lines = F.filter(F.split(text, r"\n"), lambda ln: F.length(F.trim(ln)) > 0)
        n_lines = F.size(lines)
        n_distinct_lines = F.size(F.array_distinct(lines))
    if stop_hits_col is not None:
        stop_hits = F.col(stop_hits_col)
    else:
        stop_hits = F.regexp_count(F.lower(trimmed), F.lit(_STOPWORD_COUNT_RE))

    stats = {
        "n_chars": F.length(text).cast("long"),
        "n_words": n_words.cast("long"),
        "mean_word_len": F.when(n_words > 0, char_sum.cast("double") / n_words).otherwise(
            F.lit(0.0)
        ),
        "stop_density": F.when(n_words > 0, stop_hits.cast("double") / n_words).otherwise(
            F.lit(0.0)
        ),
        "symbol_ratio": F.when(n_words > 0, n_symbols.cast("double") / n_words).otherwise(
            F.lit(0.0)
        ),
        "repeated_line_frac": F.when(
            n_lines > 1,
            F.lit(1.0) - n_distinct_lines.cast("double") / n_lines,
        ).otherwise(F.lit(0.0)),
        "dup_word_frac": F.when(
            n_words > 0,
            F.lit(1.0) - n_distinct.cast("double") / n_words,
        ).otherwise(F.lit(0.0)),
    }
    # one projection: each chained withColumn re-analyses the whole plan
    if token_stats_cols is not None:
        return df.withColumns(stats)
    return df.withColumns(stats).drop("_lwords")


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
