"""Verdict stage: rule flags -> score 0-5 -> keep/drop + drop_rules.

Native Column expressions only. Semantics pinned to
``rules.rule_flags`` / ``rules.score_and_verdict``:

- hard rules (toxicity, perplexity, symbol) force score 0 — the analog of
  the rubric's score-0 class (/root/reference/examples/custom/score.py:25-28);
- otherwise score = 5 - (#fired soft+hard rules), clipped to [0,5] like
  np.clip(int(x),0,5) (examples/custom/predict.py:63);
- keep = score >= KEEP_THRESHOLD (F5, SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import rules


def flag_columns() -> dict[str, Column]:
    """One boolean Column per rule id, evaluated over the stage columns."""
    return {
        "len": (F.col("n_chars") < rules.MIN_CHARS) | (F.col("n_chars") > rules.MAX_CHARS),
        "mean_word": (F.col("n_words") > 0)
        & (
            (F.col("mean_word_len") < rules.MIN_MEAN_WORD_LEN)
            | (F.col("mean_word_len") > rules.MAX_MEAN_WORD_LEN)
        ),
        "symbol": F.col("symbol_ratio") > rules.MAX_SYMBOL_RATIO,
        "stopword": (F.col("lang_pred") == "en")
        & (F.col("stop_density") < rules.MIN_STOPWORD_DENSITY),
        "repeated_line": F.col("repeated_line_frac") > rules.MAX_REPEATED_LINE_FRAC,
        "dup_word": F.col("dup_word_frac") > rules.MAX_DUP_WORD_FRAC,
        "perplexity": F.col("perplexity") > rules.MAX_PERPLEXITY,
        "lang_conf": F.col("lang_conf") < rules.MIN_LANG_CONF,
        "toxicity": F.col("scrub_toxicity") > 0,
    }


def verdict_stage(df: DataFrame) -> DataFrame:
    flags = flag_columns()
    # fired rule names in RULE_NAMES order (== oracle's list order)
    fired = F.filter(
        F.array(*[F.when(flags[r], F.lit(r)) for r in rules.RULE_NAMES]),
        lambda x: x.isNotNull(),
    )
    hard = F.array(*[flags[r].cast("int") for r in rules.HARD_RULES])
    any_hard = F.array_max(hard) == 1
    raw_score = F.when(any_hard, F.lit(0)).otherwise(F.lit(5) - F.size(fired))
    score = F.least(F.greatest(raw_score, F.lit(0)), F.lit(5))
    return df.withColumns(
        {
            "drop_rules": fired,
            "score": score.cast("int"),
            "keep": score >= F.lit(rules.KEEP_THRESHOLD),
        }
    )
