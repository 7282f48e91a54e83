"""Arrow-batched pandas-UDF stages (the only Python in the hot path).

Reference analog: the per-row expensive map (P3, SURVEY.md §2.3) — curator's
``call_single_request`` loop (/root/reference/src/bespokelabs/curator/
request_processor/online/base_online_request_processor.py:346-398) and the
vLLM batched path (offline/vllm_offline_request_processor.py:166-225). We
keep the vLLM *shape* — load model once per worker, score a whole batch —
but as vectorized Arrow batches inside Spark executors, never per-row
asyncio.

Design rule: each plan shape crosses the JVM->Arrow->pandas boundary
through ONE UDF set, and both shapes share the same per-row extract and
score code:

- shuffle-free: ``fused_score_stage`` — extract+langid+perplexity+scrub in
  one UDF call, amortizing the text-column serialization over all models;
- salted: ``extract_stage_narrow`` before the shuffle, ``text_score_stage``
  after it, so only narrow text columns cross the wire.

Both shapes score through ``_score_texts``, which also returns the
per-document counts the Gopher/C4 heuristics need (token count, distinct
tokens, stopword hits, token characters, ASCII symbols, non-blank and
distinct non-blank lines). Python tokenizes each page once; the JVM
heuristics (``heuristics_stage``) turn the counts into ratios and rules
without scanning the text again.

Both take an optional per-row generation-params column whose ``truncate``
key overrides the truncation limit (``rules.truncate_limit``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .. import rules
from ..lm import get_lm

_EXTRACT_SCHEMA = StructType(
    [
        StructField("extracted_text", StringType()),
        StructField("error", StringType()),  # per-row extract error tag (K3)
        StructField("t_limit", IntegerType()),  # per-row truncation limit
    ]
)

_TEXT_SCORE_SCHEMA = StructType(
    [
        StructField("lang_pred", StringType()),
        StructField("lang_conf", DoubleType()),
        StructField("stop_hits", IntegerType()),
        StructField("tok_words", IntegerType()),
        StructField("tok_distinct", IntegerType()),
        # counts behind the heuristics' ratios (rules.heuristic_counts_batch)
        StructField("tok_chars", IntegerType()),
        StructField("n_symbols", IntegerType()),
        StructField("n_lines", IntegerType()),
        StructField("n_distinct_lines", IntegerType()),
        StructField("perplexity", DoubleType()),
        StructField("scrubbed_text", StringType()),
        StructField("scrub_email", IntegerType()),
        StructField("scrub_phone", IntegerType()),
        StructField("scrub_ip", IntegerType()),
        StructField("scrub_ssn", IntegerType()),
        StructField("scrub_toxicity", IntegerType()),
    ]
)

# NOTE: text_t (the truncated text) is deliberately NOT in any UDF output:
# it is a pure prefix of extracted_text, recomputed JVM-side as
# substring(extracted_text, 1, t_limit) — Spark's substring counts code
# points exactly like the python slice, and shipping a second near-full copy
# of every document back through Arrow measurably hurt the pipeline. Only
# the per-row limit crosses, so the rule itself lives once, in python.
_FUSED_SCHEMA = StructType(_EXTRACT_SCHEMA.fields + _TEXT_SCORE_SCHEMA.fields)


def _extract(html: pd.Series, params: pd.Series) -> dict[str, list]:
    st = [rules.extract_status(h) for h in html]
    return {
        "extracted_text": [s[0] for s in st],
        "error": [s[1] for s in st],
        "t_limit": [rules.truncate_limit(p) for p in params],
    }


def _score_texts(trunc: list[str]) -> dict[str, list]:
    """Columnar scoring of already-truncated texts (shared by the one-pass
    fused UDF and the post-shuffle text stage). Column-at-a-time: perplexity
    runs over the whole Arrow batch as one numpy pass (lm.perplexities);
    langid/scrub stay per-row python but build columns, not row tuples.
    stop_hits / token counts ride along from the langid vote (already
    tokenized) so the JVM never re-tokenizes: no stopword alternation
    regex, no split, no array_distinct in the downstream heuristics. The
    character and line counts (``rules.heuristic_counts_batch``) ride along
    too, so the JVM never regex-scans a page: it only divides and compares."""
    if not trunc:  # zip(*[]) cannot unpack; emit empty columns
        return {f: [] for f in _TEXT_SCORE_SCHEMA.fieldNames()}
    lid = rules.langid_token_stats_batch(trunc)
    ppl = get_lm().perplexities(trunc)
    scr = [rules.scrub_text(t) for t in trunc]
    lang_pred, lang_conf, stop_hits, tok_words, tok_distinct = zip(*lid)
    tok_chars, n_symbols, n_lines, n_distinct_lines = zip(*rules.heuristic_counts_batch(trunc))
    return {
        "lang_pred": lang_pred,
        "lang_conf": lang_conf,
        "stop_hits": stop_hits,
        "tok_words": tok_words,
        "tok_distinct": tok_distinct,
        "tok_chars": tok_chars,
        "n_symbols": n_symbols,
        "n_lines": n_lines,
        "n_distinct_lines": n_distinct_lines,
        "perplexity": ppl,
        "scrubbed_text": [x[0] for x in scr],
        "scrub_email": [x[1]["email"] for x in scr],
        "scrub_phone": [x[1]["phone"] for x in scr],
        "scrub_ip": [x[1]["ip"] for x in scr],
        "scrub_ssn": [x[1]["ssn"] for x in scr],
        "scrub_toxicity": [x[1]["toxicity"] for x in scr],
    }


@F.pandas_udf(_FUSED_SCHEMA)
def _fused_udf(html: pd.Series, params: pd.Series) -> pd.DataFrame:
    ex = _extract(html, params)
    trunc = [e[:k] for e, k in zip(ex["extracted_text"], ex["t_limit"])]  # score.py:104 parity
    return pd.DataFrame({**ex, **_score_texts(trunc)})


@F.pandas_udf(_EXTRACT_SCHEMA)
def _extract_udf(html: pd.Series, params: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(_extract(html, params))


@F.pandas_udf(_TEXT_SCORE_SCHEMA)
def _text_score_udf(text_t: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(_score_texts([t if t is not None else "" for t in text_t]))


def _params(params_col: str | None) -> F.Column:
    return F.col(params_col) if params_col else F.lit(None).cast("string")


def _expand(df: DataFrame, struct: F.Column, schema: StructType) -> DataFrame:
    """One struct-returning UDF call -> one top-level column per field, in
    one projection. The call repeats per field in the logical plan, but
    the optimizer collapses projections over a Python UDF and
    ``ExtractPythonUDFs`` evaluates identical calls once, so the executed
    plan holds one ``ArrowEvalPython`` either way."""
    return df.withColumns({f: struct[f] for f in schema.fieldNames()})


def add_text_t(df: DataFrame) -> DataFrame:
    """text_t = the first ``t_limit`` code points of extracted_text."""
    text_t = F.col("extracted_text").substr(F.lit(1), F.col("t_limit"))
    return df.withColumn("text_t", text_t).drop("t_limit")


def fused_score_stage(df: DataFrame, params_col: str | None = None) -> DataFrame:
    """html -> all model-derived columns in ONE pandas UDF call.

    ``params_col``: optional per-row generation-params JSON column; its
    ``truncate`` key overrides TRUNCATE_CHARS row by row."""
    return add_text_t(_expand(df, _fused_udf(F.col("html"), _params(params_col)), _FUSED_SCHEMA))


def extract_stage_narrow(df: DataFrame, params_col: str | None = None) -> DataFrame:
    """html -> (extracted_text, error, t_limit) only. text_t is NOT added
    here: the caller derives it (``add_text_t``) AFTER any repartition, so
    the shuffle carries one text copy, not two. Raw html (10-50x wider than
    extracted text at web scale) never needs to cross the wire."""
    return _expand(df, _extract_udf(F.col("html"), _params(params_col)), _EXTRACT_SCHEMA)


def extract_truncate_stage(df: DataFrame) -> DataFrame:
    return add_text_t(extract_stage_narrow(df))


def text_score_stage(df: DataFrame, text_col: str = "text_t") -> DataFrame:
    """text_t -> langid/perplexity/scrub columns (post-shuffle scoring)."""
    return _expand(df, _text_score_udf(F.col(text_col)), _TEXT_SCORE_SCHEMA)
