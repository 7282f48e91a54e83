"""Arrow-batched pandas-UDF stages (the only Python in the hot path).

Reference analog: the per-row expensive map (P3, SURVEY.md §2.3) — curator's
``call_single_request`` loop (/root/reference/src/bespokelabs/curator/
request_processor/online/base_online_request_processor.py:346-398) and the
vLLM batched path (offline/vllm_offline_request_processor.py:166-225). We
keep the vLLM *shape* — load model once per worker, score a whole batch —
but as vectorized Arrow batches inside Spark executors, never per-row
asyncio.

Design rule: ONE fused UDF boundary per pipeline run. Crossing
JVM->Arrow->pandas costs serialization of the text column; doing it once for
extract+langid+perplexity+scrub amortizes that over all four models. The
individual stage functions below exist for composability/unit tests; the
pipeline uses ``fused_score_stage``.
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

# ---------------------------------------------------------------------------
# Individual stages
# ---------------------------------------------------------------------------


_LANGID_SCHEMA = StructType(
    [
        StructField("lang_pred", StringType()),
        StructField("lang_conf", DoubleType()),
    ]
)


@F.pandas_udf(_LANGID_SCHEMA)
def _langid_udf(text: pd.Series) -> pd.DataFrame:
    res = [rules.langid(t if t is not None else "") for t in text]
    return pd.DataFrame(res, columns=["lang_pred", "lang_conf"])


def langid_stage(df: DataFrame, text_col: str = "text_t") -> DataFrame:
    lid = _langid_udf(F.col(text_col))
    return df.withColumn("lang_pred", lid["lang_pred"]).withColumn("lang_conf", lid["lang_conf"])


@F.pandas_udf(DoubleType())
def _ppl_udf(text: pd.Series) -> pd.Series:
    lm = get_lm()  # executor-local singleton, built once per python worker
    return pd.Series(lm.perplexities(text.tolist()))


def perplexity_stage(df: DataFrame, text_col: str = "text_t") -> DataFrame:
    return df.withColumn("perplexity", _ppl_udf(F.col(text_col)))


# ---------------------------------------------------------------------------
# Fused stage: one Arrow boundary for all Python-side models.
# ---------------------------------------------------------------------------

# NOTE: text_t (the truncated text) is deliberately NOT in the UDF output:
# it is a pure prefix of extracted_text, recomputed JVM-side as
# substring(extracted_text, 1, TRUNCATE_CHARS) — Spark's substring counts
# code points exactly like the python slice, and shipping a second near-full
# copy of every document back through Arrow measurably hurt the pipeline.
_FUSED_SCHEMA = StructType(
    [
        StructField("extracted_text", StringType()),
        StructField("error", StringType()),  # per-row extract error tag (K3)
        StructField("lang_pred", StringType()),
        StructField("lang_conf", DoubleType()),
        StructField("stop_hits", IntegerType()),
        StructField("tok_words", IntegerType()),
        StructField("tok_distinct", IntegerType()),
        StructField("perplexity", DoubleType()),
        StructField("scrubbed_text", StringType()),
        StructField("scrub_email", IntegerType()),
        StructField("scrub_phone", IntegerType()),
        StructField("scrub_ip", IntegerType()),
        StructField("scrub_ssn", IntegerType()),
        StructField("scrub_toxicity", IntegerType()),
    ]
)


def _score_texts(trunc: list[str]) -> pd.DataFrame:
    """Columnar scoring of already-truncated texts (shared by the one-pass
    fused UDF and the post-shuffle text stage). Column-at-a-time: perplexity
    runs over the whole Arrow batch as one numpy pass (lm.perplexities);
    langid/scrub stay per-row python but build columns, not row tuples.
    stop_hits / token counts ride along from the langid vote (already
    tokenized) so the JVM never re-tokenizes: no stopword alternation
    regex, no split, no array_distinct in the downstream heuristics."""
    if not trunc:  # zip(*[]) cannot unpack; emit an empty typed frame
        return pd.DataFrame({f.name: [] for f in _TEXT_SCORE_SCHEMA.fields})
    lm = get_lm()
    lid = rules.langid_token_stats_batch(trunc)
    ppl = lm.perplexities(trunc)
    scr = [rules.scrub_text(t) for t in trunc]
    lang_pred, lang_conf, stop_hits, tok_words, tok_distinct = zip(*lid)
    return pd.DataFrame(
        {
            "lang_pred": lang_pred,
            "lang_conf": lang_conf,
            "stop_hits": stop_hits,
            "tok_words": tok_words,
            "tok_distinct": tok_distinct,
            "perplexity": ppl,
            "scrubbed_text": [x[0] for x in scr],
            "scrub_email": [x[1]["email"] for x in scr],
            "scrub_phone": [x[1]["phone"] for x in scr],
            "scrub_ip": [x[1]["ip"] for x in scr],
            "scrub_ssn": [x[1]["ssn"] for x in scr],
            "scrub_toxicity": [x[1]["toxicity"] for x in scr],
        }
    )


@F.pandas_udf(_FUSED_SCHEMA)
def _fused_udf(html: pd.Series) -> pd.DataFrame:
    st = [rules.extract_status(h) for h in html]
    extracted = [s[0] for s in st]
    trunc = [e[: rules.TRUNCATE_CHARS] for e in extracted]  # score.py:104 parity
    out = _score_texts(trunc)
    out.insert(0, "extracted_text", extracted)
    out.insert(1, "error", [s[1] for s in st])
    return out[_FUSED_SCHEMA.fieldNames()]


# the params variant DOES return text_t: the per-row limit lives in python
# (rules.truncate_limit) and must not be re-implemented as a second SQL
# expression that could drift from it
_FUSED_PARAMS_SCHEMA = StructType(
    [_FUSED_SCHEMA.fields[0], StructField("text_t", StringType())] + _FUSED_SCHEMA.fields[1:]
)


@F.pandas_udf(_FUSED_PARAMS_SCHEMA)
def _fused_params_udf(html: pd.Series, params: pd.Series) -> pd.DataFrame:
    """Fused scoring with a per-row generation-params override: the params
    JSON column drives the truncation operator (prompt_formatter.py:108-117
    semantics — row config overrides the stage default)."""
    st = [rules.extract_status(h) for h in html]
    extracted = [s[0] for s in st]
    trunc = [e[: rules.truncate_limit(p)] for e, p in zip(extracted, params)]
    out = _score_texts(trunc)
    out.insert(0, "extracted_text", extracted)
    out.insert(1, "text_t", trunc)
    out.insert(2, "error", [s[1] for s in st])
    return out[_FUSED_PARAMS_SCHEMA.fieldNames()]


def fused_score_stage(
    df: DataFrame, html_col: str = "html", params_col: str | None = None
) -> DataFrame:
    """html -> all model-derived columns in ONE pandas UDF call.

    ``params_col``: optional per-row generation-params JSON column; its
    ``truncate`` key overrides TRUNCATE_CHARS row by row."""
    if params_col is None:
        fused = _fused_udf(F.col(html_col))
        schema = _FUSED_SCHEMA
    else:
        fused = _fused_params_udf(F.col(html_col), F.col(params_col))
        schema = _FUSED_PARAMS_SCHEMA
    df = df.withColumn("_m", fused)
    for f in schema.fieldNames():
        df = df.withColumn(f, F.col("_m")[f])
    df = df.drop("_m")
    if params_col is None:
        df = df.withColumn(
            "text_t", F.substring(F.col("extracted_text"), 1, rules.TRUNCATE_CHARS)
        )
    return df


# ---------------------------------------------------------------------------
# Split stages for the salted-repartition path: extract BEFORE the shuffle
# (so only narrow text columns cross the wire, never raw html — at 100 TB
# html is 10-50x the extracted text), score AFTER it.
# ---------------------------------------------------------------------------

_EXTRACT_SCHEMA = StructType(
    [
        StructField("extracted_text", StringType()),
        StructField("error", StringType()),
    ]
)


@F.pandas_udf(_EXTRACT_SCHEMA)
def _extract_truncate_udf(html: pd.Series) -> pd.DataFrame:
    st = [rules.extract_status(h) for h in html]
    return pd.DataFrame(
        {"extracted_text": [s[0] for s in st], "error": [s[1] for s in st]}
    )


def extract_stage_narrow(df: DataFrame, html_col: str = "html") -> DataFrame:
    """html -> (extracted_text, error) only. text_t is NOT added here: the
    caller derives it (codepoint substring) AFTER any repartition, so the
    shuffle carries one text copy, not two."""
    e = _extract_truncate_udf(F.col(html_col))
    return df.withColumn("extracted_text", e["extracted_text"]).withColumn(
        "error", e["error"]
    )


def truncate_col() -> F.Column:
    return F.substring(F.col("extracted_text"), 1, rules.TRUNCATE_CHARS)


def extract_truncate_stage(df: DataFrame, html_col: str = "html") -> DataFrame:
    return extract_stage_narrow(df, html_col).withColumn("text_t", truncate_col())


_TEXT_SCORE_SCHEMA = StructType(_FUSED_SCHEMA.fields[2:])


@F.pandas_udf(_TEXT_SCORE_SCHEMA)
def _text_score_udf(text_t: pd.Series) -> pd.DataFrame:
    return _score_texts([t if t is not None else "" for t in text_t])


def text_score_stage(df: DataFrame, text_col: str = "text_t") -> DataFrame:
    """text_t -> langid/perplexity/scrub columns (post-shuffle scoring)."""
    s = _text_score_udf(F.col(text_col))
    for f in _TEXT_SCORE_SCHEMA.fieldNames():
        df = df.withColumn(f, s[f])
    return df
