"""Seeded input generator for the benchmark workloads.

Pages are built with ``curator_spark.datagen.make_page`` from synthetic
documents drawn here (the test-data ``documents.parquet`` is not part of
the repository). Every output is a pure function of ``(workload, seed, size)``:
the seed picks document texts and languages and shifts the ``rep`` index
handed to ``make_page``, which moves hosts, urls and crawl timestamps.

Outputs are cached content-addressed under ``.bench_data/`` in the working
directory, so a repeated ``(workload, seed)`` pays generation once. No
metric includes generation time.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from curator_spark import datagen

GEN_VERSION = 2

# The vocabulary, length range (10-100 words) and language mix of the test
# documents the filter was built against, so the keep/drop mix and per-row
# cost follow them. "a" is about 35x rarer than the other words there.
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_WEIGHTS = [1 if w == "a" else 35 for w in _VOCAB]
_LANGS = ("en", "fr", "es", "de", "zh")
_LANG_WEIGHTS = (41, 15, 15, 14, 15)

# Per-workload sizes. Chosen so one warm iteration takes a few seconds on a
# 4-vCPU box and a run holds several iterations inside --seconds.
SIZES = {
    "qf_uniform": {"docs": 24_000, "rows_per_file": 1_500},
    "recipe_full": {"docs": 150, "recrawl_frac": 0.15, "near_dup_frac": 0.2, "contaminant_frac": 0.05},
    "runner_skew_resume": {"docs": 8_000, "cold_rows_per_file": 500, "hot_files": 2},
}


def _rng(seed: int, tag: str) -> random.Random:
    return random.Random(int.from_bytes(hashlib.sha256(f"{tag}:{seed}".encode()).digest()[:8], "big"))


def _doc(rng: random.Random) -> tuple[str, str]:
    """(text, lang) of one synthetic document."""
    text = " ".join(rng.choices(_VOCAB, weights=_WEIGHTS, k=rng.randint(10, 100)))
    return text, rng.choices(_LANGS, weights=_LANG_WEIGHTS)[0]


def _renamed(text: str, doc_id: int) -> str:
    """Vocabulary renaming for the recipe input: every third token carries
    one of 7 per-document suffixes, so unrelated documents rarely share a
    long shingle, while token counts keep the prose shape."""
    return " ".join(f"{w}{doc_id % 7}" if i % 3 == 0 else w for i, w in enumerate(text.split()))


def _docs(seed: int, n: int) -> list[dict]:
    rng = _rng(seed, "docs")
    rep = 1 + (seed % 9973)  # seed-shifted rep index: moves hosts, urls, ts
    return [datagen.make_page(doc_id, rep, *_doc(rng), f"src{doc_id % 20}") for doc_id in range(n)]


def _write(rows: list[dict], path: str, rows_per_file: int) -> None:
    """One single-row-group file per ``rows_per_file`` rows."""
    os.makedirs(path, exist_ok=True)
    for i in range(0, len(rows), rows_per_file):
        chunk = rows[i : i + rows_per_file]
        t = pa.Table.from_pylist(chunk, schema=datagen.PAGES_SCHEMA)
        pq.write_table(
            t, os.path.join(path, f"part-{i // rows_per_file:05d}.parquet"),
            row_group_size=len(chunk),
        )


def _uniform(seed: int, out: str) -> dict:
    cfg = SIZES["qf_uniform"]
    rows = _docs(seed, cfg["docs"])
    _rng(seed, "order").shuffle(rows)  # hosts spread over every file
    _write(rows, os.path.join(out, "pages"), cfg["rows_per_file"])
    return {"pages": len(rows)}


def _host(url: str) -> str:
    return url.split("/")[2]


def _skewed(seed: int, out: str) -> dict:
    """Host-clustered crawl dump: the hot host's pages sit in a few fat
    single-row-group files (unsplittable scan tasks); cold hosts are spread
    over many small files."""
    cfg = SIZES["runner_skew_resume"]
    rows = _docs(seed, cfg["docs"])
    hot = [r for r in rows if _host(r["url"]) == datagen._HOT_HOST]
    cold = sorted((r for r in rows if _host(r["url"]) != datagen._HOT_HOST), key=lambda r: r["url"])
    path = os.path.join(out, "pages")
    per_hot = -(-len(hot) // cfg["hot_files"])
    _write(hot, os.path.join(path, "hot"), per_hot)
    _write(cold, os.path.join(path, "cold"), cfg["cold_rows_per_file"])
    # one flat directory: the runner reads a plain parquet dataset
    for sub in ("hot", "cold"):
        for f in sorted(os.listdir(os.path.join(path, sub))):
            os.rename(os.path.join(path, sub, f), os.path.join(path, f"{sub}-{f}"))
        os.rmdir(os.path.join(path, sub))
    return {"pages": len(rows), "hot_pages": len(hot)}


def _dirty_url(url: str, rng: random.Random) -> str:
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    form = rng.randrange(4)
    if form == 0:
        return f"{scheme.upper()}://{host.upper()}/{path}"
    if form == 1:
        return f"{url}?utm_source=feed{rng.randrange(99)}&utm_medium=rss"
    if form == 2:
        return f"{scheme}://{host}:443/{path}#section{rng.randrange(9)}"
    return f"{scheme}://{host}./{path}?gclid=x{rng.randrange(999)}"


def _mutate(text: str, rng: random.Random, frac: float) -> str:
    words = text.split()
    for i in range(len(words)):
        if rng.random() < frac:
            words[i] = rng.choice(_VOCAB)
    return " ".join(words)


def _recipe(seed: int, out: str) -> dict:
    """Pages with re-crawls under dirty urls (newer ``warc_ts``, same
    content), near-duplicate mutations under new urls, and a contaminant
    slice cut from some clean English documents."""
    cfg = SIZES["recipe_full"]
    rng = _rng(seed, "recipe")
    rep = 1 + (seed % 9973)
    n = cfg["docs"]
    base = []
    texts = []
    for doc_id in range(n):
        text, lang = _doc(rng)
        text = _renamed(text, doc_id)
        texts.append((doc_id, text, lang))
        base.append(datagen.make_page(doc_id, rep, text, lang, f"src{doc_id % 20}"))
    rows = list(base)
    for page in base:
        if rng.random() < cfg["recrawl_frac"]:
            again = dict(page)
            again["url"] = _dirty_url(page["url"], rng)
            again["warc_ts"] = page["warc_ts"] + timedelta(days=1 + rng.randrange(30))
            rows.append(again)
    for doc_id, text, lang in texts:
        if rng.random() < cfg["near_dup_frac"]:
            # 3%..25% of words replaced: some variants stay above the
            # Jaccard threshold, others survive and lose shared spans
            variant = _mutate(text, rng, rng.uniform(0.03, 0.25))
            rows.append(datagen.make_page(doc_id + n, rep, variant, lang, f"dup{doc_id % 20}"))
    rng.shuffle(rows)
    _write(rows, os.path.join(out, "pages"), 500)
    cont = []
    for doc_id, text, lang in texts:
        words = text.split()
        if doc_id % 10 < 5 and lang == "en" and len(words) >= 30 and rng.random() < cfg["contaminant_frac"] * 2:
            start = rng.randrange(len(words) - 20)
            cont.append({"text": " ".join(words[start : start + 20])})
    pq.write_table(pa.Table.from_pylist(cont, schema=pa.schema([("text", pa.string())])),
                   os.path.join(out, "contaminants.parquet"))
    return {"pages": len(rows), "base_docs": n, "contaminants": len(cont)}


_BUILDERS = {"qf_uniform": _uniform, "recipe_full": _recipe, "runner_skew_resume": _skewed}


def generate(workload: str, seed: int, root: str) -> tuple[str, dict]:
    """Return (directory, info) for the workload's inputs, building them
    once. The directory name is a hash of everything the output depends on."""
    key = json.dumps({"w": workload, "seed": seed, "size": SIZES[workload], "v": GEN_VERSION}, sort_keys=True)
    out = os.path.join(root, f"{workload}-{hashlib.sha256(key.encode()).hexdigest()[:16]}")
    info_path = os.path.join(out, "info.json")
    if not os.path.exists(info_path):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        info = _BUILDERS[workload](seed, tmp)
        with open(os.path.join(tmp, "info.json"), "w") as f:
            json.dump(info, f)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(info_path) as f:
        return out, json.load(f)
