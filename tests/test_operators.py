"""Operator-level tests: dedup family, similarity search, text analysis.

Each operator has one production form and one reference. Oracle-checked
operators run their registered DuckDB oracle (``_duck_oracle``) on edge
fixtures here, on top of tools/parity_check.py (and the driver) at the
fixture scale factors; engine-internal operators (simhash, LSH ANN, the
shingle tokenizer) are checked against python models / planted fixtures /
hand values, mirroring the reference's golden-fixture strategy (SURVEY.md
§5).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from curator_spark.operators import dedup, similarity
from curator_spark.operators.textanalysis import jvm_tokens


def _duck_oracle(name, rows):
    """Rows of the registered DuckDB oracle ``queries.ORACLE[name]`` over a
    ``documents(doc_id, text)`` table built from ``rows`` (tuples or a
    pandas frame), as a set of tuples."""
    import duckdb
    import pandas as pd

    from curator_spark import queries

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    return set(con.execute(queries.ORACLE[name]).fetchall())


def _shingle_model(rows, w):
    """Python model of ``dedup.shingle_rows``: w-token runs of
    ``jvm_tokens`` (pinned equal to ``words()``) joined by one space."""
    return sorted(
        (i, " ".join(toks[p : p + w]))
        for i, t in rows
        if t is not None
        for toks in [jvm_tokens(t)]
        for p in range(len(toks) - w + 1)
    )


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 0
        (2, "completely different content about spark partitioning and shuffle costs"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
        (4, "unrelated gibberish zx qv wk jj pm tt rr ss nn ll dd ff gg hh"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_key(docs_df):
    out = {r.fp_md5: r for r in dedup.exact_dedup(docs_df).collect()}
    sizes = sorted(r.group_size for r in out.values())
    assert sizes == [1, 1, 1, 1, 2]
    dup_group = [r for r in out.values() if r.group_size == 2][0]
    assert dup_group.doc_id == 0  # min key wins over 3


def test_shingle_rows_matches_jvm_tokens_model(spark):
    """Codegen shingle path == the jvm_tokens python model, as a multiset.

    shingle_rows is the production subtree under minhash_lsh_candidates and
    ngram_jaccard_pairs; any drift here silently shifts every dedup oracle.
    """
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, ""),
        (2, "   \t\n  "),  # whitespace-only -> trim -> no shingles
        (3, "one"),
        (4, "one two"),
        (5, "one two three"),  # exactly w=3 words -> 1 shingle
        (6, "a  b\tc\nd   e"),  # mixed separators, runs of whitespace
        (7, None),  # null text contributes no shingles
        (8, "  leading and trailing   spaces stripped before split  "),
        (9, "répété répété répété unicode œuvre"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for w in (2, 3, 5):
        fast = dedup.shingle_rows(df, w=w)
        assert sorted(map(tuple, fast.collect())) == _shingle_model(rows, w), w


def test_minhash_finds_planted_near_dup(docs_df):
    cand = dedup.minhash_lsh_candidates(dedup.shingle_rows(docs_df))
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    assert (0, 3) in pairs  # exact dup always collides
    assert (0, 1) in pairs or (1, 3) in pairs  # near-dup shares bands
    assert (2, 4) not in pairs


def test_minhash_constant_bounds_and_wider_family(docs_df):
    """The affine family exposes 16 pinned (a, b) pairs; a wider request
    must refuse (silent reuse of constants would correlate the hashes),
    and the widest supported configuration must still find the planted
    exact dup (it collides under every minhash family)."""
    with pytest.raises(ValueError, match="num_hashes"):
        dedup.minhash_lsh_candidates(dedup.shingle_rows(docs_df), num_hashes=17, bands=1)
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(
            dedup.shingle_rows(docs_df), num_hashes=16, bands=8
        ).collect()
    }
    assert (0, 3) in pairs


def test_simhash_rejects_odd_bits(docs_df):
    with pytest.raises(ValueError, match="even"):
        dedup.simhash(docs_df, bits=63)


def test_jaccard_on_candidates_matches_python(docs_df):
    sh = dedup.shingle_rows(docs_df)
    out = dedup.ngram_jaccard_pairs(sh, pairs=dedup.minhash_lsh_candidates(sh)).collect()
    texts = {r.doc_id: r.text for r in docs_df.collect()}

    def shingles(t):
        w = t.strip().split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    for r in out:
        a, b = shingles(texts[r.id_a]), shingles(texts[r.id_b])
        inter = len(a & b)
        union = len(a | b)
        assert r.inter == inter and r.union_sz == union
        assert math.isclose(r.jaccard, inter / union)
    assert any(r.jaccard == 1.0 for r in out)  # the exact dup pair


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """Adversarial boilerplate: N identical pages share every band, so the
    uncapped in-bucket self-join emits ~N^2/2 pairs; the cap drops the hot
    buckets, and exact-dedup upstream collapses them to one representative."""
    n = 300
    boiler = "subscribe to our newsletter for daily updates and exclusive offers today"
    rows = [(i, boiler) for i in range(n)] + [
        (n, "a unique document about spark window functions and state stores"),
        (n + 1, "another unique document covering arrow batches and codegen stages"),
        (n + 2, boiler + " with one extra tail clause appended here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.minhash_lsh_candidates(dedup.shingle_rows(df)).count()
    assert uncapped >= n * (n - 1) // 2  # the blow-up being defused
    capped = dedup.minhash_lsh_candidates(dedup.shingle_rows(df), max_bucket_size=50).count()
    assert capped <= 10
    # full scale-path composition: exact-dedup first, then capped LSH
    survivors = df.join(dedup.exact_dedup(df).select("doc_id"), "doc_id", "left_semi")
    assert survivors.count() == 4
    comp = dedup.minhash_lsh_candidates(dedup.shingle_rows(survivors), max_bucket_size=50)
    pairs = {(r.id_a, r.id_b) for r in comp.collect()}
    assert (0, n + 2) in pairs  # the boilerplate variant still found
    assert len(pairs) <= 6


def _adversarial_corpus():
    """Deterministic corpus of weird-but-valid strings: unicode whitespace
    (NOT Java \\s — tokens keep it), combining marks, CJK, zero-width chars,
    empty/blank rows, leading Java separators (which yield an empty first
    token through split), long repeats."""
    import random

    rng = random.Random(0xC0FFEE)
    atoms = [
        "the", "a", "b", "word", "été", "naïve", "世界",
        "x" * 50, "1.2.3", "a-b", "", "​zw", "é", " nbsp",
        " ls", "tab\tin", "quote'", 'dq"', "back\\slash", "pipe|",
    ]
    seps = [" ", "  ", "\t", "\n", "\r\n", "\x0b", "\x0c", " \t "]
    rows = [(0, None), (1, ""), (2, " "), (3, "\t\n "), (4, "one"), (5, " lead"),
            (6, "\ttab-lead"), (7, "trail "), (8, "a b"), (9, "the the the")]
    for i in range(10, 160):
        k = rng.randint(1, 12)
        s = rng.choice(seps).join(rng.choice(atoms) for _ in range(k))
        if rng.random() < 0.2:
            s = rng.choice(seps) + s
        if rng.random() < 0.2:
            s = s + rng.choice(seps)
        rows.append((i, s))
    return rows


def _simhash_unpacked_reference(df, hash_col_fn, key="doc_id"):
    """Test-local UNPACKED per-bit majority vote (the pre-packing
    formulation): one sum(+-1) aggregate per bit over (hi, lo) halves.
    Pins that the packed-counter production form decides every bit
    identically on arbitrary input."""
    votes = [
        F.sum(
            F.when(F.shiftright(F.col(h), b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"v_{h}_{b}")
        for h in ("hi", "lo")
        for b in range(32)
    ]
    voted = hash_col_fn(df).groupBy("id").agg(*votes)
    out = {}
    for h in ("hi", "lo"):
        acc = None
        for b in range(32):
            bit = F.when(F.col(f"v_{h}_{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            acc = bit if acc is None else acc + bit
        out[h] = acc
    return voted.select(
        F.col("id").alias(key), out["hi"].alias("simhash_hi"), out["lo"].alias("simhash_lo")
    )


def test_packed_simhash_and_shingles_on_adversarial_corpus(spark):
    """Whole-corpus pins for the packed/codegen rewrites on adversarial
    unicode: shingle_rows == the jvm_tokens model multiset, and
    simhash_md5's packed vote counters == the unpacked per-bit
    formulation, row for row."""
    rows = _adversarial_corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for w in (2, 3):
        fast = dedup.shingle_rows(df, w=w)
        assert sorted(map(tuple, fast.collect())) == _shingle_model(rows, w), w

    def md5_halves(d):
        t = F.trim(F.col("text"))
        toks = F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
            F.split(t, r"\s+")
        )
        m = F.md5(F.lower(F.col("_w0")))
        return (
            d.select(F.col("doc_id").alias("id"), F.explode(toks).alias("_w0"))
            .select("id", m.alias("_m"))
            .select(
                "id",
                F.conv(F.substring("_m", 1, 8), 16, 10).cast("long").alias("hi"),
                F.conv(F.substring("_m", 9, 8), 16, 10).cast("long").alias("lo"),
            )
        )

    ref = {tuple(r) for r in _simhash_unpacked_reference(df, md5_halves).collect()}
    got = {tuple(r) for r in dedup.simhash_md5(df).collect()}
    assert got == ref


def test_simhash_properties(docs_df):
    sh = {r.doc_id: r.simhash for r in dedup.simhash(docs_df).collect()}
    assert sh[0] == sh[3]  # identical text -> identical simhash
    ham01 = bin((sh[0] ^ sh[1]) & 0xFFFFFFFFFFFFFFFF).count("1")
    ham02 = bin((sh[0] ^ sh[2]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham01 < ham02  # near-dup closer than unrelated
    near = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_pairs(dedup.simhash(docs_df), max_hamming=3).collect()
    }
    assert near[(0, 3)] == 0


def _union_find(pairs):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _components(df):
    return {r.node: r.component for r in dedup.connected_components(df).collect()}


def _both_paths(monkeypatch, dfs):
    """Labels of each frame via the driver union-find, then via two-phase
    contraction (forced by an edge bound of 0)."""
    driver = [_components(df) for df in dfs]
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 0)
    two = [_components(df) for df in dfs]
    monkeypatch.undo()
    return driver, two


def test_connected_components_matches_union_find(spark):
    """connected_components == a classic union-find on the same edges,
    including a chain (transitivity) and singleton-free semantics."""
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20), (5, 30)]
    got = _components(spark.createDataFrame(pairs, "id_a long, id_b long"))
    assert got == _union_find(pairs)
    assert got[4] == 1  # chain 1-2-3-4 collapses transitively


def test_cc_paths_match_union_find_on_random_graphs(spark, monkeypatch):
    """The driver union-find and large-star/small-star contraction both
    equal a union-find model on randomized graphs of varying density,
    stars, chains, cliques, isolated pairs and a 100-node chain (the
    diameter case two-phase exists for: O(log n) rounds)."""
    rng = np.random.RandomState(11)
    cases = []
    for density in (0.5, 1.5, 3.0):
        n = 60
        m = int(n * density)
        cases.append([(int(rng.randint(n)), int(rng.randint(n))) for _ in range(m)])
    cases.append([(5, 5), (7, 8)])  # self-loop + pair
    cases.append([(0, i) for i in range(1, 30)] + [(i, 100) for i in range(40, 50)])  # stars
    cases.append([(i + 1, i) for i in range(20)] + [(50, 49), (49, 48)])  # chains
    cases.append([(a, b) for a in range(9, 17) for b in range(9, 17) if a < b])  # clique
    cases.append([(2 * i + 1, 2 * i) for i in range(25)])  # isolated pairs
    cases.append([(i, i + 1) for i in range(100)])  # 100-node chain
    dfs = [spark.createDataFrame(pairs, "id_a long, id_b long") for pairs in cases]
    driver, two = _both_paths(monkeypatch, dfs)
    for pairs, got_driver, got_two in zip(cases, driver, two):
        want = _union_find(pairs)
        assert got_driver == want, "driver drift"
        assert got_two == want, "two_phase drift"
    assert two[-1] == {n: 0 for n in range(101)}


def test_cc_string_keys_match_union_find(spark, monkeypatch):
    """url-like and non-ASCII string ids: the driver's Python ``min`` (code
    points) equals Spark's UTF-8 binary ``min``. U+FFFF sorts before
    U+10000 in both, but after it in UTF-16 (Java ``String``) order."""
    pairs = [
        ("\U00010000", "\uffff"),
        ("https://b\u00fccher.de/a", "https://bucher.de/a"),
        ("https://bucher.de/a", "https://\u4f8b\u3048.jp/"),
        ("https://a.com/x/", "https://a.com/x"),
        ("B", "a"),
        ("\u00e9t\u00e9", "\U0001f600"),
        ("\U0001f600", "zz"),
    ]
    df = spark.createDataFrame(pairs, "id_a string, id_b string")
    (driver,), (two,) = _both_paths(monkeypatch, [df])
    want = _union_find(pairs)
    assert driver == want
    assert two == want
    assert driver["\U00010000"] == "\uffff"
    assert driver["\U0001f600"] == "zz"
    assert driver["https://\u4f8b\u3048.jp/"] == "https://bucher.de/a"


def test_cc_drops_null_endpoints(spark, monkeypatch):
    """A pair with a NULL endpoint is no edge and its other endpoint no
    node, on both paths; near_dup_survivors over a NULL-key document
    completes, and that document survives (the anti-join never matches a
    NULL key)."""
    pairs = [(None, "a"), ("a", "b"), (None, None), ("c", None), ("d", "b")]
    df = spark.createDataFrame(pairs, "id_a string, id_b string")
    (driver,), (two,) = _both_paths(monkeypatch, [df])
    assert driver == two == {"a": "a", "b": "a", "d": "a"}
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [("u0", base + " today"), ("u1", base + " tonight"), (None, base + " again"),
         (None, "completely different content about spark partitioning")],
        "url string, text string",
    )
    out = [r.url for r in dedup.near_dup_survivors(docs, key="url").collect()]
    assert sorted(out, key=str) == sorted(["u0", None, None], key=str)


def test_cc_driver_result_partitions(spark):
    """The driver path returns at most defaultParallelism partitions: Arrow
    would make one per arrow.maxRecordsPerBatch rows."""
    pairs = spark.range(5000).select(
        F.col("id").alias("id_a"), (F.col("id") + 10_000).alias("id_b")
    )
    comp = dedup.connected_components(pairs)
    assert comp.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    assert comp.count() == 10_000


def test_cc_raises_when_rounds_run_out(spark, monkeypatch):
    """A 100-node chain needs 8 two-phase rounds: a smaller cap must raise,
    not return labels short of the fixpoint."""
    chain = [(i, i + 1) for i in range(100)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(dedup, "_CC_MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        dedup.connected_components(df)


def test_near_dup_survivors_end_to_end(spark):
    """exact dups collapse, near-dup clusters keep exactly the min id,
    distinct docs survive."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (0, base + " today"),
        (1, base + " today"),          # exact dup of 0 -> gone
        (2, base + " tonight"),        # near-dup of 0 -> same cluster, gone
        (3, "completely different content about spark partitioning and shuffles"),
        (4, base + " tonight"),        # exact dup of 2 -> gone
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.near_dup_survivors(df, threshold=0.5).collect()}
    assert set(out) == {0, 3}
    assert out[0].group_size == 2  # its exact-dup group had two members
    assert out[3].text == rows[3][1]  # the input row itself, handed forward


def test_near_dup_survivors_key_shared_by_two_texts(spark):
    """A key shared by rows of two exact-text groups carries only the row
    whose group it keeps: keepers are matched on (key, fp_md5), not on the
    key alone, which let the other group's row through too."""
    a = "the quick brown fox jumps over the lazy dog near the river bank"
    b = "completely different content about spark partitioning and shuffles"
    docs = spark.createDataFrame(
        [("k", a), ("k", b), ("j", b)], "url string, scrubbed_text string"
    )
    out = dedup.near_dup_survivors(docs, text_col="scrubbed_text", key="url")
    assert out.columns == ["url", "scrubbed_text", "fp_md5", "group_size"]
    assert sorted((r.url, r.scrubbed_text, r.group_size) for r in out.collect()) == [
        ("j", b, 2),
        ("k", a, 1),
    ]


def test_near_dup_survivors_hands_null_key_rows_to_the_strip(spark):
    """A NULL-url page keeps its exact-text group when no page with a url
    shares its text, and flows through ``strip_duplicate_spans`` as the
    recipe composes them (``canonical_url_dedup`` passes NULL urls
    through). A url-keyed semi-join back onto the input dropped it."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    other = "completely different content about spark partitioning and shuffles"
    docs = spark.createDataFrame(
        [("u0", base + " today"), (None, other), (None, base + " today")],
        "url string, scrubbed_text string",
    )
    surv = dedup.near_dup_survivors(docs, text_col="scrubbed_text", key="url")
    out = dedup.strip_duplicate_spans(surv, text_col="scrubbed_text", key="url", w=8)
    got = sorted(((r.url, r.text_stripped) for r in out.collect()), key=str)
    # the NULL-url copy of u0's text loses its exact group to u0
    assert got == sorted([("u0", base + " today"), (None, other)], key=str)


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.RandomState(7)
    # two tight clusters + noise so near-dup/ANN have structure
    base_a = rng.randn(8)
    base_b = rng.randn(8)
    rows = []
    for i in range(30):
        base = base_a if i % 2 == 0 else base_b
        v = base + rng.randn(8) * 0.05
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _np_cos(a, b):
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_brute_force_topk_matches_numpy(emb_df):
    vecs = {r.vec_id: r.embedding for r in emb_df.collect()}
    out = similarity.brute_force_topk(emb_df, emb_df.filter(F.col("vec_id") < 3), k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        expect = sorted(
            ((_np_cos(vecs[qid], v), i) for i, v in vecs.items() if i != qid),
            key=lambda t: (-t[0], t[1]),
        )[:4]
        assert [r.id for r in rows] == [i for _, i in expect]
        for r, (c, _) in zip(rows, expect):
            assert math.isclose(r.cos, c, rel_tol=1e-9)


def test_cosine_scores_degenerate_vectors(spark):
    """Null/empty/ragged vectors must not crash the stage: null -> null,
    empty -> NaN (both dropped by threshold filters), valid rows exact."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, None),
        (2, []),
        (3, [0.5, 0.5]),  # ragged vs row 0
        (4, [2.0, 0.0, 0.0]),
        (5, []),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = df.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    out = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select("ia", "ib", dedup.cosine_scores(F.col("va"), F.col("vb")).alias("cos"))
        .collect()
    )
    got = {(r.ia, r.ib): r.cos for r in out}
    assert got[(0, 4)] == 1.0
    # every degenerate combination -> null (sorts last in desc top-k,
    # dropped by threshold filters; Arrow maps NaN to null regardless)
    for pair in ((0, 1), (1, 4), (0, 2), (2, 4), (0, 3), (3, 4), (2, 5)):
        assert got[pair] is None, pair
    # threshold filter drops every degenerate pair without failing
    kept = dedup.embedding_near_dup_pairs(df, threshold=0.9).collect()
    assert {(r.id_a, r.id_b) for r in kept} == {(0, 4)}


def test_embedding_near_dup_pairs(emb_df):
    pairs = {(r.id_a, r.id_b) for r in dedup.embedding_near_dup_pairs(emb_df, threshold=0.98).collect()}
    assert pairs  # tight clusters produce near-dups
    vecs = {r.vec_id: r.embedding for r in emb_df.collect()}
    for a, b in pairs:
        assert _np_cos(vecs[a], vecs[b]) >= 0.98
        assert a % 2 == b % 2  # never across clusters


def test_lsh_ann_multiprobe_improves_recall(emb_df):
    """probes>1 unions flip-1-bit buckets: candidate coverage can only grow,
    scores stay true cosines, and at enough probes recall approaches brute
    force."""
    vecs = {r.vec_id: r.embedding for r in emb_df.collect()}
    q = emb_df.filter(F.col("vec_id") < 5)

    def pairs(probes):
        out = similarity.lsh_ann_topk(
            emb_df, q, dim=8, k=4, num_planes=6, probes=probes
        ).collect()
        for r in out:
            assert math.isclose(r.cos, _np_cos(vecs[r.qid], vecs[r.id]), rel_tol=1e-9)
        return {(r.qid, r.id) for r in out}

    single, multi = pairs(1), pairs(4)
    brute = {
        (r.qid, r.id)
        for r in similarity.brute_force_topk(emb_df, q, k=4).collect()
    }
    assert len(multi) >= len(single)
    # recall vs exact top-k must not decrease with probing
    assert len(multi & brute) >= len(single & brute)
    assert len(multi & brute) > 0


def test_ivf_ann_cells_and_recall(emb_df):
    """IVF: centroids deterministic, every emitted score a true cosine,
    recall grows with n_probe, and probing all cells == brute force."""
    vecs = {r.vec_id: r.embedding for r in emb_df.collect()}
    q = emb_df.filter(F.col("vec_id") < 5)
    c1 = similarity.ivf_centroids(emb_df, 8)
    c2 = similarity.ivf_centroids(emb_df, 8)
    assert (c1 == c2).all()

    def pairs(n_probe):
        out = similarity.ivf_ann_topk(emb_df, q, k=4, n_centroids=8, n_probe=n_probe).collect()
        for r in out:
            assert math.isclose(r.cos, _np_cos(vecs[r.qid], vecs[r.id]), rel_tol=1e-9)
        return {(r.qid, r.id) for r in out}

    brute = {(r.qid, r.id) for r in similarity.brute_force_topk(emb_df, q, k=4).collect()}
    p1, p2, pall = pairs(1), pairs(2), pairs(8)
    assert len(p1 & brute) <= len(p2 & brute) <= len(pall & brute)
    assert pall == brute  # probing every cell recovers exact top-k


def test_lsh_ann_scores_are_true_cosines(emb_df):
    vecs = {r.vec_id: r.embedding for r in emb_df.collect()}
    out = similarity.lsh_ann_topk(
        emb_df, emb_df.filter(F.col("vec_id") < 3), dim=8, k=4, num_planes=4
    ).collect()
    assert out  # bucketing keeps same-cluster neighbors together
    for r in out:
        assert math.isclose(r.cos, _np_cos(vecs[r.qid], vecs[r.id]), rel_tol=1e-9)
        assert 1 <= r.rank <= 4


# ---------------------------------------------------------------------------
# Token-budget packing: the bucketed pack against its DuckDB oracle.
# ---------------------------------------------------------------------------


def test_token_budget_pack_bucketed_k1_matches_oracle(spark):
    """k=1 is the global pack (one bucket, one running sum over the whole
    ranked corpus); the registry pins k=4, so this pins k=1 against the
    same oracle generator — identical membership AND running sums."""
    import duckdb

    from curator_spark import queries
    from curator_spark.operators import textanalysis

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b1 = {
        tuple(r)
        for r in textanalysis.token_budget_pack_bucketed(docs, budget=20000, k=1)
        .select("doc_id", "bucket", "score", "n_bpe_tokens", "running_tokens")
        .collect()
    }
    con = duckdb.connect()
    con.register("documents", docs.select("doc_id", "text").toPandas())
    want = set(con.execute(queries._token_budget_sql(20000, k=1)).fetchall())
    assert b1 == want
    assert len(b1) >= 10 and {r[1] for r in b1} == {0}


def test_token_budget_pack_bucketed_respects_per_bucket_quota(spark):
    from curator_spark.operators import textanalysis

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # a short NULL-key doc fits any quota, but is never packed
    null_key = spark.createDataFrame([(None, "the cat sat on the mat")], "doc_id long, text string")
    docs = docs.select("doc_id", "text").unionByName(null_key)
    out = textanalysis.token_budget_pack_bucketed(docs, budget=20000, k=4).collect()
    assert out and all(r.doc_id is not None for r in out)
    assert {r.bucket for r in out} <= set(range(4))
    by_bucket: dict[int, int] = {}
    for r in out:
        by_bucket[r.bucket] = max(by_bucket.get(r.bucket, 0), r.running_tokens)
    for mx in by_bucket.values():
        assert mx <= 20000 // 4  # each bucket stays within its quota


def test_embedding_near_dup_blocked_equals_brute(spark, emb_df):
    """The blocked matrix scorer is pinned pair-for-pair against the spec
    (pair-cross-join) form — including at a negative threshold, where even
    anti-correlated valid pairs are emitted, and across block counts."""
    for thr in (0.98, 0.5, -1.0):
        brute = {
            (r.id_a, r.id_b)
            for r in dedup.embedding_near_dup_pairs_brute(emb_df, threshold=thr).collect()
        }
        for n_blocks in (1, 3, 8):
            blocked = {
                (r.id_a, r.id_b)
                for r in dedup.embedding_near_dup_pairs(
                    emb_df, threshold=thr, n_blocks=n_blocks, chunk_rows=7
                ).collect()
            }
            assert blocked == brute, (thr, n_blocks)
    # degenerate rows (null / empty / ragged) behave like the spec's NULLs
    rows = [(0, [1.0, 0.0]), (1, None), (2, []), (3, [0.5, 0.5, 0.1]), (4, [2.0, 0.0]),
            (5, [0.5, 0.6])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for thr in (0.9, -2.0):
        brute = {(r.id_a, r.id_b)
                 for r in dedup.embedding_near_dup_pairs_brute(df, threshold=thr).collect()}
        blocked = {(r.id_a, r.id_b)
                   for r in dedup.embedding_near_dup_pairs(df, threshold=thr, n_blocks=3).collect()}
        assert blocked == brute, thr


def test_ivf_lloyd_refinement_improves_recall_and_is_deterministic(spark):
    """Lloyd-refined centroids must raise recall@k vs brute at EQUAL probe
    cost, and be a bit-deterministic pure function of the corpus (fixed
    rounds, content-hash sample, tie-stable assignment)."""
    rng = np.random.RandomState(11)
    centers = rng.randn(8, 16) * 3
    rows, i = [], 0
    for c in range(8):
        for _ in range(50):
            v = centers[c] + rng.randn(16) * 0.3
            rows.append((i, [float(x) for x in v]))
            i += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb.cache()
    q = emb.filter(F.col("vec_id") % 20 == 0)
    brute = {(r.qid, r.id) for r in similarity.brute_force_topk(emb, q, k=5).collect()}

    def recall(li):
        got = {
            (r.qid, r.id)
            for r in similarity.ivf_ann_topk(
                emb, q, k=5, n_centroids=8, n_probe=1, lloyd_iters=li
            ).collect()
        }
        return len(got & brute) / len(brute)

    r0, r2 = recall(0), recall(2)
    assert r2 > r0  # refinement pays at equal probe cost
    assert r2 >= 0.9  # and lands near-exact on cluster-shaped data
    c1 = similarity.ivf_centroids(emb, 8, lloyd_iters=4)
    c2 = similarity.ivf_centroids(emb, 8, lloyd_iters=4)
    assert np.array_equal(c1, c2)  # two builds bit-identical
    emb.unpersist()


def test_ann_operators_survive_degenerate_vectors(spark):
    """Null / null-element / ragged / zero vectors in the corpus must not
    crash the ANN stages: degenerate rows get a null bucket/cell (dropped by
    the equi-join) and valid rows still rank (ADVICE r2 hardening)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, None),
        (3, [0.5, 0.5]),          # ragged
        (4, [0.0, 0.0, 0.0, 0.0]),  # zero-norm
        (5, [0.8, 0.2, 0.0, 0.0]),
        (6, [1.0, None, 0.0, 0.0]),  # null element
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id").isin(0, 2, 3))  # incl. degenerate queries
    # core contract: no stage crash, null/ragged queries yield nothing,
    # valid query still ranks its true neighbors with real cosines.
    # (a null ELEMENT arrives from Arrow as NaN floats -> null cosine rows
    # may trail valid ones; they are excluded from the exactness checks)
    lsh = similarity.lsh_ann_topk(emb, q, dim=4, k=3, num_planes=2).collect()
    assert {r.qid for r in lsh} <= {0}  # null + ragged queries yield nothing
    assert {r.id for r in lsh if r.cos is not None} <= {1, 4, 5, 6}
    ivf = similarity.ivf_ann_topk(emb, q, k=3, n_centroids=2, n_probe=2).collect()
    assert {r.qid for r in ivf} <= {0}
    valid = [r for r in ivf if r.qid == 0 and r.cos is not None]
    assert {r.id for r in valid} >= {1, 5}  # true neighbors found, scored
    # the quantizer build must skip null/ragged rows (not crash) and a
    # zero-norm sampled centroid must not NaN the cell assignment
    cents = similarity.ivf_centroids(emb, 6)
    assert cents.shape[1] == 4 and not np.isnan(cents).any()
    again = similarity.ivf_ann_topk(emb, q, k=3, n_centroids=4, n_probe=1).collect()
    assert {r.qid for r in again} <= {0}


def test_ivf_centroids_dim_is_modal_not_first_row(spark):
    """The quantizer's corpus dim must come from the MODAL vector length,
    not whichever row the content-hash order happens to put first: a ragged
    row that md5-sorts first must neither empty the build nor shrink the
    centroid count below what the valid rows support."""
    import hashlib

    ids = list(range(12))
    ragged_first = min(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    rng = np.random.RandomState(3)
    rows = [
        (i, [0.5, 0.5] if i == ragged_first else [float(x) for x in rng.randn(4)])
        for i in ids
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.ivf_centroids(emb, 4)
    assert cents.shape == (4, 4)  # full count, modal dim — ragged row skipped
    assert np.isfinite(cents).all()


def test_ivf_centroids_nonfinite_filtered_before_limit(spark):
    """ADVICE r3: with lloyd_iters=0 (limit == n_centroids) a NaN/inf/null-
    element vector that md5-sorts into the sampled prefix must be filtered
    BEFORE the limit — skipping it after the collect would silently shrink
    the centroid count below n_centroids while enough finite rows exist."""
    import hashlib

    ids = list(range(12))
    by_hash = sorted(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    bad = {by_hash[0]: float("nan"), by_hash[1]: float("inf"), by_hash[2]: None}
    rng = np.random.RandomState(7)
    rows = [
        (
            i,
            [bad[i], 1.0, 2.0, 3.0]
            if i in bad
            else [float(x) for x in rng.randn(4)],
        )
        for i in ids
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.ivf_centroids(emb, 8, lloyd_iters=0)
    assert cents.shape == (8, 4)  # full count despite 3 bad prefix rows
    assert np.isfinite(cents).all()
    # and the refined build keeps the same guarantee
    cents_l = similarity.ivf_centroids(emb, 8, lloyd_iters=2, sample_size=12)
    assert cents_l.shape == (8, 4) and np.isfinite(cents_l).all()


def test_lang_scores_matches_oracle_on_edges(spark):
    """The shipped explode+InSet lang_scores (one tiny-row shuffle, no
    interpreted HOF) must equal the registered DuckDB oracle on the edges —
    null text (hits NULL, not 0; lang_pred 'und'), blank text (hits 0),
    leading-tab empty tokens, argmax ties, and multi-language mixes — and
    on the sf0.001 corpus."""
    from curator_spark.operators import textanalysis

    rows = [
        (0, None),
        (1, ""),
        (2, "   "),
        (3, "\tthe and of a gibberish"),
        (4, "the la THE La"),  # tie material + case folding
        (5, "der die das aber als du"),
        (6, "zz qq ww"),
        (7, "de de de the the the"),  # es/en tie -> smallest code wins
        (8, "a " * 300 + "el " * 299),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cols = ["doc_id", "hits_de", "hits_en", "hits_es", "hits_fr", "lang_pred"]
    got = {tuple(r) for r in textanalysis.lang_scores(df).select(cols).collect()}
    assert got == _duck_oracle("lang_scores", rows)
    null_row = next(t for t in got if t[0] == 0)
    assert null_row[1:] == (None, None, None, None, "und")
    # and on the real fixture corpus
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got_f = {tuple(r) for r in textanalysis.lang_scores(docs).select(cols).collect()}
    assert got_f == _duck_oracle("lang_scores", docs.select("doc_id", "text").toPandas())


def test_simhash_near_pairs_rejects_uncoverable_radius(spark):
    """c-chunk pigeonhole blocking only guarantees a shared exact chunk for
    hamming <= c - 1; a radius the configured chunk count cannot cover
    would silently LOSE pairs, so the operator must refuse it."""
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_md5_near_pairs(df, max_hamming=4)  # default 4 chunks
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_md5_near_pairs(df, max_hamming=5, n_chunks=5)
    with pytest.raises(ValueError, match="n_chunks"):
        dedup.simhash_md5_near_pairs(df, max_hamming=0, n_chunks=1)
    with pytest.raises(ValueError, match="n_chunks"):
        dedup.simhash_md5_near_pairs(df, max_hamming=3, n_chunks=65)
    # boundary radii stay accepted (hamming <= n_chunks - 1)
    dedup.simhash_md5_near_pairs(df, max_hamming=3).collect()
    dedup.simhash_md5_near_pairs(df, max_hamming=4, n_chunks=5).collect()
    # the xxhash64 variant shares the coverage contract
    sim = dedup.simhash(df)
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_near_pairs(sim, max_hamming=6, n_chunks=6)
    dedup.simhash_near_pairs(sim, max_hamming=6, n_chunks=7).collect()


def test_simhash_blocking_lossless_at_radius_3_to_7(spark):
    """VERDICT r3: the generalized pigeonhole blocking (c near-equal bit
    runs cover hamming <= c - 1, runs may span the hi/lo boundary) must
    lose NO pair vs the all-pairs DuckDB twin — pinned at radius 3 (the
    old 4-chunk layout's territory) through radius 7 on sf0.001."""
    import duckdb

    from curator_spark.queries import _simhash_md5_ctes

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    ham = (
        "bit_count(xor(a.simhash_hi, b.simhash_hi))"
        " + bit_count(xor(a.simhash_lo, b.simhash_lo))"
    )
    counts = {}
    for radius, chunks in ((3, 4), (4, 5), (5, 6), (7, 8)):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.simhash_md5_near_pairs(
                docs, max_hamming=radius, n_chunks=chunks
            ).collect()
        }
        want = {
            tuple(row)
            for row in con.execute(
                f"WITH {_simhash_md5_ctes()} "
                f"SELECT a.doc_id, b.doc_id, CAST({ham} AS INTEGER) "
                f"FROM sim a JOIN sim b ON a.doc_id < b.doc_id "
                f"WHERE {ham} <= {radius}"
            ).fetchall()
        }
        assert got == want
        counts[radius] = len(got)
    # the fixture corpus must actually exercise the widened radii (a vacuous
    # empty==empty pass would pin nothing)
    assert counts[7] > counts[3] >= 1


def test_as_vec_degeneracy_contract():
    """_as_vec is the single shared definition of a usable embedding row;
    pin every degenerate shape it must map to None."""
    from curator_spark.operators.dedup import _as_vec

    assert _as_vec(None) is None
    assert _as_vec([]) is None                      # empty
    assert _as_vec(3.0) is None                     # scalar
    assert _as_vec([[1.0, 2.0]]) is None            # nested
    assert _as_vec(["a", "b"]) is None              # unconvertible
    assert _as_vec([1.0, 2.0], dim=3) is None       # dim mismatch
    # a null ELEMENT is NOT a shape problem: numpy maps None -> NaN and the
    # NaN cosine becomes a SQL null downstream (see the ANN degenerate test)
    nanv = _as_vec([1.0, None, 2.0])
    assert nanv is not None and np.isnan(nanv[1])
    v = _as_vec([1.0, 2.0], dim=2)
    assert v is not None and v.dtype == np.float64 and v.tolist() == [1.0, 2.0]


# ---------------------------------------------------------------------------
# Span-level dedup + repetition signals (r4 additions)
# ---------------------------------------------------------------------------


def test_duplicate_spans_hand_fixture(spark):
    """Planted cross-doc duplicated run: doc A = X(3) + S(10) + Y(2),
    doc B = Z(5) + S(10), doc C unique. With w=8 the shared 8-shingles are
    exactly the 3 windows fully inside S, so each doc reports ONE maximal
    span covering S and nothing else."""
    S = " ".join(f"s{i}" for i in range(10))
    rows = [
        (0, "x1 x2 x3 " + S + " y1 y2"),
        (1, "z1 z2 z3 z4 z5 " + S),
        (2, " ".join(f"u{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_dup_shingles)
        for r in dedup.duplicate_spans(df, w=8).collect()
    }
    # doc 0: S occupies tokens 4..13 -> shingle starts 4,5,6; span 4..13
    # doc 1: S occupies tokens 6..15 -> shingle starts 6,7,8; span 6..15
    assert got == {(0, 4, 13, 3), (1, 6, 15, 3)}


def test_duplicate_spans_gap_splits_islands(spark):
    """Two shared runs separated by an uncovered gap must stay two spans;
    back-to-back coverage (no uncovered token between) merges into one."""
    S1 = " ".join(f"a{i}" for i in range(8))   # exactly one 8-shingle
    S2 = " ".join(f"b{i}" for i in range(8))
    rows = [
        (0, S1 + " gapx gapy gapz " + S2),  # gap of 3 unique tokens
        (1, S1 + " " + S2),                 # back-to-back: spans touch
        (2, S1),                            # second copy of S1
        (3, S2),                            # second copy of S2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dedup.duplicate_spans(df, w=8).collect()
    }
    # doc 0: S1 at 1..8, S2 at 12..19 -> two islands (gap tokens 9..11)
    assert {(0, 1, 8), (0, 12, 19)} <= got
    # doc 1: S1 at 1..8, S2 at 9..16 -> contiguous coverage, ONE island
    assert (1, 1, 16) in got
    assert not any(d == 1 and (a, b) != (1, 16) for d, a, b in got)


def test_duplicate_spans_matches_duckdb_twin_at_w5(spark):
    """The registered oracle pins w=8 at sf0.01 (driver + parity_check);
    this pins a DIFFERENT width on sf0.001 so the operator, not one
    parameterization, is what's verified — and the DuckDB twin below keys
    on the raw shingle STRING, so passing also proves the production
    60-bit-hash keying loses nothing on this corpus."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_dup_shingles)
        for r in dedup.duplicate_spans(docs, w=5).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    toks = (
        "CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) "
        "ELSE regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+') END"
    )
    want = {
        tuple(row)
        for row in con.execute(
            f"""
            WITH t AS (SELECT doc_id, {toks} AS w FROM documents),
            sh AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
                          array_to_string(w[CAST(i AS INTEGER):CAST(i + 4 AS INTEGER)], ' ') AS s
                   FROM t, unnest(range(1, len(w) - 3)) AS u(i) WHERE len(w) >= 5),
            dup AS (SELECT s FROM sh GROUP BY s HAVING min(doc_id) <> max(doc_id)),
            hits AS (SELECT doc_id, pos FROM sh JOIN dup USING (s)),
            i AS (SELECT doc_id, pos,
                         CASE WHEN pos > coalesce(max(pos + 5) OVER (
                                PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                              THEN 1 ELSE 0 END AS brk FROM hits),
            g AS (SELECT doc_id, pos,
                         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM i)
            SELECT doc_id, CAST(min(pos) AS INTEGER), CAST(max(pos) + 4 AS INTEGER),
                   CAST(count(*) AS BIGINT)
            FROM g GROUP BY doc_id, isl
            """
        ).fetchall()
    }
    assert got == want
    assert len(got) >= 10  # non-vacuous on the fixture


def test_repetition_signals_hand_fixture(spark):
    """Hand-computable docs pin every output column of the shipped Arrow
    stage AND of the registered DuckDB oracle (dup_n=3)."""
    from curator_spark.operators import textanalysis

    rows = [
        (0, "a b a b c"),                    # (a b)x2 of 4 2-grams; 3-grams distinct
        (1, "x y z x y z x y z"),            # every 3-gram repeats; full coverage
        (2, "q"),                            # 1 token: no grams at all
        (3, ""),                             # blank: n_words 0, guarded division
        (4, None),                           # null text: n_words NULL, fracs 0.0
        (5, "p q r s p q r"),                # partial overlap: (p q r) at 1,5 -> 3+3 covered of 7
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    shipped = {tuple(r) for r in textanalysis.repetition_signals(df, dup_n=3).collect()}
    for name, out in (("shipped", shipped), ("oracle", _duck_oracle("repetition_signals", rows))):
        got = {r[0]: r[1:] for r in out}  # (n_words, top2, top3, dup)
        assert set(got) == {0, 1, 2, 3, 4, 5}, name
        assert got[0] == (5, 2 / 4, 1 / 3, 0.0), name
        # 2-grams: (x y)x3 of 8; 3-grams: (x y z)x3 of 7; dup-3gram hits at
        # every start 1..7 -> one island covering tokens 1..9 -> 9/9
        assert got[1] == (9, 3 / 8, 3 / 7, 1.0), name
        assert got[2] == (1, 0.0, 0.0, 0.0), name
        assert got[3] == (0, 0.0, 0.0, 0.0), name
        assert got[4] == (None, 0.0, 0.0, 0.0), name
        assert (got[5][0], got[5][3]) == (7, 6 / 7), name


def test_repetition_signals_matches_oracle_on_corpus(spark):
    """The shipped Arrow-batched form must stay bit-identical to the
    registered DuckDB oracle on the real corpus — every column, including
    the long/long division doubles."""
    from curator_spark.operators import textanalysis

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {tuple(r) for r in textanalysis.repetition_signals(docs, dup_n=3).collect()}
    assert a == _duck_oracle("repetition_signals", docs.select("doc_id", "text").toPandas())
    assert len(a) == 500
    assert any(r[4] > 0 for r in a)  # dup coverage non-vacuous on the fixture


def test_domain_cap_hand_fixture(spark):
    """Per-domain quota: cap enforced per registrable host, deterministic
    preference (order_col desc when given, content-hash otherwise), NULL /
    unparseable urls form their own group and never crash."""
    from curator_spark.operators import textanalysis as ta

    rows = [
        (f"https://big.example.org/p{i}", float(i)) for i in range(10)
    ] + [
        ("https://small.example.org/only", 99.0),
        ("HTTPS://Big.EXAMPLE.org/extra", 50.0),   # scheme/host case-folded
        ("not a url at all", 1.0),
        (None, 1.0),
    ]
    df = spark.createDataFrame(rows, "url string, score double")

    capped = ta.domain_cap(df, cap=3, order_col="score").collect()
    by_dom = {}
    for r in capped:
        by_dom.setdefault(r.domain, []).append(r)
    assert len(by_dom["big.example.org"]) == 3
    # preference = score desc: extra(50) + p9(9) + p8(8)
    assert {r.score for r in by_dom["big.example.org"]} == {50.0, 9.0, 8.0}
    assert len(by_dom["small.example.org"]) == 1
    assert len(by_dom[None]) == 2  # null url + unparseable share the NULL group

    # content-hash order (no order_col): still exactly cap rows, and the
    # kept set is stable across re-evaluation (pure function of content)
    a = {r.url for r in ta.domain_cap(df, cap=3).collect()}
    b = {r.url for r in ta.domain_cap(df.repartition(7), cap=3).collect()}
    assert a == b and sum(u is not None and "big" in u.lower() for u in a) == 3

    # reserved names refuse loudly — incl. the OUTPUT name 'domain': a
    # pre-existing 'domain' column would otherwise survive the rename and
    # leave two ambiguous 'domain' columns (round-4 advisor finding)
    for c in ("domain", "_domain", "_rk", "_host"):
        with pytest.raises(ValueError, match="reserves column"):
            ta.domain_cap(df.withColumn(c, F.lit(1)), cap=3)


def test_url_domain_edges(spark):
    from curator_spark.operators import textanalysis as ta

    df = spark.createDataFrame(
        [
            ("https://A.B.c/x?q=1",),
            ("ftp://h0st:8080/f",),       # port stripped (review: it split quota groups)
            ("https://user@h.example.org/p",),  # userinfo stripped
            ("//nope",),
            ("",),
            (None,),
        ],
        "url string",
    )
    got = [r.d for r in df.select(ta.url_domain(F.col("url")).alias("d")).collect()]
    assert got == ["a.b.c", "h0st", "h.example.org", None, None, None]
    # IPv6 literals keep their colons (distinct hosts stay distinct groups)
    # and multi-@ authorities resolve to the post-LAST-@ host (WHATWG)
    df6 = spark.createDataFrame(
        [("https://[2001:db8::1]/x",), ("https://[2001:db8::2]/x",), ("https://a@b@c/x",)],
        "url string",
    )
    got6 = [r.d for r in df6.select(ta.url_domain(F.col("url")).alias("d")).collect()]
    assert got6 == ["[2001:db8::1]", "[2001:db8::2]", "c"]


def test_strip_duplicate_spans_hand_fixture(spark):
    """Keep-one substring dedup: the min-doc owner keeps each duplicated
    span, every other doc loses exactly those token ranges; pass-through
    docs come back whitespace-normalized with n_removed=0; null text stays
    null; deterministic under repartition. Every other input column comes
    back unchanged (a timestamp too) and ``text`` is gone."""
    import datetime

    S = " ".join(f"s{i}" for i in range(10))
    rows = [
        (0, "x1 x2  x3 " + S + " y1 y2"),   # owner (min doc) — double space normalizes
        (1, "z1 z2 z3 z4 z5 " + S),          # loses S (tokens 6..15)
        (2, S + " tail1 tail2"),             # loses S (tokens 1..10)
        (3, " ".join(f"u{i}" for i in range(20))),  # untouched
        (4, None),
        (5, ""),
    ]
    ts0 = datetime.datetime(2024, 3, 31, 1, 30, 0, 123456)
    carried = {d: (ts0 + datetime.timedelta(days=d, microseconds=d), f"src{d}") for d, _ in rows}
    df = spark.createDataFrame(
        [(d, t, *carried[d]) for d, t in rows], "doc_id long, text string, ts timestamp, src string"
    )
    out = dedup.strip_duplicate_spans(df, w=8)
    assert "text" not in out.columns and dict(out.dtypes)["ts"] == "timestamp"
    got = {r.doc_id: r for r in out.collect()}
    assert {d: (r.ts, r.src) for d, r in got.items()} == carried
    assert got[0].text_stripped == "x1 x2 x3 " + S + " y1 y2" and got[0].n_removed == 0
    assert got[1].text_stripped == "z1 z2 z3 z4 z5" and got[1].n_removed == 10
    assert got[2].text_stripped == "tail1 tail2" and got[2].n_removed == 10
    assert got[3].n_removed == 0 and got[3].n_words == 20
    assert got[4].text_stripped is None and got[4].n_words is None
    assert got[5].text_stripped == "" and got[5].n_words == 0
    again = {r.doc_id: r for r in dedup.strip_duplicate_spans(df.repartition(5), w=8).collect()}
    assert {d: (r.text_stripped, r.n_removed) for d, r in got.items()} == {
        d: (r.text_stripped, r.n_removed) for d, r in again.items()
    }


def test_strip_duplicate_spans_corpus_invariants(spark):
    """On the real fixture: every removed token count equals the coverage
    of that doc's removable spans (recomputed independently from
    duplicate_spans' extraction), and each duplicated region survives in
    at least its owner doc."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    stripped = {r.doc_id: r for r in dedup.strip_duplicate_spans(docs, w=8).collect()}
    assert sum(r.n_removed for r in stripped.values()) > 0  # non-vacuous
    # independent recompute of removable coverage in python
    from collections import defaultdict

    from curator_spark.operators.textanalysis import jvm_tokens

    texts = {r.doc_id: r.text for r in docs.collect()}
    owners: dict[tuple, int] = {}
    positions = defaultdict(list)
    for d, t in texts.items():
        toks = jvm_tokens(t)  # the operator's position space, NOT rules.tokens
        for i in range(len(toks) - 7):
            g = tuple(toks[i : i + 8])
            owners[g] = min(owners.get(g, d), d)
            positions[d].append((i, g))
    for d, t in texts.items():
        cover = set()
        for i, g in positions[d]:
            if owners[g] < d:
                cover.update(range(i, i + 8))
        assert stripped[d].n_removed == len(cover), d


def test_span_family_matches_python_model_on_random_corpora(spark):
    """Randomized adversarial check of the whole span family: 12 seeded
    corpora with TINY vocabularies (dense, overlapping, adjacent and
    whole-doc duplication; docs of 0..24 tokens incl. blanks and len<w) are
    batched into ONE DataFrame with per-corpus token prefixes (cross-corpus
    duplication impossible), then duplicate_spans AND strip_duplicate_spans
    run once and every doc is compared against a brute-force python model
    of the contracts (owner sets, interval unions, island merging)."""
    import random

    W = 3
    rng = random.Random(0x5EED)
    rows, all_texts = [], {}
    next_id = 0
    for corpus in range(12):
        vocab = [f"c{corpus}_t{j}" for j in range(rng.randint(3, 6))]
        for _ in range(rng.randint(4, 20)):
            n = rng.choice([0, 1, 2, W - 1, W] + [rng.randint(0, 24) for _ in range(4)])
            text = " ".join(rng.choice(vocab) for _ in range(n))
            rows.append((next_id, text))
            all_texts[next_id] = text
            next_id += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # python model ---------------------------------------------------------
    owners: dict[tuple, set] = {}
    doc_grams: dict[int, list] = {}
    for d, t in all_texts.items():
        toks = t.split()
        grams = [tuple(toks[i : i + W]) for i in range(len(toks) - W + 1)]
        doc_grams[d] = grams
        for g in grams:
            owners.setdefault(g, set()).add(d)

    def islands(hit_positions):  # 0-based starts -> [(start, end_incl, n_hits)]
        out, cur = [], None
        for p in hit_positions:
            if cur is not None and p <= cur[1] + 1:  # pos <= prev end-exclusive
                cur = (cur[0], max(cur[1], p + W - 1), cur[2] + 1)
            else:
                if cur:
                    out.append(cur)
                cur = (p, p + W - 1, 1)
        if cur:
            out.append(cur)
        return out

    want_spans, want_strip = set(), {}
    for d, grams in doc_grams.items():
        dup_pos = [i for i, g in enumerate(grams) if len(owners[g]) >= 2]
        for a, b, c in islands(dup_pos):
            want_spans.add((d, a + 1, b + 1, c))  # operator is 1-based
        rm_pos = [i for i, g in enumerate(grams) if min(owners[g]) < d]
        drop = set()
        for i in rm_pos:
            drop.update(range(i, i + W))
        toks = all_texts[d].split()
        kept = [t for i, t in enumerate(toks) if i not in drop]
        want_strip[d] = (" ".join(kept), len(toks), len(toks) - len(kept))

    got_spans = {
        (r.doc_id, r.span_start, r.span_end, r.n_dup_shingles)
        for r in dedup.duplicate_spans(df, w=W).collect()
    }
    assert got_spans == want_spans
    assert len(got_spans) > 20  # the corpora must actually exercise spans

    got_strip = {
        r.doc_id: (r.text_stripped, r.n_words, r.n_removed)
        for r in dedup.strip_duplicate_spans(df, w=W).collect()
    }
    assert got_strip == want_strip


# Review-caught regressions (round 4): the JVM tokenizer keeps phantom
# empty tokens at leading/trailing non-space whitespace (Spark trim is
# 0x20-only, split limit=-1), and every python twin must mirror THAT, not
# rules.tokens. These pin the repro cases from the review.


def test_jvm_tokens_twin(spark):
    """jvm_tokens must equal words() (the JVM/oracle tokenizer) exactly on
    adversarial input — leading/trailing tabs/newlines/vertical-tabs,
    separator-only strings, unicode whitespace that Java \\s does NOT
    split on."""
    from curator_spark.operators import textanalysis as ta

    cases = ["", " ", "\t", "\n\n", "a b", "\ta b", "a b\n", " a\tb\x0bc ",
             "\r\na  b\f", "x", " x ", " nbsp stays", "a b",
             "one\ttwo\nthree\x0cfour", "\t\n x \n\t"]
    # plus the full adversarial corpus (unicode whitespace, zero-width,
    # combining marks, separator-led/trailed strings)
    cases += [t for _, t in _adversarial_corpus() if t is not None]
    df = spark.createDataFrame([(t,) for t in cases], "text string")
    jvm = [r.w for r in df.select(ta.words(F.col("text")).alias("w")).collect()]
    for t, w in zip(cases, jvm):
        assert ta.jvm_tokens(t) == list(w), repr(t)


def test_strip_duplicate_spans_jvm_token_space(spark):
    """Review repro: a doc whose text starts with a newline has a phantom
    empty token at JVM position 1, so the duplicated run sits at positions
    2..11 — the cut must happen in THAT coordinate space. The old
    rules.tokens cut removed the wrong tokens and left 's0' behind."""
    S = " ".join(f"s{i}" for i in range(10))
    rows = [(0, S), (1, "\n" + S)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.strip_duplicate_spans(df, w=8).collect()}
    assert got[0].text_stripped == S and got[0].n_removed == 0  # owner keeps
    assert got[1].text_stripped == "" and got[1].n_removed == 10
    assert got[1].n_words == 11  # phantom counted in position space
    assert got[1].n_kept_words == 0 and got[0].n_kept_words == 10
    # n_kept_words counts RENDERED words — the phantom never inflates it


def test_repetition_signals_phantom_tokens_match_oracle(spark):
    """Review repro: '\\ta b a b c' has 6 JVM tokens (phantom first); the
    shipped Arrow form must agree with the DuckDB oracle on it."""
    from curator_spark.operators import textanalysis as ta

    rows = [(0, "\ta b a b c"), (1, "a b\n"), (2, "\n\nx y x y\t")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {tuple(r) for r in ta.repetition_signals(df, dup_n=3).collect()}
    assert a == _duck_oracle("repetition_signals", rows)
    r0 = {r[0]: r for r in a}[0]
    assert r0[1] == 6 and r0[2] == 2 / 5 and r0[3] == 1 / 4


def test_repetition_signals_top3_independent_of_dup_n(spark):
    """Review repro: top3_frac is a 3-gram stat for EVERY dup_n — it was
    once computed over dup_n-grams (0.25 instead of 0.2 at dup_n=5).
    dup_n=3 is checked against the DuckDB oracle, dup_n=5 by hand."""
    from curator_spark.operators import textanalysis as ta

    rows = [(0, "a b c d e f a b c d e f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got3 = {tuple(r) for r in ta.repetition_signals(df, dup_n=3).collect()}
    assert got3 == _duck_oracle("repetition_signals", rows)
    r5 = ta.repetition_signals(df, dup_n=5).collect()[0]
    # 2-grams: 11, each once except (a b)..(e f) twice -> 2/11; ('a b c')
    # and peers repeat twice in 10 3-grams; both 5-gram copies cover all 12
    assert tuple(r5) == (0, 12, 2 / 11, 2 / 10, 1.0)
    # and docs shorter than dup_n still get their real top3
    short = spark.createDataFrame([(0, "p q p q")], "doc_id long, text string")
    s5 = ta.repetition_signals(short, dup_n=5).collect()[0]
    assert (s5.top3_frac, s5.dup_frac) == (1 / 2, 0.0)


def test_duplicate_spans_mega_shingle_skew(spark):
    """Boilerplate skew: ONE shingle shared by every doc puts all its hit
    rows in a single h-window partition group — the sort-based window must
    complete (spill path, never an OOM-prone list buffer) and every doc
    must report the span."""
    boiler = " ".join(f"b{i}" for i in range(8))
    n = 5000
    rows = [(i, f"u{i}a u{i}b " + boiler + f" u{i}c") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.duplicate_spans(df, w=8).collect()
    assert len(got) == n
    assert all((r.span_start, r.span_end, r.n_dup_shingles) == (3, 10, 1) for r in got)


def test_census_stage_matches_python_twin(spark):
    """census_stage (JVM regexp_replace census) == rules.char_census per
    class on adversarial texts — the standalone pin for the operator after
    the r5 registry fold moved it into the heuristic_stats query/oracle."""
    from curator_spark import rules
    from curator_spark.operators.heuristics import census_stage

    texts = [
        "",
        "plain English words",
        "digits 0123456789 mixed in",
        "\t \n\r\f\x0b all the whitespace kinds",
        "punct!@#[]`{~}/:;<=>?",
        "نص عربي مع English و 42",
        "других культур λόγος 漢字 mixed scripts",  # all land in other_count
        "edge.case: a-b_c (d) [e] {f} 'g' \"h\"",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    cols = [
        "english_count",
        "arabic_count",
        "digit_count",
        "whitespace_count",
        "punct_symbol_count",
        "other_count",
    ]
    got = {
        r.doc_id: {c: r[c] for c in cols}
        for r in census_stage(df, text_col="text").collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == rules.char_census(t), t


# ---------------------------------------------------------------------------
# Decontamination: cross-corpus w-gram overlap filter (new r5).
# ---------------------------------------------------------------------------

# 15 tokens: a contaminant long enough to yield three 13-gram positions
_DECON_BASE = (
    "the quick brown fox jumps over the lazy dog near the old stone bridge today"
)


def _decon_model(doc_texts, cont_texts, w=13):
    """Brute-force python model of decontaminate(mode='flag'):
    n_hits per doc in jvm_tokens position space."""
    from curator_spark.operators.textanalysis import jvm_tokens

    cont = set()
    for t in cont_texts:
        toks = jvm_tokens(t)
        for i in range(len(toks) - w + 1):
            cont.add(tuple(toks[i : i + w]))
    out = {}
    for k, t in doc_texts.items():
        toks = jvm_tokens(t) if t is not None else []
        out[k] = sum(
            1 for i in range(len(toks) - w + 1) if tuple(toks[i : i + w]) in cont
        )
    return out


def test_decontaminate_flag_matches_python_model(spark):
    from curator_spark.operators.textanalysis import jvm_tokens

    base_toks = _DECON_BASE.split(" ")
    assert len(base_toks) == 15
    cont_texts = [_DECON_BASE, "alpha beta gamma " * 10, "too short"]
    doc_texts = {
        0: _DECON_BASE,  # verbatim benchmark doc: 3 positions, all hits
        1: "intro words here " + _DECON_BASE + " trailing tail",  # embedded quote
        2: " ".join(base_toks[:12]) + " DIVERGES now completely elsewhere",  # 12-token overlap only
        3: "the quick brown fox",  # < w tokens: never contaminated
        4: "\t " + _DECON_BASE,  # leading non-space ws: phantom token shifts positions
        5: "",  # empty
        6: None,  # null text
        7: "alpha beta gamma alpha beta gamma alpha beta gamma alpha beta gamma alpha",
    }
    expect = _decon_model(doc_texts, cont_texts)
    assert expect[0] == 3 and expect[1] >= 1 and expect[2] == 0 and expect[3] == 0
    assert expect[4] >= 1 and expect[7] >= 1  # phantom-shifted + periodic both hit

    docs = spark.createDataFrame(
        [(k, t) for k, t in doc_texts.items()], "doc_id long, text string"
    )
    cont = spark.createDataFrame([(t,) for t in cont_texts], "text string")
    got = {
        r.doc_id: (r.contaminated, r.n_hits)
        for r in dedup.decontaminate(docs, cont, w=13, mode="flag").collect()
    }
    assert got == {k: (v > 0, v) for k, v in expect.items()}

    # phantom check is real: rules-space tokens would NOT shift doc 4
    assert jvm_tokens(doc_texts[4])[0] == ""


def test_decontaminate_drop_is_flag_filter_identity(spark):
    from curator_spark.operators.textanalysis import jvm_tokens

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cont = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    # a contaminated NULL-key row: flagged in flag mode, gone in drop mode
    quoted = next(
        r.text for r in cont.orderBy("doc_id").collect() if r.text and len(jvm_tokens(r.text)) >= 13
    )
    docs = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame([(None, quoted)], "doc_id long, text string")
    )
    flagged = dedup.decontaminate(docs, cont, w=13, mode="flag")
    clean_ids = {r.doc_id for r in flagged.filter(~F.col("contaminated")).collect()}
    dropped = dedup.decontaminate(docs, cont, w=13, mode="drop")
    assert dropped.columns == docs.columns  # schema passthrough
    assert {r.doc_id for r in dropped.collect()} == clean_ids
    # sanity: every contaminant doc LONG ENOUGH to yield a 13-gram is gone
    # (a <13-token contaminant contributes no grams and may survive);
    # survivors exist
    long_cont = {
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text").collect()
        if r.text is not None and len(jvm_tokens(r.text)) >= 13
    }
    assert clean_ids and long_cont and not (long_cont & clean_ids)
    assert flagged.filter(F.col("doc_id").isNull()).first().contaminated
    assert None not in clean_ids

    # broadcast=False (shuffle-join fallback for oversized gram sets) is
    # row-identical
    got = {
        (r.doc_id, r.contaminated, r.n_hits)
        for r in dedup.decontaminate(
            docs, cont, w=13, mode="flag", broadcast=False
        ).collect()
    }
    assert got == {(r.doc_id, r.contaminated, r.n_hits) for r in flagged.collect()}


def test_decontaminate_rejects_bad_mode(spark):
    docs = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dedup.decontaminate(docs, docs, mode="purge")


def test_decontaminate_flag_guards_reserved_output_names(spark):
    # same reserved-output-name class the r4 advisor caught on domain_cap:
    # flag mode must refuse inputs already carrying its output columns
    docs = spark.createDataFrame(
        [(0, "a", 1)], "doc_id long, text string, n_hits long"
    )
    with pytest.raises(ValueError, match="n_hits"):
        dedup.decontaminate(docs, docs.select("doc_id", "text"), mode="flag")
    # drop mode is schema-passthrough and unaffected
    assert dedup.decontaminate(
        docs, docs.select("doc_id", "text"), mode="drop"
    ).columns == ["doc_id", "text", "n_hits"]


def test_decontaminate_matches_python_model_on_random_corpora(spark):
    """Randomized adversarial check of decontaminate: 10 seeded corpora
    with TINY vocabularies (dense overlap between docs and contaminants,
    docs of 0..20 tokens incl. blanks and len<w) batched into ONE
    docs/contaminants DataFrame pair with per-corpus token prefixes
    (cross-corpus gram collision impossible), flag mode compared per doc
    against the brute-force python model, drop mode against its filter."""
    import random

    W = 3
    rng = random.Random(0xDEC0)
    doc_rows, cont_texts = [], []
    doc_texts = {}
    next_id = 0
    for corpus in range(10):
        vocab = [f"c{corpus}_t{j}" for j in range(rng.randint(3, 6))]
        for _ in range(rng.randint(1, 4)):
            cont_texts.append(
                " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12)))
            )
        for _ in range(rng.randint(4, 16)):
            n = rng.choice([0, 1, W - 1, W] + [rng.randint(0, 20) for _ in range(4)])
            t = " ".join(rng.choice(vocab) for _ in range(n))
            doc_rows.append((next_id, t))
            doc_texts[next_id] = t
            next_id += 1
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    cont = spark.createDataFrame([(t,) for t in cont_texts], "text string")

    expect = _decon_model(doc_texts, cont_texts, w=W)
    got = {
        r.doc_id: (r.contaminated, r.n_hits)
        for r in dedup.decontaminate(docs, cont, w=W, mode="flag").collect()
    }
    assert got == {k: (v > 0, v) for k, v in expect.items()}
    assert any(v for v, _ in got.values()) and not all(v for v, _ in got.values())
    dropped = {r.doc_id for r in dedup.decontaminate(docs, cont, w=W, mode="drop").collect()}
    assert dropped == {k for k, v in expect.items() if v == 0}


def test_canonical_url_dedup_keep_rule(spark):
    import datetime as dt

    T = dt.datetime
    rows = [
        # three variants of ONE canonical url — newest ts wins
        ("HTTP://A.com:80/p?utm_source=x", T(2024, 1, 1), "old"),
        ("http://a.com/p", T(2024, 3, 1), "newest"),
        ("http://a.com/p#frag", T(2024, 2, 1), "mid"),
        # ts tie -> lexicographically smallest url wins
        ("http://b.com/q?utm_medium=m", T(2024, 1, 1), "b-utm"),
        ("http://B.com/q", T(2024, 1, 1), "b-plain"),  # canon-equal, smaller? 'http://B...' < 'http://b...'
        # distinct canonical urls pass through
        ("http://c.com/r", T(2024, 1, 1), "c"),
        # NULL url rows have no identity: ALL pass through
        (None, T(2024, 1, 1), "n1"),
        (None, T(2024, 2, 1), "n2"),
        # DEGENERATE urls (canonical form = '') also have no identity and
        # must NOT collapse into one ''-keyed group (r5 review)
        ("", T(2024, 1, 1), "e1"),
        ("   ", T(2024, 1, 1), "e2"),
        ("#a", T(2024, 1, 1), "e3"),
        ("#b", T(2024, 1, 1), "e4"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, tag string")
    got = {r.tag for r in dedup.canonical_url_dedup(df, ts_col="warc_ts").collect()}
    # the keep rule, spelled out: newest ts wins the a-group; ts tie on the
    # b-group -> min url string wins
    assert "newest" in got and "old" not in got and "mid" not in got
    assert ("http://B.com/q" < "http://b.com/q?utm_medium=m") == ("b-plain" in got)
    assert {"c", "n1", "n2", "e1", "e2", "e3", "e4"} <= got and len(got) == 9

    # schema passthrough + determinism under repartition
    assert dedup.canonical_url_dedup(df, ts_col="warc_ts").columns == df.columns
    again = {
        r.tag
        for r in dedup.canonical_url_dedup(df.repartition(7), ts_col="warc_ts").collect()
    }
    assert again == got

    # without ts_col: min url alone decides
    got2 = {r.tag for r in dedup.canonical_url_dedup(df).collect()}
    assert ("HTTP://A.com:80/p?utm_source=x" == min(
        "HTTP://A.com:80/p?utm_source=x", "http://a.com/p", "http://a.com/p#frag"
    )) == ("old" in got2)

    # reserved internal names refused
    with pytest.raises(ValueError):
        dedup.canonical_url_dedup(df.withColumn("_canon", F.lit(1)))


def test_canonical_url_dedup_full_tie_is_deterministic(spark):
    """A full (url, ts) tie between rows with DIFFERENT content must pick
    the same survivor under any partitioning (r5 review: without a
    content tiebreak, row_number falls back to partition-arrival order —
    the domain_cap r4 class)."""
    import datetime as dt

    rows = [
        ("http://t.com/p", dt.datetime(2024, 1, 1), f"content-{i}") for i in range(6)
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, body string")
    winners = set()
    for parts in (1, 3, 7, 32):
        got = dedup.canonical_url_dedup(df.repartition(parts), ts_col="warc_ts").collect()
        assert len(got) == 1
        winners.add(got[0].body)
    assert len(winners) == 1, winners  # same survivor at every partitioning
