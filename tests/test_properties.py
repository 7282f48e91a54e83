"""Property-based tests (hypothesis) over the pure row semantics — beyond
the reference's test strategy (SURVEY.md §5: it has none). These pin
invariants that must hold for ANY input at 10^12-document scale, where
every weird byte sequence eventually appears."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from curator_spark import rules
from curator_spark.lm import get_lm

text_strategy = st.text(max_size=400)
bytes_strategy = st.binary(max_size=400)


@settings(max_examples=200, deadline=None)
@given(bytes_strategy)
def test_extract_never_raises_and_returns_str(b):
    out = rules.extract_text(b)
    assert isinstance(out, str)


@settings(max_examples=200, deadline=None)
@given(text_strategy)
def test_langid_contract(t):
    lang, conf = rules.langid(t)
    assert lang in {"en", "fr", "es", "de", "ar", "zh", "und"}
    assert 0.0 <= conf <= 1.0
    if not t.strip():
        assert lang == "und" and conf == 0.0


@settings(max_examples=200, deadline=None)
@given(text_strategy)
def test_scrub_is_idempotent_and_counts_match(t):
    out1, c1 = rules.scrub_text(t)
    out2, c2 = rules.scrub_text(out1)
    # placeholders contain no PII/toxicity -> second pass is a no-op
    assert out2 == out1
    assert all(v == 0 for v in c2.values())
    assert all(v >= 0 for v in c1.values())
    # fast path must equal the sequential spec on arbitrary input
    assert (out1, c1) == rules.scrub_text_sequential(t)


@settings(max_examples=200, deadline=None)
@given(text_strategy)
def test_heuristic_stats_bounds(t):
    s = rules.heuristic_stats(t)
    assert s["n_chars"] == len(t)
    assert s["n_words"] >= 0
    assert 0.0 <= s["stop_density"] <= 1.0
    assert 0.0 <= s["repeated_line_frac"] <= 1.0
    assert 0.0 <= s["dup_word_frac"] < 1.0 or s["n_words"] == 0
    assert s["symbol_ratio"] >= 0.0


@settings(max_examples=200, deadline=None)
@given(text_strategy)
def test_stop_hits_rides_the_langid_vote(t):
    """The pipeline reuses the langid vote's en-hit count for stop_density;
    it must equal the heuristic_stats spec count on ANY input."""
    lang, conf, hits = rules.langid_with_stop_hits(t)
    assert (lang, conf) == rules.langid(t)
    expected = sum(
        1 for tok in rules.tokens(t) if tok.lower() in rules.LANG_LEXICONS["en"]
    )
    assert hits == expected
    stats = rules.heuristic_stats(t)
    if stats["n_words"]:
        assert stats["stop_density"] == hits / stats["n_words"]


@settings(max_examples=200, deadline=None)
@given(st.one_of(st.none(), st.text(max_size=60), st.integers(-100, 20000).map(
    lambda k: '{"truncate": %d}' % k)))
def test_truncate_limit_contract(p):
    lim = rules.truncate_limit(p)
    assert 1 <= lim <= rules.TRUNCATE_CHARS
    if p and p.startswith('{"truncate"'):
        import json

        k = json.loads(p)["truncate"]
        assert lim == max(1, min(k, rules.TRUNCATE_CHARS))


# the extraction spec: the first lazy <p>...</p> match, newlines included
_P_MODEL_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)


@settings(max_examples=200, deadline=None)
@given(bytes_strategy)
def test_extract_status_tags(b):
    text, err = rules.extract_status(b)
    assert err in (None, "decode_error", "no_marker")
    try:
        html = bytes(b).decode("utf-8")
        decodable = True
    except UnicodeDecodeError:
        decodable = False
    if not decodable:
        assert (text, err) == ("", "decode_error")
    elif _P_MODEL_RE.search(html) is None:
        assert (text, err) == ("", "no_marker")
    else:
        assert err is None
    assert rules.extract_text(b) == text
    assert rules.extract_status(None) == ("", "null_html")


def _extract_model(b):
    if b is None:
        return "", "null_html"
    try:
        html = b.decode("utf-8")
    except UnicodeDecodeError:
        return "", "decode_error"
    m = _P_MODEL_RE.search(html)
    return (m.group(1), None) if m else ("", "no_marker")


_MARKER = st.sampled_from(["<p>", "</p>", "<p></p>"])
_FILLER = st.lists(
    st.sampled_from(["x", "\xe9", "\n", "\r\n", "<", ">", "/", "p", "<p", "</p", "p>", "</"]),
    max_size=4,
).map("".join)
# 0-3 markers in any order, each followed by filler
_MARKED = st.tuples(_FILLER, st.lists(st.tuples(_MARKER, _FILLER), max_size=3)).map(
    lambda t: (t[0] + "".join(m + f for m, f in t[1])).encode("utf-8")
)
# an undecodable byte sequence spliced between two marked documents
_UNDECODABLE = st.tuples(
    _MARKED, st.sampled_from([b"\xff", b"\x80", b"\xc3", b"\xed\xa0\x80"]), _MARKED
).map(lambda t: t[0] + t[1] + t[2])


@settings(max_examples=400, deadline=None)
@given(st.one_of(st.none(), _MARKED, _UNDECODABLE))
def test_extract_status_equals_regex_model(b):
    """The two-find fast path must equal the first lazy DOTALL match."""
    assert rules.extract_status(b) == _extract_model(b)


def test_extract_status_marker_edges():
    for b in [b"", b"<p></p>", b"<p>", b"</p>", b"</p><p>", b"<p></p></p>", b"<p>a<p>b</p>",
              b"</p>x<p>y</p>", b"<p>a</p><p>b</p>", b"<p>\n</p>", b"<p>/p>", b"<p></p\xff"]:
        assert rules.extract_status(b) == _extract_model(b), b


@settings(max_examples=100, deadline=None)
@given(text_strategy)
def test_perplexity_finite_nonnegative(t):
    p = get_lm().perplexity(t)
    assert p >= 0.0
    assert p == p  # not NaN
    if len(t) < 3:
        assert p == 0.0


@settings(max_examples=100, deadline=None)
@given(text_strategy)
def test_verdict_clip_and_hard_rules(t):
    lang, conf = rules.langid(t)
    ppl = get_lm().perplexity(t)
    _, counts = rules.scrub_text(t)
    flags = rules.rule_flags(rules.heuristic_stats(t), ppl, lang, conf, counts["toxicity"])
    score, keep, fired = rules.score_and_verdict(flags)
    assert 0 <= score <= 5
    assert keep == (score >= rules.KEEP_THRESHOLD)
    assert set(fired) <= set(rules.RULE_NAMES)
    if any(flags[r] for r in rules.HARD_RULES):
        assert score == 0 and not keep
