"""Pure per-row rule functions — the single source of truth for row semantics.

Both execution paths import THIS module:

- the Spark stages (``operators/``) apply these functions inside Arrow-batched
  pandas UDFs, and
- the single-node golden oracle (``oracle.py``) applies them with pandas.

so "byte-identical extracted/scrubbed text per url" (BASELINE.json
input_hint) and keep/drop F1 are structural: both sides literally run the
same bytes. This mirrors how the reference pins behavior with recorded
golden cassettes + sha256 hash books
(/root/reference/tests/integrations/test_all.py:24-25, tests/conftest.py:30-50)
— except our expensive operator is deterministic, so no recording is needed.

Everything here must stay a pure function of its arguments (no time, no
randomness, no env) so results are stable under Spark reshuffles/retries
(SURVEY.md §7 "Determinism under reshuffle").
"""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# Tokenization (shared contract with the native-Column and DuckDB versions:
# ASCII-whitespace split of the trimmed, lowercased text; empty -> []).
# ---------------------------------------------------------------------------

_WS_RE = re.compile(r"[ \t\n\r\f\v]+")

# The ONLY ASCII codepoints where str.isspace() is true but _WS_RE does not
# match: the file/group/record/unit separators. Their absence (plus
# all-ASCII) is exactly the condition under which C-level str.split() ==
# strip + ASCII-regex split (str.split also splits on unicode whitespace
# and on \x1c-\x1f; str.strip likewise strips both).
_FS_RE = re.compile(r"[\x1c-\x1f]")
_FS_CHARS = ("\x1c", "\x1d", "\x1e", "\x1f")


def _has_fs(text: str) -> bool:
    """Separator presence via 4 C-level memchr substring scans — ~11x
    cheaper than the equivalent regex char-class scan (equivalence pinned
    in tests against _FS_RE)."""
    return any(c in text for c in _FS_CHARS)


def tokens_spec(text: str) -> list[str]:
    """Reference tokenization: ASCII-whitespace split of the stripped text
    (the semantic spec; tests pin the guarded fast path in ``tokens``
    byte-equal on adversarial + property-generated inputs)."""
    t = text.strip()
    if not t:
        return []
    return _WS_RE.split(t)


def tokens(text: str) -> list[str]:
    """Whitespace tokens — hot path (runs per row inside the fused UDF and
    the single-node oracle alike). For ASCII text without \\x1c-\\x1f
    (virtually every web page), C-level ``str.split()`` replaces the regex
    split (~3x faster); the guard only routes text where the two are
    provably identical, so output is byte-equal to ``tokens_spec``."""
    if text.isascii() and not _has_fs(text):
        return text.split()
    return tokens_spec(text)


# ---------------------------------------------------------------------------
# HTML -> text extraction.
# Analog of the reference's input contract: FineWeb rows arrive pre-extracted
# (/root/reference/examples/custom/download_data.py:14-22); our pages table
# carries raw html (input_hint), so extraction is stage 0. The generator
# (datagen.py) wraps the ground-truth text in exactly one <p>...</p> inside a
# boilerplate shell, so extraction must return that span byte-identically.
# ---------------------------------------------------------------------------


def extract_status(html_bytes: bytes | None) -> tuple[str, str | None]:
    """Extract main text with per-row error capture: (text, error_tag).

    error_tag is None on success, else one of 'null_html' | 'decode_error' |
    'no_marker' — the analog of curator's per-row error rows
    (/root/reference/src/bespokelabs/curator/llm/prompt_formatter.py:129-195,
    request_processor/base_request_processor.py:534-558). Failed rows score
    as empty text (the len rule drops them) AND carry the tag, which the
    runner's ``failed_rows`` view reads back (K3).

    The text is the first match of ``<p>(.*?)</p>`` (DOTALL), found with two
    C-level ``str.find`` calls: the first ``<p>`` and the first ``</p>``
    after it. If that ``<p>`` has no ``</p>`` after it, no later ``<p>``
    has one either, so the regex would not match at all.
    """
    if html_bytes is None:
        return "", "null_html"
    try:
        html = bytes(html_bytes).decode("utf-8")
    except UnicodeDecodeError:
        return "", "decode_error"
    i = html.find("<p>")
    j = html.find("</p>", i + 3) if i >= 0 else -1
    if j < 0:
        return "", "no_marker"
    return html[i + 3 : j], None


def extract_text(html_bytes: bytes | None) -> str:
    """Extract main text: content of the first <p>...</p> element ("" for
    undecodable/markerless documents — see extract_status for the tagged
    variant)."""
    return extract_status(html_bytes)[0]


# ---------------------------------------------------------------------------
# Char-class census. Behavioral parity with the reference's
# examples/custom/utils.py:4-36 (count_char_types): English letters, Arabic
# block, digits, whitespace, punctuation/symbol, other-script letters.
# Implemented as one regex count per class (vectorizable; also expressible as
# native Spark columns — operators/heuristics.py keeps the native variant).
# ---------------------------------------------------------------------------

_CENSUS_PATTERNS = {
    "english_count": re.compile(r"[A-Za-z]"),
    "arabic_count": re.compile(r"[؀-ۿݐ-ݿࢠ-ࣿ]"),
    "digit_count": re.compile(r"[0-9]"),
    "whitespace_count": re.compile(r"[ \t\n\r\f\v]"),
    # ASCII punctuation & symbols (reference uses unicodedata category P*/S*;
    # our corpora are ASCII-dominant so this class is the ASCII P/S set).
    "punct_symbol_count": re.compile(r"[!-/:-@\[-`{-~]"),
}


def char_census(text: str) -> dict[str, int]:
    counts = {k: len(p.findall(text)) for k, p in _CENSUS_PATTERNS.items()}
    counted = sum(counts.values())
    counts["other_count"] = len(text) - counted
    return counts


# ---------------------------------------------------------------------------
# Language ID — deterministic lexicon + script model (fastText-style linear
# scorer reduced to exact-match features so it is reproducible everywhere).
# The "model" is data (LANG_LEXICONS) broadcast with the job; loaded once per
# executor like the reference's load-once vLLM pattern
# (/root/reference/src/bespokelabs/curator/request_processor/offline/
# vllm_offline_request_processor.py:41-52).
# ---------------------------------------------------------------------------

LANG_LEXICONS: dict[str, frozenset[str]] = {
    "en": frozenset(
        "the a an and or of to in is are was be this that it for on with as "
        "at by from not have has had but they you we he she will can do".split()
    ),
    "fr": frozenset(
        "le la les un une des et ou de dans est sont pour avec que qui ne pas "
        "au aux ce cette il elle nous vous je tu".split()
    ),
    "es": frozenset(
        "el la los las un una y o de en es son para con que no se al lo "
        "este esta por su mi tu nosotros usted".split()
    ),
    "de": frozenset(
        "der die das ein eine und oder von zu im ist sind war für mit als "
        "nicht haben hat aber sie wir er es ich du".split()
    ),
}

_ARABIC_RE = _CENSUS_PATTERNS["arabic_count"]
_CJK_RE = re.compile(r"[一-鿿]")

# Inverted lexicon index: token -> per-language hit counts PACKED into one
# int (32 bits per language). The per-token inner loop then collapses to a
# single dict-get + int add, and the whole vote runs as one C-level
# sum(filter(None, map(get, toks))) pass — measured ~3x faster than the
# tuple-vector form this replaces, with bit-identical scores (integer adds).
# 32 bits per language bounds per-doc hits at 4B (docs are <= ~20k chars).
_LANGS: tuple[str, ...] = tuple(sorted(LANG_LEXICONS))
_TOKEN_PACKED: dict[str, int] = {}
for _li, _lang in enumerate(_LANGS):
    for _tok in LANG_LEXICONS[_lang]:
        _TOKEN_PACKED[_tok] = _TOKEN_PACKED.get(_tok, 0) + (1 << (32 * _li))


_EN_IDX = _LANGS.index("en")
_LANG_RANGE_1 = tuple(range(1, len(_LANGS)))


def langid_token_stats(text: str) -> tuple[str, float, int, int, int]:
    """Predict (lang, conf, en_stop_hits, n_words, n_distinct_lower).
    Script check first (ar/zh), then lexicon vote over word tokens.
    confidence = top_hits / scored_tokens in [0,1]; 0.0 when nothing
    matches (-> 'und').

    The trailing counts ride the tokenization the vote already paid for —
    BYTE-IDENTICAL to ``heuristic_stats``'s stop_hits / n_words / distinct
    lowered-token count (same tokens, same lexicon: lowering never creates
    ASCII whitespace, so tokens(lower(text)) == [lower(t) for t in
    tokens(text)] elementwise). Exposed so the pipeline skips three JVM
    re-tokenizations (stopword alternation regex, split, array_distinct —
    measured ~1.3 s of an 8-core sf0.1 run combined). Computed even for
    script-detected (ar/zh) rows so per-row parity holds everywhere."""
    if not text:
        return "und", 0.0, 0, 0, 0
    script: tuple[str, float] | None = None
    if not text.isascii():  # ASCII text has zero ar/zh hits by definition;
        # the C-level gate skips two full regex scans on the common case
        n_ar = len(_ARABIC_RE.findall(text))
        n_zh = len(_CJK_RE.findall(text))
        n = len(text)
        if n_ar * 2 > n:
            script = ("ar", min(1.0, n_ar / n))
        elif n_zh * 2 > n:
            script = ("zh", min(1.0, n_zh / n))
    toks = tokens(text.lower())  # lower() once; whitespace is case-invariant
    if not toks:
        return (*script, 0, 0, 0) if script else ("und", 0.0, 0, 0, 0)
    voted = _vote_tail(toks)
    if script:
        return (*script, voted[2], voted[3], voted[4])
    return voted


def _vote_tail(toks: list[str]) -> tuple[str, float, int, int, int]:
    """Shared vote tail over already-lowered tokens: (lang, conf,
    en_stop_hits, n_words, n_distinct) — the argmax/confidence logic of
    ``langid_token_stats`` factored out so the batch fast path below cannot
    drift from the spec."""
    n_words = len(toks)
    n_distinct = len(set(toks))
    packed = sum(filter(None, map(_TOKEN_PACKED.get, toks)))
    scores = [(packed >> (32 * i)) & 0xFFFFFFFF for i in range(len(_LANGS))]
    en_hits = scores[_EN_IDX]
    # deterministic argmax: score desc, lang asc (_LANGS sorted; strict >
    # keeps the lowest index on ties — identical to max(key=(score, -i)))
    best_i, best = 0, scores[0]
    for i in _LANG_RANGE_1:
        s = scores[i]
        if s > best:
            best_i, best = i, s
    if best == 0:
        return "und", 0.0, en_hits, n_words, n_distinct
    return _LANGS[best_i], best / n_words, en_hits, n_words, n_distinct


# The 23 str.isspace code points that str.split() splits on but _WS_RE does
# not: \x1c-\x1f and the 19 non-ASCII ones (pinned by an exhaustive test).
_SPLIT_ONLY_WS_RE = re.compile(
    "[\x1c-\x1f\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
)


def langid_token_stats_batch(texts) -> list[tuple[str, float, int, int, int]]:
    """Batch twin of ``langid_token_stats`` (bit-identical, pinned by
    equivalence tests): ONE C-level \\x1c-\\x1f separator scan over the
    concatenated batch replaces a per-row regex gate, and rows of a
    separator-free batch tokenize with inlined ``str.lower().split()``
    (no per-row function-call or gate overhead — the fused UDF's dominant
    per-row cost). A non-ASCII row takes that path only when at most half
    its characters are non-ASCII (so neither script rule can fire) and its
    lowered text holds no whitespace that ``str.split`` splits on and the
    spec does not. Other rows, and separator-bearing batches, fall back to
    the per-row spec path row by row."""
    no_fs = not _has_fs("".join(t for t in texts if t))
    out = []
    for t in texts:
        if not (no_fs and t):
            out.append(langid_token_stats(t))
            continue
        low = t.lower()
        if not t.isascii() and (
            2 * (len(t) - len(t.encode("ascii", "ignore"))) > len(t)
            or _SPLIT_ONLY_WS_RE.search(low) is not None
        ):
            out.append(langid_token_stats(t))
            continue
        # inline of the spec's non-script branch: tokens == lower().split()
        # under the guards above
        toks = low.split()
        if not toks:
            out.append(("und", 0.0, 0, 0, 0))
            continue
        out.append(_vote_tail(toks))
    return out


def langid_with_stop_hits(text: str) -> tuple[str, float, int]:
    lang, conf, hits, _, _ = langid_token_stats(text)
    return lang, conf, hits


def langid(text: str) -> tuple[str, float]:
    """Predict (lang, confidence) — see langid_token_stats."""
    lang, conf, _, _, _ = langid_token_stats(text)
    return lang, conf


# ---------------------------------------------------------------------------
# PII / toxicity scrub. Reference analog: the score-0 criteria of the scoring
# rubric (explicit/harmful content, /root/reference/examples/custom/score.py:
# 25-28) plus deterministic string post-processing (score.py:69-98). Python
# `re` on purpose: Java-regex dialect differences would break byte parity
# (SURVEY.md §7 hard parts), so the scrub runs inside the pandas UDF.
# Order of application is part of the contract: email, phone, ip, ssn,
# then toxicity lexicon.
# ---------------------------------------------------------------------------

SCRUB_PATTERNS: list[tuple[str, re.Pattern, str]] = [
    ("email", re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "<EMAIL>"),
    (
        "phone",
        re.compile(r"(?<!\d)(?:\+?1[-. ])?(?:\(\d{3}\)[-. ]?|\d{3}[-. ])\d{3}[-. ]\d{4}(?!\d)"),
        "<PHONE>",
    ),
    (
        "ip",
        re.compile(r"(?<!\d)(?:\d{1,3}\.){3}\d{1,3}(?!\d)"),
        "<IP>",
    ),
    ("ssn", re.compile(r"(?<!\d)\d{3}-\d{2}-\d{4}(?!\d)"), "<ID>"),
]

# Stand-in lexicon: deterministic placeholder tokens, NOT real slurs — the
# engine's contract is "lexicon-driven masking", the lexicon itself is config.
TOXICITY_LEXICON: tuple[str, ...] = (
    "badword1",
    "badword2",
    "badword3",
    "slurword",
    "hateterm",
)

_TOX_RE = re.compile(
    r"\b(" + "|".join(re.escape(w) for w in TOXICITY_LEXICON) + r")\b",
    re.IGNORECASE,
)


def scrub_text_sequential(text: str) -> tuple[str, dict[str, int]]:
    """Reference implementation: one regex pass per rule (the semantic spec;
    tests assert the guarded fast path below agrees exactly)."""
    counts: dict[str, int] = {}
    out = text
    for name, pat, repl in SCRUB_PATTERNS:
        out, n = pat.subn(repl, out)
        counts[name] = n
    out, n = _TOX_RE.subn("<TOX>", out)
    counts["toxicity"] = n
    return out, counts


# \d, like SCRUB_PATTERNS: Unicode digits (Arabic-Indic, fullwidth) match too.
_DIGIT_RE = re.compile(r"\d")
# Necessary condition for ANY phone match: every alternative of the phone
# pattern ends in \d{3}[-. ]\d{4}. A bare digit gate passes on almost every
# web page (years, counts); this one skips the expensive phone scan unless
# a phone-shaped digit group is actually present.
_PHONE_GATE_RE = re.compile(r"\d{3}[-. ]\d{4}")
# Twins of the phone/ip/ssn patterns led by the lookahead each pattern
# already implies (its first character is one of these), so they match
# exactly the same spans; the lookahead gives sre a first-character set to
# skip ahead with instead of trying the lookbehind at every position.
_PHONE_SCAN_RE = re.compile(r"(?=[+(\d])" + SCRUB_PATTERNS[1][1].pattern)
_IP_SCAN_RE = re.compile(r"(?=\d)" + SCRUB_PATTERNS[2][1].pattern)
_SSN_SCAN_RE = re.compile(r"(?=\d)" + SCRUB_PATTERNS[3][1].pattern)
# casefold(), not lower(): re.IGNORECASE also folds U+017F (long s) onto s,
# and lower() leaves it as is.
_TOX_NEEDLES = tuple(w.casefold() for w in TOXICITY_LEXICON)


def _digit_gate(text: str) -> bool:
    """Whether ``text`` holds a \\d digit: ten C-level memchr scans on
    ASCII text, a regex search otherwise."""
    if text.isascii():
        return any(d in text for d in "0123456789")
    return _DIGIT_RE.search(text) is not None


def _tox_gate(text: str) -> bool:
    """Whether the casefolded text holds a lexicon word: a necessary
    condition for a ``_TOX_RE`` match."""
    return any(map(text.casefold().__contains__, _TOX_NEEDLES))


def scrub_text(text: str) -> tuple[str, dict[str, int]]:
    """Mask PII + toxicity. Returns (scrubbed_text, hits-per-rule).

    Hot path (runs inside the fused pandas UDF for every document): each
    regex pass is gated by a cheap necessary-condition check ('@' for email,
    a digit for phone/ip/ssn, case-folded substring for toxicity), so clean
    pages — the overwhelming majority at web scale — cost a few C-level
    scans instead of six full regex passes. The guards only skip passes
    that provably cannot match, and the phone/ip/ssn passes run the
    lookahead-led twins, so output is byte-identical to
    ``scrub_text_sequential``.
    """
    out = text
    counts = {"email": 0, "phone": 0, "ip": 0, "ssn": 0, "toxicity": 0}
    if "@" in out:
        out, counts["email"] = SCRUB_PATTERNS[0][1].subn("<EMAIL>", out)
    if _digit_gate(out):
        if _PHONE_GATE_RE.search(out) is not None:
            out, counts["phone"] = _PHONE_SCAN_RE.subn("<PHONE>", out)
        if "." in out:
            out, counts["ip"] = _IP_SCAN_RE.subn("<IP>", out)
        if "-" in out:
            out, counts["ssn"] = _SSN_SCAN_RE.subn("<ID>", out)
    if _tox_gate(out):
        out, counts["toxicity"] = _TOX_RE.subn("<TOX>", out)
    return out, counts


# ---------------------------------------------------------------------------
# Heuristic quality rules (Gopher/C4-style). Thresholds are engine config;
# pinned here as the golden contract. The Spark side computes these with
# NATIVE column expressions (operators/heuristics.py) — this python version
# exists for the oracle and must stay semantically identical.
# ---------------------------------------------------------------------------

MIN_CHARS = 50
MAX_CHARS = 20_000
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 12.0
MAX_SYMBOL_RATIO = 0.5
MIN_STOPWORD_DENSITY = 0.01
MAX_REPEATED_LINE_FRAC = 0.30
MAX_DUP_WORD_FRAC = 0.90
MAX_PERPLEXITY = 22.0  # calibrated: clean/marker pages <= ~21, gibberish >= ~24
MIN_LANG_CONF = 0.05
TRUNCATE_CHARS = 10_000  # parity: input['text'][:10_000], score.py:104


def truncate_limit(params_json: str | None) -> int:
    """Per-row truncation override from a generation-params JSON column
    (P2 analog: per-row params override request construction,
    /root/reference/src/bespokelabs/curator/llm/prompt_formatter.py:108-117).
    Missing/invalid params fall back to the global default; values clamp to
    [1, TRUNCATE_CHARS]. Pure function — safe under reshuffle/retry."""
    if not params_json:
        return TRUNCATE_CHARS
    try:
        import json as _json

        k = _json.loads(params_json).get("truncate")
    except (ValueError, AttributeError):
        return TRUNCATE_CHARS
    if not isinstance(k, int) or isinstance(k, bool):
        return TRUNCATE_CHARS
    return max(1, min(k, TRUNCATE_CHARS))

# ASCII punctuation/symbols only — non-Latin *letters* (CJK, Arabic) must not
# count as symbols or the rule penalizes every non-English page.
_SYMBOL_RE = re.compile(r"[!-/:-@\[-`{-~]")


def heuristic_stats(text: str) -> dict[str, float]:
    """Raw per-doc statistics feeding the rule flags."""
    toks = tokens(text)
    n_words = len(toks)
    n_chars = len(text)
    mean_word_len = (sum(len(t) for t in toks) / n_words) if n_words else 0.0
    lower = [t.lower() for t in toks]
    en_lex = LANG_LEXICONS["en"]
    stop_hits = sum(1 for t in lower if t in en_lex)
    stop_density = (stop_hits / n_words) if n_words else 0.0
    n_symbols = len(_SYMBOL_RE.findall(text))
    symbol_ratio = n_symbols / n_words if n_words else 0.0
    lines = [ln for ln in text.split("\n") if ln.strip()]
    repeated_line_frac = (1.0 - len(set(lines)) / len(lines)) if len(lines) > 1 else 0.0
    dup_word_frac = (1.0 - len(set(lower)) / n_words) if n_words else 0.0
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "stop_density": stop_density,
        "symbol_ratio": symbol_ratio,
        "repeated_line_frac": repeated_line_frac,
        "dup_word_frac": dup_word_frac,
    }


_ASCII_WS = " \t\n\r\f\v"  # the _WS_RE class: what tokens() splits on
_ASCII_WS_BYTES = _ASCII_WS.encode()
# what str.strip() removes from ASCII text (bytes.strip() misses \x1c-\x1f)
_ASCII_STRIP_BYTES = bytes(c for c in range(128) if chr(c).isspace())
_SYMBOL_BYTES = bytes(c for c in range(128) if _SYMBOL_RE.match(chr(c)))


def heuristic_counts_batch(texts) -> list[tuple[int, int, int, int]]:
    """Batch twin of the counts behind ``heuristic_stats`` (bit-identical,
    pinned by property tests): per text (tok_chars, n_symbols, n_lines,
    n_distinct_lines), where

    - ``tok_chars`` = sum of token lengths (mean_word_len * n_words);
    - ``n_symbols`` = ASCII punct/symbol code points (symbol_ratio *
      n_words);
    - ``n_lines`` / ``n_distinct_lines`` = lines ``str.strip()`` leaves
      non-empty, and how many of them differ (repeated_line_frac =
      1 - distinct / lines when lines > 1).

    The scoring UDF ships them next to the langid vote's token counts, so
    the JVM heuristics compute only ratios and rules from them.
    ``tokens`` splits the stripped text on ASCII whitespace, and a stripped
    text neither starts nor ends with whitespace, so its tokens' lengths sum
    to its length minus its ASCII-whitespace count: no token list is built.
    ASCII rows take both character counts as C-level ``bytes.translate``
    deletions; other rows count with ``str.count`` and ``_SYMBOL_RE``."""
    out = []
    for t in texts:
        if t.isascii():
            b = t.encode("ascii")
            tok_chars = len(b.strip(_ASCII_STRIP_BYTES).translate(None, _ASCII_WS_BYTES))
            n_symbols = len(b) - len(b.translate(None, _SYMBOL_BYTES))
        else:
            s = t.strip()
            tok_chars = len(s) - sum(map(s.count, _ASCII_WS))
            n_symbols = len(_SYMBOL_RE.findall(t))
        lines = [ln for ln in t.split("\n") if ln.strip()]
        out.append((tok_chars, n_symbols, len(lines), len(set(lines))))
    return out


# Rule ids are the stable names reported in drop_rules / metrics.
RULE_NAMES = (
    "len",
    "mean_word",
    "symbol",
    "stopword",
    "repeated_line",
    "dup_word",
    "perplexity",
    "lang_conf",
    "toxicity",
)


def rule_flags(
    stats: dict[str, float],
    perplexity: float,
    lang_pred: str,
    lang_conf: float,
    tox_hits: int,
) -> dict[str, bool]:
    return {
        "len": stats["n_chars"] < MIN_CHARS or stats["n_chars"] > MAX_CHARS,
        "mean_word": (
            stats["n_words"] > 0
            and (
                stats["mean_word_len"] < MIN_MEAN_WORD_LEN
                or stats["mean_word_len"] > MAX_MEAN_WORD_LEN
            )
        ),
        "symbol": stats["symbol_ratio"] > MAX_SYMBOL_RATIO,
        "stopword": lang_pred == "en" and stats["stop_density"] < MIN_STOPWORD_DENSITY,
        "repeated_line": stats["repeated_line_frac"] > MAX_REPEATED_LINE_FRAC,
        "dup_word": stats["dup_word_frac"] > MAX_DUP_WORD_FRAC,
        "perplexity": perplexity > MAX_PERPLEXITY,
        "lang_conf": lang_conf < MIN_LANG_CONF,
        "toxicity": tox_hits > 0,
    }


# Hard-drop rules force score 0 (analog of the rubric's score-0 class,
# score.py:25-28); soft rules subtract from 5; clip to [0,5] like
# np.clip(int(x),0,5) in examples/custom/predict.py:63 / train_classifier.py:54.
# "len" is hard: an empty/markerless extraction or absurd length is
# incoherent-by-construction and must never be kept (score-0 class).
HARD_RULES = ("toxicity", "perplexity", "symbol", "len")
KEEP_THRESHOLD = 3


def score_and_verdict(flags: dict[str, bool]) -> tuple[int, bool, list[str]]:
    fired = [r for r in RULE_NAMES if flags[r]]
    if any(flags[r] for r in HARD_RULES):
        score = 0
    else:
        score = 5 - len(fired)
    score = max(0, min(5, score))
    keep = score >= KEEP_THRESHOLD
    return score, keep, fired
