r"""Canonical-URL normalization — the URL-identity step a web pipeline runs
BEFORE url-keyed dedup/grouping (C4/CCNet dedup by canonical URL; the
reference has no URL ops — like `public_suffix` this is a web-corpus
fidelity op in its own right).

Three pinned-equal forms (the ``functions.public_suffix`` layout):

- ``with_canonical_url(df)`` — SHIPPED staged Spark form (codegen regexp
  chain; see the scale note)
- ``canonical_url_py(s)``  — python twin (the oracle-side unit of reuse)
- ``canonical_url_sql(c)`` — DuckDB expression generator for oracles

Normalization contract (a pure function of the input string; every rule is
deliberately expressible identically in Java regex, RE2 and python re —
end-of-text anchors are ``\z`` / ``$`` / ``\Z`` per engine, never the
newline-sensitive Java ``$``):

1. NULL -> NULL. Fragment stripped FIRST, then leading/trailing ASCII
   SPACES (0x20 only) trimmed — trim-after-strip, so a fragment preceded
   by spaces cannot leave a trailing space behind (idempotence, r5
   fuzz).
2. Fragment = first ``#`` and everything after (``#[\s\S]*`` — the
   class union is engine-independent even where ``\s`` differs). The
   rebuilt output is space-trimmed once more (a cleaned query can expose
   a trailing path space).
3. No ``scheme://`` prefix -> PASSTHROUGH of the trimmed, fragment-less
   string (mailto:, relative paths, garbage: not this function's job).
4. Scheme and host lowercased in ASCII only (``A-Z`` -> ``a-z`` by a
   translate table). Non-ASCII host letters pass through unchanged — no
   IDNA, no Unicode case folding: Java and python ``lower`` map ``İ`` to
   two chars (Java's also follows the JVM default locale) where DuckDB
   folds it to ``i``, so only the ASCII map is equal in every engine. Authority: userinfo
   stripped through the LAST ``@`` (``^[\s\S]*@`` greedy — the WHATWG
   rule; a first-@ strip is not idempotent when garbage authorities carry
   more ``@``s), then ONE trailing-run strip per scheme: for http/https
   the run of MIXED default-port and dot tokens (``((:80)|\.)+`` /
   ``((:443)|\.)+``), for other schemes trailing dots only — a single
   mixed strip, because alternating two passes ('x:80.' exposes ':80',
   'a.com.:80' exposes '.') is not a fixpoint (r5 review/fuzz). A dot
   behind a NON-default port (``com.:8080``) stays by contract.
5. QUERY ONLY (everything from the first ``?`` — the path is split off
   first, so a legal RFC-3986 ``&`` inside the path is never touched):
   tracking params removed (``utm_*``, ``gclid``, ``fbclid`` —
   ``name=value`` forms only), delimiters re-collapsed, and the trailing
   ``?``/``&`` run dropped INCLUDING interior spaces
   (``[?& ]*[?&] *`` — the outer space-trim would otherwise expose a new
   trailing delimiter, breaking idempotence; r5 fuzz).
6. Empty path+query -> ``/`` (so ``http://x.com`` == ``http://x.com/``);
   a bare query gets the ``/`` prefix. Path case/encoding/&s untouched
   (paths are case-sensitive; percent-decoding is NOT attempted).

Idempotent: canonical output canonicalizes to itself (pinned in
test_url_canonical incl. the multi-dot and path-``&`` classes).

Scale note: pure codegen, no UDF. Every expensive intermediate
(fragment-stripped string, authority, host, query) is staged as its own
projected alias exactly once (CollapseProject preserves non-cheap
multiply-referenced aliases), so the CASE branches reference cheap columns.
Codegen does NOT CSE across CASE branches (the r4 eTLD+1 lesson): the
single-Column form of the same chain re-evaluated each regex chain per
branch reference and measured 9x slower at 4.8M urls (16.8-18.5 s vs
1.9-2.9 s, BENCH.md round-5).
"""

from __future__ import annotations

import re
import string

from pyspark.sql import functions as F

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)"
_HEAD_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*"
_TRACK_RE = r"([?&])(utm_[A-Za-z0-9_]*|gclid|fbclid)=[^&]*"
_COLLAPSE_RE = r"([?&])&+"
# ASCII-only lowercasing (contract point 4): the same A-Z -> a-z map in
# Spark ``translate``, python ``str.translate`` and DuckDB ``translate``
_UP, _LO = string.ascii_uppercase, string.ascii_lowercase
_P_LOWER = str.maketrans(_UP, _LO)


def _lower_ascii(c):
    return F.translate(c, _UP, _LO)


def with_canonical_url(df, url_col: str, out_col: str):
    """SHIPPED form: ``df`` plus ``out_col`` = canonical url of
    ``url_col`` (module contract), pinned value-equal to the python and
    DuckDB twins in test_url_canonical. Every expensive intermediate is
    staged as its own projected alias exactly once (see the scale note).
    Temp columns use the ``_cu_`` prefix and are dropped; an input that
    already has one raises ``ValueError``."""
    tmp = ["_cu_s", "_cu_sch", "_cu_auth", "_cu_rest", "_cu_h0",
           "_cu_host", "_cu_pp", "_cu_q", "_cu_r", "_cu_path"]
    clash = set(tmp) & set(df.columns)
    if clash:
        raise ValueError(f"input already has reserved column(s) {sorted(clash)}")
    u = F.col(url_col)
    d = (
        df.withColumn("_cu_s", F.trim(F.regexp_replace(u, r"#[\s\S]*", "")))
        .withColumn("_cu_sch", _lower_ascii(F.regexp_extract("_cu_s", _SCHEME_RE, 1)))
        .withColumn("_cu_auth", F.regexp_extract("_cu_s", _AUTH_RE, 1))
        .withColumn("_cu_rest", F.regexp_replace("_cu_s", _HEAD_RE, ""))
        .withColumn("_cu_h0", _lower_ascii(F.regexp_replace("_cu_auth", r"^[\s\S]*@", "")))
        .withColumn(
            "_cu_host",
            F.when(F.col("_cu_sch") == "http", F.regexp_replace("_cu_h0", r"((:80)|\.)+\z", ""))
            .when(F.col("_cu_sch") == "https", F.regexp_replace("_cu_h0", r"((:443)|\.)+\z", ""))
            .otherwise(F.regexp_replace("_cu_h0", r"\.+\z", "")),
        )
        .withColumn("_cu_pp", F.regexp_extract("_cu_rest", r"^([^?]*)", 1))
        .withColumn(
            "_cu_q",
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace("_cu_rest", r"^[^?]*", ""),
                        _TRACK_RE,
                        "$1",
                    ),
                    _COLLAPSE_RE,
                    "$1",
                ),
                r"[?& ]*[?&] *\z",
                "",
            ),
        )
        .withColumn("_cu_r", F.concat("_cu_pp", "_cu_q"))
        .withColumn(
            "_cu_path",
            F.when(F.col("_cu_r") == "", F.lit("/"))
            .when(F.col("_cu_r").startswith("?"), F.concat(F.lit("/"), F.col("_cu_r")))
            .otherwise(F.col("_cu_r")),
        )
        .withColumn(
            out_col,
            F.when(u.isNull(), F.lit(None).cast("string")).otherwise(
                F.when(F.col("_cu_sch") == "", F.col("_cu_s")).otherwise(
                    F.trim(F.concat("_cu_sch", F.lit("://"), "_cu_host", "_cu_path"))
                )
            ),
        )
    )
    return d.drop(*tmp)


_P_FRAG = re.compile(r"#[\s\S]*")
_P_SCHEME = re.compile(_SCHEME_RE)
_P_AUTH = re.compile(_AUTH_RE)
_P_HEAD = re.compile(_HEAD_RE)
_P_USER = re.compile(r"^[\s\S]*@")
_P_P80 = re.compile(r"((:80)|\.)+\Z")
_P_P443 = re.compile(r"((:443)|\.)+\Z")
_P_DOT = re.compile(r"\.+\Z")
_P_TRACK = re.compile(_TRACK_RE)
_P_COLLAPSE = re.compile(_COLLAPSE_RE)
_P_TAIL = re.compile(r"[?& ]*[?&] *\Z")
_P_PPART = re.compile(r"^([^?]*)")
_P_QCUT = re.compile(r"^[^?]*")


def canonical_url_py(url: str | None) -> str | None:
    """Python twin — same chain, ``re`` semantics (``\\Z`` = end of text)."""
    if url is None:
        return None
    s = _P_FRAG.sub("", url).strip(" ")
    m = _P_SCHEME.match(s)
    if m is None:
        return s
    lsch = m.group(1).translate(_P_LOWER)
    auth = _P_AUTH.match(s).group(1)
    rest = _P_HEAD.sub("", s, count=1)

    host = _P_USER.sub("", auth, count=1).translate(_P_LOWER)
    if lsch == "http":
        host = _P_P80.sub("", host)
    elif lsch == "https":
        host = _P_P443.sub("", host)
    else:
        host = _P_DOT.sub("", host)

    ppart = _P_PPART.match(rest).group(1)
    qry = _P_QCUT.sub("", rest, count=1)
    q = _P_TRACK.sub(r"\1", qry)
    q = _P_COLLAPSE.sub(r"\1", q)
    q = _P_TAIL.sub("", q)
    r = ppart + q
    path = "/" if r == "" else ("/" + r if r.startswith("?") else r)
    # final trim: a rebuilt path/query may end in spaces the NEXT
    # application's fragment-strip+trim would remove — trim here so the
    # output is a fixpoint (r5 fuzz)
    return f"{lsch}://{host}{path}".strip(" ")


def canonical_url_sql(col: str) -> str:
    """DuckDB expression generator (RE2: ``$`` = end of text, replacement
    backrefs ``\\1``, explicit ``'g'`` for global replace)."""
    s = f"trim(regexp_replace({col}, '#[\\s\\S]*', '', 'g'), ' ')"
    scheme = f"regexp_extract({s}, '{_SCHEME_RE}', 1)"
    lsch = f"translate({scheme}, '{_UP}', '{_LO}')"
    auth = f"regexp_extract({s}, '{_AUTH_RE}', 1)"
    rest = f"regexp_replace({s}, '{_HEAD_RE}', '')"

    host0 = f"translate(regexp_replace({auth}, '^[\\s\\S]*@', ''), '{_UP}', '{_LO}')"
    host = (
        f"CASE WHEN {lsch} = 'http' THEN regexp_replace({host0}, '((:80)|\\.)+$', '') "
        f"WHEN {lsch} = 'https' THEN regexp_replace({host0}, '((:443)|\\.)+$', '') "
        f"ELSE regexp_replace({host0}, '\\.+$', '') END"
    )

    track = _TRACK_RE.replace("'", "''")
    ppart = f"regexp_extract({rest}, '^([^?]*)', 1)"
    qry = f"regexp_replace({rest}, '^[^?]*', '')"
    q1 = f"regexp_replace({qry}, '{track}', '\\1', 'g')"
    q2 = f"regexp_replace({q1}, '{_COLLAPSE_RE}', '\\1', 'g')"
    q3 = f"regexp_replace({q2}, '[?& ]*[?&] *$', '')"
    r3 = f"({ppart} || {q3})"
    path = (
        f"CASE WHEN {r3} = '' THEN '/' "
        f"WHEN {r3} LIKE '?%' THEN '/' || {r3} "
        f"ELSE {r3} END"
    )
    return (
        f"CASE WHEN {col} IS NULL THEN NULL "
        f"WHEN {scheme} = '' THEN {s} "
        f"ELSE trim({lsch} || '://' || {host} || {path}, ' ') END"
    )
