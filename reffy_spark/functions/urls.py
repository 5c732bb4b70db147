"""URL kernels: canonicalization, origin grouping, JS-parity encoding.

Semantics mirror the reference crawler (w3c/reffy):

* ``canonicalize_url`` — reference ``canonicalizeUrl``
  (/root/reference/src/postprocessing/annotate-links.js:6-17): http→https,
  fragment strip, ``index.html``/``Overview.html``/``cover.html`` drop,
  whatwg + w3.org/TR multipage → root document, trailing-slash enforcement.
* ``host_group`` — reference ``getOrigin``
  (/root/reference/src/lib/throttled-queue.js:18-37): collapses
  ``*.whatwg.org`` / ``*.github.io`` / ``*.csswg.org|*.css-houdini.org|
  *.fxtf.org`` so per-host politeness serializes on the real server.
* ``encode_uri_component`` — byte-parity shim for JS
  ``encodeURIComponent`` (used by the extractors' fragment building,
  /root/reference/src/browserlib/get-absolute-url.mjs:13-29). Python's
  ``urllib.parse.quote`` differs on ``!'()*`` — we pin the JS table.
* ``url_canon`` — the frontier key: RFC 3986 normalization (lowercase
  scheme/host, default-port drop, uppercase percent-escapes, decode
  unreserved escapes) composed with the reference canonicalization.

Scale design: ``url_canon_col`` is the whole ``url_canon`` as one Column
expression (percent-normalization included, via ``split``/``transform``/
``array_join``), so canonicalization never leaves the JVM; ``url_canon_py``
is its driver-side twin and test oracle (property-tested equal).
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit, urlunsplit

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Python kernels (oracles for the Column kernels; used by tests / the simulator)
# --------------------------------------------------------------------------

# JS encodeURIComponent leaves these unescaped: A-Z a-z 0-9 - _ . ! ~ * ' ( )
_JS_SAFE = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_.!~*'()"
)


# fast paths for encode_uri_component: all-safe strings pass through
# untouched; otherwise one dict lookup per UTF-8 byte
_JS_SAFE_RE = re.compile(r"[A-Za-z0-9_.!~*'()-]*\Z")
_JS_ENC = {
    b: (chr(b) if chr(b) in _JS_SAFE else f"%{b:02X}") for b in range(256)
}


def encode_uri_component(s: str) -> str:
    """Byte-parity reimplementation of JS ``encodeURIComponent``."""
    if _JS_SAFE_RE.match(s):
        return s
    return "".join(map(_JS_ENC.__getitem__, s.encode("utf-8")))


_PCT_RE = re.compile(r"%([0-9a-fA-F]{2})")
# RFC 3986 unreserved characters — safe to decode in normalization.
_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_DEFAULT_PORTS = {"http": ":80", "https": ":443"}


def _pct_normalize(s: str) -> str:
    """Uppercase %XX escapes; decode escapes of unreserved characters."""

    def repl(m: re.Match) -> str:
        ch = chr(int(m.group(1), 16))
        return ch if ch in _UNRESERVED else "%" + m.group(1).upper()

    return _PCT_RE.sub(repl, s)


def canonicalize_url_py(url: str) -> str:
    """Reference ``canonicalizeUrl`` semantics, Python (oracle/test side)."""
    u = re.sub(r"^http:", "https:", url).split("#")[0]
    u = u.replace("index.html", "").replace("Overview.html", "").replace("cover.html", "")
    u = re.sub(r"spec\.whatwg\.org/.*", "spec.whatwg.org/", u)
    u = re.sub(r"w3\.org/TR/(([^/]+/)+)[^/]+\.[^/]+$", r"w3.org/TR/\1", u)
    u = re.sub(r"w3\.org/TR/([^/]+)$", r"w3.org/TR/\1/", u)
    u = re.sub(r"w3c\.github\.io/([^/]+)$", r"w3c.github.io/\1/", u)
    return u


def url_canon_py(url: str) -> str:
    """Frontier canonical key: RFC 3986 normalize + reference canonicalize.

    The output is stripped: fragment-stripping can expose a trailing
    space from inside a malformed path ("/p #f" → "/p "), and the
    URL-seen set requires canon to be IDEMPOTENT — otherwise a page's
    own canonical URL, re-extracted, would re-enter the frontier
    (property-tested in tests/test_properties.py)."""
    url = url.strip()
    try:
        parts = urlsplit(url)
    except ValueError:
        return canonicalize_url_py(url).strip()
    scheme = parts.scheme.lower()
    netloc = parts.netloc.lower()
    # Drop the ORIGINAL scheme's default port ("http://x:80" → "http://x"),
    # then apply the reference's http→https rewrite, then drop the NEW
    # scheme's default port ("http://x:443" → "https://x:443" → "https://x").
    # Both drops are needed for one-pass idempotence: rewriting first would
    # keep ":80"; dropping only first would leave ":443" for a second pass.
    dp = _DEFAULT_PORTS.get(scheme)
    if dp and netloc.endswith(dp):
        netloc = netloc[: -len(dp)]
    if scheme == "http":
        scheme = "https"
        dp = _DEFAULT_PORTS.get(scheme)
        if dp and netloc.endswith(dp):
            netloc = netloc[: -len(dp)]
    path = _pct_normalize(parts.path)
    query = _pct_normalize(parts.query)
    u = urlunsplit((scheme, netloc, path, query, ""))  # fragment stripped
    return canonicalize_url_py(u).strip()


def host_of_py(url: str) -> str:
    try:
        return urlsplit(url).hostname or ""
    except ValueError:
        return ""


def host_group_py(url: str) -> str:
    """Reference ``getOrigin`` grouping (throttled-queue.js:18-37)."""
    host = host_of_py(url)
    if not host:
        return ""
    if host == "whatwg.org" or host.endswith(".whatwg.org"):
        return "whatwg.org"
    if host == "github.io" or host.endswith(".github.io"):
        return "github.io"
    if (
        host.endswith(".csswg.org")
        or host == "csswg.org"
        or host.endswith(".css-houdini.org")
        or host == "css-houdini.org"
        or host.endswith(".fxtf.org")
        or host == "fxtf.org"
    ):
        return "csswg.org"
    return host


# --------------------------------------------------------------------------
# Column (JVM / codegen) kernels — the distributed hot path
# --------------------------------------------------------------------------


def canonicalize_url_col(url: Column) -> Column:
    """Reference ``canonicalizeUrl`` as a pure Column expression chain."""
    u = F.regexp_replace(url, r"^http:", "https:")
    u = F.split(u, "#").getItem(0)
    u = F.replace(u, F.lit("index.html"), F.lit(""))
    u = F.replace(u, F.lit("Overview.html"), F.lit(""))
    u = F.replace(u, F.lit("cover.html"), F.lit(""))
    # [^\n] is Python's "."; Java's "." also stops at \r, U+0085, U+2028/9
    u = F.regexp_replace(u, r"spec\.whatwg\.org/[^\n]*", "spec.whatwg.org/")
    u = F.regexp_replace(u, r"w3\.org/TR/(([^/]+/)+)[^/]+\.[^/]+$", "w3.org/TR/$1")
    u = F.regexp_replace(u, r"w3\.org/TR/([^/]+)$", "w3.org/TR/$1/")
    u = F.regexp_replace(u, r"w3c\.github\.io/([^/]+)$", "w3c.github.io/$1/")
    return u


# characters Python's ``str.strip()`` removes (``str.isspace``, the last
# is U+3000); Spark's default ``trim`` removes only U+0020
_PY_WS = "".join(c for c in map(chr, range(0x3001)) if c.isspace())
# %XX codes (upper-case hex) of the RFC 3986 unreserved characters
_UNRESERVED_HEX = sorted(f"{ord(c):02X}" for c in _UNRESERVED)


def _pct_normalize_col(s: Column) -> Column:
    """``_pct_normalize`` as a Column: every ``%``-split segment but the
    first that opens with two hex digits is an escape."""

    def seg(p: Column, i: Column) -> Column:
        h = F.upper(F.substring(p, 1, 2))
        esc = F.when(h.isin(_UNRESERVED_HEX), F.decode(F.unhex(h), "US-ASCII"))
        esc = F.concat(esc.otherwise(F.concat(F.lit("%"), h)), F.substring(p, 3, 2**30))
        is_esc = p.rlike("^[0-9a-fA-F]{2}")
        return F.when(i == 0, p).when(is_esc, esc).otherwise(F.concat(F.lit("%"), p))

    return F.array_join(F.transform(F.split(s, "%", -1), seg), "")


def url_canon_col(url: Column) -> Column:
    """``url_canon_py`` as one JVM Column expression, in ``urlsplit``
    order; exact for absolute ``scheme://host`` URLs with no brackets or
    whitespace in the host. Malformed authorities (``[bad``, an empty
    host: ``urlsplit``'s ``ValueError`` fallback or the empty-netloc
    rebuild) are outside the contract. The host is never
    percent-normalized; port drops as in ``url_canon_py``."""
    u = F.translate(F.trim(url, F.lit(_PY_WS)), "\t\r\n", "")
    prefix = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    rest = F.substring(u, F.length(prefix) + F.lit(1), F.lit(2**30))
    rest = F.regexp_replace(F.substring_index(rest, "#", 1), r"^([^?]*)\?\z", "$1")
    rest = F.when(rest.contains("%"), _pct_normalize_col(rest)).otherwise(rest)
    prefix = F.regexp_replace(F.lower(prefix), r"^(http://[^/]*):80\z", "$1")
    prefix = F.regexp_replace(prefix, r"^http://", "https://")
    prefix = F.regexp_replace(prefix, r"^(https://[^/]*):443\z", "$1")
    return F.trim(canonicalize_url_col(F.concat(prefix, rest)), F.lit(_PY_WS))


def with_url_canon(df: DataFrame, url_col: str = "url", out: str = "url_canon") -> DataFrame:
    """Add the canonical-URL key ``out`` (``url_canon_col``), JVM-only."""
    return df.withColumn(out, url_canon_col(F.col(url_col)))


def host_col(url: Column) -> Column:
    """Hostname (lowercased, port stripped) as a Column expression."""
    return F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)", 1))


def host_group_col(url: Column) -> Column:
    """Reference ``getOrigin`` grouping as a Column expression."""
    h = host_col(url)
    return (
        F.when((h == "whatwg.org") | h.endswith(".whatwg.org"), F.lit("whatwg.org"))
        .when((h == "github.io") | h.endswith(".github.io"), F.lit("github.io"))
        .when(
            (h == "csswg.org")
            | h.endswith(".csswg.org")
            | (h == "css-houdini.org")
            | h.endswith(".css-houdini.org")
            | (h == "fxtf.org")
            | h.endswith(".fxtf.org"),
            F.lit("csswg.org"),
        )
        .otherwise(h)
    )
