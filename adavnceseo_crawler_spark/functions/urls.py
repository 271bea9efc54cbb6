"""URL functions: canonicalization (north_star F8/U12), hashing, host/path parts.

The reference normalizes only by prepending a scheme (main.py:96-97) and
resolving relatives (html_parser.py:146); the north_star additionally requires
RFC 3986 canonicalization: scheme+host lowercasing, default-port removal,
fragment stripping, percent-decoding of unreserved characters, dot-segment
removal, and query-param sorting.  ``canonicalize_url`` is the single pure
implementation shared by the vectorized Arrow UDF (engine hot path) and the
pure-Python reference simulator (test oracle), so engine and oracle cannot
drift.
"""

from __future__ import annotations

from urllib.parse import urljoin, urlsplit

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_HEX = set("0123456789abcdefABCDEF")

# binary extensions dropped from discovered links (html_parser.py:27-33)
IGNORED_EXTENSIONS = (
    ".pdf", ".doc", ".docx", ".ppt", ".pptx",
    ".xls", ".xlsx", ".zip", ".rar", ".tar",
    ".gz", ".exe", ".dmg", ".iso", ".img",
    ".jpg", ".jpeg", ".png", ".gif", ".svg",
    ".mp3", ".mp4", ".avi", ".mov", ".wmv",
)
IGNORED_EXT_RE = r"\.(pdf|docx?|pptx?|xlsx?|zip|rar|tar|gz|exe|dmg|iso|img|jpe?g|png|gif|svg|mp3|mp4|avi|mov|wmv)$"


def _norm_percent(s: str) -> str:
    """Percent-decode unreserved chars; uppercase hex of remaining escapes."""
    out = []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch == "%" and i + 3 <= n:
            hexpart = s[i + 1 : i + 3]
            # both chars must be hex digits — int('-1', 16) would "parse"
            if not (hexpart[0] in _HEX and hexpart[1] in _HEX):
                out.append(ch)
                i += 1
                continue
            dec = chr(int(hexpart, 16))
            if dec in _UNRESERVED:
                out.append(dec)
            else:
                out.append("%" + hexpart.upper())
            i += 3
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
    # RFC 3986 §5.2.4
    segs: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if segs and segs[-1] != "":
                segs.pop()
            continue
        segs.append(seg)
    out = "/".join(segs)
    if not out.startswith("/"):
        out = "/" + out
    return out


def canonicalize_url(url: str) -> str | None:
    """RFC 3986-style canonical form; None for non-http(s)/unparseable URLs."""
    if url is None:
        return None
    url = url.strip()
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = (parts.hostname or "").lower()
    if not host:
        return None
    try:
        # .port raises ValueError for non-numeric / out-of-range ports
        # (e.g. "http://h.com:123456/x"); such URLs are unparseable -> None
        port = parts.port
    except ValueError:
        return None
    netloc = host
    if port is not None and not (
        (scheme == "http" and port == 80) or (scheme == "https" and port == 443)
    ):
        netloc = f"{host}:{port}"
    path = _remove_dot_segments(_norm_percent(parts.path)) or "/"
    query = ""
    if parts.query:
        params = sorted(_norm_percent(p) for p in parts.query.split("&") if p)
        query = "&".join(params)
    out = f"{scheme}://{netloc}{path}"
    if query:
        out += f"?{query}"
    return out  # fragment dropped


def resolve_and_canonicalize(base_url: str, href: str) -> str | None:
    """urljoin (html_parser.py:146) then canonicalize."""
    try:
        return canonicalize_url(urljoin(base_url, href))
    except ValueError:
        return None


# ---------------------------------------------------------------------------
# vectorized UDFs (Arrow-batched; no per-row Python in the hot path)
# ---------------------------------------------------------------------------
@F.pandas_udf(T.StringType())
def canonicalize_url_udf(s: pd.Series) -> pd.Series:
    return s.map(canonicalize_url, na_action="ignore")


# ---------------------------------------------------------------------------
# column helpers (JVM-side, codegen'd)
# ---------------------------------------------------------------------------
def normalize_scheme(url: Column) -> Column:
    """F1: prepend https:// when scheme missing (main.py:96-97)."""
    return F.when(
        url.rlike("^https?://"), url
    ).otherwise(F.concat(F.lit("https://"), url))


def url_hash(url: Column) -> Column:
    """F2: sha256 hexdigest of the url (url_frontier.py:55,167)."""
    return F.sha2(url, 256)


def host_col(url: Column) -> Column:
    """F9: netloc host, lowercased (url_frontier.py:91)."""
    return F.lower(F.parse_url(url, F.lit("HOST")))


def path_col(url: Column) -> Column:
    return F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("/"))


def path_depth(path: Column) -> Column:
    """C7: count of non-empty path segments (prioritizer.py:92)."""
    return F.size(F.filter(F.split(path, "/"), lambda x: x != F.lit("")))


def link_keep_predicate(link: Column) -> Column:
    """F6 hygiene on an absolute canonical link: http(s) scheme and no binary
    extension (html_parser.py:140-155).  Anchor/javascript links are already
    rejected by canonicalize (no scheme / non-http scheme)."""
    return (
        link.isNotNull()
        & link.rlike("^https?://")
        & ~F.lower(F.coalesce(F.parse_url(link, F.lit("PATH")), F.lit(""))).rlike(
            IGNORED_EXT_RE
        )
    )


def with_url_parts(df: DataFrame, url: str = "url") -> DataFrame:
    c = F.col(url)
    return (
        df.withColumn("url_hash", url_hash(c))
        .withColumn("host", host_col(c))
        .withColumn("path", path_col(c))
        .withColumn("depth", path_depth(F.col("path")))
    )
