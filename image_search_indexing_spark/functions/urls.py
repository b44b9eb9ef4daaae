"""URL kernels: canonicalization (SURT), hashing, tokenization, resolution.

Reference semantics (cited ``file:line`` under ``/root/reference/src/main/java/
pt/arquivo/imagesearch/indexing/``):

- ``toSURT``: ``utils/WARCInformationParser.java:55-76`` — ``data:``/``hash:``
  URLs pass through; strip leading ``//`` | ``https://`` | ``http://``; strip
  one leading ``www.``/``ww2.``/``ww3.``; then SURT transform
  ``host/path -> (tldN,...,tld1,)/path`` (host lowercased, dot-segments
  reversed and comma-joined, optional ``:port`` kept as the last element).
- URL tokens: ``utils/ImageSearchIndexingUtil.java:296-310`` — URL-decoded
  string split on punctuation runs ``[\\p{Punct}\\x08]+`` joined by spaces;
  ``hash:`` URLs tokenize to ``''``.
- ``md5ofString``: ``utils/ImageSearchIndexingUtil.java:55-57`` — MD5 hex.
- Archive timestamps: ``utils/WARCInformationParser.java:37-47`` —
  ``yyyyMMddHHmmss`` with 12-digit inputs right-padded ('00' seconds) and
  16-digit inputs truncated.

Design: every kernel here is a **built-in Column expression** (JVM-side,
whole-stage-codegen'd, filter-pushdown friendly) — UDFs are the slow path.
A vectorized pandas-UDF twin of ``toSURT`` exists for parity checks and for
callers that need a Python hook (``to_surt_udf``); it is Arrow-batched with
pandas string ops, never per-row Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Java \p{Punct} (ASCII punctuation) plus \b (backspace) as in
# ImageSearchIndexingUtil.java:46 SPLIT_PATTERN.
_PUNCT_RUN = r"[!-/:-@\[-`{-~\x08]+"

_SCHEME_RE = r"^(https?:)?//"
_WWW_RE = r"^ww[w23]\."


def strip_scheme_www(url: Column) -> Column:
    """Scheme + www/ww2/ww3 stripping (WARCInformationParser.java:58-70)."""
    return F.regexp_replace(F.regexp_replace(url, _SCHEME_RE, ""), _WWW_RE, "")


def surt(url: Column) -> Column:
    """Canonical SURT form of a URL, as a pure built-in expression.

    ``data:`` / ``hash:`` URLs pass through unchanged
    (WARCInformationParser.java:56-57); empty/blank input passes through
    (``:71-72``). Otherwise ``(tldN,...,tld1,)/path`` with host lowercased
    and an optional ``:port`` carried as the final host element.
    """
    stripped = strip_scheme_www(url)
    hostport = F.regexp_extract(stripped, r"^([^/]*)", 1)
    host = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    port = F.regexp_extract(hostport, r"(:[0-9]+)$", 1)  # '' when absent
    path = F.substring(stripped, F.length(hostport) + F.lit(1), F.lit(2**30))
    rev_host = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    surt_form = F.concat(
        F.lit("("),
        rev_host,
        F.when(port == "", F.lit(",")).otherwise(F.concat(F.lit(","), port)),
        F.lit(")"),
        path,
    )
    return (
        F.when(url.startswith("data:") | url.startswith("hash:"), url)
        .when(F.trim(stripped) == "", stripped)
        .otherwise(surt_form)
    )


def url_host(url: Column) -> Column:
    """Politeness/grouping key: lowercased host (scheme/www-stripped, no port)."""
    stripped = strip_scheme_www(url)
    return F.lower(F.regexp_extract(stripped, r"^([^/:]*)", 1))


def url_hash(url: Column) -> Column:
    """MD5 hex of the (canonical) URL — the seen-set / dedup key.

    ImageSearchIndexingUtil.java:55-57 (md5ofString), applied to image and
    page URLs at ImageInformationExtractor.java:256,360,385.
    """
    return F.md5(url)


def url_ext(url: Column) -> Column:
    """Lowercased trailing ``.ext`` of a URL before any query/fragment
    ('' when none) — the key of the ``<a>`` gate and of the reported-MIME
    lookup."""
    return F.lower(F.regexp_extract(url, r"\.([A-Za-z0-9]+)(?:[?#].*)?$", 1))


def url_tokens(url: Column) -> Column:
    """URL decoded then punctuation-split into a space-joined token string.

    ImageSearchIndexingUtil.java:296-310: ``hash:`` URLs -> ``''``; else
    URL-decode (tolerant: undecodable input used as-is via try_url_decode)
    and collapse punctuation runs to single spaces, trimmed.
    """
    decoded = F.coalesce(F.try_url_decode(url), url)
    toks = F.trim(F.regexp_replace(decoded, _PUNCT_RUN, " "))
    return F.when(url.startswith("hash:"), F.lit("")).otherwise(toks)


def filename_tokens(url: Column) -> Column:
    """Basename of the URL path, punctuation-cleaned (PageImageData.java:252-259)."""
    base = F.regexp_extract(url, r"([^/?#]+)(?:[?#].*)?$", 1)
    decoded = F.coalesce(F.try_url_decode(base), base)
    return F.trim(F.regexp_replace(decoded, _PUNCT_RUN, " "))


def parse_archive_ts(ts: Column) -> Column:
    """``yyyyMMddHHmmss`` (+/- 2 digits) -> timestamp.

    WARCInformationParser.java:37-43: 12-digit input gets seconds '00'
    appended; 16-digit input is truncated to 14.
    """
    fixed = F.rpad(F.substring(ts, 1, 14), 14, "0")
    return F.to_timestamp(fixed, "yyyyMMddHHmmss")


def resolve_url(base: Column, ref: Column) -> Column:
    """Resolve a possibly-relative ``ref`` against page URL ``base``.

    Analog of jsoup's ``StringUtil.resolve`` used at
    ImageInformationExtractor.java:471,603,617 — expressed with built-ins
    (no UDF): absolute/data/hash refs pass through; ``//x`` takes the base
    scheme; ``/x`` is host-absolute; anything else is relative to the base
    path's directory.
    """
    scheme = F.regexp_extract(base, r"^(https?:)", 1)
    scheme = F.when(scheme == "", F.lit("http:")).otherwise(scheme)
    host = F.regexp_extract(base, r"^(?:https?:)?//([^/]*)", 1)
    # directory of the base path, always ending in '/'
    path = F.regexp_extract(base, r"^(?:https?:)?//[^/]*(/[^?#]*)?", 1)
    dirp = F.regexp_replace(F.when(path == "", F.lit("/")).otherwise(path), r"[^/]*$", "")
    origin = F.concat(scheme, F.lit("//"), host)
    return (
        F.when(ref.rlike(r"^(https?:|data:|hash:)"), ref)
        .when(ref.startswith("//"), F.concat(scheme, ref))
        .when(ref.startswith("/"), F.concat(origin, ref))
        .otherwise(F.concat(origin, dirp, ref))
    )


# ---------------------------------------------------------------------------
# Vectorized pandas-UDF twin of `surt` (parity / Python-hook path).
# ---------------------------------------------------------------------------


def _surt_pandas(urls: pd.Series) -> pd.Series:
    """Pandas implementation of `surt` (vectorized string ops, no row loop)."""
    s = urls.fillna("").astype(str)
    passthrough = s.str.startswith(("data:", "hash:"))
    stripped = s.str.replace(_SCHEME_RE, "", regex=True).str.replace(
        _WWW_RE, "", regex=True
    )
    blank = stripped.str.strip() == ""
    hostport = stripped.str.extract(r"^([^/]*)", expand=False).fillna("")
    host = hostport.str.extract(r"^([^:]*)", expand=False).fillna("").str.lower()
    port = hostport.str.extract(r"(:[0-9]+)$", expand=False).fillna("")
    path = stripped.str.replace(r"^[^/]*", "", regex=True)
    rev = host.str.split(".").str[::-1].str.join(",")
    mid = ("," + port).where(port != "", ",")
    out = "(" + rev + mid + ")" + path
    out = out.where(~blank, stripped)
    out = out.where(~passthrough, s)
    return out.where(urls.notna(), None)


to_surt_udf = F.pandas_udf(_surt_pandas, T.StringType())
to_surt_udf.__doc__ = "Arrow-vectorized twin of `surt` (WARCInformationParser.java:55-76)."
