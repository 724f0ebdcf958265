"""URL well-formedness — the URI-validity check family.

Reference analog: MULTIMEDIA_URI_INVALID / REFERENCES_URI_INVALID
(api/model/EvaluationType.java:79-80), where the interpreter attempts
``URI.create`` per record. Here: an Arrow-batched pandas UDF wrapping
``urllib.parse`` (vectorized batch transfer, per input_hint), plus a cheap
JVM-side regex pre-filter so the Python path only sees rows the regex can't
already prove valid — at 100 TB the regex alone classifies ~all rows inside
whole-stage codegen and the Arrow batch only carries the residue.
"""

from __future__ import annotations

from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType

from .sqltext import string

#: Conservative fast-path: scheme://host where host is a sane DNS name or
#: IPv4, optional port/path/query/fragment, no whitespace anywhere.
_FAST_VALID_RE = (
    r"^https?://"
    r"([A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?\.)+[A-Za-z]{2,63}"
    r"(:[0-9]{1,5})?"
    r"(/[^\s]*)?$"
)


def _is_well_formed(url: str | None) -> bool:
    if url is None:
        return False
    if any(c.isspace() for c in url) or url == "":
        return False
    try:
        parts = urlsplit(url)
    except ValueError:
        return False
    return parts.scheme in ("http", "https") and bool(parts.netloc) and "." in parts.netloc


def _valid_series(urls: pd.Series) -> pd.Series:
    # explicit comprehension: null-masked (fast-path) rows arrive as None/NaN
    # and must come back False without pandas' object→bool downcast warning
    return pd.Series(
        [_is_well_formed(u) if isinstance(u, str) else False for u in urls],
        index=urls.index,
        dtype=bool,
    )


#: Full-fidelity check (urllib.parse), Arrow-batched.
url_well_formed_udf = F.pandas_udf(_valid_series, returnType=BooleanType())


def url_well_formed(url: str) -> Column:
    """Hybrid validity column over the SQL expression ``url``: JVM regex
    fast-path + urllib residue.

    Catalyst EXTRACTS Python UDFs out of when/otherwise branches and
    evaluates them for every row regardless of the condition, so a naive
    ``when(rlike, True).otherwise(udf(col))`` pays the Python cost on the
    whole table. Instead the UDF input is NULL-MASKED: fast-path rows ship
    as Arrow nulls (a validity bit, not the string) and ``na_action=
    "ignore"`` skips them in Python — only the residue does urllib work.
    The regex and the mask are parsed SQL; only the UDF call and its
    fallback are Column algebra."""
    fast = f"{url} RLIKE {string(_FAST_VALID_RE)}"
    residue = F.expr(f"CASE WHEN NOT {fast} THEN {url} END")
    return F.when(F.expr(fast), F.lit(True)).otherwise(
        F.coalesce(url_well_formed_udf(residue), F.lit(False))
    )


def _canonicalize(url: str | None) -> str | None:
    """Deterministic crawl-URL canonical form: lowercase scheme+host, strip
    default ports and fragments, collapse empty path to '/', sort query
    parameters (stable for duplicate keys). Malformed inputs pass through
    unchanged — canonicalization must never lose the original key."""
    if not isinstance(url, str) or not url:
        return url
    try:
        from urllib.parse import parse_qsl, urlencode, urlsplit, urlunsplit

        p = urlsplit(url)
        if p.scheme not in ("http", "https") or not p.netloc:
            return url
        host = p.hostname.lower() if p.hostname else ""
        if ":" in host:
            # urlsplit().hostname strips the brackets off IPv6 literals;
            # rebuilding netloc without them would emit a malformed URL
            # (http://::1:8080/) and break the never-lose-the-key contract
            host = f"[{host}]"
        port = p.port
        default = (p.scheme == "http" and port == 80) or (
            p.scheme == "https" and port == 443
        )
        netloc = host if (port is None or default) else f"{host}:{port}"
        query = urlencode(sorted(parse_qsl(p.query, keep_blank_values=True)))
        return urlunsplit((p.scheme.lower(), netloc, p.path or "/", query, ""))
    except ValueError:
        return url


def _canonical_series(urls: pd.Series) -> pd.Series:
    return urls.map(_canonicalize, na_action="ignore")


#: Arrow-batched canonical-URL UDF; use upstream of the uniqueness check so
#: trivially-different spellings of one page (port 80, unsorted params,
#: fragments) count as the same key.
canonicalize_url_udf = F.pandas_udf(_canonical_series, returnType=StringType())


def url_host(col: Column) -> Column:
    """Registrable host of the url (JVM-side, for skew diagnostics and
    host-level grouping). Spark's parse_url is strict; fall back to regex."""
    return F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#\s]+)", 1)


#: second-level public suffixes under which registrations happen one label
#: deeper (the high-traffic subset of the Public Suffix List — a full PSL
#: is a data file swap, not a code change; unlisted suffixes degrade to
#: the 2-label default, never crash)
MULTI_LEVEL_TLDS: tuple[str, ...] = (
    "ac.uk", "co.uk", "gov.uk", "org.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "co.nz", "co.in", "co.kr", "co.za",
    "com.ar", "com.br", "com.cn", "com.mx", "com.sg", "com.tr", "com.tw",
)


def registered_domain(url: Column) -> Column:
    """eTLD+1 registrable domain of a url — the grain crawl politeness,
    per-site quotas, and join-key salting decisions operate at (one HOST
    can hide thousands of vhosts; one REGISTERED DOMAIN is one owner).
    ``www.news.bbc.co.uk`` → ``bbc.co.uk``; ``sub.example.com`` →
    ``example.com``; IPv4 literals and single-label hosts pass through;
    no-host inputs → NULL. Pure Column algebra (split + suffix-list
    membership), zero UDFs, codegen-fused."""
    host = F.lower(url_host(url))
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    last3 = F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2),
        F.element_at(parts, -1),
    )
    is_ip = host.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
    multi = F.array(*[F.lit(t) for t in MULTI_LEVEL_TLDS])
    return (
        F.when(host == "", F.lit(None).cast("string"))
        .when(is_ip, host)
        .when((n >= 3) & F.array_contains(multi, last2), last3)
        .when(n >= 2, last2)
        .otherwise(host)
    )


# --- IDN / homoglyph spoof flags -------------------------------------------
# Regex constructs restricted to what Java regex and RE2 read identically
# (literal UTF-8 chars, [.], alternation — the outlink-extraction
# discipline), so the DuckDB oracle replays the DETECTION, not a fixture.

#: Cyrillic (U+0400–U+04FF) + Greek-and-Coptic (U+0370–U+03FF) — the two
#: blocks carrying the classic Latin-lookalike homoglyphs (а е о р с х,
#: ο ν α ...). A full Unicode-confusables table is a data swap, not a
#: code change.
_CONFUSABLE_CLASS = "Ѐ-ӿͰ-Ͽ"

#: a DNS label that MIXES basic-Latin letters with confusable-block
#: letters — one label, both scripts, either order (pure-Cyrillic labels
#: are legitimate IDNs and do NOT match)
_MIXED_LABEL_RE = (
    "(^|[.])[^.]*("
    f"[a-z][^.]*[{_CONFUSABLE_CLASS}]|[{_CONFUSABLE_CLASS}][^.]*[a-z]"
    ")"
)


def host_punycode(host: Column) -> Column:
    """True when any DNS label is an ACE/punycode label (starts with
    ``xn--`` AT the label boundary — ``axn--b`` does not count)."""
    return host.rlike("(^|[.])xn--")


def host_mixed_script(host: Column) -> Column:
    """True when one label mixes Latin letters with Cyrillic/Greek
    confusables — the paypаl-with-Cyrillic-а spoof shape. Lowercase the
    host first (both engines agree on the basic-plane 1:1 mappings)."""
    return host.rlike(_MIXED_LABEL_RE)


def host_non_ascii(host: Column) -> Column:
    """True when the host carries ANY non-ASCII byte — the broad reviewer
    feed (legitimate IDNs included), vs the targeted mixed-script flag."""
    return host.rlike("[^\\x00-\\x7f]")
