"""URL canonicalization for the Common-Crawl-style page table.

The production input keys rows by `url` (BASELINE.json input_hint), and
every web-scale pipeline needs the same primitives before any
dedup/join touches that key:

- `canonicalize_url`: scheme+host lowercased, default ports stripped,
  fragment dropped, tracking params (utm_*, fbclid, gclid, msclkid)
  removed, remaining query params sorted — so the canonical form is a
  stable equi-join/dedup key.
- `url_host` / `registered_domain`: host and eTLD+1 extraction (small
  embedded multi-label-suffix table — co.uk and friends) for per-domain
  grouping, rate stats and skew handling (hot domains are the classic
  skewed key in crawl corpora: pair with plans.partitioning.salted_join).

Everything is pure Column expressions (JVM, whole-stage codegen) —
regexps + array ops, no Python per row — and every rule is mirrorable
in ANSI-ish SQL (see the `url_canonical` DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

# authority-splitting regex: scheme / host[:port] / path / ?query
_URL_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?"

# tracking params every crawl pipeline strips (lowercase-compared)
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid)="

# common multi-label public suffixes (embedded subset; at production
# scale swap in the full public-suffix list as a broadcast map)
MULTI_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "co.jp", "co.in",
    "com.br", "co.nz", "co.za", "com.mx",
]


def _scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, _URL_RE, 1))


def url_host(url: Column) -> Column:
    """Lowercased host[:port] part of the URL."""
    return F.lower(F.regexp_extract(url, _URL_RE, 2))


def canonicalize_url(url: Column) -> Column:
    """Stable canonical form (see module docstring for the rules).

    URLs that do not match the scheme://authority shape (mailto:,
    protocol-relative //host, bare paths) pass through UNCHANGED —
    mapping them all to one mangled string would make a dedup on the
    canonical form collapse unrelated malformed rows into a single
    survivor."""
    scheme = _scheme(url)
    host = url_host(url)
    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        host.substr(F.lit(1), F.length(host) - F.lit(3)),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        host.substr(F.lit(1), F.length(host) - F.lit(4)),
    ).otherwise(host)
    path = F.regexp_extract(url, _URL_RE, 3)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    rawq = F.regexp_extract(url, _URL_RE, 4)  # includes leading '?' or ''
    params = F.filter(
        F.split(F.regexp_replace(rawq, r"^\?", ""), "&"),
        lambda p: (p != "") & ~F.lower(p).rlike(TRACKING_PARAM_RE),
    )
    q = F.array_join(F.array_sort(params), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return F.when(scheme == "", url).otherwise(canon)


def registered_domain(host: Column) -> Column:
    """eTLD+1 from a host[:port]: strip port and leading www., keep the
    last two labels — or three when the last two form a known
    multi-label suffix."""
    h = F.regexp_replace(host, r":[0-9]+$", "")
    h = F.regexp_replace(h, r"^www\.", "")
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    last3 = F.concat_ws(
        ".", F.element_at(labels, -3), F.element_at(labels, -2), F.element_at(labels, -1)
    )
    suffixes = F.array(*[F.lit(s) for s in MULTI_SUFFIXES])
    return (
        F.when(n <= 2, h)
        .when((n >= 3) & F.array_contains(suffixes, last2), last3)
        .otherwise(last2)
    )

