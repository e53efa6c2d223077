"""URL canonicalization goldens (functions/urls.py): exact expected
strings per rule — case, ports, fragments, tracking params, param sort,
eTLD+1 with multi-label suffixes."""

import pyspark.sql.functions as F

from osm_pbf2json_spark.functions.urls import (
    canonicalize_url,
    registered_domain,
    url_host,
)

CASES = [
    # (raw, canonical, domain)
    (
        "HTTP://WWW.Shop1.Example.CO.UK:80/items/5?utm_source=feed&b=2&a=1#frag",
        "http://www.shop1.example.co.uk/items/5?a=1&b=2",
        "example.co.uk",
    ),
    (
        "https://media2.example.com:443/x?a=1",
        "https://media2.example.com/x?a=1",
        "example.com",
    ),
    (  # non-default port survives; empty path becomes '/'
        "http://News3.Example.org:8080",
        "http://news3.example.org:8080/",
        "example.org",
    ),
    (  # two-label host: registered domain is the host itself
        "http://example.com/a",
        "http://example.com/a",
        "example.com",
    ),
    (  # :80 NOT stripped for https; gclid/fbclid stripped, empty ? dropped
        "https://a.b.co.jp:80/p?gclid=1&fbclid=2",
        "https://a.b.co.jp:80/p",
        "b.co.jp",
    ),
]


def test_canonicalize_and_domain_goldens(spark):
    df = spark.createDataFrame([(i, c[0]) for i, c in enumerate(CASES)], "i int, url string")
    rows = (
        df.select(
            "i",
            canonicalize_url(F.col("url")).alias("c"),
            registered_domain(url_host(F.col("url"))).alias("d"),
        )
        .orderBy("i")
        .collect()
    )
    for r, (_, want_c, want_d) in zip(rows, CASES):
        assert r["c"] == want_c, (r["i"], r["c"])
        assert r["d"] == want_d, (r["i"], r["d"])


def test_url_functions_are_jvm_only(spark):
    """Canonicalization must stay whole-stage-codegen — no Python eval
    nodes in the executed plan (hot path over 10^12 URLs)."""
    df = spark.createDataFrame([("http://example.com/a?b=1",)], "url string")
    plan = (
        df.select(
            canonicalize_url(F.col("url")),
            registered_domain(url_host(F.col("url"))),
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_canonicalize_malformed_passthrough(spark):
    """URLs that do not match scheme://authority pass through unchanged
    (NOT collapsed to one mangled key), and tracking-param stripping is
    case-insensitive."""
    import pyspark.sql.functions as F

    rows = [
        (1, "foo.bar/page"),
        (2, "mailto:x@y"),
        (3, "//cdn.example.com/z"),
        (4, "http://x.com/p?UTM_SOURCE=feed&a=1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r["doc_id"]: r["c"]
        for r in df.select("doc_id", canonicalize_url(F.col("url")).alias("c")).collect()
    }
    assert got[1] == "foo.bar/page"
    assert got[2] == "mailto:x@y"
    assert got[3] == "//cdn.example.com/z"
    assert got[4] == "http://x.com/p?a=1"


def test_url_canonicalize_never_fails_on_garbage(spark):
    """Adversarial inputs (empty, bare separators, unicode, percent
    escapes, long junk) must canonicalize without raising and without
    producing NULLs — crawl URL columns are untrusted."""
    import pyspark.sql.functions as F

    garbage = [
        "", "://", "http://", "https://?", "#", "?", "http://#f",
        "http://:80", "ftp://h:99999/p", "http://h/p?&&&", "http://h/p?=",
        "näve://høst/påth?ü=1", "http://h/%2e%2e/%2f?a=%20",
        "a" * 500, "http://" + "b" * 300 + ".com/" + "c" * 300,
        "http://h/p?" + "&".join(f"k{i}=v" for i in range(100)) + "#x",
        "HtTp://MiXeD.CaSe:80/P?utm_source=x&UTM_MEDIUM=y",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(garbage)], "i int, url string")
    out = df.select(
        "i",
        canonicalize_url(F.col("url")).alias("c"),
        registered_domain(url_host(F.col("url"))).alias("d"),
    ).collect()
    assert len(out) == len(garbage)
    for r in out:
        assert r["c"] is not None, r
    # idempotency holds on garbage too
    twice = df.select(
        (canonicalize_url(canonicalize_url(F.col("url")))
         == canonicalize_url(F.col("url"))).alias("ok")
    ).collect()
    assert all(r["ok"] for r in twice)
