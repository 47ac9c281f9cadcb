"""URL canonicalization, domain extraction, blocklist filtering, and
RFC 9309 robots.txt semantics (grouping, longest-match, Allow ties)."""

from __future__ import annotations

import pytest

from python_kinesis_streaming_spark.llm.urls import (
    dedup_by_url,
    filter_blocked_domains,
    normalize_url,
    parse_robots_frame,
    registered_domain,
    robots_allowed,
)


def _norm(spark, url):
    df = spark.createDataFrame([(url,)], "u string")
    return df.select(normalize_url("u").alias("n")).collect()[0]["n"]


@pytest.mark.parametrize(
    "raw,want",
    [
        ("HTTP://Example.COM/Path", "http://example.com/Path"),
        ("https://example.com:443/a", "https://example.com/a"),
        ("http://example.com:80/a", "http://example.com/a"),
        ("http://example.com:8080/a", "http://example.com:8080/a"),
        ("http://example.com", "http://example.com/"),
        ("http://example.com/a#frag", "http://example.com/a"),
        (
            "http://example.com/a?utm_source=x&q=1&fbclid=y",
            "http://example.com/a?q=1",
        ),
        (
            "http://example.com/a?b=2&a=1",
            "http://example.com/a?a=1&b=2",
        ),
        (
            "http://example.com/a?utm_source=x",
            "http://example.com/a",
        ),
    ],
)
def test_normalize_url_cases(spark, raw, want):
    assert _norm(spark, raw) == want


def test_registered_domain_two_level_suffixes(spark):
    rows = [
        ("www.example.co.uk",),
        ("a.b.example.com",),
        ("example.com",),
        ("deep.sub.shop.com.au",),
    ]
    df = spark.createDataFrame(rows, "h string")
    got = [
        r["d"]
        for r in df.select(
            registered_domain(df["h"]).alias("d")
        ).collect()
    ]
    assert got == ["example.co.uk", "example.com", "example.com",
                   "shop.com.au"]


def test_dedup_by_url_collapses_tracking_variants(spark):
    df = spark.createDataFrame(
        [
            (1, "http://a.com/x?utm_source=tw"),
            (2, "HTTP://A.com/x"),
            (3, "http://a.com/y"),
        ],
        "id long, url string",
    )
    out = dedup_by_url(df, "url").collect()
    assert len(out) == 2
    assert {r["normalized_url"] for r in out} == {
        "http://a.com/x",
        "http://a.com/y",
    }


def test_filter_blocked_domains(spark):
    urls = spark.createDataFrame(
        [
            (1, "http://spamsite.com/a"),
            (2, "http://sub.spamsite.com/b"),
            (3, "http://fine.org/c"),
        ],
        "id long, url string",
    )
    block = spark.createDataFrame([("SpamSite.com",)], "domain string")
    kept = filter_blocked_domains(urls, "url", block).collect()
    assert [r["id"] for r in kept] == [3]


ROBOTS = """\
# comment
User-agent: *
Disallow: /private/
Allow: /private/ok
Disallow: /tmp/*.bak$

User-agent: goodbot
User-agent: otherbot
Disallow: /goodbot-only/
Disallow:
"""


def _rules(spark):
    df = spark.createDataFrame(
        [("a.com", bytearray(ROBOTS.encode()))], "host string, payload binary"
    )
    return parse_robots_frame(df, "host", "payload")


def test_parse_robots_grouping(spark):
    rows = _rules(spark).collect()
    got = {(r["agent"], r["rule"], r["allow"]) for r in rows}
    assert got == {
        ("*", "/private/", False),
        ("*", "/private/ok", True),
        ("*", "/tmp/*.bak$", False),
        ("goodbot", "/goodbot-only/", False),
        ("otherbot", "/goodbot-only/", False),
    }


def test_robots_longest_match_and_allow_tie(spark):
    rules = _rules(spark)
    urls = spark.createDataFrame(
        [
            (1, "http://a.com/private/secret"),   # disallowed
            (2, "http://a.com/private/ok/page"),  # allow is longer → ok
            (3, "http://a.com/public"),           # no rule → ok
            (4, "http://a.com/tmp/x.bak"),        # wildcard+anchor → no
            (5, "http://a.com/tmp/x.bak.txt"),    # $ anchor miss → ok
            (6, "http://b.com/private/secret"),   # no robots host → ok
        ],
        "id long, url string",
    )
    got = {
        r["id"]: r["allowed"]
        for r in robots_allowed(urls, "url", rules, agent="*").collect()
    }
    assert got == {1: False, 2: True, 3: True, 4: False, 5: True, 6: True}


def test_robots_specific_agent_group_excludes_star(spark):
    rules = _rules(spark)
    urls = spark.createDataFrame(
        [
            (1, "http://a.com/private/secret"),  # * group doesn't apply
            (2, "http://a.com/goodbot-only/x"),  # its own group does
        ],
        "id long, url string",
    )
    got = {
        r["id"]: r["allowed"]
        for r in robots_allowed(urls, "url", rules, agent="goodbot").collect()
    }
    assert got == {1: True, 2: False}


def test_dedup_by_url_min_ordinal_wins(spark):
    df = spark.createDataFrame(
        [
            (7, "http://a.com/x?utm_source=tw", 5),
            (8, "HTTP://A.com/x", 2),
            (9, "http://a.com/x", 9),
        ],
        "id long, url string, ordinal long",
    )
    out = dedup_by_url(df, "url").collect()
    assert len(out) == 1
    assert out[0]["id"] == 8  # ordinal 2 beats 5 and 9


def test_robots_duplicate_url_rows_all_survive(spark):
    rules = _rules(spark)
    urls = spark.createDataFrame(
        [
            (1, "http://a.com/private/secret"),
            (2, "http://a.com/private/secret"),  # same URL, distinct row
            (3, "http://a.com/public"),
        ],
        "id long, url string",
    )
    out = robots_allowed(urls, "url", rules, agent="*").collect()
    assert len(out) == 3  # row count preserved for duplicate URLs
    got = {r["id"]: r["allowed"] for r in out}
    assert got == {1: False, 2: False, 3: True}


def test_robots_query_string_rules_match(spark):
    robots = (
        "User-agent: *\n"
        "Disallow: /*?sessionid=\n"
    )
    df = spark.createDataFrame(
        [("q.com", bytearray(robots.encode()))],
        "host string, payload binary",
    )
    rules = parse_robots_frame(df, "host", "payload")
    urls = spark.createDataFrame(
        [
            (1, "http://q.com/page?sessionid=abc"),  # query matches
            (2, "http://q.com/page?id=1"),           # different param
            (3, "http://q.com/page"),                # no query
        ],
        "id long, url string",
    )
    got = {
        r["id"]: r["allowed"]
        for r in robots_allowed(urls, "url", rules, agent="*").collect()
    }
    assert got == {1: False, 2: True, 3: True}
