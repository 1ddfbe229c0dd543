"""Golden scalar cases from FIXTURES.md §5 — the reference's
highest-bug-density expressions, tested without I/O."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.functions.scalar import (
    athlete_natural_key,
    normalize_dash_to_null,
    parse_division,
    parse_time_to_seconds,
    split_person_name,
)
from ironman_medallion_lakehouse_spark.plans.silver import (
    INTEGER_COLUMNS,
    TIME_COLUMNS,
    build_silver,
)


def _eval(spark, col, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return [r[0] for r in df.select(col).collect()]


def test_parse_time_golden(spark):
    rows = [("8:06:22",), ("0:03:06",), (None,), ("0:00:00",), ("5:30",), ("0:47:50",)]
    out = _eval(spark, parse_time_to_seconds(F.col("t")), rows, "t string")
    assert out == [29182, 186, None, None, 19800, 2870]


def test_dash_normalize(spark):
    df = spark.createDataFrame([Row(a="-", b="x"), Row(a="1", b="-")])
    out = normalize_dash_to_null(df).collect()
    assert out[0].a is None and out[0].b == "x"
    assert out[1].a == "1" and out[1].b is None


def test_split_name(spark):
    first, last = split_person_name(F.col("n"))
    rows = [("Lucy Charles-Barclay",), ("Ironman",), ("Jan Van Der Berg",), ("Jan\tBerg",)]
    df = spark.createDataFrame(rows, "n string").select(
        first.alias("f"), last.alias("l")
    )
    out = [(r.f, r.l) for r in df.collect()]
    assert out[0] == ("Lucy", "Charles-Barclay")
    assert out[1] == ("Ironman", None)
    # reference keeps only the FINAL token as last name
    assert out[2] == ("Jan", "Berg")
    # silver splits on a single space only, as the reference does
    assert out[3] == ("Jan\tBerg", None)


def test_natural_key(spark):
    key = athlete_natural_key(F.col("n"), F.col("c"))
    rows = [("Sam Laidlow", "FR"), ("X", None), ("Lucy-Anne O'Brien", "IE")]
    out = _eval(spark, key, rows, "n string, c string")
    assert out == ["samlaidlow_fr", "x_unknown", "lucyanneobrien_ie"]


def test_parse_division(spark):
    cols = parse_division(F.col("d"))
    df = spark.createDataFrame([("M18-24",), ("FPRO",), ("XC",)], "d string").select(
        cols["gender"].alias("g"),
        cols["is_professional"].alias("p"),
        cols["age_group_start"].alias("s"),
        cols["age_group_end"].alias("e"),
    )
    out = [tuple(r) for r in df.collect()]
    assert out[0] == ("M", False, 18, 24)
    assert out[1] == ("F", True, None, None)
    assert out[2] == ("UNKNOWN", False, None, None)


def test_status_flags(spark):
    """Silver's designation flags (03_silver.ipynb:257-260) on the
    trimmed, uppercased designation. A NULL designation sets every
    flag False, not NULL, and the scraper's "DSQ" spelling sets none:
    the reference checks only "DQ"."""
    cols = [
        "athlete_name", "country", "designation", "division",
        *INTEGER_COLUMNS, *[src for src, _ in TIME_COLUMNS],
    ]
    designations = ["Finisher", "DNF", " dns ", "DQ", "DSQ", None]
    bronze = spark.createDataFrame(
        [
            (f"a{i}", "FR", d, "M18-24", *[None] * (len(cols) - 4))
            for i, d in enumerate(designations)
        ],
        ", ".join(f"{c} string" for c in cols),
    )
    got = {
        r.athlete_name: (r.is_finisher, r.is_dnf, r.is_dns, r.is_dq)
        for r in build_silver(bronze).collect()
    }
    assert got == {
        "a0": (True, False, False, False),
        "a1": (False, True, False, False),
        "a2": (False, False, True, False),
        "a3": (False, False, False, True),
        "a4": (False, False, False, False),
        "a5": (False, False, False, False),
    }


def test_canonical_url_golden_cases(spark):
    """Golden canonicalization cases — each branch exercised: case
    folding (scheme+host only), www./default-port strip (but NOT a
    default port on the wrong scheme), fragment drop, tracking-param
    drop, param sort, trailing-slash strip, interior slashes kept."""
    from pyspark.sql import functions as F

    from ironman_medallion_lakehouse_spark.functions.text import canonical_url

    cases = [
        ("HTTP://WWW.Example.COM:80/Path/?utm_source=x&b=2&a=1#frag",
         "http://example.com/Path?a=1&b=2"),
        ("https://Sub.Example.com:443/p?a=1&utm_campaign=c&z=9",
         "https://sub.example.com/p?a=1&z=9"),
        ("https://example.com/a//deep/page/?fbclid=abc",
         "https://example.com/a//deep/page"),
        ("http://example.com", "http://example.com"),
        ("https://example.com/path?b=2&a=1", "https://example.com/path?a=1&b=2"),
        # default port on the WRONG scheme is a different origin: kept
        ("http://example.com:443/x", "http://example.com:443/x"),
        ("https://example.com/?gclid=zzz", "https://example.com"),
        ("  https://example.com/x  ", "https://example.com/x"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i long, u string")
    got = {r.i: r.c for r in df.select("i", canonical_url("u").alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_strip_html_golden(spark):
    from pyspark.sql import Row

    from ironman_medallion_lakehouse_spark.functions.text import strip_html

    cases = [
        (
            "<html><head><style>p{color:red}</style>"
            "<SCRIPT type='x'>var a=1;\nif(a<2){a++}</SCRIPT></head>"
            "<body><!-- nav\nstuff --><p>Hello &amp; welcome</p>"
            "<a href='x'>world</a>&nbsp;&#39;quoted&#39;</body></html>",
            "Hello & welcome world 'quoted'",
        ),
        ("no markup at all", "no markup at all"),
        ("<p>multi\n  line</p>\t<div>text</div>", "multi line text"),
        ("<noscript>enable js</noscript>real", "real"),
        ("a &lt;tag&gt; literal &quot;q&quot;", 'a <tag> literal "q"'),
    ]
    df = spark.createDataFrame([Row(i=i, t=t) for i, (t, _) in enumerate(cases)])
    got = {r.i: r.s for r in df.select("i", strip_html("t").alias("s")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)
