"""URL canonicalization: hand-checked cases + normalization idempotence."""

from pyspark.sql import functions as F

from grandine_spark.functions.url import (
    registered_domain,
    url_host,
    url_normalize,
    url_port,
)

CASES = [
    # (url, host, reg_domain, normalized)
    ("HTTP://WWW.Example.COM/a/B", "www.example.com", "example.com",
     "http://www.example.com/a/B"),
    ("https://Example.com:443/x", "example.com", "example.com",
     "https://example.com/x"),
    ("http://example.com:80", "example.com", "example.com",
     "http://example.com/"),
    ("http://example.com:8080/p", "example.com", "example.com",
     "http://example.com:8080/p"),
    ("https://example.com:80/p", "example.com", "example.com",
     "https://example.com:80/p"),  # 80 is not https' default → kept
    ("https://u:p@news.bbc.CO.UK/story#frag", "news.bbc.co.uk", "bbc.co.uk",
     "https://news.bbc.co.uk/story"),
    ("http://a.b.c.example.com/?q=1&r=2#x", "a.b.c.example.com", "example.com",
     "http://a.b.c.example.com/?q=1&r=2"),
    ("http://localhost/", "localhost", "localhost", "http://localhost/"),
    ("ftp://Files.Example.org", "files.example.org", "example.org",
     "ftp://files.example.org/"),
    # query preserved byte-for-byte (reordering is not semantics-safe)
    ("http://e.com/p?b=2&a=1", "e.com", "e.com", "http://e.com/p?b=2&a=1"),
    # query directly on the authority: empty path still normalizes to '/'
    # (RFC 3986 §6.2.3 — must collide with the explicit-slash spelling)
    ("http://e.com?page=2", "e.com", "e.com", "http://e.com/?page=2"),
    ("http://e.com/?page=2", "e.com", "e.com", "http://e.com/?page=2"),
]


def test_url_functions_hand_cases(spark):
    df = spark.createDataFrame([(u,) for u, *_ in CASES], "url string")
    h = url_host(F.col("url"))
    got = df.select(
        "url",
        h.alias("host"),
        registered_domain(h).alias("reg"),
        url_normalize(F.col("url")).alias("norm"),
    ).collect()
    by_url = {r.url: r for r in got}
    for url, host, reg, norm in CASES:
        r = by_url[url]
        assert r.host == host, (url, r.host)
        assert r.reg == reg, (url, r.reg)
        assert r.norm == norm, (url, r.norm)


def test_normalize_idempotent_and_collapses_variants(spark):
    variants = [
        "HTTP://A.Example.com:80/x",
        "http://a.example.COM/x",
        "http://u@a.example.com:80/x#top",
    ]
    df = spark.createDataFrame([(u,) for u in variants], "url string")
    norm = df.select(url_normalize(F.col("url")).alias("n"))
    vals = {r.n for r in norm.collect()}
    assert vals == {"http://a.example.com/x"}  # all collide on one key
    # idempotence: normalizing the normalized form is a fixed point
    again = norm.select(url_normalize(F.col("n")).alias("n2")).collect()
    assert {r.n2 for r in again} == vals


def test_port_extraction(spark):
    df = spark.createDataFrame(
        [("http://e.com:8080/p",), ("http://e.com/p",)], "url string"
    )
    got = [r.p for r in df.select(url_port(F.col("url")).alias("p")).collect()]
    assert got == ["8080", ""]


def test_url_filter_reason_rules(spark):
    from grandine_spark.functions.url import url_filter_reason

    cases = [
        (1, "https://ok.example.com/a/b/page.html", None),
        (2, "ftp://files.example.com/x", "scheme"),
        (3, "https://cdn.example.com/img/photo.JPEG", "extension"),
        (4, "https://www.blocked.com/fine/path", "denied_domain"),
        (5, "https://t.example.com" + "/s" * 13, "trap"),
        (6, "https://q.example.com/p?x=" + "y" * 300, "trap"),
        # precedence: scheme beats extension beats domain
        (7, "ftp://blocked.com/a.jpg", "scheme"),
        (8, "https://blocked.com/a.zip", "extension"),
        # extension must be at end of PATH — a query after it still matches
        (9, "https://e.example.com/a.pdf?dl=1", "extension"),
        # .html / unknown extensions pass
        (10, "https://e.example.com/a.xhtml", None),
    ]
    df = spark.createDataFrame([(i, u) for i, u, _ in cases], "id long, url string")
    got = {
        r.id: r.reason
        for r in df.select(
            "id",
            url_filter_reason(F.col("url"), deny_domains=("blocked.com",)).alias(
                "reason"
            ),
        ).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_extract_links_resolution_rules(spark):
    """Every href shape: absolute kept, scheme-relative gains base scheme,
    root-relative/relative resolve against origin/dir, ./ and ../ collapse,
    root-escaping and non-web schemes drop, fragments strip, uppercase <A
    HREF parses, output sorted+distinct."""
    from pyspark.sql import functions as F

    from grandine_spark.functions.url import extract_links

    rows = [
        (1, "http://User:pw@WWW.Ex.COM:8080/d1/d2/page.html",
         '<A HREF="B.HTML">u</A>'
         '<a href="../x/../y.html">y</a>'
         '<a href="./z.html">z</a>'
         '<a data-x="1" href=\'//mirror.net/m\'>m</a>'
         '<a href="HTTPS://Abs.org/P#f">abs</a>'
         '<a href="mailto:a@b.c">mail</a>'
         '<a href="tel:+1555">tel</a>'
         '<a href="/../esc.html">esc</a>'
         '<a data-href="https://fake.example/not-a-link">dh</a>'
         '<a href="p?next=/a/../b&amp;x=./y">q</a>'
         '<a href="?page=2">qo</a>'
         '<a href="B.HTML">dup</a>'),
        (2, "not a url at all",
         '<a href="p.html">p</a><a href="//cdn.net/x">sr</a>'
         '<a href="http://abs.org/ok">abs</a>'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, html string")
    out = {
        r.doc_id: r.links
        for r in df.select(
            "doc_id", extract_links(F.col("html"), F.col("url")).alias("links")
        ).collect()
    }
    assert out[1] == sorted(
        [
            "HTTPS://Abs.org/P",          # absolute kept byte-for-byte (norm is a later pass)
            "http://www.ex.com/d1/d2/B.HTML",
            "http://www.ex.com/d1/y.html",
            "http://www.ex.com/d1/d2/z.html",
            "http://mirror.net/m",
            # data-href is NOT an outlink (delimiter-guarded href regex);
            # the query string survives dot-collapse byte-for-byte
            "http://www.ex.com/d1/d2/p?next=/a/../b&amp;x=./y",
            # query-only href keeps the full base path (RFC 3986 §5.3)
            "http://www.ex.com/d1/d2/page.html?page=2",
        ]
    )
    # unparseable base: scheme-relative and relative candidates DROP (no
    # '://host/p' malformed links); absolute hrefs still pass through
    assert out[2] == ["http://abs.org/ok"]


def test_extract_links_sql_twin_parity(spark):
    """The DuckDB twin returns the identical arrays on a hostile corpus."""
    import duckdb
    from pyspark.sql import functions as F

    from grandine_spark.functions.url import extract_links, extract_links_sql

    rows = []
    shapes = [
        '<a href="/a{i}.html">1</a>',
        "<a href='rel{i}/p.html'>2</a>",
        '<a href="../u{i}/../v{i}/./w.html">3</a>',
        '<a href="//cdn{i}.net/x">4</a>',
        '<a href="http://abs{i}.org/">5</a>',
        '<a href="javascript:void({i})">6</a>',
        '<a href="#s{i}">7</a>',
        '<a href="/deep/../../esc{i}">8</a>',
        '<a data-href="/not-a-link{i}.html">9</a>',
        '<a href="p{i}?next=/a/../b{i}&x=./y">10</a>',
        '<a href="?page={i}">11</a>',
    ]
    for i in range(40):
        html = "".join(s.format(i=i) for s in shapes[: (i % len(shapes)) + 1])
        base = (
            f"https://h{i % 5}.example.org/p{i % 3}/q/base.html"
            if i % 9
            else "no scheme no host"  # unparseable base: twins must agree
        )
        rows.append((i, base, html))
    df = spark.createDataFrame(rows, "doc_id long, url string, html string")
    got = {
        r.doc_id: list(r.links)
        for r in df.select(
            "doc_id", extract_links(F.col("html"), F.col("url")).alias("links")
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", df.toPandas())
    sql = f"SELECT doc_id, {extract_links_sql('html', 'url')} AS links FROM t"
    want = {d: list(ls) for d, ls in con.execute(sql).fetchall()}
    assert got == want


def test_extract_links_sql_twin_fuzz(spark):
    """Randomized parity differ: hrefs assembled from a hostile alphabet
    (dots, slashes, colons, unicode, %-escapes, whitespace) must resolve
    identically in Spark and the DuckDB twin — guards the RE2-vs-Java
    regexp subset the twins share."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    from grandine_spark.functions.url import extract_links, extract_links_sql

    rng = random.Random(271828)
    frag = ["a", "b9", ".", "..", "...", "/", "//", "idx.html", "p%20q",
            "é", "~u", "-", "_", ":", "x:y", "?k=v", "&", "=", "http", "HT"]
    schemes = ["http://", "https://", "HtTp://", "//", "/", "", "javascript:",
               "mailto:", "tel:", "data:"]
    rows = []
    for i in range(120):
        n_links = rng.randint(0, 6)
        parts = []
        for _ in range(n_links):
            href = rng.choice(schemes) + "".join(
                rng.choice(frag) for _ in range(rng.randint(0, 6))
            )
            q = rng.choice(['"', "'"])
            # the opposite quote inside the href would end the attribute in
            # real HTML too — strip it to keep the corpus well-formed
            href = href.replace(q, "")
            parts.append(f"<a href={q}{href}{q}>t</a>")
        html = "<html>" + "".join(parts) + "</html>"
        base = f"https://h{i % 7}.example.org" + rng.choice(
            ["", "/", "/a/", "/a/b.html", "/a/../b/", "/x%20y/p.html"]
        )
        rows.append((i, base, html))
    df = spark.createDataFrame(rows, "doc_id long, url string, html string")
    got = {
        r.doc_id: list(r.links)
        for r in df.select(
            "doc_id", extract_links(F.col("html"), F.col("url")).alias("links")
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", df.toPandas())
    sql = f"SELECT doc_id, {extract_links_sql('html', 'url')} AS links FROM t"
    want = {d: list(ls) for d, ls in con.execute(sql).fetchall()}
    assert got == want
