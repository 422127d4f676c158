"""URL canonicalization (operators/urls.py): crafted vectors, the
idempotence property, and the all-JVM plan contract."""

from pyspark.sql import functions as F

from rex_spark.operators.urls import canonical_url


CASES = [
    # (raw, canonical)
    ("HTTP://Example.COM:80/Path?b=2&a=1#frag",
     "http://example.com/Path?a=1&b=2"),
    ("https://Example.com:443/", "https://example.com/"),
    ("https://example.com:8443/x?z=9&y=8", "https://example.com:8443/x?y=8&z=9"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com#only-frag", "http://example.com/"),
    ("http://example.com/?", "http://example.com/"),
    ("HTTPS://WWW.EXAMPLE.COM/CaseKept/Path", "https://www.example.com/CaseKept/Path"),
    ("http://example.com:8080/p?q=1", "http://example.com:8080/p?q=1"),
]


def test_canonical_url_vectors(spark):
    df = spark.createDataFrame([(r,) for r, _ in CASES], ["url"])
    got = [r["canon"] for r in
           df.select(canonical_url("url").alias("canon")).collect()]
    assert got == [c for _, c in CASES]


def test_canonical_url_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) for every vector."""
    df = spark.createDataFrame([(c,) for _, c in CASES], ["url"])
    got = [r["c2"] for r in
           df.select(canonical_url(canonical_url("url")).alias("c2")).collect()]
    assert got == [c for _, c in CASES]


def test_canonical_url_plan_is_jvm_only(spark):
    """The crawl dedup key must be pure codegen — no Python stage."""
    df = spark.range(10).select(
        canonical_url(F.concat(F.lit("http://h/"), F.col("id"))).alias("c")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


def test_filter_robots(spark):
    """Per-host robots.txt politeness: agent-specific rules beat the
    wildcard group, missing robots row -> allowed, disallowed paths
    dropped; arbitrary page columns pass through."""
    robots_a = (
        "User-agent: rex-spark\nDisallow: /no-rex/\n\n"
        "User-agent: *\nDisallow: /private/\n"
    )
    robots_b = "User-agent: *\nDisallow: /\n"
    robots = spark.createDataFrame(
        [("a.example.com", robots_a), ("b.example.com", robots_b)],
        ["host", "robots_txt"],
    )
    pages = spark.createDataFrame(
        [
            ("http://a.example.com/ok", 1),
            ("http://a.example.com/no-rex/x", 2),       # agent rule
            ("http://a.example.com/private/x", 3),      # would hit * only
            ("http://b.example.com/anything", 4),       # blanket disallow
            ("http://c.example.com/whatever", 5),       # no robots row
        ],
        ["url", "payload_col"],
    )
    from rex_spark.operators.urls import filter_robots

    kept = {r["url"]: r["payload_col"]
            for r in filter_robots(pages, robots).collect()}
    # agent-specific group applies to rex-spark: /no-rex blocked,
    # /private NOT blocked (the * group is ignored once the UA matched)
    assert set(kept) == {
        "http://a.example.com/ok",
        "http://a.example.com/private/x",
        "http://c.example.com/whatever",
    }
    assert kept["http://a.example.com/ok"] == 1

    # page columns named like the join's own columns (robots_txt, and
    # host-ish names) pass through unchanged, and the decision still
    # uses the robots table's rules, not the page payload
    payload_pages = pages.selectExpr(
        "url",
        "concat('page-', cast(payload_col as string)) AS robots_txt",
        "upper(url) AS __HOST",
    )
    got = {
        r["url"]: (r["robots_txt"], r["__HOST"])
        for r in filter_robots(payload_pages, robots).collect()
    }
    assert got == {
        "http://a.example.com/ok": ("page-1", "HTTP://A.EXAMPLE.COM/OK"),
        "http://a.example.com/private/x": (
            "page-3", "HTTP://A.EXAMPLE.COM/PRIVATE/X",
        ),
        "http://c.example.com/whatever": (
            "page-5", "HTTP://C.EXAMPLE.COM/WHATEVER",
        ),
    }
    assert filter_robots(payload_pages, robots).columns == payload_pages.columns


def test_robots_kernel_matches_stdlib_semantics():
    """The operator's contract is STDLIB urllib.robotparser semantics:
    first matching rule in file order wins (NOT Google-REP
    longest-match — an Allow listed after a broader Disallow loses)."""
    from rex_spark.operators.urls import robots_allowed_kernel as k

    txt = "User-agent: *\nAllow: /priv/open\nDisallow: /priv\n"
    assert k(txt, "anybot", "http://h/x")
    assert not k(txt, "anybot", "http://h/priv/secret")
    assert k(txt, "anybot", "http://h/priv/open/doc")
    # order flipped: stdlib's first-match rule disallows the open path
    flipped = "User-agent: *\nDisallow: /priv\nAllow: /priv/open\n"
    assert not k(flipped, "anybot", "http://h/priv/open/doc")
    assert k(None, "anybot", "http://h/anything")  # no robots -> allowed


def test_canonical_url_fragment_ipv6_userinfo_vectors(spark):
    """Review-fix vectors: a '?' inside a hash-routing fragment must
    NOT leak into the query; bracketed IPv6 hosts keep their colons;
    userinfo is stripped from the host key."""
    cases = [
        ("http://site.example/#/page?x=1", "http://site.example/"),
        ("http://site.example/#/a?x=1", "http://site.example/"),
        ("http://[2001:db8::1]:8080/a", "http://[2001:db8::1]:8080/a"),
        ("HTTPS://[2001:DB8::2]:443/b", "https://[2001:db8::2]/b"),
        ("http://user:pw@Host.Example/x", "http://host.example/x"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], ["url"])
    got = [r["c"] for r in
           df.select(canonical_url("url").alias("c")).collect()]
    assert got == [c for _, c in cases]
    # two SPA spellings of the same page share one dedup key
    assert got[0] == got[1]


def test_robots_host_join_is_case_insensitive(spark):
    """A mixed-case robots host row must still match (its rules were
    silently bypassed before the lowercased join)."""
    from rex_spark.operators.urls import filter_robots

    robots = spark.createDataFrame(
        [("A.Example.com", "User-agent: *\nDisallow: /")],
        ["host", "robots_txt"],
    )
    pages = spark.createDataFrame(
        [("http://A.Example.com/x", 1), ("http://other.example/y", 2)],
        ["url", "v"],
    )
    kept = [r["url"] for r in filter_robots(pages, robots).collect()]
    assert kept == ["http://other.example/y"]


def test_robots_udf_matches_scalar_kernel(spark):
    """Lockstep: the distributed UDF decision equals
    robots_allowed_kernel row for row (shared _robots_parser)."""
    from rex_spark.operators.urls import filter_robots, robots_allowed_kernel

    txt = "User-agent: *\nDisallow: /private/\n"
    robots = spark.createDataFrame([("h.example", txt)], ["host", "robots_txt"])
    urls = [f"http://h.example/{p}/{i}" for i in range(6)
            for p in ("ok", "private")]
    pages = spark.createDataFrame([(u, 0) for u in urls], ["url", "v"])
    kept = {r["url"] for r in filter_robots(pages, robots).collect()}
    for u in urls:
        assert (u in kept) == robots_allowed_kernel(txt, "rex-spark", u)


def test_canonical_url_property_random_spellings(spark):
    """Property over randomized spellings: for any (host, port, path,
    params, fragment) combo, every spelling variant — case-shuffled
    scheme/host, explicit default port, permuted params, with/without
    fragment — canonicalizes to ONE key, and canonical_url is
    idempotent on it.  Driven as one Spark job over all generated
    rows (keeps the property on the real JVM regex engine)."""
    import random

    rng = random.Random(13)
    rows = []
    expected = []
    for case in range(60):
        scheme = rng.choice(["http", "https"])
        host = f"h{case}.example.com"
        port = rng.choice(["", "8080", "80" if scheme == "http" else "443"])
        path = rng.choice(["", "/", "/A/b", f"/p/{case}"])
        params = [f"k{j}={rng.randrange(10)}" for j in range(rng.randrange(4))]
        default = (scheme == "http" and port == "80") or (
            scheme == "https" and port == "443"
        )
        canon = (
            scheme + "://" + host
            + ("" if port == "" or default else ":" + port)
            + (path if path else "/")
            + ("?" + "&".join(sorted(params)) if params else "")
        )
        for _v in range(3):  # three independent spellings per case
            s = "".join(
                c.upper() if rng.random() < 0.5 else c for c in scheme
            )
            h = "".join(
                c.upper() if rng.random() < 0.5 else c for c in host
            )
            pp = list(params)
            rng.shuffle(pp)
            spelled = (
                s + "://" + h + (":" + port if port else "") + path
                + ("?" + "&".join(pp) if pp else "")
                + (rng.random() < 0.5) * "#frag/ment?x=9"
            )
            rows.append((spelled,))
            expected.append(canon)
    df = spark.createDataFrame(rows, ["url"])
    got = [r["c"] for r in
           df.select(canonical_url("url").alias("c")).collect()]
    assert got == expected
    df2 = spark.createDataFrame([(c,) for c in expected], ["url"])
    again = [r["c"] for r in
             df2.select(canonical_url("url").alias("c")).collect()]
    assert again == expected  # idempotent
