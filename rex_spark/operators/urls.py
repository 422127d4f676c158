"""URL canonicalization — the crawl-side dedup/join key.

A 10^12-document crawl sees the same page under many spellings
(mixed-case scheme/host, explicit default ports, shuffled query
params, fragments).  Exact dedup, per-host politeness rollups and
url-keyed joins all need ONE canonical spelling, computed JVM-side
(pure built-in column expressions — no Python anywhere, fully
codegen'd, fully pushdown-friendly).

Rules (the conservative, lossless subset every crawler agrees on):
- scheme and host lowercased;
- default port stripped (``:80`` for http, ``:443`` for https), other
  ports kept;
- fragment dropped (never sent to the server);
- query parameters sorted bytewise (``?b=2&a=1`` == ``?a=1&b=2``);
  empty query dropped;
- empty path becomes ``/``; path case is KEPT (paths are
  case-sensitive per RFC 3986).

No reference analog: Spico197/REx has no crawl layer; this is part of
the web-corpus plane per the builder's brief.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def url_parts(url: Column | str) -> dict[str, Column]:
    """Decomposed pieces of a URL column (each a Column).

    Handles userinfo (``user:pw@host`` — stripped) and bracketed IPv6
    authorities (``[2001:db8::1]:8080`` — the bracket form is the
    host, the port follows the bracket); the query is matched only
    BEFORE the fragment, so a '?' inside a hash-routing fragment
    (``/#/page?x=1``) never leaks into the query."""
    url = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    authority = F.regexp_extract(url, r"^[^:]+://([^/?#]*)", 1)
    hostport = F.regexp_extract(authority, r"^(?:[^@]*@)?(.*)$", 1)
    host = F.lower(
        F.regexp_extract(hostport, r"^(\[[^\]]*\]|[^:]*)", 1)
    )
    port = F.regexp_extract(
        hostport, r"^(?:\[[^\]]*\]|[^:]*):([0-9]+)$", 1
    )
    path = F.regexp_extract(url, r"^[^:]+://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(url, r"^[^#]*?\?([^#]*)", 1)
    return {
        "scheme": scheme,
        "host": host,
        "port": port,
        "path": path,
        "query": query,
    }


def _robots_parser(robots_txt: str):
    """One parsed stdlib RobotFileParser — THE robots semantics for
    both the scalar kernel and the distributed UDF (lockstep by
    construction and pinned by test)."""
    from urllib.robotparser import RobotFileParser

    rp = RobotFileParser()
    rp.parse(robots_txt.splitlines())
    return rp


def robots_allowed_kernel(robots_txt: str | None, agent: str, url: str) -> bool:
    """Scalar robots.txt decision: no robots file -> allowed (the
    crawl convention)."""
    if robots_txt is None:
        return True
    return _robots_parser(robots_txt).can_fetch(agent, url)


def filter_robots(pages, robots, agent: str = "rex-spark"):
    """Politeness filter: drop pages a host's robots.txt disallows.

    ``robots`` is the (small) per-host table ``(host, robots_txt)`` —
    broadcast-joined, never shuffled; the decision runs in an
    Arrow-batched pandas UDF with one parsed RobotFileParser per
    DISTINCT robots_txt per batch (hosts repeat heavily in a crawl
    batch, so parsing is amortized ~free).  Hosts with no robots row
    are allowed (the crawl convention).  Arbitrary page columns pass
    through untouched."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def allowed(robots_txt: pd.Series, url: pd.Series) -> pd.Series:
        parsers: dict = {}

        def decide(txt, u):
            if txt is None or (isinstance(txt, float) and pd.isna(txt)):
                return True
            rp = parsers.get(txt)
            if rp is None:
                rp = parsers[txt] = _robots_parser(txt)
            return rp.can_fetch(agent, u)

        return pd.Series(
            [decide(t, u) for t, u in zip(robots_txt, url)], dtype=bool
        )

    # join columns get names no page column has (Spark resolves names
    # case-insensitively), so a page column called e.g. robots_txt
    # passes through instead of being clobbered
    taken = {c.lower() for c in pages.columns}
    host_col, txt_col = "__host", "__robots_txt"
    while host_col in taken or txt_col in taken:
        host_col, txt_col = "_" + host_col, "_" + txt_col
    # page host is lowercased by url_parts — lower the robots side too
    # or a mixed-case robots row silently never matches (its disallow
    # rules would be bypassed without any error)
    robots_lc = robots.select(
        F.lower(F.col("host")).alias(host_col),
        F.col("robots_txt").alias(txt_col),
    )
    joined = pages.withColumn(host_col, url_parts("url")["host"]).join(
        F.broadcast(robots_lc), on=host_col, how="left",
    )
    return joined.filter(allowed(F.col(txt_col), F.col("url"))).drop(
        host_col, txt_col
    )


def canonical_url(url: Column | str) -> Column:
    """One canonical spelling per URL (see module rules)."""
    p = url_parts(url)
    default_port = (
        ((p["scheme"] == "http") & (p["port"] == "80"))
        | ((p["scheme"] == "https") & (p["port"] == "443"))
    )
    port_part = F.when(
        (p["port"] == "") | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), p["port"]))
    path_part = F.when(p["path"] == "", F.lit("/")).otherwise(p["path"])
    sorted_query = F.array_join(
        F.sort_array(F.split(p["query"], "&")), "&"
    )
    query_part = F.when(p["query"] == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), sorted_query)
    )
    return F.concat(
        p["scheme"], F.lit("://"), p["host"], port_part, path_part, query_part
    )
