"""Robots policy (SURVEY.md §2.8 P4) — declarative robots.txt evaluation.

Reference: /root/reference/src/java/org/apache/nutch/protocol/
RobotRulesParser.java (crawler-commons SimpleRobotRules underneath): per
(host, agent) ordered Allow/Disallow path rules; the LONGEST matching rule
decides; no matching rule → allowed; plus an optional Crawl-delay.

The network fetch of robots.txt belongs to the fetcher (P1); everything
after the bytes arrive is relational and lives here:

- ``parse_robots``: robots bodies → one row per (host, agent, rule_type,
  path_prefix) via regexp extraction (wildcard-free prefix rules — the
  dominant case; '*'-pattern rules would extend the match expression).
- ``crawl_delays``: per (host, agent) Crawl-delay seconds.
- ``filter_allowed``: fetchlist ⟕ broadcast(rules) → longest-match verdict.
  Rules tables are tiny relative to fetchlists (one row per rule line, not
  per URL), so the join broadcasts; the fetchlist is never reshuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nutch_spark.functions.urls import url_host
from nutch_spark.topk import top_k_per_group


def _text_col(robots: DataFrame, content: str) -> F.Column:
    """The content column as STRING: raw fetch bytes (FETCH_SCHEMA) decode
    utf-8-replace (RFC 9309 §2.3 says robots.txt is UTF-8); already-decoded
    string columns pass through."""
    from pyspark.sql import types as T

    col = F.col(content)
    if isinstance(robots.schema[content].dataType, T.BinaryType):
        # replace-malformed decode must hold on driver-built vanilla
        # sessions too — runtime SQL conf, effective when set here
        robots.sparkSession.conf.set("spark.sql.legacy.codingErrorAction", "true")
        return F.decode(col, "UTF-8")
    return col


def parse_robots(robots: DataFrame, *, host: str = "host", content: str = "content") -> DataFrame:
    """(host, content) → (host, agent, rule_type allow|disallow, prefix).

    Group structure: directives apply to the most recent User-agent line(s);
    comments and blank lines ignored; values trimmed.
    """
    lines = robots.select(
        F.col(host).alias("host"),
        F.posexplode(F.split(_text_col(robots, content), "\n")).alias("pos", "line"),
    ).select(
        "host",
        "pos",
        F.trim(F.regexp_replace("line", "#.*$", "")).alias("line"),
    ).filter(F.col("line") != "")
    parsed = lines.select(
        "host",
        "pos",
        F.lower(F.trim(F.regexp_extract("line", "^([A-Za-z-]+)\\s*:", 1))).alias("field"),
        F.trim(F.regexp_extract("line", "^[A-Za-z-]+\\s*:\\s*(.*)$", 1)).alias("value"),
    ).filter(F.col("field") != "")
    # propagate the current agent group: last user-agent value at or before
    # each directive (window last_value over preceding rows)
    w = Window.partitionBy("host").orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    agented = parsed.withColumn(
        "agent",
        F.last(
            F.when(F.col("field") == "user-agent", F.lower(F.col("value"))), ignorenulls=True
        ).over(w),
    )
    return agented.filter(
        F.col("field").isin("allow", "disallow") & F.col("agent").isNotNull()
        & (F.col("value") != "")
    ).select(
        "host",
        "agent",
        F.col("field").alias("rule_type"),
        F.col("value").alias("prefix"),
    )


def crawl_delays(robots: DataFrame, *, host: str = "host", content: str = "content") -> DataFrame:
    """(host, agent, crawl_delay_s) from Crawl-delay directives."""
    lines = robots.select(
        F.col(host).alias("host"),
        F.posexplode(F.split(_text_col(robots, content), "\n")).alias("pos", "line"),
    )
    w = Window.partitionBy("host").orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    agented = lines.withColumn(
        "agent",
        F.last(
            F.when(
                F.lower(F.trim(F.col("line"))).startswith("user-agent"),
                F.lower(F.trim(F.regexp_extract("line", ":\\s*(.*)$", 1))),
            ),
            ignorenulls=True,
        ).over(w),
    )
    return agented.select(
        "host",
        "agent",
        F.regexp_extract(F.lower("line"), "^\\s*crawl-delay\\s*:\\s*([0-9.]+)", 1).alias("d"),
    ).filter(F.col("d") != "").select(
        "host", "agent", F.col("d").cast("double").alias("crawl_delay_s")
    )


def filter_allowed(
    fetchlist: DataFrame,
    rules: DataFrame,
    *,
    agent: str = "*",
    url: str = "url",
) -> DataFrame:
    """Keep fetchlist rows allowed by the longest-matching rule for ``agent``.

    Agent-group resolution per REP / crawler-commons RobotRulesParser: when a
    host has a group for the EXACT agent, that group applies EXCLUSIVELY —
    the ``*`` group is ignored for that host; hosts without an exact group
    fall back to ``*``. No matching rule → allowed."""
    from pyspark.sql import Window as _W

    cand = rules.filter(F.col("agent").isin(agent.lower(), "*")).select(
        F.col("host").alias("_rhost"),
        F.col("agent").alias("_ragent"),
        "rule_type",
        "prefix",
    )
    has_exact = F.max((F.col("_ragent") == agent.lower()).cast("int")).over(
        _W.partitionBy("_rhost")
    )
    r = cand.withColumn("_has_exact", has_exact).filter(
        (F.col("_has_exact") == 1) == (F.col("_ragent") == agent.lower())
    ).drop("_has_exact")
    # Wildcard rules (REP/googlebot extensions honored by crawler-commons):
    # '*' matches any span, a trailing '$' anchors the end. Translate such
    # rules to a regex ONCE on the (tiny, broadcast) rules side; plain
    # prefixes keep the cheaper startswith path.
    ends_anchor = F.col("prefix").endswith("$")
    core = F.when(
        ends_anchor, F.expr("substring(prefix, 1, length(prefix) - 1)")
    ).otherwise(F.col("prefix"))
    escaped = F.regexp_replace(core, r"([.\\+?\[\]^$(){}|])", r"\\$1")
    pattern = F.concat(
        F.lit("^"),
        F.replace(escaped, F.lit("*"), F.lit(".*")),
        F.when(ends_anchor, F.lit("$")).otherwise(F.lit("")),
    )
    r = r.withColumn(
        "_wild", F.col("prefix").contains("*") | ends_anchor
    ).withColumn("_pattern", F.when(F.col("_wild"), pattern))
    fl = (
        fetchlist.withColumn("_rid", F.monotonically_increasing_id())
        .withColumn("_host", url_host(url))
        .withColumn(
            "_path",
            F.coalesce(
                F.regexp_extract(url, r"^[a-zA-Z+.-]+://[^/]+(/.*)$", 1), F.lit("/")
            ),
        )
    )
    matches = F.when(
        F.col("_wild"), F.regexp_like(F.col("_path"), F.col("_pattern"))
    ).otherwise(F.col("_path").startswith(F.col("prefix")))
    joined = fl.join(
        F.broadcast(r),
        (F.col("_host") == F.col("_rhost")) & matches,
        "left",
    )
    # Longest matching rule of the (already exclusive) agent group wins; an
    # equal-length Allow beats Disallow (crawler-commons / REP §2.2 tie
    # resolution). Partition by the row id, not the URL, so duplicate
    # fetchlist rows sharing a URL each get their own verdict.
    verdict = top_k_per_group(
        joined,
        ["_rid"],
        [
            F.desc(F.length(F.coalesce("prefix", F.lit("")))),
            F.when(F.col("rule_type") == "allow", 0).otherwise(1),
        ],
        1,
    ).withColumn(
        "_allowed", F.col("rule_type").isNull() | (F.col("rule_type") == "allow")
    )
    return (
        verdict.filter(F.col("_allowed"))
        .drop(
            "_rid", "_rhost", "_ragent", "rule_type", "prefix",
            "_allowed", "_host", "_path", "_wild", "_pattern",
        )
    )


def robots_sitemaps(
    robots: DataFrame, *, host: str = "host", content: str = "content"
) -> DataFrame:
    """Sitemap discovery from robots.txt (SitemapProcessor.java:232-246 via
    crawler-commons ``rules.getSitemaps()``): every ``Sitemap:`` line,
    agent-independent per the robots.txt spec, case-insensitive, deduped
    per host. Output: (host, sitemap_url) — feed the fetcher, then
    ``parse_sitemap`` / ``expand_sitemap_index``."""
    urls = F.array_distinct(
        F.regexp_extract_all(
            _text_col(robots, content),
            F.lit(r"(?im)^\s*sitemap\s*:\s*(\S+)\s*$"), F.lit(1),
        )
    )
    return robots.select(
        F.col(host).alias("host"), F.explode(urls).alias("sitemap_url")
    )


def apply_robots_delays(
    fetchlist: DataFrame,
    delays: DataFrame,
    *,
    agent: str = "*",
    url: str = "url",
    max_crawl_delay_s: float = 30.0,
    groups: DataFrame | None = None,
) -> DataFrame:
    """Stamp robots Crawl-delay onto the fetchlist as the fetcher's
    ``_variableFetchDelay_`` metadata (ms) — the FetchItemQueue crawlDelay
    wiring of the reference, with ``fetcher.max.crawl.delay`` capping a
    hostile robots.txt (Fetcher honors at most 30 s by default). Hosts
    without a directive keep their existing metadata untouched (re-stamping
    is duplicate-key safe). Broadcast join on host.

    Agent groups resolve EXCLUSIVELY like ``filter_allowed``: pass
    ``groups`` (the ``parse_robots`` rules, or any (host, agent) frame) so
    a host whose robots.txt has an exact-agent group without a Crawl-delay
    is NOT throttled by the ``*`` group's delay. Without ``groups`` the
    exact/``*`` resolution falls back to the delay rows alone.
    """
    cand = delays.filter(F.col("agent").isin(agent.lower(), "*"))
    if groups is not None:
        host_has_exact = (
            groups.filter(F.col("agent") == agent.lower())
            .select(F.col("host").alias("_gh"))
            .distinct()
            .withColumn("_exact_group", F.lit(True))
        )
        cand = (
            cand.join(host_has_exact, cand["host"] == F.col("_gh"), "left")
            .filter(
                F.coalesce(F.col("_exact_group"), F.lit(False))
                == (F.col("agent") == agent.lower())
            )
            .drop("_gh", "_exact_group")
        )
    d = (
        top_k_per_group(
            cand,
            ["host"],
            [
                F.when(F.col("agent") == agent.lower(), 0).otherwise(1),
                F.desc("crawl_delay_s"),  # deterministic: politest wins
            ],
            1,
        )
        .select(
            F.col("host").alias("_dhost"),
            F.least(F.col("crawl_delay_s"), F.lit(float(max_crawl_delay_s))).alias(
                "_delay_s"
            ),
        )
    )
    fl = fetchlist
    if "metadata" not in fl.columns:
        fl = fl.withColumn("metadata", F.create_map().cast("map<string,string>"))
    out = fl.withColumn("_fhost", url_host(url)).join(
        F.broadcast(d), F.col("_fhost") == F.col("_dhost"), "left"
    )
    from nutch_spark.functions.maps import map_put

    stamped = F.when(
        F.col("_delay_s").isNotNull(),
        map_put(
            "metadata",
            "_variableFetchDelay_",
            (F.col("_delay_s") * 1000).cast("long"),
        ),
    ).otherwise(F.col("metadata"))
    return out.withColumn("metadata", stamped).drop("_fhost", "_dhost", "_delay_s")


def fetch_with_robots(
    fetchlist: DataFrame,
    *,
    fetch_fn,
    cfg=None,
    agent: str = "*",
    crawl_delay_s: float = 0.0,
    threads: int = 1,
    threads_per_queue: int = 1,
    min_crawl_delay_s: float = 0.0,
    num_lists: int | None = None,
    max_crawl_delay_s: float = 30.0,
    time_limit_s: float | None = None,
    max_redirects: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """P4 wired into P1: the reference fetcher's in-protocol robots handling
    (FetcherThread.java:380-400: ``!rules.isAllowed`` -> output with
    ProtocolStatus.STATUS_ROBOTS_DENIED as STATUS_FETCH_GONE; RobotRulesParser
    caches one ruleset per host) as a two-round fetch:

    1. ONE robots.txt fetch per distinct host through the same polite
       harness (the Spark analogue of the per-host robots cache — distinct
       hosts are orders of magnitude fewer rows than urls).
    2. ``filter_allowed`` drops forbidden urls (emitted as ``fetch_gone``
       rows tagged ``_robots_denied_`` so updatedb sees the GONE
       transition, exactly the reference's output shape), Crawl-delay
       directives stamp ``_variableFetchDelay_`` (capped at
       ``max_crawl_delay_s`` = fetcher.max.crawl.delay), then the surviving
       fetchlist fetches normally.

    Hosts whose robots.txt is missing or fails to fetch allow everything —
    the reference's default posture (http.robots.403.allow=true; a 404
    robots means no restrictions).

    Returns ``(fetch_log, robots_log)``: the page log (fetched + denied
    rows, FETCH_SCHEMA) and the robots round's own log — feed the latter to
    ``robots_sitemaps`` for sitemap discovery.
    """
    from nutch_spark.config import DEFAULT
    from nutch_spark.operators.fetcher import fetch

    cfg = cfg or DEFAULT
    hosts = (
        fetchlist.select(
            url_host("url").alias("host"),
            F.regexp_extract("url", r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1).alias(
                "scheme"
            ),
            # full authority (host:port) — url_host strips the port, which
            # must key the RULES but not the fetch URL
            F.regexp_extract(
                "url", r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)", 1
            ).alias("authority"),
        )
        .filter(F.col("host").isNotNull() & (F.col("scheme") != ""))
        .groupBy("host")
        # ONE struct-min: scheme and authority must come from the SAME
        # fetchlist row — independent mins could pair one row's scheme with
        # another row's authority, probing an origin no url uses
        .agg(F.min(F.struct("scheme", "authority")).alias("_origin"))
    )
    robots_fl = hosts.select(
        F.concat(
            F.col("_origin.scheme"),
            F.lit("://"),
            F.col("_origin.authority"),
            F.lit("/robots.txt"),
        ).alias("url")
    )
    robots_log = fetch(
        robots_fl,
        cfg=cfg,
        fetch_fn=fetch_fn,
        crawl_delay_s=crawl_delay_s,
        threads=threads,
        num_lists=num_lists,
    ).localCheckpoint(eager=True)  # consumed 3x: rules, delays, caller

    robots_content = robots_log.filter(
        (F.col("status") == "fetch_success") & F.col("content").isNotNull()
    ).select(
        url_host("url").alias("host"),
        # fetch content is raw bytes; robots.txt is ASCII/UTF-8 by spec
        # (RFC 9309 §2.3) — decode once at the boundary, replace-malformed
        F.decode(F.col("content"), "UTF-8").alias("content"),
    )
    rules = parse_robots(robots_content)
    allowed = filter_allowed(fetchlist, rules, agent=agent)
    denied = fetchlist.join(allowed.select("url"), "url", "left_anti")
    delays = crawl_delays(robots_content)
    stamped = apply_robots_delays(
        allowed, delays, agent=agent, groups=rules,
        max_crawl_delay_s=max_crawl_delay_s,
    )
    page_log = fetch(
        stamped,
        cfg=cfg,
        fetch_fn=fetch_fn,
        crawl_delay_s=crawl_delay_s,
        threads=threads,
        threads_per_queue=threads_per_queue,
        min_crawl_delay_s=min_crawl_delay_s,
        num_lists=num_lists,
        time_limit_s=time_limit_s,
        max_redirects=max_redirects,
    )
    denied_rows = denied.select(
        "url",
        F.lit("fetch_gone").alias("status"),
        F.current_timestamp().alias("fetch_time"),
        F.lit(None).cast("binary").alias("content"),
        F.lit(None).cast("string").alias("content_type"),
        F.lit(None).cast("binary").alias("signature"),
        F.create_map(F.lit("_robots_denied_"), F.lit("1")).alias("metadata"),
    )
    return page_log.unionByName(denied_rows), robots_log
