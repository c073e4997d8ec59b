"""CrawlDb update — the state-machine merge (SURVEY.md §3.2, J2 + D6 + D3).

Reference: /root/reference/src/java/org/apache/nutch/crawl/CrawlDbReducer.java
:84-355 — cogroup of crawldb ⟗ crawl_fetch ⟗ crawl_parse by URL, then a
status state machine. Re-expressed as:

  1. aggregate the updates per url (one shuffle):
       latest fetch row (max_by fetch_time — CrawlDbReducer.java:110-130),
       Σ inlink score contributions over the top-K contributions by score
       (bounded priority queue K=db.update.max.inlinks,
        CrawlDbReducer.java:359-373 → slice(array_sort(collect_list))),
       signature / parse metadata carriers;
  2. full-outer join with the db (second shuffle, or broadcast when the
     update batch is small);
  3. ~20 CASE WHEN columns implementing the transitions
     (CrawlDbReducer.java:219-337) + the fetch schedule (D6) + OPIC score
     accumulation (D3, scoring-opic OPICScoringFilter.java:100-112).

State transitions implemented (status_in → status_out):
  linked only, no db row       → db_unfetched (new frontier URL, :219-234)
  fetch_success                → db_fetched   (signature comparison decides
                                  modified/notmodified, :247-261)
  fetch_notmodified            → db_notmodified
  fetch_redir_temp             → db_redir_temp
  fetch_redir_perm             → db_redir_perm
  fetch_retry, retries<max     → db_unfetched, retries+1 (:308-321)
  fetch_retry, retries>=max    → db_gone
  fetch_gone                   → db_gone (:323-337)
  parse_failed carrier         → db_parse_failed
  no fetch & no links          → db row passes through unchanged (:175-194)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nutch_spark.config import DEFAULT, NutchConfig
from nutch_spark.topk import top_k_per_group

_FETCH_TO_DB = {
    "fetch_success": "db_fetched",
    "fetch_notmodified": "db_notmodified",
    "fetch_redir_temp": "db_redir_temp",
    "fetch_redir_perm": "db_redir_perm",
    "fetch_gone": "db_gone",
}


def aggregate_updates(
    fetch_log: DataFrame,
    parse_emits: DataFrame | None,
    *,
    cfg: NutchConfig = DEFAULT,
) -> DataFrame:
    """Collapse the per-url update stream into one row per url."""
    fetch = fetch_log.groupBy("url").agg(
        F.max_by(
            F.struct("status", "fetch_time", "signature", "metadata"), F.col("fetch_time")
        ).alias("f")
    ).select(
        "url",
        F.col("f.status").alias("fetch_status"),
        F.col("f.fetch_time").alias("fetched_at"),
        F.col("f.signature").alias("fetch_signature"),
        F.col("f.metadata").alias("fetch_metadata"),
    )
    if parse_emits is None:
        return fetch.withColumn("link_score", F.lit(None).cast("double")).withColumn(
            "link_count", F.lit(0).cast("long")
        ).withColumn("parse_signature", F.lit(None).cast("binary")).withColumn(
            "parse_failed", F.lit(False)
        )

    linked = parse_emits.filter(F.col("status") == "linked")
    # top-K contributions by score (bounded PQ, CrawlDbReducer.java:359-373).
    # The cap is applied BEFORE collecting: a top_k_per_group window on the
    # same shuffle key (url) keeps only the K best-scored contributions, so a
    # URL with 10^7 inlinks never materializes a 10^7-element array (the window
    # sort is external/spillable). link_count still counts ALL contributions
    # (count over the unordered full-partition frame — same single exchange).
    # The post-filter array is ≤ K elements and is folded in descending-score
    # order, preserving the exact float-summation order of the reference PQ
    # drain (bit-identical to the pre-fix slice(reverse(sort)) form).
    from pyspark.sql import Window

    topk = top_k_per_group(
        linked.select("url", F.col("score").cast("double").alias("_score")).withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("url"))
        ),
        ["url"],
        [F.desc("_score")],
        cfg.update_max_inlinks,
    )
    link_agg = topk.groupBy("url").agg(
        F.aggregate(
            F.reverse(F.array_sort(F.collect_list("_score"))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("link_score"),
        F.max("_n").alias("link_count"),
    )
    carriers = parse_emits.filter(F.col("status") != "linked").groupBy("url").agg(
        F.max(F.when(F.col("status") == "signature", F.col("signature"))).alias(
            "parse_signature"
        ),
        F.max(F.col("status") == "parse_failed").alias("parse_failed"),
    )
    return (
        fetch.join(link_agg, "url", "full_outer")
        .join(carriers, "url", "full_outer")
        .withColumn("link_count", F.coalesce("link_count", F.lit(0)))
        .withColumn("parse_failed", F.coalesce("parse_failed", F.lit(False)))
    )


def parse_host_specific_intervals(
    text: str, default_min: float, default_max: float
) -> dict[str, tuple[float, float]]:
    """adaptive-host-specific-intervals.txt (AdaptiveFetchSchedule.java:
    133-240): ``host min max`` triplets where ``default``/``0`` means "use
    the default bound". The reference's full validation matrix is mirrored:
    malformed lines, non-numeric values, both-default lines, negative
    intervals, min > max, and bounds outside [default_min, default_max] are
    all SKIPPED (logged-and-ignored in the reference)."""
    out: dict[str, tuple[float, float]] = {}
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split()
        if len(parts) != 3:
            continue
        host = parts[0].lower()
        try:
            m = 0.0 if parts[1].lower() == "default" else float(parts[1])
            big = 0.0 if parts[2].lower() == "default" else float(parts[2])
        except ValueError:
            continue
        if m == 0 and big == 0:
            continue
        if m == 0:
            m = default_min
        elif big == 0:
            big = default_max
        if m < 0 or big < 0 or m > big or m < default_min or big > default_max:
            continue
        out[host] = (m, big)
    return out


def host_specific_bounds(
    url: Column, host_intervals: dict[str, tuple[float, float]], *, cfg: NutchConfig = DEFAULT
) -> tuple[Column, Column]:
    """(min_interval, max_interval) columns per URL host — listed hosts get
    their custom clamp bounds, everything else the defaults
    (AdaptiveFetchSchedule.getMinInterval/getMaxInterval by hostname).
    Literal CASE chain, codegen, no shuffle."""
    from nutch_spark.functions.urls import url_host

    host = url_host(url)
    lo: Column = F.lit(float(cfg.adaptive_min_interval))
    hi: Column = F.lit(float(cfg.adaptive_max_interval))
    for h, (m, big) in sorted(host_intervals.items()):
        lo = F.when(host == h, F.lit(float(m))).otherwise(lo)
        hi = F.when(host == h, F.lit(float(big))).otherwise(hi)
    return lo, hi


def adaptive_interval(
    interval: Column,
    modified: Column,
    *,
    cfg: NutchConfig = DEFAULT,
    inc_rate: Column | None = None,
    dec_rate: Column | None = None,
    clamp: bool = True,
    notmodified: Column | None = None,
    min_interval: Column | None = None,
    max_interval: Column | None = None,
) -> Column:
    """AdaptiveFetchSchedule interval update (AdaptiveFetchSchedule.java:303-370):
    shrink on change, grow when unchanged, clamp to [min,max].

    Three-state per the reference switch: MODIFIED shrinks, NOTMODIFIED
    grows, UNKNOWN (no comparable signatures) leaves the interval as is.
    When ``notmodified`` is omitted the update is two-state (legacy callers:
    everything not modified grows).

    ``inc_rate``/``dec_rate`` may be column expressions — the
    MimeAdaptiveFetchSchedule (MimeAdaptiveFetchSchedule.java:103-126) picks
    per-MIME rates this way. ``clamp=False`` defers the bound check for the
    sync-delta path, which clamps AFTER the delta adjustment (:340-363).
    ``min_interval``/``max_interval`` override the clamp bounds per row —
    :func:`host_specific_bounds` builds them from
    adaptive-host-specific-intervals.txt."""
    inc = inc_rate if inc_rate is not None else F.lit(float(cfg.adaptive_inc_rate))
    dec = dec_rate if dec_rate is not None else F.lit(float(cfg.adaptive_dec_rate))
    # legacy two-state callers: NULL modified must still GROW (the old
    # otherwise-branch behavior) — coalesce before negating
    grow = (
        notmodified
        if notmodified is not None
        else ~F.coalesce(modified, F.lit(False))
    )
    new_iv = (
        F.when(modified, interval * (F.lit(1.0) - dec))
        .when(grow, interval * (F.lit(1.0) + inc))
        .otherwise(interval * F.lit(1.0))
    )
    if not clamp:
        return new_iv
    lo = min_interval if min_interval is not None else F.lit(float(cfg.adaptive_min_interval))
    hi = max_interval if max_interval is not None else F.lit(float(cfg.adaptive_max_interval))
    return F.least(F.greatest(new_iv, lo), hi).cast("int")


def mime_adaptive_rates(
    content_type: Column,
    mime_rates: dict[str, tuple[float, float]],
    *,
    cfg: NutchConfig = DEFAULT,
) -> tuple[Column, Column]:
    """(inc_rate, dec_rate) columns per cleaned MIME type
    (MimeAdaptiveFetchSchedule.java:103-126 + adaptive-mimetypes.txt): types
    in the map get their configured rates, everything else the defaults."""
    from nutch_spark.functions.mime import clean_content_type

    cleaned = clean_content_type(content_type)
    inc: Column = F.lit(float(cfg.adaptive_inc_rate))
    dec: Column = F.lit(float(cfg.adaptive_dec_rate))
    for mime, (i, d) in mime_rates.items():
        cond = cleaned == mime.lower()
        inc = F.when(cond, float(i)).otherwise(inc)
        dec = F.when(cond, float(d)).otherwise(dec)
    return inc, dec


def update_crawldb(
    crawldb: DataFrame,
    fetch_log: DataFrame,
    parse_emits: DataFrame | None = None,
    *,
    cfg: NutchConfig = DEFAULT,
    schedule: str = "default",
    now: Column | None = None,
    mime_rates: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Apply one round of fetch/parse results to the crawldb.

    ``schedule``: "default" (next = fetch_time + interval), "adaptive"
    (AdaptiveFetchSchedule incl. the sync-delta refinement when
    cfg.adaptive_sync_delta), or "mime_adaptive" (per-MIME inc/dec rates
    from ``mime_rates``, MimeAdaptiveFetchSchedule.java:103-126)."""
    now = now if now is not None else F.current_timestamp()
    upd = aggregate_updates(fetch_log, parse_emits, cfg=cfg)

    db = crawldb.alias("db")
    u = upd.alias("u")
    j = db.join(u, "url", "full_outer")

    has_db = F.col("db.status").isNotNull()
    has_fetch = F.col("u.fetch_status").isNotNull()
    has_links = F.col("u.link_count") > 0
    old_retries = F.coalesce(F.col("db.retries"), F.lit(0))
    old_interval = F.coalesce(F.col("db.fetch_interval"), F.lit(cfg.fetch_interval_default))
    old_score = F.coalesce(F.col("db.score"), F.lit(0.0).cast("float"))

    if not cfg.additions_allowed:
        # anti-join semantics: URLs without a db row are dropped (:164-166)
        j = j.filter(has_db)

    retry_exhausted = old_retries + 1 > cfg.retry_max

    # signature comparison → modification status (:247-261): NOTMODIFIED when
    # the protocol says so, or when a fetch_success carries the same non-null
    # signature as the db row (only success — not redirects, NUTCH-1422)
    new_sig = F.coalesce(F.col("u.parse_signature"), F.col("u.fetch_signature"))
    notmodified = has_fetch & (
        (F.col("u.fetch_status") == "fetch_notmodified")
        | (
            (F.col("u.fetch_status") == "fetch_success")
            & F.col("db.signature").isNotNull()
            & new_sig.isNotNull()
            & (F.col("db.signature") == new_sig)
        )
    )
    # strict MODIFIED detection (:253-258): only a success whose signature
    # provably changed; everything else that is not NOTMODIFIED is UNKNOWN
    modified = (
        has_fetch
        & (F.col("u.fetch_status") == "fetch_success")
        & F.col("db.signature").isNotNull()
        & new_sig.isNotNull()
        & (F.col("db.signature") != new_sig)
    )

    status = (
        F.when(
            has_fetch,
            F.when(
                F.col("u.fetch_status") == "fetch_retry",
                F.when(retry_exhausted, "db_gone").otherwise("db_unfetched"),
            )
            .when(notmodified, F.lit("db_notmodified"))  # :267-268 override
            .otherwise(
                F.element_at(
                    F.create_map(
                        *[F.lit(x) for kv in _FETCH_TO_DB.items() for x in kv]
                    ),
                    F.col("u.fetch_status"),
                )
            ),
        )
        .when(F.col("u.parse_failed") & has_db, F.lit("db_parse_failed"))
        .when(~has_db & has_links, F.lit("db_unfetched"))  # new frontier URL
        .otherwise(F.col("db.status"))
    )

    fetched_at_ts = F.coalesce(F.col("u.fetched_at"), now)
    ref_time = fetched_at_ts  # AdaptiveFetchSchedule refTime (:305,:357)
    if schedule in ("adaptive", "mime_adaptive"):
        inc = dec = None
        if schedule == "mime_adaptive" and mime_rates:
            # key-level precedence: the fetch's Content-Type when present,
            # else the one stored in the CrawlDatum metadata (an empty fetch
            # metadata map must not hide the db value)
            ctype = F.coalesce(
                F.element_at(F.col("u.fetch_metadata"), "Content-Type"),
                F.element_at(F.col("db.metadata"), "Content-Type"),
            )
            inc, dec = mime_adaptive_rates(ctype, mime_rates, cfg=cfg)
        raw_iv = adaptive_interval(
            old_interval, modified, cfg=cfg, inc_rate=inc, dec_rate=dec,
            clamp=False, notmodified=notmodified,
        )
        if cfg.adaptive_sync_delta:
            # Sync with the time of change (AdaptiveFetchSchedule.java:340-357):
            # delta = fetchTime - modifiedTime (modified → 0; unset → 0);
            # interval stretches to delta when overdue; the next fetch is
            # scheduled from refTime = fetchTime - round(delta*rate), with
            # the reference's long-division cap when the offset exceeds
            # maxInterval (offset/delta is integer division there).
            mt = F.when(modified, fetched_at_ts).otherwise(
                F.coalesce(F.col("db.modified_time"), fetched_at_ts)
            )
            delta_ms = F.unix_millis(fetched_at_ts) - F.unix_millis(mt)
            raw_iv = F.when(delta_ms > raw_iv * 1000.0, delta_ms / 1000.0).otherwise(
                raw_iv
            )
            offset = F.round(
                delta_ms * F.lit(float(cfg.adaptive_sync_delta_rate))
            ).cast("long")
            max_ms = F.lit(int(cfg.adaptive_max_interval) * 1000)
            offset = F.when(
                (delta_ms > 0) & (offset > max_ms),
                F.floor(offset / delta_ms).cast("long") * max_ms,
            ).otherwise(offset)
            ref_time = F.timestamp_millis(F.unix_millis(fetched_at_ts) - offset)
        clamped = F.least(
            F.greatest(raw_iv, F.lit(float(cfg.adaptive_min_interval))),
            F.lit(float(cfg.adaptive_max_interval)),
        ).cast("int")
        next_interval = F.when(has_fetch, clamped).otherwise(old_interval)
    else:
        next_interval = old_interval
    next_fetch_time = F.when(
        has_fetch, ref_time + F.make_interval(secs=next_interval.cast("double"))
    ).otherwise(F.coalesce(F.col("db.fetch_time"), now))

    # Gone/retry rescheduling (AbstractFetchSchedule.java:111-154):
    # - gone-like outcomes (fetch_gone, retry overflow, parse failure) back
    #   off 50% per round, capped at max*0.9 — "no page is truly GONE, try
    #   much later" (NUTCH-1245; the cap also keeps a misconfigured default
    #   interval > 1.5*max from bouncing through forced refetch);
    # - a plain retry re-queues tomorrow with the interval untouched.
    gone_like = (
        has_fetch
        & (
            (F.col("u.fetch_status") == "fetch_gone")
            | ((F.col("u.fetch_status") == "fetch_retry") & retry_exhausted)
        )
    ) | (F.col("u.parse_failed") & has_db)
    retry_like = (
        has_fetch & (F.col("u.fetch_status") == "fetch_retry") & ~retry_exhausted
    )
    gone_interval = (
        F.when(
            old_interval * 1.5 < F.lit(float(cfg.fetch_interval_max)),
            old_interval * 1.5,
        )
        .otherwise(F.lit(cfg.fetch_interval_max * 0.9))
        .cast("int")
    )
    next_interval = F.when(gone_like, gone_interval).otherwise(next_interval)
    next_fetch_time = (
        F.when(
            gone_like,
            fetched_at_ts + F.make_interval(secs=gone_interval.cast("double")),
        )
        .when(retry_like, fetched_at_ts + F.make_interval(secs=F.lit(86400.0)))
        .otherwise(next_fetch_time)
    )

    retries = (
        F.when(has_fetch & (F.col("u.fetch_status") == "fetch_retry"), old_retries + 1)
        .when(has_fetch, F.lit(0))
        .otherwise(old_retries)
    )

    # OPIC: score += Σ inlink contributions (OPICScoringFilter.java:100-112)
    score = (old_score + F.coalesce(F.col("u.link_score"), F.lit(0.0))).cast("float")

    # Signature policy (:266-296, :308-337, NUTCH-1422): NOTMODIFIED keeps
    # the old signature; retry/gone/parse-failed keep the old signature; the
    # content branch (success + redirects) takes the NEW signature even when
    # it is null — a redirect must clear the stale signature so the page is
    # not misdetected as notmodified after the redirect resolves.
    signature = (
        F.when(notmodified, F.col("db.signature"))
        .when(
            has_fetch
            & F.col("u.fetch_status").isin("fetch_retry", "fetch_gone"),
            F.col("db.signature"),
        )
        .when(F.col("u.parse_failed") & has_db, F.col("db.signature"))
        .when(has_fetch, new_sig)
        .otherwise(F.col("db.signature"))
    )

    # Forced refetch (CrawlDbReducer.java:298-304 → AbstractFetchSchedule.
    # forceRefetch:226-237): if the schedule pushed the interval past
    # db.fetch.interval.max, unconditionally recrawl — status db_unfetched,
    # retries 0, signature and modified_time cleared, interval clamped to
    # max*0.9. fetch_time keeps the value the schedule set (asap=false).
    # Applies only to the "fetch set" branch (success/notmodified/redirects),
    # not retry/gone — same scope as the reducer's case block (gone uses
    # setPageGoneSchedule above and must NOT bounce back via forced refetch).
    fetch_set = F.col("u.fetch_status").isin(
        "fetch_success", "fetch_notmodified", "fetch_redir_temp", "fetch_redir_perm"
    )
    forced = has_fetch & fetch_set & (
        next_interval.cast("long") > F.lit(cfg.fetch_interval_max)
    )
    status = F.when(forced, F.lit("db_unfetched")).otherwise(status)
    retries = F.when(forced, F.lit(0)).otherwise(retries)
    signature = F.when(forced, F.lit(None).cast("binary")).otherwise(signature)
    next_interval = F.when(
        forced, F.lit(int(cfg.fetch_interval_max * 0.9))
    ).otherwise(next_interval)
    modified_time = F.when(forced, F.lit(None).cast("timestamp")).otherwise(
        F.when(has_fetch & modified, F.coalesce(F.col("u.fetched_at"), now))
        .otherwise(F.col("db.modified_time"))
        .cast("timestamp")
    )

    out = j.select(
        F.col("url"),
        status.alias("status"),
        next_fetch_time.cast("timestamp").alias("fetch_time"),
        retries.cast("int").alias("retries"),
        next_interval.cast("int").alias("fetch_interval"),
        score.alias("score"),
        signature.alias("signature"),
        modified_time.alias("modified_time"),
        # per-fetch wall-clock bookkeeping (_latency_ms_ and the
        # reference's _rs_ key, HttpBase.java:61) is a REPORT input
        # (stats.fetch_latency_stats, segment dumps), not crawl state:
        # persisting it would make two byte-identical rounds produce
        # differing crawldbs (deliberate divergence — the reference DOES
        # persist _rs_ into the datum; the timing stays readable in the
        # segment's crawl_fetch part here)
        F.map_filter(
            F.coalesce(F.col("u.fetch_metadata"), F.col("db.metadata")),
            lambda k, _v: ~k.isin("_latency_ms_", "_rs_"),
        ).alias("metadata"),
    )
    if cfg.purge_404:
        out = out.filter(F.col("status") != "db_gone")
    return out
