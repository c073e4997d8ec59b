"""Command-line surface mirroring the reference's ``bin/nutch`` dispatch.

The reference front door is a shell script that maps command words to Tool
classes (/root/reference/src/bin/nutch:239-330) plus the looping crawl driver
(/root/reference/src/bin/crawl).  Here every command maps to the equivalent
DataFrame operator; persistent stores (crawldb, linkdb, hostdb, webgraphdb)
are Parquet directories and a *segment* is a directory with the reference's
sub-table layout (crawl_generate / crawl_fetch / crawl_parse / parse_data /
parse_text — SURVEY.md §1.1), so a Nutch user's muscle memory transfers:

    python -m nutch_spark inject crawl/crawldb seeds/
    python -m nutch_spark generate crawl/crawldb crawl/segments -topN 1000
    python -m nutch_spark fetch crawl/segments/20260101000000 -threads 8
    python -m nutch_spark parse crawl/segments/20260101000000
    python -m nutch_spark updatedb crawl/crawldb crawl/segments/20260101000000
    python -m nutch_spark invertlinks crawl/linkdb -dir crawl/segments
    python -m nutch_spark readdb crawl/crawldb -stats

Hadoop's ``-D property=value`` generic options are honored through
``NutchConfig.from_properties`` (config.py PROPERTY_MAP — the same
nutch-default.xml names).  Commands that exist in bin/nutch but are
JVM-plugin machinery (``plugin``, ``junit``) fail with a pointer to the
Python-native equivalent.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

# ---------------------------------------------------------------------------
# Lazy imports: `python -m nutch_spark <cmd> -h` must not start a JVM.
# ---------------------------------------------------------------------------


def _spark():
    from nutch_spark.session import get_spark

    return get_spark("nutch_spark-cli")


def _cfg(args):
    from nutch_spark.config import DEFAULT, NutchConfig

    props = {}
    for kv in getattr(args, "D", None) or []:
        if "=" not in kv:
            raise SystemExit(f"bad -D option {kv!r} (want property=value)")
        k, v = kv.split("=", 1)
        props[k] = v
    return NutchConfig.from_properties(props) if props else DEFAULT


def _exists(path: str) -> bool:
    return os.path.isdir(path) and bool(
        glob.glob(os.path.join(path, "*.parquet"))
        or glob.glob(os.path.join(path, "_SUCCESS"))
    )


def _read_db(spark, path: str, schema):
    """Read a parquet store; a missing path is an empty table (first inject)."""
    if _exists(path):
        return spark.read.parquet(path)
    return spark.createDataFrame([], schema)


def _install(df, path: str) -> None:
    from nutch_spark.pipeline import atomic_install

    atomic_install(df, path)


def _segments(args) -> list[str]:
    """Resolve ``(-dir <segments_dir> | <seg1> <seg2> ...)`` to segment paths
    (the reference tools' shared argument convention, e.g. CrawlDb.java
    main / LinkDb.java main)."""
    segs = []
    if getattr(args, "dir", None):
        segs += sorted(
            p for p in glob.glob(os.path.join(args.dir, "*")) if os.path.isdir(p)
        )
    segs += list(getattr(args, "segments", []) or [])
    if not segs:
        raise SystemExit("no segments given (use -dir <segments_dir> or list them)")
    return segs


def _seg_part(spark, seg: str, part: str):
    path = os.path.join(seg, part)
    if not _exists(path):
        return None
    df = spark.read.parquet(path)
    if "segment_id" not in df.columns:
        from pyspark.sql import functions as F

        df = df.withColumn("segment_id", F.lit(os.path.basename(seg)))
    return df


def _union_parts(spark, segs: list[str], part: str):
    from nutch_spark.operators.merge import union_by_name

    dfs = [d for d in (_seg_part(spark, s, part) for s in segs) if d is not None]
    return union_by_name(dfs) if dfs else None


def _new_segment_name() -> str:
    # Generator.generateSegmentName (Generator.java:579-584): yyyyMMddHHmmss
    return time.strftime("%Y%m%d%H%M%S", time.gmtime())


def _dump(df, out: str, fmt: str) -> None:
    """CrawlDbReader -format normal|csv|json (CrawlDbReader.java:520-540)."""
    from nutch_spark.sources import sinks

    if fmt == "csv":
        sinks.write_csv(df, out)
    elif fmt == "json":
        sinks.write_jsonl(df, out)
    else:
        sinks.write_text_dump(df, out)


def _print_rows(df, limit: int = 20) -> None:
    for row in df.limit(limit).collect():
        print(json.dumps(row.asDict(recursive=True), default=str, sort_keys=True))


# ---------------------------------------------------------------------------
# Protocol dispatch for real fetches (protocol-http/file/ftp plugins).
# Module-level so it pickles into the Arrow fetch workers.
# ---------------------------------------------------------------------------


def auto_fetch_fn(url: str, **kw) -> dict:
    """Scheme-dispatching fetch: the ProtocolFactory analogue
    (protocol/ProtocolFactory.java:61-98 picks the plugin by URL scheme).
    Conditional-fetch/cookie kwargs forward to the HTTP plugin only (the
    file/ftp protocols have no request headers)."""
    from nutch_spark.operators import fetcher as _f

    scheme = url.split(":", 1)[0].lower() if ":" in url else ""
    if scheme in ("http", "https"):
        return _f.http_fetch_fn(url, **kw)
    if scheme == "file":
        return _f.file_fetch_fn(url)
    if scheme == "ftp":
        return _f.ftp_fetch_fn(url)
    return {
        "status": "fetch_gone",
        "content": None,
        "content_type": None,
        "metadata": {"_unsupported_protocol_": scheme},
    }


def _resolve_fetch_fn(name: str, cfg=None):
    import functools

    from nutch_spark.operators import fetcher as _f

    http_fn = _f.http_fetch_fn
    if cfg is not None:
        # bind the conf-driven request surface (HttpBase.setConf parity):
        # proxy routing + exception list, Accept* header values
        kw = {
            "accept": cfg.http_accept,
            "accept_language": cfg.http_accept_language,
            "accept_charset": cfg.http_accept_charset,
        }
        if (cfg.http_proxy_host or "").strip():
            kw["proxy"] = f"{cfg.http_proxy_host.strip()}:{cfg.http_proxy_port}"
            kw["proxy_exceptions"] = {
                h.strip()
                for h in cfg.http_proxy_exception_list.split(",")
                if h.strip()
            }
        http_fn = functools.partial(_f.http_fetch_fn, **kw)

    def auto(url: str, **akw) -> dict:
        scheme = url.split(":", 1)[0].lower() if ":" in url else ""
        if scheme in ("http", "https"):
            return http_fn(url, **akw)
        return auto_fetch_fn(url, **akw)

    return {
        "auto": auto,
        "synthetic": _f.synthetic_fetch_fn,
        "http": http_fn,
        "file": _f.file_fetch_fn,
        "ftp": _f.ftp_fetch_fn,
    }[name]


# ---------------------------------------------------------------------------
# Commands — crawl lifecycle
# ---------------------------------------------------------------------------


def cmd_inject(args) -> int:
    """Injector.java main (usage :430-441): inject <crawldb> <url_dir>
    [-overwrite|-update] [-noNormalize] [-noFilter]."""
    from dataclasses import replace

    from nutch_spark.operators.inject import inject
    from nutch_spark.schemas import CRAWLDB
    from nutch_spark.sources.seeds import read_seeds

    from nutch_spark.functions.urls import url_valid

    spark = _spark()
    cfg = _cfg(args)
    if args.overwrite or args.update:
        cfg = replace(cfg, inject_overwrite=args.overwrite, inject_update=args.update)
    db = _read_db(spark, args.crawldb, CRAWLDB)
    seeds = read_seeds(spark, args.url_dir)
    # the reference runs the urlfilter chain on seeds by DEFAULT
    # (Injector.java:113-180, -noFilter disables); the validator chain here
    # mirrors the stock regex-urlfilter posture — it admits http/https/ftp
    # only, so file:// seed corpora need -noFilter (as they need an edited
    # regex-urlfilter.txt in the reference)
    out = inject(
        db,
        seeds,
        cfg=cfg,
        normalize=not args.noNormalize,
        filter_predicate=None if args.noFilter else url_valid,
    )
    _install(out, args.crawldb)
    print(f"Injector: done — crawldb now at {args.crawldb}")
    return 0


def cmd_generate(args) -> int:
    """Generator.java main (usage :1188): generate <crawldb> <segments_dir>
    [-hostdb <hostdb>] [-topN N] [-numFetchers n] [-expr <jexl>]
    [-maxCount k] [-maxCountExpr <jexl>].

    ``-expr`` is the reference's GENERATOR_EXPR: a JEXL row FILTER over the
    CrawlDatum (Generator.java:114,225-240), translated via jexl_to_sql;
    ``-maxCountExpr`` is the hostdb-driven per-host quota expression
    (generate.max.count.expr)."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from nutch_spark.functions.jexl import jexl_to_sql
    from nutch_spark.operators.generate import generate
    from nutch_spark.schemas import CRAWLDB

    spark = _spark()
    cfg = _cfg(args)
    if args.maxCount is not None:
        cfg = replace(cfg, generate_max_count=args.maxCount)
    db = _read_db(spark, args.crawldb, CRAWLDB)
    hostdb = spark.read.parquet(args.hostdb) if args.hostdb else None
    fl = generate(
        db,
        args.topN,
        cfg=cfg,
        num_lists=args.numFetchers,
        hostdb=hostdb,
        extra_filter=F.expr(jexl_to_sql(args.expr)) if args.expr else None,
        max_count_expr=args.maxCountExpr,
    )
    name = args.segmentName or _new_segment_name()
    seg = os.path.join(args.segments_dir, name)
    fl.write.mode("overwrite").parquet(os.path.join(seg, "crawl_generate"))
    print(seg)
    return 0


def cmd_freegen(args) -> int:
    """FreeGenerator.java: freegen <input_dir> <segments_dir>
    [-filter] [-normalize] — fetchlist straight from a URL list."""
    from nutch_spark.operators.generate import free_generate
    from nutch_spark.sources.seeds import read_seeds

    spark = _spark()
    urls = read_seeds(spark, args.input_dir).select("url")
    fl = free_generate(
        urls, cfg=_cfg(args), normalize=args.normalize, filter_urls=args.filter
    )
    seg = os.path.join(args.segments_dir, args.segmentName or _new_segment_name())
    fl.write.mode("overwrite").parquet(os.path.join(seg, "crawl_generate"))
    print(seg)
    return 0


def cmd_fetch(args) -> int:
    """Fetcher.java main (usage :545-556): fetch <segment> [-threads n].

    ``-fetcher`` picks the protocol layer: ``auto`` (scheme dispatch, the
    ProtocolFactory default), ``http``/``file``/``ftp`` (force one plugin),
    or ``synthetic`` (the deterministic test corpus)."""
    from pyspark.sql import functions as F

    from nutch_spark.operators.fetcher import fetch

    spark = _spark()
    fl = _seg_part(spark, args.segment, "crawl_generate")
    if fl is None:
        raise SystemExit(f"no crawl_generate under {args.segment}")
    if args.robots:
        from nutch_spark.operators.robots import fetch_with_robots

        cfg = _cfg(args)
        log, robots_log = fetch_with_robots(
            fl,
            cfg=cfg,
            fetch_fn=_resolve_fetch_fn(args.fetcher, cfg),
            agent=args.agent,
            crawl_delay_s=args.delay,
            threads=args.threads,
            threads_per_queue=cfg.fetcher_threads_per_queue,
            min_crawl_delay_s=cfg.fetcher_server_min_delay,
            time_limit_s=args.timelimit * 60 if args.timelimit is not None else None,
            max_redirects=args.redirects,
        )
        robots_log.write.mode("overwrite").parquet(
            os.path.join(args.segment, "robots")
        )
    else:
        cfg = _cfg(args)
        log = fetch(
            fl,
            cfg=cfg,
            fetch_fn=_resolve_fetch_fn(args.fetcher, cfg),
            crawl_delay_s=args.delay,
            threads=args.threads,
            threads_per_queue=cfg.fetcher_threads_per_queue,
            min_crawl_delay_s=cfg.fetcher_server_min_delay,
            time_limit_s=args.timelimit * 60 if args.timelimit is not None else None,
            max_redirects=args.redirects,
        )
    log = log.withColumn("segment_id", F.lit(os.path.basename(args.segment)))
    log.write.mode("overwrite").parquet(os.path.join(args.segment, "crawl_fetch"))
    print(f"Fetcher: done — {os.path.join(args.segment, 'crawl_fetch')}")
    return 0


def cmd_parse(args) -> int:
    """ParseSegment.java main: parse <segment>.

    Writes the reference's three parse sub-tables: parse_data (title,
    outlinks, meta), parse_text, and crawl_parse (the linked/signature
    carrier rows ParseOutputFormat emits, :150-362)."""
    from pyspark.sql import functions as F

    from nutch_spark.operators.fetcher import emit_parse_rows, parse
    from nutch_spark.operators.parse_html import parse_html

    spark = _spark()
    cfg = _cfg(args)
    log = _seg_part(spark, args.segment, "crawl_fetch")
    if log is None:
        raise SystemExit(f"no crawl_fetch under {args.segment}")
    seg_id = os.path.basename(args.segment)

    if args.parser == "html":
        parsed = parse_html(log, cfg=cfg)
        charset = F.create_map(F.lit("charset"), F.coalesce("charset", F.lit("")))
        parse_meta = F.map_concat(
            F.coalesce("meta", F.create_map().cast("map<string,string>")), charset
        )
    else:
        parsed = parse(log, cfg=cfg)
        parse_meta = F.create_map().cast("map<string,string>")

    ctypes = log.select("url", "content_type")
    parse_data = (
        parsed.join(ctypes, "url", "left")
        .select(
            "url",
            F.lit(seg_id).alias("segment_id"),
            "title",
            "outlinks",
            F.map_filter(
                F.create_map(
                    F.lit("Content-Type"), F.coalesce("content_type", F.lit(""))
                ),
                lambda _, v: v != "",
            ).alias("content_meta"),
            parse_meta.alias("parse_meta"),
        )
    )
    parse_text = parsed.select(
        "url",
        F.lit(seg_id).alias("segment_id"),
        F.col("parse_text").alias("text"),
    )
    # OPIC passScoreBeforeParsing: each outlink's share divides its parent's
    # generate-time score; freegen fetchlists carry none, and an injected
    # score of 1.0 stands in (FreeGenerator)
    fl = _seg_part(spark, args.segment, "crawl_generate")
    scored = fl is not None and "score" in fl.columns
    crawl_parse = emit_parse_rows(
        parsed, fl.select("url", "score") if scored else None, cfg=cfg
    )
    parse_data.write.mode("overwrite").parquet(os.path.join(args.segment, "parse_data"))
    parse_text.write.mode("overwrite").parquet(os.path.join(args.segment, "parse_text"))
    crawl_parse.write.mode("overwrite").parquet(
        os.path.join(args.segment, "crawl_parse")
    )
    print(f"ParseSegment: done — {args.segment}")
    return 0


def cmd_updatedb(args) -> int:
    """CrawlDb.java main (usage :160-170): updatedb <crawldb>
    (-dir <segments> | <seg> ...) [-noAdditions]."""
    from dataclasses import replace

    from nutch_spark.operators.updatedb import update_crawldb
    from nutch_spark.schemas import CRAWLDB

    spark = _spark()
    cfg = _cfg(args)
    if args.noAdditions:
        cfg = replace(cfg, additions_allowed=False)
    segs = _segments(args)
    fetch_log = _union_parts(spark, segs, "crawl_fetch")
    if fetch_log is None:
        raise SystemExit("no crawl_fetch data in the given segments")
    fetch_rows = fetch_log.select(
        "url", "status", "fetch_time", "signature", "metadata"
    )
    parse_emits = _union_parts(spark, segs, "crawl_parse")
    if parse_emits is not None:
        parse_emits = parse_emits.drop("segment_id")
    db = _read_db(spark, args.crawldb, CRAWLDB)
    out = update_crawldb(db, fetch_rows, parse_emits, cfg=cfg, schedule=args.schedule)
    _install(out, args.crawldb)
    print(f"CrawlDb update: done — {args.crawldb}")
    return 0


def cmd_invertlinks(args) -> int:
    """LinkDb.java main (usage :310-320): invertlinks <linkdb>
    (-dir <segments> | <seg> ...)."""
    from nutch_spark.operators.invertlinks import invert_links
    from nutch_spark.operators.merge import merge_linkdbs

    spark = _spark()
    parse_data = _union_parts(spark, _segments(args), "parse_data")
    if parse_data is None:
        raise SystemExit("no parse_data in the given segments")
    new = invert_links(parse_data, cfg=_cfg(args))
    if _exists(args.linkdb):
        new = merge_linkdbs([spark.read.parquet(args.linkdb), new], cfg=_cfg(args))
    _install(new, args.linkdb)
    print(f"LinkDb: done — {args.linkdb}")
    return 0


def cmd_dedup(args) -> int:
    """DeduplicationJob.java main (usage :270-280): dedup <crawldb>
    [-group none|host|domain] [-compareOrder a,b,c]."""
    from dataclasses import replace

    from nutch_spark.operators.dedup import deduplicate
    from nutch_spark.schemas import CRAWLDB

    spark = _spark()
    cfg = _cfg(args)
    if args.group:
        cfg = replace(cfg, dedup_group_mode=args.group)
    if args.compareOrder:
        cfg = replace(cfg, dedup_compare_order=tuple(args.compareOrder.split(",")))
    db = _read_db(spark, args.crawldb, CRAWLDB)
    _install(deduplicate(db, cfg=cfg), args.crawldb)
    print(f"DeduplicationJob: done — {args.crawldb}")
    return 0


def cmd_index(args) -> int:
    """IndexingJob.java main (usage :320-334): index <crawldb>
    [-linkdb <linkdb>] (-dir <segments> | <seg> ...) -out <dir>
    [-writer jsonl|csv] [-deleteGone].

    The reference delivers documents to the configured IndexWriter plugins;
    offline writers (jsonl/csv) land in ``-out``.  Live connectors (Solr,
    Elasticsearch, OpenSearch, Kafka, RabbitMQ, CloudSearch —
    sources/indexers.py) are library surface: wire them via
    ``index_documents`` with endpoint credentials."""
    from pyspark.sql import functions as F

    from nutch_spark.operators.indexing import indexing_join
    from nutch_spark.schemas import CRAWLDB
    from nutch_spark.sources.indexers import (
        CsvIndexWriter,
        JsonlIndexWriter,
        index_documents,
    )

    spark = _spark()
    segs = _segments(args)
    fetch_log = _union_parts(spark, segs, "crawl_fetch")
    parse_data = _union_parts(spark, segs, "parse_data")
    parse_text = _union_parts(spark, segs, "parse_text")
    if fetch_log is None or parse_data is None or parse_text is None:
        raise SystemExit("index needs crawl_fetch + parse_data + parse_text")
    db = _read_db(spark, args.crawldb, CRAWLDB)
    linkdb = spark.read.parquet(args.linkdb) if args.linkdb else None
    docs = indexing_join(db, fetch_log, parse_data, parse_text, linkdb, cfg=_cfg(args))
    if not args.deleteGone:
        docs = docs.filter(F.col("action") != "DELETE")
    os.makedirs(args.out, exist_ok=True)
    # drop map/array columns for the flat offline writers
    flat = [
        f.name
        for f in docs.schema.fields
        if f.dataType.typeName() not in ("map", "array", "struct")
    ]
    out_dir = args.out
    factory = {
        "jsonl": lambda: JsonlIndexWriter(out_dir),
        "csv": lambda: CsvIndexWriter(out_dir, flat),
    }[args.writer]
    index_documents(docs.select(*flat), {args.writer: factory})
    print(f"Indexer: done — {args.out}")
    return 0


def cmd_clean(args) -> int:
    """CleaningJob.java main: clean <crawldb> -out <dir> — export the
    gone/duplicate/redirect urls an index cleaner must delete."""
    from nutch_spark.operators.indexing import cleaning_targets
    from nutch_spark.schemas import CRAWLDB

    spark = _spark()
    db = _read_db(spark, args.crawldb, CRAWLDB)
    targets = cleaning_targets(db)
    _dump(targets, args.out, args.format)
    print(f"CleaningJob: wrote deletion list — {args.out}")
    return 0


# ---------------------------------------------------------------------------
# Commands — readers / mergers / stats
# ---------------------------------------------------------------------------


def cmd_readdb(args) -> int:
    """CrawlDbReader.java main (usage :700-730): readdb <crawldb>
    (-stats | -dump <out> [-format ...] | -topN <k> <out> [min] | -url <url>)."""
    from pyspark.sql import functions as F

    from nutch_spark.operators.stats import crawldb_stats, top_n
    from nutch_spark.schemas import CRAWLDB

    spark = _spark()
    db = _read_db(spark, args.crawldb, CRAWLDB)
    if args.stats:
        sections = crawldb_stats(db, cfg=_cfg(args))
        g = sections["global"].collect()[0].asDict()
        print("CrawlDb statistics start: " + args.crawldb)
        print(f"TOTAL urls:\t{g['total_urls']}")
        for k in ("min_score", "avg_score", "max_score"):
            print(f"{k}:\t{g[k]}")
        for row in sections["status"].orderBy("status").collect():
            print(f"status {row['status']}:\t{row['count']}")
        for row in sections["retries"].orderBy("retries").collect():
            print(f"retry {row['retries']}:\t{row['count']}")
        print("CrawlDb statistics: done")
    elif args.dump:
        # CrawlDbReader -dump filters (:1102-1122): -regex on the url,
        # -status equality, -retry minimum, -expr JEXL over the datum,
        # -sample deterministic fraction
        out_df = db
        if args.regex:
            # reference semantics are FULL-string match
            # (CrawlDbReader.java:939-941 Pattern.matches), not find
            out_df = out_df.filter(F.col("url").rlike(f"^(?:{args.regex})$"))
        if args.status:
            # equalsIgnoreCase (CrawlDbReader.java:933-935)
            out_df = out_df.filter(F.lower("status") == args.status.lower())
        if args.retry is not None:
            out_df = out_df.filter(F.col("retries") >= args.retry)
        if args.expr:
            from nutch_spark.functions.jexl import jexl_to_sql

            out_df = out_df.filter(F.expr(jexl_to_sql(args.expr)))
        if args.sample is not None:
            # hash-deterministic sample (the f8/pmod idiom), not rand(): a
            # re-run dumps the same rows; round() avoids float truncation
            out_df = out_df.filter(
                F.pmod(F.xxhash64("url"), F.lit(10_000))
                < round(args.sample * 10_000)
            )
        _dump(out_df, args.dump, args.format)
        print(f"CrawlDb dump: {args.dump}")
    elif args.topN:
        k, out = int(args.topN[0]), args.topN[1]
        minimum = float(args.topN[2]) if len(args.topN) > 2 else None
        _dump(top_n(db, k, min_value=minimum), out, args.format)
        print(f"CrawlDb topN: {out}")
    elif args.url:
        _print_rows(db.filter(F.col("url") == args.url), 1)
    else:
        raise SystemExit("readdb needs one of -stats | -dump | -topN | -url")
    return 0


def cmd_readlinkdb(args) -> int:
    """LinkDbReader.java main: readlinkdb <linkdb> (-dump <out> | -url <url>)."""
    from pyspark.sql import functions as F

    spark = _spark()
    db = spark.read.parquet(args.linkdb)
    if args.dump:
        if args.regex:  # LinkDbReader -regex, FULL match (LinkDbReader.java:143)
            db = db.filter(F.col("to_url").rlike(f"^(?:{args.regex})$"))
        _dump(db.select("to_url", F.to_json("inlinks").alias("inlinks")), args.dump, args.format)
        print(f"LinkDb dump: {args.dump}")
    elif args.url:
        _print_rows(db.filter(F.col("to_url") == args.url), 1)
    else:
        raise SystemExit("readlinkdb needs -dump or -url")
    return 0


_SEG_PARTS = ("crawl_generate", "crawl_fetch", "crawl_parse", "parse_data", "parse_text")


def cmd_readseg(args) -> int:
    """SegmentReader.java main (usage :600-630): readseg
    (-dump <segment> <out> [-nocontent ...] | -list <segment> | -get <segment> <url>)."""
    from pyspark.sql import functions as F

    spark = _spark()
    if args.list:
        for seg in args.list:
            counts = {}
            for part in _SEG_PARTS:
                df = _seg_part(spark, seg, part)
                counts[part] = df.count() if df is not None else "-"
            print(json.dumps({"segment": os.path.basename(seg), **counts}))
    elif args.dump:
        seg, out = args.dump
        skips = {p for p in _SEG_PARTS if getattr(args, "no" + p.replace("_", ""), False)}
        for part in _SEG_PARTS:
            if part in skips:
                continue
            df = _seg_part(spark, seg, part)
            if df is not None:
                _dump(df, os.path.join(out, part), args.format)
        print(f"SegmentReader dump: {out}")
    elif args.get:
        seg, url = args.get
        for part in _SEG_PARTS:
            df = _seg_part(spark, seg, part)
            if df is not None and "url" in df.columns:
                _print_rows(df.filter(F.col("url") == url), 5)
    else:
        raise SystemExit("readseg needs -dump, -list or -get")
    return 0


def cmd_mergedb(args) -> int:
    """CrawlDbMerger.java main: mergedb <output> <db1> <db2> ..."""
    from nutch_spark.operators.merge import merge_crawldbs

    spark = _spark()
    dbs = [spark.read.parquet(p) for p in args.dbs]
    _install(merge_crawldbs(dbs, cfg=_cfg(args)), args.output)
    print(f"CrawlDbMerger: done — {args.output}")
    return 0


def cmd_mergelinkdb(args) -> int:
    """LinkDbMerger.java main: mergelinkdb <output> <db1> <db2> ..."""
    from nutch_spark.operators.merge import merge_linkdbs

    spark = _spark()
    dbs = [spark.read.parquet(p) for p in args.dbs]
    _install(merge_linkdbs(dbs, cfg=_cfg(args)), args.output)
    print(f"LinkDbMerger: done — {args.output}")
    return 0


def cmd_mergesegs(args) -> int:
    """SegmentMerger.java main (usage :700-714): mergesegs <output_dir>
    (-dir <segments> | <seg> ...) [-slice n]."""
    from nutch_spark.operators.merge import merge_segment_dirs, slice_segments

    spark = _spark()
    segs = _segments(args)
    seg_dicts = []
    for seg in segs:
        parts = {
            p: df for p in _SEG_PARTS if (df := _seg_part(spark, seg, p)) is not None
        }
        if parts:
            seg_dicts.append(parts)
    merged = merge_segment_dirs(seg_dicts, segment="segment_id")
    out_seg = os.path.join(args.output_dir, args.segmentName or _new_segment_name())
    for part, df in merged.items():
        if args.slice:
            df = slice_segments(df, args.slice)
        df.write.mode("overwrite").parquet(os.path.join(out_seg, part))
    print(out_seg)
    return 0


def cmd_domainstats(args) -> int:
    """DomainStatistics.java main: domainstats <crawldb> <out>
    <host|domain|suffix|tld> [-numReducers n]."""
    from nutch_spark.operators.stats import domain_statistics
    from nutch_spark.schemas import CRAWLDB

    spark = _spark()
    db = _read_db(spark, args.crawldb, CRAWLDB)
    _dump(domain_statistics(db, args.mode), args.out, args.format)
    print(f"DomainStatistics: {args.out}")
    return 0


def cmd_protocolstats(args) -> int:
    """ProtocolStatusStatistics.java main: protocolstats <crawldb> <out>."""
    from nutch_spark.operators.stats import protocol_status_stats
    from nutch_spark.schemas import CRAWLDB

    spark = _spark()
    db = _read_db(spark, args.crawldb, CRAWLDB)
    _dump(protocol_status_stats(db), args.out, args.format)
    print(f"ProtocolStatusStatistics: {args.out}")
    return 0


def cmd_crawlcomplete(args) -> int:
    """CrawlCompletionStats.java main: crawlcomplete <crawldb> <out>
    [-mode host|domain]."""
    from nutch_spark.operators.stats import crawl_completion_stats
    from nutch_spark.schemas import CRAWLDB

    spark = _spark()
    db = _read_db(spark, args.crawldb, CRAWLDB)
    _dump(crawl_completion_stats(db, args.mode), args.out, args.format)
    print(f"CrawlCompletionStats: {args.out}")
    return 0


# ---------------------------------------------------------------------------
# Commands — webgraph family
# ---------------------------------------------------------------------------


def cmd_webgraph(args) -> int:
    """WebGraph.java main (usage :720-735): webgraph -webgraphdb <out>
    (-dir <segments> | -segment <seg> ...)."""
    from nutch_spark.operators.webgraph import build_edges, node_degrees

    spark = _spark()
    parse_data = _union_parts(spark, _segments(args), "parse_data")
    if parse_data is None:
        raise SystemExit("no parse_data in the given segments")
    edges = build_edges(parse_data, cfg=_cfg(args))
    nodes = node_degrees(edges)
    edges.write.mode("overwrite").parquet(os.path.join(args.webgraphdb, "outlinks"))
    nodes.write.mode("overwrite").parquet(os.path.join(args.webgraphdb, "nodes"))
    print(f"WebGraph: done — {args.webgraphdb}")
    return 0


def cmd_linkrank(args) -> int:
    """LinkRank.java main: linkrank -webgraphdb <db> [-iterations n]."""
    from dataclasses import replace

    from nutch_spark.operators.linkrank import linkrank

    spark = _spark()
    cfg = _cfg(args)
    if args.iterations:
        cfg = replace(cfg, linkrank_iterations=args.iterations)
    edges = spark.read.parquet(os.path.join(args.webgraphdb, "outlinks"))
    scores = linkrank(edges, cfg=cfg)
    nodes_path = os.path.join(args.webgraphdb, "nodes")
    nodes = spark.read.parquet(nodes_path).drop("score").join(scores, "url", "left")
    _install(nodes, nodes_path)
    print(f"LinkRank: done — {nodes_path}")
    return 0


def cmd_scoreupdater(args) -> int:
    """ScoreUpdater.java main: scoreupdater -crawldb <db> -webgraphdb <db>."""
    from nutch_spark.operators.linkrank import update_scores
    from nutch_spark.schemas import CRAWLDB

    spark = _spark()
    db = _read_db(spark, args.crawldb, CRAWLDB)
    nodes = spark.read.parquet(os.path.join(args.webgraphdb, "nodes"))
    _install(update_scores(db, nodes, cfg=_cfg(args)), args.crawldb)
    print(f"ScoreUpdater: done — {args.crawldb}")
    return 0


def cmd_nodedumper(args) -> int:
    """NodeDumper.java main (usage :300-320): nodedumper -webgraphdb <db>
    -out <out> (-scores | -inlinks | -outlinks) [-topn N]."""
    from nutch_spark.operators.webgraph import top_nodes

    from nutch_spark.operators.webgraph import node_rollup

    spark = _spark()
    nodes = spark.read.parquet(os.path.join(args.webgraphdb, "nodes"))
    metric = (
        "score" if args.scores else "num_inlinks" if args.inlinks else "num_outlinks"
    )
    if args.group:  # NodeDumper -group host|domain [-method sum|max]
        out = node_rollup(nodes, by=args.group, metric=metric, agg=args.method)
        _dump(out, args.out, args.format)
        print(f"NodeDumper: {args.out}")
        return 0
    out = top_nodes(nodes, args.topn, metric) if args.topn else nodes
    _dump(out.select("url", metric), args.out, args.format)
    print(f"NodeDumper: {args.out}")
    return 0


def cmd_updatehostdb(args) -> int:
    """UpdateHostDb.java main: updatehostdb -crawldb <db> -hostdb <out>."""
    from nutch_spark.operators.hostdb import update_hostdb
    from nutch_spark.schemas import CRAWLDB

    spark = _spark()
    db = _read_db(spark, args.crawldb, CRAWLDB)
    prev = spark.read.parquet(args.hostdb) if _exists(args.hostdb) else None
    _install(update_hostdb(db, prev, cfg=_cfg(args)), args.hostdb)
    print(f"UpdateHostDb: done — {args.hostdb}")
    return 0


def cmd_readhostdb(args) -> int:
    """ReadHostDb.java main (:85-130): readhostdb <hostdb> <out>
    [-dumpHostnames] [-expr <jexl>].

    ``-expr`` filters on the HostDatum fields (the same variable names the
    reference's JexlContext binds: unfetched, fetched, gone, redir_temp,
    redir_perm, not_modified — our hostdb column names)."""
    from pyspark.sql import functions as F

    spark = _spark()
    db = spark.read.parquet(args.hostdb)
    if args.expr:
        from nutch_spark.functions.jexl import jexl_to_sql

        db = db.filter(F.expr(jexl_to_sql(args.expr)))
    if args.dumpHostnames:
        db = db.select("host")
    _dump(db, args.out, args.format)
    print(f"ReadHostDb: {args.out}")
    return 0


# ---------------------------------------------------------------------------
# Commands — exports
# ---------------------------------------------------------------------------


def cmd_warc(args) -> int:
    """WARCExporter.java main: warc <output_dir> (-dir | <seg> ...)."""
    from nutch_spark.sources.exports import write_warc

    spark = _spark()
    fetch_log = _union_parts(spark, _segments(args), "crawl_fetch")
    if fetch_log is None:
        raise SystemExit("no crawl_fetch in the given segments")
    write_warc(fetch_log, args.output_dir)
    print(f"WARCExporter: {args.output_dir}")
    return 0


def cmd_commoncrawldump(args) -> int:
    """CommonCrawlDataDumper.java main: commoncrawldump <output_dir>
    (-dir | <seg> ...)."""
    from nutch_spark.sources.exports import write_commoncrawl_json

    from pyspark.sql import functions as F

    spark = _spark()
    segs = _segments(args)
    fetch_log = _union_parts(spark, segs, "crawl_fetch")
    parse_data = _union_parts(spark, segs, "parse_data")
    parse_text = _union_parts(spark, segs, "parse_text")
    if fetch_log is None or parse_data is None:
        raise SystemExit("commoncrawldump needs crawl_fetch + parse_data")
    # the exporter's parse_data contract is the single-table shape with an
    # inline parse_text column; recombine the segment's split sub-tables
    if parse_text is not None:
        parse_data = parse_data.join(
            parse_text.select("url", F.col("text").alias("parse_text")), "url", "left"
        )
    else:
        parse_data = parse_data.withColumn("parse_text", F.lit(None).cast("string"))
    write_commoncrawl_json(fetch_log, parse_data, args.output_dir)
    print(f"CommonCrawlDataDumper: {args.output_dir}")
    return 0


def cmd_dump(args) -> int:
    """FileDumper.java main: dump <output_dir> (-dir | <seg> ...) —
    fetched content as one record per url (jsonl; the reference writes one
    FILE per url named by md5, FileDumper.java:180-260 — at any real scale
    that's an inode bomb, so the engine's dump is line-records instead)."""
    from nutch_spark.sources.sinks import write_jsonl

    spark = _spark()
    fetch_log = _union_parts(spark, _segments(args), "crawl_fetch")
    if fetch_log is None:
        raise SystemExit("no crawl_fetch in the given segments")
    write_jsonl(
        fetch_log.select("url", "content_type", "content"), args.output_dir
    )
    print(f"FileDumper: {args.output_dir}")
    return 0


def cmd_sitemap(args) -> int:
    """SitemapProcessor.java main: sitemap <crawldb> -sitemap <file> ... —
    parse sitemap XML (local files or previously fetched) and inject the
    discovered urls."""
    from pyspark.sql import functions as F

    from nutch_spark.operators.inject import inject
    from nutch_spark.schemas import CRAWLDB
    from nutch_spark.sources.exports import parse_sitemap

    spark = _spark()
    content = (
        spark.read.text(args.sitemap, wholetext=True)
        .select(F.col("value").alias("content"))
    )
    seeds = parse_sitemap(content)
    db = _read_db(spark, args.crawldb, CRAWLDB)
    _install(inject(db, seeds, cfg=_cfg(args)), args.crawldb)
    print(f"SitemapProcessor: done — {args.crawldb}")
    return 0


# ---------------------------------------------------------------------------
# Commands — checkers (single-url debugging tools)
# ---------------------------------------------------------------------------


def _one_url_df(spark, url: str):
    return spark.createDataFrame([(url,)], "url string")


def cmd_parsechecker(args) -> int:
    """ParserChecker.java main: parsechecker <url> — fetch one url and show
    the parse outcome."""
    from nutch_spark.operators.parse_html import decode_content, parse_html_page

    res = auto_fetch_fn(args.url)
    print(f"fetch status: {res['status']}")
    if res.get("content") is None:
        return 0 if res["status"] == "fetch_success" else 1
    content = res["content"]
    if isinstance(content, bytes):
        content, _ = decode_content(content, res.get("content_type"))
    parsed = parse_html_page(args.url, content)
    print(f"title: {parsed['title']}")
    for k, v in sorted((parsed.get("meta") or {}).items()):
        print(f"meta {k}: {v}")
    for to_url, anchor in parsed["outlinks"][: args.dumpLinks]:
        print(f"outlink: {to_url} anchor: {anchor!r}")
    print(f"text: {parsed['text'][:500]}")
    return 0


def cmd_indexchecker(args) -> int:
    """IndexingFiltersChecker.java main: indexchecker <url> — show the
    document fields the indexing join would emit for one url."""
    from pyspark.sql import functions as F

    from nutch_spark.operators.fetcher import fetch
    from nutch_spark.operators.indexing import indexing_join
    from nutch_spark.operators.parse_html import parse_html
    from nutch_spark.schemas import CRAWLDB

    spark = _spark()
    fl = _one_url_df(spark, args.url)
    log = fetch(fl, fetch_fn=auto_fetch_fn).withColumn("segment_id", F.lit("check"))
    parsed = parse_html(log)
    parse_data = parsed.select(
        "url",
        F.lit("check").alias("segment_id"),
        "title",
        "outlinks",
        F.create_map().cast("map<string,string>").alias("content_meta"),
        F.coalesce("meta", F.create_map()).alias("parse_meta"),
    )
    parse_text = parsed.select(
        "url", F.lit("check").alias("segment_id"), F.col("parse_text").alias("text")
    )
    db = spark.createDataFrame([], CRAWLDB)
    docs = indexing_join(db, log, parse_data, parse_text, None)
    _print_rows(
        docs.select(
            "url", "action", "title_indexed", "content_type", "boost", "digest"
        ),
        5,
    )
    return 0


def cmd_filterchecker(args) -> int:
    """URLFilterChecker.java main: filterchecker (-stdin | <url> ...) —
    prints +url / -url exactly like the reference tool."""
    from pyspark.sql import functions as F

    from nutch_spark.functions.urls import url_valid

    spark = _spark()
    urls = list(args.urls) if args.urls else [l.strip() for l in sys.stdin if l.strip()]
    df = spark.createDataFrame([(u,) for u in urls], "url string").withColumn(
        "ok", url_valid(F.col("url"))
    )
    for row in df.collect():
        print(("+" if row["ok"] else "-") + row["url"])
    return 0


def cmd_normalizerchecker(args) -> int:
    """URLNormalizerChecker.java main: normalizerchecker (-stdin | <url> ...)."""
    from pyspark.sql import functions as F

    from nutch_spark.functions.urls import normalize_url

    spark = _spark()
    urls = list(args.urls) if args.urls else [l.strip() for l in sys.stdin if l.strip()]
    df = spark.createDataFrame([(u,) for u in urls], "url string").withColumn(
        "normalized", normalize_url(F.col("url"))
    )
    for row in df.collect():
        print(f"{row['url']} -> {row['normalized']}")
    return 0


def cmd_robotsparser(args) -> int:
    """RobotRulesParser.java main: robotsparser <robots_file> <url_file>
    [-agent name] — prints allowed/forbidden per url."""
    from pyspark.sql import functions as F

    from nutch_spark.operators.robots import filter_allowed, parse_robots

    from urllib.parse import urlparse

    spark = _spark()
    with open(args.robots_file, encoding="utf-8", errors="replace") as fh:
        robots_txt = fh.read()
    with open(args.url_file, encoding="utf-8") as fh:
        urls = [l.strip() for l in fh if l.strip() and not l.startswith("#")]
    # the reference tool applies ONE robots file to every test url
    # (RobotRulesParser.java main) — mirror that by registering the file
    # under every host appearing in the url list; urls without a parseable
    # host (the reference's MalformedURLException branch) are reported as
    # malformed, not silently "allowed"
    # key rules by urlparse().hostname (lowercased, port-stripped) — the
    # same normalization filter_allowed's url_host applies to the test urls;
    # raw netloc would keep ':8080'/case and never match
    ok_urls = [u for u in urls if urlparse(u).hostname]
    hosts = sorted({urlparse(u).hostname for u in ok_urls})
    rules = None
    allowed: set[str] = set()
    if hosts:
        robots = spark.createDataFrame(
            [(h, robots_txt) for h in hosts], "host string, content string"
        )
        rules = parse_robots(robots)
        fl = spark.createDataFrame([(u,) for u in ok_urls], "url string")
        allowed = {
            r["url"]
            for r in filter_allowed(fl, rules, agent=args.agent, url="url").collect()
        }
    for u in urls:
        if u not in ok_urls:
            print("malformed:\t" + u)
        else:
            print(("allowed:\t" if u in allowed else "forbidden:\t") + u)
    return 0


def cmd_showproperties(args) -> int:
    """ShowProperties.java main: dump the effective configuration as
    property=value lines (nutch-default.xml names where mapped)."""
    from dataclasses import fields

    from nutch_spark.config import PROPERTY_MAP

    cfg = _cfg(args)
    reverse = {v: k for k, v in PROPERTY_MAP.items()}
    for f in fields(cfg):
        name = reverse.get(f.name, f.name)
        print(f"{name}={getattr(cfg, f.name)}")
    return 0


def cmd_startserver(args) -> int:
    """NutchServer.java main: startserver [-port p] — the REST job/admin
    API (sources/jobs.py + sources/rest.py) over an HTTP server."""
    from nutch_spark.sources.jobs import NutchServer, serve_http

    spark = _spark()
    tables = {}
    if args.crawldb and _exists(args.crawldb):
        tables["crawldb"] = spark.read.parquet(args.crawldb)
    server = NutchServer(spark, tables)
    serve_http(server, port=args.port)
    return 0


# ---------------------------------------------------------------------------
# Command — the bin/crawl loop
# ---------------------------------------------------------------------------


def cmd_crawl(args) -> int:
    """bin/crawl (the reference's looping driver, /root/reference/src/bin/
    crawl:285-430): inject once, then <num_rounds> x (generate -> fetch ->
    parse -> updatedb -> invertlinks -> dedup), all state on disk under
    <crawl_dir> exactly like the shell script lays it out."""
    ns = argparse.Namespace

    crawldb = os.path.join(args.crawl_dir, "crawldb")
    linkdb = os.path.join(args.crawl_dir, "linkdb")
    segments = os.path.join(args.crawl_dir, "segments")
    common = dict(D=args.D)

    if args.seed_dir:
        cmd_inject(
            ns(
                crawldb=crawldb,
                url_dir=args.seed_dir,
                overwrite=False,
                update=False,
                noNormalize=False,
                noFilter=args.noFilter,
                **common,
            )
        )
    for rnd in range(1, args.num_rounds + 1):
        print(f"--- crawl round {rnd}/{args.num_rounds} ---")
        name = f"{_new_segment_name()}_{rnd:03d}"
        cmd_generate(
            ns(
                crawldb=crawldb,
                segments_dir=segments,
                topN=args.topN,
                numFetchers=None,
                maxCount=None,
                hostdb=None,
                expr=None,
                maxCountExpr=None,
                segmentName=name,
                **common,
            )
        )
        seg = os.path.join(segments, name)
        cmd_fetch(
            ns(
                segment=seg,
                threads=args.threads,
                fetcher=args.fetcher,
                delay=args.delay,
                timelimit=None,
                redirects=0,
                robots=args.robots,
                agent=args.agent,
                **common,
            )
        )
        cmd_parse(ns(segment=seg, parser="html", **common))
        cmd_updatedb(
            ns(
                crawldb=crawldb,
                dir=None,
                segments=[seg],
                noAdditions=False,
                schedule="default",
                **common,
            )
        )
        cmd_invertlinks(ns(linkdb=linkdb, dir=None, segments=[seg], **common))
        cmd_dedup(ns(crawldb=crawldb, group=None, compareOrder=None, **common))
        if args.index:
            # bin/crawl's -i/--index: deliver each round's documents
            # (bin/crawl:405-418 runs nutch index after dedup)
            cmd_index(
                ns(
                    crawldb=crawldb,
                    linkdb=linkdb,
                    dir=None,
                    segments=[seg],
                    out=os.path.join(args.crawl_dir, "index"),
                    writer="jsonl",
                    deleteGone=True,
                    **common,
                )
            )
    print(f"crawl finished: {args.crawl_dir}")
    return 0


# ---------------------------------------------------------------------------
# Parser assembly
# ---------------------------------------------------------------------------


def _add_D(p):
    p.add_argument(
        "-D",
        action="append",
        metavar="property=value",
        help="set a nutch-default.xml property (config.py PROPERTY_MAP)",
    )


def _add_format(p):
    p.add_argument(
        "-format", dest="format", choices=("normal", "csv", "json"), default="normal"
    )


def _add_segment_inputs(p):
    p.add_argument("-dir", dest="dir", help="directory of segments")
    p.add_argument("segments", nargs="*", help="segment paths")


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="nutch_spark",
        description=__doc__.split("\n\n")[0],
    )
    sub = ap.add_subparsers(dest="command", required=True)

    p = sub.add_parser("inject", help="merge seed urls into the crawldb")
    p.add_argument("crawldb")
    p.add_argument("url_dir")
    p.add_argument("-overwrite", action="store_true")
    p.add_argument("-update", action="store_true")
    p.add_argument("-noNormalize", action="store_true")
    p.add_argument("-noFilter", action="store_true")
    _add_D(p)
    p.set_defaults(fn=cmd_inject)

    p = sub.add_parser("generate", help="select a fetchlist into a new segment")
    p.add_argument("crawldb")
    p.add_argument("segments_dir")
    p.add_argument("-topN", dest="topN", type=int, default=2**31 - 1)
    p.add_argument("-numFetchers", dest="numFetchers", type=int)
    p.add_argument("-maxCount", dest="maxCount", type=int)
    p.add_argument("-hostdb")
    p.add_argument("-expr", help="JEXL row filter over the CrawlDatum")
    p.add_argument(
        "-maxCountExpr", help="JEXL per-host quota expression over hostdb fields"
    )
    p.add_argument("-segmentName", help="segment dir name (default: timestamp)")
    _add_D(p)
    p.set_defaults(fn=cmd_generate)

    p = sub.add_parser("freegen", help="fetchlist straight from a url list")
    p.add_argument("input_dir")
    p.add_argument("segments_dir")
    p.add_argument("-filter", action="store_true")
    p.add_argument("-normalize", action="store_true")
    p.add_argument("-segmentName")
    _add_D(p)
    p.set_defaults(fn=cmd_freegen)

    p = sub.add_parser("fetch", help="fetch a segment politely")
    p.add_argument("segment")
    p.add_argument("-threads", type=int, default=1)
    p.add_argument(
        "-fetcher",
        choices=("auto", "synthetic", "http", "file", "ftp"),
        default="auto",
    )
    p.add_argument("-delay", type=float, default=0.0, help="per-host delay (s)")
    p.add_argument("-timelimit", type=float, help="fetcher.timelimit.mins")
    p.add_argument("-redirects", type=int, default=0, help="http.redirect.max")
    p.add_argument(
        "-robots",
        action="store_true",
        help="fetch robots.txt per host first; deny + Crawl-delay enforced",
    )
    p.add_argument("-agent", default="*", help="robots agent name")
    _add_D(p)
    p.set_defaults(fn=cmd_fetch)

    p = sub.add_parser("parse", help="parse a fetched segment")
    p.add_argument("segment")
    p.add_argument("-parser", choices=("html", "regex"), default="html")
    _add_D(p)
    p.set_defaults(fn=cmd_parse)

    p = sub.add_parser("updatedb", help="fold segment results into the crawldb")
    p.add_argument("crawldb")
    _add_segment_inputs(p)
    p.add_argument("-noAdditions", action="store_true")
    p.add_argument(
        "-schedule", choices=("default", "adaptive", "mime_adaptive"), default="default"
    )
    _add_D(p)
    p.set_defaults(fn=cmd_updatedb)

    p = sub.add_parser("invertlinks", help="build/merge the linkdb")
    p.add_argument("linkdb")
    _add_segment_inputs(p)
    _add_D(p)
    p.set_defaults(fn=cmd_invertlinks)

    p = sub.add_parser("dedup", help="mark duplicate pages in the crawldb")
    p.add_argument("crawldb")
    p.add_argument("-group", choices=("none", "host", "domain"))
    p.add_argument("-compareOrder", help="e.g. score,fetchTime,urlLength")
    _add_D(p)
    p.set_defaults(fn=cmd_dedup)

    p = sub.add_parser("index", help="run the indexing join into offline writers")
    p.add_argument("crawldb")
    p.add_argument("-linkdb")
    _add_segment_inputs(p)
    p.add_argument("-out", required=True)
    p.add_argument("-writer", choices=("jsonl", "csv"), default="jsonl")
    p.add_argument("-deleteGone", action="store_true")
    _add_D(p)
    p.set_defaults(fn=cmd_index)

    p = sub.add_parser("clean", help="export index deletion targets")
    p.add_argument("crawldb")
    p.add_argument("-out", required=True)
    _add_format(p)
    _add_D(p)
    p.set_defaults(fn=cmd_clean)

    p = sub.add_parser("readdb", help="crawldb reader: stats/dump/topN/url")
    p.add_argument("crawldb")
    p.add_argument("-stats", action="store_true")
    p.add_argument("-dump", metavar="out")
    p.add_argument("-topN", nargs="+", metavar=("k", "out"))
    p.add_argument("-url")
    p.add_argument("-regex", help="dump only urls matching the regex")
    p.add_argument("-status", help="dump only rows with this status")
    p.add_argument("-retry", type=int, help="dump only rows with >= N retries")
    p.add_argument("-expr", help="JEXL filter over the CrawlDatum")
    p.add_argument("-sample", type=float, help="deterministic sample fraction")
    _add_format(p)
    _add_D(p)
    p.set_defaults(fn=cmd_readdb)

    p = sub.add_parser("readlinkdb", help="linkdb reader")
    p.add_argument("linkdb")
    p.add_argument("-dump", metavar="out")
    p.add_argument("-url")
    p.add_argument("-regex", help="dump only targets matching the regex")
    _add_format(p)
    _add_D(p)
    p.set_defaults(fn=cmd_readlinkdb)

    p = sub.add_parser("readseg", help="segment reader: dump/list/get")
    p.add_argument("-dump", nargs=2, metavar=("segment", "out"))
    p.add_argument("-list", nargs="+", metavar="segment")
    p.add_argument("-get", nargs=2, metavar=("segment", "url"))
    for part in _SEG_PARTS:
        p.add_argument(
            "-no" + part.replace("_", ""), action="store_true", help=f"skip {part}"
        )
    _add_format(p)
    _add_D(p)
    p.set_defaults(fn=cmd_readseg)

    p = sub.add_parser("mergedb", help="merge crawldbs")
    p.add_argument("output")
    p.add_argument("dbs", nargs="+")
    _add_D(p)
    p.set_defaults(fn=cmd_mergedb)

    p = sub.add_parser("mergelinkdb", help="merge linkdbs")
    p.add_argument("output")
    p.add_argument("dbs", nargs="+")
    _add_D(p)
    p.set_defaults(fn=cmd_mergelinkdb)

    p = sub.add_parser("mergesegs", help="merge segments")
    p.add_argument("output_dir")
    _add_segment_inputs(p)
    p.add_argument("-slice", type=int)
    p.add_argument("-segmentName")
    _add_D(p)
    p.set_defaults(fn=cmd_mergesegs)

    p = sub.add_parser("domainstats", help="url counts by host/domain/suffix/tld")
    p.add_argument("crawldb")
    p.add_argument("out")
    p.add_argument("mode", choices=("host", "domain", "suffix", "tld"))
    _add_format(p)
    _add_D(p)
    p.set_defaults(fn=cmd_domainstats)

    p = sub.add_parser("protocolstats", help="protocol status histogram")
    p.add_argument("crawldb")
    p.add_argument("out")
    _add_format(p)
    _add_D(p)
    p.set_defaults(fn=cmd_protocolstats)

    p = sub.add_parser("crawlcomplete", help="fetched/unfetched by host or domain")
    p.add_argument("crawldb")
    p.add_argument("out")
    p.add_argument("-mode", choices=("host", "domain"), default="host")
    _add_format(p)
    _add_D(p)
    p.set_defaults(fn=cmd_crawlcomplete)

    p = sub.add_parser("webgraph", help="build the webgraph db from segments")
    p.add_argument("-webgraphdb", required=True)
    _add_segment_inputs(p)
    _add_D(p)
    p.set_defaults(fn=cmd_webgraph)

    p = sub.add_parser("linkrank", help="run link analysis over the webgraph")
    p.add_argument("-webgraphdb", required=True)
    p.add_argument("-iterations", type=int)
    _add_D(p)
    p.set_defaults(fn=cmd_linkrank)

    p = sub.add_parser("scoreupdater", help="push webgraph scores into the crawldb")
    p.add_argument("-crawldb", required=True)
    p.add_argument("-webgraphdb", required=True)
    _add_D(p)
    p.set_defaults(fn=cmd_scoreupdater)

    p = sub.add_parser("nodedumper", help="dump top nodes by score/degree")
    p.add_argument("-webgraphdb", required=True)
    p.add_argument("-out", required=True)
    p.add_argument("-scores", action="store_true")
    p.add_argument("-inlinks", action="store_true")
    p.add_argument("-outlinks", action="store_true")
    p.add_argument("-topn", type=int)
    p.add_argument("-group", choices=("host", "domain"), help="rollup by host/domain")
    p.add_argument("-method", choices=("sum", "max"), default="sum")
    _add_format(p)
    _add_D(p)
    p.set_defaults(fn=cmd_nodedumper)

    p = sub.add_parser("updatehostdb", help="aggregate the crawldb per host")
    p.add_argument("-crawldb", required=True)
    p.add_argument("-hostdb", required=True)
    _add_D(p)
    p.set_defaults(fn=cmd_updatehostdb)

    p = sub.add_parser("readhostdb", help="dump the hostdb")
    p.add_argument("hostdb")
    p.add_argument("out")
    p.add_argument("-dumpHostnames", action="store_true")
    p.add_argument("-expr", help="JEXL filter over the HostDatum fields")
    _add_format(p)
    _add_D(p)
    p.set_defaults(fn=cmd_readhostdb)

    p = sub.add_parser("warc", help="export segments as WARC")
    p.add_argument("output_dir")
    _add_segment_inputs(p)
    _add_D(p)
    p.set_defaults(fn=cmd_warc)

    p = sub.add_parser("commoncrawldump", help="export segments as CC-style json")
    p.add_argument("output_dir")
    _add_segment_inputs(p)
    _add_D(p)
    p.set_defaults(fn=cmd_commoncrawldump)

    p = sub.add_parser("dump", help="dump fetched content records")
    p.add_argument("output_dir")
    _add_segment_inputs(p)
    _add_D(p)
    p.set_defaults(fn=cmd_dump)

    p = sub.add_parser("sitemap", help="inject urls from sitemap xml files")
    p.add_argument("crawldb")
    p.add_argument("-sitemap", nargs="+", required=True, metavar="file")
    _add_D(p)
    p.set_defaults(fn=cmd_sitemap)

    p = sub.add_parser("parsechecker", help="fetch+parse one url and print")
    p.add_argument("url")
    p.add_argument("-dumpLinks", type=int, default=20)
    _add_D(p)
    p.set_defaults(fn=cmd_parsechecker)

    p = sub.add_parser("indexchecker", help="show index fields for one url")
    p.add_argument("url")
    _add_D(p)
    p.set_defaults(fn=cmd_indexchecker)

    p = sub.add_parser("filterchecker", help="run urls through the filter chain")
    p.add_argument("urls", nargs="*")
    _add_D(p)
    p.set_defaults(fn=cmd_filterchecker)

    p = sub.add_parser("normalizerchecker", help="run urls through normalization")
    p.add_argument("urls", nargs="*")
    _add_D(p)
    p.set_defaults(fn=cmd_normalizerchecker)

    p = sub.add_parser("robotsparser", help="test robots.txt rules against urls")
    p.add_argument("robots_file")
    p.add_argument("url_file")
    p.add_argument("-agent", default="*")
    _add_D(p)
    p.set_defaults(fn=cmd_robotsparser)

    p = sub.add_parser("showproperties", help="dump the effective configuration")
    _add_D(p)
    p.set_defaults(fn=cmd_showproperties)

    p = sub.add_parser("startserver", help="run the REST job/admin server")
    p.add_argument("-port", type=int, default=8081)
    p.add_argument("-crawldb")
    _add_D(p)
    p.set_defaults(fn=cmd_startserver)

    p = sub.add_parser("crawl", help="the bin/crawl loop: inject + N rounds")
    p.add_argument("crawl_dir")
    p.add_argument("num_rounds", type=int)
    p.add_argument("-s", dest="seed_dir", help="seed dir (inject before round 1)")
    p.add_argument(
        "-i", "--index", action="store_true",
        help="index each round's documents into <crawl_dir>/index",
    )
    p.add_argument(
        "-noFilter", action="store_true",
        help="skip the seed url filter chain (needed for file:// corpora)",
    )
    p.add_argument(
        "-robots", action="store_true",
        help="enforce robots.txt during each round's fetch",
    )
    p.add_argument("-agent", default="*", help="robots agent name")
    p.add_argument("-topN", dest="topN", type=int, default=50_000)
    p.add_argument("-threads", type=int, default=4)
    p.add_argument(
        "-fetcher",
        choices=("auto", "synthetic", "http", "file", "ftp"),
        default="auto",
    )
    p.add_argument("-delay", type=float, default=0.0)
    _add_D(p)
    p.set_defaults(fn=cmd_crawl)

    # the reference REMOVED the Solr-era commands (bin/nutch:272-275 prints
    # "The command X was replaced by the command Y" and exits non-zero) —
    # mirror that exactly rather than resurrecting them as aliases
    for legacy, repl, msg in (
        (
            "plugin",
            "JVM plugin loader — Python equivalents are importable modules",
            None,
        ),
        ("junit", "use: python -m pytest tests/", None),
        # bin/nutch:272-275's EXACT wording for the removed Solr commands
        ("solrindex", "index",
         "The command solrindex was replaced by the command index"),
        ("solrdedup", "dedup",
         "The command solrdedup was replaced by the command dedup"),
        ("solrclean", "clean",
         "The command solrclean was replaced by the command clean"),
    ):
        p = sub.add_parser(legacy, help=f"(replaced) {repl}")
        p.set_defaults(
            fn=None,
            replacement=repl,
            replacement_msg=msg
            or f"'{legacy}' is replaced here: {repl}",
        )

    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.fn is None:
        print(
            getattr(
                args,
                "replacement_msg",
                f"'{args.command}' is replaced here: {args.replacement}",
            ),
            file=sys.stderr,
        )
        return 2
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())


def parse_host_protocol_mapping(text: str) -> tuple[dict[str, str], dict[str, str]]:
    """host-protocol-mapping.txt (ProtocolFactory.java:55-91): tab-separated
    ``host<TAB>implementation`` lines, with ``protocol:<scheme>`` keys
    setting the per-scheme default implementation. Returns
    (host_or_domain -> impl, scheme -> impl)."""
    hosts: dict[str, str] = {}
    defaults: dict[str, str] = {}
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split(None, 1) if "\t" not in line else line.split("\t", 1)
        if len(parts) != 2:
            continue
        key, impl = parts[0].strip(), parts[1].strip()
        if key.startswith("protocol:"):
            defaults[key.split(":", 1)[1].lower()] = impl
        else:
            hosts[key.lower()] = impl
    return hosts, defaults


def host_dispatch_fetch_fn(
    mapping_text: str,
    *,
    implementations: dict[str, "object"] | None = None,
):
    """Per-host protocol-implementation dispatch (ProtocolFactory.java:
    getProtocol): exact host first, then the registrable domain, then the
    ``protocol:<scheme>`` default, then plain scheme dispatch
    (auto_fetch_fn). ``implementations`` maps the file's implementation ids
    to fetch functions; the reference's own class names resolve to our
    protocol layers by default (http/okhttp/httpclient → the stdlib HTTP
    fetcher; file/ftp → their fetchers)."""
    from nutch_spark.functions.textutil import reverse_url  # noqa: F401 (doc aid)
    from nutch_spark.operators import fetcher as _f

    impls = {
        "org.apache.nutch.protocol.http.Http": _f.http_fetch_fn,
        "org.apache.nutch.protocol.okhttp.OkHttp": _f.http_fetch_fn,
        "org.apache.nutch.protocol.httpclient.Http": _f.http_fetch_fn,
        "org.apache.nutch.protocol.file.File": _f.file_fetch_fn,
        "org.apache.nutch.protocol.ftp.Ftp": _f.ftp_fetch_fn,
        **(implementations or {}),
    }
    hosts, defaults = parse_host_protocol_mapping(mapping_text)

    def dispatch(url: str):
        import urllib.parse

        from nutch_spark.functions.urls import registrable_domain_py

        sp = urllib.parse.urlsplit(url)
        host = (sp.hostname or "").lower()
        impl_id = hosts.get(host)
        if impl_id is None and host:
            impl_id = hosts.get(registrable_domain_py(host))
        if impl_id is None:
            impl_id = defaults.get(sp.scheme.lower())
        fn = impls.get(impl_id) if impl_id else None
        if fn is None:
            return auto_fetch_fn(url)
        return fn(url)

    return dispatch
