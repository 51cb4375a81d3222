"""CLI parity with the reference's ``triton`` command (triton.go).

    python -m go_triton_spark.cli store --stream S [--once]
    python -m go_triton_spark.cli cat --stream S --start-date YYYYMMDD
        [--end-date YYYYMMDD] [--client C]
    python -m go_triton_spark.cli stats [--client C]
    python -m go_triton_spark.cli shards --stream S
    python -m go_triton_spark.cli compact --stream S --date YYYYMMDD
    python -m go_triton_spark.cli expire --stream S --keep-after YYYYMMDD
    python -m go_triton_spark.cli queries [--tag llm]
    python -m go_triton_spark.cli query NAME [--sf DIR] [--limit N]

``compact``/``expire`` are archive-maintenance additions (no reference
counterpart — go-triton archives accumulate unmanaged); both print one
JSON stats line.

Environment (mirrors triton.go:34-56 env wiring):
    TRITON_CONFIG  stream-config YAML path    (required for store/cat)
    TRITON_ROOT    engine root directory      (default ./triton-data;
                   local/S3A path)
    TRITON_BUCKET  accepted as a synonym for TRITON_ROOT so existing
                   reference deployments migrate unchanged
                   (triton.go:194, triton.go:293); TRITON_ROOT wins
                   when both are set
    TRITON_CLIENT  client name                (default "archive";
                   '-' rejected, triton.go:224-227)
    TRITON_DB      checkpoint-mirror DB URL   (sqlite://file.db or
                   postgres://host/db, triton.go:200-243; used by
                   ``stats`` when --mirror-db is not given)
"""

from __future__ import annotations

import argparse
import datetime as _dt
import json
import os
import sys


def _root() -> str:
    """Engine root dir; TRITON_BUCKET is the reference's name for it."""
    return (os.environ.get("TRITON_ROOT")
            or os.environ.get("TRITON_BUCKET")
            or "./triton-data")


def _engine(schema_needed: bool = False):
    from go_triton_spark.engine import TritonEngine
    from go_triton_spark.session import get_spark

    config = os.environ.get("TRITON_CONFIG")
    root = _root()
    client = os.environ.get("TRITON_CLIENT", "archive")
    spark = get_spark("triton-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return TritonEngine(spark, root, config=config, client=client)


def cmd_store(args) -> int:
    from go_triton_spark.types import EVENTS_SCHEMA

    eng = _engine()
    mirror_db = getattr(args, "mirror_db", None)
    interval = getattr(args, "mirror_interval", 10.0)
    pipe = eng.store(args.stream, schema=EVENTS_SCHEMA, once=args.once,
                     skip_to_latest=args.skip_to_latest)
    if args.once:
        try:
            pipe.await_once()
            pipe.stop()
        finally:
            # the final mirror must run even when the drain raised —
            # a monitor needs the freshest committed offsets exactly
            # when the stream just died
            if mirror_db:
                n = eng.mirror_checkpoints(mirror_db)
                print(f"mirrored {n} checkpoint rows to {mirror_db}",
                      file=sys.stderr)
        return 0
    try:
        try:
            if mirror_db:
                # mirror DURING the run (the reference's Checkpointer
                # upserts continuously, checkpoint.go:27-76) so an
                # external monitor polling the DB sees live rows — and
                # rows survive a kill, not just a clean stop
                while not pipe.query.awaitTermination(interval):
                    eng.mirror_checkpoints(mirror_db)
            else:
                pipe.query.awaitTermination()
        except KeyboardInterrupt:  # graceful SIGINT drain (triton.go:117-126)
            pipe.stop()
    finally:
        # StreamingQueryException from awaitTermination lands here too:
        # stop the pipeline and mirror the last committed state before
        # re-raising, instead of leaving the DB stale at failure time
        try:
            pipe.stop()
        except Exception:  # noqa: BLE001 — already stopping on error
            pass
        if mirror_db:
            n = eng.mirror_checkpoints(mirror_db)
            print(f"mirrored {n} checkpoint rows to {mirror_db}",
                  file=sys.stderr)
    return 0


def cmd_cat(args) -> int:
    eng = _engine()
    start = _dt.datetime.strptime(args.start_date, "%Y%m%d").date()
    end = (_dt.datetime.strptime(args.end_date, "%Y%m%d").date()
           if args.end_date else None)
    df = eng.cat_json(args.stream, start, end, client=args.client)
    for row in df.toLocalIterator():  # streamed, not collect()
        print(row["json"])
    return 0


def cmd_stats(args) -> int:
    eng = _engine()
    if getattr(args, "mirror_db", None):
        n = eng.mirror_checkpoints(args.mirror_db)
        print(f"mirrored {n} checkpoint rows to {args.mirror_db}")
    for k, v in sorted(eng.stats(client=args.client).items()):
        print(f"{k}: {v}")
    return 0


def cmd_shards(args) -> int:
    """S19 admin helper (triton/stream.go:247-258): list shards.

    Local mode: input partitions of the stream's source dir; with a
    real Kinesis deployment this calls boto3 describe_stream.
    """
    try:
        import boto3  # noqa: F401
        have_boto = True
    except ImportError:
        have_boto = False
    if args.region and have_boto:
        client = __import__("boto3").client("kinesis", region_name=args.region)
        out = client.describe_stream(StreamName=args.stream)
        for s in out["StreamDescription"]["Shards"]:
            print(s["ShardId"])
        return 0
    eng = _engine()
    cfg = eng.config_for(args.stream)
    path = cfg.options.get("path")
    if path and os.path.isdir(path):
        for i, f in enumerate(sorted(os.listdir(path))):
            print(f"shard-{i:04d}\t{f}")
    else:
        print(f"(no local source dir for stream {args.stream})", file=sys.stderr)
    return 0


def cmd_tritond(args) -> int:
    """Run the tritond daemon: ZMQ wire in, engine batch files out.

    No Spark session needed — the daemon only lands JSON-lines batch
    files under TRITON_ROOT/incoming/<stream>/ for a (possibly
    separate) `store` process to tail. An existing producer built on
    the reference's tritond client can point at this endpoint
    unchanged (default bind port 3515, tritond/client.go:72).
    """
    from go_triton_spark.tritond import TritondDaemon

    root = _root()
    daemon = TritondDaemon(os.path.join(root, "incoming"),
                           host=args.host, port=args.port,
                           batch_size=args.batch_size)
    print(f"tritond listening on {daemon.endpoint} "
          f"-> {os.path.join(root, 'incoming')}", flush=True)
    try:
        import signal
        import threading as _threading

        done = _threading.Event()
        signal.signal(signal.SIGINT, lambda *a: done.set())
        signal.signal(signal.SIGTERM, lambda *a: done.set())
        done.wait()
    finally:  # graceful drain (S21): flush buffers before exit
        daemon.stop()
        print(json.dumps({"received": daemon.received,
                          "flushed": daemon.flushed}))
    return 0


def cmd_put(args) -> int:
    """Wire-producer side: read JSON-lines records from stdin and Put
    each to a tritond endpoint (ours or a reference daemon — the
    protocol is the same bytes). Partition key comes from
    --partition-key-field (falling back to the record's position)."""
    from go_triton_spark.tritond import ZmqClient

    client = ZmqClient(args.endpoint)
    n = 0
    try:
        for line in sys.stdin:
            line = line.strip()
            if not line:
                continue
            rec = json.loads(line)
            key = str(rec.get(args.key_field, n)) if args.key_field else str(n)
            client.put(args.stream, key, rec)
            n += 1
    finally:
        client.close()
    print(json.dumps({"sent": n, "stream": args.stream,
                      "endpoint": args.endpoint}))
    return 0


def cmd_compact(args) -> int:
    eng = _engine()
    date = _dt.datetime.strptime(args.date, "%Y%m%d").date()
    client = args.client or os.environ.get("TRITON_CLIENT", "archive")
    physical = eng.configs.get(args.stream)
    name = physical.stream_name if physical else args.stream
    stats = eng.archive.compact(name, date, client,
                                target_file_mb=args.target_mb,
                                min_age_hours=args.min_age_hours)
    print(json.dumps(stats))
    return 0


def cmd_expire(args) -> int:
    eng = _engine()
    keep_after = _dt.datetime.strptime(args.keep_after, "%Y%m%d").date()
    client = args.client or os.environ.get("TRITON_CLIENT", "archive")
    physical = eng.configs.get(args.stream)
    name = physical.stream_name if physical else args.stream
    stats = eng.archive.expire(name, client, keep_after)
    print(json.dumps(stats))
    return 0


def cmd_query(args) -> int:
    """Run one registry query against a testdata dir, JSON-lines out.

    The analytics face of the CLI: every operator in the engine's
    registry (TPC-H suite, dedup/ANN/curation, event-time, …) is
    runnable by name without writing a script."""
    from go_triton_spark.operators import REGISTRY
    from go_triton_spark.session import get_spark

    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r} — run 'queries' to list",
              file=sys.stderr)
        return 2
    spark = get_spark("triton-cli")
    spark.sparkContext.setLogLevel("ERROR")
    df = REGISTRY[args.name].spark(spark, args.sf)
    if args.limit:
        df = df.limit(args.limit)
    for line in df.toJSON().toLocalIterator():  # streamed, not collect()
        print(line)
    return 0


def cmd_queries(args) -> int:
    """List registry queries (name, tags, first docstring line)."""
    from go_triton_spark.operators import REGISTRY

    for name, qd in sorted(REGISTRY.items()):
        if args.tag and args.tag not in qd.tags:
            continue
        first = qd.doc.strip().splitlines()[0] if qd.doc else ""
        print(f"{name}\t[{','.join(qd.tags)}]\t{first}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="triton-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_store = sub.add_parser("store", help="stream ingest -> archive")
    p_store.add_argument("--stream", required=True)
    p_store.add_argument("--skip-to-latest", action="store_true",
                         dest="skip_to_latest",
                         help="ignore backlog; start from LATEST "
                              "(triton.go:197-199)")
    p_store.add_argument("--checkpoint-db", dest="mirror_db",
                         default=os.environ.get("TRITON_DB"),
                         help="mirror checkpoint rows into this DB URL "
                              "periodically during the run and once at "
                              "the end (default: $TRITON_DB)")
    p_store.add_argument("--mirror-interval", dest="mirror_interval",
                         type=float, default=10.0, metavar="SECONDS",
                         help="seconds between live checkpoint-DB "
                              "mirrors (default: 10)")
    p_store.add_argument("--once", action="store_true",
                         help="drain available input then exit")
    p_store.set_defaults(fn=cmd_store)

    p_cat = sub.add_parser("cat", help="batch replay as JSON lines")
    p_cat.add_argument("--stream", required=True)
    p_cat.add_argument("--start-date", required=True, metavar="YYYYMMDD")
    p_cat.add_argument("--end-date", metavar="YYYYMMDD")
    p_cat.add_argument("--client")
    p_cat.set_defaults(fn=cmd_cat)

    p_stats = sub.add_parser("stats", help="checkpoint ages")
    p_stats.add_argument("--client")
    p_stats.add_argument("--mirror-db", dest="mirror_db",
                         default=os.environ.get("TRITON_DB"),
                         help="also upsert rows into a triton_checkpoint "
                              "mirror (reference DDL): sqlite://file.db, "
                              "postgres://host/db, or a bare sqlite path "
                              "(default: $TRITON_DB)")
    p_stats.set_defaults(fn=cmd_stats)

    p_shards = sub.add_parser("shards", help="list shards (S19)")
    p_shards.add_argument("--stream", required=True)
    p_shards.add_argument("--region", help="AWS region (uses boto3 if set)")
    p_shards.set_defaults(fn=cmd_shards)

    p_compact = sub.add_parser(
        "compact", help="merge small archive files",
        description="Rewrite each hour partition of one date into few "
                    "files. Replaced files stay on disk for readers that "
                    "already listed them; the next compact of the date "
                    "after a one-hour grace deletes them.")
    p_compact.add_argument("--stream", required=True)
    p_compact.add_argument("--date", required=True, metavar="YYYYMMDD")
    p_compact.add_argument("--client")
    p_compact.add_argument("--target-mb", type=int, default=128)
    p_compact.add_argument("--min-age-hours", type=float, default=1.0,
                           dest="min_age_hours",
                           help="skip hour partitions younger than this "
                                "(live-ingest safety; negative forces the "
                                "live hour — quiesced ingest only)")
    p_compact.set_defaults(fn=cmd_compact)

    p_expire = sub.add_parser("expire", help="drop date partitions older than cutoff")
    p_expire.add_argument("--stream", required=True)
    p_expire.add_argument("--keep-after", required=True, metavar="YYYYMMDD")
    p_expire.add_argument("--client")
    p_expire.set_defaults(fn=cmd_expire)

    p_query = sub.add_parser("query", help="run a registry query by name")
    p_query.add_argument("name")
    p_query.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="testdata dir with the parquet tables")
    p_query.add_argument("--limit", type=int, default=0,
                         help="cap emitted rows (0 = all)")
    p_query.set_defaults(fn=cmd_query)

    p_tritond = sub.add_parser(
        "tritond", help="run the ZMQ wire daemon (producer -> incoming/)")
    p_tritond.add_argument("--host", default="127.0.0.1")
    p_tritond.add_argument("--port", type=int, default=3515,
                           help="bind port (reference default 3515)")
    p_tritond.add_argument("--batch-size", type=int, default=200,
                           dest="batch_size")
    p_tritond.set_defaults(fn=cmd_tritond)

    p_put = sub.add_parser(
        "put", help="send stdin JSON-lines to a tritond endpoint")
    p_put.add_argument("--stream", required=True)
    p_put.add_argument("--endpoint", default="tcp://127.0.0.1:3515")
    p_put.add_argument("--partition-key-field", dest="key_field",
                       help="record field to use as partition key")
    p_put.set_defaults(fn=cmd_put)

    p_queries = sub.add_parser("queries", help="list registry queries")
    p_queries.add_argument("--tag", help="filter by tag (e.g. llm, dedup)")
    p_queries.set_defaults(fn=cmd_queries)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
