"""Operation-pair race soak matrix (r9 verdict Next #5).

Generalizes the former tools/stress_cat_compact.py (since removed; it
reproduced + verified the r9 cat-vs-compact silent-row-loss fix) to
EVERY maintenance pair that can race on a live archive:

    cat-compact      readers vs fragmenting compact loop (r9 pair)
    cat-expire       readers vs an ingest/expire retention churn
    compact-compact  two compact crons racing the same slice
                     (+ a fragmenter so real rewrites keep happening)
    sink-compact     streaming store micro-batch commits vs compact
    sink-expire      streaming store micro-batch commits vs retention
    ingest-compact   backfill ingest_dataframe renaming into the SAME
                     cold hour the compaction cron is rewriting (r11
                     verdict #5): a straggler must stay live, incl.
                     the preserved-staging recovery leg
    ingest-expire    backfill ingest vs the retention cron's date-dir
                     rmtree: destination-vanished failures must take
                     the preserved-staging path, never silent loss
    triple           sink + compact + expire all at once (three-way
                     interleavings the pairwise legs can miss)
    quad             triple + the backfill ingester (every writer the
                     store has, fault injector on, both readers)

Invariant, every pair: a reader must FAIL LOUDLY (documented retry
classes only) or HEAL — never return fewer rows than the stable set,
and grow-only counters never go backwards. Writer-side transients are
tolerated only in their documented classes (compact hours_vanished /
hours_contended, expire-vs-staging). Each pair counts the reader
errors in _RETRYABLE (``read_retries``). cat-compact,
compact-compact, ingest-compact and sink-compact run no expire, and
none of their writers deletes a file a reader listed or exposes one
mid-write, so those pairs FAIL on any.

Before the r10 compact fix this harness's compact-compact leg could
corrupt: both crons shared one FIXED staging name, so B's entry
rmtree deleted A's staged output mid-write. Unique-per-attempt
staging names + stale-only sweeping closed it
(plans/archive_store.py).

    python tools/stress_race_matrix.py [pair|all] [seconds-per-pair]
"""
from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F  # noqa: E402

from go_triton_spark.session import get_spark  # noqa: E402
from go_triton_spark.engine import TritonEngine  # noqa: E402
from go_triton_spark.config import load_config  # noqa: E402
from go_triton_spark.types import EVENTS_SCHEMA  # noqa: E402

UTC = dt.timezone.utc
ROOT = "/tmp/stress_race_matrix"

_RETRYABLE = ("FILE_NOT_EXIST", "FileNotFound", "PATH_NOT_FOUND",
              "UNABLE_TO_INFER_SCHEMA",
              # execution-time vanish of a planned file (an expire
              # between plan and open): loud-then-heal satisfies the
              # invariant
              "FAILED_READ_FILE")

#: pairs with no expire: their writers (compact, backfill ingest, the
#: live sink) rename only whole files into place and delete no file a
#: reader listed, so none may ever fail a read
_NO_READ_RETRY = ("cat-compact", "compact-compact", "ingest-compact",
                  "sink-compact")


class Harness:
    """One fresh archive per pair run."""

    def __init__(self, spark):
        shutil.rmtree(ROOT, ignore_errors=True)
        os.makedirs(ROOT)
        self.spark = spark
        cfg = load_config(f"""events:
  name: events
  source: file
  format: json
  path: {ROOT}/incoming/events
""")
        self.eng = TritonEngine(spark, ROOT, config=cfg, client="archive")
        self.now = dt.datetime.now(tz=UTC)
        self.cold = self.now - dt.timedelta(hours=3)
        self.old_date = (self.now - dt.timedelta(days=5))
        self.stop = threading.Event()
        self._real_rename = os.rename   # pre-injector (see run_pair)
        self.problems: list[str] = []
        self.first_retry = ""    # text of the first reader retry
        self.ops = {"compacts": 0, "expires": 0, "commits": 0,
                    "contended": 0, "locked": 0, "ingests": 0,
                    "recoveries": 0, "read_retries": 0}

    def seed(self, when, start, n, files):
        rows = [(i, dt.datetime(2020, 1, 1, tzinfo=UTC), i % 7, "click",
                 float(i), {"k": "v"}) for i in range(start, start + n)]
        df = self.spark.createDataFrame(rows, schema=EVENTS_SCHEMA)
        for i in range(files):
            self.eng.archive.ingest_dataframe(
                df.where(f"event_id % {files} = {i}"), "events",
                "archive", when=when + dt.timedelta(seconds=i))

    # ---------------------------------------------------- writers

    def compactor(self, id_base: int):
        k = 0
        while not self.stop.is_set():
            try:
                k += 1
                self.seed(self.cold, id_base + k, 1, 1)  # fragment
                st = self.eng.archive.compact(
                    "events", self.cold.date(), "archive",
                    min_age_hours=1.0)
                self.ops["compacts"] += 1
                self.ops["contended"] += st.get("hours_contended", 0)
                self.ops["locked"] += st.get("hours_locked", 0)
            except FileNotFoundError:
                pass
            except Exception as exc:  # noqa: BLE001
                msg = str(exc)
                if any(t in msg for t in _RETRYABLE):
                    continue   # loud, documented, retried next loop
                self.problems.append(
                    f"compact: {type(exc).__name__}: {msg[:300]}")
            time.sleep(0.02)

    def expirer(self):
        while not self.stop.is_set():
            try:
                self.seed(self.old_date, 50_000, 20, 2)
                st = self.eng.archive.expire(
                    "events", "archive",
                    keep_after=(self.old_date
                                + dt.timedelta(days=1)).date())
                if st["dropped"]:
                    self.ops["expires"] += 1
            except Exception as exc:  # noqa: BLE001
                msg = str(exc)
                if any(t in msg for t in _RETRYABLE):
                    continue
                self.problems.append(
                    f"expire: {type(exc).__name__}: {msg[:300]}")
            time.sleep(0.01)

    def sink(self):
        """Repeated once-triggered store runs: each await_once stages a
        micro-batch and renames its part files into the hour that
        compact/cat race."""
        k = 0
        prod = self.eng.producer(batch_size=5)
        while not self.stop.is_set():
            try:
                for i in range(5):
                    prod.put("events", f"k{i}",
                             {"event_id": 90_000 + 5 * k + i,
                              "user_id": "u", "event_type": "click",
                              "ts": dt.datetime.now(tz=UTC).isoformat(),
                              "amount": 1.0})
                prod.flush()
                pipe = self.eng.store("events", schema=EVENTS_SCHEMA,
                                      once=True)
                pipe.await_once()
                pipe.stop()
                k += 1
                self.ops["commits"] += 1
            except Exception as exc:  # noqa: BLE001
                msg = str(exc)
                if any(t in msg for t in _RETRYABLE):
                    continue
                self.problems.append(
                    f"sink: {type(exc).__name__}: {msg[:300]}")

    def _complete_staging(self, staging: str) -> None:
        """The documented operator recovery: finish an interrupted
        ingest move from the preserved staging dir
        (exc.triton_staging_dir) instead of re-ingesting. Uses the
        REAL os.rename captured at init so the pair's fault injector
        (which models the ingest path's failures, not the operator's
        shell) never re-fails the recovery itself."""
        root = self.eng.archive.root
        for cur, dirs, files in os.walk(staging):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            rel = os.path.relpath(cur, staging)
            for fn in files:
                if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                    dest = root if rel == "." else os.path.join(root, rel)
                    os.makedirs(dest, exist_ok=True)
                    self._real_rename(os.path.join(cur, fn),
                                      os.path.join(dest, fn))
        shutil.rmtree(staging, ignore_errors=True)

    def ingester(self):
        """Backfill writer (r11 verdict #5): lands 4-row batches
        directly into the COLD hour via ingest_dataframe, so its
        private-staging rename loop races compact's rewrite+commit and
        expire's retention walk. Every third loop also churns the
        EXPIRED date (uncounted id range) to force the
        destination-vanished failure; failures are recovered through
        the documented exc.triton_staging_dir path — preserved
        staging completed by hand, never re-ingested."""
        k = 0
        while not self.stop.is_set():
            k += 1
            # modulo keeps ids inside the watched ingest window
            # [60_000, 90_000) on arbitrarily long soaks (4*k would
            # cross into the sink window after ~2h); wrap collisions
            # are fine — the reader tracks id SETS
            rows = [(60_000 + (4 * k + i) % 30_000,
                     dt.datetime(2020, 1, 1, tzinfo=UTC), i % 7,
                     "click", 1.0, {"k": "v"}) for i in range(4)]
            df = self.spark.createDataFrame(rows, schema=EVENTS_SCHEMA)
            try:
                self.eng.archive.ingest_dataframe(
                    df, "events", "archive",
                    when=self.cold + dt.timedelta(seconds=k % 50))
                self.ops["ingests"] += 1
                if k % 3 == 0:
                    churn = self.spark.createDataFrame(
                        [(55_000 + (k % 1000),
                          dt.datetime(2020, 1, 1, tzinfo=UTC), 0,
                          "click", 1.0, {"k": "v"})],
                        schema=EVENTS_SCHEMA)
                    self.eng.archive.ingest_dataframe(
                        churn, "events", "archive", when=self.old_date)
            except Exception as exc:  # noqa: BLE001
                staging = getattr(exc, "triton_staging_dir", None)
                if staging and os.path.isdir(staging):
                    try:
                        self._complete_staging(staging)
                        self.ops["recoveries"] += 1
                    except OSError:
                        # destination churned again mid-recovery (an
                        # expire raced the re-created date dir): the
                        # staging is still preserved — go around and
                        # retry; classifying the ORIGINAL exception
                        # here falsely indicted the product for a
                        # recoverable interleaving (r12 review)
                        pass
                    continue
                msg = str(exc)
                if any(t in msg for t in _RETRYABLE):
                    continue
                self.problems.append(
                    f"ingest: {type(exc).__name__}: {msg[:300]}")
            time.sleep(0.01)

    # ---------------------------------------------------- readers

    def reader(self, include_old: bool, watch_sink: bool,
               watch_ingest: bool = False):
        lo = (self.old_date.date() if include_old
              else self.cold.date())
        hi = self.now.date()
        # Loss detection is ID-SET based, not count based (r12
        # review): a count-monotonic check confirmed by a fresh
        # re-count can be MASKED by concurrent writers refilling the
        # same id window — new rows hide lost ones and the ratcheted
        # floor never re-detects them. A set difference cannot be
        # refilled: an id seen once must stay visible forever (the
        # watched windows are never legitimately expired).
        windows = [("fragment", 5_000, 50_000, True),
                   ("sink", 90_000, 10**9, watch_sink),
                   ("ingest", 60_000, 90_000, watch_ingest)]
        prev_ids: dict[str, set] = {n: set() for n, *_ in windows}
        while not self.stop.is_set():
            try:
                df = self.eng.cat("events", lo, hi, client="archive",
                                  ordered=False)
                row = (df.agg(
                    F.count(F.when((F.col("event_id") >= 1000)
                                   & (F.col("event_id") < 1120), 1))
                     .alias("cold")).collect()[0])
                live = {r[0] for r in
                        df.where(F.col("event_id") >= 5000)
                          .select("event_id").collect()}
            except Exception as exc:  # noqa: BLE001
                msg = str(exc)
                if any(t in msg for t in _RETRYABLE):
                    self.first_retry = self.first_retry or msg[:300]
                    self.ops["read_retries"] += 1
                    continue   # documented loud retry class
                self.problems.append(
                    f"cat: {type(exc).__name__}: {msg[:2000]}")
                continue
            if row["cold"] != 120:
                try:
                    hours_seen = sorted(
                        {os.path.basename(os.path.dirname(p))
                         for p in df.inputFiles()})
                except Exception:  # noqa: BLE001
                    hours_seen = ["<inputFiles failed>"]
                # snapshot disk truth at the loss instant
                ddir = os.path.join(
                    ROOT, "archive", "stream=events", "client=archive",
                    f"date={self.cold.strftime('%Y%m%d')}")
                disk = {}
                try:
                    for hn in sorted(os.listdir(ddir)):
                        hp = os.path.join(ddir, hn)
                        try:
                            disk[hn] = len([x for x in os.listdir(hp)
                                            if x.endswith(".parquet")
                                            and not x.startswith(".")])
                        except OSError as e:
                            disk[hn] = f"<{type(e).__name__}>"
                except OSError as e:
                    disk = {"<ddir>": type(e).__name__}
                # does a fresh cat heal?
                try:
                    heal = (self.eng.cat(
                        "events", self.cold.date(), self.now.date(),
                        client="archive", ordered=False)
                        .where((F.col("event_id") >= 1000)
                               & (F.col("event_id") < 1120)).count())
                except Exception as e:  # noqa: BLE001
                    heal = f"<{type(e).__name__}>"
                self.problems.append(
                    f"LOSS: stable cold window {row['cold']} != 120 "
                    f"plan_hours={hours_seen} disk={disk} reheal={heal}")
            for name, lo_id, hi_id, watched in windows:
                if not watched:
                    continue
                cur = {i for i in live if lo_id <= i < hi_id}
                missing = prev_ids[name] - cur
                if missing:
                    # Confirm the SPECIFIC missing ids on a fresh cat —
                    # ids that reappear were a transient view (e.g. a
                    # sink or expire race the cat's re-list healed);
                    # ids still absent are loss (and cannot be masked
                    # by writers refilling the window with new ids).
                    try:
                        fresh = {r[0] for r in self.eng.cat(
                            "events", lo, hi, client="archive",
                            ordered=False)
                            .where((F.col("event_id") >= lo_id)
                                   & (F.col("event_id") < hi_id))
                            .select("event_id").collect()}
                    except Exception:  # noqa: BLE001 — next loop
                        continue
                    still = missing - fresh
                    if still:
                        self.problems.append(
                            f"LOSS: {len(still)} {name} ids vanished "
                            f"and stayed gone on fresh cat (sample "
                            f"{sorted(still)[:10]})")
                    cur |= fresh
                prev_ids[name] |= cur

    # ------------------------------------------------------ pairs

    def run_pair(self, pair: str, seconds: float) -> dict:
        self.seed(self.cold, 1000, 120, 6)
        if pair == "cat-compact":
            writers = [lambda: self.compactor(5000)]
            readers = [lambda: self.reader(False, False)] * 2
        elif pair == "cat-expire":
            writers = [self.expirer]
            readers = [lambda: self.reader(False, False),
                       lambda: self.reader(True, False)]
        elif pair == "compact-compact":
            writers = [lambda: self.compactor(5000),
                       lambda: self.compactor(20_000)]
            readers = [lambda: self.reader(False, False)] * 2
        elif pair == "sink-compact":
            writers = [self.sink, lambda: self.compactor(5000)]
            readers = [lambda: self.reader(False, True)]
        elif pair == "expire-compact":
            # the two maintenance crons racing on the same stream tree:
            # expire churns an old date while compact rewrites the
            # cold hour — compact's vanished-hour branch and expire's
            # staging sweep are the surfaces under test
            writers = [self.expirer, lambda: self.compactor(5000)]
            readers = [lambda: self.reader(False, False),
                       lambda: self.reader(True, False)]
        elif pair == "ingest-compact":
            # backfill ingest renaming into the SAME cold hour the
            # compaction cron is rewriting: a part landing between
            # compact's pinned listing and its commit must stay live,
            # plus the preserved-staging recovery leg when an
            # interleaving breaks the move
            writers = [self.ingester, lambda: self.compactor(5000)]
            readers = [lambda: self.reader(False, False, True)] * 2
        elif pair == "ingest-expire":
            # backfill ingest vs the retention cron: expire rmtree's
            # whole date dirs while ingest renames into the tree; the
            # churn leg writes into the EXPIRED date to force the
            # destination-vanished failure, which must take the
            # preserved-staging path (counted range is never expired)
            writers = [self.ingester, self.expirer]
            readers = [lambda: self.reader(False, False, True),
                       lambda: self.reader(True, False, True)]
        elif pair == "quad":
            # every writer the store has, at once: live sink commits
            # + compact cron + retention cron + backfill ingest (with
            # the fault injector forcing preserved-staging recoveries
            # mid-churn). Four-way interleavings none of the pairs or
            # triple can reach; identical invariants.
            writers = [self.sink, lambda: self.compactor(5000),
                       self.expirer, self.ingester]
            readers = [lambda: self.reader(False, True, True),
                       lambda: self.reader(True, True, True)]
        elif pair == "triple":
            # everything at once: live sink commits + compact cron +
            # retention cron + both reader profiles. Pairwise soaks
            # can miss three-way interleavings (e.g. expire clearing
            # a date while compact stages in it while the sink lands
            # a micro-batch); the invariants are identical
            writers = [self.sink, lambda: self.compactor(5000),
                       self.expirer]
            readers = [lambda: self.reader(False, True),
                       lambda: self.reader(True, True)]
        elif pair == "sink-expire":
            # retention cron next to the LIVE streaming sink (r10
            # verdict #6 — the last uncovered sibling): expire churns
            # an old date (ingest staging + date-dir rmtree) while
            # micro-batch commits land in the current hour. The sink's
            # staging at the root and its committed rows must never be
            # clipped by the retention
            # walk; both the stable window and the sink counter are
            # grow-only under both readers
            writers = [self.sink, self.expirer]
            readers = [lambda: self.reader(False, True),
                       lambda: self.reader(True, True)]
        else:
            raise SystemExit(f"unknown pair {pair!r}")
        # FAULT INJECTOR for the ingest pairs: the natural
        # destination-vanished window (expire's rmtree landing inside
        # the sub-millisecond rename loop) is too narrow to hit in a
        # soak, so the ingester thread's staging renames fail at 5% —
        # forcing the preserved-staging + exc.triton_staging_dir +
        # operator-completion path to run UNDER live maintenance
        # churn, which is the surface the r11 verdict asked to soak.
        # Injection is keyed on the thread name, so seed()/compactor
        # ingests and the recovery itself stay un-injected.
        inject = pair.startswith("ingest-") or pair == "quad"
        real_rename = os.rename
        if inject:
            import random as _random

            rng = _random.Random(12)

            def flaky_rename(src, dst):
                if (threading.current_thread().name == "ingester"
                        and "/.ingest_tmp." in src
                        and src.endswith(".parquet")
                        and rng.random() < 0.05):
                    raise OSError("fault-injected mid-move failure")
                return real_rename(src, dst)

            os.rename = flaky_rename
        try:
            threads = [threading.Thread(
                target=f, daemon=True,
                name=getattr(f, "__name__", "w"))
                for f in writers + readers]
            for t in threads:
                t.start()
            deadline = time.time() + seconds
            while time.time() < deadline and not self.problems:
                time.sleep(0.5)
            self.stop.set()
            for t in threads:
                t.join(30)
        finally:
            os.rename = real_rename
        if pair in _NO_READ_RETRY and self.ops["read_retries"]:
            self.problems.append(
                f"{self.ops['read_retries']} reader errors with no "
                f"expire running (first: {self.first_retry})")
        return {"pair": pair, **self.ops,
                "problems": self.problems[:5]}


def main() -> int:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    seconds = float(sys.argv[2]) if len(sys.argv) > 2 else 60.0
    pairs = (["cat-compact", "cat-expire", "compact-compact",
              "sink-compact", "expire-compact", "sink-expire",
              "ingest-compact", "ingest-expire", "triple", "quad"]
             if which == "all" else [which])
    spark = get_spark("stress-race-matrix")
    spark.sparkContext.setLogLevel("ERROR")
    ok = True
    for pair in pairs:
        res = Harness(spark).run_pair(pair, seconds)
        print("MATRIX", res, flush=True)
        ok = ok and not res["problems"]
    spark.stop()
    shutil.rmtree(ROOT, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
