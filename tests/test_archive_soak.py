"""Randomized archive-lifecycle soak (round-7 verdict ask).

One seeded random interleaving per case of EVERY lifecycle verb the
archive exposes — ingest / compact / expire / crash-residue injection /
cat replay — against a MODEL of what must be live (per-date, per-batch
row counts). The point-tests each cover one verb pair (compact-vs-cat,
expire-vs-cat); the soak covers their COMPOSITIONS: compact after
expire recreated a date, residue next to compacted dates, cat ranges
spanning dropped-and-rewritten partitions — orderings nobody writes by
hand.

Invariant after any prefix of operations: ``cat`` over any date range
returns exactly the model's surviving rows (grouped by batch marker),
and never an error. Residue injection must never change results: a
store killed mid-batch leaves its part files only in hidden staging,
which the batch's rerun completes.
"""

import datetime as dt
import os
import random

import pytest
from pyspark.sql import functions as F

from go_triton_spark.plans.archive_store import ArchiveStore

UTC = dt.timezone.utc
DATES = [dt.date(2015, 7, d) for d in range(1, 6)]
CLIENT = "soak"


def _ingest(spark, store, date, batch, n):
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.lit(batch).alias("batch"))
    when = dt.datetime(date.year, date.month, date.day,
                       random.randrange(24), tzinfo=UTC)
    store.ingest_dataframe(df, "events", CLIENT, when=when)


def _inject_residue(store, date, batch_id):
    """Leave what a SIGKILLed store leaves: a micro-batch's hidden
    staging dir holding a trailer-less part file for ``date``."""
    hdir = os.path.join(
        store.root, f".sink_tmp.events-{CLIENT}.{batch_id}",
        "stream=events", f"client={CLIENT}",
        f"date={date.strftime('%Y%m%d')}", f"hour={random.randrange(24):02d}")
    os.makedirs(hdir, exist_ok=True)
    target = os.path.join(hdir, f"part-crash-{random.randrange(10**6)}"
                                ".c000.snappy.parquet")
    with open(target, "wb") as fh:
        fh.write(b"\x00" * random.randrange(1, 64))  # no PAR1 trailer


def _check_model(store, model):
    """cat over the full window plus one random sub-range must both
    reproduce the model exactly (per-batch counts; cat projects the
    partition columns away, so per-date attribution uses sub-range
    cats, exactly how a replay consumer would)."""
    def batches_of(d1, d2):
        got = store.cat("events", d1, d2).groupBy("batch").count().collect()
        return {int(r["batch"]): int(r["count"]) for r in got}

    def want_of(dates):
        out: dict = {}
        for d in dates:
            for b, n in model.get(d, {}).items():
                out[b] = out.get(b, 0) + n
        return out

    assert batches_of(DATES[0], DATES[-1]) == want_of(DATES)
    lo, hi = sorted(random.sample(range(len(DATES)), 2)) \
        if len(DATES) > 1 else (0, 0)
    assert batches_of(DATES[lo], DATES[hi]) == want_of(DATES[lo:hi + 1])
    d = random.choice(DATES)  # single-day replay, the reference's shape
    assert batches_of(d, d) == want_of([d])


@pytest.mark.parametrize("seed", [11, 47, 2025])
def test_archive_lifecycle_soak(spark, tmp_path, seed):
    random.seed(seed)
    store = ArchiveStore(spark, str(tmp_path / "archive"))
    model: dict = {}          # date -> {batch: rows}
    batch = 0

    # seed the archive so the first ops have something to chew on
    for d in random.sample(DATES, 2):
        batch += 1
        n = random.randrange(5, 40)
        _ingest(spark, store, d, batch, n)
        model.setdefault(d, {})[batch] = n

    for step in range(22):
        op = random.choices(
            ["ingest", "compact", "expire", "residue"],
            weights=[5, 2, 1, 2])[0]
        if op == "ingest":
            d = random.choice(DATES)
            batch += 1
            n = random.randrange(1, 50)
            _ingest(spark, store, d, batch, n)
            model.setdefault(d, {})[batch] = n
        elif op == "compact":
            lived = [d for d, b in model.items() if b]
            if lived:
                d = random.choice(lived)
                stats = store.compact("events", d, CLIENT,
                                      min_age_hours=0.0)
                assert stats["files_after"] <= stats["files_before"]
        elif op == "expire":
            keep = random.choice(DATES)
            store.expire("events", CLIENT, keep_after=keep)
            for d in list(model):
                if d < keep:
                    model.pop(d)
        else:  # residue
            _inject_residue(store, random.choice(DATES), step)
        if step % 6 == 5:
            _check_model(store, model)

    _check_model(store, model)
