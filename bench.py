#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes its full plan via the noop sink (no driver
collect). Per query: one uncounted warmup pass, then the MEDIAN of
``SPARK_GRAFT_BENCH_REPS`` (default 3) measured passes, with the
min/max run spread recorded under ``spread``; ``value`` is the sum of
medians.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "q_top_customers",
    "q4_priority_check",
    "q6_revenue_forecast",
    "q14_promo_share",
    "q18_large_orders",
    "q7_nation_trade_volume",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q13_order_count_distribution",
    "q21_waiting_supplier",
    "join_range",
    "agg_basic",
    "agg_cube",
    "window_row_number",
    "window_running_sum",
    "sort_limit",
    "s12_date_range_replay",
    "s15_ordered_replay",
    "evt_tumbling_window",
    "evt_session_window",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "dedup_levenshtein",
    "text_chunk",
    "curate_decontaminate",
    "curate_pii_scrub",
    "ts_gapfill_ffill",
    "interval_join_sessions",
    "funnel_click_to_purchase",
    "cohort_weekly_retention",
    "window_range_frame",
    "text_token_count",
    "text_quality_score",
    "text_fingerprint",
    "mm_image_decode",
    "mm_frame_sample",
    "tfidf_top_terms",
    "sessionize_events",
    "text_gopher_filters",
    "sample_stratified_hash",
    "window_moving_stats",
    "emb_centroids",
    "curate_canonical_docs",
    "curate_pipeline_end_to_end",
    "udf_map_in_arrow",
    "scalar_variant",
    "curate_train_val_split",
    "curate_language_balance",
    "text_sequence_pack",
    "dedup_span_exact",
    "text_perplexity_proxy",
    "emb_quantize_int8",
    "text_c4_filters",
    "curate_mix_weights",
    "emb_kmeans",
    "knn_graph_lsh",
    "semdedup_prune",
    "mm_wav_decode",
    "emb_label_knn_purity",      # r5: track the LSH-stack reuser
    "dedup_levenshtein_qgram",   # r5: track the q-gram routing variant
    "mm_png_decode",             # r6: compressed-image decode (zlib+CRC)
    "mm_jpeg_decode",            # r7: entropy-coded decode (Huffman+DCT)
    "mm_gif_decode",             # r7: LZW decode
    "mm_flac_decode",            # r7: Rice+LPC audio decode
    "mm_webp_decode",            # r8: VP8L prefix-code+LZ77+transforms
    "mm_tiff_decode",            # r8: IFD walk + TIFF-LZW/PackBits
    "dedup_image_cross_format",  # r8: decoded-pixel dedup over 4 formats
    "mm_caption_frame_align",    # r8: video-text training-pair range join
    "sketch_theta_distinct",     # r8: mergeable KMV distinct estimate
    "warc_extract",              # r7: Common Crawl shard ingest
    "join_skew_aware",           # r7: measured per verdict ask (skew guard)
    "dedup_image_phash",         # r8: perceptual dHash + Hamming LSH
    "mm_audio_features",         # r8: decoded-signal featurization (rFFT)
    "mm_g711_decode",            # r8: ITU-T telephony expansion
    "mm_adpcm_decode",           # r8: adaptive-quantizer prediction
    "mm_qoi_decode",             # r8: QOI byte-op decode
    "mm_zip_shard_extract",      # r8: zip shards (DEFLATE + CRC + QOI)
    "curate_importance_resample",  # r8: DSIR-style selection (pure JVM)
    "mm_midi_extract",           # r8: SMF walk (VLQ + running status)
    "mm_exif_orientation",       # r8: APP1/IFD metadata extraction
    "mm_shot_boundaries",        # r8: consecutive-frame MAD cuts
    "dedup_audio_fingerprint",   # r8: gain-invariant energy deltas
    "ts_resample_ohlc",          # r8: one-exchange OHLC rollup
    "text_cdc_chunks",           # r8: rolling-hash chunking (JVM HOFs)
    "curate_containment",        # r8: asymmetric quote detection
    "emb_pq_codes",              # r8: per-subspace PQ codebooks
    "sketch_cms_heavy_hitters",  # r8: mergeable CMS frequency grid
]


def _parse_sf(token: str) -> "float | None":
    """One tolerant SF parse reused everywhere (r11 advice: the old
    isdigit-then-float pattern let tokens like '1.2.3' through the
    guard and abort the run before any artifact was written)."""
    try:
        return float(token)
    except ValueError:
        return None


def _tree_cpu_seconds() -> "float | None":
    """Cumulative user+sys CPU seconds of this process and every live
    descendant (driver, JVM, forked Arrow Python workers), plus each
    process's already-reaped children, read from /proc.

    This is the drift-immune twin of the wall clock (r11 verdict ask
    #3): external host contention inflates wall but barely touches
    CPU, so a per-query cpu_s column turns every future "window or
    code?" adjudication into reading one number. Spark's own
    executorCpuTime would miss the Python workers, where the decode
    family actually burns its cycles — the process tree sees both.
    Returns None where /proc isn't available (non-Linux)."""
    import glob as _glob

    try:
        tck = float(os.sysconf("SC_CLK_TCK"))
    except (AttributeError, ValueError, OSError):
        return None
    info: dict[int, tuple[int, int]] = {}
    for path in _glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as fh:
                raw = fh.read()
        except OSError:
            continue    # pid exited mid-walk
        try:
            # comm may contain spaces/parens: split after the LAST ')'
            rp = raw.rindex(")")
            pid = int(raw[:raw.index(" ")])
            fields = raw[rp + 2:].split()
            # post-comm indices: 1=ppid (field 4); 11..14 = utime,
            # stime, cutime, cstime (fields 14-17, man proc(5))
            ppid = int(fields[1])
            cpu = sum(int(fields[i]) for i in (11, 12, 13, 14))
        except (ValueError, IndexError):
            continue
        info[pid] = (ppid, cpu)
    if not info:
        return None
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in info.items():
        kids.setdefault(ppid, []).append(pid)
    total = 0
    stack = [os.getpid()]
    seen: set[int] = set()
    while stack:
        p = stack.pop()
        if p in seen or p not in info:
            continue
        seen.add(p)
        total += info[p][1]
        stack.extend(kids.get(p, ()))
    return total / tck


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    sf_num = _parse_sf(sf)

    # r12 verdict ask #6: SPARK_GRAFT_EXTRA_CONFS is a legitimate ops/
    # experiment escape hatch in session.py, but the BENCH must not be
    # silently tunable through it — build the session without it (the
    # process environment stays as it was) and record what was ignored
    # in the artifact so a tuned run is visible, not invisible.
    extra_confs_ignored = os.environ.get("SPARK_GRAFT_EXTRA_CONFS")

    from go_triton_spark.session import get_spark
    from go_triton_spark.operators import REGISTRY

    spark = get_spark("go-triton-spark-bench", extra_confs="")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen/scan-path warmup (not counted): a trivial codegen plan
    # plus one cheap pass over each input table (footer reads + vectorized
    # reader init) so the first measured query isn't charged for JVM
    # cold start the others don't pay
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    # fork the Arrow Python workers once (reused afterwards) so the first
    # pandas-UDF query isn't charged for 32 interpreter cold starts
    def _ident(it):
        yield from it
    (spark.range(64).repartition(32).mapInPandas(_ident, schema="id long")
     .write.format("noop").mode("overwrite").save())
    for t in ("lineitem", "orders", "customer", "part", "supplier",
              "nation", "region", "events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).limit(1).write.format("noop").mode("overwrite").save()

    # per-query: one WARMUP pass (uncounted — shuffle-file + code cache
    # warm), then median-of-N measured passes (default 3) with the
    # min/max spread recorded. Round-over-round ±10% single-shot noise
    # made r4→r5 deltas unadjudicatable; medians with recorded spread
    # turn >1.2x deltas into signal. Every pass executes the full plan
    # through the noop sink — no driver collect anywhere.
    import statistics

    # HOST-DRIFT CANARY v3 (r11 verdict ask #3): the r10 tail saw
    # three identical-code serial runs inflate 53->65->79 s from
    # external host contention, and the drifted run overwrote the
    # clean twin. Enforce the prose protocol in the tool: AFTER the
    # suite, compare the in-suite medians of a pinned multi-shape
    # basket (BENCH_REF.json) against their clean-window references
    # and stamp the geomean as drift_ratio; > 1.15 reroutes the
    # self-copy to BENCH_SELF.drifted.json so a contended run can
    # never masquerade as the twin of record. In-suite comparison is
    # POSITION-CONSISTENT (same warm-in depth as the reference twin);
    # pre-suite probes were tried and read 1.4-1.6x in a ~1.25x
    # window purely from missing warm-in. LIMITATION (documented): a
    # genuine code regression in a basket query also raises the
    # ratio; adjudicate via isolated A/B at the two HEADs and re-pin
    # from the clean-window winner.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_REF.json")) as fh:
            _ref = json.load(fh)
        basket = {k: float(v) for k, v in _ref["suite_basket"].items()
                  if float(v) > 0}
        decode_basket = {k: float(v) for k, v in
                         _ref.get("decode_basket", {}).items()
                         if float(v) > 0}
        basket_cpu = {k: float(v) for k, v in
                      _ref.get("suite_basket_cpu", {}).items()
                      if float(v) > 0}
        decode_cpu = {k: float(v) for k, v in
                      _ref.get("decode_basket_cpu", {}).items()
                      if float(v) > 0}
    except (OSError, ValueError, KeyError, TypeError):
        basket = {}
        decode_basket = {}
        basket_cpu = {}
        decode_cpu = {}
    sf_is_ref = sf_num == 0.1

    reps = max(int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")), 1)
    warmups = max(int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1")), 0)
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    cpu_s: dict[str, float] = {}
    errors: dict[str, str] = {}
    total = 0.0
    cpu_supported = _tree_cpu_seconds() is not None
    for name in HEADLINE:
        qd = REGISTRY[name]
        runs: list[float] = []
        cpu_runs: list[float] = []
        try:
            for i in range(warmups + reps):
                # CPU snapshots sit OUTSIDE the wall-clock window, so
                # the /proc walk (~ms) never inflates the wall medians
                c0 = _tree_cpu_seconds() if cpu_supported else None
                t0 = time.perf_counter()
                qd.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                if i >= warmups:
                    runs.append(dt)
                    if c0 is not None:
                        c1 = _tree_cpu_seconds()
                        if c1 is not None:
                            cpu_runs.append(c1 - c0)
            med = statistics.median(runs)
        except Exception as exc:  # noqa: BLE001 — one bad query must not
            # lose the whole benchmark artifact; record a penalty time
            # and the error so the regression is visible, not silent
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            med = 999.0
            runs = runs or [999.0]
        timings[name] = round(med, 3)
        spread[name] = [round(min(runs), 3), round(max(runs), 3)]
        if cpu_runs:
            cpu_s[name] = round(statistics.median(cpu_runs), 3)
        total += timings[name]

    out = {
        "metric": "headline_suite_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "reps": reps,
        "warmup": warmups,
        "sf": sf_num if sf_num is not None else sf,
    }
    if cpu_s:
        out["cpu_s"] = cpu_s
    if extra_confs_ignored:
        out["extra_confs_ignored"] = extra_confs_ignored
    drift_ratio = None
    drift_basket: dict[str, float] = {}
    if basket and sf_is_ref:
        ratios = [timings[k] / ref for k, ref in basket.items()
                  if k in timings and k not in errors and timings[k] > 0]
        drift_basket = {k: round(timings[k] / ref, 3)
                        for k, ref in basket.items()
                        if k in timings and k not in errors}
        if ratios:
            drift_ratio = round(statistics.geometric_mean(ratios), 3)
    if drift_ratio is not None:
        out["drift_ratio"] = drift_ratio
        out["drift_basket"] = drift_basket
        # NON-GATING per-shape indicator: pure-Python decode absorbs
        # contention the relational basket barely feels; stamp it so
        # decode-family twin deltas are read against it, not flagged
        dratios = [timings[k] / ref for k, ref in decode_basket.items()
                   if k in timings and k not in errors and timings[k] > 0]
        if dratios:
            out["decode_drift"] = round(
                statistics.geometric_mean(dratios), 3)
        # NON-GATING cpu twins of the wall stamps (r11 verdict #3):
        # process-tree CPU barely moves when external contention
        # inflates wall — decode-family cpu is near-immune (SCALE.md
        # r12 controlled A/B), so wall-drift high + decode_cpu_drift
        # ~1.0 reads as window, not code, from the artifact alone
        for key, refs in (("cpu_drift", basket_cpu),
                          ("decode_cpu_drift", decode_cpu)):
            cr = [cpu_s[k] / ref for k, ref in refs.items()
                  if cpu_s.get(k) and k not in errors]
            if cr:
                out[key] = round(statistics.geometric_mean(cr), 3)
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    # truncation-proof twin (round-7 verdict ask): the driver's capture
    # of the stdout line was tail-truncated in round 6, losing the
    # medians/total. stdout stays EXACTLY one JSON line (the driver
    # contract), and the full artifact is ALSO written next to this
    # script — committed with the round, so the judge always has an
    # intact copy even if the recorded BENCH_r{N}.json is clipped.
    try:
        if not sf_is_ref:
            # non-reference scale factors have no canary and must
            # never overwrite the sf0.1 twin of record. Sanitize the
            # token: an SF dir not ending in 'sf<num>' would otherwise
            # embed a PATH here, making the open fail silently (or
            # write outside the repo)
            token = sf if sf_num is not None else "unknown"
            fname = f"BENCH_SELF.sf{token}.json"
        elif drift_ratio is not None and drift_ratio > 1.15:
            fname = "BENCH_SELF.drifted.json"
        else:
            fname = "BENCH_SELF.json"
        self_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 fname)
        with open(self_path, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout line is still complete
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
