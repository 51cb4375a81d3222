"""LLM-data-pipeline operator tests (dedup, similarity, text, multimodal).

Oracle value-parity is covered by tools/check_correctness.py (and the
driver); these tests assert structural/semantic properties the oracle
cannot: LSH recall, signature stability, plumbing shapes.
"""

from pyspark.sql import functions as F

from go_triton_spark.operators import REGISTRY

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].spark(spark, SF)


def test_corpus_every_document_has_three_words(spark):
    """Guard for the inverted-index oracle rewrite (_ORACLE_PAIR_CTES):
    it only emits pairs with inter > 0, which equals the quadratic
    list-intersect form ONLY when no two documents both have an empty
    shingle set (an empty-empty pair has inter=0, uni=0 and would
    vacuously satisfy inter*10 >= uni*7). That requires >= 3 words per
    document. Assert it on every gated corpus so a testdata change
    fails HERE, not as an opaque oracle mismatch."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1"):
        d = spark.read.parquet(sf + "/documents.parquet")
        n_short = d.where(F.size(F.split("text", " ")) < 3).count()
        assert n_short == 0, f"{sf}: {n_short} docs with < 3 words"


def test_dedup_exact_keeps_one_per_group(spark):
    df = _run(spark, "dedup_exact")
    keepers = df.where("keep").count()
    groups = df.select("fingerprint").distinct().count()
    assert keepers == groups


def test_minhash_matches_exact_jaccard_pairs(spark):
    """LSH candidates + exact verify == exact >=0.7 pairs (recall check)."""
    exact = {(r["id_a"], r["id_b"])
             for r in _run(spark, "dedup_ngram_jaccard")
             .where(F.col("inter") * 10 >= F.col("uni") * 7)
             .select("id_a", "id_b").collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in _run(spark, "dedup_minhash_lsh").collect()}
    assert lsh == exact and len(exact) > 0


def test_minhash_finds_nested_near_dups(spark, tmp_path):
    """A doc x, x plus one word, and that plus one more word: three
    pairs at Jaccard 0.93-0.97, which 8 independent bands miss with
    probability ~1e-8 each. The two added shingles hash (31-bit, as
    the query does) below 10^4, far under the base doc's lowest,
    49482187. Permutations with small a and b (a = 3..33, b ~ 1e5)
    never wrap such a hash, so it was every minhash of the doc that
    gained it: each step of the chain moved all 8 bands and all three
    pairs were missed."""
    x = " ".join(f"w{i}" for i in range(30))
    texts = [x, x + " dup86789", x + " dup86789 dup216786"]
    lows = spark.sql(
        "SELECT pmod(xxhash64(s), 2147483647) AS h FROM VALUES "
        "('w28_w29_dup86789'), ('w29_dup86789_dup216786') AS t(s)")
    assert [r.h for r in lows.collect()] == [7310, 4605]
    spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    got = {(r["id_a"], r["id_b"]) for r in REGISTRY["dedup_minhash_lsh"]
           .spark(spark, str(tmp_path)).collect()}
    assert got == {(0, 1), (0, 2), (1, 2)}


def test_simhash_is_16_bit_and_stable(spark):
    rows = _run(spark, "dedup_simhash").collect()
    assert all(0 <= r["simhash16"] < 65536 for r in rows)
    # determinism: recomputing yields identical signatures
    again = {r["doc_id"]: r["simhash16"] for r in _run(spark, "dedup_simhash").collect()}
    first = {r["doc_id"]: r["simhash16"] for r in rows}
    assert first == again


def test_ann_lsh_recall_vs_bruteforce(spark):
    exact = {(r["query_id"], r["neighbor_id"])
             for r in _run(spark, "ann_topk_bruteforce").collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in _run(spark, "ann_topk_lsh").collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_ann_ivf_recall_vs_bruteforce(spark):
    exact = {(r["query_id"], r["neighbor_id"])
             for r in _run(spark, "ann_topk_bruteforce").collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in _run(spark, "ann_topk_ivf").collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # every returned row must be rank-consistent (1..k per query)
    ranks = _run(spark, "ann_topk_ivf").groupBy("query_id").count().collect()
    assert all(r["count"] <= 5 for r in ranks)


def test_text_chunk_reconstructs(spark):
    """Chunks with overlap stripped re-concatenate to the original text."""
    import go_triton_spark.operators as ops
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    chunks = _run(spark, "text_chunk").orderBy("doc_id", "chunk_id").collect()
    docs = {r["doc_id"]: r["text"] for r in d.collect()}
    rebuilt = {}
    for r in chunks:
        cur = rebuilt.get(r["doc_id"], "")
        # stride 150, size 200: keep first 150 chars of every chunk,
        # the last chunk contributes its full remainder
        rebuilt[r["doc_id"]] = cur[: r["chunk_id"] * 150] + r["chunk"]
    assert rebuilt == docs


def test_ann_topk_shape(spark):
    df = _run(spark, "ann_topk_bruteforce")
    per_query = df.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in per_query)
    assert len(per_query) == 10


def test_text_quality_bounds(spark):
    rows = _run(spark, "text_quality_score").collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in rows)
    assert all(0.0 < r["distinct_ratio"] <= 1.0 for r in rows)


def test_mm_image_decode_real_bytes_and_corrupt_skip(spark):
    """mm_image_decode parses REAL BMP payloads in-flight: surviving
    rows match the closed-form pixel formula, truncated payloads
    (doc_id % 97 == 13) are skipped — corrupt-skip on real bytes."""
    rows = _run(spark, "mm_image_decode").collect()
    n_docs = spark.read.parquet(SF + "/documents.parquet").count()
    skipped = sum(1 for i in range(n_docs) if i % 97 == 13)
    assert len(rows) == n_docs - skipped
    for r in rows:
        assert r["doc_id"] % 97 != 13
        w, h = 4 + r["doc_id"] % 13, 4 + r["doc_id"] % 7
        assert (r["width"], r["height"], r["bit_depth"]) == (w, h, 24)
        assert r["n_pixels"] == w * h
        assert r["sum_r"] == sum((x + 2 * y + r["doc_id"]) % 256
                                 for x in range(w) for y in range(h))


def test_mm_image_resize_is_real_nearest_neighbor(spark):
    """mm_image_resize downsamples the DECODED pixel array: every
    resized red-channel sum equals the nearest-neighbor index math
    applied to the closed-form source pixels."""
    rows = _run(spark, "mm_image_resize").collect()
    for r in rows[:50]:
        w, h = 4 + r["doc_id"] % 13, 4 + r["doc_id"] % 7
        ow, oh = min(w, 8), min(h, 8)
        assert (r["out_width"], r["out_height"]) == (ow, oh)
        exp = sum(((ox * w) // ow + 2 * ((oy * h) // oh) + r["doc_id"]) % 256
                  for ox in range(ow) for oy in range(oh))
        assert r["sum_r"] == exp


def test_mm_wav_decode_real_bytes_and_corrupt_skip(spark):
    """mm_wav_decode parses REAL RIFF/PCM payloads in-flight: every
    surviving row's stats match the closed-form signal, and exactly
    the deterministically-truncated payloads (doc_id % 97 == 13) are
    skipped — the corrupt-skip contract on real bytes."""
    rows = _run(spark, "mm_wav_decode").collect()
    n_docs = spark.read.parquet(SF + "/documents.parquet").count()
    skipped = sum(1 for i in range(n_docs) if i % 97 == 13)
    assert len(rows) == n_docs - skipped
    for r in rows:
        assert r["doc_id"] % 97 != 13
        amp = 1000 + (r["doc_id"] % 20) * 500
        assert (r["peak"], r["rms_u"]) == (amp, amp)
        assert (r["n_channels"], r["sample_rate"], r["bit_depth"],
                r["n_frames"], r["duration_ms"]) == (1, 8000, 16, 480, 60)


def test_mm_frame_sample_real_avi_decode(spark):
    """mm_frame_sample parses REAL AVI containers in-flight: every
    surviving doc has frame 0, only EVEN frames appear (stride-2
    sampling), truncated containers (doc_id % 97 == 13) are skipped,
    and each sampled frame's red sum matches the closed-form pixels."""
    df = _run(spark, "mm_frame_sample")
    rows = df.collect()
    n_docs = spark.read.parquet(SF + "/documents.parquet").count()
    skipped = sum(1 for i in range(n_docs) if i % 97 == 13)
    docs = {r["doc_id"] for r in rows}
    assert len(docs) == n_docs - skipped
    assert all(r["frame_idx"] % 2 == 0 for r in rows)
    for r in rows[:60]:
        exp = sum((x + 2 * y + 3 * r["frame_idx"] + r["doc_id"]) % 256
                  for x in range(8) for y in range(6))
        assert r["sum_r"] == exp
    # per-doc frame count = ceil(n_frames / 2)
    import collections
    per_doc = collections.Counter(r["doc_id"] for r in rows)
    for d in list(docs)[:50]:
        n = 2 + d % 7
        assert per_doc[d] == (n + 1) // 2


def test_mm_feature_extract_real_pixel_features(spark):
    """mm_feature_extract computes its vector from DECODED BMP pixels:
    channel means + red-plane horizontal gradient, corrupt docs
    skipped."""
    import numpy as np

    from go_triton_spark.codec.bmp import parse_bmp
    from go_triton_spark.operators.multimodal import _gate_pixels

    rows = _run(spark, "mm_feature_extract").collect()
    n_docs = spark.read.parquet(SF + "/documents.parquet").count()
    skipped = sum(1 for i in range(n_docs) if i % 97 == 13)
    assert len(rows) == n_docs - skipped
    for r in rows[:40]:
        px = _gate_pixels(r["doc_id"]).astype("int64")
        n = px.shape[0] * px.shape[1]
        exp = [int(px[:, :, c].sum()) // n for c in range(3)]
        exp.append(int(np.abs(np.diff(px[:, :, 0], axis=1)).sum()))
        assert r["features"] == "|".join(str(v) for v in exp)


def test_embedding_lsh_recall_on_planted_neardups(spark, tmp_path):
    """The SRP-banded path (cosine >= 0.9, where banding genuinely
    prunes) must recover planted near-duplicate vector pairs."""
    import numpy as np

    from go_triton_spark.operators.dedup import (_srp_prunes,
                                                 embedding_cosine_pairs)

    assert _srp_prunes(0.9) and not _srp_prunes(0.45)

    rng = np.random.RandomState(7)
    base = rng.standard_normal((100, 64))
    # plant 5 near-dup pairs: ids (i, 100+i), cosine ~0.995
    planted = base[:5] + 0.1 * rng.standard_normal((5, 64))
    vecs = np.vstack([base, planted]).astype("float32")
    rows = [(int(i), v.tolist(), 0) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>, label: int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    got = {(r["id_a"], r["id_b"])
           for r in embedding_cosine_pairs(
               spark.read.parquet(str(tmp_path / "embeddings.parquet")), 0.9
           ).collect()}
    assert {(i, 100 + i) for i in range(5)} <= got


def test_train_val_split_partitions_corpus(spark):
    """Split is disjoint, exhaustive, deterministic, and ~90/5/5."""
    rows = _run(spark, "curate_train_val_split").collect()
    total = spark.read.parquet(SF + "/documents.parquet").count()
    assert len(rows) == total
    by_split = {}
    for r in rows:
        by_split.setdefault(r["split"], set()).add(r["doc_id"])
    assert set(by_split) == {"train", "val", "test"}
    assert sum(len(v) for v in by_split.values()) == total  # disjoint
    assert len(by_split["train"]) / total > 0.8
    # rerun identical (hash, not rand)
    again = {(r["doc_id"], r["split"])
             for r in _run(spark, "curate_train_val_split").collect()}
    assert again == {(r["doc_id"], r["split"]) for r in rows}


def test_language_balance_targets_and_determinism(spark):
    """Kept counts match the integer sqrt-weight targets; head
    languages are flattened relative to their raw share."""
    import math

    d = spark.read.parquet(SF + "/documents.parquet")
    raw = {r["lang"]: r["count"] for r in d.groupBy("lang").count().collect()}
    kept = _run(spark, "curate_language_balance").groupBy("lang").count().collect()
    kept = {r["lang"]: r["count"] for r in kept}
    w = {lang: round(math.sqrt(n) * 1e6) for lang, n in raw.items()}
    w_sum = sum(w.values())
    for lang, n in raw.items():
        assert kept.get(lang, 0) == 300 * w[lang] // w_sum, lang
    # flattening: the head language's kept share < its raw share
    head = max(raw, key=raw.get)
    assert kept[head] / sum(kept.values()) < raw[head] / sum(raw.values())


def test_sequence_pack_is_gapless_per_language(spark):
    """Per language: offsets are a gapless concat (tok_start of doc k
    = tok_start + n_tokens of doc k-1) and sequence spans match the
    window arithmetic."""
    rows = _run(spark, "text_sequence_pack").orderBy("lang", "doc_id").collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, docs in by_lang.items():
        expect = 0
        for r in docs:
            assert r["tok_start"] == expect, (lang, r["doc_id"])
            assert r["seq_first"] == r["tok_start"] // 512
            assert r["seq_last"] == (r["tok_start"] + r["n_tokens"] - 1) // 512
            expect += r["n_tokens"]


def test_span_dedup_covers_exact_duplicates(spark):
    """Every exact-duplicate document pair shares all its spans, so
    span dedup must flag spans whenever exact dedup found copies."""
    exact = _run(spark, "dedup_exact")
    n_dup_docs = exact.where("NOT keep").count()
    spans = _run(spark, "dedup_span_exact")
    rows = spans.collect()
    assert all(r["n_docs"] >= 2 for r in rows)
    assert all(r["n_occurrences"] >= r["n_docs"] for r in rows)
    if n_dup_docs > 0:
        assert len(rows) > 0, "exact copies exist but no shared spans found"


def test_perplexity_proxy_scores_every_doc(spark):
    total = spark.read.parquet(SF + "/documents.parquet").count()
    rows = _run(spark, "text_perplexity_proxy").collect()
    assert len(rows) == total
    # unigram mean NLL is positive and bounded by ln(corpus tokens)
    assert all(0.0 < r["avg_nll"] < 30.0 for r in rows)
    # integer accumulators agree with the reported mean
    for r in rows[:20]:
        assert abs(r["avg_nll"] - r["nll_u_total"] / (1e6 * r["n_tok"])) < 1e-12


def test_sequence_pack_property_on_synthetic_corpus(spark, tmp_path):
    """Packing invariants on a corpus the testdata can't produce:
    documents LONGER than the 512-token window (spanning several
    sequences) and single-token documents."""
    import random

    from go_triton_spark.operators.training import text_sequence_pack

    rng = random.Random(11)
    rows = []
    for i in range(60):
        n = rng.choice([1, 3, 40, 511, 512, 513, 1500])
        rows.append((i, " ".join(f"w{j}" for j in range(n)), "xx", "syn", n))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = sorted(
        ((r["doc_id"], r["n_tokens"], r["tok_start"],
          r["seq_first"], r["seq_last"])
         for r in text_sequence_pack(spark, str(tmp_path)).collect()))
    offset = 0
    for doc_id, n_tokens, tok_start, seq_first, seq_last in got:
        assert tok_start == offset                       # gapless concat
        assert seq_first == tok_start // 512
        assert seq_last == (tok_start + n_tokens - 1) // 512
        assert seq_last >= seq_first                     # long docs span
        offset += n_tokens
    spans = {d: (sl - sf + 1) for d, n, t, sf, sl in got}
    assert max(spans.values()) >= 3  # the 1500-token doc spans >= 3 windows


def test_levenshtein_salting_is_result_invariant(spark):
    """Force the size-aware salting into the multi-salt regime (tiny
    pair budget -> up to 64 salts per block) and assert the result set
    is IDENTICAL to the unsalted plan — salting must only re-shard the
    pair space, never change which pairs are scored."""
    from go_triton_spark.operators.dedup import dedup_levenshtein

    base = {(r["id_a"], r["id_b"], r["dist"])
            for r in dedup_levenshtein(spark, SF, pair_budget=10**9).collect()}
    salted = {(r["id_a"], r["id_b"], r["dist"])
              for r in dedup_levenshtein(spark, SF, pair_budget=10).collect()}
    assert salted == base


def test_emb_quantize_int8_codes_and_reconstruction(spark):
    """Codes lie in [0,255]; dequantized values reconstruct each
    dimension within half a quantization step of the original; codes
    are deterministic across re-runs (global stats, integer code
    math)."""
    out = _run(spark, "emb_quantize_int8").collect()
    emb = {r["vec_id"]: [float(x) for x in r["embedding"]]
           for r in spark.read.parquet(SF + "/embeddings.parquet").collect()}
    dim = len(next(iter(emb.values())))
    mn = [min(v[i] for v in emb.values()) for i in range(dim)]
    mx = [max(v[i] for v in emb.values()) for i in range(dim)]
    assert len(out) == len(emb)
    for r in out:
        codes = [int(c) for c in r["q_codes"].split("|")]
        assert len(codes) == dim
        assert all(0 <= c <= 255 for c in codes)
        assert sum(codes) == r["q_checksum"]
        for i, c in enumerate(codes):
            if mx[i] == mn[i]:
                assert c == 0
                continue
            step = (mx[i] - mn[i]) / 255.0
            deq = mn[i] + c * step
            assert abs(deq - emb[r["vec_id"]][i]) <= step / 2 + 1e-9

    # deterministic: a re-run (fresh plan, fresh shuffles) emits
    # identical codes — global min/max stats, integer code math
    base = {r["vec_id"]: r["q_codes"] for r in out}
    again = {r["vec_id"]: r["q_codes"]
             for r in _run(spark, "emb_quantize_int8").collect()}
    assert base == again


def test_curate_mix_weights_allocations_sum_to_budget(spark):
    """Largest-remainder apportionment: integer allocations, exact
    budget total, each group within 1 token of its proportional
    share."""
    rows = _run(spark, "curate_mix_weights").collect()
    budget = 100_000
    total_tok = sum(r["toks"] for r in rows)
    assert sum(r["alloc_tokens"] for r in rows) == budget
    for r in rows:
        exact = budget * r["toks"] / total_tok
        assert abs(r["alloc_tokens"] - exact) < 1.0
        assert r["alloc_tokens"] >= 0


def test_text_c4_filters_keep_is_conjunction(spark):
    rows = _run(spark, "text_c4_filters").collect()
    assert len(rows) > 0
    for r in rows:
        assert r["keep"] == ((r["n_words"] >= 5) and not r["has_brace"]
                             and not r["has_lorem"])


def test_kmeans_assigns_every_vector_once(spark):
    """emb_kmeans: total assignment, cluster ids from the seed set,
    >1 cluster survives, and the run is deterministic."""
    rows = _run(spark, "emb_kmeans").collect()
    n_vecs = spark.read.parquet(SF + "/embeddings.parquet").count()
    assert len(rows) == n_vecs
    assert len({r["vec_id"] for r in rows}) == n_vecs
    clusters = {r["cluster"] for r in rows}
    assert clusters <= set(range(4)) and len(clusters) >= 2
    assert all(r["dist"] >= 0 for r in rows)
    again = {(r["vec_id"], r["cluster"]) for r in _run(spark, "emb_kmeans").collect()}
    assert {(r["vec_id"], r["cluster"]) for r in rows} == again


def test_knn_graph_recall_vs_bruteforce(spark):
    """knn_graph_lsh: every vector gets <= k ranked neighbors, and
    candidate recall vs the true top-3 (numpy brute force) >= 0.6 on
    the near-random test corpus (clustered real data prunes harder
    AND recalls better; approximation is tested here, the driver
    gate hash-checks the algorithm twin)."""
    import numpy as np
    import pyarrow.parquet as pq

    got = {}
    for r in _run(spark, "knn_graph_lsh").collect():
        got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    assert all(len(v) <= 3 for v in got.values())

    t = pq.read_table(SF + "/embeddings.parquet")
    E = np.array([np.asarray(x) for x in t["embedding"].to_pylist()],
                 dtype=np.float64)
    ids = np.asarray(t["vec_id"].to_pylist())
    norm = E / np.linalg.norm(E, axis=1, keepdims=True)
    S = norm @ norm.T
    np.fill_diagonal(S, -2)
    top3 = np.argsort(-S, axis=1)[:, :3]
    hits = tot = 0
    for row, vid in enumerate(ids):
        mine = got.get(int(vid), set())
        for j in top3[row]:
            tot += 1
            hits += int(ids[j]) in mine
    assert hits / tot >= 0.6, f"recall {hits/tot:.3f}"


def test_semdedup_prune_drops_some_and_keeps_min_ids(spark):
    """semdedup_prune: full-corpus decision vector; something prunes on
    this corpus (pairs >= 0.45 exist); vec_id 0 can never be pruned
    (no lower id); pruning is monotone — every pruned vector has a
    kept-or-pruned lower-id candidate, never the other way."""
    import numpy as np
    import pyarrow.parquet as pq

    rows = {r["vec_id"]: r["keep"] for r in _run(spark, "semdedup_prune").collect()}
    n = spark.read.parquet(SF + "/embeddings.parquet").count()
    assert len(rows) == n
    assert rows[0] is True
    assert any(not k for k in rows.values())
    # Monotonicity: a vector is pruned only by a LOWER-id neighbor at
    # rounded cosine >= 0.45. LSH candidates are a subset of all pairs
    # and the rescore is the true cosine, so every pruned id must have
    # SOME lower-id vector at >= 0.45 in the full cosine matrix.
    t = pq.read_table(SF + "/embeddings.parquet")
    ids = np.asarray(t["vec_id"].to_pylist())
    E = np.array([np.asarray(x) for x in t["embedding"].to_pylist()],
                 dtype=np.float64)
    norm = E / np.linalg.norm(E, axis=1, keepdims=True)
    S = np.round(norm @ norm.T, 6)
    order = np.argsort(ids)
    for pos, row in enumerate(order):
        if not rows[int(ids[row])]:
            lower_rows = order[:pos]
            assert lower_rows.size and S[row, lower_rows].max() >= 0.45, \
                f"vec {ids[row]} pruned with no lower-id neighbor >= 0.45"


def test_levenshtein_qgram_no_false_dismissals(spark, tmp_path):
    """dedup_levenshtein_qgram must equal the blocked-exact form on an
    adversarial corpus: near-dup pairs (substitutions AND an
    insertion, which shifts every later gram position), short docs
    (vacuous q-gram bound -> all-pairs fallback), and degenerate
    repetitive strings (tiny distinct-gram sets)."""
    from go_triton_spark.operators.dedup import (dedup_levenshtein,
                                                 dedup_levenshtein_qgram)

    base = "the quick brown fox jumps over the lazy dog again and again until dawn!!"
    docs = [
        (0, base, "en"),
        (1, base.replace("quick", "quack").replace("lazy", "hazy"), "en"),
        (2, "X" + base[:-1], "en"),                     # front insertion: shifts all grams
        (3, "completely different text about spark engines and parquet files ok", "en"),
        (4, "ab" * 36, "en"),                            # repetitive: 3 distinct grams
        (5, "ab" * 35 + "abab", "en"),                   # near-dup of 4 (same bucket)
        (6, "tiny doc", "en"),                           # short: fallback
        (7, "tiny dog", "en"),                           # dist 1 from 6
        (8, base, "fr"),                                 # other lang: never pairs with en
    ]
    import pandas as pd
    pdf = pd.DataFrame({
        "doc_id": [d[0] for d in docs],
        "text": [d[1] for d in docs],
        "lang": [d[2] for d in docs],
        "source": ["t"] * len(docs),
        "n_chars": [len(d[1]) for d in docs],
    })
    out = str(tmp_path / "docs")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(out + "/documents.parquet")
    exact = sorted(map(tuple, dedup_levenshtein(spark, out).collect()))
    qgram = sorted(map(tuple, dedup_levenshtein_qgram(spark, out).collect()))
    assert qgram == exact
    pairs = {(a, b) for a, b, _ in exact}
    assert (0, 1) in pairs and (0, 2) in pairs and (4, 5) in pairs \
        and (6, 7) in pairs and not any(8 in p for p in pairs)


def test_outlier_scores_cover_corpus_and_flag_isolated(spark):
    """emb_outlier_scores: one row per vector; scores in [-1, 1];
    outlier flag consistent with its stated rule."""
    rows = _run(spark, "emb_outlier_scores").collect()
    n = spark.read.parquet(SF + "/embeddings.parquet").count()
    assert len(rows) == n
    for r in rows:
        assert -1.0 <= r["mean_top_score"] <= 1.0
        expect = r["n_neighbors"] < 3 or r["mean_top_score"] < 0.30
        assert r["is_outlier"] == expect


def test_similarity_histogram_is_complete_and_constant_size(spark):
    """emb_similarity_histogram: bins partition all probe pairs; total
    pair count equals K*(K-1)/2 with K = min(300, corpus)."""
    rows = _run(spark, "emb_similarity_histogram").collect()
    n = spark.read.parquet(SF + "/embeddings.parquet").count()
    k = min(300, n)
    assert sum(r["n_pairs"] for r in rows) == k * (k - 1) // 2
    assert all(-10 <= r["bin"] <= 10 for r in rows)


def test_theta_sketch_estimate_properties(spark):
    """KMV estimator invariants the oracle can't express: the estimate
    tracks the exact count within the k=64 theoretical error band
    (~3 sigma = 3/sqrt(k-1) ~ 38%), is deterministic across runs, and
    the shard-merged sketch equals the single-pass sketch exactly
    (k-min of a union == k-min of the union of k-mins)."""
    single = {r["event_type"]: r for r in
              _run(spark, "sketch_theta_distinct").collect()}
    merged = {r["event_type"]: r for r in
              _run(spark, "sketch_theta_union").collect()}
    assert set(single) == set(merged) and single
    for et, row in single.items():
        est, exact = row["theta_estimate"], row["exact_distinct"]
        assert exact > 0
        # within the 3-sigma KMV band (or exact when below k)
        assert abs(est - exact) <= max(3, 0.38 * exact + 1), (et, est, exact)
        # mergeability: shard-merge must reproduce the single-pass
        # estimate EXACTLY, not approximately
        assert merged[et]["theta_estimate"] == est, et
        assert merged[et]["exact_distinct"] == exact, et
    again = {r["event_type"]: r["theta_estimate"] for r in
             _run(spark, "sketch_theta_distinct").collect()}
    assert again == {et: r["theta_estimate"] for et, r in single.items()}


def test_cross_format_dedup_groups_mix_formats(spark):
    """The fingerprint groups must span CONTAINER formats — the whole
    point is that the same pixels in BMP vs PNG vs TIFF vs WebP land
    in one group (byte-hash dedup cannot do this)."""
    df = _run(spark, "dedup_image_cross_format")
    rows = df.collect()
    assert rows
    # rebuild groups from the keep/copies output: each keeper's group
    # size equals copies; total keeps == number of distinct images
    keeps = [r for r in rows if r["keep"]]
    assert keeps and sum(r["copies"] for r in keeps) == len(rows)
    # multi-copy groups exist and contain >= 2 distinct formats (docs
    # 50 apart differ in doc_id % 4 because gcd(50, 4) = 2 -> formats
    # alternate within a group)
    from collections import defaultdict
    by_copies = defaultdict(list)
    for r in rows:
        by_copies[(r["copies"], r["doc_id"] % 50)].append(r["fmt"])
    multi = [fmts for (c, _), fmts in by_copies.items() if c >= 2]
    assert multi
    assert any(len(set(fmts)) >= 2 for fmts in multi), multi[:3]


def test_text_cdc_chunks_null_empty_unicode_parity(spark, tmp_path):
    """The r11 Arrow rewrite must match the DuckDB oracle on the
    degenerate rows the sf corpora lack: NULL text (max_chunk_len must
    be NULL, not 0 — review find), empty string (0), and non-ASCII
    codepoints (utf-32 path == ascii()/ord() semantics)."""
    import duckdb
    import pandas as pd

    from go_triton_spark.operators import REGISTRY

    pdf = pd.DataFrame(
        [(1, None), (2, ""), (3, "abc"), (4, "hello world " * 50),
         (5, "héllo wörld ünïcode " * 20)],
        columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "web"
    pdf["n_chars"] = pdf["text"].str.len()
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)
    got = [(r.doc_id, r.n_chunks, r.max_chunk_len)
           for r in REGISTRY["text_cdc_chunks"]
           .spark(spark, str(tmp_path)).orderBy("doc_id").collect()]
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from read_parquet('{path}')")
    want = [tuple(t) for t in con.execute(
        REGISTRY["text_cdc_chunks"].oracle + " ORDER BY doc_id")
        .fetchall()]
    assert got == want
    assert got[0] == (1, 0, None), "NULL text yields NULL max_chunk_len"
