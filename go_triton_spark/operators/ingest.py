"""Compressed text-shard ingest: `.jsonl.lz4` / `.jsonl.zst` / `.jsonl.xz`.

The compressions that wrap large public LLM corpora on object stores —
zstd (The Pile, Dolma, RedPajama releases), LZ4 frames and xz
(Wikipedia dumps) — each decoded by exactly one library that every
executor already has: stdlib ``lzma`` (liblzma) for xz, and the
libzstd / liblz4 bundled in pyarrow (which ``mapInPandas`` cannot run
without) for zstd and lz4. Each query synthesizes per-doc shards from
the documents table with the same libraries (scaffolding — production
shards arrive via ``spark.read.format("binaryFile")``), then runs the
REAL pipeline: frame decode -> JSONL parse -> per-record projection,
with corrupt-skip on every shard the decoder rejects. The oracle
recomputes the per-record values straight from the source table, so
the oracle gate checks the whole decompress+parse path: any
mis-decoded byte shifts the codepoint-sum column.

Scale shape: one Arrow-batched ``mapInPandas`` pass, zero shuffles,
rows independent — the same embarrassingly-parallel contract as the
mm decode family. At 100 TB the scan partitioning (one task per shard
group) is the only axis that matters, and nothing here fights it.
"""

from __future__ import annotations

import json
import lzma
from collections.abc import Callable, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from go_triton_spark.operators.registry import query, spread, tables

_SHARD_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("seq", T.LongType()),
    T.StructField("body_chars", T.LongType()),
    T.StructField("cp_sum", T.LongType()),
])

# Every query emits one row per JSONL record: (doc_id, seq) key,
# codepoint count and codepoint SUM of the decoded body — the sum makes
# the gate sensitive to any single mis-decoded character, not just to
# length drift.
_SHARD_ORACLE = """
    SELECT d.doc_id, gk.k AS seq,
           cast(length(d.text) as bigint) AS body_chars,
           cast(coalesce((SELECT sum(unicode(ch.c))
                          FROM unnest(string_split(d.text, '')) AS ch(c)
                          WHERE ch.c <> ''), 0) as bigint) AS cp_sum
    FROM documents d
    CROSS JOIN generate_series(0, 2) gk(k)
    WHERE gk.k < 1 + d.doc_id %% 3 AND d.doc_id %% 173 <> %d
"""


def _shard_rows(doc_id: int, text: str) -> bytes:
    """JSONL shard scaffolding: 1-3 records of the doc's text."""
    lines = [
        json.dumps({"doc_id": doc_id, "seq": k, "body": text},
                   ensure_ascii=False)
        for k in range(1 + doc_id % 3)
    ]
    return ("\n".join(lines) + "\n").encode("utf-8")


def _extract_records(doc_id: int, payload: bytes) -> list[tuple]:
    rows = []
    for line in payload.decode("utf-8").splitlines():
        if not line:
            continue
        rec = json.loads(line)
        body = rec["body"]
        rows.append((doc_id, int(rec["seq"]), len(body),
                     sum(ord(c) for c in body)))
    return rows


def _compress(kind: str, raw: bytes) -> bytes:
    if kind == "xz":
        return lzma.compress(raw, format=lzma.FORMAT_XZ,
                             check=lzma.CHECK_CRC64)
    level = 3 if kind == "zstd" else None
    return pa.Codec(kind, compression_level=level).compress(raw,
                                                            asbytes=True)


def _decompress(kind: str, data: bytes) -> bytes:
    """Decode one `kind` shard ("xz", "zstd" or "lz4"); ValueError on
    corrupt input.

    xz decodes every concatenated stream and skips the null padding
    between them (a multiple of 4 bytes, per the xz spec); anything
    else after a stream is corrupt. ``lzma.decompress`` would silently
    drop a tail that does not parse, so the loop runs one
    ``LZMADecompressor`` per stream. zstd and lz4 frames go through
    pyarrow's libzstd / liblz4, which decode concatenated frames, skip
    skippable ones and reject trailing junk. An empty lz4 shard is no
    frame at all and is rejected (liblz4 alone returns b"").
    """
    if kind == "xz":
        out = []
        while True:
            dec = lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
            try:
                out.append(dec.decompress(data))
            except lzma.LZMAError as e:
                raise ValueError(f"corrupt xz shard: {e}") from e
            if not dec.eof:
                raise ValueError("truncated xz shard")
            rest = dec.unused_data
            data = rest.lstrip(b"\0")
            if (len(rest) - len(data)) % 4:
                raise ValueError("xz stream padding not 4-byte aligned")
            if not data:
                return b"".join(out)
    if kind == "lz4" and not data:
        raise ValueError("empty lz4 shard")
    try:
        return pa.input_stream(pa.py_buffer(data), compression=kind).read()
    except OSError as e:
        raise ValueError(f"corrupt {kind} shard: {e}") from e


def _shard_ingest(spark: SparkSession, sf_dir: str, kind: str,
                  bad_doc: int,
                  corrupt: Callable[[bytes], bytes]) -> DataFrame:
    """Compress each doc's shard as `kind`, apply `corrupt` to every
    173rd shard (doc_id % 173 == bad_doc), then decode, parse and
    project; a shard the decoder rejects is skipped (the oracle's
    WHERE drops the same docs)."""
    (d,) = tables(spark, sf_dir, "documents")
    src = spread(d.select("doc_id", "text"), spark, rows_per_task=500)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                shard = _compress(kind, _shard_rows(doc_id, str(text)))
                if doc_id % 173 == bad_doc:
                    shard = corrupt(shard)
                try:
                    payload = _decompress(kind, shard)
                except ValueError:
                    continue  # corrupt-skip
                rows.extend(_extract_records(doc_id, payload))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _SHARD_SCHEMA])

    return src.mapInPandas(run, schema=_SHARD_SCHEMA)


def _flip(data: bytes, i: int) -> bytes:
    return data[:i] + bytes([data[i] ^ 0xFF]) + data[i + 1:]


@query(
    "text_lz4_jsonl_ingest",
    oracle=_SHARD_ORACLE % 11,
    tags=("llm", "text", "ingest"),
)
def text_lz4_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`.jsonl.lz4` shard ingest: LZ4 frames written and read by
    pyarrow's liblz4 (magic, frame descriptor with xxHash32 header
    checksum, blocks, EndMark).

    Corruption flips the frame descriptor's header-checksum byte
    (index 6 after the 4-byte magic, FLG and BD) on every 173rd shard;
    liblz4 rejects the header and the shard is skipped (counted by the
    oracle's WHERE). liblz4 frames carry no block checksum, so a
    flipped body byte would not be caught. The JSON bodies repeat the
    doc text across records, so LZ4 back-references genuinely fire.
    """
    return _shard_ingest(spark, sf_dir, "lz4", 11, lambda s: _flip(s, 6))


@query(
    "text_xz_jsonl_ingest",
    oracle=_SHARD_ORACLE % 47,
    tags=("llm", "text", "ingest"),
)
def text_xz_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`.jsonl.xz` shard ingest — the other compression real corpora
    ship in (Wikipedia dumps, The Pile's .jsonl.xz variants) — written
    and read by stdlib ``lzma`` (liblzma) with a CRC64 block check.

    Corruption flips one byte in the middle of every 173rd shard's
    compressed data; liblzma rejects it and the shard is skipped
    (counted by the oracle's WHERE).
    """
    return _shard_ingest(spark, sf_dir, "xz", 47,
                         lambda s: _flip(s, len(s) // 2))


@query(
    "text_zst_jsonl_ingest",
    oracle=_SHARD_ORACLE % 29,
    tags=("llm", "text", "ingest"),
)
def text_zst_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`.jsonl.zst` shard ingest — the compression wrapping most large
    public text corpora (The Pile, Dolma, RedPajama) — written and
    read by the libzstd bundled in pyarrow.

    Corruption truncates the final byte of every 173rd shard; libzstd
    detects the cut frame and the shard is skipped (counted by the
    oracle's WHERE). libzstd frames carry no content checksum by
    default, so the reject is structural, not checksum-driven.
    """
    return _shard_ingest(spark, sf_dir, "zstd", 29, lambda s: s[:-1])
