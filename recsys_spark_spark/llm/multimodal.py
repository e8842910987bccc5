"""3.J multimodal — opaque binary payloads with typed metadata.

Pattern for image/audio/video at 100 TB: the payload is an opaque `binary`
column that never leaves the executors; metadata (shape, codec, checksum)
travels in typed columns; decode/feature-extraction runs as Arrow-batched
mapInPandas so one Python worker processes a whole batch.

The codec layer is REAL (llm/codecs.py): a full 24-bit BMP writer/parser
(magic, BITMAPINFOHEADER, row padding, bottom-up/top-down rows) and a
RIFF/WAVE PCM writer/chunk-walking parser, both pure struct+numpy. The test
corpus carries no media files, so payloads are synthesized deterministically
from document text (codecs.pixels_from_bytes / samples_from_bytes) — the
synthesis stands in for a camera/microphone; every byte after it moves
through genuine container parsing. Decoders are pinned against hand-built
files (including shapes the encoders never emit) in tests/test_multimodal.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recsys_spark_spark.catalog import spread, table
from recsys_spark_spark.functions.determinism import rlong
from recsys_spark_spark.llm import codecs
from recsys_spark_spark.registry import query


@query(
    "q_multimodal_join",
    oracle=f"""
SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars, e.label,
       ROUND(SQRT(SUM(CAST(ROUND(CAST(e.embedding[gs.i] AS DOUBLE)
                                 * CAST(e.embedding[gs.i] AS DOUBLE) * 1e12, 0) AS BIGINT))
                  / 1e12), 6) AS emb_norm
FROM documents d
JOIN embeddings e ON d.doc_id = e.vec_id
CROSS JOIN generate_series(1, 64) gs(i)
GROUP BY 1, 2, 3, 4
""",
)
def q_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: text ⋈ vector modality join (doc_id = vec_id) with per-row
    embedding stats, flattened to top-level columns (struct output hashes
    differently across engines — SURVEY.md §7.5)."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    prods = F.zip_with(
        F.col("embedding"),
        F.col("embedding"),
        lambda x, y: rlong(x.cast("double") * y.cast("double") * F.lit(1e12)),
    )
    norm_s = F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)
    joined = d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        "label",
        F.round(F.sqrt(norm_s / F.lit(1e12)), 6).alias("emb_norm"),
    )
    return joined


def _bmp_payloads(texts: pd.Series) -> list[bytes]:
    """Synthesize a real BMP container per document (camera stand-in)."""
    return [
        codecs.encode_bmp(codecs.pixels_from_bytes(t.encode("utf-8")))
        for t in texts
    ]


@query("q_multimodal_features")  # rows-only: binary decode, not SQL-expressible
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-mm: image feature extraction via Arrow-batched mapInPandas with a
    REAL BMP decode (codecs.decode_bmp — header parse, row-padding stride,
    bottom-up rows), emitting dims and exact per-channel means.

    Means are computed as integer sums over uint8 pixels divided once
    (exact int64 arithmetic, one deterministic double division) —
    the same determinism discipline as the SQL paths. At scale: repartition
    by a size-balancing key first so decode batches are even."""

    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = _bmp_payloads(pdf["text"])
            widths, heights, mr, mg, mb = [], [], [], [], []
            for p in payloads:
                px = codecs.decode_bmp(p)
                h, w, _ = px.shape
                widths.append(w)
                heights.append(h)
                sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                npx = h * w
                mr.append(round(float(sums[0]) / npx, 6))
                mg.append(round(float(sums[1]) / npx, 6))
                mb.append(round(float(sums[2]) / npx, 6))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload_bytes": pd.Series(
                        [len(p) for p in payloads], dtype="int64"
                    ),
                    "width": pd.Series(widths, dtype="int64"),
                    "height": pd.Series(heights, dtype="int64"),
                    "mean_r": pd.Series(mr, dtype="float64"),
                    "mean_g": pd.Series(mg, dtype="float64"),
                    "mean_b": pd.Series(mb, dtype="float64"),
                }
            )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        decode_batch,
        "doc_id long, payload_bytes long, width long, height long, "
        "mean_r double, mean_g double, mean_b double",
    )


FRAME_SIZE = 256  # PCM samples per frame
FRAME_STRIDE = 2  # keep every 2nd frame


@query("q_multimodal_frames")  # rows-only: binary decode, not SQL-expressible
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-mm2: audio frame sampling — the fan-OUT mapInPandas shape (one
    input row → several frame rows), complementing q_multimodal_features'
    1:1 shape, with a REAL RIFF/WAVE PCM decode (codecs.decode_wav —
    chunk walking, fmt validation, word alignment).

    The payload is a real WAV container synthesized from the document
    text; the decoder splits the PCM stream into FRAME_SIZE-sample frames
    and keeps every FRAME_STRIDE-th, emitting per-frame RMS energy (exact
    int64 sum of squares, one double division+sqrt). The Arrow batch
    contract is the part that matters at 100 TB: the worker expands each
    batch in pandas (no per-row Python round-trips), output rows carry
    (doc_id, frame_idx) so downstream joins stay shuffle-keyed."""

    def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids: list[int] = []
            frame_idxs: list[int] = []
            n_samples: list[int] = []
            rms: list[float] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                wav = codecs.encode_wav(
                    codecs.samples_from_bytes(text.encode("utf-8"))
                )
                _rate, samples = codecs.decode_wav(wav)
                n_frames = -(-len(samples) // FRAME_SIZE)
                for idx in range(0, n_frames, FRAME_STRIDE):
                    frame = samples[idx * FRAME_SIZE : (idx + 1) * FRAME_SIZE]
                    sq = int(
                        np.sum(frame.astype(np.int64) * frame.astype(np.int64))
                    )
                    doc_ids.append(doc_id)
                    frame_idxs.append(idx)
                    n_samples.append(len(frame))
                    rms.append(round(float(np.sqrt(sq / len(frame))), 6))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(doc_ids, dtype="int64"),
                    "frame_idx": pd.Series(frame_idxs, dtype="int64"),
                    "n_samples": pd.Series(n_samples, dtype="int64"),
                    "rms": pd.Series(rms, dtype="float64"),
                }
            )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        sample_frames, "doc_id long, frame_idx long, n_samples long, rms double"
    )


# --------------------------------------------------------------------------
# J-mm3: resize transform (1 -> 1 binary-to-binary with metadata)
# --------------------------------------------------------------------------

RESIZE_TARGET = 32  # target long-edge pixels


@query("q_multimodal_resize")  # rows-only: binary re-encode, not SQL-expressible
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-mm3: binary-to-binary resize — the 1→1 media transform shape that
    completes the multimodal set (decode = q_multimodal_features,
    frame-sample = q_multimodal_frames). A REAL decode→resample→re-encode
    chain: BMP parse, nearest-neighbor resample to a {RESIZE_TARGET}px long
    edge preserving aspect (codecs.resize_nearest), BMP re-encode. The
    payload goes IN as binary and comes OUT as binary plus new dimension
    metadata through one Arrow-batched mapInPandas pass — the pattern for
    any re-encode step (resize, transcode, crop) in a 100 TB media
    pipeline: per-row, schema-stable, shuffle-free, output column typed
    `binary` so downstream stages chain the same way."""

    def resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized: list[bytes] = []
            out_w: list[int] = []
            out_h: list[int] = []
            for p in _bmp_payloads(pdf["text"]):
                px = codecs.resize_nearest(codecs.decode_bmp(p), RESIZE_TARGET)
                h, w, _ = px.shape
                resized.append(codecs.encode_bmp(px))
                out_w.append(w)
                out_h.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "resized": resized,
                    "out_w": pd.Series(out_w, dtype="int64"),
                    "out_h": pd.Series(out_h, dtype="int64"),
                    "out_bytes": pd.Series(
                        [len(r) for r in resized], dtype="int64"
                    ),
                }
            )

    # sf1 probe: the decode→resample→re-encode
    # pass is per-row CPU bound to the single-row-group scan's 1-2 tasks
    # (sf1 noop 2.2 s / 5.9x on 32 cores) — spread() the projected scan so
    # the Python workers run wide; identity at scale (guarded). Still
    # shuffle-free at cluster scale: the round-robin only exists below
    # session parallelism.
    d = spread(spark, table(spark, sf_dir, "documents").select("doc_id", "text"))
    return d.mapInPandas(
        resize_batch,
        "doc_id long, resized binary, out_w long, out_h long, out_bytes long",
    )
