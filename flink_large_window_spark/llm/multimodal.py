"""Multimodal column operators (SURVEY.md §2.10).

Image/audio/video are opaque ``binary`` columns with typed metadata.
The decode step is a deterministic fake over the documents' text bytes
(no media codec is a dependency); everything Spark-side is real and
tested: binary schema, Arrow batch shape through mapInPandas,
partitioning, and the aggregate over extracted features. A real codec
replaces only the per-blob function inside each operator's batch
loop.

Scale notes (100 TB): media blobs dominate bytes — the pipeline keeps
them in their own column, prunes it unless the stage needs it, and
processes via mapInPandas so a partition streams through Arrow batches
(constant memory) instead of collecting. Feature extraction is
embarrassingly parallel; partition count is the only knob.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..tables import prep, table


@query(
    "multimodal_vec_stats",
    oracle="""
    SELECT label,
           COUNT(*) AS n,
           ROUND(AVG(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS avg_l2,
           ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 6) AS avg_e1
    FROM embeddings GROUP BY label
    """,
)
def multimodal_vec_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding statistics: count, mean L2 norm, mean first
    component — JVM-side array folds, rounded per the float policy."""
    prep(spark)
    d = F.col("embedding").cast("array<double>")
    l2 = F.sqrt(F.aggregate(d, F.lit(0.0), lambda a, x: a + x * x))
    return (
        table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(l2), 6).alias("avg_l2"),
            F.round(F.avg(F.element_at(d, 1)), 6).alias("avg_e1"),
        )
    )


@query(
    "multimodal_doc_join",
    oracle="""
    SELECT lang, label, COUNT(*) AS n
    FROM documents JOIN embeddings ON doc_id = vec_id
    GROUP BY lang, label
    """,
)
def multimodal_doc_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text ↔ embedding modality join on the shared id space."""
    prep(spark)
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("lang", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "multimodal_blob_features",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_bytes,
           CAST(CASE WHEN n = 0 THEN -1
                ELSE CAST(('0x' || substr(hx, 1, 2)) AS INTEGER)
           END AS INTEGER) AS first_byte,
           CAST(CASE WHEN n = 0 THEN -1
                ELSE CAST(('0x' || substr(hx, n * 2 - 1, 2)) AS INTEGER)
           END AS INTEGER) AS last_byte
    FROM b
    """,
)
def multimodal_blob_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through mapInPandas.

    The documents' text bytes stand in for media blobs (binary column +
    typed metadata), flowing through the exact plumbing a real decoder
    would use: Arrow batches in, per-row feature struct out. The
    "decode" is a deterministic fake (blob length + first/last byte);
    a real codec replaces ``extract``'s per-blob expressions.
    """
    prep(spark)
    blobs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode("text", "utf-8").alias("blob"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").alias("n_bytes_meta"),
        ).alias("meta"),
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blob = pdf["blob"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": blob.str.len().astype("int64"),
                    # b[0]/b[-1] on bytes is already an int; empty
                    # blobs → -1 (the oracle's n=0 branch). blob.str[0]
                    # would yield NaN (not None) for b"" and crash.
                    "first_byte": blob.apply(
                        lambda b: b[0] if b else -1
                    ).astype("int32"),
                    "last_byte": blob.apply(
                        lambda b: b[-1] if b else -1
                    ).astype("int32"),
                }
            )

    return blobs.mapInPandas(
        extract,
        schema="doc_id long, n_bytes long, first_byte int, last_byte int",
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH b AS (
      SELECT doc_id, octet_length(encode(text)) AS n,
             greatest(octet_length(encode(text)) // 64, 1) AS n_frames
      FROM documents
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS frame_idx,
           CAST(LEAST(LEAST(n - i * 64, 64), 16) AS INTEGER) AS thumb_len
    FROM b, UNNEST(generate_series(0, n_frames - 1, 4)) AS u(i)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling / resize plumbing for media blobs.

    Treats each document's bytes as a fake media stream: fixed-size
    "frames" (64-byte chunks), every 4th frame sampled, each "resized"
    (truncated to its first 16 bytes) — one output row per sampled
    frame. This is the exact mapInPandas shape a real video pipeline
    uses (one input row → N frame rows, Arrow-batched, constant
    memory); in production a real decoder replaces the byte slicing
    in ``sample``.
    """
    prep(spark)
    frame, stride, thumb = 64, 4, 16
    blobs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("blob")
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "thumb_len": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                n_frames = max(len(blob) // frame, 1)
                for i in range(0, n_frames, stride):
                    chunk = blob[i * frame : (i + 1) * frame]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["thumb_len"].append(min(len(chunk), thumb))
            yield pd.DataFrame(out)

    return blobs.mapInPandas(
        sample, schema="doc_id long, frame_idx int, thumb_len int"
    )


@query(
    "multimodal_embed_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                               x -> abs(x))) = 0
                  THEN 1.0
                  ELSE list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                               x -> abs(x))) / 127.0
             END AS sc
      FROM embeddings
    )
    SELECT vec_id,
           floor(sc * 1000000 + 0.5) / 1000000 AS scale,
           array_to_string(
             list_transform(v, x -> CAST(floor(x / sc + 0.5) AS INTEGER)),
             ',') AS q_csv
    FROM s
    """,
)
def multimodal_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column:
    per-vector scale = max|x|/127, q_i = floor(x_i/scale + 0.5) ∈
    [−127,127] (round-half-up — chosen over np.rint's banker's
    rounding so BOTH engines compute the identical integer; all ops
    are exact IEEE double → the SQL oracle is bit-faithful, upgraded
    from rows-only in round 5). The reported scale is half-up rounded
    to 1e-6 the same way; q uses the unrounded scale.

    This is the storage/serving form of a 100 TB vector corpus — 4×
    smaller than float32 (16× vs the float64 Spark would otherwise
    carry), and the form IVF cells are scanned in at serving time.
    One Arrow-batched scan, no shuffle; reconstruction quality
    (dequantized cosine ≥ 0.999 vs the original) is pinned by
    tests/test_llm_quality.py.

    The quantized vector is emitted as a comma-joined string
    (``q_csv``), not ``array<int>``: the driver's canonicalizer sorts
    the pandas result frame, and list-typed cells are unhashable there
    (the round-5 ERR). Same serialization pattern as ``agg_collect``.
    """
    prep(spark)
    import numpy as np

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def quant(batches):
        import pandas as pd

        for pdf in batches:
            a = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            scale = np.abs(a).max(axis=1) / 127.0
            scale[scale == 0] = 1.0
            q = np.floor(a / scale[:, None] + 0.5).astype(np.int32)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "scale": np.floor(scale * 1e6 + 0.5) / 1e6,
                    "q_csv": [
                        ",".join(map(str, row)) for row in q
                    ],
                }
            )

    return emb.mapInPandas(
        quant, schema="vec_id long, scale double, q_csv string"
    )
