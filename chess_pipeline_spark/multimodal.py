"""Multimodal (image/audio/video) column plumbing.

Treats media as opaque BINARY payloads + typed metadata struct, with
decode / feature-extraction as Arrow-batched mapInPandas stages — the
shape a 100 TB multimodal pipeline needs: payloads never leave
executors, batches stay columnar, partitioning is by content size.

The decode libraries (PIL/ffmpeg/librosa) are NOT in this container,
so the real decoders are stubbed behind NotImplementedError and a
deterministic fake decoder exercises the full Spark plumbing (schema,
partitioning, UDF signature, batch shape) — see BASELINE north star.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # 'image' | 'audio' | 'video' | 'fake-text'
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("mime", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = (
    "doc_id long, kind string, n_bytes long, "
    "byte_hist array<long>, checksum long, feature_vec array<double>"
)


def attach_binary_payload(documents: DataFrame, kind: str = "fake-text") -> DataFrame:
    """documents.text -> opaque binary payload + metadata (the ingest
    normalization every media table goes through). Pure JVM: encode +
    struct, no UDF."""
    payload = F.encode(F.col("text"), "UTF-8")
    return documents.select(
        "doc_id",
        F.lit(kind).alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.length(payload).cast("long").alias("n_bytes"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes) -> tuple[list[int], int, list[float]]:
    """Deterministic stand-in for a media decoder: 4-bucket byte
    histogram, position-weighted checksum, 4-dim 'embedding'.
    Vectorized (numpy over the byte buffer) — the per-byte Python
    loop was the batch bottleneck, and a real decoder would be
    C-side anyway."""
    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    n = max(len(arr), 1)
    hist = np.bincount(arr >> 6, minlength=4)[:4]
    # position-weighted sum mod p: vectorizable, order-sensitive
    weights = np.arange(1, len(arr) + 1, dtype=np.int64)
    checksum = int((arr.astype(np.int64) * weights % 1_000_000_007).sum() % 1_000_000_007)
    vec = [float(h) / n for h in hist]
    return [int(h) for h in hist], checksum, vec


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Real decoders plug in per `kind`; unsupported kinds raise
    NotImplementedError (stub by design — decode libs absent in this
    environment). Batch shape: one Arrow batch in, one feature frame
    out; payload column dropped on output so only features shuffle.
    """
    import pandas as pd

    from chess_pipeline_spark.deploy import ensure_package_on_executors

    ensure_package_on_executors(media.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [],
                "kind": [],
                "n_bytes": [],
                "byte_hist": [],
                "checksum": [],
                "feature_vec": [],
            }
            for doc_id, kind, payload in zip(pdf["doc_id"], pdf["kind"], pdf["payload"]):
                if payload is None:
                    # a NULL payload (e.g. NULL source text) must not
                    # kill the job; the row is skipped
                    continue
                _check_decodable(kind)
                hist, checksum, vec = _fake_decode(bytes(payload))
                out["doc_id"].append(doc_id)
                out["kind"].append(kind)
                out["n_bytes"].append(len(payload))
                out["byte_hist"].append(hist)
                out["checksum"].append(checksum)
                out["feature_vec"].append(vec)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("mime", T.StringType()),
                ]
            ),
        ),
    ]
)


def _check_decodable(kind: str) -> None:
    if kind in ("image", "audio", "video"):
        # STUB: wire PIL / ffmpeg / librosa here on a real cluster
        # image; the Spark plumbing is identical for real decoders.
        raise NotImplementedError(
            f"decoder for kind={kind!r} not available in this environment"
        )


def sample_frames(
    media: DataFrame, frame_bytes: int = 32, every_n: int = 2
) -> DataFrame:
    """Frame-sampling stage: one payload row -> every_n-th
    frame_bytes chunk as its own row (1→N, which mapInPandas
    expresses natively). The fake path chunks the byte buffer; a
    real ffmpeg keyframe sampler plugs into the same branch. Frames
    stay binary so a decode stage can follow; partitioning advice:
    frames inherit the parent's partition, so downstream per-frame
    work needs no extra shuffle until a keyed op."""
    import numpy as np
    import pandas as pd

    from chess_pipeline_spark.deploy import ensure_package_on_executors

    ensure_package_on_executors(media.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "kind": [], "frame_idx": [], "payload": [], "meta": []}
            for doc_id, kind, payload, meta in zip(
                pdf["doc_id"], pdf["kind"], pdf["payload"], pdf["meta"]
            ):
                if payload is None:
                    continue
                _check_decodable(kind)
                buf = bytes(payload)
                n_frames = (len(buf) + frame_bytes - 1) // frame_bytes
                for k in range(0, n_frames, every_n):
                    frame = buf[k * frame_bytes : (k + 1) * frame_bytes]
                    out["doc_id"].append(doc_id)
                    out["kind"].append(kind)
                    out["frame_idx"].append(k)
                    out["payload"].append(frame)
                    out["meta"].append({"n_bytes": len(frame), "mime": meta["mime"]})
            yield pd.DataFrame(out)

    return media.mapInPandas(run, FRAME_SCHEMA)


def frame_features(
    media: DataFrame, frame_bytes: int = 32, every_n: int = 2
) -> DataFrame:
    """Fused frame-sample + per-frame checksum in ONE Arrow pass —
    the all-scalar output the catalog exposes (frame_sample_features
    query). Semantically sample_frames followed by a per-frame
    position-weighted checksum (the _fake_decode formula applied
    within each frame), but the frames never materialize as
    intermediate binary rows: at 100 TB that halves the Arrow
    transfer for the common sample→featurize chain."""
    import numpy as np
    import pandas as pd

    from chess_pipeline_spark.deploy import ensure_package_on_executors

    ensure_package_on_executors(media.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "n_bytes": [], "checksum": []}
            for doc_id, kind, payload in zip(pdf["doc_id"], pdf["kind"], pdf["payload"]):
                if payload is None:
                    continue
                _check_decodable(kind)
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                n_frames = (len(arr) + frame_bytes - 1) // frame_bytes
                for k in range(0, n_frames, every_n):
                    fr = arr[k * frame_bytes : (k + 1) * frame_bytes]
                    weights = np.arange(1, len(fr) + 1, dtype=np.int64)
                    checksum = int(
                        (fr.astype(np.int64) * weights % 1_000_000_007).sum()
                        % 1_000_000_007
                    )
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(k)
                    out["n_bytes"].append(len(fr))
                    out["checksum"].append(checksum)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        run, "doc_id long, frame_idx long, n_bytes long, checksum long"
    )


PHASH_SCHEMA = "doc_id long, kind string, n_bytes long, bands array<long>"

_PHASH_BITS = 64  # aHash grid: 64 byte-blocks -> 64 bits
_PHASH_BANDS = 8  # 8 bands x 8 bits for LSH banding (pigeonhole:
# hamming <= 7 guarantees at least one clean band)


def _phash_bands(payload: bytes) -> list[int]:
    """64-bit average-hash over the byte buffer, packed as 8 x 8-bit
    band integers: split bytes into 64 equal blocks (block of byte i =
    i*64//n), bit b = 1 iff block b's mean byte value exceeds the
    whole-buffer mean. The comparison is the integer cross-product
    sum_b * n > total * cnt_b — no division, exact on any engine.
    Blocks left empty by short buffers contribute 0-bits. A real
    image aHash (resize to 8x8, threshold on mean luma) plugs into
    the same signature."""
    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    n = len(arr)
    bits = np.zeros(_PHASH_BITS, dtype=np.int64)
    if n:
        blocks = (np.arange(n, dtype=np.int64) * _PHASH_BITS) // n
        sums = np.bincount(blocks, weights=arr, minlength=_PHASH_BITS).astype(
            np.int64
        )
        cnts = np.bincount(blocks, minlength=_PHASH_BITS).astype(np.int64)
        total = int(arr.sum())
        bits = (sums * n > total * cnts).astype(np.int64)
    shifts = 1 << np.arange(8, dtype=np.int64)
    return [int((bits[8 * j : 8 * j + 8] * shifts).sum()) for j in range(_PHASH_BANDS)]


def extract_phash(media: DataFrame) -> DataFrame:
    """mapInPandas perceptual-hash extraction: MEDIA_SCHEMA in,
    (doc_id, kind, n_bytes, bands[8]) out. Payloads never leave the
    stage — only the 8 small band integers shuffle downstream, which
    is what makes banded media dedup viable at 100 TB."""
    import pandas as pd

    from chess_pipeline_spark.deploy import ensure_package_on_executors

    ensure_package_on_executors(media.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "kind": [], "n_bytes": [], "bands": []}
            for doc_id, kind, payload in zip(
                pdf["doc_id"], pdf["kind"], pdf["payload"]
            ):
                if payload is None:
                    continue
                _check_decodable(kind)
                out["doc_id"].append(doc_id)
                out["kind"].append(kind)
                out["n_bytes"].append(len(payload))
                out["bands"].append(_phash_bands(bytes(payload)))
            yield pd.DataFrame(out)

    return media.mapInPandas(run, PHASH_SCHEMA)
