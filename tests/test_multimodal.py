"""Multimodal binary-column plumbing (north-star extension surface).

The decode libraries are absent in this container by design; the
deterministic fake decoder exercises the full Spark path — binary
payload ingest, Arrow batching, mapInPandas schema, feature output —
and real media kinds raise NotImplementedError (documented stub).
"""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from chess_pipeline_spark.multimodal import (
    _fake_decode,
    attach_binary_payload,
    extract_media_features,
    frame_features,
    sample_frames,
)
from chess_pipeline_spark.sources import load_table


def test_attach_binary_payload_schema_and_meta(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = attach_binary_payload(docs)
    row = media.filter(F.col("payload").isNotNull()).first()
    assert row["kind"] == "fake-text"
    assert isinstance(row["payload"], (bytes, bytearray))
    assert row["meta"]["n_bytes"] == len(row["payload"])
    assert row["meta"]["mime"] == "text/plain"


def test_extract_media_features_matches_local_decode(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = attach_binary_payload(docs)
    feats = extract_media_features(media)
    local = {
        r["doc_id"]: bytes(r["payload"]) for r in media.collect()
    }
    for r in feats.collect():
        hist, checksum, vec = _fake_decode(local[r["doc_id"]])
        assert list(r["byte_hist"]) == hist
        assert r["checksum"] == checksum
        assert r["n_bytes"] == len(local[r["doc_id"]])
        assert [round(x, 9) for x in r["feature_vec"]] == [round(x, 9) for x in vec]


def test_sample_frames_chunks_and_stride(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(10)
    media = attach_binary_payload(docs)
    local = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    rows = sample_frames(media, frame_bytes=32, every_n=2).collect()
    by_doc: dict[int, dict[int, bytes]] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["frame_idx"]] = bytes(r["payload"])
    for doc_id, src in local.items():
        n_frames = (len(src) + 31) // 32
        expected = {k: src[k * 32 : (k + 1) * 32] for k in range(0, n_frames, 2)}
        assert by_doc.get(doc_id, {}) == expected


def test_frame_features_equal_sample_then_decode(spark, sf_dir):
    # the fused pass must equal the two-stage composition exactly
    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = attach_binary_payload(docs)
    fused = {
        (r["doc_id"], r["frame_idx"]): (r["n_bytes"], r["checksum"])
        for r in frame_features(media).collect()
    }
    staged = {}
    for r in sample_frames(media).collect():
        _, checksum, _ = _fake_decode(bytes(r["payload"]))
        staged[(r["doc_id"], r["frame_idx"])] = (len(r["payload"]), checksum)
    assert fused == staged


def test_frame_stages_unsupported_kind_raises(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(1)
    media = attach_binary_payload(docs, kind="video")
    for stage in (sample_frames, frame_features):
        with pytest.raises(Exception) as ei:
            stage(media).collect()
        assert "NotImplementedError" in str(ei.value) or isinstance(
            ei.value, NotImplementedError
        )


def test_extract_media_features_unsupported_kind_raises(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(1)
    media = attach_binary_payload(docs, kind="image")
    with pytest.raises(Exception) as ei:
        extract_media_features(media).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def _write_docs(tmp_path_factory, texts, name="phash"):
    import pandas as pd

    tmp = tmp_path_factory.mktemp(name)
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["srcA"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).astype({"doc_id": "int64", "n_chars": "int64"}).to_parquet(
        tmp / "documents.parquet", index=False
    )
    return str(tmp)


def test_phash_bands_pure_function_laws():
    from chess_pipeline_spark.multimodal import _phash_bands

    a = _phash_bands(b"x" * 200)  # constant buffer: no block exceeds
    assert a == [0] * 8  # the global mean -> all bits 0
    b = _phash_bands(bytes(range(200)))
    assert any(v for v in b) and all(0 <= v < 256 for v in b)
    # determinism + locality: a small edit flips few bits
    base = bytes((i * 37) % 251 for i in range(640))
    edited = bytearray(base)
    edited[5] = 0
    ham = sum(
        bin(x ^ y).count("1")
        for x, y in zip(_phash_bands(base), _phash_bands(bytes(edited)))
    )
    assert ham <= 3


def test_media_phash_near_dup_planted_pair(spark, tmp_path_factory):
    """The detector's reason to exist: a payload and a lightly
    corrupted copy (a re-encode artifact) land within Hamming 6 and
    are reported; unrelated payloads are not. Cross-engine-checked on
    the same planted corpus through the driver harness."""
    from chess_pipeline_spark.plans import catalog
    from tests.oracle_harness import run_and_compare

    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base[:100] + "X" + base[101:]  # one-byte corruption
    import hashlib

    others = [  # md5-hex noise: uniform bytes, pairwise ~32-bit hamming
        "".join(
            hashlib.md5(f"{i}:{j}".encode()).hexdigest() for j in range(12)
        )
        for i in range(5)
    ]
    tmp = _write_docs(tmp_path_factory, [base, near, *others])
    spec = catalog()["media_phash_near_dup"]
    rows = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in spec.spark(spark, tmp).collect()}
    assert (0, 1) in rows and rows[(0, 1)] <= 6, rows
    assert all({a, b} <= {0, 1} for a, b in rows), rows
    run_and_compare(spark, tmp, "media_phash_near_dup", spec)
