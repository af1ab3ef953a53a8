"""Span-gram ledger laws: the streaming twin of exact_substring_spans.

Mirrors the dup-gram ledger discipline (tests/test_r8_signals.py):
the ledger streamed batch-by-batch serves rollups byte-identical to
the batch query, at-least-once replay rewrites identical bytes and
changes nothing, and compaction is probe-invariant with the folded-id
ingest guard engaged. The crash/bak-swap/digest-guard internals are
the SHARED sinks.AdditiveLedger machinery, exhaustively covered by
the dup-gram and CMS ledger suites — this file pins the span
semantics (occurrence counts, not df) on top of it.
"""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F

from chess_pipeline_spark.plans.corpus import exact_substring_spans
from chess_pipeline_spark.sources.tables import load_table
from chess_pipeline_spark.streaming.jobs import (
    ADDITIVE_LEDGERS,
    ingest_spangram_delta,
    spans_from_ledger,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_spangram_ledger_stream_equals_batch(spark, sf_dir, tmp_path):
    """Two arrival files streamed through ingest_spangram_delta →
    spans_from_ledger over the full corpus equals exact_substring_spans
    exactly, INCLUDING cross-batch repeats (a gram occurring once in
    each batch must flag as repeated — occurrence counts add across
    batches); replaying a batch (at-least-once) is a byte-identical
    partition rewrite and changes nothing."""
    docs = load_table(spark, sf_dir, "documents")
    src = tmp_path / "doc_arrivals"
    src.mkdir()
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    lo = docs.filter(F.col("doc_id") <= mid)
    hi = docs.filter(F.col("doc_id") > mid)
    lo.toPandas().to_parquet(str(src / "b0.parquet"))
    hi.toPandas().to_parquet(str(src / "b1.parquet"))
    now = time.time()
    os.utime(src / "b0.parquet", (now - 60, now - 60))
    os.utime(src / "b1.parquet", (now, now))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    led = str(tmp_path / "spangram_ledger")
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: ingest_spangram_delta(b, led, i)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    want = _rows(exact_substring_spans(spark, sf_dir))
    got = _rows(spans_from_ledger(spark, led, docs))
    assert got == want
    assert any(r[2] > 0 for r in want), "fixture has no spans; law untestable"

    # at-least-once replay: re-ingesting batch 1 rewrites its own
    # partition with identical bytes — the served rollup is stable
    ingest_spangram_delta(hi, led, 1)
    assert _rows(spans_from_ledger(spark, led, docs)) == want


def test_spangram_ledger_compaction_probe_invariant(spark, sf_dir, tmp_path):
    """Folding per-batch occurrence partitions into batch 0 leaves the
    served rollup byte-identical (the probe sums across batches
    anyway); after the fold, re-ingesting a folded id with identical
    content no-ops via the shared digest guard (occurrence addition
    is not idempotent, so a genuine reuse would double-count)."""
    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    lo = docs.filter(F.col("doc_id") <= mid)
    hi = docs.filter(F.col("doc_id") > mid)
    led = str(tmp_path / "spangram_ledger")
    ingest_spangram_delta(lo, led, 0)
    ingest_spangram_delta(hi, led, 1)

    before = _rows(spans_from_ledger(spark, led, docs))
    assert before == _rows(exact_substring_spans(spark, sf_dir))

    ADDITIVE_LEDGERS["spangram"].compact(spark, led)
    after = _rows(spans_from_ledger(spark, led, docs))
    assert after == before
    # one physical batch partition remains
    parts = {
        r["batch_id"]
        for r in spark.read.parquet(led).select("batch_id").distinct().collect()
    }
    assert parts == {0}

    # identical-content replay of a folded id no-ops (the legitimate
    # at-least-once shape post-compaction)
    ingest_spangram_delta(hi, led, 1)
    assert _rows(spans_from_ledger(spark, led, docs)) == before
