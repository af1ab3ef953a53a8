"""Structured Streaming jobs (SURVEY §2.11 extension surface).

Each stream is driven to completion with trigger(availableNow=True)
into a memory sink (bounded fixture ≙ fully-replayed stream), and the
windowed aggregates are checked against their batch twins from
plans/timeseries — one logical spec, two execution modes.
"""

from __future__ import annotations

import uuid

import pytest

from chess_pipeline_spark.plans import timeseries
from chess_pipeline_spark.streaming.jobs import (
    read_events_stream,
    stream_dedup_latest,
    stream_session_counts,
    stream_tumbling_counts,
    stream_upsert_foreach_batch,
)


def _run_to_memory(df, spark, tmp_path, complete=True):
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if complete else "append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_tumbling_matches_batch(spark, sf_dir, tmp_path):
    ev = read_events_stream(spark, sf_dir)
    got = _run_to_memory(stream_tumbling_counts(ev), spark, tmp_path)
    # batch twin, minus rounding (the stream job does no fround)
    batch = timeseries.events_tumbling_1h(spark, sf_dir)
    g = _rows(got.select("window_start", "event_type", "n"))
    b = _rows(batch.select("window_start", "event_type", "n"))
    assert g == b and len(g) > 0


def test_stream_sessionized_runs_and_covers_all_users(spark, sf_dir, tmp_path):
    ev = read_events_stream(spark, sf_dir)
    got = _run_to_memory(stream_session_counts(ev), spark, tmp_path)
    n_events = got.groupBy().sum("n_events").collect()[0][0]
    # every event lands in exactly one session
    from chess_pipeline_spark.sources import load_table

    total = load_table(spark, sf_dir, "events").count()
    assert n_events == total


def test_stream_dedup_latest(spark, sf_dir, tmp_path):
    ev = read_events_stream(spark, sf_dir)
    got = _run_to_memory(stream_dedup_latest(ev), spark, tmp_path, complete=False)
    # exact-dedup on a unique key set: row count preserved, no dupes
    assert got.count() == got.select("user_id", "event_type", "event_id").distinct().count()


def test_stream_upsert_foreach_batch(spark, sf_dir, tmp_path):
    ev = read_events_stream(spark, sf_dir)
    agg = stream_tumbling_counts(ev)
    target = str(tmp_path / "stream_target")
    writer = stream_upsert_foreach_batch(
        agg, target, keys=["window_start", "event_type"], checkpoint=str(tmp_path / "ckpt_up")
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(300)
    got = spark.read.parquet(target)
    batch = timeseries.events_tumbling_1h(spark, sf_dir)
    assert _rows(got.select("window_start", "event_type", "n")) == _rows(
        batch.select("window_start", "event_type", "n")
    )


def test_stream_curation_matches_batch(spark, sf_dir, tmp_path):
    # the curation spec is one function body for both modes: the
    # streamed result must equal the batch result row-for-row
    from chess_pipeline_spark.plans.corpus import curate_documents
    from chess_pipeline_spark.streaming.jobs import read_documents_stream

    got = _run_to_memory(
        curate_documents(read_documents_stream(spark, sf_dir)),
        spark,
        tmp_path,
        complete=False,
    )
    batch = curate_documents(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    g, b = _rows(got), _rows(batch)
    assert g == b and len(g) > 0


def test_stream_ingest_dedup_matches_incremental_batch(spark, sf_dir, tmp_path):
    """Replay the corpus in two micro-batches split at _INCR_SPLIT;
    batch-2 verdicts must equal dedup_incremental_simhash's (whose
    cache is exactly the ids below the split), and batch-1 docs must
    all flag clean (the index was empty when they arrived)."""
    import os
    import time

    import pyspark.sql.functions as F

    from chess_pipeline_spark.plans.llm import _INCR_SPLIT, dedup_incremental_simhash
    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import (
        read_documents_stream,
        stream_ingest_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = tmp_path / "arrivals"
    src.mkdir()
    # one file per batch; file-source processes oldest mtime first
    docs.filter(F.col("doc_id") < _INCR_SPLIT).toPandas().to_parquet(
        str(src / "b0.parquet")
    )
    docs.filter(F.col("doc_id") >= _INCR_SPLIT).toPandas().to_parquet(
        str(src / "b1.parquet")
    )
    now = time.time()
    os.utime(src / "b0.parquet", (now - 60, now - 60))
    os.utime(src / "b1.parquet", (now, now))

    stream = read_documents_stream(
        spark, str(src), glob="*.parquet", max_files_per_trigger=1
    )
    q = (
        stream_ingest_dedup(
            stream, str(tmp_path / "index"), str(tmp_path / "verdicts")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.read.parquet(str(tmp_path / "verdicts")).toPandas()
    assert set(got["batch_id"].unique()) == {0, 1}
    b0 = got[got["batch_id"] == 0]
    assert (b0["doc_id"] < _INCR_SPLIT).all() and (~b0["is_dup"]).all()

    expected = {
        r.doc_id: (r.is_dup, r.dup_of, r.hamming)
        for r in dedup_incremental_simhash(spark, sf_dir).collect()
    }
    b1 = {
        int(r.doc_id): (
            bool(r.is_dup),
            None if r.dup_of is None or r.dup_of != r.dup_of else int(r.dup_of),
            None if r.hamming is None or r.hamming != r.hamming else int(r.hamming),
        )
        for r in got[got["batch_id"] == 1].itertuples(index=False)
    }
    assert b1 == expected


def test_stream_paragraph_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Two doc-id-ordered micro-batches through the chunk-digest
    ledger must reproduce the batch paragraph_dedup verdicts exactly
    (n_chunks, n_dup_chunks, kept_hash per document)."""
    import os
    import time

    import pyspark.sql.functions as F

    from chess_pipeline_spark.plans.corpus import paragraph_dedup
    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import (
        read_documents_stream,
        stream_paragraph_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = tmp_path / "arrivals"
    src.mkdir()
    docs.filter(F.col("doc_id") < 250).toPandas().to_parquet(
        str(src / "b0.parquet")
    )
    docs.filter(F.col("doc_id") >= 250).toPandas().to_parquet(
        str(src / "b1.parquet")
    )
    now = time.time()
    os.utime(src / "b0.parquet", (now - 60, now - 60))
    os.utime(src / "b1.parquet", (now, now))

    stream = read_documents_stream(
        spark, str(src), glob="*.parquet", max_files_per_trigger=1
    )
    q = (
        stream_paragraph_dedup(
            stream, str(tmp_path / "ledger"), str(tmp_path / "verdicts")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_pd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        r.doc_id: (r.n_chunks, r.n_dup_chunks, r.kept_hash)
        for r in spark.read.parquet(str(tmp_path / "verdicts")).collect()
    }
    expected = {
        r.doc_id: (r.n_chunks, r.n_dup_chunks, r.kept_hash)
        for r in paragraph_dedup(spark, sf_dir).collect()
    }
    assert got == expected


def test_stream_boilerplate_single_batch_equals_batch_query(spark, sf_dir, tmp_path):
    """With the whole corpus in one micro-batch the count ledger sees
    exactly the batch query's frequencies, so verdicts must match
    boilerplate_chunk_removal row for row."""
    from chess_pipeline_spark.plans.corpus import boilerplate_chunk_removal
    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import (
        read_documents_stream,
        stream_boilerplate_removal,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = tmp_path / "arrivals"
    src.mkdir()
    docs.toPandas().to_parquet(str(src / "b0.parquet"))

    stream = read_documents_stream(
        spark, str(src), glob="*.parquet", max_files_per_trigger=1
    )
    q = (
        stream_boilerplate_removal(
            stream, str(tmp_path / "ledger"), str(tmp_path / "verdicts")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_bp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        r.doc_id: (r.n_chunks, r.n_boiler_chunks, r.kept_hash)
        for r in spark.read.parquet(str(tmp_path / "verdicts")).collect()
    }
    expected = {
        r.doc_id: (r.n_chunks, r.n_boiler_chunks, r.kept_hash)
        for r in boilerplate_chunk_removal(spark, sf_dir).collect()
    }
    assert got == expected


def test_stream_boilerplate_asof_semantics_across_batches(spark, tmp_path):
    """A chunk shared by one doc per batch: the batch-0 host keeps it
    (count 1 at its ingestion), the batch-1 host loses it (ledger +
    batch reaches the threshold) — the documented as-of semantics,
    and the ledger ends at the correct cumulative count."""
    import os
    import time

    import pandas as pd

    from chess_pipeline_spark.streaming.jobs import (
        read_documents_stream,
        stream_boilerplate_removal,
    )

    shared = " ".join(f"w{i} shared boiler chunk body" for i in range(4))
    uniq_a = " ".join(f"a{i} only doc one here" for i in range(4))
    uniq_b = " ".join(f"b{i} only doc two here" for i in range(4))
    src = tmp_path / "arrivals"
    src.mkdir()
    pd.DataFrame(
        {"doc_id": [1], "text": [shared + " " + uniq_a]}
    ).to_parquet(str(src / "b0.parquet"))
    pd.DataFrame(
        {"doc_id": [2], "text": [shared + " " + uniq_b]}
    ).to_parquet(str(src / "b1.parquet"))
    now = time.time()
    os.utime(src / "b0.parquet", (now - 60, now - 60))
    os.utime(src / "b1.parquet", (now, now))

    stream = read_documents_stream(
        spark, str(src), glob="*.parquet", max_files_per_trigger=1
    )
    q = (
        stream_boilerplate_removal(
            stream, str(tmp_path / "ledger2"), str(tmp_path / "verdicts2")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_bp2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        r.doc_id: (r.n_chunks, r.n_boiler_chunks)
        for r in spark.read.parquet(str(tmp_path / "verdicts2")).collect()
    }
    assert got[1] == (2, 0)  # first host ingested before the threshold
    assert got[2] == (2, 1)  # later host loses the shared chunk
    import pyspark.sql.functions as F

    ledger = (
        spark.read.parquet(str(tmp_path / "ledger2"))
        .groupBy("digest")
        .agg(F.sum("inc").alias("df"))
    )
    counts = sorted(r.df for r in ledger.collect())
    assert counts == [1, 1, 2]  # uniq_a, uniq_b, shared


def test_stream_hll_matches_batch_exactly(spark, sf_dir, tmp_path):
    """Replay events in two micro-batches; after the final batch the
    merged register ledger must yield the EXACT batch-query estimate
    (max-merge is order/partitioning-invariant), and the per-batch
    snapshots must be monotonically non-decreasing per type."""
    import os
    import time

    import pyspark.sql.functions as F

    from chess_pipeline_spark.plans.profiling import hll_distinct_users
    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import (
        read_events_stream,
        stream_hll_distinct,
    )

    raw_cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ev = load_table(spark, sf_dir, "events").select(*raw_cols)
    src = tmp_path / "arrivals"
    src.mkdir()
    mid = ev.agg(F.expr("percentile(event_id, 0.5)")).first()[0]
    ev.filter(F.col("event_id") <= mid).toPandas().to_parquet(
        str(src / "b0.parquet")
    )
    ev.filter(F.col("event_id") > mid).toPandas().to_parquet(
        str(src / "b1.parquet")
    )
    now = time.time()
    os.utime(src / "b0.parquet", (now - 60, now - 60))
    os.utime(src / "b1.parquet", (now, now))

    stream = read_events_stream(
        spark, str(src), glob="*.parquet", max_files_per_trigger=1
    )
    q = (
        stream_hll_distinct(
            stream, str(tmp_path / "registers"), str(tmp_path / "estimates")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    est = spark.read.parquet(str(tmp_path / "estimates")).toPandas()
    assert set(est["batch_id"].unique()) == {0, 1}
    # estimates can only grow as more users fold in (register maxes
    # are monotone; the estimate is monotone in the registers)
    merged = est.pivot_table(
        index="event_type", columns="batch_id", values="hll_estimate"
    )
    assert (merged[1] >= merged[0] - 1e-9).all()

    batch = {
        r.event_type: r.hll_estimate
        for r in hll_distinct_users(spark, sf_dir).collect()
    }
    final = {
        r.event_type: r.hll_estimate
        for r in spark.read.parquet(str(tmp_path / "estimates"))
        .filter(F.col("batch_id") == 1)
        .select(
            "event_type",
            (F.floor(F.col("hll_estimate") * 1e4 + F.lit(0.5)) / 1e4).alias(
                "hll_estimate"
            ),
        )
        .collect()
    }
    assert final == {k: round(v, 4) for k, v in ((k, v) for k, v in batch.items())}


def test_stream_hll_bak_fallback_survives_mid_swap_crash(spark, sf_dir, tmp_path):
    """Simulate the mid-swap crash window (live ledger renamed to
    .bak, tmp never renamed into place): the next batch's reader must
    fall back to the .bak and max-merge into the ACCUMULATED state,
    not an empty ledger — HLL registers are not reconstructible from
    replaying one batch, so losing them would be permanent (r6
    advice)."""
    import os

    import pyspark.sql.functions as F

    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import _hll_process_batch

    raw_cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ev = load_table(spark, sf_dir, "events").select(*raw_cols)
    mid = ev.agg(F.expr("percentile(event_id, 0.5)")).first()[0]
    regs = str(tmp_path / "registers")
    est_path = str(tmp_path / "estimates")

    # drive the per-batch function directly — batch 0, then "crash"
    _hll_process_batch(ev.filter(F.col("event_id") <= mid), 0, regs, est_path)
    assert os.path.exists(regs)
    os.rename(regs, regs + ".__bak__")  # crashed between the renames

    _hll_process_batch(ev.filter(F.col("event_id") > mid), 1, regs, est_path)
    # batch 1 must have merged ON TOP of batch 0's registers: its
    # estimate equals the full-data single-batch estimate exactly
    regs2 = str(tmp_path / "registers_full")
    _hll_process_batch(ev, 0, regs2, str(tmp_path / "estimates_full"))
    merged = spark.read.parquet(regs).groupBy("event_type", "reg").agg(
        F.max("m_j").alias("m_j")
    )
    full = spark.read.parquet(regs2)
    diff = merged.alias("a").join(
        full.alias("b"), ["event_type", "reg"], "full"
    ).filter(
        (F.col("a.m_j").isNull())
        | (F.col("b.m_j").isNull())
        | (F.col("a.m_j") != F.col("b.m_j"))
    )
    assert diff.count() == 0
    # and the swap cleaned the .bak up after the successful batch
    assert not os.path.exists(regs + ".__bak__")


def test_stream_value_histogram_matches_batch_exactly(spark, sf_dir, tmp_path):
    """Two-batch replay: the merged histogram ledger must reproduce
    the batch query's binned quantiles EXACTLY (histogram addition is
    associative), and re-running a batch id must not double-count
    (partition overwrite idempotency)."""
    import os
    import time

    import pyspark.sql.functions as F

    from chess_pipeline_spark.plans.profiling import value_quantiles_binned
    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import (
        read_events_stream,
        stream_value_histogram,
    )

    raw_cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ev = load_table(spark, sf_dir, "events").select(*raw_cols)
    src = tmp_path / "arrivals"
    src.mkdir()
    mid = ev.agg(F.expr("percentile(event_id, 0.5)")).first()[0]
    ev.filter(F.col("event_id") <= mid).toPandas().to_parquet(str(src / "b0.parquet"))
    ev.filter(F.col("event_id") > mid).toPandas().to_parquet(str(src / "b1.parquet"))
    now = time.time()
    os.utime(src / "b0.parquet", (now - 60, now - 60))
    os.utime(src / "b1.parquet", (now, now))

    ledger = tmp_path / "ledger"
    stream = read_events_stream(spark, str(src), glob="*.parquet", max_files_per_trigger=1)
    q = (
        stream_value_histogram(stream, str(ledger), str(tmp_path / "quant"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        r.event_type: (r.n, r.p50_binned, r.p90_binned, r.p99_binned)
        for r in spark.read.parquet(str(tmp_path / "quant"))
        .filter(F.col("batch_id") == 1)
        .collect()
    }
    want = {
        r.event_type: (r.n, r.p50_binned, r.p90_binned, r.p99_binned)
        for r in value_quantiles_binned(spark, sf_dir).collect()
    }
    assert got == want

    # replay idempotency: rewriting batch 0's partition with the same
    # content leaves the merged ledger unchanged
    before = sorted(
        map(tuple, spark.read.parquet(str(ledger)).collect())
    )
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    b0 = spark.read.parquet(str(ledger)).filter(F.col("batch_id") == 0)
    upsert_partition_overwrite(b0, str(ledger), ["batch_id"])
    after = sorted(map(tuple, spark.read.parquet(str(ledger)).collect()))
    assert before == after


def test_watermark_drops_late_events_across_batches(spark, tmp_path):
    """Semantics pin for the watermark contract: a second micro-batch
    carrying an event OLDER than (max event time seen - watermark)
    must not resurrect its already-finalized window — the append-mode
    tumbling count for that window stays at the batch-1 value."""
    import os
    import time
    import uuid

    import pandas as pd
    import pyspark.sql.functions as F

    from chess_pipeline_spark.streaming.jobs import (
        read_events_stream,
        stream_tumbling_counts,
    )

    t0 = 1_700_000_000 - (1_700_000_000 % 3600)  # hour boundary

    def mk(rows, path):
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": pd.to_datetime([r[1] for r in rows], unit="s"),
                "user_id": [1] * len(rows),
                "event_type": ["click"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(path)

    src = tmp_path / "late_arrivals"
    src.mkdir()
    # Micro-batch semantics pinned here (empirically verified): a row
    # arriving while its window's STATE is still alive merges even if
    # it is behind the watermark, and the late-row filter uses the
    # watermark with a ONE-BATCH lag — so the unambiguous drop needs
    # the late row TWO batches after the watermark passed its window:
    mk([(1, t0 + 60)], str(src / "b0.parquet"))          # W0 state born
    mk([(2, t0 + 4 * 3600)], str(src / "b1.parquet"))     # wm -> t0+2h
    mk([(4, t0 + 5 * 3600)], str(src / "b2.parquet"))     # W0 evicted+emitted (n=1)
    mk([(3, t0 + 120)], str(src / "b3.parquet"))          # too late: dropped
    now = time.time()
    for i, f in enumerate(("b0", "b1", "b2", "b3")):
        os.utime(src / f"{f}.parquet", (now - 120 + i * 30, now - 120 + i * 30))

    ev = read_events_stream(spark, str(src), glob="*.parquet", max_files_per_trigger=1)
    out = stream_tumbling_counts(ev, watermark="2 hours")
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.table(name).select("window_start", "n").collect()
    w0 = [int(r.n) for r in rows if int(r.window_start) == t0]
    # W0 was finalized (and emitted exactly once) before the too-late
    # event arrived; the late row neither re-emits nor re-counts
    assert w0 == [1], rows


def test_stream_cms_sketch_matches_batch_exactly(spark, sf_dir, tmp_path):
    """Two-batch document replay: the merged CMS ledger must equal
    the single-pass batch counters over the same documents EXACTLY
    (counter addition is associative), and rewriting a batch's
    partition with the same content must not double-count."""
    import os
    import time

    import pyspark.sql.functions as F

    from chess_pipeline_spark.plans.profiling import cms_sketch_counters
    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import (
        read_documents_stream,
        stream_cms_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select("doc_id", "text", "lang", "source", "n_chars")
    src = tmp_path / "arrivals"
    src.mkdir()
    mid = raw.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    raw.filter(F.col("doc_id") <= mid).toPandas().to_parquet(str(src / "b0.parquet"))
    raw.filter(F.col("doc_id") > mid).toPandas().to_parquet(str(src / "b1.parquet"))
    now = time.time()
    os.utime(src / "b0.parquet", (now - 60, now - 60))
    os.utime(src / "b1.parquet", (now, now))

    ledger = tmp_path / "cms_ledger"
    stream = read_documents_stream(
        spark, str(src), glob="*.parquet", max_files_per_trigger=1
    )
    q = (
        stream_cms_sketch(stream, str(ledger), str(tmp_path / "cms_snap"))
        .option("checkpointLocation", str(tmp_path / "ckpt_cms"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r.row_i, r.bucket): r.cnt
        for r in spark.read.parquet(str(ledger))
        .groupBy("row_i", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    words = docs.filter(F.col("text").isNotNull()).select(
        F.explode(F.split("text", " ")).alias("word")
    )
    want = {
        (r.row_i, r.bucket): r.cnt for r in cms_sketch_counters(words).collect()
    }
    assert got == want

    # the final snapshot's totals agree with the merged grid
    snap = (
        spark.read.parquet(str(tmp_path / "cms_snap"))
        .orderBy(F.desc("batch_id"))
        .first()
    )
    assert snap.buckets_used == len(want)
    assert snap.total_count == sum(want.values())

    # replay idempotency: rewriting batch 0's partition is a no-op
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    before = sorted(map(tuple, spark.read.parquet(str(ledger)).collect()))
    b0 = spark.read.parquet(str(ledger)).filter(F.col("batch_id") == 0)
    upsert_partition_overwrite(b0, str(ledger), ["batch_id"])
    after = sorted(map(tuple, spark.read.parquet(str(ledger)).collect()))
    assert before == after


def test_stream_scd2_replay_idempotent_and_matches_batch(spark, sf_dir, tmp_path):
    """Three-way SCD2 law (r7): driving the streaming per-batch
    function over two snapshot batches, WITH batch 1 replayed
    (at-least-once delivery), must equal applying sinks.scd2_apply
    sequentially in batch mode — replay is a no-op by algebra because
    an identical snapshot changes no attribute. Crash window covered:
    the dimension is renamed to .bak mid-run and the next batch must
    merge real state."""
    import os

    import pyspark.sql.functions as F

    from chess_pipeline_spark.sinks import scd2_apply
    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import scd2_process_batch

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    keys, attrs = ["c_custkey"], ["c_mktsegment", "c_acctbal"]
    snap0 = cust.limit(40).localCheckpoint()
    # batch 1: half the keys change segment, plus new keys
    snap1 = (
        cust.limit(60)
        .withColumn(
            "c_mktsegment",
            F.when(F.col("c_custkey") % 2 == 0, F.lit("CHANGED")).otherwise(
                F.col("c_mktsegment")
            ),
        )
        .localCheckpoint()
    )

    dim = str(tmp_path / "dim")
    scd2_process_batch(snap0, 0, dim, keys, attrs)
    # simulate the mid-swap crash window before batch 1
    os.rename(dim, dim + ".__bak__")
    scd2_process_batch(snap1, 1, dim, keys, attrs)
    # at-least-once: batch 1 delivered again
    scd2_process_batch(snap1, 1, dim, keys, attrs)
    streamed = spark.read.parquet(dim)

    empty = spark.createDataFrame(
        [],
        "c_custkey long, c_mktsegment string, c_acctbal double, "
        "valid_from long, valid_to long, is_current boolean",
    )
    expected = scd2_apply(
        scd2_apply(empty, snap0, keys, attrs, batch_ts=0),
        snap1,
        keys,
        attrs,
        batch_ts=1,
    )

    cols = sorted(streamed.columns)
    got = sorted(tuple(r) for r in streamed.select(*cols).collect())
    want = sorted(tuple(r) for r in expected.select(*cols).collect())
    assert got == want
    assert not os.path.exists(dim + ".__bak__")
    # versioning actually happened: changed keys carry a closed row
    closed = streamed.filter(~F.col("is_current")).count()
    assert closed > 0


def test_stream_bloom_bit_identical_to_batch_and_replay_safe(
    spark, sf_dir, tmp_path
):
    """Replay events in two micro-batches, then REPLAY batch 0 again
    (at-least-once delivery): the merged Bloom register ledger must be
    BIT-IDENTICAL to the batch bitmap over all user ids — bit_or is
    idempotent, so the duplicate delivery changes nothing — and the
    ledger must carry no false negatives (every seen key passes)."""
    import os
    import time

    import pyspark.sql.functions as F

    from chess_pipeline_spark.plans.profiling import bloom_bitmap
    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import (
        _bloom_process_batch,
        read_events_stream,
        stream_bloom_filter,
    )

    raw_cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ev = load_table(spark, sf_dir, "events").select(*raw_cols)
    src = tmp_path / "arrivals"
    src.mkdir()
    mid = ev.agg(F.expr("percentile(event_id, 0.5)")).first()[0]
    ev.filter(F.col("event_id") <= mid).toPandas().to_parquet(
        str(src / "b0.parquet")
    )
    ev.filter(F.col("event_id") > mid).toPandas().to_parquet(
        str(src / "b1.parquet")
    )
    now = time.time()
    os.utime(src / "b0.parquet", (now - 60, now - 60))
    os.utime(src / "b1.parquet", (now, now))

    regs_path = str(tmp_path / "registers")
    snap_path = str(tmp_path / "snapshots")
    stream = read_events_stream(
        spark, str(src), glob="*.parquet", max_files_per_trigger=1
    )
    q = (
        stream_bloom_filter(stream, regs_path, snap_path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # at-least-once: re-deliver batch 0 through the same batch fn
    replay = spark.read.parquet(str(src / "b0.parquet"))
    _bloom_process_batch(replay, 0, regs_path, snap_path)

    ledger = {
        (r["word"], r["bits"])
        for r in spark.read.parquet(regs_path).collect()
    }
    batch_bitmap = {
        (r["word"], r["bits"])
        for r in bloom_bitmap(
            ev.select(F.col("user_id").cast("string").alias("k")).distinct()
        ).collect()
    }
    assert ledger == batch_bitmap  # bit-identical, replay included

    # snapshots: one row per batch_id (the replay rewrote, not
    # appended), fill monotone across batches 0 -> 1
    snaps = spark.read.parquet(snap_path).toPandas()
    assert sorted(snaps["batch_id"].tolist()) == [0, 1]
    by_id = snaps.set_index("batch_id")["bits_set"]
    # the replayed batch-0 row reflects the FULL merged ledger at
    # replay time, so it is >= the original batch-1 fill; both are
    # positive and bounded by the bitmap size
    assert 0 < by_id[1] <= 4096 and 0 < by_id[0] <= 4096

    # no false negatives: every user key probes to all-bits-set
    bloom = {w: b for w, b in ledger}
    from chess_pipeline_spark.plans.profiling import (
        _BLOOM_K,
        _BLOOM_W,
        _bloom_pos_spark,
    )

    probe = ev.select(F.col("user_id").cast("string").alias("k")).distinct()
    pos = probe.select(
        "k",
        *[_bloom_pos_spark(F.col("k"), j).alias(f"p{j}") for j in range(_BLOOM_K)],
    ).collect()
    for r in pos:
        for j in range(_BLOOM_K):
            p = r[f"p{j}"]
            assert bloom[p // _BLOOM_W] & (1 << (p % _BLOOM_W)), r["k"]


def test_stream_pca_gram_ledger_reproduces_batch_pca_exactly(
    spark, sf_dir, tmp_path
):
    """Split the embeddings into two micro-batches, fold each through
    the Gram cell ledger, then REPLAY batch 0 (at-least-once): the
    partition overwrite makes the replay a no-op, the merged integer
    cells equal the single-pass batch cells EXACTLY, and running the
    shared iterate over the ledger reproduces pca_top_component's
    driver output row-for-row — incremental PCA with no history
    rescan."""
    import pyspark.sql.functions as F

    from chess_pipeline_spark.plans import catalog
    from chess_pipeline_spark.plans.llm import (
        pca_cells,
        pca_cells_to_one,
        pca_iterate,
    )
    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import _pca_gram_process_batch

    embs = load_table(spark, sf_dir, "embeddings")
    mid = embs.agg(F.expr("percentile(vec_id, 0.5)")).first()[0]
    b0 = embs.filter(F.col("vec_id") <= mid)
    b1 = embs.filter(F.col("vec_id") > mid)
    ledger = str(tmp_path / "gram_ledger")
    snaps = str(tmp_path / "gram_snaps")

    _pca_gram_process_batch(b0, 0, ledger, snaps)
    _pca_gram_process_batch(b1, 1, ledger, snaps)
    _pca_gram_process_batch(b0, 0, ledger, snaps)  # at-least-once replay

    merged = {
        (r["idx"], r["val"])
        for r in spark.read.parquet(ledger)
        .groupBy("idx")
        .agg(F.sum("val").alias("val"))
        .collect()
    }
    batch_cells = {(r["idx"], r["val"]) for r in pca_cells(embs).collect()}
    assert merged == batch_cells  # exact integer state, replay included

    merged_df = (
        spark.read.parquet(ledger)
        .groupBy("idx")
        .agg(F.sum("val").alias("val"))
    )
    streamed_pca = {
        r["dim_idx"]: (r["loading"], r["eigenvalue"], r["explained_var_ratio"])
        for r in pca_iterate(pca_cells_to_one(merged_df)).collect()
    }
    batch_pca = {
        r["dim_idx"]: (r["loading"], r["eigenvalue"], r["explained_var_ratio"])
        for r in catalog()["pca_top_component"].spark(spark, sf_dir).collect()
    }
    assert streamed_pca == batch_pca

    # snapshots: one row per batch_id; the final n_vecs equals the
    # corpus count
    sn = spark.read.parquet(snaps).toPandas()
    assert sorted(sn["batch_id"].tolist()) == [0, 1]
    assert int(sn.sort_values("batch_id").iloc[-1]["n_vecs"]) == embs.count()


def test_stream_weighted_sample_equals_batch_after_any_prefix(
    spark, sf_dir, tmp_path
):
    """Fold the documents through the ES sample ledger in two
    batches, then REPLAY batch 1 (at-least-once): after every prefix
    the ledger must equal the batch weighted_sample_es over the same
    documents — top-k over a deterministic key is an idempotent
    mergeable fold, so the duplicate delivery changes nothing."""
    import pyspark.sql.functions as F

    from chess_pipeline_spark.plans.corpus import es_scored, es_top_k
    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import _es_sample_process_batch

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    b0 = docs.filter(F.col("doc_id") <= mid)
    b1 = docs.filter(F.col("doc_id") > mid)
    sample = str(tmp_path / "es_sample")
    snaps = str(tmp_path / "es_snaps")

    canon = lambda df: sorted(map(repr, map(tuple, df.collect())))  # noqa: E731

    _es_sample_process_batch(b0, 0, sample, snaps)
    assert canon(spark.read.parquet(sample).select(
        "doc_id", "source", "weight", "priority_micro"
    )) == canon(es_top_k(es_scored(b0)))

    _es_sample_process_batch(b1, 1, sample, snaps)
    _es_sample_process_batch(b1, 1, sample, snaps)  # at-least-once replay

    want = canon(es_top_k(es_scored(docs)))
    got = canon(
        spark.read.parquet(sample).select(
            "doc_id", "source", "weight", "priority_micro"
        )
    )
    assert got == want

    # snapshots keyed by batch_id; cut priority is monotone
    # non-decreasing as the race sees more contenders
    sn = spark.read.parquet(snaps).toPandas().sort_values("batch_id")
    assert sorted(sn["batch_id"].tolist()) == [0, 1]
    cuts = sn["cut_priority_micro"].tolist()
    assert cuts[-1] >= cuts[0]


def test_stream_es_sample_bak_fallback_survives_mid_swap_crash(
    spark, sf_dir, tmp_path
):
    """The bak-swap crash window, exercised through the shared
    sinks helper on the ES sample ledger (the HLL twin test covers
    the same helper's other call path): crash between the renames,
    then fold the next batch — the reader must fall back to the
    .bak so the final sample still equals the batch query."""
    import os

    import pyspark.sql.functions as F

    from chess_pipeline_spark.plans.corpus import es_scored, es_top_k
    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import _es_sample_process_batch

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    sample = str(tmp_path / "es_sample")
    snaps = str(tmp_path / "es_snaps")

    _es_sample_process_batch(docs.filter(F.col("doc_id") <= mid), 0, sample, snaps)
    assert os.path.exists(sample)
    os.rename(sample, sample + ".__bak__")  # crashed between renames

    _es_sample_process_batch(docs.filter(F.col("doc_id") > mid), 1, sample, snaps)
    canon = lambda df: sorted(map(repr, map(tuple, df.collect())))  # noqa: E731
    got = canon(
        spark.read.parquet(sample).select(
            "doc_id", "source", "weight", "priority_micro"
        )
    )
    assert got == canon(es_top_k(es_scored(docs)))


def test_stream_negative_reps_equals_batch_after_any_prefix(
    spark, sf_dir, tmp_path
):
    """Fold the documents through the negative-representative ledger
    in two batches, then REPLAY batch 1 (at-least-once): after every
    prefix the ledger must equal the batch neg_rep_rows over the same
    documents — per-bucket top-2 over a deterministic key is an
    idempotent mergeable fold, so the duplicate delivery changes
    nothing. Also: the pair frame SERVED from the ledger must equal
    the catalog query's frame built from scratch."""
    import pyspark.sql.functions as F

    from chess_pipeline_spark.plans.corpus import (
        neg_rep_frame,
        neg_rep_rows,
        neg_scored,
    )
    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import _neg_reps_process_batch

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    b0 = docs.filter(F.col("doc_id") <= mid)
    b1 = docs.filter(F.col("doc_id") > mid)
    reps = str(tmp_path / "neg_reps")
    snaps = str(tmp_path / "neg_snaps")

    canon = lambda df: sorted(map(repr, map(tuple, df.collect())))  # noqa: E731

    _neg_reps_process_batch(b0, 0, reps, snaps)
    assert canon(
        spark.read.parquet(reps).select("doc_id", "bucket", "tb")
    ) == canon(neg_rep_rows(neg_scored(b0)))

    _neg_reps_process_batch(b1, 1, reps, snaps)
    _neg_reps_process_batch(b1, 1, reps, snaps)  # at-least-once replay

    ledger = spark.read.parquet(reps).select("doc_id", "bucket", "tb")
    assert canon(ledger) == canon(neg_rep_rows(neg_scored(docs)))
    # the served lookup frame is identical to the from-scratch build
    assert canon(neg_rep_frame(ledger)) == canon(
        neg_rep_frame(neg_scored(docs))
    )

    sn = spark.read.parquet(snaps).toPandas().sort_values("batch_id")
    assert sorted(sn["batch_id"].tolist()) == [0, 1]
    # reps only improve (tiebreaks are a race to the minimum)
    assert sn["min_tb"].tolist()[-1] <= sn["min_tb"].tolist()[0]
    assert (sn["n_reps"] <= 2 * sn["n_buckets"]).all()


def test_stream_split_ledger_first_seen_stability(spark, tmp_path):
    """The production stability contract: a group's split is fixed
    the FIRST time any member arrives. Batch 0 carries doc 100 of
    group A; batch 1 carries doc 1 (SAME text, smaller id — the case
    where the batch query's global-min rep would re-key the group)
    plus a new group B. Laws: (a) every member of a group gets the
    same split across all batches, (b) group A's split after batch 1
    equals its batch-0 assignment (first-seen-wins), (c) replaying
    batch 1 leaves the ledger byte-stable and rewrites identical
    assignment rows."""
    import pyspark.sql.functions as F

    from chess_pipeline_spark.streaming.jobs import _split_ledger_process_batch

    ledger = str(tmp_path / "split_ledger")
    assigns = str(tmp_path / "split_assigns")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731

    _split_ledger_process_batch(mk([(100, "group A text")]), 0, ledger, assigns)
    led0 = {r["dg"]: (r["group_rep"], r["split"]) for r in spark.read.parquet(ledger).collect()}
    assert len(led0) == 1
    (rep_a0, split_a0), = led0.values()
    assert rep_a0 == 100

    b1 = mk([(1, "group A text"), (2, "group B text")])
    _split_ledger_process_batch(b1, 1, ledger, assigns)
    led1 = {r["dg"]: (r["group_rep"], r["split"]) for r in spark.read.parquet(ledger).collect()}
    assert len(led1) == 2
    # first-seen-wins: group A keeps rep 100 and its batch-0 split
    assert (rep_a0, split_a0) in led1.values()

    # replay batch 1: ledger unchanged, assignments identical
    before = sorted(map(tuple, spark.read.parquet(ledger).collect()))
    _split_ledger_process_batch(b1, 1, ledger, assigns)
    after = sorted(map(tuple, spark.read.parquet(ledger).collect()))
    assert before == after

    a = spark.read.parquet(assigns)
    rows = {(r["doc_id"], r["split"]) for r in a.collect()}
    splits_by_doc = dict(rows)
    assert len(rows) == len(splits_by_doc) == 3
    # every group member shares its group's split
    assert splits_by_doc[1] == splits_by_doc[100] == split_a0
    # per-batch exactly-once: batch 1 partition holds exactly 2 rows
    assert a.filter(F.col("batch_id") == 1).count() == 2


def test_commutative_ledgers_are_delivery_order_independent(spark, sf_dir, tmp_path):
    """Stronger than replay idempotence: the ES sample and the
    negative-rep ledgers fold COMMUTATIVE algebra (global top-k /
    per-bucket min-2), so delivering the same three batches in a
    different order must produce byte-identical state. (The split
    ledger is deliberately NOT in this test — first-seen-wins is
    order-dependent by contract.)"""
    import pyspark.sql.functions as F

    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import (
        _es_sample_process_batch,
        _neg_reps_process_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    canon = lambda df: sorted(map(repr, map(tuple, df.collect())))  # noqa: E731

    results = {}
    for tag, order in (("fwd", [0, 1, 2]), ("rev", [2, 0, 1])):
        es = str(tmp_path / f"es_{tag}")
        nr = str(tmp_path / f"nr_{tag}")
        for b, i in enumerate(order):
            _es_sample_process_batch(batches[i], b, es, str(tmp_path / f"es_s_{tag}"))
            _neg_reps_process_batch(batches[i], b, nr, str(tmp_path / f"nr_s_{tag}"))
        results[tag] = (
            canon(spark.read.parquet(es).select("doc_id", "priority_micro")),
            canon(spark.read.parquet(nr).select("doc_id", "bucket", "tb")),
        )
    assert results["fwd"] == results["rev"]


def test_additive_ledger_compaction_probe_invariant(spark, sf_dir, tmp_path):
    """r9 maintenance parity across the ADDITIVE batch-partition
    ledgers (CMS counters, value histogram, PCA Gram cells):
    each ledger's declared compaction folds the per-batch partitions into
    batch 0 with the fold that IS each probe's cross-batch
    aggregation, so merged state is identical before/after; a
    replayed compaction is a no-op; ingest under a folded id with
    IDENTICAL content no-ops (the legitimate at-least-once replay of
    a batch compaction folded before the stream checkpoint committed
    — r9-close ADVICE: previously this wedged the stream in a
    permanent raise loop) while a DIFFERENT frame under a folded id
    still raises (addition is not idempotent — genuine id reuse
    would double-count)."""
    import os

    import pyspark.sql.functions as F
    import pytest

    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import (
        ADDITIVE_LEDGERS,
        _cms_process_batch,
        _pca_gram_process_batch,
        _value_hist_process_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    dmid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    events = load_table(spark, sf_dir, "events")
    emid = events.agg(F.expr("percentile(event_id, 0.5)")).first()[0]
    embs = load_table(spark, sf_dir, "embeddings")
    vmid = embs.agg(F.expr("percentile(vec_id, 0.5)")).first()[0]

    cases = [
        (
            "cms",
            lambda b, i, led, snap: _cms_process_batch(b, i, led, snap),
            (docs.filter(F.col("doc_id") <= dmid), docs.filter(F.col("doc_id") > dmid)),
            ADDITIVE_LEDGERS["cms"].compact,
            ["row_i", "bucket"],
            "cnt",
        ),
        (
            "hist",
            lambda b, i, led, snap: _value_hist_process_batch(b, i, led, snap),
            (
                events.filter(F.col("event_id") <= emid),
                events.filter(F.col("event_id") > emid),
            ),
            ADDITIVE_LEDGERS["histogram"].compact,
            ["event_type", "bin"],
            "cnt",
        ),
        (
            "pca",
            lambda b, i, led, snap: _pca_gram_process_batch(b, i, led, snap),
            (
                embs.filter(F.col("vec_id") <= vmid),
                embs.filter(F.col("vec_id") > vmid),
            ),
            ADDITIVE_LEDGERS["pca-gram"].compact,
            ["idx"],
            "val",
        ),
    ]
    for name, ingest, (b0, b1), compact, keys, val in cases:
        led = str(tmp_path / f"{name}_ledger")
        snap = str(tmp_path / f"{name}_snap")
        ingest(b0, 0, led, snap)
        ingest(b1, 1, led, snap)

        def merged():
            return sorted(
                map(
                    tuple,
                    spark.read.parquet(led)
                    .groupBy(*keys)
                    .agg(F.sum(val).alias(val))
                    .collect(),
                )
            )

        def batch_dirs():
            return sorted(
                d for d in os.listdir(led) if d.startswith("batch_id=")
            )

        assert batch_dirs() == ["batch_id=0", "batch_id=1"], name
        want = merged()
        compact(spark, led)
        assert batch_dirs() == ["batch_id=0"], name
        assert merged() == want, name  # probe-invariant fold
        compact(spark, led)  # replayed compaction: no-op
        assert merged() == want, name
        # identical-content replay of a folded batch: the digest
        # guard recognizes the legitimate at-least-once shape,
        # warns, and leaves the ledger untouched
        with pytest.warns(UserWarning, match="identical content"):
            ingest(b1, 1, led, snap)
        assert batch_dirs() == ["batch_id=0"], name
        assert merged() == want, name
        # a DIFFERENT frame under a folded id is genuine reuse: raise
        with pytest.raises(ValueError, match="already folded"):
            ingest(b0, 1, led, snap)
        assert merged() == want, name
        # a genuinely new batch still ingests and folds
        ingest(b1, 2, led, snap)
        compact(spark, led)
        assert batch_dirs() == ["batch_id=0"], name


def test_append_ledger_compaction_probe_invariant(spark, sf_dir, tmp_path):
    """r10 maintenance parity for the APPEND-ONLY set-union ledgers
    (paragraph chunk-digest set, boilerplate chunk counts), closing
    the gap the r9 verdict flagged: their folds are idempotent
    (distinct / reader-grain sum), so no folded-id marker is needed —
    but the probe-equality, replayed-compaction-no-op, and mid-swap
    crash laws from the batch-partitioned family apply verbatim, and
    post-fold ingest must keep exactly-once semantics (a replayed
    batch's digests still anti-join away against the folded set)."""
    import os

    import pyspark.sql.functions as F

    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import (
        ADDITIVE_LEDGERS,
        _boiler_process_batch,
        _paragraph_process_batch,
        compact_paragraph_ledger,
    )

    boiler_ledger = ADDITIVE_LEDGERS["boiler"]

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    lo = docs.filter(F.col("doc_id") <= mid)
    hi = docs.filter(F.col("doc_id") > mid)

    # ---- paragraph chunk-digest ledger: fold = set distinct ----
    led = str(tmp_path / "pd_ledger")
    ver = str(tmp_path / "pd_verdicts")
    _paragraph_process_batch(lo, 0, led, ver)
    _paragraph_process_batch(hi, 1, led, ver)

    def digest_set():
        return sorted(
            r["digest"] for r in spark.read.parquet(led).distinct().collect()
        )

    def n_files():
        return sum(1 for f in os.listdir(led) if f.endswith(".parquet"))

    want = digest_set()
    files_before = n_files()
    compact_paragraph_ledger(spark, led)
    assert digest_set() == want  # membership probe invariant
    assert n_files() <= files_before  # the small-files point
    # raw row count == distinct count: the fold actually deduped
    assert spark.read.parquet(led).count() == len(want)

    compact_paragraph_ledger(spark, led)  # replayed compaction: no-op
    assert digest_set() == want

    # mid-swap crash: ledger renamed to .bak, tmp never landed
    os.rename(led, f"{led}.__bak__")
    compact_paragraph_ledger(spark, led)
    assert os.path.exists(led) and not os.path.exists(f"{led}.__bak__")
    assert digest_set() == want

    # crash-state INGEST law: with the live dir renamed away
    # (compaction died mid-swap), an arriving batch must RESTORE the
    # .bak before appending — appending to a fresh live dir would
    # fork the state and the next compaction would fold the fork and
    # drop the .bak (silent loss). After the restore, a replayed
    # batch sees the full set and appends nothing.
    os.rename(led, f"{led}.__bak__")
    _paragraph_process_batch(hi, 3, led, ver)
    assert os.path.exists(led) and not os.path.exists(f"{led}.__bak__")
    assert digest_set() == want
    assert spark.read.parquet(led).count() == len(want)

    # exactly-once after the fold: replaying batch 1 appends nothing
    # (its digests are all in the folded set)
    _paragraph_process_batch(hi, 1, led, ver)
    assert digest_set() == want
    assert spark.read.parquet(led).count() == len(want)

    # verdict exactly-once (r10): the batch-1 replay above rewrote its
    # own verdicts partition instead of appending duplicates
    verdicts = spark.read.parquet(ver)
    assert verdicts.count() == verdicts.select("doc_id", "batch_id").distinct().count()

    # ---- boilerplate count ledger: now batch_id-partitioned (the
    # additive CMS discipline, r10) — fold = reader-grain sum ----
    bled = str(tmp_path / "bp_ledger")
    bver = str(tmp_path / "bp_verdicts")
    _boiler_process_batch(lo, 0, bled, bver)
    _boiler_process_batch(hi, 1, bled, bver)

    def counts():
        return sorted(
            map(
                tuple,
                spark.read.parquet(bled)
                .groupBy("digest")
                .agg(F.sum("inc").alias("inc"))
                .collect(),
            )
        )

    bwant = counts()
    # exactly-once under pre-fold replay (the r10 durability fix: the
    # old append layout double-counted a replayed batch)
    _boiler_process_batch(hi, 1, bled, bver)
    assert counts() == bwant
    boiler_ledger.compact(spark, bled)
    assert counts() == bwant  # prior-count probe invariant
    assert spark.read.parquet(bled).count() == len(bwant)  # one row/digest
    boiler_ledger.compact(spark, bled)  # replayed compaction: no-op
    assert counts() == bwant
    # post-fold identical replay self-heals via the digest guard
    import pytest as _pytest

    with _pytest.warns(UserWarning, match="identical content"):
        _boiler_process_batch(hi, 1, bled, bver)
    assert counts() == bwant
    # a DIFFERENT frame under a folded id is genuine reuse: raise
    with _pytest.raises(ValueError, match="already folded"):
        _boiler_process_batch(lo, 1, bled, bver)
    assert counts() == bwant
    os.rename(bled, f"{bled}.__bak__")
    boiler_ledger.compact(spark, bled)
    assert os.path.exists(bled) and not os.path.exists(f"{bled}.__bak__")
    assert counts() == bwant


def test_stream_ingest_dedup_stamps_and_enforces_signature_format(
    spark, sf_dir, tmp_path
):
    """r11 ADVICE: the persisted band index must carry its signature
    format — an index written under a different fold geometry (e.g.
    the pre-r11 28-bit signatures) would band-join against new-format
    values and yield false 'not a dup' verdicts with no error. The
    stream (a) stamps a fresh index, (b) refuses a stamped mismatch,
    and (c) refuses an unstamped pre-existing index."""
    import json
    import os
    import time

    import pandas as pd
    from pyspark.errors import StreamingQueryException

    from chess_pipeline_spark.plans.llm import SIMHASH_FORMAT
    from chess_pipeline_spark.streaming.jobs import (
        read_documents_stream,
        stream_ingest_dedup,
    )

    def drive(src_name: str, index: str, batch_no: int) -> None:
        src = tmp_path / src_name
        src.mkdir(exist_ok=True)
        pd.DataFrame(
            {
                "doc_id": [batch_no * 10 + i for i in range(3)],
                "source": ["web"] * 3,
                "text": [f"alpha beta gamma delta {batch_no} {i}" for i in range(3)],
            }
        ).to_parquet(str(src / f"b{batch_no}.parquet"))
        stream = read_documents_stream(
            spark, str(src), glob="*.parquet", max_files_per_trigger=1
        )
        q = (
            stream_ingest_dedup(
                stream, index, str(tmp_path / f"verdicts_{src_name}")
            )
            .option(
                "checkpointLocation", str(tmp_path / f"ckpt_{src_name}_{batch_no}")
            )
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    # (a) a fresh index gets stamped with the current format
    index = str(tmp_path / "index")
    drive("a", index, 0)
    stamp = json.loads((tmp_path / "index" / "_format.json").read_text())
    assert stamp["signature_format"] == SIMHASH_FORMAT

    # (b) a stamped MISMATCH refuses instead of silently missing dups
    (tmp_path / "index" / "_format.json").write_text(
        json.dumps({"signature_format": "simhash28-b4x7-h3-knuth31"})
    )
    with pytest.raises(StreamingQueryException, match="signature format"):
        drive("a", index, 1)
    # restore the true stamp: the same stream must then proceed
    (tmp_path / "index" / "_format.json").write_text(
        json.dumps({"signature_format": SIMHASH_FORMAT})
    )
    drive("a", index, 2)

    # (c) an unstamped PRE-EXISTING index (pre-stamping era) refuses
    index2 = str(tmp_path / "index2")
    drive("b", index2, 0)
    os.remove(os.path.join(index2, "_format.json"))
    with pytest.raises(StreamingQueryException, match="predates format"):
        drive("b", index2, 1)
