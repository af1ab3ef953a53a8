"""Persisted inverted text index: parity with the catalog BM25 query,
bucket pruning in the plan, exact incremental ingest."""

from __future__ import annotations

import pyspark.sql.functions as F

from chess_pipeline_spark.plans.corpus import _BM25_QUERY_TERMS
from chess_pipeline_spark.sources import load_table
from chess_pipeline_spark.text_index import (
    _TI_BUCKETS,
    build_text_index,
    ingest_text_delta,
    probe_bm25,
)


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_probe_matches_catalog_bm25_bit_exactly(spark, sf_dir, tmp_path):
    from chess_pipeline_spark.plans import catalog

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "tix")
    build_text_index(docs, idx)
    got = _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS))
    want = _rows(catalog()["bm25_doc_search"].spark(spark, sf_dir))
    assert got == want  # same fround grid, same tie order -> identical


def test_probe_prunes_to_query_buckets(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "tix")
    build_text_index(docs, idx)
    df = probe_bm25(spark, idx, _BM25_QUERY_TERMS)
    jvm = df.sparkSession._jvm
    plan = jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # the bucket filter must reach the partition level of the
    # postings scan, not run as a post-scan row filter
    assert "PartitionFilters" in plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("bucket" in ln and "bucket#" in ln for ln in pf), pf
    assert df.count() >= 0


def test_incremental_ingest_equals_full_rebuild(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    d0 = docs.filter(F.col("doc_id") <= mid)
    d1 = docs.filter(F.col("doc_id") > mid)

    inc = str(tmp_path / "tix_inc")
    build_text_index(d0, inc)
    ingest_text_delta(d1, inc, batch_id=1)
    ingest_text_delta(d1, inc, batch_id=1)  # at-least-once replay: no-op

    full = str(tmp_path / "tix_full")
    build_text_index(docs, full)

    assert _rows(probe_bm25(spark, inc, _BM25_QUERY_TERMS)) == _rows(
        probe_bm25(spark, full, _BM25_QUERY_TERMS)
    )
    # per-batch stats rows sum to the full-build totals
    import os

    def totals(p):
        r = (
            spark.read.parquet(os.path.join(p, "stats"))
            .agg(F.sum("n_docs"), F.sum("total_len"))
            .first()
        )
        return (r[0], r[1])

    assert totals(inc) == totals(full)


def test_streamed_index_equals_batch_build(spark, sf_dir, tmp_path):
    """Drive documents through stream_text_index_ingest in two
    micro-batches via a real file-source stream: the streamed index
    must answer the fixed BM25 query bit-identically to a one-shot
    batch build over the same documents."""
    import os
    import time

    from chess_pipeline_spark.streaming.jobs import stream_text_index_ingest

    docs = load_table(spark, sf_dir, "documents")
    src = tmp_path / "doc_arrivals"
    src.mkdir()
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    docs.filter(F.col("doc_id") <= mid).toPandas().to_parquet(
        str(src / "b0.parquet")
    )
    docs.filter(F.col("doc_id") > mid).toPandas().to_parquet(
        str(src / "b1.parquet")
    )
    now = time.time()
    os.utime(src / "b0.parquet", (now - 60, now - 60))
    os.utime(src / "b1.parquet", (now, now))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    idx = str(tmp_path / "tix_stream")
    q = (
        stream_text_index_ingest(stream, idx)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    full = str(tmp_path / "tix_batch")
    build_text_index(docs, full)
    assert _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS)) == _rows(
        probe_bm25(spark, full, _BM25_QUERY_TERMS)
    )


def test_compaction_probe_identical_and_single_batch_layout(
    spark, sf_dir, tmp_path
):
    """compact_text_index laws, at parity with the IVF sibling:
    (a) probe_bm25 is bit-identical before/after the fold (the fold
    is a pure layout move — batches hold disjoint docs and probes
    never filter batch_id); (b) the folded layout is a single batch-0
    partition set per table (the small-files bound continuous ingest
    needs); (c) a replayed compaction is a no-op; (d) ingest under a
    folded batch id raises instead of overwriting merged partitions."""
    import os

    import pytest

    from chess_pipeline_spark.text_index import compact_text_index

    docs = load_table(spark, sf_dir, "documents")
    cuts = docs.approxQuantile("doc_id", [0.33, 0.66], 0.0)
    idx = str(tmp_path / "tix")
    build_text_index(docs.filter(F.col("doc_id") <= cuts[0]), idx)
    ingest_text_delta(
        docs.filter(
            (F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1])
        ),
        idx,
        batch_id=1,
    )
    ingest_text_delta(docs.filter(F.col("doc_id") > cuts[1]), idx, batch_id=2)

    def batch_dirs(table):
        d = os.path.join(idx, table)
        return sorted(x for x in os.listdir(d) if x.startswith("batch_id="))

    assert batch_dirs("postings") == [
        "batch_id=0",
        "batch_id=1",
        "batch_id=2",
    ]
    want = _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS))

    compact_text_index(spark, idx)
    # (b) one batch-0 partition set per table; stats is ONE summed row
    for table in ("postings", "doclens", "stats"):
        assert batch_dirs(table) == ["batch_id=0"], table
    assert spark.read.parquet(os.path.join(idx, "stats")).count() == 1
    # (a) bit-identical serving
    assert _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS)) == want

    # (c) replayed compaction: no-op, probe still identical
    compact_text_index(spark, idx)
    assert _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS)) == want

    # (d) folded-id reuse raises; index untouched
    with pytest.raises(ValueError, match="already folded"):
        ingest_text_delta(docs.limit(3), idx, batch_id=1)
    assert _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS)) == want

    # genuinely new batches keep working after compaction, and a
    # second compaction folds them in too
    ingest_text_delta(
        docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1000000),
        idx,
        batch_id=3,
    )
    compact_text_index(spark, idx)
    assert batch_dirs("postings") == ["batch_id=0"]
    n_docs = (
        spark.read.parquet(os.path.join(idx, "stats")).first()["n_docs"]
    )
    assert n_docs == docs.filter(F.col("text").isNotNull()).count() + 5


def test_compaction_recovers_mid_swap_crash(spark, sf_dir, tmp_path):
    """Crash-window law (the ann_index discipline): if a prior
    compaction died between renaming a live table to .bak and
    renaming the merged tmp into place, the .bak IS the table — the
    next run restores it and completes the fold. A crash BETWEEN
    per-table swaps (postings folded, doclens/stats not) must leave
    probes correct and be finished by the next run."""
    import os
    import shutil

    from chess_pipeline_spark.text_index import compact_text_index

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    idx = str(tmp_path / "tix")
    build_text_index(docs.filter(F.col("doc_id") <= mid), idx)
    ingest_text_delta(docs.filter(F.col("doc_id") > mid), idx, batch_id=1)
    want = _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS))

    # crash state 1: postings renamed to .bak, tmp never landed
    pp = os.path.join(idx, "postings")
    os.rename(pp, f"{pp}.__bak__")
    compact_text_index(spark, idx)
    assert os.path.exists(pp) and not os.path.exists(f"{pp}.__bak__")
    assert _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS)) == want

    # crash state 2: postings folded but doclens/stats still
    # multi-batch (simulate by restoring pre-fold copies)
    dl = os.path.join(idx, "doclens")
    st = os.path.join(idx, "stats")
    dl_copy, st_copy = str(tmp_path / "dl"), str(tmp_path / "st")
    # rebuild the pre-fold state for those two tables
    shutil.copytree(dl, dl_copy)
    shutil.copytree(st, st_copy)
    # the fold above already unified everything; fake the partial
    # state by appending a synthetic extra batch to doclens+stats only
    extra = spark.createDataFrame([(999999, 7)], "doc_id long, len_d long")
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    upsert_partition_overwrite(
        extra.withColumn("batch_id", F.lit(9)), dl, ["batch_id"]
    )
    upsert_partition_overwrite(
        spark.createDataFrame(
            [(1, 7, 9)], "n_docs long, total_len long, batch_id long"
        ),
        st,
        ["batch_id"],
    )
    # probes are correct in the partial state (batch_id is invisible
    # to the probe) and compaction finishes the fold
    compact_text_index(spark, idx)
    assert sorted(
        x
        for x in os.listdir(dl)
        if x.startswith("batch_id=")
    ) == ["batch_id=0"]
    n = spark.read.parquet(st).count()
    assert n == 1


def test_empty_delta_ingest_is_harmless(spark, sf_dir, tmp_path):
    """Streaming foreachBatch regularly delivers EMPTY micro-batches;
    an empty delta must not corrupt the index: probes are unchanged,
    the stats row for the empty batch (n_docs=0, total_len NULL) sums
    transparently, and compaction folds through it."""
    from chess_pipeline_spark.text_index import compact_text_index

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "tix")
    build_text_index(docs, idx)
    want = _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS))

    empty = docs.filter("1 = 0")
    ingest_text_delta(empty, idx, batch_id=1)
    assert _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS)) == want

    compact_text_index(spark, idx)
    assert _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS)) == want


def test_compaction_refuses_partial_batch_then_replay_heals(
    spark, sf_dir, tmp_path
):
    """r9 cross-table consistency guard: ingest writes postings ->
    doclens -> stats, so a mid-batch crash leaves the batch id in the
    earlier tables only. Compaction must REFUSE that state (folding
    would bake it in, and the folded-id guard would then block the
    healing replay forever); the at-least-once replay of the same
    batch id heals it, after which compaction proceeds. An EMPTY
    delta batch (stats row only, no partitions) stays legitimate."""
    import os
    import shutil

    import pytest

    from chess_pipeline_spark.text_index import compact_text_index

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    hi = docs.filter(F.col("doc_id") > mid)
    idx = str(tmp_path / "tix")
    build_text_index(docs.filter(F.col("doc_id") <= mid), idx)
    ingest_text_delta(hi, idx, batch_id=1)
    # simulate the crash end-state: batch 1's doclens + stats vanish
    # (ingest died between the postings write and the rest)
    for table in ("doclens", "stats"):
        shutil.rmtree(os.path.join(idx, table, "batch_id=1"))
    with pytest.raises(ValueError, match="crashed mid-batch"):
        compact_text_index(spark, idx)
    # nothing was folded: batch partitions intact
    assert sorted(
        d
        for d in os.listdir(os.path.join(idx, "postings"))
        if d.startswith("batch_id=")
    ) == ["batch_id=0", "batch_id=1"]
    # the healing replay rewrites exactly its own partitions (the id
    # is NOT folded, so the folded-id guard permits it)
    ingest_text_delta(hi, idx, batch_id=1)
    compact_text_index(spark, idx)
    want = _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS))
    full = str(tmp_path / "tix_full")
    build_text_index(docs, full)
    assert want == _rows(probe_bm25(spark, full, _BM25_QUERY_TERMS))


def test_build_reserves_batch_zero(spark, sf_dir, tmp_path):
    """r9-close ADVICE (medium): build_text_index writes the whole
    index as batch 0, and stream epochs start at 0 — so a stream
    started with a fresh checkpoint against a built-but-never-
    compacted index used to silently dynamic-overwrite the base's
    batch-0 partitions. The build now records batch 0 in
    `_folded_batches.json`, so an epoch-0 ingest raises like any
    other folded-id reuse; ids >= 1 keep working and compaction on
    the fresh build stays a no-op."""
    import os

    import pytest

    from chess_pipeline_spark.commit import read_folded as _read_folded
    from chess_pipeline_spark.text_index import compact_text_index

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "tix")
    build_text_index(docs, idx)
    assert _read_folded(os.path.join(idx, "postings")) == {0}
    want = _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS))

    # epoch-0 ingest over the built base: loud, index untouched
    with pytest.raises(ValueError, match="already folded"):
        ingest_text_delta(docs.limit(3), idx, batch_id=0)
    assert _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS)) == want

    # compaction on a fresh build (marker={0}, ids={0}): no-op
    compact_text_index(spark, idx)
    assert _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS)) == want

    # real deltas (ids >= 1) are unaffected
    extra = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 1000000)
    ingest_text_delta(extra, idx, batch_id=1)
    n_docs = (
        spark.read.parquet(os.path.join(idx, "stats"))
        .agg(F.sum("n_docs"))
        .first()[0]
    )
    assert n_docs == docs.filter(F.col("text").isNotNull()).count() + 3


def test_compaction_sweeps_stale_tmp_dirs(spark, sf_dir, tmp_path):
    """r9-close ADVICE (low): a compaction that crashes after writing
    its merged tmp but before the renames leaves a full-size
    `.__tmp__<uuid>` orphan next to the table; repeated crash-retry
    cycles accumulate them. Compaction entry now sweeps stale tmps
    (safe: a tmp is only renamed in after the live dir moved to .bak,
    so any surviving tmp is garbage)."""
    import os

    from chess_pipeline_spark.sinks import compact_batch_ledger
    from chess_pipeline_spark.streaming.jobs import ingest_dupgram_delta
    from chess_pipeline_spark.text_index import compact_text_index

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]

    # text index: stale tmp beside the postings table
    idx = str(tmp_path / "tix")
    build_text_index(docs.filter(F.col("doc_id") <= mid), idx)
    ingest_text_delta(docs.filter(F.col("doc_id") > mid), idx, batch_id=1)
    stale = os.path.join(idx, "postings.__tmp__deadbeef")
    os.makedirs(os.path.join(stale, "batch_id=0"))
    compact_text_index(spark, idx)
    assert not os.path.exists(stale)

    # additive ledger: stale tmp beside the ledger dir
    led = str(tmp_path / "ledger")
    ingest_dupgram_delta(docs.filter(F.col("doc_id") <= mid), led, 0)
    ingest_dupgram_delta(docs.filter(F.col("doc_id") > mid), led, 1)
    stale = f"{led}.__tmp__cafebabe"
    os.makedirs(stale)
    compact_batch_ledger(spark, led, ["gd"], sum_cols=["df"])
    assert not os.path.exists(stale)


def test_text_index_format_stamp_enforced(spark, sf_dir, tmp_path):
    """r12: the persisted BM25 index carries its tokenizer/bucket/
    parameter format; a stamped mismatch refuses at probe and ingest,
    and a rebuild re-stamps."""
    import json

    import pytest

    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.text_index import (
        _TI_FORMAT,
        build_text_index,
        ingest_text_delta,
        probe_bm25,
    )

    idx = str(tmp_path / "tix_fmt")
    docs = load_table(spark, sf_dir, "documents").limit(100)
    build_text_index(docs, idx)
    stamp = json.loads((tmp_path / "tix_fmt" / "_format.json").read_text())
    assert stamp["format"] == _TI_FORMAT

    (tmp_path / "tix_fmt" / "_format.json").write_text(
        json.dumps({"format": "bm25-k12.0-b0.5-porter-md5hexb64"})
    )
    with pytest.raises(ValueError, match="format"):
        probe_bm25(spark, idx, ("data",), k=5)
    with pytest.raises(ValueError, match="format"):
        ingest_text_delta(docs, idx, batch_id=1)

    build_text_index(docs, idx)
    assert probe_bm25(spark, idx, ("data",), k=5).count() >= 0


def test_move_fold_mid_crash_probe_exact_and_replay_refused(
    spark, sf_dir, tmp_path
):
    """r14: compact_text_index folds postings/doclens by MOVING batch
    files into batch_id=0 (delta-proportional, no Spark jobs). Laws:
    (a) a fold crashed after the marker write and a partial move
    leaves probe_bm25 bit-identical (probes never filter batch_id;
    every row is in exactly one directory); (b) an ingest replay of a
    marked batch id raises; (c) a re-run finishes the fold to the
    single batch-0 layout with the identical probe."""
    import json
    import os

    import pytest

    from chess_pipeline_spark.commit import move_data_files as _move_data_files
    from chess_pipeline_spark.text_index import (
        compact_text_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    idx = str(tmp_path / "tix")
    build_text_index(docs.filter(F.col("doc_id") <= mid), idx)
    ingest_text_delta(docs.filter(F.col("doc_id") > mid), idx, batch_id=1)
    want = _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS))

    # manufacture the crash: marker updated (the fold's first step),
    # then only ONE bucket of batch 1 moved before dying
    pp = os.path.join(idx, "postings")
    with open(os.path.join(pp, "_folded_batches.json"), "w") as fh:
        json.dump([0, 1], fh)
    b1 = os.path.join(pp, "batch_id=1")
    buckets = sorted(e.name for e in os.scandir(b1) if e.is_dir())
    assert buckets
    _move_data_files(
        os.path.join(b1, buckets[0]),
        os.path.join(pp, "batch_id=0", buckets[0]),
        "b1-",
    )

    # (a) probe bit-identical through the crash window
    assert _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS)) == want
    # (b) replaying the marked batch raises
    with pytest.raises(ValueError, match="already folded"):
        ingest_text_delta(docs.filter(F.col("doc_id") > mid), idx, batch_id=1)
    # (c) re-run finishes: single batch-0 layout, identical probe
    compact_text_index(spark, idx)
    for table in ("postings", "doclens", "stats"):
        dirs = sorted(
            x
            for x in os.listdir(os.path.join(idx, table))
            if x.startswith("batch_id=")
        )
        assert dirs == ["batch_id=0"], table
    assert _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS)) == want


def test_major_rewrite_consolidates_and_keeps_the_folded_marker(
    spark, sf_dir, tmp_path
):
    """r14: compact(rewrite=True) is the MAJOR compaction — it re-
    writes each table as consolidated batch-0 files even when there is
    nothing new to fold, and the folded marker MUST ride the swap (a
    rewrite that dropped it would silently disarm the ingest id-reuse
    guard)."""
    import os

    import pytest

    from chess_pipeline_spark.commit import read_folded as _read_folded
    from chess_pipeline_spark.text_index import (
        compact_text_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    idx = str(tmp_path / "tix")
    build_text_index(docs.filter(F.col("doc_id") <= mid), idx)
    ingest_text_delta(docs.filter(F.col("doc_id") > mid), idx, batch_id=1)
    want = _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS))
    compact_text_index(spark, idx)  # minor: moves files

    pp = os.path.join(idx, "postings")

    def data_files(p):
        return sum(
            1
            for _r, _d, fs in os.walk(p)
            for f in fs
            if not f.startswith(("_", "."))
        )

    before = data_files(pp)
    compact_text_index(spark, idx, rewrite=True)
    after = data_files(pp)
    assert after <= before
    assert _read_folded(pp) == {0, 1}  # the marker survived the swap
    with pytest.raises(ValueError, match="already folded"):
        ingest_text_delta(docs.limit(3), idx, batch_id=1)
    assert _rows(probe_bm25(spark, idx, _BM25_QUERY_TERMS)) == want
