"""Structured Streaming variants of the engine's incremental surface.

The reference has no streams (SURVEY §2.11) — its incremental
behavior is date-keyed batch + upsert + the FEN eval cache. These
jobs are the Spark-native streaming re-expression over the `events`
table: the same window specs as the batch catalog queries
(plans/timeseries.py), driven by readStream, so one logical spec
serves both modes.

All jobs return *unstarted* DataFrames/writers where possible so
tests and callers choose trigger + sink; `availableNow` + memory sink
drives them to completion synchronously in tests (bounded input ≙ a
replayed stream).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from chess_pipeline_spark import commit
from chess_pipeline_spark.sources.tables import _normalize_events, ensure_session_confs


def _events_physical_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """File-source streams require an explicit schema; probe it from a
    footer-only batch read so both physical `ts` layouts (raw ns long
    under nanosAsLong, or native TIMESTAMP/NTZ µs) stream correctly.
    At scale this is one driver-side footer read, not a data scan.
    """
    import glob as _glob
    import os

    pattern = os.path.join(sf_dir, "events.parquet")
    if not os.path.exists(pattern):
        # multi-file replay fixtures: probe the first matching file
        matches = sorted(_glob.glob(os.path.join(sf_dir, "*.parquet")))
        if matches:
            pattern = matches[0]
    return spark.read.parquet(pattern).schema


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    glob: str = "events.parquet",
) -> DataFrame:
    """File-source stream over the events parquet (S3 streaming
    flavor). Pass max_files_per_trigger (with a wider `glob`) for
    replay-in-batches semantics over multi-file fixtures (a
    single-file fixture always arrives as one micro-batch
    regardless)."""
    ensure_session_confs(spark)
    reader = spark.readStream.schema(_events_physical_schema(spark, sf_dir)).option(
        "pathGlobFilter", glob
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(sf_dir)
    return _normalize_events(raw)


def stream_tumbling_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1h window x event_type with late-data watermark — the
    streaming twin of plans/timeseries.events_tumbling_1h."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            # integer-cent fold like the batch twins: a streaming sum
            # must not depend on micro-batch arrival order either
            (F.sum(grid_cents("value", 2)) / F.lit(100.0)).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_sliding_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding 1h/30m window x event_type — the streaming twin of
    plans/timeseries.events_sliding_1h_30m (each event lands in two
    overlapping windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            # integer-cent fold like the batch twins: a streaming sum
            # must not depend on micro-batch arrival order either
            (F.sum(grid_cents("value", 2)) / F.lit(100.0)).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session_window sessionization (the streaming-stateful
    twin of plans/timeseries.events_sessionized)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(grid_cents("value", 2)) / F.lit(100.0)).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            F.unix_timestamp(F.col("w.end")).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_dedup_latest(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on (user_id, event_type, event_id) with
    watermark-bounded state — the streaming analog of the S5 upsert
    key discipline. dropDuplicatesWithinWatermark is the form whose
    state the watermark actually evicts: plain dropDuplicates with an
    event-time-less subset retains every key ever seen, growing state
    without bound on a long-running stream."""
    return events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "event_id"]
    )


def stream_interval_join(events: DataFrame, interval_s: int = 600) -> DataFrame:
    """Stream-stream event-time range join: each purchase paired with
    the same user's error events from the preceding `interval_s`
    seconds — the streaming twin of
    plans/timeseries.events_interval_join.

    Uses Spark's native interval join: both branches carry a
    watermark and the join condition bounds event time on both sides,
    so each side's join state is evicted once the other side's
    watermark passes the range (state is O(watermark window), not
    O(stream)). The batch twin re-expresses the same range predicate
    as a bin-bucketed equi-join because batch has no watermark to
    bound a nested-loop — two mode-appropriate plans for one logical
    spec.
    """
    # second-truncate the event time BEFORE the join so the range
    # semantics match the batch twin exactly (events_interval_join
    # compares integer ts_sec); µs-precision timestamps would
    # otherwise flip pairs at the window boundary between the twins.
    # Truncation happens on the watermark column itself, so the
    # interval join's state cleanup still applies.
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user"),
            F.date_trunc("second", F.col("ts")).alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    e = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.date_trunc("second", F.col("ts")).alias("e_ts"),
        )
        .withWatermark("e_ts", "2 hours")
    )
    return p.join(
        e,
        F.expr(
            f"p_user = e_user AND e_ts >= p_ts - INTERVAL {interval_s} SECONDS "
            f"AND e_ts < p_ts"
        ),
        "inner",
    ).select(
        "p_event_id",
        F.col("p_user").alias("user_id"),
        F.unix_timestamp("p_ts").alias("p_ts_sec"),
        F.unix_timestamp("e_ts").alias("err_ts_sec"),
    )


def stream_static_enrich(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a static
    (batch) user dimension — the canonical streaming-enrichment
    pattern. The static side is re-read per micro-batch by Spark and
    broadcast when small; no state is kept for the join itself."""
    return events.join(F.broadcast(user_dim), "user_id", "left")


def stream_upsert_foreach_batch(
    agg: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint: str,
):
    """writeStream.foreachBatch upserting each micro-batch into a
    parquet target keyed on `keys` — the reference's delete-then-
    insert loader (postgres_templates.py:160-214) as an idempotent
    streaming sink (exactly-once per epoch via overwrite-by-merge)."""
    from chess_pipeline_spark.sinks import upsert_parquet

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        upsert_parquet(batch_df, target_path, keys)

    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
    )


# documents.parquet physical schema (plain types; no ns-timestamp)
DOCUMENTS_PHYSICAL = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the documents parquet — the ingest
    mode of a continuously-arriving corpus. Pair with
    plans.corpus.curate_documents: the curation spec is stateless
    row-local Catalyst, so the identical function body runs in both
    batch and streaming (no watermark, append output)."""
    reader = spark.readStream.schema(DOCUMENTS_PHYSICAL).option(
        "pathGlobFilter", glob
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(sf_dir)


def stream_scd2(
    snapshots: DataFrame,
    dim_path: str,
    keys: list[str],
    attrs: list[str],
):
    """Continuous SCD2 dimension maintenance: each micro-batch of
    snapshot rows folds into the versioned dimension at dim_path via
    sinks.scd2_apply (valid_from/valid_to stamped with the batch_id —
    a monotone logical clock the replay of a batch reproduces
    exactly).

    Exactly-once by ALGEBRA, not layout: re-applying the same
    snapshot batch is a no-op (no attribute differs the second time,
    so no row closes and no row appends), so at-least-once
    foreachBatch delivery cannot duplicate versions. Each batch
    commits the new dimension with commit.replace_dir.

    100 TB shape: scd2_apply touches only OPEN rows + the batch
    (closed history unions through untouched — partition the
    dimension by is_current so its scan prunes); the rewrite cost is
    dimension-scale, which a lakehouse MERGE would reduce to
    touched-files (documented-blocked in COVERAGE.md S5).
    """

    def _process(batch: DataFrame, batch_id: int) -> None:
        scd2_process_batch(batch, batch_id, dim_path, keys, attrs)

    return snapshots.writeStream.foreachBatch(_process)


def scd2_process_batch(
    batch: DataFrame,
    batch_id: int,
    dim_path: str,
    keys: list[str],
    attrs: list[str],
) -> None:
    """One stream_scd2 micro-batch — module-level so batch-mode
    callers and the replay-idempotency test drive the exact path."""
    from pyspark.errors import AnalysisException

    from chess_pipeline_spark.sinks import scd2_apply

    spark = batch.sparkSession
    commit.recover(dim_path)
    try:
        current = spark.read.parquet(dim_path)
    except AnalysisException:
        fields = ", ".join(f"{c} {dict(batch.dtypes)[c]}" for c in [*keys, *attrs])
        current = spark.createDataFrame(
            [], f"{fields}, valid_from long, valid_to long, is_current boolean"
        )
    from chess_pipeline_spark.checkpoints import scoped_checkpoints

    merged = scd2_apply(current, batch, keys, attrs, batch_ts=batch_id)
    # the pin's whole purpose is to survive the swap below; the scope
    # releases it deterministically once the swap is done (r12
    # checkpoint lifetime discipline — a long-lived stream otherwise
    # accumulates one pinned dimension snapshot per micro-batch).
    # foreachBatch batches for one dimension run sequentially, so the
    # scope only ever sees this batch's pin.
    with scoped_checkpoints(spark):
        rows = merged.localCheckpoint()  # pin before the swap rewrites source
        commit.replace_dir(
            dim_path, lambda tmp: rows.write.mode("overwrite").parquet(tmp)
        )


def stream_ingest_dedup(docs: DataFrame, index_path: str, verdicts_path: str):
    """Continuous-ingestion near-dedup: every micro-batch of arriving
    documents is flagged against a PERSISTED SimHash band index, then
    its own signatures are appended to the index — the streaming twin
    of plans.llm.dedup_incremental_simhash (whose corpus cache plays
    the index role), and the same shape as the reference's eval-cache
    "fetch only what the cache lacks" discipline applied to ingest.

    Semantics matched to the batch twin exactly: a batch is compared
    against everything ingested in EARLIER batches (not against
    itself), every ingested doc enters the index whether or not it
    was a dup, and the nearest cached doc is picked by (min hamming,
    then min doc_id) at hamming <= 3 (banding keeps 100% recall by
    pigeonhole — see the batch twin's docstring).

    100 TB shape: the per-batch work is a row-local signature
    projection plus one band-bucket equi-join where the batch side
    is small and broadcasts; the index is an append-only parquet
    keyed by (source, band, bv) that at real scale would be
    bucket-partitioned so a batch touches only its bands' files.

    Returns a DataStreamWriter; callers start it with their own
    checkpoint/trigger options.
    """
    import pyspark.sql.functions as F
    from pyspark.errors import AnalysisException

    from chess_pipeline_spark.plans.llm import (
        _SIMHASH_MAX_HAMMING,
        SIMHASH_FORMAT,
        simhash_bands_for,
        simhash_signatures_for,
    )

    def _check_or_stamp_format(index_exists: bool) -> None:
        # r11 ADVICE: the 28→56-bit signature widening changed the
        # meaning of the persisted simhash/bv columns. An old-format
        # index would band-join against new-format values and return
        # false 'not a dup' verdicts with NO error — so the index
        # carries a _format.json sidecar (underscore-prefixed files
        # are invisible to parquet readers, the _folded_batches.json
        # pattern) and a mismatch, or a pre-existing index with no
        # stamp at all, refuses loudly instead.
        import os

        stamp_path = os.path.join(index_path, "_format.json")
        stamp = commit.read_json(stamp_path)
        if stamp is not None:
            stored = stamp.get("signature_format")
            if stored != SIMHASH_FORMAT:
                raise ValueError(
                    f"simhash index at {index_path} was written with "
                    f"signature format {stored!r} but this build "
                    f"produces {SIMHASH_FORMAT!r} — rebuild the index "
                    "(delete the directory and replay the stream)"
                )
        elif index_exists:
            raise ValueError(
                f"simhash index at {index_path} predates format "
                f"stamping and cannot be verified against "
                f"{SIMHASH_FORMAT!r} — rebuild the index (delete the "
                "directory and replay the stream)"
            )
        else:
            os.makedirs(index_path, exist_ok=True)
            commit.write_json(stamp_path, {"signature_format": SIMHASH_FORMAT})

    def _process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        sig = simhash_signatures_for(
            batch.select("doc_id", "source", "text")
        ).persist()
        bands = simhash_bands_for(sig)
        try:
            idx = spark.read.parquet(index_path)
            index_exists = True
        except AnalysisException:
            idx = spark.createDataFrame([], bands.schema)
            index_exists = False
        _check_or_stamp_format(index_exists)
        cache = idx.select(
            F.col("source").alias("c_source"),
            F.col("band").alias("c_band"),
            F.col("bv").alias("c_bv"),
            F.col("doc_id").alias("c_id"),
            F.col("simhash").alias("c_sig"),
        )
        matched = (
            # hint the BATCH side as the broadcast build: the index
            # (corpus-scale) then streams through unshuffled
            F.broadcast(bands).join(
                cache,
                (bands.source == cache.c_source)
                & (bands.band == cache.c_band)
                & (bands.bv == cache.c_bv),
            )
            .withColumn(
                "hamming", F.expr("CAST(bit_count(simhash ^ c_sig) AS BIGINT)")
            )
            .filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
            .groupBy("doc_id")
            .agg(F.min(F.struct("hamming", "c_id")).alias("m"))
        )
        verdicts = (
            sig.join(matched, "doc_id", "left")
            .select(
                "doc_id",
                F.col("m").isNotNull().alias("is_dup"),
                F.col("m.c_id").alias("dup_of"),
                F.col("m.hamming").alias("hamming"),
                F.lit(batch_id).alias("batch_id"),
            )
        )
        # verdicts first, then index append: a replayed batch (failure
        # between the two writes) re-reads an index without its own
        # signatures and reproduces identical verdicts — idempotent
        # under foreachBatch's at-least-once contract modulo the
        # duplicate verdict rows a downstream keyed upsert removes
        verdicts.write.mode("append").parquet(verdicts_path)
        bands.write.mode("append").parquet(index_path)
        sig.unpersist()

    return docs.writeStream.foreachBatch(_process)


def stream_paragraph_dedup(docs: DataFrame, ledger_path: str, verdicts_path: str):
    """Continuous paragraph-level dedup: each micro-batch's chunks
    are checked against a persisted chunk-DIGEST ledger (never chunk
    bodies), first-occurrence within the batch resolves by
    (doc_id, chunk_idx), and the batch's newly-seen digests append
    to the ledger — the streaming twin of plans.corpus.
    paragraph_dedup. With doc-id-ordered arrival the verdicts equal
    the batch query's exactly (the equivalence the test replays).

    100 TB shape: the ledger is 32 bytes per distinct chunk ever
    seen; the membership check is an equi-join on the digest where
    the batch side is small and broadcasts. At real scale the ledger
    partitions by digest prefix so a batch touches only its buckets.
    """
    def _process(batch: DataFrame, batch_id: int) -> None:
        _paragraph_process_batch(batch, batch_id, ledger_path, verdicts_path)

    return docs.writeStream.foreachBatch(_process)


def _paragraph_process_batch(
    batch: DataFrame, batch_id: int, ledger_path: str, verdicts_path: str
) -> None:
    """One stream_paragraph_dedup micro-batch — module-level so
    compaction and replay tests can drive it without a running
    stream."""
    from pyspark.sql import Window

    from chess_pipeline_spark.plans.corpus import (
        paragraph_chunks,
        paragraph_rollup,
    )

    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    spark = batch.sparkSession
    d = batch.select("doc_id", "text")
    chunks = paragraph_chunks(d).withColumn("digest", F.md5("chunk"))
    # the read recovers a crashed compaction's swap BEFORE the append
    # below (r10): appending to a fresh live dir while the digest set
    # sits in .bak would fork the state
    ledger = _read_bounded_ledger(
        spark, ledger_path, "digest string"
    ).select("digest", F.lit(True).alias("in_ledger"))
    win = Window.partitionBy("digest").orderBy("doc_id", "chunk_idx")
    flagged = (
        chunks.join(ledger, "digest", "left")
        .withColumn("rn", F.row_number().over(win))
        .withColumn(
            "is_dup",
            F.coalesce(F.col("in_ledger"), F.lit(False)) | (F.col("rn") > 1),
        )
    )
    verdicts = paragraph_rollup(d, flagged).withColumn(
        "batch_id", F.lit(batch_id)
    )
    # batch_id-partitioned overwrite (r10): a replayed batch rewrites
    # its own verdict partition instead of appending duplicate rows —
    # the same exactly-once-by-layout discipline as the snapshots
    upsert_partition_overwrite(verdicts, verdicts_path, ["batch_id"])
    new_digests = (
        flagged.filter((F.col("rn") == 1) & F.col("in_ledger").isNull())
        .select("digest")
        .distinct()
    )
    # the digest append itself is replay-safe WITHOUT partitioning:
    # a replayed batch's digests are already in the ledger, so the
    # in_ledger anti-filter makes this frame empty
    new_digests.write.mode("append").parquet(ledger_path)


def stream_boilerplate_removal(docs: DataFrame, ledger_path: str, verdicts_path: str):
    """Continuous boilerplate removal: a persisted per-digest COUNT
    ledger (batch_id-PARTITIONED, r10: each batch's (digest,
    distinct-doc increment) rows land via dynamic partition
    overwrite, so an at-least-once replayed batch rewrites identical
    bytes instead of appending duplicate increments; readers
    aggregate across partitions) tracks how many distinct documents
    each chunk has appeared in; a batch's chunks are dropped when
    ledger + in-batch count reaches the _BOILER_MIN_DOCS threshold —
    the streaming twin of plans.corpus.boilerplate_chunk_removal.

    As-of semantics, by design: a verdict reflects the corpus seen
    UP TO its batch, so the chunk's first host (ingested before the
    chunk crossed the threshold) keeps it while later hosts lose it.
    The batch query is the retroactive view; run it as a compaction
    pass when removal-from-every-host matters (it drops the first
    copy too). With the whole corpus in ONE batch the stream verdict
    equals the batch query's exactly (tested). Counting assumes
    upstream exact-dedup: a doc_id re-ingested in a later batch
    would increment its chunks' counts again.

    100 TB shape: the ledger carries 32-byte digests + a count; each
    batch writes only its own partition (no rewrite of history) and
    compact_boilerplate_ledger folds the partitions at maintenance
    cadence (the additive compact_batch_ledger discipline, folded-id
    + content-digest guarded); the boilerplate set for a batch stays
    broadcast-sized.
    """
    def _process(batch: DataFrame, batch_id: int) -> None:
        _boiler_process_batch(batch, batch_id, ledger_path, verdicts_path)

    return docs.writeStream.foreachBatch(_process)


def _boiler_process_batch(
    batch: DataFrame, batch_id: int, ledger_path: str, verdicts_path: str
) -> None:
    """One stream_boilerplate_removal micro-batch — module-level so
    compaction and replay tests can drive it without a running
    stream.

    r10 exactly-once upgrade: the count ledger previously APPENDED
    (digest, inc) rows, so an at-least-once BATCH REPLAY (crash
    between the ledger write and the checkpoint commit) appended the
    same increments twice — a durability hole distinct from the
    documented doc-re-ingestion caveat. The ledger now lands under
    batch_id partitions with dynamic partition overwrite (the
    CMS/dup-gram discipline): a replayed batch rewrites exactly its
    own partition with identical bytes. Post-compaction replays
    self-heal through the content-digest guard; verdicts are
    batch_id-partition overwrites for the same reason."""
    import os

    from chess_pipeline_spark.plans.corpus import (
        _BOILER_MIN_DOCS,
        paragraph_chunks,
        paragraph_rollup,
    )
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    spark = batch.sparkSession
    d = batch.select("doc_id", "text")
    chunks = paragraph_chunks(d).withColumn("digest", F.md5("chunk"))
    batch_counts = (
        chunks.groupBy("digest")
        .agg(F.count_distinct("doc_id").cast("long").alias("inc"))
        .withColumn("batch_id", F.lit(batch_id))
    )
    # guard FIRST (it also recovers a crashed swap, so the prior
    # read below never sees a half-swapped empty ledger); skip==True
    # is the identical-content post-compaction replay — verdicts
    # still rewrite their partition, the ledger write is elided
    skip_ledger = _refuse_folded_batch_id(
        ledger_path, batch_id, "stream_boilerplate_removal", frame=batch_counts
    )
    # exclude this batch's OWN partition from the prior read: on a
    # pre-fold replay the partition already holds this batch's
    # increments, and counting them in `prior` would double them in
    # the threshold test — with the filter, replayed verdicts are
    # byte-identical to the original run. (A post-fold replay cannot
    # exclude itself from the merged batch 0; its verdicts may flag
    # MORE boilerplate — the conservative direction under the
    # documented as-of semantics.)
    prior = (
        spark.read.parquet(ledger_path)
        .filter(F.col("batch_id") != batch_id)
        .groupBy("digest")
        .agg(F.sum("inc").alias("prior"))
        if os.path.exists(ledger_path)
        else spark.createDataFrame([], "digest string, prior long")
    )
    boiler = (
        batch_counts.join(prior, "digest", "left")
        .filter(
            F.col("inc") + F.coalesce("prior", F.lit(0)) >= _BOILER_MIN_DOCS
        )
        .select("digest", F.lit(True).alias("hit"))
    )
    flagged = chunks.join(F.broadcast(boiler), "digest", "left").withColumn(
        "is_dup", F.col("hit").isNotNull()
    )
    verdicts = (
        paragraph_rollup(d, flagged)
        .withColumnRenamed("n_dup_chunks", "n_boiler_chunks")
        .withColumn("batch_id", F.lit(batch_id))
    )
    upsert_partition_overwrite(verdicts, verdicts_path, ["batch_id"])
    if not skip_ledger:
        upsert_partition_overwrite(batch_counts, ledger_path, ["batch_id"])


def compact_paragraph_ledger(spark, ledger_path: str) -> None:
    """Fold the paragraph-dedup chunk-digest ledger's per-batch
    appends into one compact digest set (sinks.compact_append_ledger;
    fold = DISTINCT over the digest column — set union, idempotent,
    so no folded-id marker is needed: a replayed batch's digests
    anti-join away against the folded set exactly as they did against
    the raw appends). Membership — the only probe — is identical
    before and after; under continuous ingest this bounds the
    small-files count that one append per micro-batch otherwise grows
    forever (the r9 text-index hazard, set-union edition).
    PRECONDITION: quiesce the stream first (CLI compact docstring)."""
    from chess_pipeline_spark.sinks import compact_append_ledger

    compact_append_ledger(
        spark, ledger_path, lambda df: df.select("digest").distinct()
    )


def compact_boilerplate_ledger(spark, ledger_path: str) -> None:
    """Fold the boilerplate chunk-count ledger's per-batch partitions
    into one batch-0 partition (sinks.compact_batch_ledger; fold =
    the reader's own groupBy(digest).sum(inc), so the prior-count
    probe is identical before and after). The ledger is
    batch_id-partitioned (r10 — count addition is NOT idempotent, so
    exactly-once comes from the layout, the CMS discipline), which
    means this is the ADDITIVE fold: the folded-id marker + content
    digests guard post-fold replays. Bounds the ledger at
    distinct-chunk scale under continuous ingest. PRECONDITION:
    quiesce the stream first."""
    from chess_pipeline_spark.sinks import compact_batch_ledger

    compact_batch_ledger(spark, ledger_path, ["digest"], sum_cols=["inc"])


def stream_hll_distinct(events: DataFrame, registers_path: str, estimates_path: str):
    """Continuous distinct-user cardinality via the deterministic
    HyperLogLog of plans.profiling: each micro-batch folds its rows
    into a persisted per-(event_type, register) ledger (max-merge —
    associative, commutative, idempotent, so replayed batches cannot
    corrupt it), then snapshots the per-type estimate. Streaming twin
    of the hll_distinct_users batch query; because the merged
    register state is identical to what the batch query computes over
    the same rows, the final snapshot equals the batch answer
    EXACTLY (pytest asserts equality, not approximation).

    100 TB shape: per batch, one map-side-combined shuffle down to
    ≤ 256·|event_types| register rows; the ledger stays KB-sized
    forever (that is the point of the sketch — countDistinct state
    grows with users, register state does not). The ledger rewrite is
    driver-side-tiny by construction; an append-only band/bucket
    layout is unnecessary at any scale because the state is bounded.

    Each batch commits the merged registers with commit.replace_dir
    (HLL registers are NOT reconstructible from checkpoint replay of
    one batch, so the commit protocol's no-window invariant is what
    keeps the accumulated state): a batch replayed after a crash
    mid-swap max-merges into REAL state, never an empty one.
    """

    def _process(batch: DataFrame, batch_id: int) -> None:
        _hll_process_batch(batch, batch_id, registers_path, estimates_path)

    return events.writeStream.foreachBatch(_process)


# bounded-ledger helpers live in sinks.py; aliased here for the jobs
# that predate the move
from chess_pipeline_spark.functions.rounding import grid_cents
from chess_pipeline_spark.sinks import bak_swap_write as _bak_swap_write
from chess_pipeline_spark.sinks import read_bounded_ledger as _read_bounded_ledger


def _hll_process_batch(
    batch: DataFrame, batch_id: int, registers_path: str, estimates_path: str
) -> None:
    """One stream_hll_distinct micro-batch — module-level so the
    crash-window test can drive it without a running stream."""
    from chess_pipeline_spark.plans.profiling import (
        hll_estimate_col,
        hll_registers_for,
    )
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    spark = batch.sparkSession
    regs = hll_registers_for(
        batch.select(
            "event_type", F.md5(F.col("user_id").cast("string")).alias("h")
        )
    )
    prior = _read_bounded_ledger(
        spark, registers_path, "event_type string, reg int, m_j int"
    )
    merged = (
        regs.unionByName(prior.select("event_type", "reg", "m_j"))
        .groupBy("event_type", "reg")
        .agg(F.max("m_j").alias("m_j"))
    )
    # the register table is bounded (≤ 256 per type): collect and
    # rewrite — reading and overwriting the same parquet path in
    # one lazy plan is not safe, and a KB-scale driver hop is the
    # honest cost model at every scale.
    snap = _bak_swap_write(spark, merged, registers_path)
    est = (
        snap.groupBy("event_type")
        .agg(
            F.count("*").alias("regs_used"),
            F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("z_used"),
        )
        .select(
            "event_type",
            "regs_used",
            hll_estimate_col().alias("hll_estimate"),
            F.lit(batch_id).alias("batch_id"),
        )
    )
    # batch_id-keyed overwrite so a replayed batch rewrites its
    # own estimate row instead of appending a duplicate
    upsert_partition_overwrite(est, estimates_path, ["batch_id"])


def stream_cms_sketch(docs: DataFrame, ledger_path: str, snapshot_path: str):
    """Continuous Count-Min word-frequency sketch over a document
    stream: each micro-batch reduces to its own (row_i, bucket)
    counter grid via plans.profiling.cms_sketch_counters and lands in
    a ledger PARTITIONED BY batch_id with dynamic partition overwrite
    — counter addition is associative but NOT idempotent, so (like
    the value-histogram ledger and unlike the max-merge HLL ledger)
    exactly-once comes from the layout: a replayed batch rewrites
    exactly its own partition. The merged sketch = plain sum over the
    ledger; a per-batch snapshot records its summary.

    Streaming twin of the cms_heavy_hitters sketch: pytest asserts
    the replayed-merged counters equal the single-batch counters over
    the same documents EXACTLY (the sketch half; the exact-top-20
    half of the batch query needs exact counts and is inherently a
    batch report). 100 TB shape: per batch one map-side-combined
    shuffle down to <= 4x1024 counter rows; the ledger
    grows by KBs per batch and compacts with one groupBy.
    """
    def _process(batch: DataFrame, batch_id: int) -> None:
        _cms_process_batch(batch, batch_id, ledger_path, snapshot_path)

    return docs.writeStream.foreachBatch(_process)


def _cms_process_batch(
    batch: DataFrame, batch_id: int, ledger_path: str, snapshot_path: str
) -> None:
    """One stream_cms_sketch micro-batch — module-level so compaction
    and replay tests can drive it without a running stream."""
    from chess_pipeline_spark.plans.profiling import cms_sketch_counters
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    spark = batch.sparkSession
    words = batch.filter(F.col("text").isNotNull()).select(
        F.explode(F.split("text", " ")).alias("word")
    )
    counters = cms_sketch_counters(words).withColumn(
        "batch_id", F.lit(batch_id)
    )
    if not _refuse_folded_batch_id(
        ledger_path, batch_id, "stream_cms_sketch", frame=counters
    ):
        upsert_partition_overwrite(counters, ledger_path, ["batch_id"])
    merged = (
        spark.read.parquet(ledger_path)
        .groupBy("row_i", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    snap = merged.agg(
        F.count("*").cast("long").alias("buckets_used"),
        F.sum("cnt").cast("long").alias("total_count"),
        F.max("cnt").cast("long").alias("max_count"),
    ).withColumn("batch_id", F.lit(batch_id))
    # batch_id-partitioned overwrite, like the ledger: an
    # at-least-once replayed batch rewrites its own snapshot row
    # instead of appending a duplicate (r6 advice — plain append
    # made only the ledger exactly-once, not the snapshot)
    upsert_partition_overwrite(snap, snapshot_path, ["batch_id"])


def compact_cms_ledger(spark, ledger_path: str) -> None:
    """Fold the per-batch Count-Min counter partitions into one
    batch-0 grid (sinks.compact_batch_ledger; fold = the probe's own
    groupBy(row_i, bucket) sum(cnt), so merged counters are identical
    before and after). Bounds the ledger at grid scale (<= 4x1024
    rows) under continuous ingest."""
    from chess_pipeline_spark.sinks import compact_batch_ledger

    compact_batch_ledger(spark, ledger_path, ["row_i", "bucket"], sum_cols=["cnt"])


def stream_value_histogram(events: DataFrame, ledger_path: str, quantiles_path: str):
    """Continuous binned-quantile tracking: each micro-batch reduces
    to its (event_type, bin) counts and lands in a ledger PARTITIONED
    BY batch_id with dynamic partition overwrite — a replayed batch
    rewrites exactly its own partition, so the at-least-once
    foreachBatch contract still yields exactly-once COUNTS (contrast
    the HLL ledger, whose max-merge is idempotent by algebra and
    needs no partitioning; sums are not, so idempotency comes from
    the layout instead). The quantile snapshot then aggregates the
    whole ledger — counts sum-merge across batches because histogram
    addition is associative.

    Streaming twin of plans.profiling.value_quantiles_binned; the
    two-batch pytest asserts the final snapshot equals the batch
    query exactly. 100 TB shape: per batch one map-side-combined
    shuffle down to ≤ 1000·|types| rows; the ledger grows by KBs per
    batch and compaction is a groupBy away.
    """
    def _process(batch: DataFrame, batch_id: int) -> None:
        _value_hist_process_batch(batch, batch_id, ledger_path, quantiles_path)

    return events.writeStream.foreachBatch(_process)


def _value_hist_process_batch(
    batch: DataFrame, batch_id: int, ledger_path: str, quantiles_path: str
) -> None:
    """One stream_value_histogram micro-batch — module-level so
    compaction and replay tests can drive it without a running
    stream."""
    from chess_pipeline_spark.plans.profiling import _QBIN_N, _QBIN_W
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    spark = batch.sparkSession
    b = F.least(
        F.greatest(F.floor(F.col("value") / F.lit(_QBIN_W)), F.lit(0)),
        F.lit(_QBIN_N - 1),
    ).cast("long")
    hist = (
        batch.filter(F.col("value").isNotNull())
        .select("event_type", b.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("cnt"))
        .withColumn("batch_id", F.lit(batch_id))
    )
    if not _refuse_folded_batch_id(
        ledger_path, batch_id, "stream_value_histogram", frame=hist
    ):
        upsert_partition_overwrite(hist, ledger_path, ["batch_id"])

    from pyspark.sql import Window

    merged = (
        spark.read.parquet(ledger_path)
        .groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("event_type")
    cum = merged.select(
        "event_type",
        "bin",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wtot).alias("n"),
    )

    def edge(q: float):
        need = F.ceil(F.lit(q) * F.col("n"))
        return F.min(F.when(F.col("cum") >= need, F.col("bin"))) * F.lit(_QBIN_W)

    snap = cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        edge(0.5).alias("p50_binned"),
        edge(0.9).alias("p90_binned"),
        edge(0.99).alias("p99_binned"),
    ).withColumn("batch_id", F.lit(batch_id))
    # batch_id-keyed overwrite: replayed batches rewrite their own
    # snapshot partition rather than appending duplicates
    upsert_partition_overwrite(snap, quantiles_path, ["batch_id"])


def compact_histogram_ledger(spark, ledger_path: str) -> None:
    """Fold the per-batch (event_type, bin) count partitions into one
    batch-0 partition (sinks.compact_batch_ledger; fold = the probe's
    own groupBy(event_type, bin) sum(cnt)) — bounds the ledger at
    <= 1000·|types| rows under continuous ingest."""
    from chess_pipeline_spark.sinks import compact_batch_ledger

    compact_batch_ledger(
        spark, ledger_path, ["event_type", "bin"], sum_cols=["cnt"]
    )


def compact_pca_gram_ledger(spark, ledger_path: str) -> None:
    """Fold the per-batch PCA Gram cell partitions into one batch-0
    partition (sinks.compact_batch_ledger; fold = the probe's own
    groupBy(idx) sum(val)) — bounds the ledger at d²+d+1 rows."""
    from chess_pipeline_spark.sinks import compact_batch_ledger

    compact_batch_ledger(spark, ledger_path, ["idx"], sum_cols=["val"])


def _refuse_folded_batch_id(
    ledger_path: str, batch_id: int, job: str, frame: DataFrame | None = None
) -> bool:
    """commit.guard_ingest for the additive batch-partition ledgers,
    whose compaction records a content digest per folded batch: True
    (skip the write) for the legitimate at-least-once replay of a
    folded batch with IDENTICAL rows — ``frame``, batch_id column
    ignored. Any other folded id raises, since ledger addition is not
    idempotent and a reused id would double-count. Ledgers whose
    recomputed rows aren't bit-deterministic (float sums) may fail the
    digest compare on a legitimate replay; that degrades to the raise,
    never to a silent double-count."""
    from chess_pipeline_spark.sinks import ledger_content_digest

    digest = None
    if frame is not None:
        cols = [c for c in frame.columns if c != "batch_id"]
        digest = lambda: ledger_content_digest(frame, cols)  # noqa: E731
    return commit.guard_ingest(ledger_path, batch_id, job, digest)


def stream_bloom_filter(events: DataFrame, registers_path: str, snapshot_path: str):
    """Continuous Bloom membership filter over a user-id stream: each
    micro-batch folds its distinct keys into the persisted
    (word, bits) register ledger by OR-merge. bit_or is associative,
    commutative, AND idempotent — the HLL max-merge property in bit
    algebra — so an at-least-once replayed batch cannot corrupt the
    ledger; exactly-once needs no partition layout here, only the
    bak-swap rewrite. Streaming twin of bloom_join_prune's bitmap:
    pytest asserts the replay-merged registers are BIT-IDENTICAL to
    the batch bitmap over the same keys, so a serving layer can probe
    the streamed ledger with the exact semantics of the batch filter
    (no false negatives ever, fp rate set by fill).

    100 TB shape: per batch one map-side-combined shuffle down to
    <= 128 register rows; the ledger is KB-sized forever. The
    snapshot records per-batch fill (bits_set) so operators can see
    saturation — a Bloom past its design fill lies more, and the
    fix (a wider rebuild) is a batch job, not a ledger mutation.
    """

    def _process(batch: DataFrame, batch_id: int) -> None:
        _bloom_process_batch(batch, batch_id, registers_path, snapshot_path)

    return events.writeStream.foreachBatch(_process)


def _bloom_process_batch(
    batch: DataFrame, batch_id: int, registers_path: str, snapshot_path: str
) -> None:
    """One stream_bloom_filter micro-batch — module-level so the
    crash-window test can drive it without a running stream."""
    from chess_pipeline_spark.plans.profiling import bloom_bitmap
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    spark = batch.sparkSession
    regs = bloom_bitmap(
        batch.select(F.col("user_id").cast("string").alias("k")).distinct()
    )
    prior = _read_bounded_ledger(spark, registers_path, "word long, bits long")
    merged = (
        regs.unionByName(prior.select("word", "bits"))
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )
    snap = _bak_swap_write(spark, merged, registers_path)
    summary = snap.agg(
        F.sum(F.expr("bit_count(bits)")).cast("long").alias("bits_set"),
        F.count("*").cast("long").alias("words_used"),
    ).withColumn("batch_id", F.lit(batch_id))
    # batch_id-keyed overwrite: replayed batches rewrite their own
    # snapshot row rather than appending a duplicate
    upsert_partition_overwrite(summary, snapshot_path, ["batch_id"])


def stream_pca_gram(embs: DataFrame, ledger_path: str, snapshot_path: str):
    """Continuous PCA state over an embedding stream: each micro-batch
    folds its vectors into the mergeable integer Gram cell frame
    (plans.llm.pca_cells — d² outer-product cells + d sums + count)
    and lands it in a batch_id-PARTITIONED ledger with dynamic
    partition overwrite. Cell addition is associative/commutative but
    NOT idempotent, so (like the Count-Min ledger and unlike the
    max/OR ledgers) exactly-once comes from the layout: a replayed
    batch rewrites exactly its own partition. The merged state —
    plain SUM over the ledger — is BYTE-IDENTICAL to the batch cells
    over the same rows (exact integer algebra, pytest-asserted), so
    `pca_cells_to_one` + `pca_iterate` over the ledger reproduce the
    batch pca_top_component output EXACTLY: incremental PCA without
    ever rescanning history.

    100 TB shape: per batch one map-side-combined shuffle down to
    ≤ d²+d+1 cell rows; the ledger grows ~33 KB per batch and
    compacts with one groupBy; the expensive iterate runs on demand
    against the merged 1-row frame, not per arriving batch.
    """

    def _process(batch: DataFrame, batch_id: int) -> None:
        _pca_gram_process_batch(batch, batch_id, ledger_path, snapshot_path)

    return embs.writeStream.foreachBatch(_process)


def _pca_gram_process_batch(
    batch: DataFrame, batch_id: int, ledger_path: str, snapshot_path: str
) -> None:
    """One stream_pca_gram micro-batch — module-level so replay tests
    can drive it without a running stream."""
    from chess_pipeline_spark.plans.llm import _PCA_D, pca_cells
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    cells = pca_cells(batch).withColumn("batch_id", F.lit(batch_id))
    if not _refuse_folded_batch_id(
        ledger_path, batch_id, "stream_pca_gram", frame=cells
    ):
        upsert_partition_overwrite(cells, ledger_path, ["batch_id"])
    spark = batch.sparkSession
    merged = (
        spark.read.parquet(ledger_path).groupBy("idx").agg(F.sum("val").alias("val"))
    )
    summary = merged.agg(
        F.max(
            F.when(F.col("idx") == _PCA_D * _PCA_D + _PCA_D, F.col("val"))
        ).alias("n_vecs"),
        F.count("*").cast("long").alias("cells"),
    ).withColumn("batch_id", F.lit(batch_id))
    # batch_id-keyed overwrite: replayed batches rewrite their own
    # snapshot row rather than appending a duplicate
    upsert_partition_overwrite(summary, snapshot_path, ["batch_id"])


def stream_weighted_sample(docs: DataFrame, sample_path: str, snapshot_path: str):
    """Continuous Efraimidis–Spirakis weighted sample over a document
    stream: the persisted state IS the current top-k sample (k rows,
    the minimum possible state for exact sampling-without-replacement
    over everything seen). Each micro-batch scores its documents with
    the deterministic ES key (plans.corpus.es_scored — priority
    depends only on the document) and folds top_k(prior ∪ batch).
    Because top-k over a fixed key is an idempotent, mergeable fold
    (top_k(A ∪ B) = top_k(top_k(A) ∪ B)), an at-least-once replayed
    batch re-contributes identical rows and changes nothing; the
    bak-swap rewrite provides the crash-safe state replacement.
    After any prefix of batches the ledger EQUALS the batch
    weighted_sample_es over the same documents (pytest-asserted).

    100 TB shape: per batch one scan-stage scoring projection + a
    TakeOrdered k-row reduce; state is k rows forever.
    """

    def _process(batch: DataFrame, batch_id: int) -> None:
        _es_sample_process_batch(batch, batch_id, sample_path, snapshot_path)

    return docs.writeStream.foreachBatch(_process)


def _es_sample_process_batch(
    batch: DataFrame, batch_id: int, sample_path: str, snapshot_path: str
) -> None:
    """One stream_weighted_sample micro-batch — module-level so
    replay tests can drive it without a running stream."""
    from chess_pipeline_spark.plans.corpus import es_scored, es_top_k
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    spark = batch.sparkSession
    scored = es_scored(batch)
    prior = _read_bounded_ledger(
        spark,
        sample_path,
        "doc_id long, source string, weight long, priority_micro long",
    )
    # SET union, not multiset: a replayed batch re-contributes rows
    # already in the ledger, and limit(k) over duplicates would evict
    # genuine tail members — distinct() restores the idempotent
    # top_k(A ∪ B) algebra (rows for the same doc are identical, so
    # exact dedup suffices)
    merged = es_top_k(scored.unionByName(prior).distinct())
    snap = _bak_swap_write(spark, merged, sample_path)
    summary = snap.agg(
        F.count("*").cast("long").alias("sample_size"),
        F.min("priority_micro").alias("cut_priority_micro"),
        F.sum("weight").cast("long").alias("sample_weight"),
    ).withColumn("batch_id", F.lit(batch_id))
    upsert_partition_overwrite(summary, snapshot_path, ["batch_id"])


def stream_negative_reps(docs: DataFrame, reps_path: str, snapshot_path: str):
    """Continuous maintenance of the contrastive-negative candidate
    frame: the persisted state is the per-bucket two lowest-tiebreak
    representatives (plans.corpus.neg_rep_rows — ≤ 2 rows per bucket
    forever, the minimum state that lets negative_sample_pairs serve
    its anchor→bucket lookups over everything seen). Each micro-batch
    hashes its documents with the deterministic bucket/tiebreak keys
    and folds reps(prior ∪ batch). Because per-bucket top-2 over a
    fixed key is an idempotent mergeable fold (reps(A ∪ B) =
    reps(reps(A) ∪ B)), an at-least-once replayed batch
    re-contributes identical rows and changes nothing; bak-swap
    provides the crash-safe state replacement. After any prefix of
    batches the ledger EQUALS the batch neg_rep_rows over the same
    documents (pytest-asserted).

    100 TB shape: per batch one scan-stage hashing projection + one
    bucket-keyed rank over (prior ∪ batch) — prior is 2B rows, batch
    contributes its own docs once; state never grows past 2 rows per
    bucket.
    """

    def _process(batch: DataFrame, batch_id: int) -> None:
        _neg_reps_process_batch(batch, batch_id, reps_path, snapshot_path)

    return docs.writeStream.foreachBatch(_process)


def _neg_reps_process_batch(
    batch: DataFrame, batch_id: int, reps_path: str, snapshot_path: str
) -> None:
    """One stream_negative_reps micro-batch — module-level so replay
    tests can drive it without a running stream."""
    from chess_pipeline_spark.plans.corpus import neg_rep_rows, neg_scored
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    spark = batch.sparkSession
    scored = neg_scored(batch.select("doc_id"))
    prior = _read_bounded_ledger(
        spark, reps_path, "doc_id long, bucket int, tb int"
    )
    # SET union (replay re-contributes identical rows; duplicates
    # inside a bucket would otherwise occupy both rep slots)
    merged = neg_rep_rows(scored.unionByName(prior).distinct())
    snap = _bak_swap_write(spark, merged, reps_path)
    summary = snap.agg(
        F.count("*").cast("long").alias("n_reps"),
        F.countDistinct("bucket").cast("long").alias("n_buckets"),
        F.min("tb").cast("long").alias("min_tb"),
    ).withColumn("batch_id", F.lit(batch_id))
    upsert_partition_overwrite(summary, snapshot_path, ["batch_id"])


def stream_split_ledger(docs: DataFrame, ledger_path: str, assignments_path: str):
    """Continuous leakage-safe split assignment: the persisted state
    maps each exact-dup digest to the split its group was given the
    FIRST time any member arrived. New digests are assigned by the
    same md5 permille gate as plans.corpus.split_assign (keyed on the
    batch's min doc_id for the digest); digests already in the ledger
    keep their assignment forever — FIRST-SEEN-WINS, the production
    stability contract (a late-arriving copy with a smaller doc_id
    must NOT flip its group's split and silently move training rows
    into test). This is the one deliberate divergence from the batch
    leakage_safe_split, whose rep is the GLOBAL min doc_id; the
    replay test pins both the stability law and the divergence case.

    Exactly-once: a replayed batch's digests are already in the
    ledger, so the anti-join contributes nothing and the ledger is
    byte-stable; per-batch assignments are (batch_id)-partition
    overwrites. State is one row per distinct digest (the same
    unbounded-but-minimal footprint as the ingestion dedup index);
    bak-swap covers the crash window.
    """

    def _process(batch: DataFrame, batch_id: int) -> None:
        _split_ledger_process_batch(batch, batch_id, ledger_path, assignments_path)

    return docs.writeStream.foreachBatch(_process)


def _split_ledger_process_batch(
    batch: DataFrame, batch_id: int, ledger_path: str, assignments_path: str
) -> None:
    """One stream_split_ledger micro-batch — module-level so replay
    tests can drive it without a running stream."""
    from chess_pipeline_spark.plans.corpus import (
        _SPLIT_GATE,
        _SPLIT_TRAIN_PERMILLE,
        _SPLIT_VALID_PERMILLE,
    )
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    spark = batch.sparkSession
    scored = batch.select("doc_id", F.md5("text").alias("dg"))
    prior = _read_bounded_ledger(
        spark, ledger_path, "dg string, group_rep long, split string"
    )
    fresh = (
        scored.groupBy("dg")
        .agg(F.min("doc_id").cast("long").alias("group_rep"))
        .join(prior.select("dg"), "dg", "left_anti")
        .withColumn("gate", F.expr(_SPLIT_GATE))
        .select(
            "dg",
            "group_rep",
            F.when(F.col("gate") < _SPLIT_TRAIN_PERMILLE, F.lit("train"))
            .when(F.col("gate") < _SPLIT_VALID_PERMILLE, F.lit("valid"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )
    merged = prior.unionByName(fresh)
    # DISTRIBUTED swap (r10): the split ledger holds one row per
    # distinct digest ever seen — corpus-scale, unlike the bounded
    # register ledgers — so collecting it to the driver per batch
    # (the old _bak_swap_write) is a 100 TB scale-killer: the merged
    # frame writes straight to the tmp dir as a parquet job.
    commit.replace_dir(
        ledger_path, lambda tmp: merged.write.mode("overwrite").parquet(tmp)
    )
    snap = spark.read.parquet(ledger_path)
    assignments = (
        scored.join(snap, "dg")
        .select("doc_id", "group_rep", "split")
        .withColumn("batch_id", F.lit(batch_id))
    )
    upsert_partition_overwrite(assignments, assignments_path, ["batch_id"])


def stream_text_index_ingest(docs: DataFrame, index_path: str):
    """Continuous inverted-index maintenance: every micro-batch of
    documents folds into the persisted BM25 index through
    text_index.ingest_text_delta, whose (batch_id, bucket)-partition
    overwrite makes an at-least-once replayed batch rewrite identical
    bytes — exactly-once by layout, the Count-Min ledger discipline
    applied to a serving index. probe_bm25 over the streamed index
    equals the batch build over the same documents bit-for-bit
    (pytest). Per batch: one tokenize pass + one map-side-combined
    (term, doc) shuffle + the partition write; no global state is
    rewritten (stats are per-batch rows summed at probe time)."""
    from chess_pipeline_spark.text_index import ingest_text_delta

    def _process(batch: DataFrame, batch_id: int) -> None:
        ingest_text_delta(batch, index_path, batch_id)

    return docs.writeStream.foreachBatch(_process)


# ------------------------------------------------------------------
# Streaming dup-gram ledger: incremental duplication-exposure df
# ------------------------------------------------------------------


def ingest_dupgram_delta(
    batch: DataFrame, ledger_dir: str, batch_id: int
) -> None:
    """Fold one document delta into the persisted gram-df ledger:
    rows (gd = xxhash64 of the word 5-gram, df = docs in THIS batch
    containing it) land under their batch_id partition via dynamic
    partition overwrite. df addition is associative+commutative but
    NOT idempotent, so exactly-once comes from layout (the Count-Min
    / text-index discipline): an at-least-once replayed batch
    rewrites exactly its own partition with identical bytes. The
    ledger is gram-VOCAB scale (digests only — gram text never
    persists and never shuffles), the incremental-maintenance
    posture dup_ngram_fraction needs at 100 TB where re-scanning the
    corpus to refresh df after every crawl batch is off the table."""
    from chess_pipeline_spark.plans.corpus import word_gram_postings
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    delta = (
        word_gram_postings(batch)
        .select(F.xxhash64("g").alias("gd"))
        .groupBy("gd")
        .agg(F.count("*").cast("long").alias("df"))
        .withColumn("batch_id", F.lit(batch_id))
    )
    if _refuse_folded_batch_id(
        ledger_dir, batch_id, "ingest_dupgram_delta", frame=delta
    ):
        return
    upsert_partition_overwrite(delta, ledger_dir, ["batch_id"])


def compact_dupgram_ledger(spark, ledger_dir: str) -> None:
    """Fold the per-batch gram-df partitions into one batch-0
    partition (sinks.compact_batch_ledger): the ledger's probe
    (dup_exposure_from_ledger) sums df across batches, so the fold is
    probe-invariant by construction; under continuous crawl ingest it
    bounds the small-files count at vocab scale. Crash-idempotent via
    the shared `_folded_batches.json` marker; ingest_dupgram_delta
    refuses folded ids (a replay after the fold would double-count —
    ledger addition is not idempotent)."""
    from chess_pipeline_spark.sinks import compact_batch_ledger

    compact_batch_ledger(spark, ledger_dir, ["gd"], sum_cols=["df"])


def stream_dupgram_ledger(docs: DataFrame, ledger_dir: str):
    """Continuous duplication-exposure maintenance: each micro-batch
    of documents folds its per-batch gram document frequencies into
    the ledger (ingest_dupgram_delta). dup_exposure_from_ledger over
    the streamed ledger equals the batch dup_ngram_fraction over the
    same documents byte-for-byte (pytest law, duplicate delivery
    included)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        ingest_dupgram_delta(batch, ledger_dir, batch_id)

    return docs.writeStream.foreachBatch(_process)


def ingest_spangram_delta(
    batch: DataFrame, ledger_dir: str, batch_id: int
) -> None:
    """Fold one document delta into the persisted POSITIONAL-gram
    occurrence ledger: rows (gd = xxhash64 of the 10-word positional
    gram, cnt = occurrences in THIS batch — occurrences, not distinct
    docs: an internal loop is repetition too, the exact_substring
    semantics) land under their batch_id partition via dynamic
    partition overwrite. Occurrence addition is associative and
    commutative but NOT idempotent, so exactly-once comes from layout
    (the dup-gram / Count-Min / text-index discipline): a replayed
    batch rewrites exactly its own partition with identical bytes.
    The ledger is gram-vocab scale (digests only — gram text never
    persists and never shuffles): the incremental-maintenance posture
    ExactSubstr needs at 100 TB, where re-scanning the corpus to
    refresh occurrence counts after every crawl batch is off the
    table."""
    from chess_pipeline_spark.plans.corpus import span_positions
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    delta = (
        span_positions(batch)
        .groupBy("gd")
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn("batch_id", F.lit(batch_id))
    )
    if _refuse_folded_batch_id(
        ledger_dir, batch_id, "ingest_spangram_delta", frame=delta
    ):
        return
    upsert_partition_overwrite(delta, ledger_dir, ["batch_id"])


def compact_spangram_ledger(spark, ledger_dir: str) -> None:
    """Fold the per-batch occurrence partitions into one batch-0
    partition: the probe (spans_from_ledger) sums cnt across batches,
    so the fold is probe-invariant by construction. Crash-idempotent
    via the shared `_folded_batches.json` marker; ingest refuses
    folded ids (occurrence addition is not idempotent)."""
    from chess_pipeline_spark.sinks import compact_batch_ledger

    compact_batch_ledger(spark, ledger_dir, ["gd"], sum_cols=["cnt"])


def stream_spangram_ledger(docs: DataFrame, ledger_dir: str):
    """Continuous ExactSubstr planning-state maintenance: each
    micro-batch folds its positional-gram occurrence counts into the
    ledger. spans_from_ledger over the streamed ledger equals the
    batch exact_substring_spans over the same documents byte-for-byte
    (pytest law, duplicate delivery included)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        ingest_spangram_delta(batch, ledger_dir, batch_id)

    return docs.writeStream.foreachBatch(_process)


def spans_from_ledger(spark, ledger_dir: str, docs: DataFrame) -> DataFrame:
    """Serve per-doc repeated-span rollups from the persisted ledger:
    re-derive the probe docs' positional gram digests (same
    span_positions rule as ingest), flag positions whose gram's
    batch-summed occurrence count is >= 2, and run the shared island
    merge + rollup — identical output schema and values to
    exact_substring_spans when the ledger has ingested the same
    corpus (2^-64 digest collisions are the documented approximation;
    a collision can only merge two grams and nudge spans upward).
    The join is digest-keyed; gram text never leaves the probe scan.
    At real scale the probe side (one new batch) is small against the
    vocab-scale ledger, and the repeated-digest set after the >= 2
    filter is the natural broadcast candidate."""
    from chess_pipeline_spark.plans.corpus import (
        _SPANGRAM_N,
        merge_span_islands,
        span_positions,
        span_rollup,
    )

    pos = span_positions(docs).localCheckpoint(eager=False)
    led = (
        spark.read.parquet(ledger_dir)
        .groupBy("gd")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("gd")
    )
    repeated = pos.join(led, "gd", "left_semi").select("doc_id", "i")
    doc_words = pos.groupBy("doc_id").agg(
        (F.max("i") + _SPANGRAM_N - 1).cast("long").alias("n_words")
    )
    return span_rollup(doc_words, merge_span_islands(repeated))


def dup_exposure_from_ledger(
    spark, ledger_dir: str, docs: DataFrame
) -> DataFrame:
    """Serve per-doc duplication exposure from the persisted ledger:
    re-derive the probe docs' gram digests (same word_gram_postings
    rule as ingest), join the batch-summed df, and run the shared
    exposure_fold — identical output schema and values to
    dup_ngram_fraction when the ledger has ingested the same corpus
    (64-bit digest collisions are the documented approximation; none
    exist at test scale and a collision can only nudge df upward).
    The join is digest-keyed — gram strings never leave the probe
    side's scan stage."""
    from chess_pipeline_spark.plans.corpus import exposure_fold, word_gram_postings

    led = (
        spark.read.parquet(ledger_dir)
        .groupBy("gd")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    grams = word_gram_postings(docs).withColumn("gd", F.xxhash64("g"))
    return exposure_fold(grams.join(led, "gd"))


# ------------------------------------------------------------------
# DSIR bucket-count ledger (streaming twin of dsir_importance_weights)
# ------------------------------------------------------------------


def _dsir_check_or_stamp_target(ledger_dir: str, target_source: str) -> None:
    """Pin the ledger's target domain in a `_target.json` sidecar
    (the simhash `_format.json` pattern): DSIR's p-model is defined
    by WHICH source is the target, so counts ingested under one
    target silently mean something different under another. A fresh
    ledger is stamped; a mismatch refuses with a rebuild message."""
    import os

    stamp = os.path.join(ledger_dir, "_target.json")
    stored = commit.read_json(stamp)
    if stored is None:
        os.makedirs(ledger_dir, exist_ok=True)
        commit.write_json(stamp, {"target_source": target_source})
    elif stored.get("target_source") != target_source:
        raise ValueError(
            f"DSIR ledger at {ledger_dir} was ingested with target "
            f"{stored.get('target_source')!r} but this ingest/serve uses "
            f"{target_source!r} — rebuild the ledger (delete the "
            "directory and replay the stream)"
        )


def ingest_dsir_delta(
    batch: DataFrame, ledger_dir: str, batch_id: int, target_source: str
) -> None:
    """Fold one document delta into the persisted DSIR bucket-count
    ledger: rows (b, cp = target-domain gram occurrences in THIS
    batch, cq = all gram occurrences) land under their batch_id
    partition via dynamic partition overwrite — the dup-gram ledger
    discipline exactly (addition is associative+commutative but not
    idempotent; a replayed batch rewrites its own partition with
    identical bytes). Unlike the batch query's data-derived
    min(source) target, the streaming target is PINNED explicitly
    (and stamped into the ledger): a later batch introducing a
    lexicographically-smaller source must not retroactively redefine
    the p-model the accumulated counts were folded under. The ledger
    is <= _DSIR_B rows per batch — model-scale, not corpus-scale."""
    from chess_pipeline_spark.plans.corpus import _dsir_gram_buckets
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    # recover BEFORE stamping (r12 ADVICE): the stamp helper creates
    # the live directory for a fresh ledger, which would shadow a
    # crashed compaction's .bak and fork the ledger
    commit.recover(ledger_dir)
    _dsir_check_or_stamp_target(ledger_dir, target_source)
    delta = (
        _dsir_gram_buckets(batch.select("doc_id", "source", "text"))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("source") == target_source, 1).otherwise(0))
            .cast("long")
            .alias("cp"),
            F.count("*").cast("long").alias("cq"),
        )
        .withColumn("batch_id", F.lit(batch_id))
    )
    if _refuse_folded_batch_id(
        ledger_dir, batch_id, "ingest_dsir_delta", frame=delta
    ):
        return
    upsert_partition_overwrite(delta, ledger_dir, ["batch_id"])


def compact_dsir_ledger(spark, ledger_dir: str) -> None:
    """Fold the per-batch bucket-count partitions into one batch-0
    partition; the serve path sums (cp, cq) across batches, so the
    fold is probe-invariant by construction. Crash-idempotent via the
    shared `_folded_batches.json` marker; ingest refuses folded ids."""
    from chess_pipeline_spark.sinks import compact_batch_ledger

    compact_batch_ledger(spark, ledger_dir, ["b"], sum_cols=["cp", "cq"])


def stream_dsir_ledger(docs: DataFrame, ledger_dir: str, target_source: str):
    """Continuous DSIR model maintenance: each micro-batch folds its
    hashed-ngram bucket counts into the ledger.
    dsir_from_ledger over the streamed ledger equals the batch
    dsir_importance_weights over the same documents byte-for-byte
    when the pinned target equals the corpus min(source) (pytest
    law, duplicate delivery included)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        ingest_dsir_delta(batch, ledger_dir, batch_id, target_source)

    return docs.writeStream.foreachBatch(_process)


def dsir_from_ledger(spark, ledger_dir: str, docs: DataFrame) -> DataFrame:
    """Serve per-doc DSIR importance log-weights from the persisted
    ledger: sum the bucket counts across batches, derive the
    micro-nat log-ratios with the SAME add-1/B smoothing as the batch
    query, re-derive the probe docs' gram buckets, and roll up —
    identical output schema and values to dsir_importance_weights
    when the ledger has ingested the same corpus and the pinned
    target is that corpus' min(source). The model join is
    bucket-keyed (exactly _DSIR_B broadcast rows: the count frame is
    DENSIFIED over the full bucket grid, so a probe gram whose bucket
    never appeared in any ingested batch scores the smoothed
    zero-count ratio ln(1/(np+B)) - ln(1/(nq+B)) instead of silently
    vanishing from both n_grams and the weight sum — r12 ADVICE; the
    serve path's point is scoring docs the model never saw); gram
    text never leaves the probe scan."""
    import os

    from chess_pipeline_spark.plans.corpus import _DSIR_B, _dsir_gram_buckets

    # the ledger and its _target.json are read wherever a crashed
    # compaction left them (commit.readable)
    ledger_dir = commit.readable(ledger_dir)
    target_source = commit.read_json(os.path.join(ledger_dir, "_target.json"))[
        "target_source"
    ]

    grid = spark.range(_DSIR_B).select(F.col("id").cast("long").alias("b"))
    counts = (
        grid.join(
            spark.read.parquet(ledger_dir)
            .groupBy("b")
            .agg(
                F.sum("cp").cast("long").alias("s_cp"),
                F.sum("cq").cast("long").alias("s_cq"),
            ),
            "b",
            "left",
        ).select(
            "b",
            F.coalesce("s_cp", F.lit(0)).cast("long").alias("cp"),
            F.coalesce("s_cq", F.lit(0)).cast("long").alias("cq"),
        )
    )
    tot = counts.agg(
        F.sum("cp").cast("long").alias("np"),
        F.sum("cq").cast("long").alias("nq"),
    )
    lr = counts.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(
            (
                F.log(
                    (F.col("cp") + 1).cast("double")
                    / (F.col("np") + _DSIR_B).cast("double")
                )
                - F.log(
                    (F.col("cq") + 1).cast("double")
                    / (F.col("nq") + _DSIR_B).cast("double")
                )
            )
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lr_unats"),
    )
    posts = _dsir_gram_buckets(docs.select("doc_id", "source", "text"))
    return (
        posts.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("lr_unats").cast("long").alias("logweight_unats"),
        )
        .select(
            "doc_id",
            "source",
            (F.col("source") == target_source).alias("is_target"),
            "n_grams",
            "logweight_unats",
        )
    )
