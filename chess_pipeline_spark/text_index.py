"""Persisted inverted text index: build-once postings, bucket-pruned
BM25 serving — the text-retrieval sibling of ann_index.py.

The catalog's `bm25_doc_search` scores straight off the corpus (the
right shape for a one-off analytical query); a SERVING workload asks
the same query shape thousands of times, where rescanning 100 TB per
query is absurd. The index trades one corpus-scale build for
per-query work proportional to the query terms' posting lists:

  build  — tokenize once, aggregate (term, doc_id) -> tf alongside
           per-doc length, write postings PARTITIONED BY (batch_id,
           term-hash bucket), plus a doc-lengths table and per-batch
           stats rows (n_docs, total_len — the BM25 globals);
  probe  — read ONLY the buckets the query terms hash to (dynamic
           partition pruning does the directory-level skip;
           plan-asserted), filter to the exact terms, join the tiny
           per-term df/idf frame broadcast, score, top-k.

Scoring is expression-for-expression the catalog query's (same
fround grid, same idf/tf_norm forms), so `probe_bm25` over the
persisted index returns BIT-IDENTICAL rows to `bm25_doc_search` —
pytest-asserted, which is the index's correctness contract.

Incremental ingest mirrors the streaming-ledger discipline and is
EXACTLY-ONCE under at-least-once delivery: every table is
partitioned by batch_id (postings additionally by bucket), and an
ingest overwrites precisely its own batch partitions
(sinks.upsert_partition_overwrite), so a replayed batch rewrites
identical bytes instead of appending duplicates. Stats rows are
per-batch and summed at probe time (<= #batches rows); df/idf are
NOT stored — they are query-time aggregates of the probed
postings — so ingest never rewrites global state at all.

100 TB shape: the build is one tokenize pass + one map-side-combined
(term, doc) shuffle + the partitioned write; probe reads
|query-term buckets| / n_buckets of the postings and shuffles only
matched rows; stats are 1 row. Reference scope anchor: the reference
engine has no serving index at all — this is north-star extension
surface, same tier as the IVFADC index.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from chess_pipeline_spark import commit
from chess_pipeline_spark.functions.rounding import fround, grid_sum
from chess_pipeline_spark.sinks import upsert_partition_overwrite

_TI_BUCKETS = 16
_HEX = "0123456789abcdef"
_K1 = 1.2  # = plans.corpus._BM25_K1 (kept literal: this module must
_B = 0.75  # not import the plans tier; parity is pytest-enforced)



# On-disk format identity (r12, the simhash/_IVF_FORMAT discipline):
# postings only mean something under the tokenizer, bucket hash, and
# BM25 parameters that wrote them. Any change here MUST change this
# string; build stamps, ingest/probe refuse a mismatch or an
# unstamped index.
_TI_FORMAT = f"bm25-k1{_K1}-b{_B}-wsplit-md5hexb{_TI_BUCKETS}"


def _bucket_col(term):
    """term -> 0..{_TI_BUCKETS-1}: first hex digit of md5 % buckets —
    the same engine-portable hex parse as the sketch tier."""
    d0 = F.instr(F.lit(_HEX), F.substring(F.md5(term), 1, 1)) - 1
    return (d0 % _TI_BUCKETS).cast("long")


def _paths(index_path: str) -> tuple[str, str, str]:
    return (
        os.path.join(index_path, "postings"),
        os.path.join(index_path, "doclens"),
        os.path.join(index_path, "stats"),
    )


def _tokenized(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings rows, doc lengths) from a documents frame — length
    semantics identical to bm25_doc_search (size of the raw split,
    empty tokens counted).

    r14 note (guide §1.6): spread()-ing the filtered docs here — the
    under-split guard that won 0.36x on the IVF build — measured
    1.75x/2.1x SLOWER on build/ingest in an interleaved A/B: BOTH
    consumers (postings and lens) re-execute the repartition, so the
    narrow shuffle is paid twice and costs more than the single-core
    tokenize it parallelizes (the catalog query already spreads its
    corpus ONCE, upstream, which is the right place). Kept unspread.

    r14 third pass (guide §2.4): per-doc term frequencies are a pure
    function of the doc's own token array, so the postings aggregate
    is computed ROW-LOCALLY as run lengths over the sorted array —
    the explode -> groupBy(term, doc_id) form paid a corpus-scale
    hash exchange of the postings rows for an aggregation whose keys
    never cross documents (bm25_doc_search learned the same lesson
    for its 3 fixed query terms; this is the full-vocabulary form).
    Plan: 1 Exchange -> 0 on the postings branch
    (plans/r14/bm25_tokenized_postings_{before,after}.txt);
    interleaved A/B min-of-5 at sf0.1: build 0.97x / ingest 0.91x
    medians, probe rows bit-identical. Each intermediate array is
    materialized as a COLUMN before a lambda indexes it (the minhash
    lesson: a captured expression inside a lambda re-evaluates per
    element — the un-materialized draft of this form measured 293 s
    per build, O(n^2 log n) per doc). A spread() on this branch
    alone re-measured 2.0x SLOWER (the narrow shuffle again), so the
    row-local form runs in the scan partitioning."""
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.split("text", " ").alias("toks"),
    )
    lens = base.select(
        "doc_id", F.size("toks").cast("long").alias("len_d")
    )
    # sorted-run-length entries: bounds = 1-based end position of each
    # run of equal tokens in the sorted array; tf = distance to the
    # previous bound. explode drops size-0 arrays in the groupBy form,
    # so keep that guard (split() never yields an empty array, but the
    # equivalence should not rest on that)
    st_df = base.filter(F.size("toks") > 0).select(
        "doc_id", F.array_sort("toks").alias("st")
    )
    n = F.size("st")
    changes = F.when(
        n > F.lit(1),
        F.filter(
            F.sequence(F.lit(1), n - F.lit(1)),
            lambda j: F.get(F.col("st"), j - F.lit(1))
            != F.get(F.col("st"), j),
        ),
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    b_df = st_df.select(
        "doc_id", "st", F.concat(changes, F.array(n)).alias("bounds")
    )
    entries = F.transform(
        F.col("bounds"),
        lambda b, i: F.struct(
            F.get(F.col("st"), b - F.lit(1)).alias("term"),
            (b - F.coalesce(F.get(F.col("bounds"), i - F.lit(1)), F.lit(0)))
            .cast("long")
            .alias("tf"),
        ),
    )
    postings = (
        b_df.select("doc_id", F.explode(entries).alias("e"))
        .select(
            F.col("e.term").alias("term"),
            "doc_id",
            F.col("e.tf").alias("tf"),
        )
        .withColumn("bucket", _bucket_col(F.col("term")))
    )
    return postings, lens


def build_text_index(docs: DataFrame, index_path: str) -> None:
    """Tokenize once and write the full index as batch 0 (overwriting
    any prior index). Identical layout to ingest, so a full build IS
    an ingest of everything — one write path, no special cases.

    Batch 0 is RESERVED at build time: the build writes the
    `_folded_batches.json` marker containing [0], so a stream started
    against a fresh checkpoint (engine epochs begin at 0) raises the
    folded-id error instead of dynamic-partition-overwriting the
    base's batch-0 postings/doclens/stats — the same silent-loss
    hazard class compact_text_index guards, which previously only
    armed after the FIRST compaction."""
    import shutil

    shutil.rmtree(index_path, ignore_errors=True)
    from chess_pipeline_spark.sinks import stamp_format

    stamp_format(index_path, _TI_FORMAT)
    ingest_text_delta(docs, index_path, batch_id=0)
    postings_p, _, _ = _paths(index_path)
    commit.write_json(os.path.join(postings_p, commit.FOLDED), [0])


def ingest_text_delta(
    delta_docs: DataFrame, index_path: str, batch_id: int
) -> None:
    """Fold a document delta into the index, exactly-once: postings
    land under (batch_id, bucket) partitions, doc lengths and the
    per-batch stats row under batch_id, each via dynamic partition
    overwrite — an at-least-once replayed batch rewrites exactly its
    own partitions. New docs only ADD rows (no existing row changes),
    so the probe-side semantics are unchanged by when a doc arrived.
    Callers must not assign two different deltas the same batch_id
    (the streaming wrapper gets this from the engine's epoch); ids
    folded or mid-fold into batch 0 by compact_text_index raise loudly
    (commit.guard_ingest) — a dynamic overwrite of a folded partition
    would REPLACE merged base rows, the same silent-loss hazard the
    IVF sibling guards (ann_index.ingest_ivf_batch)."""
    from chess_pipeline_spark.sinks import check_or_stamp_format

    # ingest semantics: a stream may legitimately build the index
    # from scratch, so a fresh/empty directory gets stamped on first
    # contact; a stamped mismatch or an unstamped PRE-EXISTING index
    # refuses (check_or_stamp_format docstring)
    check_or_stamp_format(index_path, _TI_FORMAT, "BM25 text index")

    postings_p, doclens_p, stats_p = _paths(index_path)
    for p in (doclens_p, stats_p):
        commit.recover(p)
    commit.guard_ingest(postings_p, batch_id, "ingest_text_delta")
    postings, lens = _tokenized(delta_docs)
    # r14: overlapping these two writes from a 2-thread pool (the
    # guide §2.6 move that won 0.74x on the IVF audit) measured FLAT
    # here in two interleaved A/Bs (min ratios 1.07 and 1.007) — the
    # two branches re-tokenize independently, so overlap just doubles
    # the tokenize pressure on the same cores. Kept serial.
    upsert_partition_overwrite(
        postings.withColumn("batch_id", F.lit(batch_id)),
        postings_p,
        ["batch_id", "bucket"],
    )
    upsert_partition_overwrite(
        lens.withColumn("batch_id", F.lit(batch_id)), doclens_p, ["batch_id"]
    )
    # r13 (guide §2.3): the per-batch stats row aggregates the
    # JUST-WRITTEN doclens partition (2-column, partition-pruned
    # parquet read) instead of the lazy `lens` plan, whose lineage
    # would re-run the full document tokenize a third time per
    # ingest. Same rows by construction — the partition holds exactly
    # this batch's lens output. An EMPTY delta writes no partitions
    # (and on a fresh index no readable table at all), so only then
    # fall back to aggregating the lens plan directly — its n_docs=0
    # stats row must still land (compact_text_index's consistency
    # guard counts on it).
    has_lens = os.path.isdir(doclens_p) and any(
        e.is_dir() and e.name.startswith("batch_id=")
        for e in os.scandir(doclens_p)
    )
    stats_src = (
        delta_docs.sparkSession.read.parquet(doclens_p).filter(
            F.col("batch_id") == batch_id
        )
        if has_lens
        else lens
    )
    delta_stats = stats_src.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("len_d").cast("long").alias("total_len"),
    ).withColumn("batch_id", F.lit(batch_id))
    upsert_partition_overwrite(delta_stats, stats_p, ["batch_id"])


def compact_text_index(
    spark: SparkSession, index_path: str, rewrite: bool = False
) -> None:
    """Fold every ingested batch into batch 0, idempotently — the
    maintenance pass continuous BM25 ingest needs: without it the
    index accumulates one (batch_id, bucket) postings partition set,
    one doc-lengths partition, and one stats row PER BATCH forever
    (small files grow without bound; probes stay correct but slow).
    After compaction each table holds a single batch-0 partition set
    (postings: n_buckets dirs; doclens: 1; stats: 1 summed row).

    The fold is a pure LAYOUT move: batch partitions hold disjoint
    documents, probes never filter on batch_id, and stats are summed
    at probe time — so probe_bm25 is bit-identical before, during,
    and after compaction. r14 takes that property to its conclusion
    (guide §1.2 — make maintenance delta-proportional): postings and
    doclens fold by RENAMING each batch's parquet files into the
    batch-0 directories — zero Spark jobs, zero bytes rewritten, cost
    proportional to delta FILE COUNT, not table size. Every row lives
    in exactly one directory at any crash instant, and probes (which
    never filter on batch_id) read each row exactly once throughout.
    Only the stats table still runs a (one-job, ≤#batches-row) Spark
    rewrite, swapped in by commit.replace_dir, because its fold is a
    SUM, not a move. The fold runs in commit.folding's marker order —
    the same as ann_index.compact_ivf_index — so a replayed ingest of
    a mid-fold batch, whose moved rows its partition overwrite could
    no longer reach, is refused, and a re-run finishes the moves from
    the surviving directories.

    `rewrite=True` is the MAJOR compaction (ann_index parity): each
    table re-reads as batch 0 and is swapped in whole, consolidating
    the file count a run of minor folds accumulated. Runs even when
    there is nothing new to fold — hygiene is its purpose. Probe
    results identical either way."""
    postings_p, doclens_p, stats_p = _paths(index_path)
    for p in (postings_p, doclens_p, stats_p):
        commit.recover(p)
        _sweep_empty_batch_dirs(p)
    if not os.path.exists(postings_p):
        return

    def batch_ids(path: str) -> set[int]:
        # r13: batch ids are the batch_id=N partition DIRECTORY names
        # (every table here is batch_id-partitioned; Spark's writers
        # never leave an empty partition dir, and entry swept any
        # emptied-by-a-crashed-move dirs above) — an os.scandir
        # answers what a parquet read + distinct + collect paid a
        # Spark job for, three times per compaction. LOCAL FILESYSTEM
        # ONLY (r14 ADVICE), like the commit module.
        return {
            int(e.name.split("=", 1)[1])
            for e in os.scandir(path)
            if e.is_dir() and e.name.startswith("batch_id=")
        }

    p_ids, d_ids, s_ids = (
        batch_ids(postings_p),
        batch_ids(doclens_p),
        batch_ids(stats_p),
    )
    all_ids = p_ids | d_ids | s_ids
    # Cross-table batch consistency guard: ingest writes postings ->
    # doclens -> stats, so a crash mid-batch can leave a batch id in
    # an earlier table but not the later ones. Pre-compaction that
    # state self-heals (the at-least-once replay rewrites exactly its
    # own partitions); folding would BAKE IT IN and the folded-id
    # guard would then refuse the healing replay forever — so refuse
    # to compact instead and tell the operator to replay first. The
    # reverse direction (stats has an id the others lack) is the
    # legitimate empty-delta batch: an empty frame writes no
    # partitions, but its stats row (n_docs=0) always lands.
    partial = sorted((p_ids | d_ids) - s_ids)
    if partial:
        raise ValueError(
            f"compact_text_index: batch id(s) {partial} have postings/"
            "doc-length partitions but no stats row — an ingest crashed "
            "mid-batch. Replay those batches (ingest_text_delta rewrites "
            "exactly its own partitions) before compacting; folding now "
            "would bake the partial batch into batch 0 and the folded-id "
            "guard would refuse the healing replay."
        )
    in_flight = commit.read_folding(postings_p)
    if all_ids <= {0} and not in_flight and not rewrite:
        return  # nothing ingested beyond the base: a no-op
    with commit.folding(postings_p, all_ids):
        if rewrite:
            # major: re-read each table as batch 0 and swap in one
            # AQE-sized write — consolidates the minor folds' file count
            for path, parts in (
                (postings_p, ["batch_id", "bucket"]),
                (doclens_p, ["batch_id"]),
            ):
                # REBALANCE by the leaf partition column (guide §6) so
                # the consolidated write emits few AQE-sized files per
                # directory — file-count hygiene is the major's purpose
                merged = spark.read.parquet(path).withColumn(
                    "batch_id", F.lit(0)
                )
                merged = (
                    merged.hint("rebalance", "bucket")
                    if path == postings_p
                    else merged.hint("rebalance")
                )
                commit.replace_dir(
                    path,
                    lambda t, m=merged, pc=parts: m.write.partitionBy(*pc)
                    .mode("overwrite")
                    .parquet(t),
                )
        else:
            # postings: batch_id=N/bucket=B files → batch_id=0/bucket=B
            _move_batches_into_zero(postings_p, nested=True)
            # doclens: batch_id=N files → batch_id=0
            _move_batches_into_zero(doclens_p, nested=False)
        # stats: the fold is a SUM — one tiny Spark job over ≤#batches
        # rows, swapped in whole (post-fold the table is a single
        # summed batch-0 row by construction)
        if s_ids != {0}:
            summed = (
                spark.read.parquet(stats_p)
                .agg(
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.sum("total_len").cast("long").alias("total_len"),
                )
                .withColumn("batch_id", F.lit(0))
            )
            commit.replace_dir(
                stats_p,
                lambda t: summed.write.partitionBy("batch_id")
                .mode("overwrite")
                .parquet(t),
            )


def _sweep_empty_batch_dirs(table_dir: str) -> None:
    """Remove batch_id=N (and nested bucket=B) directories that hold
    no data files — the residue of a move-based fold that crashed
    after its last rename. Without the sweep, batch_ids() would keep
    reporting the emptied batch and the cross-table consistency guard
    could refuse a compaction over a ghost."""
    if not os.path.isdir(table_dir):
        return
    for b in os.scandir(table_dir):
        if not (b.is_dir() and b.name.startswith("batch_id=")):
            continue
        if int(b.name.split("=", 1)[1]) == 0:
            continue
        for sub in os.scandir(b.path):
            if sub.is_dir() and not any(os.scandir(sub.path)):
                os.rmdir(sub.path)
        if not any(os.scandir(b.path)):
            os.rmdir(b.path)


def _move_batches_into_zero(table_dir: str, nested: bool) -> None:
    """Move every batch_id=N>0 partition's data files into the
    batch_id=0 layout (same bucket subdir when nested), prefixing
    with bN- so names stay unique, then drop the emptied batch dirs.
    commit.move_data_files — atomic per file, no Spark,
    delta-proportional."""
    zero = os.path.join(table_dir, "batch_id=0")
    for b in sorted(os.scandir(table_dir), key=lambda e: e.name):
        if not (b.is_dir() and b.name.startswith("batch_id=")):
            continue
        bid = int(b.name.split("=", 1)[1])
        if bid == 0:
            continue
        if nested:
            for bucket in sorted(os.scandir(b.path), key=lambda e: e.name):
                if bucket.is_dir():
                    commit.move_data_files(
                        bucket.path,
                        os.path.join(zero, bucket.name),
                        f"b{bid}-",
                    )
        else:
            commit.move_data_files(b.path, zero, f"b{bid}-")
            continue  # move_data_files already dropped the dir
        for leftover in os.scandir(b.path):
            if leftover.is_file() and leftover.name.startswith(("_", ".")):
                os.remove(leftover.path)
        os.rmdir(b.path)


def probe_bm25(
    spark: SparkSession,
    index_path: str,
    terms: tuple[str, ...],
    k: int = 20,
) -> DataFrame:
    """Serve a BM25 query from the persisted index: bucket-pruned
    postings scan -> query-time df/idf (tiny, broadcast) -> score ->
    top-k by (score desc, doc_id). Bit-identical to bm25_doc_search
    over the same corpus and terms (pytest contract)."""
    from chess_pipeline_spark.sinks import require_format

    require_format(index_path, _TI_FORMAT, "BM25 text index")
    postings_p, doclens_p, stats_p = map(commit.readable, _paths(index_path))
    import hashlib

    buckets = sorted(
        {
            _HEX.index(hashlib.md5(t.encode()).hexdigest()[0]) % _TI_BUCKETS
            for t in terms
        }
    )
    postings = (
        spark.read.parquet(postings_p)
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(list(terms)))
    )
    lens = spark.read.parquet(doclens_p).select("doc_id", "len_d")
    stats = spark.read.parquet(stats_p).agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("total_len").cast("long").alias("total_len"),
    )
    df_ = postings.groupBy("term").agg(
        F.count("*").cast("long").alias("df_docs")
    )
    idf = fround(
        F.log(
            (F.col("n_docs") - F.col("df_docs") + F.lit(0.5))
            / (F.col("df_docs") + F.lit(0.5))
            + F.lit(1.0)
        ),
        6,
    )
    avg_len = F.col("total_len").cast("double") / F.col("n_docs")
    tf_norm = fround(
        F.col("tf")
        / (
            F.col("tf")
            + F.lit(_K1)
            * (F.lit(1.0 - _B) + F.lit(_B) * F.col("len_d") / avg_len)
        ),
        6,
    )
    scored = (
        postings.join(lens, "doc_id")
        .join(F.broadcast(df_.crossJoin(stats)), "term")
        .select("doc_id", (idf * tf_norm).alias("term_score"))
        .groupBy("doc_id")
        # grid_sum at 12 dp, exactly like bm25_doc_search: a plain
        # float sum could round a 0.5e-6-boundary multi-term total
        # differently and break the bit-identical probe contract
        .agg(fround(grid_sum("term_score", 12), 6).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)
