"""Persisted IVF index: build once, probe with partition pruning.

The catalog's `knn_cosine_ivf` demonstrates the IVF plan inline (one
job recomputes centroids every run). A real 100 TB deployment builds
the index ONCE and amortizes it across every query batch:

  build  — pick n_lists deterministic seed vectors, assign every
           corpus vector to its nearest seed by cosine, write the
           corpus parquet PARTITIONED BY list_id, and write the
           (tiny) centroid summary next to it;
  probe  — assign each query to its nprobe nearest centroids
           (broadcast — centroids are KBs), then scan ONLY those
           list partitions: Catalyst injects DYNAMIC partition
           pruning from the broadcast probe side
           (`PartitionFilters: [... dynamicpruningexpression(list_id
           IN ...)]`, asserted in the test), so non-probed
           directories are never read and the probe costs
           |corpus| * nprobe / n_lists bytes no matter how big the
           corpus is. Exact cosine top-k inside the probed lists.

tests/test_ann_index.py pins (1) result parity with a numpy
re-implementation restricted to the probed lists, (2) that the probe
scan's PartitionFilters actually contain list_id (the pruning is in
the plan, not just hoped for), and (3) measured recall vs global
brute force at nprobe=1 and nprobe=2.

r6 adds the ADC half of IVFADC: build stores per-vector PQ codes
(8 tinyint subspace codes against a deterministic 32-centroid
codebook) next to the int8 affine codes, and `probe_ivf_adc` scores
candidates entirely from lookup tables — the lists scan reads only
(vec_id, list_id, pq_code), so the probe I/O is ~9 bytes/vector
instead of 256 float bytes, on top of the partition pruning.

r6 also adds incremental maintenance: `stream_ingest_ivf` lands new
vectors in a (list_id, ingest_batch)-partitioned delta (exactly-once
by partition overwrite; encoded with the same _encode_rows as the
build, against the frozen centroids/codebook), probes union base +
delta transparently, and `compact_ivf_index` folds the delta back in
— maintenance cost is delta-proportional, the base is immutable
between compactions.

Reference semantics anchor: the reference has no ANN surface; this
extends the training-data extension family (COVERAGE.md) with the
standard IVF-Flat layout (Johnson et al., billion-scale similarity
search) re-expressed as parquet partitioning + Catalyst pruning.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from chess_pipeline_spark import commit
from chess_pipeline_spark.functions.rounding import fround

_DOT = (
    "aggregate(zip_with({u}, {v}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (a, b) -> a + b)"
)
_NORM = (
    "sqrt(aggregate({v}, CAST(0 AS DOUBLE),"
    " (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
)


def _nearest_lists(
    vecs: DataFrame, centroids: DataFrame, n: int, id_col: str
) -> DataFrame:
    """(id, embedding) x broadcast centroids -> the n nearest list ids
    per vector (cosine, rounded at 1e-9 before ranking so ties break
    identically everywhere; then lowest list_id).

    ZERO-shuffle form (r7): the centroid table folds into a single
    1-row array that broadcasts, and the per-vector top-n is a
    row-local sort of the (cos, -list_id) structs — the previous
    crossJoin + groupBy(id) shape paid a corpus-scale shuffle for an
    argmin that never needed one. Same 1e-9 grid + lowest-list tie
    rule, byte-identical assignments (pinned by the numpy parity
    tests)."""
    cba = centroids.agg(
        F.array_sort(
            F.collect_list(F.struct("list_id", "centroid", "c_nrm"))
        ).alias("cbl")
    )
    cos = (
        f"aggregate(zip_with(embedding, e.centroid, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (a, b) -> a + b) / (nrm * e.c_nrm)"
    )
    top = (
        f"slice(reverse(array_sort(transform(cbl, e -> named_struct("
        f"'c_cos', floor(({cos}) * 1000000000.0 + 0.5) / 1000000000.0, "
        f"'nl', -e.list_id)))), 1, {{n}})"
    )
    return (
        vecs.withColumn("nrm", F.expr(_NORM.format(v="embedding")))
        .crossJoin(F.broadcast(cba))
        .select(
            id_col,
            "embedding",
            F.explode(
                F.expr(f"transform({top.format(n=n)}, t -> -t.nl)")
            ).alias("list_id"),
        )
    )


# product-quantization geometry for the stored codes (kept in sync
# with plans/llm.py's catalog demonstration: 8 subspaces, 32 seeded
# centroids — the measured recall knee on the synthetic embeddings)
_PQ_M = 8
_PQ_K = 32

# On-disk format identity (the simhash _format.json discipline,
# generalized r12): persisted codes/norms only mean something under
# the geometry that wrote them. Changing PQ shape, the int8 affine
# rule, or the grid rounding MUST change this string; builds stamp
# it, probes and ingests refuse a mismatch or an unstamped index.
# (The r12 index-fold rewrite is byte-identical, NOT a format change.)
_IVF_FORMAT = f"ivfadc-pq{_PQ_M}x{_PQ_K}-int8affine-grid1e9"


def _pq_subspace_l2(j: int, sub: int, c: str) -> str:
    """SQL for the squared L2 between `embedding`'s and the centroid
    expression ``c``'s j-th subvector (1-based positions j*sub+1 ..
    (j+1)*sub), shared by the PQ encoder and the ADC probe."""
    # index-fold form (r12): the original
    # aggregate(zip_with(slice(embedding,...), slice(c,...)))
    # allocated THREE arrays per (vector, centroid, subspace) —
    # 768 allocations/row at 8x32 — and the r12 profile measured
    # PQ encoding as 95% of ivf_build's 76 s at 500k vectors.
    # sequence(lo, hi) over literals constant-folds to one shared
    # array, so this fold does zero per-pair allocation; the
    # left-to-right add order over identical doubles is unchanged,
    # so codes stay byte-identical (numpy-parity + oracle tests).
    lo = j * sub + 1
    return (
        f"aggregate(sequence({lo}, {lo + sub - 1}), "
        f"CAST(0 AS DOUBLE), "
        f"(a, i) -> a + (CAST(element_at(embedding, i) AS DOUBLE) "
        f"- CAST(element_at({c}, i) AS DOUBLE)) "
        f"* (CAST(element_at(embedding, i) AS DOUBLE) "
        f"- CAST(element_at({c}, i) AS DOUBLE)))"
    )


def build_ivf_index(
    corpus: DataFrame,
    out_path: str,
    n_lists: int = 8,
    id_col: str = "vec_id",
    lloyd_iterations: int = 0,
) -> None:
    """Assign every vector to its nearest centroid and persist the
    corpus partitioned by list_id (+ a centroids summary).

    Seeds are the n_lists lowest-id vectors — deterministic, no RNG
    to ship. `lloyd_iterations` optionally refines them k-means
    style: assign → recompute each list's element-wise mean →
    repeat. Each iteration is one broadcast-join assignment plus one
    narrow (list_id, dim) aggregation; a list that loses all members
    keeps its previous centroid. The final write is the only wide
    shuffle (partitioned by list).
    """
    # r14 REVERT of the r13 single-collect seeding (guide §1.6:
    # measure after every change — applied to index PHASES this
    # round, the instrument gap r13's regression slipped through).
    # The r13 form collapsed five corpus-touching driver round-trips
    # (two orderBy+limit jobs, two localCheckpoints, one first()) into
    # one TakeOrdered collect rebuilt as LocalRelations — fewer jobs,
    # but the whole build measured 1.30x SLOWER in an interleaved
    # same-session A/B (min-of-5: 3.71 s vs 2.86 s at sf0.1; the r13
    # idle canonical saw the same 2.86→4.57 s). The collect itself is
    # cheap (85 ms); the cost lands downstream: every job over plans
    # embedding the LocalRelations re-ships the inlined vectors and
    # the tiny centroids/codebook writes go from ~0.1 s to ~0.5 s
    # each. localCheckpointing the LocalRelations recovers only half
    # the gap (3.21 s) — the checkpointed orderBy+limit form below is
    # the measured optimum, so the extra driver round-trips stay. The
    # independent r13 wins are KEPT: the _meta.json geometry sidecar
    # (still written below — probes/ingests stay job-free for
    # dim/k_cb) and the filesystem delta-batch discovery.
    # r14 (guide §2.6): the three seed-stage driver actions — the
    # seeds checkpoint, the PQ-codebook checkpoint, and the dim probe
    # (`first()`) — are data-independent jobs the old code ran
    # sequentially; a 3-thread pool overlaps them so the later jobs'
    # tasks back-fill the scheduler while the first one's tail
    # finishes. Same frames, same checkpointed contents, so the index
    # bytes are unchanged (numpy-parity + oracle tests). Each
    # submitted callable is wrapped on its own, so its thread carries
    # a private copy of the caller's job group and local properties.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def inherit(fn):
        return inheritable_thread_target(corpus.sparkSession)(fn)

    def _mk_seeds():
        return (
            corpus.orderBy(id_col)
            .limit(n_lists)
            .select(
                F.row_number()
                .over(Window.orderBy(id_col))
                .cast("long")
                .alias("list_id"),
                F.col("embedding").alias("centroid"),
            )
            .withColumn("c_nrm", F.expr(_NORM.format(v="centroid")))
            .localCheckpoint()
        )

    def _mk_codebook():
        return (
            corpus.orderBy(id_col)
            .limit(_PQ_K)
            .select(
                F.row_number().over(Window.orderBy(id_col)).alias("cid"),
                F.col("embedding").alias("c"),
            )
            .localCheckpoint()
        )

    def _probe_dim():
        row = corpus.select(F.size("embedding").alias("d")).first()
        if row is None:  # r14 ADVICE: descriptive error at build entry
            raise ValueError(
                "build_ivf_index: the corpus is empty — an IVF index "
                "needs at least one vector to seed centroids and the "
                "PQ codebook"
            )
        return row["d"]

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_seeds = pool.submit(inherit(_mk_seeds))
        f_codebook = pool.submit(inherit(_mk_codebook))
        f_dim = pool.submit(inherit(_probe_dim))
        seeds = f_seeds.result()
        codebook = f_codebook.result()
        dim = f_dim.result()
    # r14 (guide §2.5 input under-split): a small corpus parquet scans
    # as ONE split, serializing the expensive per-row PQ encode onto a
    # single core (profiled: 1.9 s of the 2.9 s bench build phase was
    # the encode on one core). spread() is a no-op whenever the scan
    # already has >= cores partitions — the 100 TB case — and
    # otherwise buys full encode parallelism for one narrow shuffle.
    from chess_pipeline_spark.sources import spread

    vecs = spread(corpus.select(id_col, "embedding"), id_col)
    for _ in range(lloyd_iterations):
        assigned = _nearest_lists(vecs, seeds, 1, id_col)
        means = (
            assigned.select("list_id", F.posexplode("embedding").alias("i", "x"))
            .groupBy("list_id", "i")
            .agg(F.avg(F.col("x").cast("double")).alias("c"))
            .groupBy("list_id")
            .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("pairs"))
            .select(
                F.col("list_id").alias("m_list"),
                F.expr("transform(pairs, p -> CAST(p.c AS FLOAT))").alias("m_centroid"),
            )
        )
        seeds = (
            seeds.join(means, seeds.list_id == means.m_list, "left")
            .select(
                "list_id",
                F.coalesce(F.col("m_centroid"), F.col("centroid")).alias("centroid"),
            )
            .withColumn("c_nrm", F.expr(_NORM.format(v="centroid")))
            .localCheckpoint()
        )
    assigned = _nearest_lists(vecs, seeds, 1, id_col)
    # r14 (guide §2.6): the three persisting writes are likewise
    # independent — the corpus-scale encode+partitioned lists write
    # and the two KB-scale sidecar writes off already-checkpointed
    # frames. Submitting the tiny writes alongside lets them ride the
    # big write's scheduler gaps instead of serializing after it.
    # r14 (guide §6 small files / write distribution): without a
    # shuffle, the partitionBy write emits (input partitions x
    # n_lists) files — 256 KB-scale files at bench shape, and at
    # corpus scale (thousands of tasks x n_lists) an unbounded
    # small-file explosion. A REBALANCE-by-list_id exchange before the
    # write is the standard hash write-distribution: AQE sizes the
    # post-shuffle partitions (coalescing tiny ones, splitting skewed
    # lists), so each list lands in few well-sized files. The shuffle
    # carries the encoded payload exactly once — the only wide
    # exchange in the build, as before.
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(
                inherit(
                    lambda: _encode_rows(
                        assigned, codebook, dim // _PQ_M, id_col, dim=dim
                    )
                    .hint("rebalance", "list_id")
                    .write.partitionBy("list_id")
                    .mode("overwrite")
                    .parquet(os.path.join(out_path, "lists"))
                )
            ),
            pool.submit(
                inherit(
                    lambda: seeds.write.mode("overwrite").parquet(
                        os.path.join(out_path, "centroids")
                    )
                )
            ),
            pool.submit(
                inherit(
                    lambda: codebook.write.mode("overwrite").parquet(
                        os.path.join(out_path, "pq_codebook")
                    )
                )
            ),
        ]
        for f in futs:
            f.result()
    commit.stamp(out_path, _IVF_FORMAT)
    # k_cb: the codebook write truncates at the corpus size when the
    # corpus has fewer than _PQ_K vectors (limit semantics)
    n_cb = codebook.count()
    _write_meta(out_path, {"dim": dim, "k_cb": n_cb})


def _encode_rows(
    assigned: DataFrame,
    codebook: DataFrame,
    sub: int,
    id_col: str,
    dim: int | None = None,
) -> DataFrame:
    """Full index-row payload for an assigned (id, embedding, list_id)
    frame — shared by the initial build and the streaming ingest so a
    delta row is byte-identical to a built row:

    * nrm — precomputed vector norm (probes divide by it per pair);
    * int8 affine codes (per-vector min/max, 256 zero-centered
      TINYINT levels — genuinely 1 byte/dim in parquet; the
      flat-vector guard pins scale to 1 so the transform is total);
    * pq_code — per-subspace argmin against the broadcast codebook
      (the IVFADC layout: an ADC probe reads only these m bytes).
    """
    # Fixed-dimension precondition (r12 ADVICE): the index-fold PQ
    # kernel reads element_at(embedding, i) over sequence(lo, hi) —
    # for a short/ragged embedding that is an out-of-bounds read
    # (NULL under non-ANSI, error under ANSI), which would silently
    # CHANGE argmin/code assignment instead of degrading like the old
    # truncating zip_with(slice(...)) form. Refuse ragged rows loudly
    # at encode entry; the guard rides the nrm expression (needed by
    # every index row, so column pruning can never elide it) and
    # costs one size() per row on the non-raising path. `dim` is the
    # caller's corpus/codebook dimension (it can exceed sub*_PQ_M
    # when the dimension isn't a multiple of _PQ_M — trailing dims
    # simply go un-quantized, as before).
    if dim is None:
        dim = sub * _PQ_M
    nrm_guarded = (
        f"CASE WHEN size(embedding) = {dim} "
        f"THEN {_NORM.format(v='embedding')} "
        f"ELSE CAST(raise_error(concat('PQ encode requires fixed "
        f"dimension {dim} (codebook geometry {_PQ_M}x{sub}); got a "
        f"vector of dimension ', CAST(size(embedding) AS STRING))) "
        f"AS DOUBLE) END"
    )
    rows = (
        assigned.withColumn("nrm", F.expr(nrm_guarded))
        .withColumn("q_mn", F.expr("CAST(array_min(embedding) AS DOUBLE)"))
        .withColumn(
            "q_scale",
            F.expr(
                "CAST(CASE WHEN array_max(embedding) = array_min(embedding) THEN 1.0 "
                "ELSE (CAST(array_max(embedding) AS DOUBLE) - array_min(embedding)) / 255.0 "
                "END AS DOUBLE)"
            ),
        )
        .withColumn(
            "code",
            F.expr(
                "transform(embedding, x -> CAST(floor((CAST(x AS DOUBLE) - q_mn) "
                "/ q_scale + 0.5) - 128 AS TINYINT))"
            ),
        )
    )
    # PQ codes as a ROW-LOCAL fold (r7): the codebook collapses to a
    # broadcast 1-row array and each subspace argmin is
    # array_min(transform(...)) over it — struct ordering gives the
    # identical (distance, lowest-cid) tie rule the old
    # crossJoin + groupBy(id) argmin used, without its corpus-scale
    # shuffle. Byte-identical codes (numpy parity + oracle tests).
    cba = codebook.agg(
        F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("cbk")
    )

    def pq_j(j: int) -> str:
        # distances grid-rounded at 1e-9 so argmin ties break
        # identically anywhere
        d = _pq_subspace_l2(j, sub, "e.c")
        return (
            f"CAST(array_min(transform(cbk, e -> named_struct("
            f"'d', floor(({d}) * 1000000000.0 + 0.5) / 1000000000.0, "
            f"'cc', e.cid))).cc AS TINYINT)"
        )

    return rows.crossJoin(F.broadcast(cba)).withColumn(
        "pq_code", F.expr(f"array({', '.join(pq_j(j) for j in range(_PQ_M))})")
    ).drop("cbk")


def _write_meta(index_path: str, meta: dict) -> None:
    """Scalar geometry facts (embedding dim, persisted codebook
    cardinality) stamped next to the format marker at build time so
    ingests and probes don't each pay a Spark job to re-derive them
    from the codebook parquet (r13 — one `first()` + one `count()`
    per ingest/probe call removed). Underscore-prefixed: invisible to
    Spark's readers; written whole (commit.write_json)."""
    commit.write_json(os.path.join(index_path, "_meta.json"), meta)


def _read_meta(index_path: str) -> dict:
    """The build-time geometry sidecar; {} for an index built before
    it existed OR whose sidecar is unreadable (r14 ADVICE: a damaged
    sidecar must degrade to the derive-from-codebook fallback the
    callers already implement, not raise JSONDecodeError on every
    probe)."""
    try:
        return commit.read_json(os.path.join(index_path, "_meta.json"), {})
    except (ValueError, OSError):
        return {}


def stream_ingest_ivf(vectors: DataFrame, index_path: str, id_col: str = "vec_id"):
    """Incremental IVF/IVFADC maintenance: continuously ingest new
    vectors into an EXISTING index without touching the base lists.

    Per micro-batch: assign each new vector to its nearest persisted
    coarse centroid (broadcast — the centroids never change during
    ingest, so assignments are consistent with the base build),
    encode the full row payload with the SAME _encode_rows the build
    uses (norm, int8 affine codes, PQ codes against the persisted
    codebook), and land it under lists_delta/ PARTITIONED BY
    (list_id, ingest_batch) with dynamic partition overwrite — a
    replayed batch rewrites exactly its own partitions, so
    at-least-once foreachBatch yields exactly-once rows. Probes union
    base + delta transparently (see _read_lists); maintenance cost is
    delta-proportional — the base is never rewritten until
    compact_ivf_index folds the delta in.

    CONTRACT: never reset/delete this stream's checkpoint and point it
    back at the same index — foreachBatch ids restart at 0 and collide
    with ids compaction already folded; ingest_ivf_batch raises on the
    collision rather than let the folded-batch filter silently drop
    the new rows (r9 ADVICE).

    Returns an unstarted writeStream (caller picks trigger +
    checkpoint), like the other foreachBatch jobs.
    """
    def _process(batch: DataFrame, batch_id: int) -> None:
        ingest_ivf_batch(batch, batch_id, index_path, id_col)

    return vectors.writeStream.foreachBatch(_process)


def ingest_ivf_batch(
    batch: DataFrame, batch_id: int, index_path: str, id_col: str = "vec_id"
) -> None:
    """One stream_ingest_ivf micro-batch — module-level so batch-mode
    callers (the ivf_ingest_audit catalog query, tests) can drive the
    exact ingest path without a running stream.

    Batch ids must never be reused against one index (the r9 ADVICE
    silent-loss hazard): probes and the next compaction anti-filter
    the delta against the folded marker, so rows ingested under a
    folded id would be invisibly discarded, and a replay of a mid-fold
    id would duplicate rows already moved. commit.guard_ingest raises
    for both. A stream restarted with a deleted/fresh checkpoint
    restarts foreachBatch at batch 0 — exactly this collision. On a
    genuine replay (compaction folded a batch the stream hadn't
    committed yet) the folded rows are already in the base and the
    replay is safe to drop; for a fresh checkpoint over NEW data,
    re-ingest under ids above max(folded)."""
    from chess_pipeline_spark.sinks import upsert_partition_overwrite

    commit.check_stamp(index_path, _IVF_FORMAT, "IVF/ADC index")
    spark = batch.sparkSession
    commit.guard_ingest(
        os.path.join(index_path, "lists"), batch_id, "ingest_ivf_batch"
    )
    seeds = spark.read.parquet(os.path.join(index_path, "centroids"))
    codebook = spark.read.parquet(os.path.join(index_path, "pq_codebook"))
    # r14 ADVICE: `is None`, not `or` — a stored 0 must not silently
    # fall through to the codebook derivation as if the key were absent
    dim = _read_meta(index_path).get("dim")
    if dim is None:
        dim = codebook.select(F.size("c").alias("d")).first()["d"]
    # r14: same two scale guards as the build — spread() for encode
    # parallelism on an under-split delta (no-op when the batch scan
    # already has >= cores partitions), REBALANCE-by-list_id so the
    # (list_id, ingest_batch) write emits few AQE-sized files instead
    # of (input partitions x n_lists) KB-scale ones (profiled: 256
    # files per 500-row batch; the dynamic-overwrite commit and every
    # later delta read paid for them).
    from chess_pipeline_spark.sources import spread

    assigned = _nearest_lists(
        spread(batch.select(id_col, "embedding"), id_col), seeds, 1, id_col
    )
    rows = _encode_rows(assigned, codebook, dim // _PQ_M, id_col, dim=dim).withColumn(
        "ingest_batch", F.lit(batch_id)
    )
    upsert_partition_overwrite(
        rows.hint("rebalance", "list_id"),
        os.path.join(index_path, "lists_delta"),
        ["list_id", "ingest_batch"],
    )


def compact_ivf_index(
    spark: SparkSession, index_path: str, rewrite: bool = False
) -> None:
    """Fold lists_delta into the base lists, idempotently.

    Default (r14, guide §6/§1.2 — make maintenance delta-proportional):
    a MINOR fold that moves the delta's parquet files into the base's
    list_id directories (commit.fold_batches) — zero Spark jobs,
    zero bytes rewritten, cost proportional to the number of delta
    FILES rather than the base size. Base and delta files carry the
    identical physical schema by construction (_encode_rows wrote
    both; list_id/ingest_batch are directory-encoded), so a moved file
    IS a base file. Every row lives in exactly one of base/delta at
    every instant and the fold runs in commit.folding's marker order,
    so the probe contract base ∪ (delta − folded) reads each row
    exactly once across any crash, and a re-run finishes the fold.

    `rewrite=True` is the MAJOR compaction: read base ∪ (delta −
    folded) and swap it in whole (commit.replace_dir, with the folded
    marker inside the new base), which also consolidates the base into
    freshly AQE-sized files. A deployment alternates: minor per delta
    epoch, major on a file-count budget. Results (rows, and every
    probe) are identical either way — only file layout differs.
    """
    import shutil

    delta_path = os.path.join(index_path, "lists_delta")
    lists_path = os.path.join(index_path, "lists")
    commit.recover(lists_path)
    if not os.path.exists(lists_path):
        return
    folded = commit.read_folded(lists_path)
    pending = commit.batch_ids(delta_path, "ingest_batch") - folded
    with commit.folding(lists_path, pending) as todo:
        # delta files of an already-folded batch are stale copies of
        # base rows (probes filter them out): only the rest moves in
        fresh = todo - folded
        if rewrite:
            _compact_rewrite(spark, lists_path, delta_path, folded | todo, fresh)
        else:
            # lists_delta/list_id=L/ingest_batch=B/f → lists/list_id=L/bB-f
            commit.fold_batches(delta_path, "ingest_batch", fresh, lists_path)
    shutil.rmtree(delta_path, ignore_errors=True)


def _compact_rewrite(
    spark: SparkSession,
    lists_path: str,
    delta_path: str,
    folded: set[int],
    new_batches: set[int],
) -> None:
    """Major compaction: read base ∪ (delta batches new_batches) and
    swap it in as the base in one AQE-rebalanced partitioned write,
    with the `folded` marker inside — it lands atomically with the
    rows it covers, so probes never read a folded delta row twice."""
    merged = spark.read.parquet(lists_path)
    if new_batches and commit.has_data(delta_path):
        delta = (
            spark.read.parquet(delta_path)
            .filter(F.col("ingest_batch").isin(sorted(new_batches)))
            .drop("ingest_batch")
        )
        merged = merged.unionByName(delta)
    commit.replace_dir(
        lists_path,
        lambda tmp: merged.hint("rebalance", "list_id")
        .write.partitionBy("list_id")
        .mode("overwrite")
        .parquet(tmp),
        sidecars={commit.FOLDED: sorted(folded)},
    )


def _read_lists(spark: SparkSession, index_path: str) -> DataFrame:
    """Base lists plus any un-compacted ingest delta (same schema by
    construction — _encode_rows built both). Partition pruning on
    list_id applies to each scan; the delta is delta-sized by
    definition, so an unpruned delta scan is bounded anyway. The base
    is read wherever it is (commit.readable), and delta batches its
    folded marker already covers are excluded, so a probe racing (or
    crashed out of) a compaction never reads a folded row twice."""
    commit.check_stamp(index_path, _IVF_FORMAT, "IVF/ADC index")
    lists_path = commit.readable(os.path.join(index_path, "lists"))
    lists = spark.read.parquet(lists_path)
    delta_path = os.path.join(index_path, "lists_delta")
    if commit.has_data(delta_path):
        delta = spark.read.parquet(delta_path)
        folded = commit.read_folded(lists_path)
        if folded and "ingest_batch" in delta.columns:
            delta = delta.filter(~F.col("ingest_batch").isin(sorted(folded)))
        lists = lists.unionByName(
            delta.drop("ingest_batch"), allowMissingColumns=True
        )
    return lists


def probe_ivf_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "qid",
    coded: bool = False,
) -> DataFrame:
    """Exact top-k cosine inside the nprobe nearest lists per query.

    The returned plan scans the lists parquet with a partition filter
    on list_id — only probed directories are read. Queries broadcast
    twice (centroid assignment, then the probe join); the corpus side
    never shuffles.
    """
    centroids = spark.read.parquet(os.path.join(index_path, "centroids"))
    probed = _nearest_lists(queries, centroids, nprobe, id_col).select(
        F.col(id_col).alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("list_id").alias("probe_list"),
    ).withColumn("qnorm", F.expr(_NORM.format(v="qe")))
    lists = _read_lists(spark, index_path)
    if coded:
        # score against the dequantized int8 codes — the float
        # embedding column is never read (check ReadSchema), which is
        # the 4x page-cache win at scale; reconstruction error is
        # bounded by scale/2 per dimension (recall pinned in tests)
        if "code" not in lists.columns:
            raise ValueError(
                f"probe_ivf_index(coded=True): index at {index_path!r} has "
                "no 'code' column (built before int8 codes existed); "
                "rebuild with build_ivf_index or probe with coded=False"
            )
        # codes are zero-centered tinyint levels (level - 128)
        lists = lists.select(
            "vec_id",
            "list_id",
            F.expr(
                "transform(code, c -> (CAST(c AS DOUBLE) + 128.0) * q_scale + q_mn)"
            ).alias("embedding"),
        ).withColumn("nrm", F.expr(_NORM.format(v="embedding")))
    cos = F.expr(_DOT.format(u="qe", v="embedding")) / (
        F.col("qnorm") * F.col("nrm")
    )
    scored = (
        lists.join(
            F.broadcast(probed), lists.list_id == F.col("probe_list")
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            F.col("q_id").alias("qid"),
            F.col("vec_id").alias("neighbor_id"),
            fround(cos, 6).alias("cos_sim"),
        )
        # a vector can appear via several probed lists only if the
        # index stored it twice — it does not (nprobe applies to
        # queries, each corpus vector lives in exactly one list)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def probe_ivf_adc(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "qid",
) -> DataFrame:
    """IVFADC probe: approximate top-k by SMALLEST squared L2 inside
    the nprobe nearest lists, scored entirely from the stored PQ
    codes — the billion-scale serving path (Jégou et al.).

    Per query: a FLAT lookup table (its L2² to every per-subspace
    centroid, _PQ_M·_PQ_K integer micro-units) is built ROW-LOCALLY
    against the broadcast 1-row codebook array (r14 — previously an
    explode + groupBy paid an exchange and a hash aggregate for the
    same integers); each probed candidate is then scored by _PQ_M
    `element_at` lookups folded over its code array —
    row-local, zero per-candidate joins, and the lists scan reads
    ONLY (vec_id, list_id, pq_code): neither the float embedding nor
    the int8 affine codes are touched (asserted on ReadSchema in
    tests). Dynamic partition pruning from the broadcast probe side
    still applies, so non-probed directories are never read. The
    integer micro-unit tables make the ADC sum order-free, so results
    are deterministic and engine-stable.
    """
    all_lists = _read_lists(spark, index_path)
    if "pq_code" not in all_lists.columns:
        raise ValueError(
            f"probe_ivf_adc: index at {index_path!r} has no 'pq_code' "
            "column (built before PQ codes existed); rebuild with "
            "build_ivf_index or use probe_ivf_index"
        )
    centroids = spark.read.parquet(os.path.join(index_path, "centroids"))
    codebook = spark.read.parquet(os.path.join(index_path, "pq_codebook"))
    # The flat-table stride is the PERSISTED codebook's cardinality,
    # not _PQ_K: build_ivf_index writes min(corpus, _PQ_K) rows, and a
    # hardcoded 32 against a shorter codebook would make element_at
    # index past the table — NULL under non-ANSI semantics, which
    # sorts first under asc and silently corrupts the top-k (r6
    # advice). Stored cids are 1..k_cb, so positions stay dense.
    # Both geometry scalars come from the build-time _meta.json
    # sidecar when present (r13) — two fewer Spark jobs per probe.
    meta = _read_meta(index_path)
    # r14 ADVICE: `is None`, not `or` — 0 is a value, not "missing"
    dim = meta.get("dim")
    if dim is None:
        dim = codebook.select(F.size("c").alias("d")).first()["d"]
    sub = dim // _PQ_M
    k_cb = meta.get("k_cb")
    if k_cb is None:
        k_cb = codebook.count()

    probed = (
        _nearest_lists(queries, centroids, nprobe, id_col)
        .select(
            F.col(id_col).alias("q_id"),
            F.col("embedding"),
            F.col("list_id").alias("probe_list"),
        )
        # fixed-dimension precondition (r12 ADVICE): the per-subspace
        # fold reads element_at(embedding, i) positionally, so a
        # ragged probe vector would produce NULL subdistances (ANSI
        # off) and a silently corrupted flat table instead of the old
        # zip_with truncation — refuse it loudly before the fold
        .filter(
            F.expr(
                f"CASE WHEN size(embedding) = {dim} THEN true "
                f"ELSE raise_error(concat('IVFADC probe requires "
                f"fixed dimension {dim} (persisted codebook "
                f"geometry); got a query vector of dimension ', "
                f"CAST(size(embedding) AS STRING))) END"
            )
        )
    )
    # flat per-query table: entry (j*K + cid) = micro(L2²(q_j, c_j)).
    # r14 (guide §2.4): built ROW-LOCALLY — the codebook folds into a
    # broadcast 1-row sorted array (the _nearest_lists/_encode_rows
    # pattern) and each (query, probe_list) row emits its whole table
    # as flatten(per-subspace transform), j-major then cid —
    # bit-identical entries at identical positions to the previous
    # explode + groupBy + array_sort(collect_list) form (A/B-verified
    # row equality), without that form's exchange and hash aggregate.
    # A/B 0.81x mins / 0.72x medians on the probe phase.
    cba = codebook.agg(
        F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("cbk")
    )

    def _dm_row(j: int) -> str:
        d = _pq_subspace_l2(j, sub, "e.c")
        # the encoder's 1e-9 distance grid, then integer micro-units
        return (
            f"transform(cbk, e -> CAST(floor((floor(({d}) * 1000000000.0 "
            f"+ 0.5) / 1000000000.0) * 1000000.0 + 0.5) AS BIGINT))"
        )

    tbl = probed.crossJoin(F.broadcast(cba)).select(
        "q_id",
        "probe_list",
        F.expr(
            "flatten(array("
            + ", ".join(_dm_row(j) for j in range(_PQ_M))
            + "))"
        ).alias("tbl"),
    )
    lists = all_lists.select("vec_id", "list_id", "pq_code")
    adc = F.expr(
        f"aggregate(zip_with(pq_code, sequence(0, {_PQ_M - 1}), "
        f"(c, j) -> element_at(tbl, j * {k_cb} + CAST(c AS INT))), "
        f"CAST(0 AS BIGINT), (a, b) -> a + b)"
    )
    scored = (
        lists.join(F.broadcast(tbl), lists.list_id == F.col("probe_list"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            F.col("q_id").alias("qid"),
            F.col("vec_id").alias("neighbor_id"),
            adc.alias("adc_micro"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc_micro"), F.asc("neighbor_id"))
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)
