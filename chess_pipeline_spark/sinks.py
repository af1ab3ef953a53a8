"""Sinks: idempotent upsert strategies (SURVEY §2.1 S5).

The reference loads every table with delete-then-insert keyed on id
columns (src/pipeline_import/postgres_templates.py:160-214: Arrow
ingest to a temp table, DELETE matching keys, INSERT intersected
columns). Spark-native equivalents, in preference order:

1. ``upsert_partition_overwrite`` — dynamic partition overwrite for
   date/entity-partitioned layouts: rewrite only the partitions the
   batch touches. The 100 TB default: no read of existing data, no
   shuffle beyond the write, idempotent per partition.
2. ``upsert_parquet`` — key-level merge for unpartitioned targets,
   in one keyed pass: the target's rows and the batch's, unioned, go
   through one range shuffle on the keys and one window that flags
   the keys the batch replaces; the flagged target rows drop and the
   result is rewritten atomically (commit.replace_dir). The batch is
   planned once and the target scanned once. The MERGE-emulation
   pattern for lakehouse-less deployments.
3. ``upsert_jdbc_staging`` — the staging-table + MERGE/DELETE+INSERT
   plan for real JDBC targets; generates the SQL and stages via
   df.write.jdbc (exercised only when a JDBC url/driver is present).

Column-intersection loading (postgres_templates.py:187-203) is
``schemas.normalize_to_schema``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from chess_pipeline_spark import commit


def upsert_partition_overwrite(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Idempotent write replacing exactly the partitions present in
    df (partitionOverwriteMode=dynamic, set as a PER-WRITER option —
    not a session-conf toggle, which would race when independent
    ingest jobs overlap from driver threads (guide §2.6): a second
    writer could capture "dynamic" as its restore value or, worse,
    plan its write after the first writer's restore flipped the
    session back to static and silently truncate the whole table)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def _content_digest(cols: list[str]) -> list:
    """The replay guard's content digest of a ledger frame, as the
    aggregate pair (d, n) that renders as ``"n:d"``: the row count and
    the sum of xxhash64(cols-as-strings) as decimal(38,0). Row order
    and partitioning don't matter (the exact decimal sum commutes); any
    changed, added or dropped row moves it with probability ~1-2^-64.
    Deterministic only when the row VALUES are: a ledger of float sums
    may differ bitwise on recompute, and the guard then degrades to its
    raise, never to a silent skip."""
    h = F.xxhash64(*[F.col(c).cast("string") for c in sorted(cols)])
    zero = F.lit(0).cast("decimal(38,0)")
    return [
        F.coalesce(F.sum(h.cast("decimal(38,0)")), zero).alias("d"),
        F.count("*").alias("n"),
    ]


@dataclass(frozen=True)
class AdditiveLedger:
    """A batch-partitioned ADDITIVE ledger: each micro-batch lands its
    rows in its own `batch_id=N` partition by dynamic partition
    overwrite (so an at-least-once replay rewrites identical bytes),
    and the ledger's value is the fold groupBy(keys) with a sum of each
    column in ``sums`` across batches. That one fold is the probes'
    read and the compaction's merge, so every probe reads the same
    before and after a compaction.

    Addition is not idempotent, so a compaction marks the ids it folds
    (`_folded_batches.json`) and records a content digest per batch
    (`_folded_digests.json`); ``guard`` refuses a folded id unless the
    replayed rows match its digest."""

    keys: tuple[str, ...]
    sums: tuple[str, ...]

    def fold(self, df: DataFrame) -> DataFrame:
        return df.groupBy(*self.keys).agg(*[F.sum(c).alias(c) for c in self.sums])

    def read(self, spark, ledger_dir: str, skip_batch: int | None = None) -> DataFrame:
        """The folded ledger, read wherever a crashed compaction left it
        (commit.readable); ``skip_batch`` leaves that batch's partition out."""
        df = spark.read.parquet(commit.readable(ledger_dir))
        if skip_batch is not None:
            df = df.filter(F.col("batch_id") != skip_batch)
        return self.fold(df)

    def guard(self, ledger_dir: str, batch_id: int, job: str, delta: DataFrame) -> bool:
        """commit.guard_ingest with this ledger's replay digest: True
        (skip the write) for the at-least-once replay of a folded batch
        whose ``delta`` rows (batch_id column ignored) are identical to
        the folded ones; any other folded or mid-fold id raises."""
        cols = [c for c in delta.columns if c != "batch_id"]

        def digest() -> str:
            row = delta.agg(*_content_digest(cols)).first()
            return f"{row['n']}:{row['d']}"

        return commit.guard_ingest(ledger_dir, batch_id, job, digest)

    def ingest(
        self, delta: DataFrame, ledger_dir: str, batch_id: int, job: str
    ) -> None:
        """Guard, then write ``delta`` as its batch's partition."""
        if not self.guard(ledger_dir, batch_id, job, delta):
            upsert_partition_overwrite(delta, ledger_dir, ["batch_id"])

    def compact(self, spark, ledger_dir: str) -> None:
        """Fold every batch partition into one batch-0 partition,
        idempotently: under continuous ingest the partitions otherwise
        grow small files without bound. The merged table replaces the
        ledger in one commit.replace_dir swap that carries the folded
        marker and the digests, so ingest refuses folded ids from the
        instant the fold lands. PRECONDITION: quiesce the feeding
        stream first."""
        commit.recover(ledger_dir)
        if not os.path.exists(ledger_dir):
            return
        folded = commit.read_folded(ledger_dir)
        ids = commit.batch_ids(ledger_dir, "batch_id")
        if ids <= {0}:
            return  # nothing beyond the base (or already folded): no-op
        cur = spark.read.parquet(ledger_dir)
        # Digest each NOT-yet-folded batch before the fold destroys its
        # partition: the guard uses these to recognize the one
        # legitimate replay shape (batch committed to the ledger but not
        # the stream checkpoint when compaction folded it — identical
        # rows) and no-op instead of wedging the stream. `ids - folded`
        # never re-digests a merged batch 0 (0 enters the marker at the
        # first fold).
        digest_rows = (
            cur.filter(F.col("batch_id").isin(sorted(ids - folded)))
            .groupBy("batch_id")
            .agg(*_content_digest([c for c in cur.columns if c != "batch_id"]))
            .collect()
        )
        digests = {
            int(k): v
            for k, v in commit.read_json(
                os.path.join(ledger_dir, commit.DIGESTS), {}
            ).items()
        }
        digests.update(
            {int(r["batch_id"]): f"{r['n']}:{r['d']}" for r in digest_rows}
        )
        merged = self.fold(cur).withColumn("batch_id", F.lit(0))
        commit.replace_dir(
            ledger_dir,
            lambda tmp: merged.write.partitionBy("batch_id")
            .mode("overwrite")
            .parquet(tmp),
            sidecars={
                commit.FOLDED: sorted(folded | ids),
                commit.DIGESTS: {str(k): v for k, v in sorted(digests.items())},
            },
        )


def _read_spark_written(spark, path: str) -> DataFrame:
    """The parquet table at ``path``, read with the schema Spark's
    writer stored in the footer of one of its files: the schema that
    spark.read.parquet would infer from that footer, but without the
    Spark job the inference runs. A table no Spark writer produced is
    inferred as usual."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    first = commit.first_data_file(path)
    meta = (pq.read_metadata(first).metadata or {}) if first else {}
    stored = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    if stored is None:
        return spark.read.parquet(path)
    return spark.read.schema(StructType.fromJson(json.loads(stored))).parquet(path)


def upsert_parquet(df: DataFrame, path: str, keys: list[str]) -> None:
    """Key-level delete-then-insert into a parquet target.

    New batch wins on key collision (the reference's DELETE …
    IN (SELECT DISTINCT keys FROM batch) + INSERT,
    postgres_templates.py:192-203). ALL batch rows are inserted — the
    reference's SELECT DISTINCT applies only to the delete's key probe,
    so a batch carrying two rows for one key keeps both (deduping here
    would nondeterministically discard one).

    One keyed pass: the existing rows and the batch rows, each tagged
    with their side, are unioned, range-partitioned on the keys, and
    one window over the keys flags every key the batch carries; the
    write keeps the batch rows and the existing rows of unflagged keys.
    So the plan holds one range shuffle and one window, the existing
    table is scanned once, and every stage of the batch runs once (the
    range sampler re-reads only the batch's last stage: its narrow
    projection over a shuffle or a persisted frame). Range partitioning
    keeps each game's plies in one file, sorted. An existing row with a
    NULL key always survives, as under the delete's equi-join; columns
    of one side missing from the other come back null-filled; the
    output columns come keys first, then the existing table's, then
    the batch's own.

    Local-filesystem targets only (commit.replace_dir renames);
    cluster deployments use upsert_partition_overwrite or a lakehouse
    MERGE instead."""
    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"upsert_parquet only supports local paths, got {path!r}; "
            "use upsert_partition_overwrite for remote filesystems"
        )
    commit.recover(path)
    if os.path.exists(path):
        existing = _read_spark_written(df.sparkSession, path)
        cols = [*keys, *(c for c in existing.columns if c not in keys)]
        cols += [c for c in df.columns if c not in cols]
        new, hit = "__upsert_new", "__upsert_hit"
        rows = (
            existing.withColumn(new, F.lit(False))
            .unionByName(df.withColumn(new, F.lit(True)), allowMissingColumns=True)
            .repartitionByRange(*keys)
        )
        null_key = reduce(lambda a, b: a | b, [F.col(k).isNull() for k in keys])
        merged = (
            rows.withColumn(hit, F.max(new).over(Window.partitionBy(*keys)))
            .filter(F.col(new) | ~F.col(hit) | null_key)
            .select(*cols)
        )
    else:
        merged = df
    commit.replace_dir(path, lambda tmp: merged.write.mode("overwrite").parquet(tmp))


def upsert_jdbc_staging(
    df: DataFrame,
    url: str,
    table: str,
    keys: list[str],
    mode: str = "delete_insert",
    properties: dict[str, str] | None = None,
    quote: str = "",
) -> str:
    """Stage the batch into <table>__staging via JDBC and return the
    server-side merge SQL (DELETE+INSERT like the reference, or ANSI
    MERGE). The caller executes the SQL on its connection — Spark has
    no generic JDBC MERGE, so the pattern is stage + server-side
    statement (postgres_templates.py:160-214 re-expressed).

    ``quote`` wraps COLUMN identifiers (e.g. '"'): Spark's JDBC
    writer creates columns quoted-as-written, so on engines that fold
    unquoted identifiers (Derby/Oracle → upper) the merge SQL must
    quote to match. Postgres folds to lower = the reference's
    unquoted default. Table names are left as given — Spark writes
    them unquoted, so they fold the same way on both sides."""
    q = (lambda c: f"{quote}{c}{quote}") if quote else (lambda c: c)
    staging = f"{table}__staging"
    df.write.jdbc(url, staging, mode="overwrite", properties=properties or {})
    key_list = ", ".join(q(k) for k in keys)
    cols = ", ".join(q(c) for c in df.columns)
    if mode == "merge":
        on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)
        sets = ", ".join(f"{q(c)} = s.{q(c)}" for c in df.columns if c not in keys)
        return (
            f"MERGE INTO {table} t USING {staging} s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES "
            f"({', '.join('s.' + q(c) for c in df.columns)})"
        )
    return (
        f"DELETE FROM {table} WHERE ({key_list}) IN "
        f"(SELECT DISTINCT {key_list} FROM {staging}); "
        f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging}"
    )


def load_csv_dimension(spark, path: str, schema) -> DataFrame:
    """CSV dimension seed (S6 — eco_codes / win_probabilities_eval_only
    COPY, db/assorted_sql/copy_eco_codes.sql)."""
    return spark.read.csv(path, schema=schema, header=False)


def anti_join_delete(target: DataFrame, doomed_keys: DataFrame, keys: list[str]) -> DataFrame:
    """Semi-join DELETE as a transformation (J10 —
    drop_game_evals_with_na.sql:2-4): rows of target whose keys do
    NOT appear in doomed_keys."""
    return target.join(doomed_keys.select(*keys).distinct(), keys, "left_anti")


def scd2_apply(
    current: DataFrame,
    batch: DataFrame,
    keys: list[str],
    attrs: list[str],
    batch_ts: int,
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 merge: fold a new snapshot
    batch into a versioned dimension.

    current: (keys*, attrs*, valid_from, valid_to, is_current) — the
    existing dimension (valid_to NULL on open rows). batch:
    (keys*, attrs*) — the incoming snapshot, one row per key.
    Returns the new dimension:

    * unchanged keys keep their open row;
    * changed attrs close the open row (valid_to = batch_ts,
      is_current = false) and append a new open row;
    * brand-new keys append an open row;
    * keys absent from the batch are left open (a snapshot is a
      partial upsert here, matching the reference's delete-then-
      insert key semantics — full-snapshot expiry is one extra
      anti-join the caller can apply).

    The reference's loader overwrites history (SCD1 delete+insert,
    postgres_templates.py:160-214); this is the warehouse-grade
    extension that keeps it. Plan shape: keyed joins touch only the
    OPEN rows and the batch (closed history unions through
    untouched — at 100 TB partition the dimension by is_current so
    its scan prunes); attr comparison is null-safe so NULL→value
    transitions version correctly.
    """
    ts = F.lit(batch_ts).cast("long")
    dim_cols = [*keys, *attrs, "valid_from", "valid_to", "is_current"]
    closed_history = current.filter(~F.col("is_current")).select(*dim_cols)
    open_rows = current.filter(F.col("is_current")).select(*dim_cols)

    b = batch.select(
        *[F.col(k) for k in keys],
        *[F.col(a).alias(f"__new_{a}") for a in attrs],
        F.lit(True).alias("__hit"),
    )

    def any_attr_changed(new_prefix: str):
        cond = None
        for a in attrs:
            c = ~F.col(a).eqNullSafe(F.col(f"{new_prefix}{a}"))
            cond = c if cond is None else (cond | c)
        return cond

    j = open_rows.join(b, keys, "left")
    keep_open = j.filter(F.col("__hit").isNull()).select(*dim_cols)
    survivors = j.filter(
        F.col("__hit").isNotNull() & ~any_attr_changed("__new_")
    ).select(*dim_cols)
    closed_now = j.filter(
        F.col("__hit").isNotNull() & any_attr_changed("__new_")
    ).select(
        *keys,
        *attrs,
        "valid_from",
        ts.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )

    o = open_rows.select(
        *[F.col(k) for k in keys],
        *[F.col(a).alias(f"__old_{a}") for a in attrs],
        F.lit(True).alias("__open"),
    )
    nb = batch.select(*keys, *attrs).join(o, keys, "left")
    brand_new = nb.filter(F.col("__open").isNull())
    changed_new = nb.filter(F.col("__open").isNotNull() & any_attr_changed("__old_"))
    openers = brand_new.unionByName(changed_new).select(
        *keys,
        *attrs,
        ts.alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return (
        closed_history.unionByName(keep_open)
        .unionByName(survivors)
        .unionByName(closed_now)
        .unionByName(openers)
    )


def read_bounded_ledger(spark, registers_path: str, empty_schema: str):
    """Writer-side read of a register ledger: recover a crashed swap
    (commit.recover), then the live table — or an empty frame for a
    ledger not yet written."""
    from pyspark.errors import AnalysisException

    commit.recover(registers_path)
    try:
        return spark.read.parquet(registers_path)
    except AnalysisException:
        return spark.createDataFrame([], empty_schema)


def bak_swap_write(spark, merged: DataFrame, registers_path: str) -> DataFrame:
    """Replace a BOUNDED register ledger: collect the merged rows
    (KB-scale by construction — the sketch's point), so the write never
    reads the table it replaces, and commit them with
    commit.replace_dir. Returns the materialized snapshot frame."""
    snap = spark.createDataFrame(merged.collect(), merged.schema)
    commit.replace_dir(
        registers_path, lambda tmp: snap.write.mode("overwrite").parquet(tmp)
    )
    return snap


def compact_append_ledger(spark, ledger_dir: str, fold) -> None:
    """Fold an APPEND-ONLY ledger (each micro-batch appends rows; no
    batch_id partitioning) into one compact rewrite — the set-union
    sibling of AdditiveLedger.compact, for the ledgers whose fold is
    IDEMPOTENT (digest-set distinct, count sum-merge at the reader's
    own grain): no `_folded_batches.json` marker or folded-id guard
    is needed, because an at-least-once replay after the fold
    re-contributes rows the fold already absorbed (set union) or that
    the reader's aggregation re-merges identically. Under continuous
    ingest the append dir otherwise grows one file set per
    micro-batch forever — the same unbounded small-files hazard the
    batch-partitioned ledgers had.

    ``fold`` maps the full ledger frame to its compact equivalent and
    must be probe-invariant (readers see identical results before and
    after) and idempotent (fold∘fold == fold, so a replayed
    compaction is a content no-op). The folded frame writes as a
    distributed job while the live ledger it reads stays in place,
    then commit.replace_dir swaps it in."""
    commit.recover(ledger_dir)
    if not os.path.exists(ledger_dir):
        return
    folded = fold(spark.read.parquet(ledger_dir))
    commit.replace_dir(
        ledger_dir, lambda tmp: folded.write.mode("overwrite").parquet(tmp)
    )


def write_training_splits(
    assigned: DataFrame, out_path: str, split_col: str = "split"
) -> None:
    """Materialize a training corpus partitioned by its split
    assignment (the output of plans.corpus.leakage_safe_split joined
    back onto the documents): one directory per split value, so a
    training job reads ONLY its split via partition pruning — no
    filter scan over the full corpus at every epoch.

    100 TB shape: partitionBy on a 3-value column adds no keyed
    exchange (each task writes its rows into per-split files);
    readers hit directory-level pruning (`PartitionFilters:
    [isnotnull(split), (split = train)]`).
    """
    (
        assigned.write.mode("overwrite")
        .partitionBy(split_col)
        .parquet(out_path)
    )


def manifest_frame(df: DataFrame, keys: list[str]) -> DataFrame:
    """Per-key reproducibility manifest: row count plus an
    ORDER-INDEPENDENT content hash (exact decimal sum of per-row
    xxhash64 over all columns, sorted by name so column order can't
    change the digest). Two datasets with equal manifests are
    row-multiset-equal per key with overwhelming probability; a
    migration, backfill, or engine upgrade is audited by comparing
    two tiny manifest tables instead of 100 TB of bytes.

    100 TB shape: one map-side-combined aggregation keyed on the
    manifest keys; the hash is a scan-stage projection.
    """
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    row_hash = F.xxhash64(*[F.col(c) for c in cols])
    return df.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(row_hash.cast("decimal(38,0)")).cast("string").alias("content_hash"),
    )


def write_manifest(df: DataFrame, manifest_path: str, keys: list[str]) -> None:
    """Materialize manifest_frame next to a dataset it describes."""
    manifest_frame(df, keys).write.mode("overwrite").parquet(manifest_path)


def verify_manifest(df: DataFrame, manifest_path: str, keys: list[str]) -> DataFrame:
    """Recompute the manifest over `df` and return the keys whose
    (n_rows, content_hash) disagree with the stored manifest —
    empty result = the dataset is row-multiset-identical per key.
    Keys present on only one side also surface (full outer join)."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    want = spark.read.parquet(manifest_path).select(
        *keys,
        F.col("n_rows").alias("want_rows"),
        F.col("content_hash").alias("want_hash"),
    )
    got = manifest_frame(df, keys).select(
        *keys,
        F.col("n_rows").alias("got_rows"),
        F.col("content_hash").alias("got_hash"),
    )
    return (
        got.join(want, keys, "full_outer")
        .filter(
            ~(
                F.col("got_rows").eqNullSafe(F.col("want_rows"))
                & F.col("got_hash").eqNullSafe(F.col("want_hash"))
            )
        )
    )
