"""Sinks: idempotent upsert strategies (SURVEY §2.1 S5).

The reference loads every table with delete-then-insert keyed on id
columns (src/pipeline_import/postgres_templates.py:160-214: Arrow
ingest to a temp table, DELETE matching keys, INSERT intersected
columns). Spark-native equivalents, in preference order:

1. ``upsert_partition_overwrite`` — dynamic partition overwrite for
   date/entity-partitioned layouts: rewrite only the partitions the
   batch touches. The 100 TB default: no read of existing data, no
   shuffle beyond the write, idempotent per partition.
2. ``upsert_parquet`` — key-level merge for unpartitioned targets:
   read target, anti-join away rows whose keys are in the batch,
   union the batch, rewrite atomically (commit.replace_dir). The
   MERGE-emulation pattern for lakehouse-less deployments.
3. ``upsert_jdbc_staging`` — the staging-table + MERGE/DELETE+INSERT
   plan for real JDBC targets; generates the SQL and stages via
   df.write.jdbc (exercised only when a JDBC url/driver is present).

Column-intersection loading (postgres_templates.py:187-203) is
``schemas.normalize_to_schema``.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

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


def ledger_content_digest(df: DataFrame, cols: list[str]) -> str:
    """Order-independent content fingerprint of a ledger frame:
    ``n_rows:sum(xxhash64(cols-as-strings) as decimal(38,0))``. Row
    order and partitioning don't matter (sum is commutative over the
    exact decimal domain); any changed/added/dropped row moves the
    sum with probability ~1-2^-64. Deterministic only when the row
    VALUES are — a ledger of float sums may legitimately differ
    bitwise on recompute, in which case the replay guard degrades to
    the raise (never to a silent skip)."""
    h = F.xxhash64(*[F.col(c).cast("string") for c in sorted(cols)])
    zero = F.lit(0).cast("decimal(38,0)")
    row = df.agg(
        F.coalesce(F.sum(h.cast("decimal(38,0)")), zero).alias("d"),
        F.count("*").alias("n"),
    ).first()
    return f"{row['n']}:{row['d']}"


def compact_batch_ledger(
    spark,
    ledger_dir: str,
    group_cols: list[str],
    sum_cols: list[str] = (),
    max_cols: list[str] = (),
) -> None:
    """Fold a batch-partitioned ADDITIVE ledger into a single batch-0
    partition, idempotently — the generic maintenance pass for the
    streaming ledgers that land one `batch_id=N` partition per
    micro-batch forever (the dup-gram df ledger, CMS counter cells,
    …): probes stay correct (they aggregate across batches anyway)
    but small files grow without bound under continuous ingest.

    Fold semantics: groupBy(group_cols) with SUM over sum_cols and
    MAX over max_cols — exactly the aggregation the ledger's probe
    applies across batches, so any probe is bit-identical before and
    after the fold. Only ledgers whose probe IS such a sum/max fold
    may use this; per-batch SNAPSHOT series (where the batch history
    is the point) must not.

    The merged table replaces the ledger in one commit.replace_dir
    swap that carries the `_folded_batches.json` marker, so ingest
    paths refuse folded ids (commit.guard_ingest) from the instant the
    fold lands — a replayed batch under a folded id would DOUBLE-COUNT
    (ledger addition is not idempotent).
    """
    commit.recover(ledger_dir)
    if not os.path.exists(ledger_dir):
        return
    folded = commit.read_folded(ledger_dir)
    cur = spark.read.parquet(ledger_dir)
    ids = {
        int(r["batch_id"])
        for r in cur.select("batch_id").distinct().collect()
    }
    if ids <= {0} and not folded:
        return  # nothing ever ingested beyond a fresh base: no-op
    if ids == {0} and folded:
        return  # already folded; replayed compaction is a no-op
    # Record a content digest per NOT-yet-folded batch before the fold
    # destroys its partition: the folded-id ingest guard uses these to
    # recognize the one legitimate replay shape (batch committed to
    # the ledger but not the stream checkpoint when compaction folded
    # it — identical rows) and no-op instead of wedging the stream.
    # `ids - folded` never re-digests a merged batch-0 (0 enters the
    # marker at the first fold).
    data_cols = sorted(c for c in cur.columns if c != "batch_id")
    h = F.xxhash64(*[F.col(c).cast("string") for c in data_cols])
    zero = F.lit(0).cast("decimal(38,0)")
    digest_rows = (
        cur.filter(F.col("batch_id").isin(sorted(ids - folded)))
        .groupBy("batch_id")
        .agg(
            F.coalesce(F.sum(h.cast("decimal(38,0)")), zero).alias("d"),
            F.count("*").alias("n"),
        )
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
    aggs = [F.sum(c).alias(c) for c in sum_cols] + [
        F.max(c).alias(c) for c in max_cols
    ]
    merged = (
        cur.groupBy(*group_cols).agg(*aggs).withColumn("batch_id", F.lit(0))
    )
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


def upsert_parquet(df: DataFrame, path: str, keys: list[str]) -> None:
    """Key-level delete-then-insert into a parquet target.

    New batch wins on key collision (the reference's DELETE …
    IN (SELECT DISTINCT keys FROM batch) + INSERT,
    postgres_templates.py:192-203: anti-join ≙ the delete, union ≙
    the insert). ALL batch rows are inserted — the reference's
    SELECT DISTINCT applies only to the delete's key probe, so a
    batch carrying two rows for one key keeps both (deduping here
    would nondeterministically discard one).

    Local-filesystem targets only (commit.replace_dir renames);
    cluster deployments use upsert_partition_overwrite or a lakehouse
    MERGE instead."""
    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"upsert_parquet only supports local paths, got {path!r}; "
            "use upsert_partition_overwrite for remote filesystems"
        )
    spark = df.sparkSession
    batch = df
    commit.recover(path)
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        keep = existing.join(batch.select(*keys).distinct(), keys, "left_anti")
        merged = keep.unionByName(batch, allowMissingColumns=True)
    else:
        merged = batch
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
    sibling of compact_batch_ledger, for the ledgers whose fold is
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


def repair_partitions(
    source: DataFrame, target_path: str, manifest_path: str, keys: list[str]
) -> list:
    """Anti-entropy repair driven by the reproducibility manifest:
    verify the partitioned target against its stored manifest and
    rewrite ONLY the partitions whose (n_rows, content_hash)
    disagree, pulling the correct rows from `source`. Healthy
    partitions' files are never touched (dynamic partition
    overwrite), so fixing one corrupt partition of a 100 TB dataset
    costs one partition's write, not a full rewrite.

    Returns the repaired key tuples (empty = target was healthy).
    The source must hold the authoritative rows for the repaired
    keys; re-running after a repair verifies clean and rewrites
    nothing. Orphans — bad keys the MANIFEST does not list at all
    (extra/corrupt partitions that shouldn't exist; dynamic partition
    overwrite can't touch a partition absent from the written frame)
    — have their target partition directories deleted outright, so
    the repair loop converges for them too. Classification is by
    manifest absence, never by source emptiness: a manifest-listed
    key with no source rows means the caller handed us a stale or
    filtered source, and deleting data on that evidence would be
    irreversible — we raise instead. All key tuples are compared
    after casting to the SOURCE key schema (the verify join infers
    partition-column types from the target directory names, which
    can disagree, e.g. int-inferred vs string).
    """
    from pyspark.sql import functions as F

    spark = source.sparkSession
    key_schema = source.select(*keys).schema
    bad = (
        verify_manifest(spark.read.parquet(target_path), manifest_path, keys)
        .select(
            *[
                F.col(c).cast(f.dataType).alias(c)
                for c, f in zip(keys, key_schema.fields)
            ],
            F.col("want_rows").isNull().alias("_orphan"),
        )
        .collect()
    )
    if not bad:
        return []
    bad_keys = [tuple(r)[: len(keys)] for r in bad]
    orphans = [k for k, r in zip(bad_keys, bad) if r["_orphan"]]
    repairable = [k for k, r in zip(bad_keys, bad) if not r["_orphan"]]
    if repairable:
        bad_df = spark.createDataFrame([list(k) for k in repairable], key_schema)
        fix = source.join(F.broadcast(bad_df), keys, "left_semi")
        covered = {
            tuple(r) for r in fix.select(*keys).distinct().collect()
        }  # driver-side tiny: bounded by the bad-key count
        missing = [k for k in repairable if k not in covered]
        if missing:
            raise ValueError(
                "repair_partitions: manifest lists keys the source has no "
                f"rows for ({missing}); refusing to delete manifest-covered "
                "partitions — pass the authoritative, unfiltered source"
            )
        upsert_partition_overwrite(fix, target_path, keys)
    for k in orphans:
        # hive layout: target/key1=v1/key2=v2. Match directory names
        # by UNESCAPING what Spark wrote (it percent-encodes special
        # chars; None becomes the Hive default-partition name) rather
        # than re-deriving the escaped form — a raw f"{col}={val}"
        # path misses any escaped value and the orphan would survive.
        from urllib.parse import unquote

        level = target_path
        for c, v in zip(keys, k):
            want = "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)
            nxt = None
            for d in os.listdir(level):
                if d.startswith(f"{c}=") and unquote(d[len(c) + 1 :]) == want:
                    nxt = os.path.join(level, d)
                    break
            if nxt is None:
                break
            level = nxt
        else:
            shutil.rmtree(level, ignore_errors=True)
    return bad_keys


def check_or_stamp_format(dir_path: str, format_str: str, what: str) -> None:
    """Identity stamp for a persisted index directory — the simhash
    band index's `_format.json` discipline (r11 ADVICE), generalized
    in r12 to every on-disk index whose bytes only mean something
    under the code geometry that wrote them (PQ subspace/codebook
    shape, BM25 tokenizer/bucket-hash). A probe or ingest against an
    index written under a different geometry would return silently
    wrong results with no error; instead: a fresh directory is
    stamped, a stamped mismatch refuses with a rebuild message, and a
    pre-existing unstamped directory refuses as unverifiable.
    Underscore-prefixed, so parquet readers never see it; directory
    swaps carry it (commit.replace_dir)."""
    if not require_format(dir_path, format_str, what):
        stamp_format(dir_path, format_str)


def stamp_format(dir_path: str, format_str: str) -> None:
    """Unconditional (re)stamp — the BUILD path, whose intent is a
    rebuild: overwriting an old-format index with a fresh one is the
    documented remedy, so the stamp follows the bytes."""
    os.makedirs(dir_path, exist_ok=True)
    commit.write_json(os.path.join(dir_path, "_format.json"), {"format": format_str})


def require_format(dir_path: str, format_str: str, what: str) -> bool:
    """PROBE-path check: a stamped mismatch or an unstamped directory
    WITH data refuses; a missing/empty directory defers to the
    reader's own error (probing a nonexistent index should fail as
    exactly that, not as a stamping complaint). Returns whether the
    directory carries a (matching) stamp."""
    stamp = commit.read_json(os.path.join(dir_path, "_format.json"))
    if stamp is not None:
        stored = stamp.get("format")
        if stored != format_str:
            raise ValueError(
                f"{what} at {dir_path} was written with format "
                f"{stored!r} but this build expects {format_str!r} — "
                "rebuild the index"
            )
        return True
    if os.path.isdir(dir_path) and any(
        not n.startswith("_") for n in os.listdir(dir_path)
    ):
        raise ValueError(
            f"{what} at {dir_path} predates format stamping and cannot "
            f"be verified against {format_str!r} — rebuild the index"
        )
    return False
