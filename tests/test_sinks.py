"""Sinks: upsert strategies (SURVEY §2.1 S5, §2.3 J10).

Mirrors the reference loader's delete-then-insert key semantics
(src/pipeline_import/postgres_templates.py:160-214) against parquet
targets.
"""

from __future__ import annotations

import os

from chess_pipeline_spark.sinks import (
    anti_join_delete,
    upsert_jdbc_staging,
    upsert_parquet,
    upsert_partition_overwrite,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_upsert_parquet_new_batch_wins(spark, tmp_path):
    path = str(tmp_path / "target")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, name string, v int"
    )
    upsert_parquet(base, path, keys=["k"])
    batch = spark.createDataFrame(
        [(2, "b2", 99), (4, "d", 40), (4, "d", 40)], "k int, name string, v int"
    )
    upsert_parquet(batch, path, keys=["k"])

    got = _rows(spark.read.parquet(path))
    # ALL batch rows are inserted (the reference's SELECT DISTINCT
    # is only the delete's key probe): duplicate-key batch rows stay
    assert got == [
        (1, "a", 10),
        (2, "b2", 99),
        (3, "c", 30),
        (4, "d", 40),
        (4, "d", 40),
    ]


def test_upsert_parquet_idempotent(spark, tmp_path):
    path = str(tmp_path / "target")
    batch = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    upsert_parquet(batch, path, keys=["k"])
    upsert_parquet(batch, path, keys=["k"])
    assert _rows(spark.read.parquet(path)) == [(1, 10), (2, 20)]


def test_upsert_parquet_crash_before_final_rename_loses_nothing(
    spark, tmp_path, monkeypatch
):
    """A crash just before the rename that moves the new table into
    place must leave the full table recoverable: the retried upsert
    sees all 100 old rows plus the batch (101), and no `.__tmp__`
    orphan survives the retry."""
    path = str(tmp_path / "target")
    upsert_parquet(spark.range(100).toDF("k"), path, keys=["k"])
    batch = spark.createDataFrame([(100,)], "k long")

    real_rename, real_replace = os.rename, os.replace

    def crash_on_install(rename):
        def go(src, dst, *a, **kw):
            if os.fspath(dst) == path and ".__tmp__" in os.fspath(src):
                raise OSError("injected crash before the install rename")
            return rename(src, dst, *a, **kw)

        return go

    monkeypatch.setattr(os, "rename", crash_on_install(real_rename))
    monkeypatch.setattr(os, "replace", crash_on_install(real_replace))
    try:
        upsert_parquet(batch, path, keys=["k"])
    except OSError:
        pass
    monkeypatch.setattr(os, "rename", real_rename)
    monkeypatch.setattr(os, "replace", real_replace)

    upsert_parquet(batch, path, keys=["k"])
    assert _rows(spark.read.parquet(path)) == [(i,) for i in range(101)]
    assert not [n for n in os.listdir(tmp_path) if ".__tmp__" in n]


def test_upsert_partition_overwrite_touches_only_batch_partitions(spark, tmp_path):
    path = str(tmp_path / "part_target")
    day1 = spark.createDataFrame(
        [("2024-01-01", 1, 1.0), ("2024-01-02", 2, 2.0)], "d string, k int, v double"
    )
    upsert_partition_overwrite(day1, path, ["d"])
    # rewrite only d=2024-01-02; d=2024-01-01 must survive untouched
    day2 = spark.createDataFrame([("2024-01-02", 9, 9.0)], "d string, k int, v double")
    upsert_partition_overwrite(day2, path, ["d"])

    # partition-column values are re-inferred on read (string -> date);
    # cast back for a stable comparison
    got = _rows(
        spark.read.parquet(path).selectExpr("cast(d as string) d", "k", "v")
    )
    assert got == [("2024-01-01", 1, 1.0), ("2024-01-02", 9, 9.0)]
    # conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"
    )
    assert os.path.isdir(os.path.join(path, "d=2024-01-01"))


def test_anti_join_delete(spark):
    target = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "k int, v string")
    doomed = spark.createDataFrame([(2, "ignored"), (2, "dup")], "k int, w string")
    got = _rows(anti_join_delete(target, doomed, ["k"]))
    assert got == [(1, "x"), (3, "z")]


def test_upsert_jdbc_staging_sql_generation():
    # no JDBC server in this environment — exercise SQL generation
    # with the staging write stubbed out
    class _FakeWriter:
        def jdbc(self, *a, **kw):
            pass

    class _FakeDF:
        columns = ["k", "name", "v"]

        @property
        def write(self):
            return _FakeWriter()

    sql = upsert_jdbc_staging(_FakeDF(), "jdbc:x", "t", ["k"], mode="delete_insert")
    assert "DELETE FROM t WHERE (k) IN" in sql
    assert "INSERT INTO t (k, name, v)" in sql
    merge = upsert_jdbc_staging(_FakeDF(), "jdbc:x", "t", ["k"], mode="merge")
    assert merge.startswith("MERGE INTO t t USING t__staging s ON t.k = s.k")
    assert "UPDATE SET name = s.name, v = s.v" in merge


def test_scd2_apply_versions_changes(spark):
    import pyspark.sql.functions as F

    from chess_pipeline_spark.sinks import scd2_apply

    dim_schema = (
        "k long, name string, tier string, valid_from long, "
        "valid_to long, is_current boolean"
    )
    current = spark.createDataFrame(
        [
            # closed history for k=1
            (1, "alice", "gold", 100, 200, False),
            # open rows
            (1, "alice", "platinum", 200, None, True),
            (2, "bob", "silver", 150, None, True),
            (3, "carol", None, 150, None, True),  # NULL attr open row
            (4, "dan", "bronze", 150, None, True),
        ],
        dim_schema,
    )
    batch = spark.createDataFrame(
        [
            (1, "alice", "platinum"),   # unchanged -> survivor
            (2, "bob", "gold"),         # changed -> close + reopen
            (3, "carol", "silver"),     # NULL -> value: must version
            (5, "eve", "silver"),       # brand new key
            # k=4 absent -> stays open untouched
        ],
        "k long, name string, tier string",
    )
    out = scd2_apply(current, batch, ["k"], ["name", "tier"], batch_ts=300)
    rows = {
        (r.k, r.valid_from): (r.name, r.tier, r.valid_to, r.is_current)
        for r in out.collect()
    }
    assert len(rows) == 8  # 1 closed + 5 open-ish + 2 new versions
    # closed history untouched
    assert rows[(1, 100)] == ("alice", "gold", 200, False)
    # unchanged survivor stays open with original valid_from
    assert rows[(1, 200)] == ("alice", "platinum", None, True)
    # changed: old row closed at 300, new open row from 300
    assert rows[(2, 150)] == ("bob", "silver", 300, False)
    assert rows[(2, 300)] == ("bob", "gold", None, True)
    # NULL -> value transition versions (null-safe comparison)
    assert rows[(3, 150)] == ("carol", None, 300, False)
    assert rows[(3, 300)] == ("carol", "silver", None, True)
    # absent key left open
    assert rows[(4, 150)] == ("dan", "bronze", None, True)
    # brand-new key opens
    assert rows[(5, 300)] == ("eve", "silver", None, True)

    # idempotence: re-applying the same snapshot changes nothing
    again = scd2_apply(out, batch, ["k"], ["name", "tier"], batch_ts=400)
    canon = lambda df: sorted(map(repr, map(tuple, df.collect())))  # noqa: E731
    assert canon(out) == canon(again)

    # exactly one open row per key
    opens = out.filter(F.col("is_current")).groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in opens)


def test_orc_and_jsonl_round_trip_parity(spark, sf_dir, tmp_path):
    """Format-breadth check for the scan/sink matrix: the documents
    table written as ORC and as JSON-lines and read back must equal
    the parquet source row-for-row (ORC is the second columnar
    format Spark ships natively; JSONL is the interchange format
    ingest pipelines hand us). Schema note: JSON round-trips longs
    and strings losslessly but not binary — which is why the media
    path normalizes payloads INTO parquet/ORC, never JSON."""
    import pyspark.sql.functions as F

    from chess_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    canon = lambda df: sorted(  # noqa: E731
        map(repr, map(tuple, df.select(sorted(df.columns)).collect()))
    )
    want = canon(docs)

    orc_path = str(tmp_path / "docs_orc")
    docs.write.mode("overwrite").orc(orc_path)
    assert canon(spark.read.orc(orc_path)) == want

    jl_path = str(tmp_path / "docs_jsonl")
    docs.write.mode("overwrite").json(jl_path)
    back = spark.read.schema(docs.schema).json(jl_path)
    assert canon(back) == want


def test_write_training_splits_prunes_partitions(spark, sf_dir, tmp_path):
    """Split-partitioned export: write documents under their
    leakage-safe split, read one split back — row-identical to
    filtering the assignment frame, and the reader's plan prunes at
    the DIRECTORY level (PartitionFilters on split, no split column
    in the data files)."""
    from chess_pipeline_spark.plans import catalog
    from chess_pipeline_spark.sinks import write_training_splits
    from chess_pipeline_spark.sources import load_table

    assigned = catalog()["leakage_safe_split"].spark(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = str(tmp_path / "splits")
    write_training_splits(docs.join(assigned, "doc_id"), out)

    back = spark.read.parquet(out).filter("split = 'train'")
    want = sorted(
        r["doc_id"] for r in assigned.filter("split = 'train'").collect()
    )
    got = sorted(r["doc_id"] for r in back.collect())
    assert got == want and got
    import re

    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and re.search(r"split#\d+ = train", pf[0]), pf


def test_manifest_round_trip_and_tamper_detection(spark, sf_dir, tmp_path):
    """Reproducibility manifest: identical data verifies clean even
    reordered/repartitioned (order-independent hash); a single
    mutated row, a dropped row, and a novel key each surface exactly
    their manifest key."""
    import pyspark.sql.functions as F

    from chess_pipeline_spark.sinks import verify_manifest, write_manifest
    from chess_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    man = str(tmp_path / "manifest")
    write_manifest(docs, man, ["source"])

    # clean verify, even after a reshuffle/reorder
    shuffled = docs.repartition(7).sortWithinPartitions("n_chars")
    assert verify_manifest(shuffled, man, ["source"]).count() == 0

    # mutate one row's text -> only that source flagged
    victim = docs.orderBy("doc_id").first()
    mutated = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == victim["doc_id"], F.lit("tampered")).otherwise(
            F.col("text")
        ),
    )
    bad = verify_manifest(mutated, man, ["source"]).collect()
    assert [r["source"] for r in bad] == [victim["source"]]

    # drop one row -> count mismatch on its source only
    dropped = docs.filter(F.col("doc_id") != victim["doc_id"])
    bad = verify_manifest(dropped, man, ["source"]).collect()
    assert [r["source"] for r in bad] == [victim["source"]]
    assert bad[0]["got_rows"] == bad[0]["want_rows"] - 1

    # novel key on one side -> surfaces via the full outer join
    extra = docs.unionByName(
        docs.limit(1).withColumn("source", F.lit("srcNEW"))
    )
    bad = {r["source"] for r in verify_manifest(extra, man, ["source"]).collect()}
    assert bad == {"srcNEW"}


def test_repair_partitions_touches_only_corrupt_partitions(spark, sf_dir, tmp_path):
    """Anti-entropy law: corrupt one split partition of the training
    export; repair_partitions rewrites exactly that partition from
    the source (healthy partitions' files keep their inodes), the
    manifest verifies clean afterwards, and a second repair is a
    no-op."""
    import os

    import pyspark.sql.functions as F

    from chess_pipeline_spark.plans import catalog
    from chess_pipeline_spark.sinks import (
        repair_partitions,
        verify_manifest,
        write_manifest,
        write_training_splits,
    )
    from chess_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    assigned = docs.join(
        catalog()["leakage_safe_split"].spark(spark, sf_dir).select("doc_id", "split"),
        "doc_id",
    )
    out = str(tmp_path / "export")
    man = str(tmp_path / "manifest")
    write_training_splits(assigned, out)
    write_manifest(assigned, man, ["split"])

    def files(split):
        d = os.path.join(out, f"split={split}")
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    healthy_before = files("train")

    # corrupt the valid partition: rewrite it missing one row
    # (materialize first — a lazy self-overwrite reads deleted files)
    valid_pd = (
        spark.read.parquet(os.path.join(out, "split=valid"))
        .orderBy("doc_id")
        .toPandas()
    )
    degraded = spark.createDataFrame(valid_pd.iloc[1:])
    degraded.write.mode("overwrite").parquet(os.path.join(out, "split=valid"))
    # the partition-dir rewrite leaves stray _SUCCESS etc. but the
    # reader sees the degraded rows
    assert verify_manifest(
        spark.read.parquet(out), man, ["split"]
    ).count() == 1

    repaired = repair_partitions(assigned, out, man, ["split"])
    assert repaired == [("valid",)]
    assert verify_manifest(spark.read.parquet(out), man, ["split"]).count() == 0
    assert files("train") == healthy_before  # untouched inodes
    assert repair_partitions(assigned, out, man, ["split"]) == []


def test_repair_partitions_removes_orphan_partitions(spark, sf_dir, tmp_path):
    """The r8 ADVICE convergence gap: a corrupt/extra target partition
    whose key has NO source rows was reported bad but never rewritten
    (dynamic partition overwrite can't touch a partition absent from
    the written frame), so repair never converged for it. The repair
    now deletes such orphan partition directories outright: one repair
    pass, then the manifest verifies clean and a second pass is a
    no-op."""
    import os

    from chess_pipeline_spark.plans import catalog
    from chess_pipeline_spark.sinks import (
        repair_partitions,
        verify_manifest,
        write_manifest,
        write_training_splits,
    )
    from chess_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    assigned = docs.join(
        catalog()["leakage_safe_split"].spark(spark, sf_dir).select("doc_id", "split"),
        "doc_id",
    )
    out = str(tmp_path / "export")
    man = str(tmp_path / "manifest")
    write_training_splits(assigned, out)
    write_manifest(assigned, man, ["split"])

    # plant an orphan partition: a split value that exists in neither
    # the source nor the manifest
    orphan_rows = assigned.limit(3).drop("split")
    orphan_rows.write.mode("overwrite").parquet(
        os.path.join(out, "split=stale_experiment")
    )
    assert verify_manifest(spark.read.parquet(out), man, ["split"]).count() == 1

    repaired = repair_partitions(assigned, out, man, ["split"])
    assert repaired == [("stale_experiment",)]
    assert not os.path.exists(os.path.join(out, "split=stale_experiment"))
    assert verify_manifest(spark.read.parquet(out), man, ["split"]).count() == 0
    assert repair_partitions(assigned, out, man, ["split"]) == []


def test_repair_removes_orphan_with_escaped_partition_value(spark, tmp_path):
    """Hive-layout partition values with special characters are
    percent-escaped on disk (e.g. 'a b:c' -> 'a%20b%3Ac'); the orphan
    deletion must match the ESCAPED directory by unescaping it, not
    re-derive the path from the raw value."""
    import os

    from chess_pipeline_spark.sinks import (
        repair_partitions,
        verify_manifest,
        write_manifest,
    )

    src = spark.createDataFrame(
        [("clean", 1), ("clean", 2), ("a b:c", 3)], "part string, v int"
    )
    out = str(tmp_path / "data")
    man = str(tmp_path / "man")
    src.write.partitionBy("part").mode("overwrite").parquet(out)
    # the escaped dir exists on disk
    dirs = [d for d in os.listdir(out) if d.startswith("part=")]
    assert any("%" in d for d in dirs), dirs
    # manifest + source agree only on the 'clean' partition: the
    # escaped one becomes an orphan with no source rows
    keep = src.filter("part = 'clean'")
    write_manifest(keep, man, ["part"])
    repaired = repair_partitions(keep, out, man, ["part"])
    assert repaired == [("a b:c",)]
    assert not any("%" in d for d in os.listdir(out) if d.startswith("part="))
    assert verify_manifest(spark.read.parquet(out), man, ["part"]).count() == 0
    assert repair_partitions(keep, out, man, ["part"]) == []


def test_repair_refuses_stale_source_for_manifest_listed_keys(spark, tmp_path):
    """The r9 ADVICE deletion hazard: orphan = MANIFEST-absent, never
    source-absent. A manifest-listed key whose rows are missing from
    the source means the caller passed a stale/filtered source;
    deleting that partition would be irreversible data loss, so the
    repair must raise and leave the target byte-untouched."""
    import os

    import pytest

    from chess_pipeline_spark.sinks import (
        repair_partitions,
        write_manifest,
    )

    src = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "part string, v int"
    )
    out = str(tmp_path / "data")
    man = str(tmp_path / "man")
    src.write.partitionBy("part").mode("overwrite").parquet(out)
    write_manifest(src, man, ["part"])
    # corrupt partition b so verify flags it, then hand repair a
    # source filtered down to partition a only
    spark.createDataFrame([(99,)], "v int").write.mode("overwrite").parquet(
        os.path.join(out, "part=b")
    )
    stale = src.filter("part = 'a'")
    with pytest.raises(ValueError, match="manifest lists keys"):
        repair_partitions(stale, out, man, ["part"])
    # the manifest-covered partition directory survived the refusal
    assert os.path.isdir(os.path.join(out, "part=b"))


def test_repair_casts_inferred_partition_types_to_source_schema(spark, tmp_path):
    """Partition-directory values like part=7 are int-inferred when the
    target is read back, while the source key column is string; the
    verify-join tuples must be cast to the SOURCE key schema before
    comparison or a repairable digit-keyed partition is misclassified
    as an orphan and deleted instead of rewritten."""
    import os

    from chess_pipeline_spark.sinks import (
        repair_partitions,
        verify_manifest,
        write_manifest,
    )

    src = spark.createDataFrame(
        [("7", 1), ("7", 2), ("8", 3)], "part string, v int"
    )
    out = str(tmp_path / "data")
    man = str(tmp_path / "man")
    src.write.partitionBy("part").mode("overwrite").parquet(out)
    write_manifest(src, man, ["part"])
    # reader infers the digit partition values as ints (the hash side
    # of the manifest therefore flags every partition — type inference
    # changed the hashed bytes — but the point under test is the
    # orphan/repairable CLASSIFICATION, which must compare key tuples
    # in the source schema)
    assert dict(spark.read.parquet(out).dtypes)["part"] in ("int", "bigint")
    # corrupt partition 7: drop a row
    spark.createDataFrame([(1,)], "v int").write.mode("overwrite").parquet(
        os.path.join(out, "part=7")
    )
    repaired = repair_partitions(src, out, man, ["part"])
    assert ("7",) in repaired
    assert all(k in {("7",), ("8",)} for k in repaired)
    # repaired in place from the source — never deleted-as-orphan
    assert os.path.isdir(os.path.join(out, "part=7"))
    assert os.path.isdir(os.path.join(out, "part=8"))
    got = {
        (str(r["part"]), r["v"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {("7", 1), ("7", 2), ("8", 3)}
