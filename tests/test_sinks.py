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
        [("a", 1, 10, "o1"), ("b", 2, 20, "o2"), ("c", 3, 30, "o3"), ("n", None, 0, "o4")],
        "name string, k int, v int, old string",
    )
    upsert_parquet(base, path, keys=["k"])
    batch = spark.createDataFrame(
        [(2, "b2", 99, "x"), (4, "d", 40, "x"), (4, "d", 40, "x"), (None, "n2", 1, "x")],
        "k int, name string, v int, extra string",
    )
    upsert_parquet(batch, path, keys=["k"])

    got = spark.read.parquet(path)
    # keys first, then the existing table's columns, then the batch's
    assert got.columns == ["k", "name", "v", "old", "extra"]
    # ALL batch rows are inserted (the reference's SELECT DISTINCT
    # is only the delete's key probe): duplicate-key batch rows stay.
    # A NULL key never matches (the delete is an equi-join), so the
    # existing NULL-key row survives the batch's NULL-key row. Columns
    # one side lacks come back null-filled.
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        [
            (1, "a", 10, "o1", None),
            (2, "b2", 99, None, "x"),
            (3, "c", 30, "o3", None),
            (4, "d", 40, None, "x"),
            (4, "d", 40, None, "x"),
            (None, "n", 0, "o4", None),
            (None, "n2", 1, None, "x"),
        ],
        key=repr,
    )


def test_upsert_parquet_runs_each_batch_stage_once(spark, tmp_path):
    """The upsert plans the batch once. The batch here is an aggregate
    whose key a Python UDF computes, as the ETL's tables sit on the
    parse UDF below their joins: the UDF counts its calls, one per
    input row. A plan that probes the batch's keys and unions the
    batch apart runs that stage more than once (300 calls), since the
    copies are pruned differently and cannot share an exchange. The
    range shuffle's sampler re-reads the batch's shuffled output, not
    its input."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "target")
    upsert_parquet(spark.range(50).toDF("k").withColumn("v", F.lit(0)), path, ["k"])
    calls = spark.sparkContext.accumulator(0)

    def key(x):
        calls.add(1)
        return x % 40

    raw = spark.range(100).withColumn("k", F.udf(key, "long")("id"))
    batch = raw.groupBy("k").agg(F.count("*").alias("v"))
    upsert_parquet(batch, path, ["k"])

    assert calls.value == 100
    got = dict(spark.read.parquet(path).collect())
    assert len(got) == 50 and {got[k] for k in range(40)} == {2, 3}
    assert {got[k] for k in range(40, 50)} == {0}


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
