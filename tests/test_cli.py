"""The scripts/run_etl.py CLI drives both pipelines end-to-end from
files on disk — the user-facing path a reference switcher would run.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

import run_etl  # noqa: E402

from tests.test_chess_domain import _json_row  # noqa: E402
from tests.test_parse import PGN_FULL, PGN_MATE  # noqa: E402


def test_cli_games_end_to_end(spark, tmp_path):
    pgn_file = tmp_path / "games.pgn"
    pgn_file.write_text(PGN_FULL + "\n\n" + PGN_MATE)
    json_file = tmp_path / "games.ndjson"
    rows = [
        _json_row(id="abcd1234"),
        _json_row(id="mate0001", status="mate"),
    ]
    json_file.write_text("\n".join(json.dumps(r) for r in rows))
    out = tmp_path / "wh"

    rc = run_etl.main(
        [
            "games",
            "--pgn",
            str(pgn_file),
            "--json",
            str(json_file),
            "--player",
            "PlayerOne",
            "--out",
            str(out),
        ],
        spark=spark,
    )
    assert rc == 0
    assert spark.read.parquet(str(out / "chess_games")).count() == 2
    n_moves = spark.read.parquet(str(out / "game_moves")).count()
    assert n_moves > 0
    # idempotency: a second identical run must not duplicate rows
    rc = run_etl.main(
        [
            "games",
            "--pgn",
            str(pgn_file),
            "--json",
            str(json_file),
            "--player",
            "PlayerOne",
            "--out",
            str(out),
        ],
        spark=spark,
    )
    assert rc == 0
    assert spark.read.parquet(str(out / "chess_games")).count() == 2
    assert spark.read.parquet(str(out / "game_moves")).count() == n_moves


def test_cli_games_reads_a_cache_a_crashed_swap_left_in_bak(spark, tmp_path):
    """A position_evals swap that crashed between its two renames leaves
    the cache only in its .bak; the next import must read the cached
    evals from it, as an import into the uncrashed warehouse does."""
    import os
    import re
    import shutil

    from chess_pipeline_spark.commit import BAK

    def games(out, pgn, row):
        (tmp_path / "g.pgn").write_text(pgn)
        (tmp_path / "g.ndjson").write_text(json.dumps(row))
        rc = run_etl.main(
            [
                "games", "--pgn", str(tmp_path / "g.pgn"),
                "--json", str(tmp_path / "g.ndjson"),
                "--player", "PlayerOne", "--out", str(out),
            ],
            spark=spark,
        )
        assert rc == 0

    clean, crashed = tmp_path / "clean", tmp_path / "crashed"
    games(clean, PGN_FULL, _json_row(id="abcd1234"))
    shutil.copytree(clean, crashed)
    os.rename(crashed / "position_evals", f"{crashed}/position_evals{BAK}")
    # the same positions without evals: only the cache can score them
    no_evals = re.sub(r"\[%eval [^]]*\] ", "", PGN_FULL).replace(
        "abcd1234", "noev0001"
    )
    for out in (clean, crashed):
        games(out, no_evals, _json_row(id="noev0001"))

    assert not os.path.exists(f"{crashed}/position_evals{BAK}")
    for table in ("position_evals", "win_probabilities"):
        want, got = (
            sorted(map(tuple, spark.read.parquet(str(out / table)).collect()))
            for out in (clean, crashed)
        )
        assert got == want, table


def test_cli_corpus_end_to_end(spark, sf_dir, tmp_path):
    out = tmp_path / "corpus"
    rc = run_etl.main(
        ["corpus", "--sf-dir", sf_dir, "--out", str(out)], spark=spark
    )
    assert rc == 0
    shards = spark.read.parquet(str(out / "corpus_shards"))
    audit = spark.read.parquet(str(out / "corpus_audit"))
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert shards.count() + audit.count() == n_docs


def test_split_pgn_games():
    games = run_etl._split_pgn_games(PGN_FULL + "\n\n" + PGN_MATE)
    assert len(games) == 2
    assert games[0].startswith("[Event") and games[1].startswith("[Event")


def test_cli_ann_index_build_probe(spark, sf_dir, tmp_path, capsys):
    import json as _json

    import ann_index_cli

    idx = str(tmp_path / "ivf")
    rc = ann_index_cli.main(
        ["build", "--sf-dir", sf_dir, "--out", idx, "--n-lists", "8"],
        spark=spark,
    )
    assert rc == 0
    rc = ann_index_cli.main(
        ["probe", "--sf-dir", sf_dir, "--index", idx,
         "--query-ids", "0,1,2", "--k", "3"],
        spark=spark,
    )
    assert rc == 0
    lines = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ]
    assert lines and {r["qid"] for r in lines} <= {0, 1, 2}
    for r in lines:
        assert 1 <= r["rank"] <= 3 and r["neighbor_id"] != r["qid"]

    # ADC mode: scores come from the stored PQ codes (adc_micro ints)
    rc = ann_index_cli.main(
        ["probe", "--sf-dir", sf_dir, "--index", idx,
         "--query-ids", "0,1", "--k", "3", "--mode", "adc"],
        spark=spark,
    )
    assert rc == 0
    adc_lines = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ]
    assert adc_lines and all(
        isinstance(r["adc_micro"], int) and r["adc_micro"] >= 0 for r in adc_lines
    )


def test_cli_profile_data_card(spark, sf_dir, tmp_path):
    import json

    out = tmp_path / "card"
    rc = run_etl.main(
        ["profile", "--sf-dir", sf_dir, "--out", str(out)], spark=spark
    )
    assert rc == 0
    summary = json.loads((out / "summary.json").read_text())
    assert set(summary["rows"]) == {
        "composition",
        "length_histogram",
        "dup_clusters",
        "quality_verdicts",
        "top_terms",
        "lm_quality",
        "heavy_hitters",
        "dup_exposure",
        "embedding_diversity",
    }
    # every report materialized and readable; per-doc reports cover
    # the corpus
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert summary["rows"]["quality_verdicts"] == n_docs
    assert summary["rows"]["lm_quality"] == n_docs
    assert spark.read.parquet(str(out / "heavy_hitters")).count() == 20


def test_cli_search(spark, sf_dir, capsys):
    import json

    rc = run_etl.main(["search", "--sf-dir", sf_dir], spark=spark)
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert 0 < len(lines) <= 20 and "bm25" in lines[0]
    rc = run_etl.main(["search", "--sf-dir", sf_dir, "--hybrid"], spark=spark)
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert 0 < len(lines) <= 10 and "rrf_micro" in lines[0]


def test_cli_splits_export(spark, sf_dir, tmp_path):
    """splits subcommand: the export is partitioned by split, carries
    a shard column, covers every document exactly once, and matches
    the catalog assignments (same cores)."""
    out = tmp_path / "splits"
    rc = run_etl.main(
        ["splits", "--sf-dir", sf_dir, "--out", str(out)], spark=spark
    )
    assert rc == 0
    back = spark.read.parquet(str(out))
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert back.count() == n_docs
    assert {"split", "shard", "doc_id", "text"} <= set(back.columns)
    # partition directories exist per split value
    import os

    subdirs = {d for d in os.listdir(out) if d.startswith("split=")}
    assert subdirs == {f"split={s}" for s in ("train", "valid", "test")} & subdirs
    assert "split=train" in subdirs
    # assignment parity with the catalog queries
    from chess_pipeline_spark.plans import catalog

    want = {
        (r["doc_id"], r["split"])
        for r in catalog()["leakage_safe_split"].spark(spark, sf_dir).collect()
    }
    got = {(r["doc_id"], r["split"]) for r in back.select("doc_id", "split").collect()}
    assert got == want
    # the manifest written next to the export verifies the export
    from chess_pipeline_spark.sinks import verify_manifest

    assert (
        verify_manifest(
            back.select(sorted(back.columns)), str(out) + "_manifest", ["split"]
        ).count()
        == 0
    )


def test_cli_reeval_quota_gated(spark, tmp_path):
    """reeval subcommand: shallow cache rows (depth < threshold) are
    re-evaluated through the quota gate and upserted by fen; deep
    rows untouched; without an engine or fixture the command refuses
    with a clear exit code."""
    import argparse

    cache = str(tmp_path / "position_evals")
    spark.createDataFrame(
        [("fenA", 0.5, 10), ("fenB", -0.25, 25), ("fenC", 0.0, None)],
        "fen string, evaluation double, eval_depth int",
    ).write.parquet(cache)

    rc = run_etl.main(
        [
            "reeval", "--cache", cache, "--min-depth", "20",
            "--budget", "10", "--period", "2026-08-15",
            "--counter", str(tmp_path / "quota"),
        ],
        spark=spark,
    )
    assert rc == 2  # no engine, no fixture -> refuse

    args = argparse.Namespace(
        cache=cache, min_depth=20, budget=10, period="2026-08-15",
        counter=str(tmp_path / "quota"),
        fetch_fn=lambda fen: (9.9, 20),
    )
    rc = run_etl.run_reeval(args, spark=spark)
    assert rc == 0
    got = {
        r["fen"]: (r["evaluation"], r["eval_depth"])
        for r in spark.read.parquet(cache).collect()
    }
    assert got["fenB"] == (-0.25, 25)        # deep row untouched
    assert got["fenA"] == (9.9, 20)          # shallow re-evaluated
    assert got["fenC"] == (9.9, 20)          # NULL-depth re-evaluated
    led = spark.read.parquet(str(tmp_path / "quota")).collect()
    assert led[0]["used"] == 2


def test_rotation_tool_reads_history_and_flags_deficit(capsys):
    """check_rotation: every staged name has zero driver greens, the
    eligibility math matches the CORRECTNESS files, and mid-round the
    pending-promotion set equals the current round's checklist
    promotions (no stale greens, no dangling names)."""
    import scripts.check_rotation as cr

    hist = cr.green_history()
    from chess_pipeline_spark.plans import DRIVER_WINDOW, _DEMOTED, catalog

    staged = [n for n in _DEMOTED if n not in hist]
    # every staged name is a real catalog query
    cat = catalog()
    assert all(n in cat for n in staged)
    # every non-staged demoted name has at least one green round
    for n in _DEMOTED:
        if n not in staged:
            assert hist[n], n
    rc = cr.main([])
    assert rc == 0
    out = capsys.readouterr().out
    assert f"staged (demoted, never driver-green): {len(staged)}" in out
    rc = cr.main(["--plan"])
    assert rc == 0


def test_cli_compact_subcommand(spark, sf_dir, tmp_path, capsys):
    """`ann_index_cli compact` is the one maintenance entry point for
    every per-batch-partitioned structure; smoke the text-index,
    dup-gram and DSIR ledger kinds end-to-end: fold to a single batch-0
    layout, probes unchanged."""
    import os

    import pyspark.sql.functions as F

    import ann_index_cli
    from chess_pipeline_spark.plans.corpus import _BM25_QUERY_TERMS
    from chess_pipeline_spark.sources import load_table
    from chess_pipeline_spark.streaming.jobs import (
        dup_exposure_from_ledger,
        ingest_dupgram_delta,
    )
    from chess_pipeline_spark.text_index import (
        build_text_index,
        ingest_text_delta,
        probe_bm25,
    )

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]

    tix = str(tmp_path / "tix")
    build_text_index(docs.filter(F.col("doc_id") <= mid), tix)
    ingest_text_delta(docs.filter(F.col("doc_id") > mid), tix, 1)
    want_probe = [tuple(r) for r in probe_bm25(spark, tix, _BM25_QUERY_TERMS).collect()]
    rc = ann_index_cli.main(
        ["compact", "--kind", "text", "--path", tix], spark=spark
    )
    assert rc == 0
    assert sorted(
        d for d in os.listdir(os.path.join(tix, "postings")) if d.startswith("batch_id=")
    ) == ["batch_id=0"]
    assert [tuple(r) for r in probe_bm25(spark, tix, _BM25_QUERY_TERMS).collect()] == want_probe

    led = str(tmp_path / "ledger")
    ingest_dupgram_delta(docs.filter(F.col("doc_id") <= mid), led, 0)
    ingest_dupgram_delta(docs.filter(F.col("doc_id") > mid), led, 1)
    want_led = sorted(
        map(tuple, dup_exposure_from_ledger(spark, led, docs).collect())
    )
    rc = ann_index_cli.main(
        ["compact", "--kind", "dupgram", "--path", led], spark=spark
    )
    assert rc == 0
    assert sorted(
        d for d in os.listdir(led) if d.startswith("batch_id=")
    ) == ["batch_id=0"]
    assert sorted(
        map(tuple, dup_exposure_from_ledger(spark, led, docs).collect())
    ) == want_led

    # every additive ledger kind routes there too, DSIR included
    from chess_pipeline_spark.streaming.jobs import dsir_from_ledger, ingest_dsir_delta

    dled = str(tmp_path / "dsir_ledger")
    target = docs.agg(F.min("source")).first()[0]
    ingest_dsir_delta(docs.filter(F.col("doc_id") <= mid), dled, 0, target)
    ingest_dsir_delta(docs.filter(F.col("doc_id") > mid), dled, 1, target)
    want_dsir = sorted(map(tuple, dsir_from_ledger(spark, dled, docs).collect()))
    rc = ann_index_cli.main(["compact", "--kind", "dsir", "--path", dled], spark=spark)
    assert rc == 0
    assert sorted(
        d for d in os.listdir(dled) if d.startswith("batch_id=")
    ) == ["batch_id=0"]
    got = sorted(map(tuple, dsir_from_ledger(spark, dled, docs).collect()))
    assert got == want_dsir

    # a mistyped path fails, naming it, instead of reporting a fold
    missing = str(tmp_path / "dsir_ledgr")
    rc = ann_index_cli.main(["compact", "--kind", "dsir", "--path", missing], spark=spark)
    assert rc != 0
    assert f"no dsir index or ledger at {missing}" in capsys.readouterr().err
    assert not os.path.exists(missing)

    # r10: the set-union/append family routes through the same entry
    # point — paragraph digest set folds to one distinct row per
    # digest with membership unchanged
    from chess_pipeline_spark.streaming.jobs import _paragraph_process_batch

    pled = str(tmp_path / "pd_ledger")
    _paragraph_process_batch(
        docs.filter(F.col("doc_id") <= mid), 0, pled, str(tmp_path / "pd_v")
    )
    _paragraph_process_batch(
        docs.filter(F.col("doc_id") > mid), 1, pled, str(tmp_path / "pd_v")
    )
    want_digests = sorted(
        r["digest"] for r in spark.read.parquet(pled).distinct().collect()
    )
    rc = ann_index_cli.main(
        ["compact", "--kind", "paragraph", "--path", pled], spark=spark
    )
    assert rc == 0
    assert spark.read.parquet(pled).count() == len(want_digests)
    assert (
        sorted(r["digest"] for r in spark.read.parquet(pled).collect())
        == want_digests
    )
