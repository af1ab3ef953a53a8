"""End-to-end game ETL: raw PGN + JSON fixture rows -> all seven
reference tables in one lazy plan, then materialized via the upsert
sink and re-read (the reference's full docker_entrypoint DAG,
SURVEY §3.1, compressed into one function call)."""

from __future__ import annotations

import pyspark.sql.functions as F

from chess_pipeline_spark.pipeline import TABLE_KEYS, materialize, run_game_etl
from chess_pipeline_spark.schemas import (
    GAME_CLOCKS,
    GAME_MATERIALS,
    GAME_MOVES,
    GAME_POSITIONS,
    POSITION_EVALS,
    RAW_JSON,
    RAW_PGN,
    WIN_PROBABILITIES,
)
from chess_pipeline_spark.sinks import anti_join_delete
from tests.test_chess_domain import PLAYER, _json_row, _pgn_row


def _inputs(spark):
    pgn_rows = [
        _pgn_row(),
        _pgn_row(Site="https://lichess.org/game0002", Result="1/2-1/2"),
        _pgn_row(
            Site="https://lichess.org/game0003",
            White="SomeoneElse",
            Black=PLAYER,
            evaluations=[0.0, 0.0],  # no embedded evals
        ),
    ]
    json_rows = [
        _json_row(),
        _json_row(id="game0002"),
        _json_row(
            id="game0003",
            players_white_user_name="SomeoneElse",
            players_black_user_name=PLAYER,
        ),
    ]
    pgn = spark.createDataFrame([tuple(r.values()) for r in pgn_rows], RAW_PGN)
    js = spark.createDataFrame([tuple(r.values()) for r in json_rows], RAW_JSON)
    return pgn, js


def test_full_etl_shapes_and_keys(spark):
    pgn, js = _inputs(spark)
    cache = spark.createDataFrame([], POSITION_EVALS)
    out = run_game_etl(pgn, js, PLAYER, cache)

    assert out.chess_games.count() == 3
    assert {"player", "game_link", "player_color", "player_result"} <= set(
        out.chess_games.columns
    )
    # 2 half-moves per fixture game
    for t in (out.game_moves, out.game_clocks, out.game_positions, out.game_materials):
        assert t.count() == 6
        assert t.select("game_link", "half_move").distinct().count() == 6
    # eval cache: embedded evals from 2 games, deduped by fen (the
    # two games share identical position lists in the fixture)
    evals = out.position_evals
    assert evals.count() == evals.select("fen").distinct().count()
    # win probabilities on every half-move, probabilities sum to 1
    wp = out.win_probabilities
    assert wp.count() == 6
    s = wp.withColumn(
        "s",
        F.col("win_probability_white")
        + F.col("draw_probability")
        + F.col("win_probability_black"),
    )
    assert s.filter(F.abs(F.col("s") - 1.0) > 5e-6).count() == 0


def test_full_etl_materialize_roundtrip(spark, tmp_path):
    pgn, js = _inputs(spark)
    cache = spark.createDataFrame([], POSITION_EVALS)
    out = run_game_etl(pgn, js, PLAYER, cache)
    base = str(tmp_path / "wh")
    materialize(out, base)
    # idempotent: second run rewrites, no dupes
    materialize(out, base)
    for name, df in out.tables().items():
        got = spark.read.parquet(f"{base}/{name}")
        assert got.count() == df.count(), name
        assert set(got.columns) == set(df.columns), name
    # the declared data model: names, order and types as written
    declared = {
        "game_moves": GAME_MOVES,
        "game_clocks": GAME_CLOCKS,
        "game_positions": GAME_POSITIONS,
        "game_materials": GAME_MATERIALS,
        "position_evals": POSITION_EVALS,
        "win_probabilities": WIN_PROBABILITIES,
    }
    for name, schema in declared.items():
        got = spark.read.parquet(f"{base}/{name}").schema
        assert [(f.name, f.dataType) for f in got] == [
            (f.name, f.dataType) for f in schema
        ], name


def test_materialize_concurrent_matches_sequential_reference(spark, tmp_path, monkeypatch):
    """A second import into a loaded warehouse: game0002 re-imported
    with new values, game0004 new, game0001/0003 untouched. It reads
    the first import's position_evals files as its eval cache, so
    win_probabilities' plan reads the files that the position_evals
    write replaces. Every table must equal the delete-then-insert
    reference, built table by table before the write: the old table
    anti-joined with the batch keys, then the batch unioned. The
    position_evals upsert must start after every other upsert ended,
    and every job the pool threads run must carry the caller's job
    group."""
    import time

    from chess_pipeline_spark import sinks

    base = str(tmp_path / "wh")
    pgn, js = _inputs(spark)
    materialize(run_game_etl(pgn, js, PLAYER, spark.createDataFrame([], POSITION_EVALS)), base)

    pgn_rows = [
        _pgn_row(
            Site="https://lichess.org/game0002",
            Round="b1",
            Result="0-1",
            evaluations=[0.5, 0.2],
        ),
        _pgn_row(Site="https://lichess.org/game0004", evaluations=[0.1, 0.4]),
    ]
    json_rows = [_json_row(id="game0002", winner="black"), _json_row(id="game0004")]
    out = run_game_etl(
        spark.createDataFrame([tuple(r.values()) for r in pgn_rows], RAW_PGN),
        spark.createDataFrame([tuple(r.values()) for r in json_rows], RAW_JSON),
        PLAYER,
        spark.read.parquet(f"{base}/position_evals"),
    )

    def rows(df):
        return df.columns, sorted(map(tuple, df.collect()), key=repr)

    want = {}
    for name, batch in out.tables().items():
        old = spark.read.parquet(f"{base}/{name}")
        keys = TABLE_KEYS[name]
        want[name] = rows(
            anti_join_delete(old, batch, keys).unionByName(batch, allowMissingColumns=True)
        )

    spans = {}
    upsert = sinks.upsert_parquet

    def timed(df, path, keys):
        t0 = time.monotonic()
        upsert(df, path, keys)
        spans[path.rsplit("/", 1)[1]] = (t0, time.monotonic())

    monkeypatch.setattr(sinks, "upsert_parquet", timed)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("materialize-concurrent", "concurrent materialize")
    try:
        materialize(out, base)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert len(tracker.getJobIdsForGroup("materialize-concurrent")) >= len(TABLE_KEYS)
    evals_start = spans.pop("position_evals")[0]
    assert sorted(spans) == sorted(set(TABLE_KEYS) - {"position_evals"})
    assert evals_start >= max(end for _start, end in spans.values())

    for name in TABLE_KEYS:
        assert rows(spark.read.parquet(f"{base}/{name}")) == want[name], name
    games = dict(
        spark.read.parquet(f"{base}/chess_games").select("game_link", "round").collect()
    )
    assert games["https://lichess.org/game0002"] == "b1"
    assert len(games) == 4


def test_materialize_waits_for_every_table_then_raises(spark, tmp_path, monkeypatch):
    """One table's failed upsert does not cut the others short: every
    pool table is still written, the error is re-raised, and
    position_evals, written after the pool, is not."""
    import os

    import pytest

    from chess_pipeline_spark import sinks

    upsert = sinks.upsert_parquet

    def failing(df, path, keys):
        if path.endswith("/game_moves"):
            raise RuntimeError("injected game_moves failure")
        upsert(df, path, keys)

    monkeypatch.setattr(sinks, "upsert_parquet", failing)
    pgn, js = _inputs(spark)
    out = run_game_etl(pgn, js, PLAYER, spark.createDataFrame([], POSITION_EVALS))
    base = str(tmp_path / "wh")
    with pytest.raises(RuntimeError, match="injected game_moves failure"):
        materialize(out, base)
    assert sorted(os.listdir(base)) == sorted(
        set(TABLE_KEYS) - {"game_moves", "position_evals"}
    )
