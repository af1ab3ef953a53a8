"""Golden-frame tests for the chess-domain operators, mirroring the
reference's test scenarios (tests/test_transforms.py:533-913 shapes:
win/draw/loss, arena, casual, queen exchange, castling, anonymous
elo, missing rating diff; explode steps; newsletter aggregates)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from chess_pipeline_spark.operators.chess_transforms import (
    clean_df,
    convert_clock_to_seconds,
    explode_clocks,
    explode_evals,
    explode_materials,
    explode_moves,
    explode_positions,
    get_color_stats,
    get_elo_by_weekday,
    strip_fen_move_counter,
    transform_game_data,
)
from chess_pipeline_spark.schemas import RAW_JSON, RAW_PGN, normalize_to_schema

PLAYER = "TestPlayer"


def _pgn_row(**over):
    base = dict(
        Event="Rated Blitz game",
        Site="https://lichess.org/abcd1234",
        Date="2024.01.29",
        Round="?",
        White=PLAYER,
        Black="Opponent",
        Result="1-0",
        UTCDate="2024.01.29",
        UTCTime="02:34:14",
        WhiteElo="1800",
        BlackElo="1750",
        WhiteRatingDiff="+8",
        BlackRatingDiff="-7",
        Variant="Standard",
        TimeControl="300+3",
        ECO="B30",
        Opening="Sicilian Defense",
        Termination="Normal",
        evaluations=[0.3, -0.1],
        eval_depths=[20, 20],
        clocks=["0:05:00", "0:05:00"],
        white_berserked=False,
        black_berserked=False,
        queen_exchange=False,
        castling_sides={"black": None, "white": "kingside"},
        has_promotion=False,
        promotion_count_white=0,
        promotion_count_black=0,
        promotions_white="",
        promotions_black="",
        positions=[
            "rnbqkbnr/pppppppp/8/8/4P3/8/PPPP1PPP/RNBQKBNR b KQkq - 0 1",
            "rnbqkbnr/pp1ppppp/8/2p5/4P3/8/PPPP1PPP/RNBQKBNR w KQkq - 0 2",
        ],
        material_by_move=[{"P": 8, "p": 8, "q": 1}, {"P": 8, "p": 7}],
        moves=["e4", "c5"],
    )
    base.update(over)
    return base


def _json_row(**over):
    base = dict(
        id="abcd1234",
        rated=True,
        variant="standard",
        speed="blitz",
        perf="blitz",
        createdAt=1706495654000,
        lastMoveAt=1706495954000,
        status="resign",
        winner="white",
        players_white_user_name=PLAYER,
        players_white_rating=1800,
        players_white_ratingDiff=8,
        players_white_provisional=None,
        players_black_user_name="Opponent",
        players_black_rating=1750,
        players_black_ratingDiff=-7,
        players_black_provisional=True,
        clock_initial=300,
        clock_increment=3,
        clock_totalTime=420,
    )
    base.update(over)
    return base


@pytest.fixture(scope="module")
def cleaned(spark):
    pgn_rows = [
        _pgn_row(),  # white win
        _pgn_row(Site="https://lichess.org/game0002", Result="1/2-1/2"),  # draw
        _pgn_row(  # black loss + arena + queen exchange + anon elo
            Site="https://lichess.org/game0003",
            White="SomeoneElse",
            Black=PLAYER,
            Event="Rated Blitz Arena tournament",
            Result="1-0",
            WhiteElo="?",
            castling_sides={"black": "queenside", "white": None},
            queen_exchange=True,
        ),
        _pgn_row(  # casual + missing rating diff
            Site="https://lichess.org/game0004",
            Event="Casual Rapid game",
            WhiteRatingDiff=None,
            BlackRatingDiff=None,
        ),
    ]
    json_rows = [
        _json_row(),
        _json_row(id="game0002"),
        _json_row(id="game0003", players_white_user_name="SomeoneElse", players_black_user_name=PLAYER),
        _json_row(id="game0004", speed="rapid"),
    ]
    pgn = spark.createDataFrame([tuple(r.values()) for r in pgn_rows], RAW_PGN)
    js = spark.createDataFrame([tuple(r.values()) for r in json_rows], RAW_JSON)
    return clean_df(pgn, js)


def test_clean_df_join_and_renames(cleaned):
    assert cleaned.count() == 4
    for col in ("game_link", "white_elo", "time_control", "speed", "status",
                "white_elo_tentative", "black_elo_tentative"):
        assert col in cleaned.columns, col
    row = cleaned.filter(F.col("game_link") == "https://lichess.org/abcd1234").first()
    assert row.speed == "blitz"
    assert row.white_elo_tentative is False  # null provisional -> False
    assert row.black_elo_tentative is True


@pytest.fixture(scope="module")
def games(cleaned):
    return transform_game_data(cleaned, PLAYER).cache()


def test_white_win_perspective(games):
    g = games.filter(F.col("game_link") == "https://lichess.org/abcd1234").first()
    assert g.player_color == "white" and g.opponent_color == "black"
    assert g.opponent == "Opponent"
    assert g.player_result == "Win" and g.opponent_result == "Loss"
    assert g.player_elo == 1800.0 and g.opponent_elo == 1750.0
    assert g.player_rating_diff == 8.0 and g.opponent_rating_diff == -7.0
    assert g.starting_time == 300 and g.increment == 3
    assert g.in_arena == "Not in arena" and g.rated_casual == "Rated"
    assert g.queen_exchange == "No queen exchange"
    assert g.player_castling_side == "kingside"
    assert g.opponent_castling_side == "No castling"
    assert str(g.datetime_played) == "2024-01-29 02:34:14"
    assert str(g.date_played) == "2024-01-29"


def test_draw(games):
    g = games.filter(F.col("game_link") == "https://lichess.org/game0002").first()
    assert g.player_result == "Draw" and g.opponent_result == "Draw"


def test_black_loss_arena_anon_elo_queen_exchange(games):
    g = games.filter(F.col("game_link") == "https://lichess.org/game0003").first()
    assert g.player_color == "black"
    assert g.player_result == "Loss" and g.opponent_result == "Win"
    assert g.opponent_elo == 1500.0  # '?' -> 1500 (transforms.py:388-391)
    assert g.in_arena == "In arena"
    assert g.queen_exchange == "Queen exchange"
    assert g.player_castling_side == "queenside"


def test_casual_and_missing_rating_diff(games):
    g = games.filter(F.col("game_link") == "https://lichess.org/game0004").first()
    assert g.rated_casual == "Casual"
    assert g.player_rating_diff == 0.0 and g.opponent_rating_diff == 0.0


# ---------------------------------------------------------------------------
# scalar helpers
# ---------------------------------------------------------------------------


def test_clock_to_seconds(spark):
    df = spark.createDataFrame(
        [("0:01:39",), ("1:00:05",), ("bogus",), (None,)], "clock string"
    )
    got = [r.s for r in df.select(convert_clock_to_seconds(F.col("clock")).alias("s")).collect()]
    assert got == [99, 3605, -1, -1]  # transforms.py:236-243 semantics


def test_strip_fen_counter(spark):
    fen = "rnbqkbnr/pppppppp/8/8/4P3/8/PPPP1PPP/RNBQKBNR b KQkq - 0 1"
    df = spark.createDataFrame([(fen,)], "fen string")
    got = df.select(strip_fen_move_counter(F.col("fen")).alias("f")).first().f
    assert got == "rnbqkbnr/pppppppp/8/8/4P3/8/PPPP1PPP/RNBQKBNR b KQkq - 0"


# ---------------------------------------------------------------------------
# explode steps
# ---------------------------------------------------------------------------


def test_explodes(cleaned):
    one = cleaned.filter(F.col("game_link") == "https://lichess.org/abcd1234")
    mv = explode_moves(one).orderBy("half_move").collect()
    assert [(r.half_move, r.move) for r in mv] == [(1, "e4"), (2, "c5")]

    ck = explode_clocks(one).orderBy("half_move").collect()
    assert [(r.half_move, r.clock) for r in ck] == [(1, 300), (2, 300)]

    ps = explode_positions(one).orderBy("half_move").collect()
    assert ps[0].fen.endswith("KQkq - 0") and ps[0].half_move == 1

    mt = explode_materials(one).orderBy("half_move").collect()
    assert mt[0].pawns_white == 8 and mt[0].pawns_black == 8
    assert mt[0].queens_black == 1 and mt[0].queens_white == 0  # 0-fill
    assert mt[1].pawns_black == 7

    ev = explode_evals(one).orderBy("half_move").collect()
    assert [(r.half_move, r.evaluation, r.eval_depth) for r in ev] == [
        (1, 0.3, 20),
        (2, -0.1, 20),
    ]
    assert ev[0].fen.endswith("- 0")  # counter stripped


# ---------------------------------------------------------------------------
# newsletter aggregates
# ---------------------------------------------------------------------------


def test_color_stats_pivot(games):
    stats = get_color_stats(games)
    row = stats.filter(
        (F.col("time_control_category") == "blitz") & (F.col("player_color") == "white")
    ).first()
    # white-blitz games: win (abcd1234) + draw (game0002) -> 0.5 / 0.5 / 0
    assert row.win == 0.5 and row.draw == 0.5 and row.loss == 0.0



def test_color_stats_skips_groups_without_counted_games(spark):
    # A PGN result of '*' leaves player_result NULL. A group holding only
    # such games, or only NULL links, has no game to share out; it is
    # dropped, as pandas pivot_table drops NaN keys, instead of dividing
    # by a zero total. A NULL category is such a key too.
    games = spark.createDataFrame(
        [
            ("g1", "blitz", "white", "Win"),
            ("g2", "blitz", "white", "Loss"),
            ("g3", "bullet", "white", None),
            ("g4", "bullet", "white", None),
            (None, "rapid", "black", "Draw"),
            ("g5", None, "white", "Win"),
        ],
        "game_link string, time_control_category string, player_color string,"
        " player_result string",
    )
    rows = [tuple(r) for r in get_color_stats(games).collect()]
    assert rows == [("blitz", "white", 0.5, 0.0, 0.5)]

def test_elo_by_weekday(games):
    out = get_elo_by_weekday(games, "blitz").collect()
    # all fixture games are Monday 2024-01-29 -> pandas weekday 0;
    # blitz player_elos: 1800 (white win), 1800 (draw), 1750 (black loss)
    assert len(out) == 1
    r = out[0]
    assert r.weekday_played == 0
    assert r.min == 1750.0 and r.max == 1800.0
    assert abs(r.mean - (1800 + 1800 + 1750) / 3) < 1e-9
    assert r.std > 0.0


def test_normalize_to_schema(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.BooleanType()),
        ]
    )
    df = spark.createDataFrame([(1, "x", "extra")], "a long, b string, z string")
    out = normalize_to_schema(df, schema, defaults={"c": False})
    row = out.first()
    assert out.columns == ["a", "b", "c"]
    assert row.a == 1 and row.b == "x" and row.c is False
    assert dict(out.dtypes)["a"] == "int"
