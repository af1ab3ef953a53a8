"""The reference pipeline's transform semantics, Spark-native.

Each function is a pure DataFrame -> DataFrame re-expression of one
reference step (cited per function). pandas order-dependence
(cumcount/shift after explode) is replaced by posexplode ordinals;
positional concat by struct/arrays_zip; dict-maps by when-chains —
the semantic rewrites catalogued in SURVEY §7.3.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# ---------------------------------------------------------------------------
# scalar helpers (SURVEY §2.9)
# ---------------------------------------------------------------------------


def convert_clock_to_seconds(clock: Column) -> Column:
    """'H:MM:SS' -> seconds; null/unparseable -> -1.

    Reference: convert_clock_to_seconds
    (src/pipeline_import/transforms.py:236-243, pandas to_timedelta
    with NaT->-1).
    """
    parts = F.split(clock, ":")
    # try_cast: malformed clocks must yield -1, not an ANSI cast
    # error. Seconds parse as DOUBLE then floor — lichess emits
    # tenths in low-time clocks ('0:00:59.9'), and the reference's
    # to_timedelta(...).astype(int) truncates them to 59
    parsed = F.floor(
        parts.getItem(0).try_cast("long") * 3600
        + parts.getItem(1).try_cast("long") * 60
        + parts.getItem(2).try_cast("double")
    )
    return F.coalesce(parsed, F.lit(-1)).cast("int")


def strip_fen_move_counter(fen: Column) -> Column:
    """Drop the trailing fullmove-number token from a FEN.

    Reference: get_clean_fens (transforms.py:246-248:
    split()[:-1] joined by space).
    """
    return F.regexp_replace(fen, r"\s\d+$", "")


_RESULT_MAP = {
    ("1-0", "white"): "Win",
    ("1-0", "black"): "Loss",
    ("0-1", "white"): "Loss",
    ("0-1", "black"): "Win",
    ("1/2-1/2", "white"): "Draw",
    ("1/2-1/2", "black"): "Draw",
}


def result_for_color(result: Column, color: Column) -> Column:
    """6-way (result, color) -> Win/Draw/Loss dict-map as a when-chain
    (F6; reference transforms.py:279-321)."""
    expr = F.lit(None).cast("string")
    for (res, col_), label in _RESULT_MAP.items():
        expr = F.when((result == res) & (color == col_), label).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# clean_df: PGN x JSON join + renames (J1, P2)
# ---------------------------------------------------------------------------

_PGN_RENAMES = {
    "Black": "black",
    "BlackElo": "black_elo",
    "BlackRatingDiff": "black_rating_diff",
    "Date": "date_played",
    "ECO": "opening_played",
    "Event": "event_type",
    "Result": "result",
    "Round": "round",
    "Site": "game_link",
    "Termination": "termination",
    "TimeControl": "time_control",
    "UTCDate": "utc_date_played",
    "UTCTime": "time_played",
    "Variant": "chess_variant",
    "White": "white",
    "WhiteElo": "white_elo",
    "WhiteRatingDiff": "white_rating_diff",
    "Opening": "lichess_opening",
}


def clean_df(pgn: DataFrame, json_games: DataFrame) -> DataFrame:
    """Join PGN-parsed games with API JSON metadata and rename to the
    canonical snake_case surface.

    Reference: clean_chess_df (src/feature_engineering.py:13-70):
    game URL built from id (':34'), inner join on Site (':45' — J1),
    header renames (':48-69'). The JSON side is tiny per batch ->
    broadcast.
    """
    json_sel = json_games.select(
        F.concat(F.lit("https://lichess.org/"), F.col("id")).alias("Site"),
        F.col("speed"),
        F.col("status"),
        F.coalesce(F.col("players_black_provisional"), F.lit(False)).alias(
            "black_elo_tentative"
        ),
        F.coalesce(F.col("players_white_provisional"), F.lit(False)).alias(
            "white_elo_tentative"
        ),
    )
    joined = pgn.join(F.broadcast(json_sel), "Site", "inner")
    return joined.withColumnsRenamed(_PGN_RENAMES)


# ---------------------------------------------------------------------------
# transform_game_data: the player-perspective wide fact (F4)
# ---------------------------------------------------------------------------


def transform_game_data(df: DataFrame, player: str) -> DataFrame:
    """Derive the chess_games wide fact from a cleaned frame, from the
    perspective of `player`.

    Reference: transform_game_data
    (src/pipeline_import/transforms.py:251-393):
    - player/opponent color + name split (':275-303' — branchless
      flag arithmetic -> when/otherwise, F13; the string-subtraction
      opponent trick ':276' -> direct conditional, F2)
    - '?' anonymous elo -> 1500 then numeric cast (':388-391', P8/F10)
    - missing rating diff -> 0 (':267-271', P7)
    - result labels via 6-way map (':279-321', F6)
    - datetime from date+time strings (':326-328', F7)
    - starting_time/increment regex from TimeControl (':329-331', F3)
    - in_arena / rated_casual via contains (':333-344', F4)
    - queen_exchange bool -> label (':334-344', F6)
    - castling struct -> per-player columns with 'No castling' fill
      (':347-376' — the self-join J2 replaced by struct access, E4)
    - date_played parse (':379-380')
    """
    is_white = F.col("white") == player
    qe = F.col("queen_exchange").cast("boolean")
    out = df.select(
        "*",
        F.lit(player).alias("player"),
        F.when(is_white, "white").otherwise("black").alias("player_color"),
        F.when(is_white, "black").otherwise("white").alias("opponent_color"),
        F.when(is_white, F.col("black")).otherwise(F.col("white")).alias("opponent"),
        F.when(is_white, F.col("white_elo")).otherwise(F.col("black_elo")).alias("_p_elo"),
        F.when(is_white, F.col("black_elo")).otherwise(F.col("white_elo")).alias("_o_elo"),
        F.when(is_white, F.col("white_rating_diff"))
        .otherwise(F.col("black_rating_diff"))
        .alias("_p_diff"),
        F.when(is_white, F.col("black_rating_diff"))
        .otherwise(F.col("white_rating_diff"))
        .alias("_o_diff"),
        F.when(is_white, F.col("castling_sides.white"))
        .otherwise(F.col("castling_sides.black"))
        .alias("_p_castle"),
        F.when(is_white, F.col("castling_sides.black"))
        .otherwise(F.col("castling_sides.white"))
        .alias("_o_castle"),
    )
    anon_fix = lambda c: F.when(c == "?", "1500").otherwise(c).cast("float")  # noqa: E731
    return out.select(
        "player",
        "opponent",
        "player_color",
        "opponent_color",
        anon_fix(F.col("_p_elo")).alias("player_elo"),
        anon_fix(F.col("_o_elo")).alias("opponent_elo"),
        F.coalesce(F.col("_p_diff").cast("float"), F.lit(0.0)).alias("player_rating_diff"),
        F.coalesce(F.col("_o_diff").cast("float"), F.lit(0.0)).alias("opponent_rating_diff"),
        result_for_color(F.col("result"), F.col("player_color")).alias("player_result"),
        result_for_color(F.col("result"), F.col("opponent_color")).alias("opponent_result"),
        F.col("speed").alias("time_control_category"),
        # try_* forms: under ANSI mode (Spark 4 default) a missing
        # UTCTime or a '-' correspondence TimeControl must yield
        # NULL, not abort the job
        F.try_to_timestamp(
            F.concat_ws(" ", F.col("utc_date_played"), F.col("time_played")),
            F.lit("yyyy.MM.dd HH:mm:ss"),
        ).alias("datetime_played"),
        F.regexp_extract(F.col("time_control"), r"(\d+)\+", 1).try_cast("int").alias(
            "starting_time"
        ),
        F.regexp_extract(F.col("time_control"), r"\+(\d+)", 1)
        .try_cast("int")
        .alias("increment"),
        F.when(F.col("event_type").contains("Arena"), "In arena")
        .otherwise("Not in arena")
        .alias("in_arena"),
        F.when(F.col("event_type").contains("Casual"), "Casual")
        .otherwise("Rated")
        .alias("rated_casual"),
        F.when(qe, "Queen exchange").otherwise("No queen exchange").alias("queen_exchange"),
        F.coalesce(F.col("_p_castle"), F.lit("No castling")).alias("player_castling_side"),
        F.coalesce(F.col("_o_castle"), F.lit("No castling")).alias("opponent_castling_side"),
        F.to_date(F.col("date_played"), "yyyy.MM.dd").alias("date_played"),
        F.to_date(F.col("utc_date_played"), "yyyy.MM.dd").alias("utc_date_played"),
        "event_type",
        "result",
        "round",
        "game_link",
        "termination",
        "chess_variant",
        "black_elo_tentative",
        "white_elo_tentative",
        "lichess_opening",
        "opening_played",
        "has_promotion",
        "promotion_count_white",
        "promotion_count_black",
        "promotions_white",
        "promotions_black",
        "black_berserked",
        "white_berserked",
    )


# ---------------------------------------------------------------------------
# explode steps (E1, E2; deterministic W1 half_move)
# ---------------------------------------------------------------------------


def _posexplode(df: DataFrame, array_col: str, value_alias: str) -> DataFrame:
    """game-array -> (game_link, half_move, value). half_move is the
    1-based array ordinal — the deterministic replacement for the
    reference's cumcount-on-implicit-order
    (src/feature_engineering.py:92,115,139,181)."""
    return df.select(
        "game_link", F.posexplode(array_col).alias("pos", value_alias)
    ).select(
        "game_link",
        (F.col("pos") + 1).cast("int").alias("half_move"),
        value_alias,
    )


def explode_moves(df: DataFrame) -> DataFrame:
    """Reference: explode_moves (feature_engineering.py:73-93)."""
    return _posexplode(df, "moves", "move")


def explode_clocks(df: DataFrame) -> DataFrame:
    """Reference: explode_clocks (feature_engineering.py:96-117);
    clock strings -> seconds with -1 fill."""
    out = _posexplode(df, "clocks", "clock_str")
    return out.select(
        "game_link", "half_move", convert_clock_to_seconds(F.col("clock_str")).alias("clock")
    )


def explode_positions(df: DataFrame) -> DataFrame:
    """Reference: explode_positions (feature_engineering.py:120-142);
    FEN move-counter stripped (transforms.py:246-248)."""
    out = _posexplode(df, "positions", "fen_raw")
    return out.select(
        "game_link", "half_move", strip_fen_move_counter(F.col("fen_raw")).alias("fen")
    )


# FEN piece symbol -> materials column (uppercase = white)
_MATERIAL_MAP = {
    "P": "pawns_white",
    "p": "pawns_black",
    "B": "bishops_white",
    "b": "bishops_black",
    "N": "knights_white",
    "n": "knights_black",
    "R": "rooks_white",
    "r": "rooks_black",
    "Q": "queens_white",
    "q": "queens_black",
}


def explode_materials(df: DataFrame) -> DataFrame:
    """Reference: explode_materials (feature_engineering.py:145-182):
    per-move Counter map -> 10 piece-count columns, 0-filled (E2)."""
    out = _posexplode(df, "material_by_move", "m")
    return out.select(
        "game_link",
        "half_move",
        *[
            F.coalesce(F.element_at(F.col("m"), sym), F.lit(0)).cast("int").alias(col)
            for sym, col in _MATERIAL_MAP.items()
        ],
    )


def explode_evals(df: DataFrame) -> DataFrame:
    """Lockstep explode of evaluations/eval_depths/positions (E3 —
    the pandas positional concat at src/vendors/stockfish.py:36-53
    re-expressed as arrays_zip)."""
    z = df.filter(F.size("evaluations") > 0).select(
        "game_link",
        F.posexplode(F.arrays_zip("evaluations", "eval_depths", "positions")).alias(
            "pos", "z"
        ),
    )
    return z.select(
        "game_link",
        (F.col("pos") + 1).cast("int").alias("half_move"),
        strip_fen_move_counter(F.col("z.positions")).alias("fen"),
        F.col("z.evaluations").cast("double").alias("evaluation"),
        F.col("z.eval_depths").cast("int").alias("eval_depth"),
    )


# ---------------------------------------------------------------------------
# newsletter aggregates (A1-A3, E5)
# ---------------------------------------------------------------------------


def get_color_stats(games: DataFrame) -> DataFrame:
    """Win-ratio pivot: (category, color) x result -> row-normalized
    Win/Draw/Loss shares in fixed column order.

    Each share is the group's distinct game_link count for that result
    over the sum of the three, as countDistinct counts: a duplicated
    link counts once, a NULL link never, and a link under two results
    in both. Rows without a Win/Draw/Loss result, a link or a
    category are dropped before grouping (pandas pivot_table drops NaN
    keys the same way), so no group has a zero total or a NULL
    category. One groupBy with a collect_set per result plans a single
    exchange.

    Reference: get_color_stats (transforms.py:396-417).
    """
    results = ["Win", "Draw", "Loss"]
    counted = games.filter(
        F.col("player_result").isin(results)
        & F.col("game_link").isNotNull()
        & F.col("time_control_category").isNotNull()
    )
    counts = counted.groupBy("time_control_category", "player_color").agg(
        *[
            F.size(
                F.collect_set(F.when(F.col("player_result") == r, F.col("game_link")))
            ).alias(r.lower())
            for r in results
        ]
    )
    total = sum(F.col(r.lower()) for r in results)
    return counts.select(
        "time_control_category",
        "player_color",
        *[(F.col(r.lower()) / total).alias(r.lower()) for r in results],
    )


def get_elo_by_weekday(games: DataFrame, category: str = "blitz") -> DataFrame:
    """Per-weekday elo mean/std/min/max for one time-control category,
    NaN std -> 0, sorted by weekday (Sunday-first recode 6->-1).

    The partial aggregate runs on every scan partition; its at most 7
    rows are then sorted by a single-partition local sort, which needs
    no range exchange and no sampling job, so a collect runs the one
    shuffle stage plus its result stage.

    Reference: get_elo_by_weekday (transforms.py:420-440).
    """
    pandas_weekday = F.when(F.dayofweek("datetime_played") == 1, 6).otherwise(
        F.dayofweek("datetime_played") - 2
    )
    recoded = F.when(pandas_weekday == 6, -1).otherwise(pandas_weekday)
    return (
        games.filter(F.col("time_control_category") == category)
        .withColumn("weekday_played", recoded.cast("int"))
        .groupBy("weekday_played")
        .agg(
            F.avg("player_elo").alias("mean"),
            F.coalesce(F.stddev_samp("player_elo"), F.lit(0.0)).alias("std"),
            F.min("player_elo").alias("min"),
            F.max("player_elo").alias("max"),
        )
        .coalesce(1)
        .sortWithinPartitions("weekday_played")
    )
