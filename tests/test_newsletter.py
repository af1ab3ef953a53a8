"""Newsletter tier vs the reference's phrasing and mark semantics
(src/utils/newsletter.py:18-146, src/pipeline_import/plots.py):
text builders reproduce the exact sentences including the tricky
second-row branch, SVGs are well-formed with the expected marks, and
the assembled mail carries both HTML and a tag-free plaintext. The
report set over a small games table is pinned byte for byte, and each
of its collects runs one shuffle stage plus its result stage."""

from __future__ import annotations

import xml.etree.ElementTree as ET

from chess_pipeline_spark.introspect import plan_metrics
from chess_pipeline_spark.newsletter import (
    build_newsletter,
    color_stats_text,
    elo_by_weekday_text,
    render_color_stats_svg,
    render_elo_by_weekday_svg,
    win_ratio_by_color_text,
)
from chess_pipeline_spark.operators.chess_transforms import (
    get_color_stats,
    get_elo_by_weekday,
)

_CS_SCHEMA = (
    "time_control_category string, player_color string, "
    "win double, draw double, loss double"
)


def _cs(spark, rows):
    return spark.createDataFrame(rows, _CS_SCHEMA)


def test_color_stats_text_branches(spark):
    # single row
    one = _cs(spark, [("blitz", "black", 0.5, 0.25, 0.25)])
    assert (
        color_stats_text(one)
        == "You had a 50.00% win rate with black in blitz."
    )
    # two rows, same category -> tail row, no ' in' suffix
    same = _cs(
        spark,
        [
            ("blitz", "black", 0.5, 0.25, 0.25),
            ("blitz", "white", 0.625, 0.125, 0.25),
        ],
    )
    assert color_stats_text(same) == (
        "You had a 50.00% win rate with black in blitz"
        " and a 62.50% win rate with white."
    )
    # two rows, different categories -> ' in <category>' suffix
    diff = _cs(
        spark,
        [
            ("blitz", "black", 0.5, 0.25, 0.25),
            ("rapid", "white", 1.0, 0.0, 0.0),
        ],
    )
    assert color_stats_text(diff) == (
        "You had a 50.00% win rate with black in blitz"
        " and a 100.00% win rate with white in rapid."
    )
    # empty
    empty = _cs(spark, [])
    assert color_stats_text(empty) == "Wait a second, no you didn't!"
    assert win_ratio_by_color_text(empty) == "Wait a second, no you didn't!"
    assert "cid:win-by-color" in win_ratio_by_color_text(one)


_ELO_SCHEMA = (
    "weekday_played int, mean double, std double, min double, max double"
)


def test_elo_by_weekday_text(spark):
    elo = spark.createDataFrame(
        [(-1, 1500.0, 10.0, 1480.0, 1520.0), (0, 1510.0, 5.0, 1502.0, 1530.0)],
        _ELO_SCHEMA,
    )
    t = elo_by_weekday_text(elo, "blitz")
    assert "your highest elo in blitz was 1530" in t
    assert "your lowest elo was 1480" in t
    assert "cid:elo-by-weekday" in t
    assert elo_by_weekday_text(spark.createDataFrame([], _ELO_SCHEMA), "blitz") == "\n"


def test_svg_renderers_well_formed(spark):
    cs = _cs(
        spark,
        [
            ("blitz", "black", 0.5, 0.25, 0.25),
            ("blitz", "white", 0.625, 0.125, 0.25),
        ],
    )
    svg = render_color_stats_svg(cs)
    root = ET.fromstring(svg)
    ns = "{http://www.w3.org/2000/svg}"
    rects = root.findall(f"{ns}rect")
    assert len(rects) == 6  # 2 bars x 3 segments
    labels = [t.text for t in root.findall(f"{ns}text")]
    assert "50.00%" in labels and "62.50%" in labels

    elo = spark.createDataFrame(
        [(-1, 1500.0, 10.0, 1480.0, 1520.0), (0, 1510.0, 5.0, 1502.0, 1530.0)],
        _ELO_SCHEMA,
    )
    svg2 = render_elo_by_weekday_svg(elo)
    root2 = ET.fromstring(svg2)
    assert root2.findall(f"{ns}polyline"), "no mean line"
    assert root2.findall(f"{ns}polygon"), "no std band"
    assert len(root2.findall(f"{ns}line")) == 2  # min/max whiskers


def test_build_newsletter_assembly():
    out = build_newsletter(
        ["You had a 50.00% win rate with black in blitz. <br>"
         "<img alt='x' src='cid:win-by-color'><br>"],
        "TestPlayer",
        "someone@example.com",
    )
    assert out["subject"] == "Chess Newsletter - TestPlayer"
    assert out["html"].startswith("<html><body>")
    assert "Hi TestPlayer" in out["html"]
    assert "<" not in out["text"] and "50.00% win rate" in out["text"]
    assert "Hope you do well this upcoming week!" in out["text"]


def test_newsletter_end_to_end_from_operators(spark):
    # the real wiring: fixture games -> get_color_stats /
    # get_elo_by_weekday -> texts + SVGs -> assembled mail
    from tests.test_chess_domain import PLAYER

    games = spark.createDataFrame(
        [
            ("g1", "blitz", "white", "Win", "2024-01-29 02:34:14", 1800.0),
            ("g2", "blitz", "black", "Loss", "2024-01-30 02:34:14", 1795.0),
            ("g3", "rapid", "white", "Draw", "2024-01-31 02:34:14", 1810.0),
        ],
        "game_link string, time_control_category string, player_color string,"
        " player_result string, datetime_played string, player_elo double",
    )
    cs = get_color_stats(games)
    elo = get_elo_by_weekday(games, category="blitz")
    texts = [
        win_ratio_by_color_text(cs),
        elo_by_weekday_text(elo, "blitz"),
    ]
    out = build_newsletter(texts, PLAYER, "someone@example.com")
    assert "100.00% win rate with black in blitz" not in out["html"]
    assert "win rate" in out["html"]
    assert "your highest elo in blitz was 1800" in out["html"]
    assert "your lowest elo was 1795" in out["html"]
    for svg in (render_color_stats_svg(cs), render_elo_by_weekday_svg(elo)):
        ET.fromstring(svg)


# ---------------------------------------------------------------------------
# the report set over a games table: golden output and job shape
# ---------------------------------------------------------------------------

# A NULL category (dropped), a duplicated link (counted once), a
# NULL link (counted in no share, but in the Elo stats), a link under
# two results (counted in both), two categories over several weekdays,
# and a category with no games.
_REPORT_GAMES = [
    ("g1", "blitz", "white", "Win", "2024-01-29 10:00:00", 1800.0),
    ("g1", "blitz", "white", "Win", "2024-01-29 10:00:00", 1800.0),
    ("g2", "blitz", "white", "Draw", "2024-01-30 11:00:00", 1806.0),
    ("g3", "blitz", "black", "Loss", "2024-01-31 12:00:00", 1791.0),
    ("g4", "blitz", "black", "Win", "2024-02-04 13:00:00", 1797.0),
    (None, "blitz", "black", "Win", "2024-02-03 14:00:00", 1812.0),
    ("g5", "rapid", "white", "Loss", "2024-02-01 15:00:00", 1702.0),
    ("g6", "rapid", "white", "Win", "2024-02-02 16:00:00", 1713.0),
    ("g6", "rapid", "white", "Draw", "2024-02-02 16:00:00", 1713.0),
    ("g8", "blitz", "black", "Draw", "2024-01-29 18:00:00", 1784.0),
    ("g9", "rapid", "black", "Win", "2024-02-01 19:00:00", 1720.0),
    ("g7", None, "white", "Draw", "2024-02-01 17:00:00", 1650.0),
]
_GAMES_SCHEMA = (
    "game_link string, time_control_category string, player_color string,"
    " player_result string, datetime_played string, player_elo double"
)
_REPORT_CATEGORIES = ("bullet", "blitz", "rapid")

# Captured from the report code that sorted with a Spark orderBy and
# pivoted a countDistinct; the colour-stats sentence and bars were
# re-captured once rows with a NULL category were dropped.
_GOLDEN_TEXTS = [
    (
        'You had a 33.33% win rate with black in blitz and a 50.00% win rate with white. <br>'
        " <img alt='Win rate by color played' src='cid:win-by-color'><br>"
    ),
    '\n',
    (
        'This week, your highest elo in blitz was 1812 and your lowest elo was 1784. <br>'
        "<img alt='Elo by weekday' src='cid:elo-by-weekday'><br>"
    ),
    (
        'This week, your highest elo in rapid was 1720 and your lowest elo was 1702. <br>'
        "<img alt='Elo by weekday' src='cid:elo-by-weekday'><br>"
    ),
]

_GOLDEN_SVGS = [
    (
        '<svg xmlns="http://www.w3.org/2000/svg" width="480" height="320">'
        '<text x="240.0" y="20" text-anchor="middle" font-size="14">Win-loss ratio by color played</text>'
        '<rect x="60.0" y="40.0" width="60.0" height="83.3" fill="#2ca02c"/>'
        '<text x="90.0" y="81.7" text-anchor="middle" font-size="10">33.33%</text>'
        '<rect x="60.0" y="123.3" width="60.0" height="83.3" fill="#ffbf00"/>'
        '<text x="90.0" y="165.0" text-anchor="middle" font-size="10">33.33%</text>'
        '<rect x="60.0" y="206.7" width="60.0" height="83.3" fill="#d62728"/>'
        '<text x="90.0" y="248.3" text-anchor="middle" font-size="10">33.33%</text>'
        '<text x="90.0" y="312" text-anchor="middle" font-size="10">blitz/black</text>'
        '<rect x="160.0" y="40.0" width="60.0" height="125.0" fill="#2ca02c"/>'
        '<text x="190.0" y="102.5" text-anchor="middle" font-size="10">50.00%</text>'
        '<rect x="160.0" y="165.0" width="60.0" height="125.0" fill="#ffbf00"/>'
        '<text x="190.0" y="227.5" text-anchor="middle" font-size="10">50.00%</text>'
        '<rect x="160.0" y="290.0" width="60.0" height="0.0" fill="#d62728"/>'
        '<text x="190.0" y="312" text-anchor="middle" font-size="10">blitz/white</text>'
        '<rect x="260.0" y="40.0" width="60.0" height="250.0" fill="#2ca02c"/>'
        '<text x="290.0" y="165.0" text-anchor="middle" font-size="10">100.00%</text>'
        '<rect x="260.0" y="290.0" width="60.0" height="0.0" fill="#ffbf00"/>'
        '<rect x="260.0" y="290.0" width="60.0" height="0.0" fill="#d62728"/>'
        '<text x="290.0" y="312" text-anchor="middle" font-size="10">rapid/black</text>'
        '<rect x="360.0" y="40.0" width="60.0" height="83.3" fill="#2ca02c"/>'
        '<text x="390.0" y="81.7" text-anchor="middle" font-size="10">33.33%</text>'
        '<rect x="360.0" y="123.3" width="60.0" height="83.3" fill="#ffbf00"/>'
        '<text x="390.0" y="165.0" text-anchor="middle" font-size="10">33.33%</text>'
        '<rect x="360.0" y="206.7" width="60.0" height="83.3" fill="#d62728"/>'
        '<text x="390.0" y="248.3" text-anchor="middle" font-size="10">33.33%</text>'
        '<text x="390.0" y="312" text-anchor="middle" font-size="10">rapid/white</text>'
        '</svg>'
    ),
    (
        '<svg xmlns="http://www.w3.org/2000/svg" width="480" height="320">'
        '<text x="240.0" y="20" text-anchor="middle" font-size="14">Elo by weekday</text>'
        '</svg>'
    ),
    (
        '<svg xmlns="http://www.w3.org/2000/svg" width="480" height="320">'
        '<text x="240.0" y="20" text-anchor="middle" font-size="14">Elo by weekday</text>'
        '<polygon points="40.0,168.6 140.0,109.4 240.0,91.4 340.0,220.0 440.0,40.0 440.0,40.0 340.0,220.0 240.0,91.4 140.0,267.8 40.0,168.6" fill="#1f77b4" opacity="0.2"/>'
        '<polyline points="40.0,168.6 140.0,188.6 240.0,91.4 340.0,220.0 440.0,40.0" fill="none" stroke="#1f77b4" stroke-width="2"/>'
        '<line x1="40.0" y1="168.6" x2="40.0" y2="168.6" stroke="#888" stroke-width="1"/>'
        '<text x="40.0" y="312" text-anchor="middle" font-size="10">-1</text>'
        '<line x1="140.0" y1="280.0" x2="140.0" y2="142.9" stroke="#888" stroke-width="1"/>'
        '<text x="140.0" y="312" text-anchor="middle" font-size="10">0</text>'
        '<line x1="240.0" y1="91.4" x2="240.0" y2="91.4" stroke="#888" stroke-width="1"/>'
        '<text x="240.0" y="312" text-anchor="middle" font-size="10">1</text>'
        '<line x1="340.0" y1="220.0" x2="340.0" y2="220.0" stroke="#888" stroke-width="1"/>'
        '<text x="340.0" y="312" text-anchor="middle" font-size="10">2</text>'
        '<line x1="440.0" y1="40.0" x2="440.0" y2="40.0" stroke="#888" stroke-width="1"/>'
        '<text x="440.0" y="312" text-anchor="middle" font-size="10">5</text>'
        '</svg>'
    ),
    (
        '<svg xmlns="http://www.w3.org/2000/svg" width="480" height="320">'
        '<text x="240.0" y="20" text-anchor="middle" font-size="14">Elo by weekday</text>'
        '<polygon points="40.0,-9.7 440.0,133.3 440.0,133.3 40.0,329.7" fill="#1f77b4" opacity="0.2"/>'
        '<polyline points="40.0,160.0 440.0,133.3" fill="none" stroke="#1f77b4" stroke-width="2"/>'
        '<line x1="40.0" y1="280.0" x2="40.0" y2="40.0" stroke="#888" stroke-width="1"/>'
        '<text x="40.0" y="312" text-anchor="middle" font-size="10">3</text>'
        '<line x1="440.0" y1="133.3" x2="440.0" y2="133.3" stroke="#888" stroke-width="1"/>'
        '<text x="440.0" y="312" text-anchor="middle" font-size="10">4</text>'
        '</svg>'
    ),
]

_GOLDEN_LETTER = {
    "subject": 'Chess Newsletter - TestPlayer',
    "to": 'someone@example.com',
    "html": (
        '<html><body> Hi TestPlayer,<br>'
        '<br>'
        "This week you played chess! Here's your performance:<br>"
        'You had a 33.33% win rate with black in blitz and a 50.00% win rate with white. <br>'
        " <img alt='Win rate by color played' src='cid:win-by-color'><br>"
        '<br>'
        '\n'
        '<br>'
        'This week, your highest elo in blitz was 1812 and your lowest elo was 1784. <br>'
        "<img alt='Elo by weekday' src='cid:elo-by-weekday'><br>"
        '<br>'
        'This week, your highest elo in rapid was 1720 and your lowest elo was 1702. <br>'
        "<img alt='Elo by weekday' src='cid:elo-by-weekday'><br>"
        '<br>'
        'Hope you do well this upcoming week!</body></html>'
    ),
    "text": (
        ' Hi TestPlayer,\n'
        '\n'
        "This week you played chess! Here's your performance:\n"
        'You had a 33.33% win rate with black in blitz and a 50.00% win rate with white. \n'
        ' \n'
        '\n'
        '\n'
        '\n'
        'This week, your highest elo in blitz was 1812 and your lowest elo was 1784. \n'
        '\n'
        '\n'
        'This week, your highest elo in rapid was 1720 and your lowest elo was 1702. \n'
        '\n'
        '\n'
        'Hope you do well this upcoming week!'
    ),
}


def _report_games(spark, tmp_path):
    """_REPORT_GAMES written to parquet and read back, as the report
    set reads the warehouse's chess_games."""
    path = str(tmp_path / "chess_games")
    spark.createDataFrame(_REPORT_GAMES, _GAMES_SCHEMA).write.parquet(path)
    return spark.read.parquet(path)


def test_report_set_golden_output(spark, tmp_path):
    games = _report_games(spark, tmp_path)
    cs = get_color_stats(games)
    texts = [win_ratio_by_color_text(cs)]
    svgs = [render_color_stats_svg(cs)]
    for cat in _REPORT_CATEGORIES:
        elo = get_elo_by_weekday(games, cat)
        texts.append(elo_by_weekday_text(elo, cat))
        svgs.append(render_elo_by_weekday_svg(elo))
    assert texts == _GOLDEN_TEXTS
    assert svgs == _GOLDEN_SVGS
    assert build_newsletter(texts, "TestPlayer", "someone@example.com") == _GOLDEN_LETTER


def test_report_frames_plan_one_exchange(spark, tmp_path):
    games = _report_games(spark, tmp_path)
    assert plan_metrics(get_color_stats(games))["exchanges"] == 1
    assert plan_metrics(get_elo_by_weekday(games, "blitz"))["exchanges"] == 1


def test_report_set_runs_at_most_two_jobs_per_collect(spark, tmp_path):
    # one shuffle stage plus the result stage per collect: no range
    # exchange and no sampling job. The report path runs on this
    # thread, so its job group sees every job; the status tracker
    # learns of a job from the listener bus, which is drained first.
    games = _report_games(spark, tmp_path)
    cs = get_color_stats(games)
    calls = [
        ("color_text", lambda: win_ratio_by_color_text(cs)),
        ("color_svg", lambda: render_color_stats_svg(cs)),
    ]
    for cat in ("blitz", "rapid"):
        elo = get_elo_by_weekday(games, cat)
        calls += [
            (f"{cat}_text", lambda elo=elo, cat=cat: elo_by_weekday_text(elo, cat)),
            (f"{cat}_svg", lambda elo=elo: render_elo_by_weekday_svg(elo)),
        ]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = {}
    try:
        for name, call in calls:
            group = f"report-set-{name}"
            sc.setJobGroup(group, name)
            call()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs[name] = len(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert all(1 <= n <= 2 for n in jobs.values()), jobs
