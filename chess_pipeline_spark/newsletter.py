"""Newsletter tier: the reference's S8 render surface re-expressed
dependency-free.

- texts: color_stats_text / elo_by_weekday_text mirror the phrasing
  rules of the reference's newsletter utilities
  (src/utils/newsletter.py:18-77) exactly — first category row, the
  optional second sentence (same-category tail row, else the next
  category with an " in <category>" suffix), the empty-frame
  fallbacks, and the min/max elo sentence;
- plots: render_color_stats_svg / render_elo_by_weekday_svg are
  self-contained SVG writers standing in for the seaborn PNGs
  (src/pipeline_import/plots.py:10-129) with the same marks —
  stacked Win/Draw/Loss ratio bars with centered percentage labels,
  and the mean-elo line with a ±std band and min/max whiskers. No
  matplotlib/seaborn in this container; SVG needs no raster stack
  and embeds in HTML mail directly;
- assembly: build_newsletter produces the subject + HTML body +
  plaintext alternative (newsletter.py:101-146). The SendGrid send
  itself stays out of engine core (network side effect); the
  returned dict feeds any mailer.

All inputs are the TINY driver-side aggregates the Spark operators
produce (get_color_stats: categories x colors rows;
get_elo_by_weekday: 7 rows) — collecting them is correct, not a
scale smell. Each report frame is collected as its one shuffle stage
plus the result stage and ordered here on the driver
(_sorted_rows, Spark's ascending NULLS FIRST order): a Spark orderBy
would add a range exchange and a sampling job to every collect of a
few rows.
"""

from __future__ import annotations

import re
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame

_EMPTY_COLOR_TEXT = "Wait a second, no you didn't!"


def _sorted_rows(df: DataFrame, *cols: str) -> list:
    """df's rows collected and sorted by cols ascending, NULLs first:
    the order a Spark sort on cols gives. Strings compare by code
    point, which orders as Spark's UTF-8 byte compare does."""
    return sorted(
        df.collect(),
        key=lambda r: tuple((r[c] is not None, r[c]) for c in cols),
    )


def color_stats_text(color_stats: DataFrame) -> str:
    """Reference get_color_stats_text (newsletter.py:18-55): first
    row's win rate, plus a second sentence from the same category's
    last row (no suffix) or the next category's first row (with an
    ' in <category>' suffix)."""
    rows = _sorted_rows(color_stats, "time_control_category", "player_color")
    if not rows:
        return _EMPTY_COLOR_TEXT
    category = rows[0].time_control_category
    in_cat = [r for r in rows if r.time_control_category == category]
    first = in_cat[0]
    text = (
        f"You had a {first.win * 100:.2f}% win rate"
        f" with {first.player_color} in {category}"
    )
    if len(rows) > 1:
        if len(in_cat) > 1:
            second = in_cat[-1]
            substr = ""
        else:
            second = rows[1]
            substr = " in " + second.time_control_category
        text += (
            f" and a {second.win * 100:.2f}% win rate"
            f" with {second.player_color}{substr}"
        )
    return text + "."


def elo_by_weekday_text(elo: DataFrame, category: str) -> str:
    """Reference generate_elo_by_weekday_text (newsletter.py:59-77):
    weekly high/low sentence + the inline-image reference."""
    rows = elo.collect()
    if not rows:
        return "\n"
    max_elo = int(max(r["max"] for r in rows))
    min_elo = int(min(r["min"] for r in rows))
    return (
        f"This week, your highest elo in {category} was "
        f"{max_elo} and your lowest elo was {min_elo}. <br>"
        f"<img alt='Elo by weekday' src='cid:elo-by-weekday'><br>"
    )


def win_ratio_by_color_text(color_stats: DataFrame) -> str:
    """Reference generate_win_ratio_by_color_text (newsletter.py:80-98)."""
    text = color_stats_text(color_stats)
    if text == _EMPTY_COLOR_TEXT:
        return text
    return (
        text
        + " <br> <img alt='Win rate by color "
        + "played' src='cid:win-by-color'><br>"
    )


# ------------------------------------------------------------------
# SVG renderers (PNG stand-ins; same marks as plots.py)
# ------------------------------------------------------------------

_SEG_COLORS = {"win": "#2ca02c", "draw": "#ffbf00", "loss": "#d62728"}


def render_color_stats_svg(color_stats: DataFrame, width: int = 480, height: int = 320) -> str:
    """Stacked Win/Draw/Loss ratio bars per (category, color), each
    segment labeled with its percentage — the marks of
    make_color_stats_plot (plots.py:10-51)."""
    rows = _sorted_rows(color_stats, "time_control_category", "player_color")
    pad, label_h = 40, 30
    plot_h = height - pad - label_h
    n = max(len(rows), 1)
    bar_w = (width - 2 * pad) / n * 0.6
    step = (width - 2 * pad) / n
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" height="{height}">',
        f'<text x="{width / 2}" y="20" text-anchor="middle" font-size="14">'
        "Win-loss ratio by color played</text>",
    ]
    for i, r in enumerate(rows):
        x = pad + i * step + (step - bar_w) / 2
        y = pad
        for seg in ("win", "draw", "loss"):
            frac = float(r[seg] or 0.0)
            h = frac * plot_h
            parts.append(
                f'<rect x="{x:.1f}" y="{y:.1f}" width="{bar_w:.1f}" '
                f'height="{h:.1f}" fill="{_SEG_COLORS[seg]}"/>'
            )
            if h > 0:
                parts.append(
                    f'<text x="{x + bar_w / 2:.1f}" y="{y + h / 2:.1f}" '
                    f'text-anchor="middle" font-size="10">'
                    f"{100 * frac:.2f}%</text>"
                )
            y += h
        label = escape(f"{r.time_control_category}/{r.player_color}")
        parts.append(
            f'<text x="{x + bar_w / 2:.1f}" y="{height - 8}" '
            f'text-anchor="middle" font-size="10">{label}</text>'
        )
    parts.append("</svg>")
    return "".join(parts)


def render_elo_by_weekday_svg(elo: DataFrame, width: int = 480, height: int = 320) -> str:
    """Mean-elo line with a ±std band and min/max whiskers per
    weekday — the marks of make_elo_by_weekday_plot
    (plots.py:54-129)."""
    rows = _sorted_rows(elo, "weekday_played")
    pad = 40
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" height="{height}">',
        f'<text x="{width / 2}" y="20" text-anchor="middle" font-size="14">'
        "Elo by weekday</text>",
    ]
    if rows:
        lo = min(float(r["min"]) for r in rows)
        hi = max(float(r["max"]) for r in rows)
        span = (hi - lo) or 1.0
        n = len(rows)

        def xy(i: int, v: float) -> tuple[float, float]:
            x = pad + (width - 2 * pad) * (i / max(n - 1, 1))
            y = height - pad - (height - 2 * pad) * ((v - lo) / span)
            return x, y

        band_top = [xy(i, float(r["mean"]) + float(r["std"])) for i, r in enumerate(rows)]
        band_bot = [xy(i, float(r["mean"]) - float(r["std"])) for i, r in enumerate(rows)]
        pts = " ".join(f"{x:.1f},{y:.1f}" for x, y in band_top + band_bot[::-1])
        parts.append(f'<polygon points="{pts}" fill="#1f77b4" opacity="0.2"/>')
        mean_pts = " ".join(
            "{:.1f},{:.1f}".format(*xy(i, float(r["mean"]))) for i, r in enumerate(rows)
        )
        parts.append(
            f'<polyline points="{mean_pts}" fill="none" stroke="#1f77b4" stroke-width="2"/>'
        )
        for i, r in enumerate(rows):
            x1, y1 = xy(i, float(r["min"]))
            _, y2 = xy(i, float(r["max"]))
            parts.append(
                f'<line x1="{x1:.1f}" y1="{y1:.1f}" x2="{x1:.1f}" y2="{y2:.1f}" '
                f'stroke="#888" stroke-width="1"/>'
            )
            parts.append(
                f'<text x="{x1:.1f}" y="{height - 8}" text-anchor="middle" '
                f'font-size="10">{int(r.weekday_played)}</text>'
            )
    parts.append("</svg>")
    return "".join(parts)


# ------------------------------------------------------------------
# Assembly
# ------------------------------------------------------------------


def build_newsletter(texts: list[str], player: str, receiver: str) -> dict[str, str]:
    """Reference create_newsletter (newsletter.py:108-146) minus the
    SendGrid objects: subject + HTML + derived plaintext (tag-strip
    with <br> -> newline, the role BeautifulSoup.get_text plays
    there)."""
    message = [
        f"<html><body> Hi {player},<br><br>"
        f"This week you played chess! Here's your performance:"
    ]
    message.extend(texts)
    message.append("Hope you do well this upcoming week!</body></html>")
    html = "<br>".join(message)
    plain = re.sub(r"<br\s*/?>", "\n", html)
    plain = re.sub(r"<[^>]+>", "", plain)
    return {
        "subject": f"Chess Newsletter - {player}",
        "to": receiver,
        "html": html,
        "text": plain,
    }
