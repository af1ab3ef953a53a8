"""Measurement-provenance contract (r11 verdict stretch task 8).

The r11 round produced two load-contaminated artifacts that only a
judge reading loadavg by hand could adjudicate (the driver bench draw
at 18.81, the committed soak at 22.4). These tests make provenance
machine-visible for the artifacts THIS repo commits: the latest
canonical BENCHLOCAL and SCALESOAK must carry contemporaneous
calibration + loadavg blocks, and the canonical draws must actually
have started idle (the discipline bench.py's naming already encodes —
contended runs get load-stamped sibling names and never the canonical
name).

Driver-written BENCH_r{N}.json files are deliberately NOT gated here:
the builder can't control their draw conditions, only document them
(SCALING.md calibration adjudication).
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

_ROOT = Path(__file__).parent.parent

# canonical artifacts only: the load-stamped siblings
# (BENCHLOCAL_r11.sf0.1-load18.8-*.json) are quarantined evidence,
# not canon, and are allowed to be contaminated by definition
_CANON_BENCH = re.compile(r"^BENCHLOCAL_r(\d+)\.json$")
_CANON_SOAK = re.compile(r"^SCALESOAK_r(\d+)\.json$")

# artifacts produced before the provenance fields existed; grandfathered
_PROVENANCE_SINCE = 12

# "started idle" for a 32-cpu box: same bound the verify skill quotes
# (canonical draws historically start at < 2; 4 leaves headroom for
# the decaying tail of a previous run without admitting contention)
_IDLE_LOADAVG = 4.0


def _latest(pattern: re.Pattern) -> tuple[int, Path] | None:
    best: tuple[int, Path] | None = None
    for p in _ROOT.iterdir():
        m = pattern.match(p.name)
        if m:
            rnd = int(m.group(1))
            if best is None or rnd > best[0]:
                best = (rnd, p)
    return best


def test_latest_canonical_benchlocal_provenance():
    found = _latest(_CANON_BENCH)
    assert found, "no canonical BENCHLOCAL artifact committed"
    rnd, path = found
    art = json.loads(path.read_text())
    assert "loadavg" in art and "loadavg_end" in art, path.name
    assert art["loadavg"][0] < _IDLE_LOADAVG, (
        f"{path.name} started at loadavg {art['loadavg'][0]} — a "
        "contended draw must get a load-stamped sibling name, never "
        "the canonical one (bench.py provenance discipline)"
    )
    cal = art.get("calibration")
    assert cal and {"pyloop_sec", "smalljob_ms", "shuffle_probe_sec"} <= set(
        cal
    ), f"{path.name} missing the calibration probe block"
    assert "calibration_patched_unix" not in art, (
        f"{path.name}: calibration was back-patched, not "
        "contemporaneous — re-draw the canonical bench"
    )


def test_latest_scalesoak_provenance():
    found = _latest(_CANON_SOAK)
    assert found, "no SCALESOAK artifact committed"
    rnd, path = found
    art = json.loads(path.read_text())
    assert "loadavg" in art, path.name
    if rnd < _PROVENANCE_SINCE:
        pytest.skip(
            f"{path.name} predates the r12 provenance fields "
            "(grandfathered; its loadavg is end-of-run)"
        )
    assert "loadavg_end" in art and "calibration" in art, path.name
    assert art["loadavg"][0] < _IDLE_LOADAVG, (
        f"{path.name} started at loadavg {art['loadavg'][0]} — commit "
        "an idle re-draw (r11 verdict task 3: ratios survive "
        "contention, quotable absolutes do not)"
    )


@pytest.mark.parametrize("stem", ["SPANGRAMSOAK", "DSIRSOAK", "LEDGERSOAK"])
def test_ledger_soak_provenance_if_committed(stem):
    found = _latest(re.compile(rf"^{stem}_r(\d+)\.json$"))
    if not found:
        pytest.skip(f"no {stem} artifact (first committed in r12)")
    _, path = found
    art = json.loads(path.read_text())
    assert "loadavg_start" in art and "loadavg_end" in art, path.name
    assert art["loadavg_start"][0] < _IDLE_LOADAVG, path.name
