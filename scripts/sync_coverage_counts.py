#!/usr/bin/env python3
"""Sync COVERAGE.md's suite-count claim to live pytest collection.

The r9 verdict caught COVERAGE.md one commit stale ("877 collected"
vs an actual 878): the count-sync commit landed before the round's
final code commit added a test. This script makes the sync
mechanical — run it AFTER the last code commit of a round:

    python scripts/sync_coverage_counts.py            # rewrite
    python scripts/sync_coverage_counts.py --check    # verify only

It collects the suite (no execution), rewrites the "<N>-test pytest
suite" sentence with N = live collection, and exits nonzero in
--check mode on a mismatch. Pass and skip counts are left out of the
sentence: skips are decided at run time, so collection cannot know
them. The contract test
tests/test_catalog_contract.py::test_coverage_md_suite_count_matches_collection
runs the same comparison at pytest time, so the drift class is caught
by the suite itself, not the judge.
"""

from __future__ import annotations

import argparse
import re
import subprocess
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent

_CLAIM = re.compile(r"(\d+)-test pytest suite")


def live_collected() -> int:
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q"],
        cwd=_REPO,
        capture_output=True,
        text=True,
        timeout=300,
    ).stdout
    m = re.search(r"(\d+) tests collected", out)
    if not m:
        sys.exit(f"could not parse collection output tail: {out[-300:]!r}")
    return int(m.group(1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true", help="verify, don't rewrite")
    args = ap.parse_args()

    cov = _REPO / "COVERAGE.md"
    text = cov.read_text()
    m = _CLAIM.search(text)
    if not m:
        sys.exit("COVERAGE.md suite-count sentence not found / reformatted")
    claimed_n = int(m.group(1))
    n = live_collected()
    if args.check:
        if claimed_n != n:
            print(
                f"STALE: COVERAGE.md claims {claimed_n} collected, live "
                f"collection is {n} — run scripts/sync_coverage_counts.py "
                "after the last code commit"
            )
            return 1
        print(f"in sync: {n} collected")
        return 0
    cov.write_text(_CLAIM.sub(f"{n}-test pytest suite", text, count=1))
    print(f"COVERAGE.md synced: {n} collected")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
