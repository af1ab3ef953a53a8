#!/usr/bin/env python3
"""Measured small-files evidence for the r10 ledger-compaction family.

Drives N micro-batches (default 30) through the three ledger shapes
that grow with batch count — the paragraph-dedup digest set
(set-union append), the boilerplate count ledger (additive
batch-partitioned), and the dup-gram df ledger (additive
batch-partitioned) — then compacts each and reports, per ledger:

  files_before / files_after   parquet part files on disk
  probe_before_s / probe_after_s   min-of-3 probe latency
  compact_s                    one-off fold cost
  probe_equal                  the law: probe rows identical

This is the quantified version of the qualitative claim in
SCALING.md: under continuous ingest the per-batch layout grows one
file set per batch forever, probes degrade with file count (listing
+ footer reads + tiny row groups), and one fold restores build-time
serving cost. At 100 TB the same curve is steeper: listing 10^5
partitions dominates a digest-set membership probe long before data
volume does.

Prints one JSON line. Results recorded in SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import pyspark.sql.functions as F  # noqa: E402

from chess_pipeline_spark.session import get_spark  # noqa: E402
from chess_pipeline_spark.sources import load_table  # noqa: E402
from chess_pipeline_spark.streaming.jobs import (  # noqa: E402
    ADDITIVE_LEDGERS,
    _boiler_process_batch,
    _paragraph_process_batch,
    compact_paragraph_ledger,
    dup_exposure_from_ledger,
    ingest_dupgram_delta,
)


def n_parquet_files(root: str) -> int:
    return sum(
        1
        for dirpath, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def min_of_3(fn) -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    n_batches = int(os.environ.get("LEDGER_STRESS_BATCHES", "30"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    work = os.environ.get("LEDGER_STRESS_DIR", "/tmp/ledger_stress")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    spark = get_spark(app_name="ledger-compaction-stress")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents").cache()
    docs.count()
    # split doc ids into n_batches contiguous slices
    ids = [r["doc_id"] for r in docs.select("doc_id").orderBy("doc_id").collect()]
    step = max(1, len(ids) // n_batches)
    slices = [
        (ids[i * step], ids[min((i + 1) * step, len(ids)) - 1])
        for i in range(min(n_batches, (len(ids) + step - 1) // step))
    ]

    out: dict = {"n_batches": len(slices), "sf_dir": sf_dir, "ledgers": {}}

    def batch_frame(lo, hi):
        return docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))

    cases = {
        "paragraph": {
            "ingest": lambda b, i: _paragraph_process_batch(
                b, i, f"{work}/pd_ledger", f"{work}/pd_verdicts"
            ),
            "path": f"{work}/pd_ledger",
            "compact": lambda: compact_paragraph_ledger(spark, f"{work}/pd_ledger"),
            "probe": lambda: spark.read.parquet(f"{work}/pd_ledger")
            .select("digest")
            .distinct()
            .count(),
        },
        "boiler": {
            "ingest": lambda b, i: _boiler_process_batch(
                b, i, f"{work}/bp_ledger", f"{work}/bp_verdicts"
            ),
            "path": f"{work}/bp_ledger",
            "compact": lambda: ADDITIVE_LEDGERS["boiler"].compact(
                spark, f"{work}/bp_ledger"
            ),
            "probe": lambda: ADDITIVE_LEDGERS["boiler"]
            .read(spark, f"{work}/bp_ledger")
            .count(),
        },
        "dupgram": {
            "ingest": lambda b, i: ingest_dupgram_delta(
                b, f"{work}/dg_ledger", i
            ),
            "path": f"{work}/dg_ledger",
            "compact": lambda: ADDITIVE_LEDGERS["dupgram"].compact(
                spark, f"{work}/dg_ledger"
            ),
            "probe": lambda: dup_exposure_from_ledger(
                spark, f"{work}/dg_ledger", docs.limit(50)
            ).count(),
        },
    }

    for name, c in cases.items():
        t0 = time.perf_counter()
        for i, (lo, hi) in enumerate(slices):
            c["ingest"](batch_frame(lo, hi), i)
        ingest_s = round(time.perf_counter() - t0, 3)
        files_before = n_parquet_files(c["path"])
        probe_rows_before = c["probe"]()
        probe_before = min_of_3(c["probe"])
        t0 = time.perf_counter()
        c["compact"]()
        compact_s = round(time.perf_counter() - t0, 3)
        files_after = n_parquet_files(c["path"])
        probe_rows_after = c["probe"]()
        probe_after = min_of_3(c["probe"])
        out["ledgers"][name] = {
            "ingest_s": ingest_s,
            "files_before": files_before,
            "files_after": files_after,
            "probe_before_s": probe_before,
            "probe_after_s": probe_after,
            "compact_s": compact_s,
            "probe_equal": probe_rows_before == probe_rows_after,
        }

    print(json.dumps(out))


if __name__ == "__main__":
    raise SystemExit(main())
