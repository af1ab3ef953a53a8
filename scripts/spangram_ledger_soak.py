#!/usr/bin/env python3
"""At-scale stress for the r11-new span-gram occurrence ledger
(streaming/jobs.py::ingest_spangram_delta / spans_from_ledger) — the
r11 verdict's task 5: the ledger was the only r11 code verified
solely at fixture scale.

Drives N micro-batches (default 30) of the soak documents corpus
(default 100x sf0.1 = 500k docs, the SCALESOAK regime) through the
ledger, then:

  law_at_scale      spans_from_ledger over the FULL corpus equals the
                    batch exact_substring_spans on the same corpus —
                    compared by row count + order-insensitive
                    xxhash64 checksum (a 500k-row collect would
                    measure the driver, not the engine)
  probe curve       min-of-3 spans_from_ledger latency over ONE batch
                    (the serving shape: a new crawl delta probed
                    against the accumulated ledger) before and after
                    compaction, plus parquet file counts
  repeat-run heap   the law query runs TWICE in this one JVM inside
                    scoped_checkpoints; persistent-RDD pin counts are
                    recorded flat (the r11 heap-death regression, at
                    the scale that produced it)

Prints one JSON line and writes SPANGRAMSOAK_r{ROUND}.json (env
SOAK_ROUND). Results recorded in SCALING.md.
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
sys.path.insert(0, str(Path(__file__).resolve().parent))

import pyspark.sql.functions as F  # noqa: E402

from chess_pipeline_spark.checkpoints import (  # noqa: E402
    persistent_rdd_ids,
    scoped_checkpoints,
)
from chess_pipeline_spark.plans.corpus import exact_substring_spans  # noqa: E402
from chess_pipeline_spark.session import get_spark  # noqa: E402
from chess_pipeline_spark.streaming.jobs import (  # noqa: E402
    ADDITIVE_LEDGERS,
    ingest_spangram_delta,
    spans_from_ledger,
)
from scale_soak import replicate_documents  # noqa: E402


def n_parquet_files(root: str) -> int:
    return sum(
        1
        for _, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def checksum(df) -> tuple[int, int]:
    """(row_count, order-insensitive sum of row hashes) — the scale
    substitute for a sorted-rows collect."""
    row = df.agg(
        F.count("*").alias("n"),
        # decimal(38,0) sum: 500k 64-bit hashes overflow a BIGINT
        # accumulator under ANSI mode
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def main() -> None:
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mult = int(os.environ.get("SPANGRAM_DOC_MULT", "100"))
    n_batches = int(os.environ.get("SPANGRAM_BATCHES", "30"))
    round_no = int(os.environ.get("SOAK_ROUND", "12"))
    work = os.environ.get("SPANGRAM_DIR", "/tmp/spangram_soak")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    spark = get_spark(app_name="spangram-ledger-soak")
    spark.sparkContext.setLogLevel("ERROR")
    load_start = list(os.getloadavg())

    out: dict = {
        "round": round_no,
        "src": src,
        "doc_mult": mult,
        "n_batches": n_batches,
        "loadavg_start": load_start,
    }

    t0 = time.perf_counter()
    n_docs = replicate_documents(spark, src, f"{work}/sfx", mult=mult)
    out["n_docs"] = n_docs
    out["replicate_s"] = round(time.perf_counter() - t0, 3)

    docs = spark.read.parquet(f"{work}/sfx/documents.parquet")
    # contiguous doc_id slices via quantile cut points (collecting
    # 500k ids to the driver would be the anti-pattern this repo bans)
    cuts = docs.approxQuantile(
        "doc_id", [i / n_batches for i in range(n_batches + 1)], 0.001
    )
    cuts[0], cuts[-1] = float("-inf"), float("inf")
    led = f"{work}/ledger"

    def batch_frame(i: int):
        return docs.filter(
            (F.col("doc_id") > cuts[i]) & (F.col("doc_id") <= cuts[i + 1])
        )

    t0 = time.perf_counter()
    for i in range(n_batches):
        with scoped_checkpoints(spark):
            ingest_spangram_delta(batch_frame(i), led, i)
    out["ingest_s_total"] = round(time.perf_counter() - t0, 3)
    out["ingest_s_per_batch"] = round(out["ingest_s_total"] / n_batches, 3)

    # the serving shape: one new delta probed against the full ledger
    probe_docs = batch_frame(n_batches - 1)

    out["files_before"] = n_parquet_files(led)

    # law at scale, run TWICE in this one JVM (the r11 heap-death
    # shape): ledger-served rollup == the batch query, by checksum
    law: dict = {}
    pins_base = len(persistent_rdd_ids(spark))
    for attempt in (1, 2):
        with scoped_checkpoints(spark):
            t0 = time.perf_counter()
            got = checksum(spans_from_ledger(spark, led, docs))
            law[f"ledger_serve_s_run{attempt}"] = round(
                time.perf_counter() - t0, 3
            )
        with scoped_checkpoints(spark):
            t0 = time.perf_counter()
            want = checksum(exact_substring_spans(spark, f"{work}/sfx"))
            law[f"batch_spans_s_run{attempt}"] = round(
                time.perf_counter() - t0, 3
            )
        law[f"match_run{attempt}"] = got == want
        law[f"pins_after_run{attempt}"] = len(persistent_rdd_ids(spark))
    law["rows"] = got[0]
    law["pins_flat"] = (
        law["pins_after_run1"] == law["pins_after_run2"] == pins_base
    )
    out["law_at_scale"] = law

    # snapshot the pre-compaction layout so the before/after probe
    # pair can run INTERLEAVED at the very end, after the heavy law
    # queries' load tail settles — the first draw of this artifact
    # measured probe_after at loadavg 25 (right after the law runs)
    # and read as a compaction regression that was really contention
    led_pre = f"{work}/ledger_precompact"
    shutil.copytree(led, led_pre)

    t0 = time.perf_counter()
    ADDITIVE_LEDGERS["spangram"].compact(spark, led)
    out["compact_s"] = round(time.perf_counter() - t0, 3)
    out["files_after"] = n_parquet_files(led)
    # compaction is probe-invariant
    with scoped_checkpoints(spark):
        out["law_after_compact"] = (
            checksum(spans_from_ledger(spark, led, docs)) == got
        )

    def probe_at(path: str) -> None:
        with scoped_checkpoints(spark):
            spans_from_ledger(spark, path, probe_docs).count()

    time.sleep(int(os.environ.get("SPANGRAM_SETTLE_S", "60")))
    out["loadavg_probes"] = list(os.getloadavg())
    before = after = float("inf")
    for _ in range(3):  # interleaved min-of-3: no layout owns a
        t0 = time.perf_counter()  # loaded stretch of the run
        probe_at(led_pre)
        before = min(before, time.perf_counter() - t0)
        t0 = time.perf_counter()
        probe_at(led)
        after = min(after, time.perf_counter() - t0)
    out["probe_before_s"] = round(before, 3)
    out["probe_after_s"] = round(after, 3)

    out["loadavg_end"] = list(os.getloadavg())
    line = json.dumps(out)
    print(line)
    Path(_REPO, f"SPANGRAMSOAK_r{round_no:02d}.json").write_text(line + "\n")
    spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
