#!/usr/bin/env python3
"""At-scale stress for the r12-new DSIR bucket-count ledger
(streaming/jobs.py::ingest_dsir_delta / dsir_from_ledger) — the same
harness shape as scripts/spangram_ledger_soak.py, run in-round so the
twin does NOT ship fixture-verified-only (the r11 spangram lesson).

Drives N micro-batches (default 30) of the soak documents corpus
(default the SCALESOAK table at $SOAK_DIR/sfx, 500k docs) through the
ledger with the pinned target = corpus min(source), then checks:
  law_at_scale   dsir_from_ledger over the FULL corpus equals the
                 batch dsir_importance_weights on the same corpus
                 (count + order-insensitive checksum), run TWICE in
                 one JVM with persistent-RDD pins recorded flat
  probe curve    interleaved min-of-3 serve latency over one batch
                 against the pre- and post-compaction layouts
Prints one JSON line and writes DSIRSOAK_r{ROUND}.json.
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

from chess_pipeline_spark.checkpoints import (  # noqa: E402
    persistent_rdd_ids,
    scoped_checkpoints,
)
from chess_pipeline_spark.plans.corpus import dsir_importance_weights  # noqa: E402
from chess_pipeline_spark.session import get_spark  # noqa: E402
from chess_pipeline_spark.streaming.jobs import (  # noqa: E402
    ADDITIVE_LEDGERS,
    dsir_from_ledger,
    ingest_dsir_delta,
)


def n_parquet_files(root: str) -> int:
    return sum(
        1 for _, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    )


def checksum(df) -> tuple[int, int]:
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def main() -> None:
    sfx = os.path.join(os.environ.get("SOAK_DIR", "/tmp/scale_soak"), "sfx")
    n_batches = int(os.environ.get("DSIR_BATCHES", "30"))
    round_no = int(os.environ.get("SOAK_ROUND", "12"))
    work = os.environ.get("DSIR_SOAK_DIR", "/tmp/dsir_soak")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    # soak-sized heap (recorded): under the DEFAULT corpus-pin mode
    # the law section holds the batch query's ~2 GB postings
    # checkpoint WHILE 32 rollup hash-aggs run; the 8g test default hit
    # AGGREGATE_OUT_OF_MEMORY at 500k docs in r12. The knob:
    # SPARK_GRAFT_CORPUS_PINS=disk|recompute is picked up by
    # dsir_importance_weights (checkpoints.pin_corpus_frame), and this
    # script records which mode ran at which heap — the disk-mode law
    # run at SPARK_DRIVER_MEMORY=8g is the escape-hatch proof
    # (DSIR_ARTIFACT_SUFFIX names the sibling artifact).
    mode = os.environ.get("SPARK_GRAFT_CORPUS_PINS", "checkpoint")
    os.environ.setdefault(
        "SPARK_DRIVER_MEMORY", "24g" if mode == "checkpoint" else "8g"
    )
    suffix = os.environ.get("DSIR_ARTIFACT_SUFFIX", "")
    spark = get_spark(app_name="dsir-ledger-soak")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {
        "round": round_no,
        "corpus": sfx,
        "n_batches": n_batches,
        "heap": os.environ["SPARK_DRIVER_MEMORY"],
        "corpus_pins": mode,
        "loadavg_start": list(os.getloadavg()),
    }
    docs = spark.read.parquet(f"{sfx}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    out["n_docs"] = docs.count()
    target = docs.agg(F.min("source")).first()[0]
    out["target_source"] = target

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
            ingest_dsir_delta(batch_frame(i), led, i, target)
    out["ingest_s_total"] = round(time.perf_counter() - t0, 3)
    out["ingest_s_per_batch"] = round(out["ingest_s_total"] / n_batches, 3)
    out["files_before"] = n_parquet_files(led)

    law: dict = {}
    pins_base = len(persistent_rdd_ids(spark))
    for attempt in (1, 2):
        with scoped_checkpoints(spark):
            t0 = time.perf_counter()
            got = checksum(dsir_from_ledger(spark, led, docs))
            law[f"ledger_serve_s_run{attempt}"] = round(
                time.perf_counter() - t0, 3
            )
        with scoped_checkpoints(spark):
            t0 = time.perf_counter()
            want = checksum(dsir_importance_weights(spark, sfx))
            law[f"batch_s_run{attempt}"] = round(time.perf_counter() - t0, 3)
        law[f"match_run{attempt}"] = got == want
        law[f"pins_after_run{attempt}"] = len(persistent_rdd_ids(spark))
    law["rows"] = got[0]
    law["pins_flat"] = (
        law["pins_after_run1"] == law["pins_after_run2"] == pins_base
    )
    out["law_at_scale"] = law

    led_pre = f"{work}/ledger_precompact"
    shutil.copytree(led, led_pre)
    t0 = time.perf_counter()
    ADDITIVE_LEDGERS["dsir"].compact(spark, led)
    out["compact_s"] = round(time.perf_counter() - t0, 3)
    out["files_after"] = n_parquet_files(led)
    with scoped_checkpoints(spark):
        out["law_after_compact"] = (
            checksum(dsir_from_ledger(spark, led, docs)) == got
        )

    probe_docs = batch_frame(n_batches - 1)
    time.sleep(int(os.environ.get("DSIR_SETTLE_S", "45")))
    out["loadavg_probes"] = list(os.getloadavg())
    before = after = float("inf")
    for _ in range(3):
        for path, var in ((led_pre, "b"), (led, "a")):
            with scoped_checkpoints(spark):
                t0 = time.perf_counter()
                dsir_from_ledger(spark, path, probe_docs).count()
                el = time.perf_counter() - t0
            if var == "b":
                before = min(before, el)
            else:
                after = min(after, el)
    out["probe_before_s"] = round(before, 3)
    out["probe_after_s"] = round(after, 3)
    out["loadavg_end"] = list(os.getloadavg())
    line = json.dumps(out)
    print(line)
    Path(_REPO, f"DSIRSOAK_r{round_no:02d}{suffix}.json").write_text(
        line + "\n"
    )
    spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
