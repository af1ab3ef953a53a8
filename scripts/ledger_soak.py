#!/usr/bin/env python3
"""Soak the five persisted document ledgers through one loop.

  python scripts/ledger_soak.py --sf-dir DIR --round N [--batches 30]

DIR holds documents.parquet: a test scale factor, or the 500k-doc
`sfx` corpus that scripts/scale_soak.py builds. Each ledger is one
row of CASES (dsir, spangram, dupgram, boiler, paragraph) giving its
ingest, its compaction, its probe and, for dsir and spangram, the
batch catalog query the ledger twins. Every case runs the same steps:

  ingest        N contiguous doc_id slices (approxQuantile cuts)
  files         parquet part files before and after compaction
  law_at_scale  run twice in this one JVM, persistent-RDD pins
                recorded: with a catalog query, the probe over the
                whole corpus has the query's (count, xxhash64-sum)
                checksum; without one, the probe reads the same rows
                on both runs
  compact       on the live ledger, after copying it aside
  law_after_compact  the probe's checksum is unchanged
  probes        after one settle shared by all cases, interleaved
                min-of-3 latency of the probe over the last batch,
                against the copied and the compacted layout

Prints one JSON line and writes LEDGERSOAK_r{NN}.json at the repo
root. At 500k docs the dsir law holds the batch query's postings pin
while its rollups run: give it SPARK_DRIVER_MEMORY=24g, or
SPARK_GRAFT_CORPUS_PINS=disk at 8g (both are recorded).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path
from typing import Callable, NamedTuple

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import pyspark.sql.functions as F  # noqa: E402

from chess_pipeline_spark.checkpoints import (  # noqa: E402
    persistent_rdd_ids,
    scoped_checkpoints,
)
from chess_pipeline_spark.plans.corpus import (  # noqa: E402
    dsir_importance_weights,
    exact_substring_spans,
)
from chess_pipeline_spark.session import get_spark  # noqa: E402
from chess_pipeline_spark.sources import load_table  # noqa: E402
from chess_pipeline_spark.streaming.jobs import (  # noqa: E402
    ADDITIVE_LEDGERS,
    _boiler_process_batch,
    _paragraph_process_batch,
    compact_paragraph_ledger,
    dsir_from_ledger,
    dup_exposure_from_ledger,
    ingest_dsir_delta,
    ingest_dupgram_delta,
    ingest_spangram_delta,
    spans_from_ledger,
)

# seconds between the last compaction and the first timed probe, so the
# law queries' load tail does not land on one layout's probes
_SETTLE_S = 45


class Case(NamedTuple):
    ingest: Callable  # (ledger dir, batch frame, batch id) -> None
    compact: Callable  # (spark, ledger dir) -> None
    probe: Callable  # (ledger dir, docs) -> DataFrame
    query: Callable | None = None  # (spark, sf_dir) -> DataFrame


def cases(spark, target: str) -> dict[str, Case]:
    boiler = ADDITIVE_LEDGERS["boiler"]
    return {
        "dsir": Case(
            lambda led, b, i: ingest_dsir_delta(b, led, i, target),
            ADDITIVE_LEDGERS["dsir"].compact,
            lambda led, docs: dsir_from_ledger(spark, led, docs),
            dsir_importance_weights,
        ),
        "spangram": Case(
            lambda led, b, i: ingest_spangram_delta(b, led, i),
            ADDITIVE_LEDGERS["spangram"].compact,
            lambda led, docs: spans_from_ledger(spark, led, docs),
            exact_substring_spans,
        ),
        "dupgram": Case(
            lambda led, b, i: ingest_dupgram_delta(b, led, i),
            ADDITIVE_LEDGERS["dupgram"].compact,
            lambda led, docs: dup_exposure_from_ledger(spark, led, docs),
        ),
        "boiler": Case(
            lambda led, b, i: _boiler_process_batch(b, i, led, f"{led}_verdicts"),
            boiler.compact,
            lambda led, docs: boiler.read(spark, led),
        ),
        "paragraph": Case(
            lambda led, b, i: _paragraph_process_batch(
                b, i, led, f"{led}_verdicts"
            ),
            compact_paragraph_ledger,
            lambda led, docs: spark.read.parquet(led).select("digest").distinct(),
        ),
    }


def n_parquet_files(root: str) -> int:
    return sum(
        1 for _, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    )


def checksum(df) -> tuple[int, int]:
    """(row count, order-insensitive sum of row hashes): the scale
    substitute for a sorted-rows collect."""
    row = df.agg(
        F.count("*").alias("n"),
        # decimal(38,0): 500k 64-bit hashes overflow a BIGINT sum
        # under ANSI mode
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def _since(t0: float) -> float:
    return round(time.perf_counter() - t0, 3)


def soak(spark, case: Case, led: str, batches, docs, sf_dir: str) -> dict:
    """Ingest, law, copy, compact and law again for one ledger."""
    out: dict = {}
    t0 = time.perf_counter()
    for i, batch in enumerate(batches):
        with scoped_checkpoints(spark):
            case.ingest(led, batch, i)
    out["ingest_s_total"] = _since(t0)
    out["ingest_s_per_batch"] = round(out["ingest_s_total"] / len(batches), 3)
    out["files_before"] = n_parquet_files(led)

    law: dict = {}
    pins_base = len(persistent_rdd_ids(spark))
    first = None
    for run in (1, 2):
        with scoped_checkpoints(spark):
            t0 = time.perf_counter()
            got = checksum(case.probe(led, docs))
            law[f"ledger_serve_s_run{run}"] = _since(t0)
        want = got if first is None else first
        if case.query is not None:
            with scoped_checkpoints(spark):
                t0 = time.perf_counter()
                want = checksum(case.query(spark, sf_dir))
                law[f"batch_s_run{run}"] = _since(t0)
        first = first or got
        law[f"match_run{run}"] = got == want
        law[f"pins_after_run{run}"] = len(persistent_rdd_ids(spark))
    law["rows"], law["hash"] = got
    law["pins_flat"] = (
        law["pins_after_run1"] == law["pins_after_run2"] == pins_base
    )
    out["law_at_scale"] = law

    shutil.copytree(led, f"{led}_precompact")
    t0 = time.perf_counter()
    case.compact(spark, led)
    out["compact_s"] = _since(t0)
    out["files_after"] = n_parquet_files(led)
    with scoped_checkpoints(spark):
        out["law_after_compact"] = checksum(case.probe(led, docs)) == got
    return out


def probe_latency(spark, case: Case, led: str, docs) -> dict:
    """Interleaved min-of-3, so no layout owns a loaded stretch."""
    best = {f"{led}_precompact": float("inf"), led: float("inf")}
    for _ in range(3):
        for path in best:
            with scoped_checkpoints(spark):
                t0 = time.perf_counter()
                case.probe(path, docs).count()
                best[path] = min(best[path], time.perf_counter() - t0)
    before, after = best.values()
    return {"probe_before_s": round(before, 3), "probe_after_s": round(after, 3)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", required=True, help="dir holding documents.parquet")
    ap.add_argument("--batches", type=int, default=30)
    ap.add_argument("--round", type=int, required=True)
    args = ap.parse_args(argv)

    spark = get_spark(app_name="ledger-soak")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {
        "round": args.round,
        "corpus": args.sf_dir,
        "n_batches": args.batches,
        "heap": spark.conf.get("spark.driver.memory"),
        # the library's own pin knob (checkpoints.pin_corpus_frame)
        "corpus_pins": os.environ.get("SPARK_GRAFT_CORPUS_PINS", "checkpoint"),
        "loadavg_start": list(os.getloadavg()),
    }
    docs = load_table(spark, args.sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    out["n_docs"] = docs.count()
    target = docs.agg(F.min("source")).first()[0]
    out["target_source"] = target

    # contiguous doc_id slices via quantile cut points (collecting 500k
    # ids to the driver would measure the driver)
    cuts = docs.approxQuantile(
        "doc_id", [i / args.batches for i in range(args.batches + 1)], 0.001
    )
    cuts[0], cuts[-1] = float("-inf"), float("inf")
    batches = [
        docs.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= hi))
        for lo, hi in zip(cuts, cuts[1:])
    ]

    with tempfile.TemporaryDirectory(prefix="ledger_soak_") as work:
        table = cases(spark, target)
        ledgers = {
            name: soak(spark, case, f"{work}/{name}", batches, docs, args.sf_dir)
            for name, case in table.items()
        }
        time.sleep(_SETTLE_S)
        out["loadavg_probes"] = list(os.getloadavg())
        for name, case in table.items():
            ledgers[name] |= probe_latency(
                spark, case, f"{work}/{name}", batches[-1]
            )
    out["ledgers"] = ledgers
    out["loadavg_end"] = list(os.getloadavg())
    line = json.dumps(out)
    print(line)
    Path(_REPO, f"LEDGERSOAK_r{args.round:02d}.json").write_text(line + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
