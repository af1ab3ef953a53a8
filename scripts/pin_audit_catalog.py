#!/usr/bin/env python3
"""Catalog-wide memory-pin audit (r13).

The r12 DSIR soak found the catalog's one corpus-SCALE storage pin
(the postings localCheckpoint, ~2 GB at 500k docs) the hard way — a
law run OOM'd at the 8 g test-default heap, and the reason lived in
a soak artifact rather than anywhere machine-checkable. This script
generalizes that lesson the way r10's skew audit generalized the
dupgram finding: for EVERY catalog query, measure what it actually
persists/checkpoints (introspect.pin_snapshot — real block sizes
from getRDDStorageInfo, not estimates) at TWO scale factors, and
classify each query's pin footprint as

  bounded       pin bytes ~flat across a 10x data multiplier
                (model frames, codebooks, seed/centroid tables)
  corpus_scale  pin bytes grow with the corpus (ratio >= GROWTH_MIN
                at bytes >= FLOOR_BYTES) — the class that sets a
                heap floor proportional to data size at 100 TB

Exit 0 when every corpus_scale pin belongs to a query in
CORPUS_SCALE_PINS below (each entry cites the mitigation knob);
exit 1 otherwise. Writes PINAUDIT_r{N}.json and prints one JSON line.

Each query runs under the release discipline (scoped baseline +
release_checkpoints), so the audit also re-proves the r11 lesson:
nothing leaks pins across queries — leaked ids would show up as a
nonzero residue after release and fail the final flatness check.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from chess_pipeline_spark.checkpoints import (  # noqa: E402
    persistent_rdd_ids,
    release_checkpoints,
)
from chess_pipeline_spark.introspect import pin_snapshot  # noqa: E402
from chess_pipeline_spark.plans import catalog  # noqa: E402
from chess_pipeline_spark.session import get_spark  # noqa: E402

# a pin is corpus-scale when it grows >= GROWTH_MIN across the 10x
# SF step AND is big enough at the large SF to matter (filters out
# KB-scale frames whose ratio is noise)
GROWTH_MIN = 4.0
FLOOR_BYTES = 1 << 20  # 1 MiB at sf0.1

# Queries whose corpus-scale pin is a DOCUMENTED, knob-equipped
# trade-off (the audit refuses any corpus-scale pin not cited here).
# All four route through checkpoints.pin_corpus_frame, so env
# SPARK_GRAFT_CORPUS_PINS='disk'|'recompute' is the one escape
# hatch; tests pin output equality across modes and SCALING.md r13
# records the measured A/B.
CORPUS_SCALE_PINS: dict[str, str] = {
    # one (doc_id, source, bucket) row per gram occurrence, pinned so
    # the tokenize stage runs once for both the model fit and the
    # scoring pass (53 MB at sf0.1, ~2 GB at 500k docs)
    "dsir_importance_weights": "postings pin; pin_corpus_frame knob (r13)",
    # the Gumbel-top-k selection composes the weights plan and
    # inherits its postings pin (same knob, same escape hatches)
    "dsir_resample_topk": "inherits the DSIR postings pin; same "
    "pin_corpus_frame knob (r13)",
    # word-gram digest postings pinned across the df-count and
    # hot/cold-split consumers (25 MB at sf0.1)
    "dup_ngram_fraction": "gram-postings pin; pin_corpus_frame knob (r13)",
    # span positions pinned across the ledger-count and rollup
    # consumers (21 MB at sf0.1; the rewrite half shares the site)
    "exact_substring_spans": "span-positions pin; pin_corpus_frame "
    "knob (r13)",
    # banded simhash signatures pinned so the band self-join's two
    # sides don't recompute the signature subtree (2 MB at sf0.1)
    "cross_source_leakage": "band-signature pin; pin_corpus_frame "
    "knob (r13)",
}


def audit_at(spark, sf_dir: str) -> tuple[dict[str, dict], dict[str, str]]:
    per: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name, spec in catalog().items():
        before = persistent_rdd_ids(spark)
        try:
            df = spec.spark(spark, sf_dir)
            df.count()  # materialize lazy checkpoints along the plan
            snap = pin_snapshot(spark)
            new = {i: v for i, v in snap.items() if i not in before}
            per[name] = {
                "n_pins": len(new),
                "mem_bytes": sum(v["mem_bytes"] for v in new.values()),
                "disk_bytes": sum(v["disk_bytes"] for v in new.values()),
                "names": sorted({v["name"] for v in new.values()}),
            }
        except Exception:
            errors[name] = traceback.format_exc(limit=2)
        finally:
            release_checkpoints(spark, keep=before)
    return per, errors


def main() -> None:
    sf_small = os.environ.get("PINAUDIT_SF_SMALL", "/root/testdata/sf0.01")
    sf_large = os.environ.get("PINAUDIT_SF_LARGE", "/root/testdata/sf0.1")
    round_no = int(os.environ.get("PINAUDIT_ROUND", "13"))
    spark = get_spark(app_name="pin-audit-catalog")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    base_pins = len(persistent_rdd_ids(spark))
    small, err_s = audit_at(spark, sf_small)
    large, err_l = audit_at(spark, sf_large)
    residue = len(persistent_rdd_ids(spark)) - base_pins

    queries: dict[str, dict] = {}
    violations: list[str] = []
    for name in sorted(set(small) | set(large)):
        s = small.get(name, {"mem_bytes": 0, "disk_bytes": 0, "n_pins": 0})
        l = large.get(name, {"mem_bytes": 0, "disk_bytes": 0, "n_pins": 0})
        tot_s = s["mem_bytes"] + s["disk_bytes"]
        tot_l = l["mem_bytes"] + l["disk_bytes"]
        ratio = tot_l / tot_s if tot_s else (float("inf") if tot_l else 1.0)
        corpus_scale = tot_l >= FLOOR_BYTES and ratio >= GROWTH_MIN
        row = {
            "pins_small": s["n_pins"],
            "pins_large": l["n_pins"],
            "bytes_small": tot_s,
            "bytes_large": tot_l,
            "growth": round(ratio, 2) if ratio != float("inf") else "inf",
            "corpus_scale": corpus_scale,
        }
        if l.get("names"):
            row["pin_names"] = l["names"]
        queries[name] = row
        if corpus_scale and name not in CORPUS_SCALE_PINS:
            violations.append(name)

    errors = {**err_s, **{k: v for k, v in err_l.items() if k not in err_s}}
    out = {
        "round": round_no,
        "sf_small": sf_small,
        "sf_large": sf_large,
        "growth_min": GROWTH_MIN,
        "floor_bytes": FLOOR_BYTES,
        "elapsed_sec": round(time.time() - t0, 1),
        "n_queries": len(catalog()),
        "n_audited": len(queries),
        "n_pinning": sum(1 for v in queries.values() if v["pins_large"]),
        "corpus_scale": sorted(
            k for k, v in queries.items() if v["corpus_scale"]
        ),
        "allowlisted": {
            k: v
            for k, v in CORPUS_SCALE_PINS.items()
            if queries.get(k, {}).get("corpus_scale")
        },
        "violations": violations,
        "release_residue_pins": residue,
        "errors": errors,
        "queries": {k: v for k, v in queries.items() if v["pins_large"] or v["pins_small"]},
    }
    path = Path(_REPO) / f"PINAUDIT_r{round_no:02d}.json"
    path.write_text(json.dumps(out, indent=1, sort_keys=True))
    print(
        json.dumps(
            {
                "n_pinning": out["n_pinning"],
                "corpus_scale": out["corpus_scale"],
                "violations": violations,
                "release_residue_pins": residue,
                "errors": sorted(errors),
                "artifact": str(path),
            }
        )
    )
    if violations or errors or residue:
        sys.exit(1)


if __name__ == "__main__":
    main()
