#!/usr/bin/env python3
"""CLI for the persisted IVF similarity index (ann_index.py):

  build: embeddings parquet dir -> {out}/lists (corpus partitioned by
         nearest-centroid list; probes dynamic-prune to their lists)
         + {out}/centroids (broadcast-sized summary). Optional Lloyd
         refinement of the deterministic lowest-id seeds.
  probe: top-k cosine neighbors for a set of query vector ids,
         printed as JSON lines (qid, neighbor_id, cos_sim, rank).
         --mode exact scans the float embeddings, --mode int8 the
         dequantized affine codes, --mode adc scores purely from the
         stored PQ codes via per-query lookup tables (IVFADC — the
         lists scan reads ~9 bytes/vector; emits adc_micro instead of
         cos_sim).

Usage:
  python scripts/ann_index_cli.py build --sf-dir /root/testdata/sf0.01 \
      --out /data/ivf --n-lists 8 --lloyd 2
  python scripts/ann_index_cli.py probe --sf-dir /root/testdata/sf0.01 \
      --index /data/ivf --query-ids 0,1,2 --k 5 --nprobe 2 --mode adc
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def run_build(args: argparse.Namespace, spark=None) -> int:
    import pyspark.sql.functions as F  # noqa: F401

    from chess_pipeline_spark.ann_index import build_ivf_index
    from chess_pipeline_spark.session import get_spark
    from chess_pipeline_spark.sources import load_table

    spark = spark or get_spark(app_name="ann-index-build")
    corpus = load_table(spark, args.sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    build_ivf_index(
        corpus, args.out, n_lists=args.n_lists, lloyd_iterations=args.lloyd
    )
    print(f"wrote lists + centroids under {args.out}")
    return 0


def run_probe(args: argparse.Namespace, spark=None) -> int:
    import pyspark.sql.functions as F

    from chess_pipeline_spark.ann_index import probe_ivf_adc, probe_ivf_index
    from chess_pipeline_spark.session import get_spark
    from chess_pipeline_spark.sources import load_table

    spark = spark or get_spark(app_name="ann-index-probe")
    qids = [int(x) for x in args.query_ids.split(",") if x.strip()]
    queries = (
        load_table(spark, args.sf_dir, "embeddings")
        .filter(F.col("vec_id").isin(qids))
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    mode = getattr(args, "mode", "exact")
    if mode == "adc":
        out = probe_ivf_adc(
            spark, args.index, queries, k=args.k, nprobe=args.nprobe, id_col="qid"
        )
        score_field = "adc_micro"
    else:
        out = probe_ivf_index(
            spark,
            args.index,
            queries,
            k=args.k,
            nprobe=args.nprobe,
            id_col="qid",
            coded=(mode == "int8"),
        )
        score_field = "cos_sim"
    for r in out.orderBy("qid", "rank").collect():
        print(
            json.dumps(
                {
                    "qid": r.qid,
                    "neighbor_id": r.neighbor_id,
                    score_field: getattr(r, score_field),
                    "rank": r.rank,
                }
            )
        )
    return 0


def run_compact(args: argparse.Namespace, spark=None) -> int:
    """One maintenance entry point for every persisted structure that
    accumulates per-batch partitions or appends under continuous
    ingest: the IVF lists delta, the BM25 text index, the additive
    streaming ledgers (every `streaming.jobs.ADDITIVE_LEDGERS` kind),
    and the set-union append ledger (paragraph-dedup chunk digests). Each fold is
    crash-idempotent and probe-invariant (law tests in
    tests/test_ann_index.py, test_text_index.py, test_streaming.py,
    test_r8_signals.py). The split ledger needs no compaction: its
    state is bak-swap REWRITTEN each batch (one table, no
    accumulation); per-batch snapshot/assignment outputs are
    time-series by design (retention recipe in SCALING.md).

    PRECONDITION: stop the stream that feeds the structure before
    compacting it. Compacting under a live stream risks folding a
    batch the ledger has committed but the stream checkpoint hasn't;
    on restart the at-least-once replay then hits the folded-id
    guard. For the additive ledgers that specific replay self-heals
    (the guard verifies the replayed rows against the digest
    compaction recorded and no-ops), but a replay whose recomputed
    rows aren't byte-identical — or any structure without digests
    (ivf, text) — raises until an operator intervenes. Quiescing
    first removes the window entirely."""
    import os

    from chess_pipeline_spark import commit
    from chess_pipeline_spark.session import get_spark

    kind = args.kind
    # the compactions no-op on an absent directory (nothing to fold),
    # so a mistyped path must fail here; a crashed swap's .bak counts
    if not os.path.exists(commit.readable(args.path)):
        print(f"no {kind} index or ledger at {args.path}", file=sys.stderr)
        return 2
    spark = spark or get_spark(app_name="index-compact")
    if kind == "ivf":
        from chess_pipeline_spark.ann_index import compact_ivf_index

        compact_ivf_index(spark, args.path)
    elif kind == "text":
        from chess_pipeline_spark.text_index import compact_text_index

        compact_text_index(spark, args.path)
    elif kind == "paragraph":
        from chess_pipeline_spark.streaming.jobs import compact_paragraph_ledger

        compact_paragraph_ledger(spark, args.path)
    else:
        from chess_pipeline_spark.streaming.jobs import ADDITIVE_LEDGERS

        ADDITIVE_LEDGERS[kind].compact(spark, args.path)
    print(f"compacted {kind} at {args.path}")
    return 0


def main(argv: list[str] | None = None, spark=None) -> int:
    from chess_pipeline_spark.streaming.jobs import ADDITIVE_LEDGERS

    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="embeddings -> partitioned IVF index")
    b.add_argument("--sf-dir", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--n-lists", type=int, default=8)
    b.add_argument("--lloyd", type=int, default=0, help="Lloyd refinement iterations")

    q = sub.add_parser("probe", help="top-k neighbors for query vector ids")
    q.add_argument("--sf-dir", required=True)
    q.add_argument("--index", required=True)
    q.add_argument("--query-ids", required=True, help="comma-separated vec_ids")
    q.add_argument("--k", type=int, default=5)
    q.add_argument("--nprobe", type=int, default=1)
    q.add_argument(
        "--mode",
        choices=["exact", "int8", "adc"],
        default="exact",
        help="exact floats, dequantized int8 codes, or PQ lookup-table ADC",
    )

    c = sub.add_parser(
        "compact",
        help="fold per-batch partitions: IVF delta, text index, or an "
        "additive streaming ledger (crash-idempotent, probe-invariant). "
        "STOP the feeding stream first: folding a ledger-committed but "
        "checkpoint-uncommitted batch makes the restart replay hit the "
        "folded-id guard (additive ledgers self-heal via content "
        "digests; others raise until an operator intervenes)",
    )
    c.add_argument(
        "--kind", choices=["ivf", "text", "paragraph", *ADDITIVE_LEDGERS], required=True
    )
    c.add_argument("--path", required=True, help="index/ledger directory")

    args = p.parse_args(argv)
    if args.cmd == "build":
        return run_build(args, spark)
    if args.cmd == "compact":
        return run_compact(args, spark)
    return run_probe(args, spark)


if __name__ == "__main__":
    raise SystemExit(main())
