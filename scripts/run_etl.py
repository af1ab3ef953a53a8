#!/usr/bin/env python3
"""CLI entrypoint for the two end-to-end pipelines — the runnable
counterpart of the reference's container entrypoint
(/root/reference/src/docker_entrypoint.py:46-63), which chains 17
step processes through intermediate files; here each pipeline is one
lazy plan materialized through idempotent keyed upserts, so re-runs
(and incremental refreshes) replace rather than duplicate.

  games:  raw multi-game PGN file + JSON-lines metadata ->
          the seven reference tables under --out. An existing
          {out}/position_evals parquet is reused as the eval cache
          (the reference's incremental cache union).
  corpus: driver-format documents.parquet dir ->
          corpus_shards + corpus_audit under --out.

Usage:
  python scripts/run_etl.py games --pgn games.pgn --json games.ndjson \
      --player SomeName --out /data/warehouse
  python scripts/run_etl.py corpus --sf-dir /root/testdata/sf0.001 \
      --out /data/corpus
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _split_pgn_games(text: str) -> list[str]:
    """Split a multi-game PGN file on game boundaries (a blank line
    followed by the next game's [Event header)."""
    games = re.split(r"\n\s*\n(?=\[Event )", text.strip())
    return [g.strip() + "\n" for g in games if g.strip()]


def _strip_nulls(obj):
    """Drop None-valued keys (recursively) so schema inference never
    sees an all-NULL column; the RAW_JSON conform step reintroduces
    absent fields as typed NULLs."""
    if isinstance(obj, dict):
        return {k: _strip_nulls(v) for k, v in obj.items() if v is not None}
    return obj


def _load_json_records(path: str) -> list[dict]:
    """JSON-lines or a single JSON array, nested or pre-flattened."""
    raw = Path(path).read_text()
    s = raw.lstrip()
    records = (
        json.loads(s)
        if s.startswith("[")
        else [json.loads(line) for line in raw.splitlines() if line.strip()]
    )
    return [_strip_nulls(r) for r in records]


def run_games(args: argparse.Namespace, spark=None) -> int:
    from chess_pipeline_spark import commit
    from chess_pipeline_spark.parse import parse_pgn_dataframe
    from chess_pipeline_spark.pipeline import materialize, run_game_etl
    from chess_pipeline_spark.schemas import (
        POSITION_EVALS,
        RAW_JSON,
        normalize_to_schema,
    )
    from chess_pipeline_spark.session import get_spark
    from chess_pipeline_spark.sources.rest import json_records_source
    from pyspark.errors import AnalysisException

    spark = spark or get_spark(app_name="chess-pipeline-etl")
    games = _split_pgn_games(Path(args.pgn).read_text())
    if not games:
        print("no games found in", args.pgn, file=sys.stderr)
        return 2
    pgn = parse_pgn_dataframe(
        spark.createDataFrame([(g,) for g in games], "pgn string")
    )
    # conform to the RAW_JSON contract: absent fields become NULL,
    # present ones cast to the declared types
    js = normalize_to_schema(
        json_records_source(spark, _load_json_records(args.json)), RAW_JSON
    )

    # probe the cache through Spark, not os.path: with an HDFS/S3
    # --out, a local-filesystem existence check would silently treat
    # the cache as absent and recompute every eval from scratch
    cache_path = os.path.join(args.out, "position_evals")
    # a swap that crashed between its renames left the cache only in
    # its .bak: put it back before the read, or this import loses every
    # cached eval (a local-filesystem step, but the upserts below take
    # local paths only anyway)
    commit.recover(cache_path)
    try:
        cache = spark.read.parquet(cache_path)
    except AnalysisException:  # first run: no cache yet
        cache = spark.createDataFrame([], POSITION_EVALS)
    out = run_game_etl(pgn, js, args.player, cache)
    materialize(out, args.out)
    print(f"wrote 7 tables under {args.out}")
    return 0


def run_corpus(args: argparse.Namespace, spark=None) -> int:
    from chess_pipeline_spark.pipeline import materialize_corpus, run_corpus_etl
    from chess_pipeline_spark.session import get_spark
    from chess_pipeline_spark.sources import load_table

    spark = spark or get_spark(app_name="chess-pipeline-corpus")
    docs = load_table(spark, args.sf_dir, "documents")
    out = run_corpus_etl(
        docs,
        shard_tokens=args.shard_tokens,
        scrub_pii=getattr(args, "scrub_pii", False),
        drop_dup_paragraphs=getattr(args, "drop_dup_paragraphs", False),
        drop_boilerplate=getattr(args, "drop_boilerplate", False),
    )
    materialize_corpus(out, args.out)
    print(f"wrote corpus_shards + corpus_audit under {args.out}")
    return 0


def run_splits(args: argparse.Namespace, spark=None) -> int:
    """Training-data export: every document with its leakage-safe
    split (hashed on the exact-dup group representative) and its
    length-balanced shard id, written partitioned by split so a
    training job reads only its split via directory pruning."""
    from chess_pipeline_spark.plans.corpus import shard_assign, split_assign
    from chess_pipeline_spark.session import get_spark
    from chess_pipeline_spark.sinks import write_training_splits
    from chess_pipeline_spark.sources import load_table

    import pyspark.sql.functions as F

    spark = spark or get_spark(app_name="chess-pipeline-splits")
    docs = load_table(spark, args.sf_dir, "documents")
    assigned = (
        docs.join(split_assign(docs).select("doc_id", "split"), "doc_id")
        .join(shard_assign(docs).select("doc_id", "shard"), "doc_id")
    )
    write_training_splits(assigned, args.out)
    # reproducibility manifest next to the export: a re-run or a
    # migration is audited by comparing this tiny table, not bytes
    from chess_pipeline_spark.sinks import write_manifest

    write_manifest(assigned, args.out + "_manifest", ["split"])
    counts = {
        r["split"]: r["n"]
        for r in spark.read.parquet(args.out)
        .groupBy("split")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    }
    print(f"wrote split-partitioned corpus under {args.out}: {counts}")
    return 0


def run_reeval(args: argparse.Namespace, spark=None) -> int:
    """Spark analog of the reference's multiprocessing re-eval
    fan-out (scripts/rerun_stockfish.py:62-94): instead of a
    cpu_count() worker pool draining a FEN queue into results.csv,
    the shallow cache rows (eval_depth < --min-depth) flow through
    the quota-gated mapInPandas engine adapter (one engine per
    partition) and upsert back into the cache keyed by fen. The
    engine binary is env-gated exactly like the operator tier: point
    SPARK_GRAFT_STOCKFISH at a UCI binary, or tests inject a fixture
    fetcher via the `fetch_fn` kwarg."""
    import pyspark.sql.functions as F

    from chess_pipeline_spark.operators.engine import uci_fetch_fn
    from chess_pipeline_spark.operators.evals import fetch_missing_with_quota
    from chess_pipeline_spark.session import get_spark
    from chess_pipeline_spark.sinks import upsert_parquet

    spark = spark or get_spark(app_name="chess-pipeline-reeval")
    fetch_fn = getattr(args, "fetch_fn", None)
    if fetch_fn is None:
        binary = os.environ.get("SPARK_GRAFT_STOCKFISH")
        if not binary:
            print(
                "reeval: no engine — set SPARK_GRAFT_STOCKFISH to a UCI "
                "binary (tests inject fetch_fn)",
                file=sys.stderr,
            )
            return 2
        fetch_fn = uci_fetch_fn(binary, depth=args.min_depth)
    cache = spark.read.parquet(args.cache)
    shallow = cache.filter(
        F.col("eval_depth").isNull() | (F.col("eval_depth") < args.min_depth)
    ).select("fen")
    fresh = fetch_missing_with_quota(
        shallow, fetch_fn, args.counter, args.period, budget=args.budget
    )
    n = fresh.count()
    if n:
        upsert_parquet(fresh, args.cache, ["fen"])
    print(f"re-evaluated {n} positions into {args.cache}")
    return 0


# the data-card bundle: the reports a corpus owner publishes next to
# a dataset release. Keys are stable output table names.
_PROFILE_QUERIES = (
    ("composition", "corpus_composition"),
    ("length_histogram", "seq_length_histogram"),
    ("dup_clusters", "dup_cluster_size_hist"),
    ("quality_verdicts", "quality_filter_verdicts"),
    ("top_terms", "tfidf_top_terms"),
    ("lm_quality", "unigram_logprob_score"),
    ("heavy_hitters", "cms_heavy_hitters"),
    ("dup_exposure", "dup_ngram_fraction"),
    ("embedding_diversity", "embedding_diversity"),
)


def run_profile(args: argparse.Namespace, spark=None) -> int:
    """Materialize the corpus data card: one parquet per report plus
    a summary.json of row counts — all reports are catalog queries,
    so each is oracle-verified elsewhere; this CLI only arranges
    them. One Spark session, lazy plans, no driver-side compute
    beyond the count summary."""
    from chess_pipeline_spark.plans import catalog
    from chess_pipeline_spark.session import get_spark

    spark = spark or get_spark(app_name="chess-pipeline-profile")
    cat = catalog()
    os.makedirs(args.out, exist_ok=True)
    summary = {}
    for out_name, qname in _PROFILE_QUERIES:
        df = cat[qname].spark(spark, args.sf_dir)
        path = os.path.join(args.out, out_name)
        df.write.mode("overwrite").parquet(path)
        summary[out_name] = spark.read.parquet(path).count()
    with open(os.path.join(args.out, "summary.json"), "w") as f:
        json.dump({"sf_dir": args.sf_dir, "rows": summary}, f, indent=2)
    print(f"wrote {len(_PROFILE_QUERIES)} reports + summary.json under {args.out}")
    return 0


def run_search(args: argparse.Namespace, spark=None) -> int:
    """Print the top documents for the built-in retrieval demos:
    lexical BM25, or the BM25+cosine reciprocal-rank fusion. The
    rankings are the oracle-verified catalog queries; this CLI only
    formats them."""
    from chess_pipeline_spark.plans import catalog
    from chess_pipeline_spark.session import get_spark

    spark = spark or get_spark(app_name="chess-pipeline-search")
    qname = "hybrid_search_rrf" if args.hybrid else "bm25_doc_search"
    rows = catalog()[qname].spark(spark, args.sf_dir).collect()
    for r in rows:
        print(json.dumps(r.asDict()))
    return 0


def main(argv: list[str] | None = None, spark=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("games", help="PGN + JSON -> seven game tables")
    g.add_argument("--pgn", required=True, help="multi-game PGN file")
    g.add_argument("--json", required=True, help="JSON-lines (or array) metadata")
    g.add_argument("--player", required=True, help="perspective player name")
    g.add_argument("--out", required=True, help="output warehouse dir")

    c = sub.add_parser("corpus", help="documents parquet -> shards + audit")
    c.add_argument("--sf-dir", required=True, help="dir holding documents.parquet")
    c.add_argument("--out", required=True, help="output dir")
    c.add_argument("--shard-tokens", type=int, default=4096)
    c.add_argument(
        "--scrub-pii",
        action="store_true",
        help="redact email/SSN/phone/IPv4 before dedup (row-local)",
    )
    c.add_argument(
        "--drop-dup-paragraphs",
        action="store_true",
        help="strip corpus-wide repeated chunks; drop fully-duplicate docs",
    )
    c.add_argument(
        "--drop-boilerplate",
        action="store_true",
        help="strip chunks shared by >=2 distinct docs (every copy); "
        "drop fully-boilerplate docs",
    )

    sp = sub.add_parser(
        "splits",
        help="documents parquet -> leakage-safe split-partitioned "
        "training export with balanced shard ids",
    )
    sp.add_argument("--sf-dir", required=True, help="dir holding documents.parquet")
    sp.add_argument("--out", required=True, help="output dir (one subdir per split)")

    rv = sub.add_parser(
        "reeval",
        help="re-evaluate shallow cache entries (quota-gated engine fan-out)",
    )
    rv.add_argument("--cache", required=True, help="position_evals parquet dir")
    rv.add_argument("--min-depth", type=int, default=20)
    rv.add_argument("--budget", type=int, default=3000)
    rv.add_argument("--period", required=True, help="quota period key (e.g. a date)")
    rv.add_argument(
        "--counter", required=True, help="quota counter ledger parquet dir"
    )

    pr = sub.add_parser("profile", help="documents parquet -> data-card reports")
    pr.add_argument("--sf-dir", required=True, help="dir holding documents.parquet")
    pr.add_argument("--out", required=True, help="output dir")

    se = sub.add_parser("search", help="retrieval demo: top docs as JSON lines")
    se.add_argument("--sf-dir", required=True, help="dir holding documents.parquet")
    se.add_argument("--hybrid", action="store_true", help="BM25+cosine RRF fusion")

    args = p.parse_args(argv)
    if args.cmd == "games":
        return run_games(args, spark)
    if args.cmd == "profile":
        return run_profile(args, spark)
    if args.cmd == "search":
        return run_search(args, spark)
    if args.cmd == "splits":
        return run_splits(args, spark)
    if args.cmd == "reeval":
        return run_reeval(args, spark)
    return run_corpus(args, spark)


if __name__ == "__main__":
    raise SystemExit(main())
