"""The full game-ETL DAG as ONE lazy logical plan.

The reference runs 17 step processes chained through parquet files
(src/docker_entrypoint.py:46-63, SURVEY §3.1):

  fetch_json / fetch_pgn -> clean_df -> get_evals -> explode_* ->
  get_game_infos -> get_win_probs -> load_* x7

Here the whole DAG is a single function over lazy DataFrames — stage
boundaries appear only where Catalyst needs a shuffle (the explode
windows, the eval-cache anti-join, the winprob feature joins), and
the seven loaders collapse into `materialize()` upsert sinks.
``cleaned`` is the only frame read by five branches, so it is the
one explicit persist point (≙ the reference's cleaned_df.parquet).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from chess_pipeline_spark.operators.chess_transforms import (
    clean_df,
    explode_clocks,
    explode_materials,
    explode_moves,
    explode_positions,
    transform_game_data,
)
from chess_pipeline_spark.operators.evals import (
    resolve_evals,
    split_by_has_evals,
)
from chess_pipeline_spark.operators.winprob_pipeline import (
    build_features,
    infer_win_probabilities,
)


@dataclass
class GameEtlOutput:
    """The reference's seven loaded tables (db/tables/*.sql), lazily."""

    chess_games: DataFrame
    game_moves: DataFrame
    game_clocks: DataFrame
    game_positions: DataFrame
    game_materials: DataFrame
    position_evals: DataFrame
    win_probabilities: DataFrame
    # the persisted cleaned frame, exposed so callers / materialize()
    # can release executor memory
    cleaned: DataFrame

    def unpersist(self) -> None:
        self.cleaned.unpersist()

    def tables(self) -> dict[str, DataFrame]:
        return {
            "chess_games": self.chess_games,
            "game_moves": self.game_moves,
            "game_clocks": self.game_clocks,
            "game_positions": self.game_positions,
            "game_materials": self.game_materials,
            "position_evals": self.position_evals,
            "win_probabilities": self.win_probabilities,
        }


def run_game_etl(
    pgn: DataFrame,
    json_games: DataFrame,
    player: str,
    eval_cache: DataFrame,
) -> GameEtlOutput:
    """raw PGN rows + raw JSON rows -> the seven reference tables.

    `eval_cache` is the existing position_evals table (may be empty);
    embedded PGN evals are folded into it (the reference's
    cache-union, stockfish.py:94,109). External eval *fetching* for
    still-missing FENs is a separate side-effecting step
    (operators/evals.fetch_missing) deliberately outside this pure
    plan.
    """
    cleaned = clean_df(pgn, json_games).persist()

    games = transform_game_data(cleaned, player)
    moves = explode_moves(cleaned)
    clocks = explode_clocks(cleaned)
    positions = explode_positions(cleaned)
    materials = explode_materials(cleaned)

    with_evals, _without = split_by_has_evals(cleaned)
    new_cache = resolve_evals(
        with_evals,
        new_evals=eval_cache.limit(0),  # no external fetch in the pure plan
        cache=eval_cache,
    )

    features = build_features(clocks, games, positions, new_cache)
    win_probs = infer_win_probabilities(features)

    return GameEtlOutput(
        chess_games=games,
        game_moves=moves,
        game_clocks=clocks,
        game_positions=positions,
        game_materials=materials,
        position_evals=new_cache,
        win_probabilities=win_probs,
        cleaned=cleaned,
    )


@dataclass
class CorpusEtlOutput:
    """The curated-corpus counterpart of GameEtlOutput: survivors with
    their shard layout, plus a full audit trail of what dropped and
    why (production corpus runs are judged on their drop ledger as
    much as their survivor set)."""

    shards: DataFrame  # doc_id, source, n_tokens, cum_tokens, shard_id
    audit: DataFrame   # doc_id, source, stage, reason

    def tables(self) -> dict[str, DataFrame]:
        return {"corpus_shards": self.shards, "corpus_audit": self.audit}


def run_corpus_etl(
    docs: DataFrame,
    shard_tokens: int = 4096,
    scrub_pii: bool = False,
    drop_dup_paragraphs: bool = False,
    drop_boilerplate: bool = False,
) -> CorpusEtlOutput:
    """documents -> trainer-ready shard layout, as ONE lazy plan:

      quality gate (row-local) -> [optional PII scrub, row-local] ->
      exact dedup keep-min (one digest shuffle) -> [optional
      paragraph-level dedup, one chunk-digest window] ->
      deterministic stratified sample (row-local) -> token-budget
      packing (one window shuffle per source)

    With the defaults, exactly TWO keyed exchanges end-to-end — the
    whole point of composing lazily instead of chaining materialized
    steps: Catalyst fuses the row-local stages into the scan and the
    digest-window output flows straight into the sample filter. The
    audit frame unions the drop ledgers (quality / duplicate /
    paragraph_dup when enabled / sampled-out) with machine-readable
    reasons.

    scrub_pii runs the pii_redact_stats rule chain over surviving
    text BEFORE dedup, so two documents differing only in their PII
    tokens dedup together (and no PII ever reaches a shard). It adds
    zero exchanges. drop_dup_paragraphs rewrites each document to
    its corpus-wide first-occurrence chunks (paragraph_dedup
    semantics) and routes fully-duplicate documents to the audit; it
    adds one chunk-digest window + the per-doc rebuild.

    drop_boilerplate applies the RefinedWeb repeated-line rule
    (boilerplate_chunk_removal semantics) BEFORE the paragraph-dedup
    stage: chunks whose distinct-document frequency marks them as
    template boilerplate are dropped from EVERY host, including the
    first, and fully-boilerplate documents route to the audit. It
    adds one digest-frequency aggregate (map-side combined) plus a
    broadcast join of the tiny boilerplate set — removing the
    boilerplate first also keeps it from winning "first occurrence"
    in the paragraph-dedup sweep behind it.
    """
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from chess_pipeline_spark.plans.corpus import (
        _BUCKET_EXPR,
        _PII_RULES,
        _SAMPLE_PERMILLE,
        pack_tokens,
        with_quality_verdicts,
    )
    from chess_pipeline_spark.plans.llm import BPE_TOKEN_PATTERN

    v = with_quality_verdicts(docs.select("doc_id", "source", "text"))
    quality_dropped = v.filter(~F.col("keep")).select(
        "doc_id",
        "source",
        F.lit("quality").alias("stage"),
        F.col("fail_reasons").alias("reason"),
    )
    kept = v.filter(F.col("keep")).select("doc_id", "source", "text")
    if scrub_pii:
        red = F.col("text")
        for pat, repl in _PII_RULES:
            red = F.regexp_replace(red, pat, repl)
        kept = kept.withColumn("text", red)

    # exact dedup among survivors: min doc_id per content digest; the
    # window partitions on the 128-bit digest, never the body
    dig = kept.withColumn("fp", F.md5("text"))
    ranked = dig.withColumn(
        "keep_id", F.min("doc_id").over(Window.partitionBy("fp"))
    )
    dup_dropped = ranked.filter(F.col("doc_id") != F.col("keep_id")).select(
        "doc_id",
        "source",
        F.lit("exact_dup").alias("stage"),
        F.concat(F.lit("dup_of:"), F.col("keep_id").cast("string")).alias("reason"),
    )
    deduped = ranked.filter(F.col("doc_id") == F.col("keep_id")).select(
        "doc_id", "source", "text"
    )

    boiler_dropped = None
    if drop_boilerplate:
        from chess_pipeline_spark.plans.corpus import (
            _BOILER_MIN_DOCS,
            paragraph_chunks,
        )

        chunks = paragraph_chunks(deduped, carry=("source",)).withColumn(
            "dg", F.md5("chunk")
        )
        boiler = (
            chunks.groupBy("dg")
            .agg(F.count_distinct("doc_id").alias("df"))
            .filter(F.col("df") >= _BOILER_MIN_DOCS)
            .select("dg", F.lit(True).alias("hit"))
        )
        rebuilt = (
            chunks.join(F.broadcast(boiler), "dg", "left")
            .groupBy("doc_id", "source")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("hit").isNull(), F.struct("chunk_idx", "chunk"))
                    )
                ).alias("kept_chunks")
            )
        )
        boiler_dropped = rebuilt.filter(F.size("kept_chunks") == 0).select(
            "doc_id",
            "source",
            F.lit("boilerplate").alias("stage"),
            F.lit("all_chunks_corpus_frequent").alias("reason"),
        )
        deduped = rebuilt.filter(F.size("kept_chunks") > 0).select(
            "doc_id",
            "source",
            F.array_join(
                F.expr("transform(kept_chunks, k -> k.chunk)"), " "
            ).alias("text"),
        )

    para_dropped = None
    if drop_dup_paragraphs:
        from chess_pipeline_spark.plans.corpus import paragraph_chunks

        chunks = paragraph_chunks(deduped, carry=("source",))
        cwin = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk_idx")
        rebuilt = (
            chunks.withColumn("rn", F.row_number().over(cwin))
            .groupBy("doc_id", "source")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rn") == 1, F.struct("chunk_idx", "chunk"))
                    )
                ).alias("kept_chunks")
            )
        )
        para_dropped = rebuilt.filter(F.size("kept_chunks") == 0).select(
            "doc_id",
            "source",
            F.lit("paragraph_dup").alias("stage"),
            F.lit("all_chunks_seen_earlier").alias("reason"),
        )
        deduped = rebuilt.filter(F.size("kept_chunks") > 0).select(
            "doc_id",
            "source",
            F.array_join(
                F.expr("transform(kept_chunks, k -> k.chunk)"), " "
            ).alias("text"),
        )

    # deterministic per-stratum sample (row-local; same bucket expr
    # as the stratified_sample catalog query)
    bucketed = deduped.withColumn("bucket", F.expr(_BUCKET_EXPR))
    sampled_out = bucketed.filter(F.col("bucket") >= _SAMPLE_PERMILLE).select(
        "doc_id",
        "source",
        F.lit("sampled_out").alias("stage"),
        F.concat(F.lit("bucket:"), F.col("bucket").cast("string")).alias("reason"),
    )
    sampled = bucketed.filter(F.col("bucket") < _SAMPLE_PERMILLE)

    # token-budget packing over the final survivor set — the SAME
    # layout rule as the pack_sequences catalog query (pack_tokens)
    toks = sampled.select(
        "doc_id",
        "source",
        F.regexp_count("text", F.lit(BPE_TOKEN_PATTERN)).cast("long").alias("n_tokens"),
    )
    shards = pack_tokens(toks, shard_tokens)

    audit = quality_dropped.unionByName(dup_dropped).unionByName(sampled_out)
    if boiler_dropped is not None:
        audit = audit.unionByName(boiler_dropped)
    if para_dropped is not None:
        audit = audit.unionByName(para_dropped)
    return CorpusEtlOutput(shards=shards, audit=audit)


def materialize_corpus(out: CorpusEtlOutput, base_path: str) -> None:
    """Write the curated-corpus outputs as idempotent keyed upserts —
    re-running a curation over an overlapping document batch replaces
    rows by doc_id instead of duplicating them (same discipline as
    the game-ETL loaders)."""
    from chess_pipeline_spark.sinks import upsert_parquet

    for name, df in out.tables().items():
        upsert_parquet(df, f"{base_path}/{name}", ["doc_id"])


# each loaded table's delete-then-insert key (db/tables/*.sql)
TABLE_KEYS = {
    "chess_games": ["player", "game_link"],
    "game_moves": ["game_link", "half_move"],
    "game_clocks": ["game_link", "half_move"],
    "game_positions": ["game_link", "half_move"],
    "game_materials": ["game_link", "half_move"],
    "position_evals": ["fen"],
    "win_probabilities": ["game_link", "half_move"],
}


def materialize(out: GameEtlOutput, base_path: str) -> None:
    """The seven load_* steps as idempotent parquet upserts
    (postgres_templates.py:13-157 -> sinks.upsert_parquet), written
    concurrently: one pool thread for each of the six tables ahead of
    position_evals, so the upserts' short Spark jobs overlap instead of
    queueing behind each other.

    ``cleaned`` is computed into its cache first, so the threads share
    it instead of each re-running the parse. position_evals is written
    LAST, after every other table has committed: win_probabilities'
    lazy plan reads the eval cache, which in the incremental flow IS
    the old {base_path}/position_evals files, and swapping that table
    first would delete part-files a running write still reads. The
    pool threads inherit the caller's job group and local properties
    (inheritable_thread_target), so the caller can still see and
    cancel every job. Every table is waited for; the first error is
    then re-raised. Each table commits atomically on its own
    (commit.replace_dir), so a failed import leaves every table either
    old or new."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from chess_pipeline_spark import sinks

    tables = out.tables()
    last = tables.pop("position_evals")

    def write(name: str, df: DataFrame) -> None:
        # looked up per call, so a wrapped sinks.upsert_parquet applies
        sinks.upsert_parquet(df, f"{base_path}/{name}", TABLE_KEYS[name])

    spark = out.cleaned.sparkSession
    try:
        # fills the cache in one job per stage: a count would add an
        # aggregation stage
        out.cleaned.write.format("noop").mode("overwrite").save()
        with ThreadPoolExecutor(len(tables)) as pool:
            # wrapped per table: each thread gets its own copy of the
            # caller's properties to set its job group on
            futures = [
                pool.submit(inheritable_thread_target(spark)(write), name, df)
                for name, df in tables.items()
            ]
        for f in futures:  # all done: re-raises the first table's error
            f.result()
        write("position_evals", last)
    finally:
        out.unpersist()
