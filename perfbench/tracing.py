"""The traced run (--trace 1): per-layer metrics, named after the
program's modules.

Spans are recorded from the benchmark's side, around calls into each
layer's public functions; each span sets a Spark job group so the
Spark event log (switched on for this run only) attributes jobs, tasks
and SQL scans to it. Jobs submitted from the program's own threads
carry no group and are attributed by submission time instead: spans
never overlap, because one client runs them one after another.

Games path, measured once on the backfill import and once on the
daily batch import into the warehouse it loaded:
  parse, chess_transforms, evals, winprob_pipeline
      each layer's public function forced to the noop sink, its input
      the previous layer's output pinned by localCheckpoint outside
      the span;
  sinks
      the seven upsert_parquet calls inside a real run_etl import,
      timed by replacing the module attribute, which pipeline.
      materialize looks up at call time; each table's frame is pinned
      by localCheckpoint before its span, so the span holds the
      upsert's own read, anti-join and write, not the layers above;
  trace.*
      the real import's wall time; its residue, the part no layer
      above explains (load_s less every layer's time); and the tracing
      overhead: the traced backfill minus the mean of two untraced
      backfills of the same input run just before and just after it
      (the event log stays on for all three, so its cost is not in
      it).
Index path: one lifecycle, every ann_index / text_index call spanned.

Each workload traces its own path, after its warm-up; the layers of
the other path report 0 (running them cold pushed a traced run past
three minutes).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import time
from collections import defaultdict

import work as W

LAYERS = (
    "parse",
    "chess_transforms",
    "evals",
    "winprob_pipeline",
    "sinks",
    "reports",
    "ann_index",
    "text_index",
)
SPARK_SIDE = (
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_cpu_s", "s"),
    ("task_gc_s", "s"),
    ("scheduler_delay_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("files_scanned", "count"),
)


class Tracer:
    """Records spans: (layer, phase, wall-clock start and end in ms,
    elapsed seconds, job group)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.enabled = True

    def span(self, layer: str, phase: str, fn):
        if not self.enabled:
            return fn()
        group = f"perfbench:{layer}:{phase}:{len(self.spans)}"
        self.sc.setJobGroup(group, f"{layer}.{phase}")
        start, t0 = time.time() * 1000, time.perf_counter()
        try:
            return fn()
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(
                {"layer": layer, "phase": phase, "start": start,
                 "end": time.time() * 1000, "wall": wall, "group": group}
            )

    @contextlib.contextmanager
    def paused(self):
        self.enabled = False
        try:
            yield
        finally:
            self.enabled = True

    def walls(self, layer: str, phase: str | None = None) -> list[float]:
        return [
            s["wall"] for s in self.spans
            if s["layer"] == layer and (phase is None or s["phase"] == phase)
        ]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _isolated_layers(wl, stem: str, cache_path: str | None) -> dict:
    """Time parse, chess_transforms, evals and winprob_pipeline one at
    a time on the inputs run_etl would build from `stem`."""
    import pyspark.sql.functions as F
    import run_etl
    from chess_pipeline_spark.operators.chess_transforms import (
        clean_df,
        explode_clocks,
        explode_evals,
        explode_materials,
        explode_moves,
        explode_positions,
        transform_game_data,
    )
    from chess_pipeline_spark.operators.evals import resolve_evals, split_by_has_evals
    from chess_pipeline_spark.operators.winprob_pipeline import (
        build_features,
        infer_win_probabilities,
    )
    from chess_pipeline_spark.parse import parse_pgn_dataframe
    from chess_pipeline_spark.schemas import POSITION_EVALS, RAW_JSON
    from chess_pipeline_spark.sources.rest import json_records_source

    T, spark = wl.hooks, wl.spark
    with open(wl.inp.path(stem + ".pgn")) as fh:
        games = run_etl._split_pgn_games(fh.read())
    pgn = spark.createDataFrame([(g,) for g in games], "pgn string")
    js = json_records_source(spark, run_etl._load_json_records(wl.inp.path(stem + ".ndjson")))
    for f in RAW_JSON.fields:
        if f.name not in js.columns:
            js = js.withColumn(f.name, F.lit(None).cast(f.dataType))
    js = js.select([F.col(f.name).cast(f.dataType) for f in RAW_JSON.fields]).localCheckpoint()
    out: dict = {}

    parsed = parse_pgn_dataframe(pgn)
    out["parse"] = T.span("parse", "run", lambda: _timed(lambda: _noop(parsed)))
    parsed = parsed.localCheckpoint()
    out["truncated"] = parsed.filter(F.size("positions") < F.size("moves")).count()

    def transforms():
        cleaned = clean_df(parsed, js)
        frames = {
            "games": transform_game_data(cleaned, W.gen.PLAYER),
            "moves": explode_moves(cleaned),
            "clocks": explode_clocks(cleaned),
            "positions": explode_positions(cleaned),
            "materials": explode_materials(cleaned),
        }
        for df in frames.values():
            _noop(df)
        return frames

    t0 = time.perf_counter()
    frames = T.span("chess_transforms", "run", transforms)
    out["chess_transforms"] = time.perf_counter() - t0
    frames = {k: v.localCheckpoint() for k, v in frames.items()}
    out["transforms_rows"] = sum(df.count() for df in frames.values())
    cleaned = clean_df(parsed, js).localCheckpoint()

    if cache_path and os.path.exists(cache_path):
        cache = spark.read.parquet(cache_path)
    else:
        cache = spark.createDataFrame([], POSITION_EVALS)
    with_evals, _without = split_by_has_evals(cleaned)
    new_cache = resolve_evals(with_evals, new_evals=cache.limit(0), cache=cache)
    out["evals"] = T.span("evals", "run", lambda: _timed(lambda: _noop(new_cache)))
    new_cache = new_cache.localCheckpoint()
    embedded = explode_evals(with_evals).select("fen").distinct()
    n_emb = embedded.count()
    hits = embedded.join(cache.select("fen"), "fen", "left_semi").count()
    out["cache_hit_ratio"] = hits / n_emb if n_emb else 0.0

    win = infer_win_probabilities(
        build_features(frames["clocks"], frames["games"], frames["positions"], new_cache)
    )
    out["winprob_pipeline"] = T.span("winprob_pipeline", "run", lambda: _timed(lambda: _noop(win)))
    out["winprob_rows"] = win.count()
    return out


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _traced_import(wl, stem: str, wh: str) -> dict:
    """A real run_etl import with sinks.upsert_parquet spanned; returns
    wall time, summed upsert time, bytes written, table growth and
    files in the seven tables afterwards."""
    import chess_pipeline_spark.sinks as sinks

    T = wl.hooks
    orig = sinks.upsert_parquet
    st = {"upsert_s": 0.0, "written": 0, "growth": 0}

    def wrapped(df, path, keys):
        before = W.dir_bytes(path)[0] if os.path.exists(path) else 0
        df = df.localCheckpoint()
        t0 = time.perf_counter()
        T.span("sinks", "upsert", lambda: orig(df, path, keys))
        st["upsert_s"] += time.perf_counter() - t0
        after = W.dir_bytes(path)[0]
        st["written"] += after
        st["growth"] += after - before

    sinks.upsert_parquet = wrapped
    try:
        t0 = time.perf_counter()
        wl.import_games(stem, wh)
        st["load_s"] = time.perf_counter() - t0
    finally:
        sinks.upsert_parquet = orig
    st["files"] = sum(W.dir_bytes(os.path.join(wh, t))[1] for t in W.TABLES)
    return st


def _games_path(wl, man: dict, m: dict) -> None:
    """Per-layer metrics of the backfill import and of the daily batch
    imported on top of it (suffix `batch_`), plus the report set."""
    T = wl.hooks
    wh = os.path.join(wl.work, "trace_wh")
    untraced_wh = os.path.join(wl.work, "untraced_wh")
    untraced = []

    def untraced_backfill():
        with T.paused():
            t0 = time.perf_counter()
            wl.import_games("history", untraced_wh)
            untraced.append(time.perf_counter() - t0)
        shutil.rmtree(untraced_wh, ignore_errors=True)

    batch = man["batch"]
    for kind, stem, cache in (("", "history", None), ("batch_", "batch", os.path.join(wh, "position_evals"))):
        iso = _isolated_layers(wl, stem, cache)
        if not kind:
            untraced_backfill()
        imp = _traced_import(wl, stem, wh)
        if not kind:
            untraced_backfill()
        wl.check_tables(batch["expected"] if kind else man["history"], wh)
        load = imp["load_s"]
        plies = batch["plies"] if kind else man["history_plies"]
        layers = iso["parse"] + iso["chess_transforms"] + iso["evals"] + iso["winprob_pipeline"]
        m[f"parse.{kind}s"] = iso["parse"]
        m[f"parse.{kind}share"] = iso["parse"] / load
        m[f"parse.{kind}plies_per_s"] = plies / iso["parse"]
        m[f"parse.{kind}truncated_games"] = iso["truncated"]
        m[f"chess_transforms.{kind}s"] = iso["chess_transforms"]
        m[f"chess_transforms.{kind}rows_out"] = iso["transforms_rows"]
        m[f"evals.{kind}s"] = iso["evals"]
        m[f"evals.{kind}cache_hit_ratio"] = iso["cache_hit_ratio"]
        m[f"winprob_pipeline.{kind}s"] = iso["winprob_pipeline"]
        m[f"winprob_pipeline.{kind}rows_out"] = iso["winprob_rows"]
        m[f"sinks.{kind}upsert_s"] = imp["upsert_s"]
        m[f"sinks.{kind}share"] = imp["upsert_s"] / load
        m[f"sinks.{kind}bytes_written"] = imp["written"]
        m[f"sinks.{kind}write_amp"] = imp["written"] / max(imp["growth"], 1)
        m[f"sinks.{kind}files_out"] = imp["files"]
        m[f"trace.{kind}load_s"] = load
        m[f"trace.{kind}residue_s"] = load - layers - imp["upsert_s"]
    m["trace.overhead_s"] = m["trace.load_s"] - statistics.mean(untraced)
    out = T.span("reports", "run", lambda: wl.report_set(wh))
    wl.check_report(out)
    m["reports.s"] = T.walls("reports")[-1]
    shutil.rmtree(wh, ignore_errors=True)


def _index_path(wl, m: dict) -> None:
    """One traced lifecycle: build from 90 %, two delta batches with
    minor compactions, one major compaction, READS probes."""
    T = wl.hooks
    ivf, bm25 = os.path.join(wl.work, "trace_ivf"), os.path.join(wl.work, "trace_bm25")
    wl.lifecycle_build(ivf, bm25)
    for b in (1, 2):
        wl.lifecycle_ingest(ivf, bm25, b)
    wl.major_compact(ivf, bm25)
    wl.recalls.clear()
    for _ in range(W.READS):
        ivf_rows, bm25_rows = wl.probe(ivf, bm25)
        wl.check_ivf(ivf_rows)
        wl.check_bm25(bm25_rows)
    for layer, path in (("ann_index", ivf), ("text_index", bm25)):
        m[f"{layer}.build_s"] = sum(T.walls(layer, "build"))
        m[f"{layer}.ingest_s"] = sum(T.walls(layer, "ingest")) / 2
        m[f"{layer}.compact_s"] = sum(T.walls(layer, "compact"))
        m[f"{layer}.probe_s"] = statistics.median(T.walls(layer, "probe"))
        m[f"{layer}.files"] = W.dir_bytes(path)[1]
    m["ann_index.recall_at_k"] = statistics.median(wl.recalls)
    shutil.rmtree(ivf, ignore_errors=True)
    shutil.rmtree(bm25, ignore_errors=True)


def traced_run(wl, setup: dict) -> dict:
    """The per-layer metrics of one workload (Spark-side ones are added
    by spark_side() once the event log is complete). Layers the
    workload does not run report 0."""
    T = wl.hooks
    m: dict = {name: 0.0 for name, _unit, _better in PER_LAYER}
    m["session.start_s"] = setup["session_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    T.spans.clear()
    if wl.name == "games":
        _games_path(wl, wl.inp.manifest["games"], m)
    else:
        _index_path(wl, m)
    return {"correct": True, "attempted": len(T.spans), "failed": 0, "metrics": m}


def spark_side(tracer: Tracer, eventlog_dir: str, m: dict) -> None:
    """Jobs, tasks, task CPU/GC time, scheduler delay, shuffle write,
    spill and parquet files read per layer, from the event log."""
    spans = tracer.spans
    by_group = {s["group"]: s for s in spans}

    def span_of(group, t_ms):
        if group in by_group:
            return by_group[group]
        for s in spans:
            if s["start"] <= t_ms <= s["end"]:
                return s
        return None

    agg = {layer: defaultdict(float) for layer in LAYERS}
    stage_span: dict[int, dict] = {}
    metric_names: dict[int, str] = {}
    exec_span: dict[int, dict] = {}
    probe_jobs = defaultdict(int)

    def plan_metrics(node):
        for mt in node.get("metrics", []):
            metric_names[mt["accumulatorId"]] = mt["name"]
        for child in node.get("children", []):
            plan_metrics(child)

    for path in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    s = span_of(props.get("spark.jobGroup.id"), e["Submission Time"])
                    if s is None:
                        continue
                    agg[s["layer"]]["jobs"] += 1
                    if s["phase"] == "probe":
                        probe_jobs[s["layer"]] += 1
                    for sid in e["Stage IDs"]:
                        stage_span.setdefault(sid, s)
                elif ev == "SparkListenerTaskEnd":
                    s = stage_span.get(e["Stage ID"])
                    tm = e.get("Task Metrics")
                    if s is None or not tm:
                        continue
                    ti = e["Task Info"]
                    a = agg[s["layer"]]
                    a["tasks"] += 1
                    a["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    a["task_gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    getting = (
                        ti["Finish Time"] - ti["Getting Result Time"]
                        if ti.get("Getting Result Time") else 0
                    )
                    busy = (
                        tm.get("Executor Run Time", 0)
                        + tm.get("Executor Deserialize Time", 0)
                        + tm.get("Result Serialization Time", 0)
                        + getting
                    )
                    a["scheduler_delay_s"] += max(0, ti["Finish Time"] - ti["Launch Time"] - busy) / 1e3
                    a["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    a["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                elif ev.endswith("SparkListenerSQLExecutionStart"):
                    plan_metrics(e.get("sparkPlanInfo") or {})
                    s = span_of(None, e["time"])
                    if s is not None:
                        exec_span[e["executionId"]] = s
                elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    plan_metrics(e.get("sparkPlanInfo") or {})
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    s = exec_span.get(e["executionId"])
                    if s is None:
                        continue
                    for acc_id, value in e["accumUpdates"]:
                        if metric_names.get(acc_id) == "number of files read":
                            agg[s["layer"]]["files_scanned"] += value
    for layer in LAYERS:
        for name, _unit in SPARK_SIDE:
            m[f"{layer}.{name}"] = agg[layer][name]
    for layer in ("ann_index", "text_index"):
        m[f"{layer}.jobs_per_probe"] = probe_jobs[layer] / max(1, len(tracer.walls(layer, "probe")))


def _per_layer() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in the order
    BENCHMARK.json lists them."""
    out = [("session.start_s", "s", "lower"), ("session.warmup_s", "s", "lower")]
    for k in ("", "batch_"):
        out += [
            (f"parse.{k}s", "s", "lower"),
            (f"parse.{k}share", "ratio", "lower"),
            (f"parse.{k}plies_per_s", "plies/s", "higher"),
            (f"parse.{k}truncated_games", "count", "lower"),
            (f"chess_transforms.{k}s", "s", "lower"),
            (f"chess_transforms.{k}rows_out", "count", "higher"),
            (f"evals.{k}s", "s", "lower"),
            (f"evals.{k}cache_hit_ratio", "ratio", "higher"),
            (f"winprob_pipeline.{k}s", "s", "lower"),
            (f"winprob_pipeline.{k}rows_out", "count", "higher"),
            (f"sinks.{k}upsert_s", "s", "lower"),
            (f"sinks.{k}share", "ratio", "lower"),
            (f"sinks.{k}bytes_written", "bytes", "lower"),
            (f"sinks.{k}write_amp", "ratio", "lower"),
            (f"sinks.{k}files_out", "count", "lower"),
            (f"trace.{k}load_s", "s", "lower"),
            (f"trace.{k}residue_s", "s", "lower"),
        ]
    out += [("trace.overhead_s", "s", "lower"), ("reports.s", "s", "lower")]
    for layer in ("ann_index", "text_index"):
        out += [(f"{layer}.{p}_s", "s", "lower") for p in ("build", "ingest", "compact", "probe")]
        out += [(f"{layer}.files", "count", "lower"), (f"{layer}.jobs_per_probe", "count", "lower")]
    out.append(("ann_index.recall_at_k", "ratio", "higher"))
    for layer in LAYERS:
        out += [(f"{layer}.{n}", u, "lower") for n, u in SPARK_SIDE]
    return out


PER_LAYER = _per_layer()
PER_LAYER_UNITS = [(n, u) for n, u, _b in PER_LAYER]
