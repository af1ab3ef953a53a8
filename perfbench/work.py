"""The two workloads: their inputs, set-up, timed operations and the
output check after every operation.

One client runs a closed loop of rounds: the next operation starts when
the previous one and its checks have finished. Operations call the
program's public entry points only.

games            set-up preloads the history into the warehouse through
                 run_etl (this cold import is also the warm-up) and
                 reads it once with the report set. The round imports
                 the daily batch into that warehouse (new games plus
                 re-imports of loaded ones), runs the weekly report set
                 over it, then backfills the whole history into an
                 empty scratch warehouse with an empty eval cache. A
                 games run does this one round: the batch changes the
                 warehouse, so a second round would time other work.
index_lifecycle  set-up builds both indexes in one go over the whole
                 corpus as warm-up and BM25 reference. A round builds
                 them from 90 % of the corpus, ingests the other 10 %
                 as two delta batches with a minor compaction after
                 each, then probes both indexes READS times. A run
                 does one round, and more while its time lasts.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen

TABLES = (
    "chess_games",
    "game_moves",
    "game_clocks",
    "game_positions",
    "game_materials",
    "position_evals",
    "win_probabilities",
)
CATEGORIES = ("bullet", "blitz", "rapid")
# probe parameters of the catalog's ivf_adc_recall / bm25_index_probe
IVF_LISTS, IVF_K, IVF_NPROBE, IVF_QUERIES = 8, 5, 2, 8
BM25_TERMS = ("merge", "hash", "dup")
READS = 3  # reads per index_lifecycle round
MIN_RECALL = 0.5

# Sizes. The same for every seed, so every seed does the same work.
SIZES = {
    "history_games": 300,
    "batch_games": 15,  # 5 % of the history
    "batch_reimports": 2,  # about 10 % of a batch re-imports loaded games
    "docs": 5000,
    "vecs": 2000,
    "eval_frac": 0.2,
    "corrupt_frac": 0.01,
}
WORKLOADS = ("games", "index_lifecycle")


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet data files) under path."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


class Inputs:
    """Generated files of one workload and seed, cached under
    .work/inputs so a repeated seed skips generation. Generation time
    is recorded apart from set-up."""

    def __init__(self, cache_root: str, workload: str, seed: int) -> None:
        # keyed by the generator's own source too, so an edited
        # generator never reuses stale files
        tag = json.dumps(SIZES, sort_keys=True)
        for mod in (gen.__file__, __file__):
            with open(mod) as fh:
                tag += fh.read()
        key = f"{workload}-s{seed}-{hashlib.sha1(tag.encode()).hexdigest()[:12]}"
        self.dir = os.path.join(cache_root, key)
        self.gen_s = 0.0
        manifest = os.path.join(self.dir, "manifest.json")
        if not os.path.exists(manifest):
            t0 = time.perf_counter()
            tmp = self.dir + f".tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            _generate(tmp, workload, seed)
            shutil.rmtree(self.dir, ignore_errors=True)
            os.rename(tmp, self.dir)
            self.gen_s = time.perf_counter() - t0
        with open(manifest) as fh:
            self.manifest = json.load(fh)

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)


def _games(out: str, f: gen.GameFactory) -> dict:
    """The history and the daily batch, written as history.* and
    batch.*; returns their manifest: expected row counts after the
    history and after the batch imported on top of it, re-imported
    links, plies and input bytes."""
    S = SIZES
    hist = f.games(S["history_games"], 0, 60, S["eval_frac"], S["corrupt_frac"])
    new = f.games(S["batch_games"] - S["batch_reimports"], 60, 1, S["eval_frac"], S["corrupt_frac"])
    again = gen.reimport(hist, sorted(f.rng.sample(range(len(hist.links)), S["batch_reimports"])), "b0")
    batch = gen.GameSet()
    for part in (new, again):
        for i in range(len(part.links)):
            batch.add(part.links[i], part.pgn[i], part.json[i], part.facts[i], ())
    batch.eval_fens = new.eval_fens
    return {
        "history": gen.expected_rows([hist]),
        "history_plies": hist.plies,
        "history_bytes": hist.write(
            os.path.join(out, "history.pgn"), os.path.join(out, "history.ndjson")
        ),
        "batch": {
            "expected": gen.expected_rows([hist, batch]),
            "reimported": again.links,
            "tag": "b0",
            "plies": batch.plies,
            "bytes": batch.write(os.path.join(out, "batch.pgn"), os.path.join(out, "batch.ndjson")),
        },
    }


def _write_corpus(d: str, docs: list, vecs: list) -> int:
    """documents.parquet and embeddings.parquet under d; returns their
    bytes."""
    os.makedirs(d)
    pq.write_table(
        pa.table({"doc_id": [r[0] for r in docs], "text": [r[1] for r in docs]}),
        os.path.join(d, "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": [r[0] for r in vecs],
                "embedding": pa.array([r[1] for r in vecs], pa.list_(pa.float32())),
                "label": pa.array([r[2] for r in vecs], pa.int32()),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )
    return dir_bytes(d)[0]


def _generate(out: str, workload: str, seed: int) -> None:
    """Every input file of one workload and seed, plus manifest.json."""
    S = SIZES
    man: dict = {"seed": seed, "sizes": S}
    if workload == "games":
        man["games"] = _games(out, gen.GameFactory(seed))
    else:
        nd, nv = S["docs"], S["vecs"]
        docs, vecs = gen.index_corpus(seed, nd + nd // 20, nv + nv // 20)
        man["corpus_bytes"] = _write_corpus(os.path.join(out, "corpus"), docs[:nd], vecs[:nv])
        # ids past the corpus: a delta the warm-up ingests into its index
        _write_corpus(os.path.join(out, "warmup_delta"), docs[nd:], vecs[nv:])
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(man, fh)


class CheckFailed(Exception):
    pass


def count_rows(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows()


class Workload:
    """Set-up, the timed rounds and the checks of one workload. `hooks`
    is run.NoHooks, or tracing.Tracer in the traced run: every index
    call goes through hooks.span(layer, phase, fn)."""

    def __init__(self, name: str, spark, inputs: Inputs, work: str, hooks) -> None:
        self.name = name
        self.spark = spark
        self.inp = inputs
        self.work = work
        self.hooks = hooks
        self.wh = os.path.join(work, "warehouse")  # the history, then the batch on it
        self.backfill_wh = os.path.join(work, "backfill")
        self.ivf = os.path.join(work, "ivf")
        self.bm25 = os.path.join(work, "bm25")
        self.items = 0  # plies imported, or vectors + documents indexed
        self.in_bytes = 0
        self.out_bytes = 0
        self.recalls: list[float] = []
        self._exact: dict[int, set] = {}
        self._bm25_ref: list = []

    # -- program calls ---------------------------------------------------

    def import_games(self, stem: str, out: str) -> None:
        import run_etl

        rc = run_etl.main(
            [
                "games",
                "--pgn", self.inp.path(stem + ".pgn"),
                "--json", self.inp.path(stem + ".ndjson"),
                "--player", gen.PLAYER,
                "--out", out,
            ],
            spark=self.spark,
        )
        if rc != 0:
            raise CheckFailed(f"run_etl games exited {rc}")

    def report_set(self, wh: str) -> dict:
        """The weekly report set: colour stats, Elo by weekday per
        category, their texts and plots, and the assembled letter."""
        from chess_pipeline_spark.newsletter import (
            build_newsletter,
            elo_by_weekday_text,
            render_color_stats_svg,
            render_elo_by_weekday_svg,
            win_ratio_by_color_text,
        )
        from chess_pipeline_spark.operators.chess_transforms import (
            get_color_stats,
            get_elo_by_weekday,
        )

        games = self.spark.read.parquet(os.path.join(wh, "chess_games"))
        cs = get_color_stats(games)
        texts = [win_ratio_by_color_text(cs)]
        svgs = [render_color_stats_svg(cs)]
        for cat in CATEGORIES:
            elo = get_elo_by_weekday(games, cat)
            texts.append(elo_by_weekday_text(elo, cat))
            svgs.append(render_elo_by_weekday_svg(elo))
        letter = build_newsletter(texts, gen.PLAYER, "bench@example.org")
        return {"letter": letter, "svgs": svgs, "texts": texts}

    def corpus(self, name: str = "corpus"):
        d = self.inp.path(name)
        docs = self.spark.read.parquet(os.path.join(d, "documents.parquet"))
        vecs = self.spark.read.parquet(os.path.join(d, "embeddings.parquet")).select(
            "vec_id", "embedding"
        )
        return docs, vecs

    def corpus_slice(self, lo: int, hi: int):
        """Documents and vectors of the corpus whose ids lie in
        [lo, hi) twentieths of its size; returns them and their
        number."""
        from pyspark.sql import functions as F

        docs, vecs = self.corpus()
        (d_lo, d_hi), (v_lo, v_hi) = (
            (n * lo // 20, n * hi // 20) for n in (SIZES["docs"], SIZES["vecs"])
        )
        return (
            docs.filter((F.col("doc_id") >= d_lo) & (F.col("doc_id") < d_hi)),
            vecs.filter((F.col("vec_id") >= v_lo) & (F.col("vec_id") < v_hi)),
            (d_hi - d_lo) + (v_hi - v_lo),
        )

    def build_indexes(self, ivf: str, bm25: str, docs, vecs) -> None:
        from chess_pipeline_spark.ann_index import build_ivf_index
        from chess_pipeline_spark.text_index import build_text_index

        self.hooks.span(
            "ann_index", "build", lambda: build_ivf_index(vecs, ivf, n_lists=IVF_LISTS)
        )
        self.hooks.span("text_index", "build", lambda: build_text_index(docs, bm25))

    def ingest_batch(self, ivf: str, bm25: str, b: int, docs, vecs) -> None:
        """Delta batch b into both indexes, then a minor compaction of
        both."""
        from chess_pipeline_spark.ann_index import compact_ivf_index, ingest_ivf_batch
        from chess_pipeline_spark.text_index import compact_text_index, ingest_text_delta

        self.hooks.span("ann_index", "ingest", lambda: ingest_ivf_batch(vecs, b, ivf))
        self.hooks.span("text_index", "ingest", lambda: ingest_text_delta(docs, bm25, b))
        self.hooks.span("ann_index", "compact", lambda: compact_ivf_index(self.spark, ivf))
        self.hooks.span("text_index", "compact", lambda: compact_text_index(self.spark, bm25))

    def lifecycle_build(self, ivf: str, bm25: str) -> int:
        """Both indexes from the first 90 % of the corpus by id; returns
        the items indexed."""
        docs, vecs, n = self.corpus_slice(0, 18)
        self.build_indexes(ivf, bm25, docs, vecs)
        return n

    def lifecycle_ingest(self, ivf: str, bm25: str, b: int) -> int:
        """Delta batch b (1 or 2): the next 5 % of the corpus; returns
        the items ingested."""
        docs, vecs, n = self.corpus_slice(17 + b, 18 + b)
        self.ingest_batch(ivf, bm25, b, docs, vecs)
        return n

    def major_compact(self, ivf: str, bm25: str) -> None:
        from chess_pipeline_spark.ann_index import compact_ivf_index
        from chess_pipeline_spark.text_index import compact_text_index

        self.hooks.span(
            "ann_index", "compact", lambda: compact_ivf_index(self.spark, ivf, rewrite=True)
        )
        self.hooks.span(
            "text_index", "compact", lambda: compact_text_index(self.spark, bm25, rewrite=True)
        )

    def probe(self, ivf: str, bm25: str) -> tuple[list, list]:
        """One read: probe_ivf_adc for the IVF_QUERIES lowest-id vectors
        and probe_bm25 for BM25_TERMS, both collected."""
        from chess_pipeline_spark.ann_index import probe_ivf_adc
        from chess_pipeline_spark.text_index import probe_bm25
        from pyspark.sql import functions as F

        _docs, vecs = self.corpus()
        q = vecs.filter(F.col("vec_id") < IVF_QUERIES).select(
            F.col("vec_id").alias("qid"), "embedding"
        )
        ivf_rows = self.hooks.span(
            "ann_index", "probe",
            lambda: probe_ivf_adc(
                self.spark, ivf, q, k=IVF_K, nprobe=IVF_NPROBE, id_col="qid"
            ).collect(),
        )
        bm25_rows = self.hooks.span(
            "text_index", "probe", lambda: probe_bm25(self.spark, bm25, BM25_TERMS).collect()
        )
        return ivf_rows, bm25_rows

    # -- set-up ----------------------------------------------------------

    def warm_games(self) -> None:
        """The preload: the history imported through run_etl into the
        warehouse the batch goes to. As the process's first import it
        also pays JIT, code generation, the Python-worker fork and the
        package shipping. Then one report set over it warms the report
        path."""
        man = self.inp.manifest["games"]
        self.import_games("history", self.wh)
        self.check_tables(man["history"])
        self.check_report(self.report_set(self.wh))

    def warm_index(self) -> None:
        """Both indexes built in one go over the whole corpus and
        probed: the process's first call of each build and probe, and
        the reference the lifecycle's BM25 probes must equal. Then a
        delta of ids past the corpus is ingested into them, with a
        minor compaction."""
        ivf, bm25 = os.path.join(self.work, "warmup_ivf"), os.path.join(self.work, "warmup_bm25")
        docs, vecs = self.corpus()
        self.build_indexes(ivf, bm25, docs, vecs)
        _ivf_rows, bm25_rows = self.probe(ivf, bm25)
        self._bm25_ref = sorted((r.doc_id, r.bm25) for r in bm25_rows)
        self.ingest_batch(ivf, bm25, 1, *self.corpus("warmup_delta"))
        shutil.rmtree(ivf, ignore_errors=True)
        shutil.rmtree(bm25, ignore_errors=True)

    def warmup(self) -> None:
        if self.name == "games":
            self.warm_games()
        else:
            self.warm_index()

    def reference(self) -> None:
        """Outside every timer (index_lifecycle only): the exact cosine
        top-k of the IVF queries."""
        t = pq.read_table(self.inp.path("corpus/embeddings.parquet"))
        emb = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
        ids = np.array(t.column("vec_id").to_pylist())
        unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
        sims = unit[ids < IVF_QUERIES] @ unit.T
        self._exact = {
            int(q): set(ids[np.argsort(-sims[i], kind="stable")[:IVF_K]].tolist())
            for i, q in enumerate(ids[ids < IVF_QUERIES])
        }

    # -- the timed rounds ----------------------------------------------

    def rounds_left(self, done: int) -> bool:
        return self.name != "games" or done == 0

    def run_round(self, timer) -> None:
        """One round; timer(kind, fn) runs and times one operation. Each
        operation's check runs after it, outside the timer, and raises
        CheckFailed on a wrong output."""
        if self.name == "games":
            man = self.inp.manifest["games"]
            batch = man["batch"]
            timer("ingest", lambda: self.import_games("batch", self.wh))
            self.items += batch["plies"]
            self.check_tables(batch["expected"])
            self.check_reimports(batch["reimported"], batch["tag"])
            self.check_report(timer("read", lambda: self.report_set(self.wh)))
            shutil.rmtree(self.backfill_wh, ignore_errors=True)
            timer("rebuild", lambda: self.import_games("history", self.backfill_wh))
            self.items += man["history_plies"]
            self.check_tables(man["history"], self.backfill_wh)
            shutil.rmtree(self.backfill_wh, ignore_errors=True)
            self.in_bytes = man["history_bytes"] + batch["bytes"]
            self.out_bytes = dir_bytes(self.wh)[0]
        else:
            for d in (self.ivf, self.bm25):
                shutil.rmtree(d, ignore_errors=True)
            self.items += timer("rebuild", lambda: self.lifecycle_build(self.ivf, self.bm25))
            for b in (1, 2):
                self.items += timer(
                    "ingest", lambda: self.lifecycle_ingest(self.ivf, self.bm25, b)
                )
            for _ in range(READS):
                ivf_rows, bm25_rows = timer(
                    "read", lambda: self.probe(self.ivf, self.bm25)
                )
                self.check_ivf(ivf_rows)
                self.check_bm25(bm25_rows)
            self.in_bytes = self.inp.manifest["corpus_bytes"]
            self.out_bytes = dir_bytes(self.ivf)[0] + dir_bytes(self.bm25)[0]

    def clear(self) -> None:
        for d in (self.wh, self.backfill_wh, self.ivf, self.bm25):
            shutil.rmtree(d, ignore_errors=True)

    # -- checks ----------------------------------------------------------

    def check_tables(self, expected: dict, wh: str | None = None) -> None:
        """Row counts of the seven tables against the manifest."""
        for t in TABLES:
            got = count_rows(os.path.join(wh or self.wh, t))
            if got != expected[t]:
                raise CheckFailed(f"{t}: {got} rows, expected {expected[t]}")

    def check_reimports(self, links: list[str], tag: str) -> None:
        """Re-imported games replaced (their new Round value), not
        duplicated."""
        t = pq.read_table(os.path.join(self.wh, "chess_games"), columns=["game_link", "round"])
        link_col = t.column("game_link").to_pylist()
        if len(set(link_col)) != len(link_col):
            raise CheckFailed("chess_games holds duplicate game_link keys")
        rounds = dict(zip(link_col, t.column("round").to_pylist()))
        for link in links:
            got = rounds.get("https://lichess.org/" + link)
            if got != tag:
                raise CheckFailed(f"re-imported {link} not replaced: round {got!r}")

    def check_report(self, out: dict) -> None:
        letter = out["letter"]
        if gen.PLAYER not in letter["subject"] or not letter["text"]:
            raise CheckFailed("newsletter is empty")
        if "win rate" not in out["texts"][0]:
            raise CheckFailed(f"colour-stats text: {out['texts'][0]!r}")
        for cat, text in zip(CATEGORIES, out["texts"][1:]):
            if "highest elo" not in text:
                raise CheckFailed(f"no Elo sentence for {cat}: {text!r}")
        if not all(s.startswith("<svg") for s in out["svgs"]):
            raise CheckFailed("a report plot is not an SVG")

    def check_ivf(self, rows) -> None:
        """Recall@k against exact cosine top-k, recorded; below
        MIN_RECALL the index is broken."""
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(int(r.qid), set()).add(int(r.neighbor_id))
        hits = sum(len(got.get(q, set()) & exact) for q, exact in self._exact.items())
        recall = hits / (IVF_K * len(self._exact))
        self.recalls.append(recall)
        if recall < MIN_RECALL:
            raise CheckFailed(f"IVF recall@{IVF_K} {recall:.3f} < {MIN_RECALL}")

    def check_bm25(self, rows) -> None:
        """The probe after ingest and compaction equals, ignoring order,
        the probe of the one-go index."""
        got = sorted((r.doc_id, r.bm25) for r in rows)
        if got != self._bm25_ref:
            raise CheckFailed(f"BM25 probe {got[:3]}... differs from {self._bm25_ref[:3]}...")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
