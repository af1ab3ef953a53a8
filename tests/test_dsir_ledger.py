"""Stream==batch laws for the DSIR bucket-count ledger (r12)."""

from __future__ import annotations

import os
import time

import pytest

import pyspark.sql.functions as F

from chess_pipeline_spark.plans.corpus import dsir_importance_weights
from chess_pipeline_spark.sources import load_table
from chess_pipeline_spark.streaming.jobs import (
    ADDITIVE_LEDGERS,
    dsir_from_ledger,
    ingest_dsir_delta,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_dsir_ledger_stream_equals_batch(spark, sf_dir, tmp_path):
    """Two doc-id-ordered micro-batches through the bucket-count
    ledger reproduce the batch dsir_importance_weights exactly when
    the pinned target equals the corpus min(source) — INCLUDING
    cross-batch model mass (a bucket seen in both batches must sum
    its counts); an at-least-once replayed batch is a byte-identical
    partition rewrite and changes nothing."""
    docs = load_table(spark, sf_dir, "documents")
    target = docs.agg(F.min("source")).first()[0]
    src = tmp_path / "arrivals"
    src.mkdir()
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    lo = docs.filter(F.col("doc_id") <= mid)
    hi = docs.filter(F.col("doc_id") > mid)
    lo.toPandas().to_parquet(str(src / "b0.parquet"))
    hi.toPandas().to_parquet(str(src / "b1.parquet"))
    now = time.time()
    os.utime(src / "b0.parquet", (now - 60, now - 60))
    os.utime(src / "b1.parquet", (now, now))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    led = str(tmp_path / "dsir_ledger")
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: ingest_dsir_delta(b, led, i, target)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    want = _rows(dsir_importance_weights(spark, sf_dir))
    got = _rows(dsir_from_ledger(spark, led, docs))
    assert got == want
    assert any(r[2] for r in want), "no target docs; law untestable"

    # at-least-once replay: re-ingesting batch 1 rewrites its own
    # partition with identical bytes — the served weights are stable
    ingest_dsir_delta(hi, led, 1, target)
    assert _rows(dsir_from_ledger(spark, led, docs)) == want

    # compaction is probe-invariant
    ADDITIVE_LEDGERS["dsir"].compact(spark, led)
    assert _rows(dsir_from_ledger(spark, led, docs)) == want

    # a different pinned target refuses instead of silently folding
    # counts under a redefined p-model
    with pytest.raises(ValueError, match="target"):
        ingest_dsir_delta(hi, led, 2, "some_other_source")


def test_dsir_weights_rank_target_like_docs_higher(spark, tmp_path):
    """Planted-signal law: documents written in the TARGET domain's
    vocabulary must score strictly higher mean importance weight than
    documents from a disjoint vocabulary — the selection property the
    operator exists for (oracle parity alone only proves both engines
    compute the same numbers)."""
    import pandas as pd

    from chess_pipeline_spark.plans.corpus import dsir_importance_weights

    # target domain 'aaa_target' (min source) writes vocab A; raw pool
    # writes vocab B; two raw docs are target-like plants
    vocab_a = "alpha beta gamma delta epsilon zeta"
    vocab_b = "omega psi chi phi upsilon tau"
    rows = []
    for i in range(10):
        rows.append((i, "aaa_target", vocab_a))
    for i in range(10, 40):
        rows.append((i, "zz_raw", vocab_b))
    plants = [40, 41]
    for i in plants:
        rows.append((i, "zz_raw", vocab_a))
    pd.DataFrame(rows, columns=["doc_id", "source", "text"]).to_parquet(
        str(tmp_path / "documents.parquet")
    )

    got = {
        r.doc_id: r.logweight_unats
        for r in dsir_importance_weights(spark, str(tmp_path)).collect()
    }
    plant_scores = [got[i] for i in plants]
    raw_scores = [got[i] for i in range(10, 40)]
    assert min(plant_scores) > max(raw_scores), (
        "target-vocabulary plants must outscore every raw-vocabulary doc"
    )


def _mk_docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )


def test_dsir_ingest_restores_bak_before_stamp(spark, tmp_path):
    """r12 ADVICE (high): a compaction crash between its two renames
    leaves the whole ledger (counts + _target.json + folded marker)
    in the .bak sibling. Ingest must restore it BEFORE the target
    stamp can create a fresh live directory — stamping first would
    fork the ledger into an empty live dir and the next compaction
    would rmtree the .bak with every accumulated count."""
    import shutil

    led = str(tmp_path / "led")
    b0 = _mk_docs(spark, [(1, "aaa_t", "alpha beta gamma")])
    b1 = _mk_docs(spark, [(2, "zz_raw", "delta epsilon zeta")])
    ingest_dsir_delta(b0, led, 0, "aaa_t")

    # the reference state: both batches into an untouched ledger
    want_dir = str(tmp_path / "want")
    shutil.copytree(led, want_dir)
    ingest_dsir_delta(b1, want_dir, 1, "aaa_t")
    probe = _mk_docs(
        spark, [(1, "aaa_t", "alpha beta gamma"), (2, "zz_raw", "delta epsilon zeta")]
    )
    want = _rows(dsir_from_ledger(spark, want_dir, probe))

    # crash mid-swap: live dir gone, full state in .bak
    os.rename(led, f"{led}.__bak__")
    ingest_dsir_delta(b1, led, 1, "aaa_t")
    assert os.path.exists(led) and not os.path.exists(f"{led}.__bak__")
    assert _rows(dsir_from_ledger(spark, led, probe)) == want

    # and the next compaction keeps the restored whole, not a fork
    ADDITIVE_LEDGERS["dsir"].compact(spark, led)
    assert _rows(dsir_from_ledger(spark, led, probe)) == want


def test_dsir_serve_scores_out_of_corpus_grams(spark, tmp_path):
    """r12 ADVICE (medium): a probe gram whose bucket never appeared
    in ingested counts must contribute the smoothed zero-count ratio
    (cp=0, cq=0 under the same add-1/B rule), not silently vanish
    from n_grams and the weight sum. Expected values come from a
    python re-derivation over the raw ledger counts, so the law holds
    regardless of which buckets collide."""
    import math

    from chess_pipeline_spark.plans.corpus import _DSIR_B, _dsir_gram_buckets

    led = str(tmp_path / "led")
    corpus = _mk_docs(
        spark,
        [
            (1, "aaa_t", "alpha beta gamma delta"),
            (2, "zz_raw", "epsilon zeta eta theta"),
        ],
    )
    ingest_dsir_delta(corpus, led, 0, "aaa_t")

    # out-of-corpus probe: disjoint vocabulary -> (mostly) unseen buckets
    probe = _mk_docs(
        spark,
        [
            (7, "zz_raw", "omega psi chi"),
            (1, "aaa_t", "alpha beta gamma delta"),
        ],
    )

    counts = {
        int(r["b"]): (int(r["cp"]), int(r["cq"]))
        for r in spark.read.parquet(led)
        .groupBy("b")
        .agg(F.sum("cp").alias("cp"), F.sum("cq").alias("cq"))
        .collect()
    }
    np_ = sum(c[0] for c in counts.values())
    nq_ = sum(c[1] for c in counts.values())

    def lr(b):
        cp, cq = counts.get(b, (0, 0))
        return int(
            math.floor(
                (
                    math.log((cp + 1) / (np_ + _DSIR_B))
                    - math.log((cq + 1) / (nq_ + _DSIR_B))
                )
                * 1e6
                + 0.5
            )
        )

    posts = _dsir_gram_buckets(probe).collect()
    want = {}
    for r in posts:
        k = (r["doc_id"], r["source"])
        n, w = want.get(k, (0, 0))
        want[k] = (n + 1, w + lr(int(r["b"])))

    got = {
        (r["doc_id"], r["source"]): (r["n_grams"], r["logweight_unats"])
        for r in dsir_from_ledger(spark, led, probe).collect()
    }
    assert got == want
    # the out-of-corpus doc is present with ALL its grams counted:
    # 3 unigrams + 2 bigrams
    assert got[(7, "zz_raw")][0] == 5


@pytest.mark.parametrize(
    "qname",
    [
        "dsir_importance_weights",
        "dup_ngram_fraction",
        "exact_substring_spans",
        "cross_source_leakage",
    ],
)
def test_corpus_pin_modes_identical_output(spark, sf_dir, qname, monkeypatch):
    """DSIR's postings pin and the three corpus-scale pins PINAUDIT_r13
    found beyond it all route through checkpoints.pin_corpus_frame,
    whose env knob (SPARK_GRAFT_CORPUS_PINS) must trade memory for
    recompute WITHOUT changing a single output byte; an unknown mode
    refuses."""
    from chess_pipeline_spark.plans import catalog

    spec = catalog()[qname]
    monkeypatch.delenv("SPARK_GRAFT_CORPUS_PINS", raising=False)
    base = _rows(spec.spark(spark, sf_dir))
    assert base
    for mode in ("disk", "recompute"):
        monkeypatch.setenv("SPARK_GRAFT_CORPUS_PINS", mode)
        assert _rows(spec.spark(spark, sf_dir)) == base, (qname, mode)
    monkeypatch.setenv("SPARK_GRAFT_CORPUS_PINS", "zram")
    with pytest.raises(ValueError, match="corpus-pin mode"):
        spec.spark(spark, sf_dir).collect()


def test_dsir_resample_topk_law(spark, sf_dir):
    """dsir_resample_topk == python re-derivation: take the weights
    frame, add the SAME salted-md5 Gumbel in micro-nats, keep the
    top-k under the (key, doc_id) total order. Exactness is the
    point — the Gumbel-top-k identity makes one-pass weighted
    sampling without replacement reproducible across engines."""
    import hashlib
    import math

    from chess_pipeline_spark.plans.corpus import (
        _DSIR_RES_K,
        dsir_importance_weights,
        dsir_resample_topk,
    )

    w = {
        r["doc_id"]: (r["source"], r["logweight_unats"])
        for r in dsir_importance_weights(spark, sf_dir).collect()
    }
    scored = []
    for doc_id, (source, lw) in w.items():
        u6 = int(hashlib.md5(f"dsirres:{doc_id}".encode()).hexdigest()[:6], 16)
        u = (u6 + 0.5) / 16**6
        g = math.floor(-math.log(-math.log(u)) * 1e6 + 0.5)
        scored.append((lw + g, doc_id, source, lw))
    want = sorted(scored, key=lambda t: (-t[0], t[1]))[:_DSIR_RES_K]
    want_rows = sorted(
        (d, s, lw, k) for (k, d, s, lw) in want
    )
    got = sorted(
        map(tuple, dsir_resample_topk(spark, sf_dir).collect())
    )
    assert got == want_rows
    # selection law: the weights bias the draw — the selected set's
    # mean weight exceeds the corpus mean (planted-signal analogue)
    sel_mean = sum(r[2] for r in got) / len(got)
    all_mean = sum(lw for _, lw in w.values()) / len(w)
    assert sel_mean > all_mean


@pytest.mark.parametrize("probe", ["dsir_from_ledger", "dup_exposure_from_ledger"])
def test_ledger_probe_of_missing_ledger_raises_path_not_found(spark, tmp_path, probe):
    """A probe of a ledger that was never written fails in the reader,
    naming the path, for both the DSIR and the dup-gram probe."""
    from pyspark.errors import AnalysisException

    from chess_pipeline_spark.streaming import jobs

    docs = spark.createDataFrame([(1, "a", "x y z")], "doc_id long, source string, text string")
    missing = str(tmp_path / "no_ledger")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        getattr(jobs, probe)(spark, missing, docs)


def test_dsir_probe_of_unstamped_ledger_names_the_directory(spark, tmp_path):
    """Counts without their target stamp cannot be scored: the probe
    refuses, naming the ledger directory."""
    led = str(tmp_path / "dsir_ledger")
    rows = spark.createDataFrame([(0, 1, 1, 0)], "b long, cp long, cq long, batch_id int")
    rows.write.partitionBy("batch_id").parquet(led)
    docs = spark.createDataFrame([(1, "a", "x y z")], "doc_id long, source string, text string")
    with pytest.raises(ValueError, match=f"DSIR ledger at {led} has no _target.json"):
        dsir_from_ledger(spark, led, docs)
