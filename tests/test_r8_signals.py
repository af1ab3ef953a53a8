"""r8 staged curation signals: cross-doc duplicate-n-gram fraction
(brute-force ground truth) and the per-label embedding diversity /
centroid-energy audit (closed-form laws + numpy replication)."""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from chess_pipeline_spark.plans.corpus import _DUPGRAM_N, dup_ngram_fraction
from chess_pipeline_spark.plans.llm import embedding_diversity


# ------------------------------------------------------------------
# dup_ngram_fraction vs a from-scratch pandas/python recomputation
# ------------------------------------------------------------------


def _brute_dup_fraction(docs: pd.DataFrame) -> dict[int, tuple[int, int, int]]:
    gram_sets: dict[int, set[str]] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        words = re.findall(r"[a-z]+", text.lower())
        if len(words) < _DUPGRAM_N:
            continue
        gram_sets[doc_id] = {
            " ".join(words[i : i + _DUPGRAM_N])
            for i in range(len(words) - _DUPGRAM_N + 1)
        }
    df_count: dict[str, int] = {}
    for grams in gram_sets.values():
        for g in grams:
            df_count[g] = df_count.get(g, 0) + 1
    out = {}
    for doc_id, grams in gram_sets.items():
        n = len(grams)
        dup = sum(1 for g in grams if df_count[g] >= 2)
        out[doc_id] = (n, dup, dup * 10000 // n)
    return out


def test_dup_ngram_fraction_matches_brute_force(spark, sf_dir):
    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    expected = _brute_dup_fraction(docs)
    got = {
        r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_bp"])
        for r in dup_ngram_fraction(spark, sf_dir).collect()
    }
    assert got == expected


def test_dup_ngram_fraction_bounds(spark, sf_dir):
    for r in dup_ngram_fraction(spark, sf_dir).collect():
        assert 0 <= r["n_dup_grams"] <= r["n_grams"]
        assert 0 <= r["dup_bp"] <= 10000


def test_dup_ngram_digest_path_equals_text_path(spark, sf_dir):
    """r9 shuffle-width law: the production query folds grams to
    xxhash64 digests before the df groupBy + join-back (the streaming
    ledger's key, ~5x narrower corpus shuffle). Pin it byte-for-byte
    against the pre-fold TEXT-keyed plan on the fixture corpus —
    digest collisions are the only way the two can diverge, and none
    may exist at test scale."""
    import pyspark.sql.functions as F

    from chess_pipeline_spark.plans.corpus import (
        exposure_fold,
        word_gram_postings,
    )
    from chess_pipeline_spark.sources import load_table, spread

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    grams = word_gram_postings(d)
    dfreq = grams.groupBy("g").agg(F.count("*").cast("long").alias("df"))
    text_path = [
        tuple(r) for r in exposure_fold(grams.join(dfreq, "g")).collect()
    ]
    digest_path = [tuple(r) for r in dup_ngram_fraction(spark, sf_dir).collect()]
    assert digest_path == text_path


# ------------------------------------------------------------------
# embedding_diversity closed-form laws + numpy replication
# ------------------------------------------------------------------


def _diversity_rows(spark, rows):
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    import tempfile

    tmp = tempfile.mkdtemp(prefix="divfix")
    df.write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
    return {
        r["label"]: (r["n_vecs"], r["centroid_energy_bp"])
        for r in embedding_diversity(spark, tmp).collect()
    }


def test_diversity_identical_vectors_is_10000(spark):
    # total mode collapse: every vector identical → centroid carries
    # ALL the energy → exactly 10000 bp
    v = [0.25, -0.5, 0.125, 1.0]
    rows = [(i, v, 0) for i in range(7)]
    got = _diversity_rows(spark, rows)
    assert got == {0: (7, 10000)}


def test_diversity_one_hot_orthogonal_is_10000_over_n(spark):
    # n mutually orthogonal equal-norm vectors → mean pairwise dot is
    # 1/n of the self dot (only the self-pairs contribute) → exactly
    # floor(10000 / n)
    for n in (2, 4, 5, 8):
        rows = []
        for i in range(n):
            v = [0.0] * n
            v[i] = 1.0
            rows.append((i, v, 0))
        got = _diversity_rows(spark, rows)
        assert got == {0: (n, 10000 // n)}, (n, got)


def test_diversity_numpy_replication_on_real_table(spark, sf_dir):
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    expected = {}
    for label, grp in emb.groupby("label"):
        mat = np.stack(grp["embedding"].to_numpy())
        q = np.floor(mat.astype(np.float64) * 1e6 + 0.5).astype(object)
        s = q.sum(axis=0)  # per-dim integer sums (python ints: no overflow)
        n = len(grp)
        s2 = sum(int(x) * int(x) for x in s)
        t2 = int(sum(int(x) * int(x) for x in q.ravel()))
        expected[int(label)] = (n, (s2 * 10000) // (n * t2))
    got = {
        r["label"]: (r["n_vecs"], r["centroid_energy_bp"])
        for r in embedding_diversity(spark, sf_dir).collect()
    }
    assert got == expected


def test_diversity_permutation_invariant(spark):
    # order-independence: shuffling row order cannot change the
    # integer sums (the AQE-scale determinism claim)
    rows = [
        (i, [math.sin(i * 1.7 + d) for d in range(6)], i % 2)
        for i in range(20)
    ]
    a = _diversity_rows(spark, rows)
    b = _diversity_rows(spark, list(reversed(rows)))
    assert a == b


# ------------------------------------------------------------------
# streaming dup-gram ledger == batch query, replay included
# ------------------------------------------------------------------


def _rows(df):
    return sorted(map(tuple, (tuple(r) for r in df.collect())))


def test_dupgram_ledger_stream_equals_batch(spark, sf_dir, tmp_path):
    """Two-micro-batch file-source stream: exposure served from the
    ledger must equal the batch dup_ngram_fraction byte-for-byte;
    replaying a batch (at-least-once delivery) rewrites identical
    bytes and changes nothing."""
    import os
    import time

    import pyspark.sql.functions as F

    from chess_pipeline_spark.sources.tables import load_table
    from chess_pipeline_spark.streaming.jobs import (
        dup_exposure_from_ledger,
        ingest_dupgram_delta,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = tmp_path / "doc_arrivals"
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
    led = str(tmp_path / "dupgram_ledger")
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: ingest_dupgram_delta(b, led, i)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = _rows(dup_exposure_from_ledger(spark, led, docs))
    want = _rows(dup_ngram_fraction(spark, sf_dir))
    assert got == want

    # at-least-once replay: re-ingesting batch 1 rewrites its own
    # partition with identical bytes — the served exposure is stable
    ingest_dupgram_delta(hi, led, 1)
    assert _rows(dup_exposure_from_ledger(spark, led, docs)) == want


def test_dupgram_ledger_compaction_probe_invariant(spark, sf_dir, tmp_path):
    """r9 maintenance parity (the text-index/IVF discipline applied to
    the dup-gram ledger): folding the per-batch df partitions into
    batch 0 is probe-invariant (the probe sums across batches anyway),
    a replayed compaction is a no-op, a mid-swap crash recovers from
    the .bak, an identical-content replay of a folded id no-ops via
    the digest guard (the legitimate at-least-once shape), and a
    DIFFERENT frame under a folded id raises — df addition is not
    idempotent, so genuine id reuse would double-count."""
    import os

    import pyspark.sql.functions as F
    import pytest

    from chess_pipeline_spark.sources.tables import load_table
    from chess_pipeline_spark.streaming.jobs import (
        ADDITIVE_LEDGERS,
        dup_exposure_from_ledger,
        ingest_dupgram_delta,
    )

    ledger = ADDITIVE_LEDGERS["dupgram"]

    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    lo = docs.filter(F.col("doc_id") <= mid)
    hi = docs.filter(F.col("doc_id") > mid)
    led = str(tmp_path / "ledger")
    ingest_dupgram_delta(lo, led, 0)
    ingest_dupgram_delta(hi, led, 1)

    def batch_dirs():
        return sorted(d for d in os.listdir(led) if d.startswith("batch_id="))

    def probe():
        return sorted(
            map(tuple, dup_exposure_from_ledger(spark, led, docs).collect())
        )

    assert batch_dirs() == ["batch_id=0", "batch_id=1"]
    want = probe()

    ledger.compact(spark, led)
    assert batch_dirs() == ["batch_id=0"]
    assert probe() == want  # probe-invariant fold

    ledger.compact(spark, led)  # replayed compaction: no-op
    assert probe() == want

    # mid-swap crash: ledger renamed to .bak, tmp never landed
    os.rename(led, f"{led}.__bak__")
    ledger.compact(spark, led)
    assert os.path.exists(led) and not os.path.exists(f"{led}.__bak__")
    assert probe() == want

    # identical-content replay of a folded id no-ops (warns): the
    # batch committed to the ledger, the fold took it, the stream
    # replayed it — skipping is the only non-wedging correct move
    with pytest.warns(UserWarning, match="identical content"):
        ingest_dupgram_delta(hi, led, 1)
    assert batch_dirs() == ["batch_id=0"]
    assert probe() == want
    # a DIFFERENT frame under a folded id is genuine reuse: raise
    with pytest.raises(ValueError, match="already folded"):
        ingest_dupgram_delta(lo, led, 1)
    assert probe() == want

    # a genuinely new batch still ingests and folds
    extra = hi.limit(3).withColumn("doc_id", F.col("doc_id") + 1000000)
    ingest_dupgram_delta(extra, led, 2)
    ledger.compact(spark, led)
    assert batch_dirs() == ["batch_id=0"]
    total_df = (
        spark.read.parquet(led).agg(F.sum("df")).first()[0]
    )
    assert total_df is not None and total_df > 0


def test_dup_exposure_hot_cold_split_equals_plain_join(spark):
    """r9 skew-structure law: dup_ngram_fraction's hot/cold split
    (broadcast join for grams whose df >= threshold, shuffle join for
    the rest) must be byte-identical to the plain single-join plan on
    a corpus WITH a hot gram, and the hot branch must actually carry
    the hot postings (not fall through to the shuffle side)."""
    import pyspark.sql.functions as F

    from chess_pipeline_spark.plans.corpus import (
        dup_exposure_skew_safe,
        exposure_fold,
        word_gram_postings,
    )

    # 40 docs share one boilerplate sentence (hot gram family, df=40);
    # every doc adds unique grams (df=1)
    rows = []
    for i in range(40):
        rows.append(
            (
                i,
                "s",
                "subscribe to our newsletter for updates "
                + f"alpha{i} bravo{i} charlie{i} delta{i} echo{i}",
            )
        )
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    grams = word_gram_postings(docs).select(
        "doc_id", "source", F.xxhash64("g").alias("gd")
    )
    dfreq = grams.groupBy("gd").agg(F.count("*").cast("long").alias("df"))
    plain = [tuple(r) for r in exposure_fold(grams.join(dfreq, "gd")).collect()]

    split = dup_exposure_skew_safe(grams, hot_df=10)
    assert [tuple(r) for r in split.collect()] == plain
    # the hot branch really carries the boilerplate grams: every doc
    # has dup grams, and the hot df set is non-empty at threshold 10
    n_hot = dfreq.filter(F.col("df") >= 10).count()
    assert n_hot >= 1
    assert all(r[3] > 0 for r in plain)  # n_dup_grams column
    # threshold above every df degenerates to the plain join exactly
    degen = dup_exposure_skew_safe(grams, hot_df=10**9)
    assert [tuple(r) for r in degen.collect()] == plain


def test_dup_ngram_plan_reuses_dfreq_and_broadcasts_hot(spark, sf_dir):
    """Plan gates for the hot/cold structure: at RUNTIME (AQE does
    exchange reuse per stage, so only the final adaptive plan shows
    it) the df exchange is computed once and REUSED across the
    hot/cold branches — the tokenize+count pass does not triple — the
    hot branch is a broadcast join (scan-stage, no shuffle for hot
    postings), and no cartesian appears."""
    from chess_pipeline_spark.plans import catalog

    df = catalog()["dup_ngram_fraction"].spark(spark, sf_dir)
    df.rdd.count()  # executes THIS frame's QueryExecution (AQE final)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    final = plan.split("Initial Plan")[0]
    assert "isFinalPlan=true" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in final
    # the df exchange is reused, not recomputed (at fixture scale AQE
    # additionally prunes the EMPTY hot branch via
    # PropagateEmptyRelation, so only one reuse survives)
    assert final.count("ReusedExchange") >= 1, final
    # the postings spill is read from the checkpoint, not re-tokenized
    assert "ExistingRDD" in final, final
