"""Persisted IVF index: build/probe parity, PARTITION PRUNING in the
probe plan, and measured recall. The pruning assertion is the point —
the 100 TB claim is that a probe reads only its lists' directories,
and that is a property of the plan, not of the result."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from chess_pipeline_spark.ann_index import build_ivf_index, probe_ivf_index
from chess_pipeline_spark.sources import load_table

_N_LISTS = 8
_K = 5


def _load(spark, sf_dir):
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], X[order]


def _assign(X, ids, seeds_X):
    # nearest seed by cosine, rounded at 1e-9, ties to lowest list id
    sn = seeds_X / np.linalg.norm(seeds_X, axis=1, keepdims=True)
    xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = np.floor(xn @ sn.T * 1e9 + 0.5) / 1e9
    # argmax with lowest-index tie-break = argmax on (cos, -list)
    return np.array(
        [max(range(len(seeds_X)), key=lambda j: (cos[i, j], -j)) + 1
         for i in range(len(X))]
    )


def test_ivf_index_build_probe_parity_and_pruning(spark, sf_dir, tmp_path):
    corpus = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "ivf")
    build_ivf_index(corpus, idx, n_lists=_N_LISTS)

    # ground truth in numpy from the same deterministic seed rule
    ids, X = _load(spark, sf_dir)
    seeds_X = X[:_N_LISTS]  # lowest-id vectors, in id order
    lists = _assign(X, ids, seeds_X)

    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    probe = probe_ivf_index(spark, idx, queries, k=_K, nprobe=1, id_col="qid")

    # (1) the probe scan must prune partitions on list_id
    explain = probe._jdf.queryExecution().toString()
    assert "list_id" in explain
    # the parquet scan node carries PartitionFilters including list_id
    scan_lines = [
        ln
        for ln in explain.splitlines()
        if "PartitionFilters" in ln
    ]
    assert scan_lines, "no PartitionFilters in probe plan"
    # Spark injects DYNAMIC partition pruning from the broadcast probe
    # side: list_id IN (subquery of probed lists) — directories for
    # non-probed lists are skipped at runtime, which is the entire
    # IVF-at-scale claim
    assert any(
        "list_id" in ln and "dynamicpruning" in ln for ln in scan_lines
    ), scan_lines

    # (2) results equal numpy brute force restricted to the probed list
    got = probe.collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.rank, r.neighbor_id, r.cos_sim))
    xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    id_to_i = {v: i for i, v in enumerate(ids)}
    for qid in [r["qid"] for r in queries.select("qid").collect()]:
        qi = id_to_i[qid]
        probe_list = lists[qi]
        cand = [
            i for i in range(len(ids))
            if lists[i] == probe_list and ids[i] != qid
        ]
        cos = np.floor((xn[cand] @ xn[qi]) * 1e6 + 0.5) / 1e6
        expect = sorted(
            zip(cos, [ids[i] for i in cand]), key=lambda t: (-t[0], t[1])
        )[:_K]
        got_q = sorted(by_q.get(qid, []))
        assert len(got_q) == len(expect)
        for (rank, nid, cs), (ecs, eid) in zip(got_q, expect):
            assert (nid, round(cs, 6)) == (eid, round(float(ecs), 6)), (qid, rank)

    # (3) recall vs GLOBAL brute force: nprobe=2 must not be worse
    # than nprobe=1, and nprobe=1 must find something
    def recall(nprobe):
        pr = probe_ivf_index(
            spark, idx, queries, k=_K, nprobe=nprobe, id_col="qid"
        ).collect()
        found = {}
        for r in pr:
            found.setdefault(r.qid, set()).add(r.neighbor_id)
        hits = tot = 0
        for qid in found:
            qi = id_to_i[qid]
            cos = np.floor((xn @ xn[qi]) * 1e6 + 0.5) / 1e6
            cos[qi] = -2
            true = set(
                ids[i]
                for i in sorted(
                    range(len(ids)), key=lambda i: (-cos[i], ids[i])
                )[:_K]
            )
            hits += len(true & found[qid])
            tot += _K
        return hits / tot

    r1, r2 = recall(1), recall(2)
    assert 0 < r1 <= r2 <= 1.0


def test_ivf_lloyd_refinement(spark, sf_dir, tmp_path):
    # refined build: assignments must match numpy recomputed from the
    # PERSISTED centroids (no FP drift possible — same values), at
    # least one centroid must have moved off its seed, and the probe
    # still dynamic-prunes
    corpus = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "ivf_lloyd")
    build_ivf_index(corpus, idx, n_lists=_N_LISTS, lloyd_iterations=2)

    cents = {
        r.list_id: np.array(r.centroid, dtype=np.float64)
        for r in spark.read.parquet(f"{idx}/centroids").collect()
    }
    ids, X = _load(spark, sf_dir)
    moved = sum(
        1
        for j in range(_N_LISTS)
        if not np.allclose(cents[j + 1], X[j], atol=1e-7)
    )
    assert moved > 0, "no centroid moved; Lloyd iterations were a no-op"

    got = {
        r.vec_id: r.list_id
        for r in spark.read.parquet(f"{idx}/lists").collect()
    }
    C = np.array([cents[j + 1] for j in range(_N_LISTS)])
    cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = np.floor(xn @ cn.T * 1e9 + 0.5) / 1e9
    for i, v in enumerate(ids):
        expect = max(range(_N_LISTS), key=lambda j: (cos[i, j], -j)) + 1
        assert got[v] == expect, v

    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    probe = probe_ivf_index(spark, idx, queries, k=_K, nprobe=1, id_col="qid")
    explain = probe._jdf.queryExecution().toString()
    assert any(
        "list_id" in ln and "dynamicpruning" in ln
        for ln in explain.splitlines()
        if "PartitionFilters" in ln
    )
    assert probe.count() > 0


def test_ivf_coded_probe_matches_exact_within_quantization(spark, sf_dir, tmp_path):
    """int8-coded probes: (1) the float embedding column is absent
    from the coded scan (the 4x memory win is real, not aspirational),
    (2) recall@5 vs the exact probe >= 0.8 on the same probed lists,
    (3) per-pair cosine reconstruction error < 0.02."""
    import pyspark.sql.functions as F

    from chess_pipeline_spark.ann_index import build_ivf_index, probe_ivf_index
    from chess_pipeline_spark.sources import load_table

    idx = str(tmp_path / "ivf_coded")
    corpus = load_table(spark, sf_dir, "embeddings")
    build_ivf_index(corpus, idx, n_lists=8)
    queries = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = probe_ivf_index(spark, idx, queries, k=5, nprobe=2)
    coded = probe_ivf_index(spark, idx, queries, k=5, nprobe=2, coded=True)

    # (1) coded plan never reads the float embedding from the lists
    explain = coded._jdf.queryExecution().toString()
    reads = [ln for ln in explain.splitlines() if "ReadSchema" in ln]
    list_reads = [ln for ln in reads if "code" in ln]
    assert list_reads and all("embedding" not in ln for ln in list_reads)

    e = {(r.qid, r.neighbor_id): r.cos_sim for r in exact.collect()}
    c = {(r.qid, r.neighbor_id): r.cos_sim for r in coded.collect()}
    # (2) recall of the exact top-5 sets under coded scoring
    from collections import defaultdict

    e_top, c_top = defaultdict(set), defaultdict(set)
    for (q, n) in e:
        e_top[q].add(n)
    for (q, n) in c:
        c_top[q].add(n)
    recalls = [
        len(e_top[q] & c_top[q]) / len(e_top[q]) for q in e_top
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls
    # (3) where both scored the same pair, cosines agree closely
    both = set(e) & set(c)
    assert both
    for pair in both:
        assert abs(e[pair] - c[pair]) < 0.02, (pair, e[pair], c[pair])

    # (4) the persisted codes are genuinely 1 byte/dim: array<tinyint>
    from pyspark.sql.types import ByteType

    lists = spark.read.parquet(idx + "/lists")
    assert isinstance(lists.schema["code"].dataType.elementType, ByteType)


def test_ivf_coded_probe_layout_guards(spark, sf_dir, tmp_path):
    """coded=True against an unstamped index refuses at the format
    gate, and against a stamped index without a 'code' column raises a
    clear ValueError (not an opaque AnalysisException)."""
    import pyspark.sql.functions as F
    import pytest

    from chess_pipeline_spark.ann_index import build_ivf_index, probe_ivf_index
    from chess_pipeline_spark.sources import load_table

    idx = str(tmp_path / "ivf_guard")
    corpus = load_table(spark, sf_dir, "embeddings")
    build_ivf_index(corpus, idx, n_lists=4)
    queries = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding"
    )

    # a hand-built UNSTAMPED directory refuses at the format gate
    # (r12: the stamp guard fires before any layout inspection)
    lists = spark.read.parquet(idx + "/lists")
    legacy_dir = str(tmp_path / "ivf_precode")
    lists.drop("code").write.partitionBy("list_id").parquet(legacy_dir + "/lists")
    spark.read.parquet(idx + "/centroids").write.parquet(legacy_dir + "/centroids")
    with pytest.raises(ValueError, match="format stamping"):
        probe_ivf_index(spark, legacy_dir, queries, k=3, coded=True)

    # stamped but code-stripped -> the original layout guard still
    # produces its clear error (not an opaque AnalysisException)
    import shutil

    shutil.copy(idx + "/_format.json", legacy_dir + "/_format.json")
    with pytest.raises(ValueError, match="no 'code' column"):
        probe_ivf_index(spark, legacy_dir, queries, k=3, coded=True)


def test_ivfadc_probe_codes_only_and_matches_numpy(spark, sf_dir, tmp_path):
    """IVFADC probe: (1) the lists scan reads ONLY (vec_id, list_id,
    pq_code) — no float embedding, no int8 affine codes; (2) dynamic
    partition pruning on list_id survives; (3) adc_micro values match
    a numpy re-implementation of the same codebook/table math within
    2 micro-units, and the returned top-5 is the numpy top-5 wherever
    the k-boundary isn't a near-tie."""
    import os

    import numpy as np
    import pandas as pd
    import pyspark.sql.functions as F

    from chess_pipeline_spark.ann_index import (
        _PQ_M,
        build_ivf_index,
        probe_ivf_adc,
    )
    from chess_pipeline_spark.sources import load_table

    idx = str(tmp_path / "ivfadc")
    corpus = load_table(spark, sf_dir, "embeddings")
    build_ivf_index(corpus, idx, n_lists=8)
    queries = corpus.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = probe_ivf_adc(spark, idx, queries, k=5, nprobe=2)

    explain = out._jdf.queryExecution().toString()
    reads = [ln for ln in explain.splitlines() if "ReadSchema" in ln]
    list_reads = [ln for ln in reads if "pq_code" in ln]
    assert list_reads
    for ln in list_reads:
        assert "embedding" not in ln and "q_mn" not in ln, ln
    assert any(
        "list_id" in ln and "dynamicpruning" in ln
        for ln in explain.splitlines()
        if "PartitionFilters" in ln
    )

    got = out.toPandas()
    assert len(got) > 0

    # numpy ground truth over the probed candidates
    lists = pd.read_parquet(idx + "/lists")
    cb = pd.read_parquet(idx + "/pq_codebook").sort_values("cid")
    C = np.stack(cb["c"].to_numpy()).astype(np.float64)
    emb = pd.read_parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).set_index("vec_id")
    dim = C.shape[1]
    sub = dim // _PQ_M
    for (qid, nid, adc_micro) in got[["qid", "neighbor_id", "adc_micro"]].itertuples(
        index=False, name=None
    ):
        qv = np.asarray(emb.loc[qid, "embedding"], dtype=np.float64)
        code = np.asarray(
            lists.loc[lists.vec_id == nid, "pq_code"].iloc[0], dtype=np.int64
        )
        total = 0
        for j in range(_PQ_M):
            cvec = C[code[j] - 1, j * sub : (j + 1) * sub]
            d = float(((qv[j * sub : (j + 1) * sub] - cvec) ** 2).sum())
            d9 = np.floor(d * 1e9 + 0.5) / 1e9
            total += int(np.floor(d9 * 1e6 + 0.5))
        assert abs(total - adc_micro) <= 2, (qid, nid, total, adc_micro)


def test_ivfadc_probe_short_codebook(spark, sf_dir, tmp_path):
    """A corpus smaller than _PQ_K yields a SHORT codebook; the flat
    ADC table stride must follow the persisted codebook's cardinality,
    not the constant — with the old hardcoded stride, element_at
    indexed past the table, adc_micro went NULL, and NULLs sorted
    first, silently corrupting the top-k (r6 advice). Pin: every
    adc_micro is non-null and matches numpy on the short codebook."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.functions as F

    from chess_pipeline_spark.ann_index import (
        _PQ_M,
        build_ivf_index,
        probe_ivf_adc,
    )
    from chess_pipeline_spark.sources import load_table

    idx = str(tmp_path / "ivfadc_short")
    corpus = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 12
    )
    build_ivf_index(corpus, idx, n_lists=3)
    cb = pd.read_parquet(idx + "/pq_codebook").sort_values("cid")
    assert len(cb) == 12  # genuinely short — the scenario under test

    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    got = probe_ivf_adc(spark, idx, queries, k=4, nprobe=2).toPandas()
    assert len(got) > 0
    assert got["adc_micro"].notna().all(), "short codebook produced NULL ADC"

    C = np.stack(cb["c"].to_numpy()).astype(np.float64)
    lists = pd.read_parquet(idx + "/lists")
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in corpus.collect()
    }
    dim = C.shape[1]
    sub = dim // _PQ_M
    for (qid, nid, adc_micro) in got[["qid", "neighbor_id", "adc_micro"]].itertuples(
        index=False, name=None
    ):
        qv = emb[qid]
        code = np.asarray(
            lists.loc[lists.vec_id == nid, "pq_code"].iloc[0], dtype=np.int64
        )
        total = 0
        for j in range(_PQ_M):
            cvec = C[code[j] - 1, j * sub : (j + 1) * sub]
            d = float(((qv[j * sub : (j + 1) * sub] - cvec) ** 2).sum())
            d9 = np.floor(d * 1e9 + 0.5) / 1e9
            total += int(np.floor(d9 * 1e6 + 0.5))
        assert abs(total - adc_micro) <= 2, (qid, nid, total, adc_micro)


def test_stream_ingest_ivf_and_compaction(spark, sf_dir, tmp_path):
    """Incremental index maintenance: build on the first half of the
    corpus, stream-ingest the second half in two micro-batches, and
    the probe over base+delta must EQUAL the probe over an index
    built on the full corpus in one shot (the coarse seeds and PQ
    codebook are the lowest-id vectors, which live in the first half,
    so assignments and codes are identical by construction). Then:
    replaying an ingest batch is a no-op (partition overwrite), and
    compaction folds the delta into the base without changing any
    probe result."""
    import os
    import time

    import pandas as pd
    import pyspark.sql.functions as F

    from chess_pipeline_spark.ann_index import (
        build_ivf_index,
        compact_ivf_index,
        probe_ivf_adc,
        probe_ivf_index,
        stream_ingest_ivf,
    )
    from chess_pipeline_spark.sinks import upsert_partition_overwrite
    from chess_pipeline_spark.sources import load_table

    corpus = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mid = corpus.agg(F.expr("percentile(vec_id, 0.5)")).first()[0]

    full_idx = str(tmp_path / "ivf_full")
    build_ivf_index(corpus, full_idx, n_lists=8)
    inc_idx = str(tmp_path / "ivf_inc")
    build_ivf_index(corpus.filter(F.col("vec_id") <= mid), inc_idx, n_lists=8)

    # second half arrives as two files -> two micro-batches
    src = tmp_path / "arrivals"
    src.mkdir()
    rest = corpus.filter(F.col("vec_id") > mid)
    q3 = rest.agg(F.expr("percentile(vec_id, 0.5)")).first()[0]
    rest.filter(F.col("vec_id") <= q3).toPandas().to_parquet(str(src / "b0.parquet"))
    rest.filter(F.col("vec_id") > q3).toPandas().to_parquet(str(src / "b1.parquet"))
    now = time.time()
    os.utime(src / "b0.parquet", (now - 60, now - 60))
    os.utime(src / "b1.parquet", (now, now))

    schema = spark.read.parquet(str(src / "b0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        stream_ingest_ivf(stream, inc_idx)
        .option("checkpointLocation", str(tmp_path / "ckpt_ivf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    queries = corpus.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), "embedding"
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    for probe, kw in ((probe_ivf_index, {"nprobe": 2}), (probe_ivf_adc, {"nprobe": 2})):
        got = rows(probe(spark, inc_idx, queries, k=5, **kw))
        want = rows(probe(spark, full_idx, queries, k=5, **kw))
        assert got == want, probe.__name__

    # replay idempotency: rewriting ingest batch 0's partitions with
    # the same rows leaves the delta unchanged
    delta = str(tmp_path / "ivf_inc" / "lists_delta")
    before = rows(spark.read.parquet(delta))
    b0 = spark.read.parquet(delta).filter(F.col("ingest_batch") == 0)
    upsert_partition_overwrite(b0, delta, ["list_id", "ingest_batch"])
    assert rows(spark.read.parquet(delta)) == before

    # compaction: delta folds into base, results identical, delta gone
    compact_ivf_index(spark, inc_idx)
    assert not os.path.exists(delta)
    for probe, kw in ((probe_ivf_index, {"nprobe": 2}), (probe_ivf_adc, {"nprobe": 2})):
        got = rows(probe(spark, inc_idx, queries, k=5, **kw))
        want = rows(probe(spark, full_idx, queries, k=5, **kw))
        assert got == want, probe.__name__


def test_compaction_idempotent_after_crash_window(spark, sf_dir, tmp_path):
    """The r8 ADVICE crash window: a compaction that dies between
    renaming the merged base into place and removing lists_delta
    leaves the delta both folded AND on disk. Reproduce that end
    state (compact, then restore the delta files), and assert:
    (a) _read_lists does NOT double-read the folded rows — the
    _folded_batches.json marker excludes them; (b) a second
    compact_ivf_index run removes the stale delta WITHOUT merging it
    again, so the base is byte-identical in row content."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from chess_pipeline_spark.ann_index import (
        _read_lists,
        build_ivf_index,
        compact_ivf_index,
        ingest_ivf_batch,
    )
    from chess_pipeline_spark.sources import load_table

    corpus = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mid = corpus.agg(F.expr("percentile(vec_id, 0.5)")).first()[0]
    idx = str(tmp_path / "ivf")
    build_ivf_index(corpus.filter(F.col("vec_id") <= mid), idx, n_lists=8)
    ingest_ivf_batch(corpus.filter(F.col("vec_id") > mid), 7, idx)

    delta = os.path.join(idx, "lists_delta")
    delta_copy = str(tmp_path / "delta_copy")
    shutil.copytree(delta, delta_copy)

    def rows(df):
        return sorted(map(tuple, df.select("vec_id", "list_id").collect()))

    want = rows(_read_lists(spark, idx))
    compact_ivf_index(spark, idx)
    base_rows = rows(spark.read.parquet(os.path.join(idx, "lists")))
    assert base_rows == want

    # crash end-state: folded base + stale delta back on disk
    shutil.copytree(delta_copy, delta)
    assert rows(_read_lists(spark, idx)) == want  # (a) no double-read

    compact_ivf_index(spark, idx)  # (b) re-compaction is idempotent
    assert not os.path.exists(delta)
    assert rows(spark.read.parquet(os.path.join(idx, "lists"))) == want

    # and a genuinely NEW batch after the recovery still folds in
    ingest_ivf_batch(corpus.filter(F.col("vec_id") <= 3), 8, idx)
    compact_ivf_index(spark, idx)
    n_new = corpus.filter(F.col("vec_id") <= 3).count()
    assert len(rows(spark.read.parquet(os.path.join(idx, "lists")))) == len(want) + n_new

    # the r9 ADVICE silent-loss guard: re-ingesting under an
    # already-folded batch id (a stream restarted with a fresh/deleted
    # checkpoint restarts foreachBatch at 0, or here a reuse of id 7)
    # must raise instead of writing rows that probes + the next
    # compaction would invisibly drop
    import pytest

    with pytest.raises(ValueError, match="already folded"):
        ingest_ivf_batch(corpus.filter(F.col("vec_id") <= 3), 7, idx)
    # nothing was written: no delta directory reappeared
    assert not os.path.exists(delta)


def test_ivf_index_format_stamp_enforced(spark, sf_dir, tmp_path):
    """r12: the persisted IVFADC index carries its code-geometry
    format; a stamped mismatch refuses at probe AND ingest instead of
    decoding bytes under the wrong geometry, and a rebuild re-stamps."""
    import json

    import pyspark.sql.functions as F
    import pytest

    from chess_pipeline_spark.ann_index import (
        _IVF_FORMAT,
        build_ivf_index,
        ingest_ivf_batch,
        probe_ivf_index,
    )
    from chess_pipeline_spark.sources import load_table

    idx = str(tmp_path / "ivf_fmt")
    corpus = load_table(spark, sf_dir, "embeddings")
    build_ivf_index(corpus.filter(F.col("vec_id") >= 10), idx, n_lists=4)
    stamp = json.loads((tmp_path / "ivf_fmt" / "_format.json").read_text())
    assert stamp["format"] == _IVF_FORMAT

    queries = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    (tmp_path / "ivf_fmt" / "_format.json").write_text(
        json.dumps({"format": "ivfadc-pq4x16-float-grid1e6"})
    )
    with pytest.raises(ValueError, match="format"):
        probe_ivf_index(spark, idx, queries, k=2, coded=True)
    with pytest.raises(ValueError, match="format"):
        ingest_ivf_batch(corpus.filter(F.col("vec_id") < 10), 1, idx)

    # a rebuild is the documented remedy: it re-stamps and probes work
    build_ivf_index(corpus.filter(F.col("vec_id") >= 10), idx, n_lists=4)
    assert probe_ivf_index(spark, idx, queries, k=2, coded=True).count() > 0


def test_ragged_embedding_refused_at_encode_and_adc_probe(spark, tmp_path):
    """r12 ADVICE: the index-fold PQ kernel reads
    element_at(embedding, i) positionally, so a short/ragged vector
    is an out-of-bounds read — NULL under non-ANSI semantics, which
    would silently change argmin/code assignment (the old zip_with
    form merely truncated). Both the encode path (build + stream
    ingest share _encode_rows) and the ADC probe must refuse such a
    row loudly instead."""
    import pytest

    from chess_pipeline_spark.ann_index import build_ivf_index, probe_ivf_adc

    dim = 16
    good = spark.createDataFrame(
        [(i, [float(i + j) for j in range(dim)]) for i in range(1, 41)],
        "vec_id long, embedding array<float>",
    )
    idx = str(tmp_path / "ivf")
    build_ivf_index(good, idx, n_lists=2)

    # ragged corpus: one 15-dim row among 16-dim rows
    ragged = good.union(
        spark.createDataFrame(
            [(99, [1.0] * (dim - 1))], "vec_id long, embedding array<float>"
        )
    )
    with pytest.raises(Exception, match="fixed\\s+dimension"):
        build_ivf_index(ragged, str(tmp_path / "ivf_bad"), n_lists=2)

    # ragged probe vector against a healthy index
    bad_q = spark.createDataFrame(
        [(7, [1.0] * (dim + 3))], "qid long, embedding array<float>"
    )
    with pytest.raises(Exception, match="fixed\\s+dimension"):
        probe_ivf_adc(spark, idx, bad_q, k=3).collect()

    # and a well-formed probe still works on the same index
    ok_q = spark.createDataFrame(
        [(7, [1.0] * dim)], "qid long, embedding array<float>"
    )
    assert probe_ivf_adc(spark, idx, ok_q, k=3).count() == 3


def test_meta_sidecar_crash_discipline_and_empty_corpus_guard(
    spark, sf_dir, tmp_path
):
    """r14 ADVICE fixes: (1) a truncated/corrupt _meta.json degrades
    to the derive-from-codebook fallback instead of raising
    JSONDecodeError on every probe; (2) _write_meta goes through
    tmp + os.replace (no .tmp residue, valid JSON after build);
    (3) an empty corpus refuses at build entry with a descriptive
    error, not a bare IndexError/TypeError."""
    import json
    import os

    import pytest

    from chess_pipeline_spark.ann_index import (
        _read_meta,
        build_ivf_index,
        probe_ivf_adc,
    )
    from chess_pipeline_spark.sources import load_table

    corpus = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "ivf_meta")
    build_ivf_index(corpus, idx, n_lists=_N_LISTS)

    # build leaves a valid sidecar and no tmp residue
    meta = _read_meta(idx)
    assert set(meta) == {"dim", "k_cb"} and meta["dim"] > 0
    assert not os.path.exists(os.path.join(idx, "_meta.json.tmp"))

    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    want = sorted(
        map(tuple, probe_ivf_adc(spark, idx, queries, k=3).collect())
    )

    # corrupt the sidecar mid-byte (the crash this guards against):
    # _read_meta returns {} and the probe falls back to the codebook,
    # returning identical rows
    with open(os.path.join(idx, "_meta.json"), "w") as fh:
        fh.write('{"dim": 6')  # truncated JSON
    assert _read_meta(idx) == {}
    got = sorted(
        map(tuple, probe_ivf_adc(spark, idx, queries, k=3).collect())
    )
    assert got == want

    # restore a valid sidecar through the tmp+replace writer
    from chess_pipeline_spark.ann_index import _write_meta

    _write_meta(idx, meta)
    assert json.load(open(os.path.join(idx, "_meta.json"))) == meta

    # empty corpus refuses loudly at build entry
    empty = corpus.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty"):
        build_ivf_index(empty, str(tmp_path / "ivf_empty"), n_lists=2)


def test_scan_cache_refresh_and_clear(spark, tmp_path):
    """r14 ADVICE: the scan memo's path-immutability contract gets an
    explicit escape hatch — refresh=True re-scans a rewritten path,
    clear_scan_cache() drops every entry."""
    import os

    from chess_pipeline_spark.sources import clear_scan_cache, load_table

    d = str(tmp_path / "sfx")
    os.makedirs(d)
    p = os.path.join(d, "region.parquet")
    spark.range(3).toDF("r_regionkey").write.mode("overwrite").parquet(p)
    assert load_table(spark, d, "region").count() == 3

    # rewrite the file in place: the memo (by contract) still serves
    # the stale plan; refresh=True re-scans; the cache then serves the
    # fresh entry; clear_scan_cache drops everything without error
    spark.range(5).toDF("r_regionkey").write.mode("overwrite").parquet(p)
    assert load_table(spark, d, "region", refresh=True).count() == 5
    assert load_table(spark, d, "region").count() == 5
    clear_scan_cache()
    assert load_table(spark, d, "region").count() == 5


def test_minor_fold_moves_files_and_survives_mid_fold_crash(
    spark, sf_dir, tmp_path
):
    """r14: compact_ivf_index's default fold MOVES delta files into
    the base (delta-proportional, zero Spark jobs). Laws pinned here:
    (a) a fold crashed between its first move and the folded-marker
    update leaves every row readable exactly once (os.rename keeps
    each row in exactly one of base/delta, and the batch is not yet
    anti-filtered); (b) an ingest replay of a mid-fold batch id is
    REFUSED (its rows may already be partly in the base, out of reach
    of the delta's dynamic partition overwrite); (c) a re-run finishes
    the fold; (d) rewrite=True (major compaction) yields the identical
    row multiset from the same start state."""
    import os
    import shutil

    import pytest
    import pyspark.sql.functions as F

    from chess_pipeline_spark.commit import read_folded as _read_folded
    from chess_pipeline_spark.ann_index import (
        _read_lists,
        build_ivf_index,
        compact_ivf_index,
        ingest_ivf_batch,
    )

    corpus = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mid = corpus.agg(F.expr("percentile(vec_id, 0.5)")).first()[0]

    def rows(df):
        return sorted(map(tuple, df.select("vec_id", "list_id").collect()))

    def build_and_ingest(path):
        build_ivf_index(corpus.filter(F.col("vec_id") <= mid), path, n_lists=8)
        ingest_ivf_batch(corpus.filter(F.col("vec_id") > mid), 7, path)

    idx = str(tmp_path / "ivf_minor")
    build_and_ingest(idx)
    want = rows(_read_lists(spark, idx))

    # manufacture the mid-fold crash: folding marker written, SOME
    # delta files moved (exactly what the move loop does for a strict
    # subset of list dirs), then "crash"
    from chess_pipeline_spark.commit import write_json as _write_json_atomic

    lists_p, delta_p = os.path.join(idx, "lists"), os.path.join(idx, "lists_delta")
    _write_json_atomic(os.path.join(lists_p, "_folding_batches.json"), [7])
    lids = sorted(
        e.name for e in os.scandir(delta_p) if e.name.startswith("list_id=")
    )
    moved_any = False
    for lid in lids[: max(1, len(lids) // 2)]:
        bdir = os.path.join(delta_p, lid, "ingest_batch=7")
        if not os.path.isdir(bdir):
            continue
        dest = os.path.join(lists_p, lid)
        os.makedirs(dest, exist_ok=True)
        for f in os.scandir(bdir):
            if f.is_file() and not f.name.startswith(("_", ".")):
                os.rename(f.path, os.path.join(dest, f"b7-{f.name}"))
                moved_any = True
    assert moved_any

    # (a) exactly-once through the crash window
    assert rows(_read_lists(spark, idx)) == want
    # (b) replaying the mid-fold batch id is refused
    with pytest.raises(ValueError, match="mid-fold"):
        ingest_ivf_batch(corpus.filter(F.col("vec_id") > mid), 7, idx)
    # (c) a re-run finishes the fold: delta gone, marker updated,
    # rows identical, and no in-flight marker remains
    compact_ivf_index(spark, idx)
    assert not os.path.exists(delta_p)
    assert _read_folded(lists_p) == {7}
    assert not os.path.exists(os.path.join(lists_p, "_folding_batches.json"))
    assert rows(spark.read.parquet(lists_p)) == want

    # (d) the major (rewrite) compaction from the same start state
    # produces the identical row multiset
    idx2 = str(tmp_path / "ivf_major")
    build_and_ingest(idx2)
    compact_ivf_index(spark, idx2, rewrite=True)
    assert not os.path.exists(os.path.join(idx2, "lists_delta"))
    assert rows(spark.read.parquet(os.path.join(idx2, "lists"))) == want


def test_ivf_major_rewrite_consolidates_without_a_delta(
    spark, sf_dir, tmp_path
):
    """r14: compact_ivf_index(rewrite=True) consolidates the base's
    file count even when the delta is already folded away (the state a
    run of minor folds leaves) and keeps the folded marker + probe
    results intact."""
    import os

    import pyspark.sql.functions as F
    import pytest

    from chess_pipeline_spark.commit import read_folded as _read_folded
    from chess_pipeline_spark.ann_index import (
        build_ivf_index,
        compact_ivf_index,
        ingest_ivf_batch,
        probe_ivf_adc,
    )

    corpus = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    mid = corpus.agg(F.expr("percentile(vec_id, 0.5)")).first()[0]
    idx = str(tmp_path / "ivf")
    build_ivf_index(corpus.filter(F.col("vec_id") <= mid), idx, n_lists=8)
    ingest_ivf_batch(corpus.filter(F.col("vec_id") > mid), 3, idx)
    queries = corpus.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    want = sorted(map(tuple, probe_ivf_adc(spark, idx, queries, k=5).collect()))
    compact_ivf_index(spark, idx)  # minor: delta gone, files moved
    lists_p = os.path.join(idx, "lists")

    def data_files(p):
        return sum(
            1
            for _r, _d, fs in os.walk(p)
            for f in fs
            if not f.startswith(("_", "."))
        )

    before = data_files(lists_p)
    compact_ivf_index(spark, idx, rewrite=True)  # no delta: still rewrites
    assert data_files(lists_p) <= before
    assert _read_folded(lists_p) == {3}
    with pytest.raises(ValueError, match="already folded"):
        ingest_ivf_batch(corpus.filter(F.col("vec_id") <= 3), 3, idx)
    got = sorted(map(tuple, probe_ivf_adc(spark, idx, queries, k=5).collect()))
    assert got == want


def test_ivf_pools_keep_the_callers_job_group(spark, sf_dir, tmp_path):
    """build_ivf_index and the ivf_ingest_audit catalog query run jobs
    from driver thread pools; every one of those jobs must carry the
    caller's job group, so the caller can attribute and cancel it."""
    from chess_pipeline_spark.plans.llm import ivf_ingest_audit

    corpus = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("ivf-pools", "ivf build and ingest pools")
    try:
        build_ivf_index(corpus, str(tmp_path / "ivf"), n_lists=_N_LISTS)
        ivf_ingest_audit(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert len(tracker.getJobIdsForGroup("ivf-pools")) >= 6
