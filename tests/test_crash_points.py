"""Every crash point of every persisted-table commit.

`chess_pipeline_spark.commit._rename` is the one step every directory
swap, file move and sidecar replace takes. For each family below the
test makes it raise at its k-th call, for k = 1, 2, ... until the
operation finishes without reaching k. After each crash it re-runs the
operation and asserts the read equals an uncrashed run's, and that no
`.__tmp__`/`.__bak__` sibling, sidecar tmp or in-flight marker is
left behind. For the ledger and IVF folds, whose readers fall back to
`.__bak__` or filter by the folded marker, the crashed state itself
must also read identically; where a batch is in flight or folded, a
replay of its id must raise. Inputs are tiny single-file tables, so each family's
start state is built once and copied per crash point.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from chess_pipeline_spark import commit


class _Crash(Exception):
    pass


def _residue(root: str) -> list[str]:
    found = []
    for dirpath, dirs, files in os.walk(root):
        for n in dirs + files:
            if (
                commit.TMP in n
                or commit.BAK in n
                or n == commit.FOLDING
                or n.endswith(".json.tmp")
            ):
                found.append(os.path.join(dirpath, n))
    return found


def _hook(monkeypatch, k: int | None) -> list:
    """Route commit._rename through a hook that records each step's
    destination and raises at the k-th step (never, for k=None)."""
    real = commit._rename
    calls: list = []

    def step(src, dst):
        calls.append(dst)
        if len(calls) == k:
            raise _Crash(dst)
        real(src, dst)

    monkeypatch.setattr(commit, "_rename", step)
    return calls


def _enumerate(
    monkeypatch, template: str, work: str, op, read,
    invariant=False, in_flight=None, replay=None,
) -> int:
    """Run ``op`` against a fresh copy of ``template`` at ``work``:
    once uncrashed, counting its n commit steps, then crashed at each
    k = 1..n (at k = n+1 it is the uncrashed run). Returns n.
    ``in_flight()`` says whether the crashed state holds the batch in a
    marker, in which case ``replay()`` must raise."""

    def fresh():
        shutil.rmtree(work, ignore_errors=True)
        shutil.copytree(template, work)

    fresh()
    before = read() if invariant else None
    calls = _hook(monkeypatch, None)
    op()
    monkeypatch.undo()
    n = len(calls)
    want = read()
    if invariant:
        assert want == before
    for k in range(1, n + 1):
        fresh()
        calls = _hook(monkeypatch, k)
        with pytest.raises(_Crash):
            op()
        monkeypatch.undo()
        if invariant:
            assert read() == want, f"crashed state at step {k} ({calls[-1]})"
        if in_flight is not None and in_flight():
            with pytest.raises(ValueError, match="mid-fold|already folded"):
                replay()
        op()
        assert read() == want, f"re-run after crash at step {k} ({calls[-1]})"
        assert not _residue(work), (k, _residue(work))
    return n


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _marked(table_dir: str, batch_id: int) -> bool:
    d = commit.readable(table_dir)
    return batch_id in commit.read_folding(d) | commit.read_folded(d)


def test_upsert_parquet_crash_points(spark, tmp_path, monkeypatch):
    from chess_pipeline_spark.sinks import upsert_parquet

    tpl, work = str(tmp_path / "tpl"), str(tmp_path / "work")
    upsert_parquet(
        spark.range(100).toDF("k").withColumn("v", F.lit(0)),
        os.path.join(tpl, "t"),
        keys=["k"],
    )
    batch = spark.createDataFrame([(0, 1), (100, 1)], "k long, v int")
    target = os.path.join(work, "t")
    n = _enumerate(
        monkeypatch,
        tpl,
        work,
        lambda: upsert_parquet(batch, target, keys=["k"]),
        lambda: _rows(spark.read.parquet(target)),
    )
    assert n == 2  # live → .bak, tmp → live


def test_additive_ledger_crash_points(spark, tmp_path, monkeypatch):
    from chess_pipeline_spark.streaming.jobs import (
        ADDITIVE_LEDGERS,
        ingest_dsir_delta,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, source string, text string")

    b0 = docs([(1, "a_t", "alpha beta gamma"), (2, "z_r", "beta delta")])
    b1 = docs([(3, "a_t", "gamma delta"), (4, "z_r", "alpha zeta")])
    tpl, work = str(tmp_path / "tpl"), str(tmp_path / "work")
    ingest_dsir_delta(b0, os.path.join(tpl, "led"), 0, "a_t")
    ingest_dsir_delta(b1, os.path.join(tpl, "led"), 1, "a_t")
    led = os.path.join(work, "led")
    n = _enumerate(
        monkeypatch,
        tpl,
        work,
        lambda: ADDITIVE_LEDGERS["dsir"].compact(spark, led),
        lambda: (
            _rows(
                spark.read.parquet(commit.readable(led))
                .groupBy("b")
                .agg(F.sum("cp"), F.sum("cq"))
            ),
            commit.read_json(os.path.join(commit.readable(led), "_target.json")),
        ),
        invariant=True,
        in_flight=lambda: _marked(led, 1),
        replay=lambda: ingest_dsir_delta(b0, led, 1, "a_t"),
    )
    assert n == 4  # folded + digests sidecars, then the two renames


@pytest.mark.parametrize("kind", ["dupgram", "spangram"])
def test_gram_probe_reads_through_crashed_compaction(
    spark, tmp_path, monkeypatch, kind
):
    """A compaction that crashed at its 4th step (live → `.__bak__`
    done, tmp → live not) leaves the ledger only in its .bak; the
    dup-gram and span-gram probes read it there, as the DSIR probe does,
    and return the uncrashed rows."""
    from chess_pipeline_spark.streaming import jobs

    ingest, probe = {
        "dupgram": (jobs.ingest_dupgram_delta, jobs.dup_exposure_from_ledger),
        "spangram": (jobs.ingest_spangram_delta, jobs.spans_from_ledger),
    }[kind]
    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [
            (1, "a", f"{shared} at dawn"),
            (2, "b", f"one two three four five six seven eight nine ten {shared}"),
            (3, "a", f"{shared} again today"),
            (4, "b", "eleven twelve thirteen fourteen fifteen sixteen seventeen"),
        ],
        "doc_id long, source string, text string",
    )
    led = str(tmp_path / "led")
    ingest(docs.filter("doc_id <= 2"), led, 0)
    ingest(docs.filter("doc_id > 2"), led, 1)
    want = _rows(probe(spark, led, docs))
    _hook(monkeypatch, 4)
    with pytest.raises(_Crash):
        jobs.ADDITIVE_LEDGERS[kind].compact(spark, led)
    monkeypatch.undo()
    assert not os.path.exists(led) and os.path.exists(led + commit.BAK)
    assert _rows(probe(spark, led, docs)) == want


def test_append_ledger_crash_points(spark, tmp_path, monkeypatch):
    from chess_pipeline_spark.sinks import compact_append_ledger

    tpl, work = str(tmp_path / "tpl"), str(tmp_path / "work")
    for rows in (["a", "b"], ["b", "c"]):
        spark.createDataFrame([(r,) for r in rows], "digest string").coalesce(
            1
        ).write.mode("append").parquet(os.path.join(tpl, "led"))
    led = os.path.join(work, "led")
    n = _enumerate(
        monkeypatch,
        tpl,
        work,
        lambda: compact_append_ledger(spark, led, lambda df: df.distinct()),
        lambda: _rows(spark.read.parquet(commit.readable(led)).distinct()),
        invariant=True,
    )
    assert n == 2


def test_bounded_register_ledger_crash_points(spark, tmp_path, monkeypatch):
    """The register-ledger batch shape every sketch job shares (HLL,
    Bloom, reservoir, ...): read the registers, max-merge the batch's,
    replace the ledger through bak_swap_write."""
    from chess_pipeline_spark.sinks import bak_swap_write, read_bounded_ledger

    schema = "key string, reg int, m_j int"

    def merge_batch(regs, rows):
        prior = read_bounded_ledger(spark, regs, schema)
        merged = (
            spark.createDataFrame(rows, schema)
            .unionByName(prior)
            .groupBy("key", "reg")
            .agg(F.max("m_j").alias("m_j"))
        )
        bak_swap_write(spark, merged, regs)

    tpl, work = str(tmp_path / "tpl"), str(tmp_path / "work")
    merge_batch(os.path.join(tpl, "regs"), [("view", 1, 3), ("buy", 2, 1)])
    regs = os.path.join(work, "regs")
    n = _enumerate(
        monkeypatch,
        tpl,
        work,
        lambda: merge_batch(regs, [("view", 1, 5), ("view", 4, 2)]),
        lambda: _rows(spark.read.parquet(regs)),
    )
    assert n == 2


def test_scd2_crash_points(spark, tmp_path, monkeypatch):
    from chess_pipeline_spark.streaming.jobs import scd2_process_batch

    tpl, work = str(tmp_path / "tpl"), str(tmp_path / "work")
    # the dimension batch 0 = {1: x, 2: y} leaves, written directly
    spark.createDataFrame(
        [(1, "x", 0, None, True), (2, "y", 0, None, True)],
        "k long, a string, valid_from long, valid_to long, is_current boolean",
    ).write.parquet(os.path.join(tpl, "dim"))
    snap1 = spark.createDataFrame(
        [(1, "x"), (2, "z"), (3, "w")], "k long, a string"
    )
    dim = os.path.join(work, "dim")
    n = _enumerate(
        monkeypatch,
        tpl,
        work,
        lambda: scd2_process_batch(snap1, 1, dim, ["k"], ["a"]),
        lambda: _rows(spark.read.parquet(dim)),
    )
    assert n == 2


def _ivf_template(spark, tpl: str):
    import random

    from chess_pipeline_spark.ann_index import build_ivf_index, ingest_ivf_batch

    rnd = random.Random(7)
    vecs = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    idx = os.path.join(tpl, "ivf")
    build_ivf_index(corpus.filter("vec_id < 24").coalesce(1), idx, n_lists=2)
    delta = corpus.filter("vec_id >= 24").coalesce(1)
    ingest_ivf_batch(delta, 1, idx)
    return delta


@pytest.mark.parametrize("rewrite", [False, True], ids=["minor", "major"])
def test_ivf_compaction_crash_points(spark, tmp_path, monkeypatch, rewrite):
    from chess_pipeline_spark.ann_index import (
        _read_lists,
        compact_ivf_index,
        ingest_ivf_batch,
    )

    tpl, work = str(tmp_path / "tpl"), str(tmp_path / "work")
    delta = _ivf_template(spark, tpl)
    idx = os.path.join(work, "ivf")
    n = _enumerate(
        monkeypatch,
        tpl,
        work,
        lambda: compact_ivf_index(spark, idx, rewrite=rewrite),
        lambda: _rows(_read_lists(spark, idx).select("vec_id", "list_id")),
        invariant=True,
        in_flight=lambda: _marked(os.path.join(idx, "lists"), 1),
        replay=lambda: ingest_ivf_batch(delta, 1, idx),
    )
    # minor: in-flight marker, ≥1 moved file (+ crc), folded marker;
    # major: in-flight marker, folded sidecar, two renames, folded marker
    assert n >= 4 if not rewrite else n == 5


def _bm25_content(spark, idx: str):
    """Everything probe_bm25 reads, minus the batch layout: postings,
    doc lengths, and the summed stats row."""

    def read(name):
        return spark.read.parquet(commit.readable(os.path.join(idx, name)))

    def as_json(df, *cols):
        return df.select(F.to_json(F.struct(*cols)))

    # one Spark job for all three tables
    return _rows(
        as_json(read("postings"), "term", "doc_id", "tf", "bucket")
        .union(as_json(read("doclens"), "doc_id", "len_d"))
        .union(as_json(read("stats").agg(F.sum("n_docs"), F.sum("total_len"))))
    )


@pytest.mark.parametrize("rewrite", [False, True], ids=["minor", "major"])
def test_bm25_compaction_crash_points(spark, tmp_path, monkeypatch, rewrite):
    from chess_pipeline_spark.text_index import (
        build_text_index,
        compact_text_index,
        ingest_text_delta,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)

    tpl, work = str(tmp_path / "tpl"), str(tmp_path / "work")
    # both terms hash to one bucket: one postings file per batch
    build_text_index(
        docs([(1, "pawn bishop"), (2, "pawn pawn bishop")]),
        os.path.join(tpl, "tix"),
    )
    delta = docs([(3, "bishop"), (4, "pawn")])
    ingest_text_delta(delta, os.path.join(tpl, "tix"), batch_id=1)
    idx = os.path.join(work, "tix")
    n = _enumerate(
        monkeypatch,
        tpl,
        work,
        lambda: compact_text_index(spark, idx, rewrite=rewrite),
        lambda: _bm25_content(spark, idx),
        in_flight=lambda: _marked(os.path.join(idx, "postings"), 1),
        replay=lambda: ingest_text_delta(delta, idx, batch_id=1),
    )
    # minor: in-flight marker, postings and doclens file + crc moves,
    # stats swap, folded marker; major: three table swaps instead
    assert n == 8


def test_empty_partition_dirs_are_not_batches(spark, tmp_path):
    """A partition directory with no data file — what a move fold leaves
    when it crashes after its last rename — is not a batch: the listing
    skips it, compact_text_index does not refuse it as a partial batch
    (it has no stats row), and IVF compaction and probes ignore it.
    Nor is a data file under a hidden directory (`.spark-staging-*`,
    `_temporary`: a writer killed mid-job), which Spark's reader skips:
    it is not listed, not folded, not moved and not marked, so the
    replay that heals the crashed batch is accepted."""
    from chess_pipeline_spark.ann_index import _read_lists, compact_ivf_index
    from chess_pipeline_spark.streaming.jobs import (
        ADDITIVE_LEDGERS,
        ingest_dsir_delta,
    )
    from chess_pipeline_spark.text_index import (
        build_text_index,
        compact_text_index,
        ingest_text_delta,
    )

    def ghost(*parts):
        d = os.path.join(*parts)
        os.makedirs(d)
        open(os.path.join(d, ".part-0.parquet.crc"), "w").close()

    def staged(*parts):
        d = os.path.join(*parts)
        os.makedirs(d)
        f = os.path.join(d, "part-0.parquet")
        open(f, "w").close()
        return f

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)

    tix = str(tmp_path / "tix")
    build_text_index(docs([(1, "pawn bishop"), (2, "pawn pawn")]), tix)
    ingest_text_delta(docs([(3, "bishop"), (4, "pawn")]), tix, batch_id=1)
    want = _bm25_content(spark, tix)
    ghost(tix, "postings", "batch_id=5", "bucket=3")
    ghost(tix, "doclens", "batch_id=5")
    left = [
        staged(tix, "postings", ".spark-staging-x", "batch_id=6", "bucket=3"),
        staged(tix, "doclens", ".spark-staging-x", "batch_id=6"),
        staged(tix, "doclens", "_temporary", "0", "batch_id=6"),
    ]
    postings = os.path.join(tix, "postings")
    assert commit.batch_ids(postings, "batch_id") == {0, 1}
    assert commit.batch_ids(os.path.join(tix, "doclens"), "batch_id") == {0, 1}
    compact_text_index(spark, tix)
    assert commit.read_folded(postings) == {0, 1}
    assert _bm25_content(spark, tix) == want
    assert all(os.path.exists(f) for f in left)
    ingest_text_delta(docs([(5, "rook")]), tix, batch_id=6)
    compact_text_index(spark, tix)
    assert commit.read_folded(postings) == {0, 1, 6}

    _ivf_template(spark, str(tmp_path / "tpl"))
    ivf = str(tmp_path / "tpl" / "ivf")
    delta, lists = os.path.join(ivf, "lists_delta"), os.path.join(ivf, "lists")

    def read():
        return _rows(_read_lists(spark, ivf).select("vec_id", "list_id"))

    want = read()
    ghost(delta, "list_id=1", "ingest_batch=9")
    staged(delta, ".spark-staging-x", "list_id=1", "ingest_batch=8")
    staged(delta, "_temporary", "0", "list_id=1", "ingest_batch=8")
    assert commit.batch_ids(delta, "ingest_batch") == {1}
    assert read() == want
    compact_ivf_index(spark, ivf)
    # batch 8 is neither marked nor moved into the base (the fold drops
    # the whole delta directory afterwards, leftovers included)
    assert commit.read_folded(lists) == {1}
    assert read() == want
    assert not {".spark-staging-x", "_temporary"} & set(os.listdir(lists))
    # a delta of nothing but an emptied partition
    ghost(delta, "list_id=2", "ingest_batch=9")
    assert read() == want
    compact_ivf_index(spark, ivf)
    assert commit.read_folded(lists) == {1}
    assert read() == want

    dsir = spark.createDataFrame(
        [(1, "a_t", "alpha beta"), (2, "z_r", "beta gamma")],
        "doc_id long, source string, text string",
    )
    led = str(tmp_path / "led")
    ingest_dsir_delta(dsir, led, 0, "a_t")
    ingest_dsir_delta(dsir, led, 1, "a_t")
    staged(led, ".spark-staging-x", "batch_id=2")
    assert commit.batch_ids(led, "batch_id") == {0, 1}
    ADDITIVE_LEDGERS["dsir"].compact(spark, led)
    assert commit.read_folded(led) == {0, 1}
    assert "2" not in commit.read_json(os.path.join(led, commit.DIGESTS), {})
    ingest_dsir_delta(dsir, led, 2, "a_t")
    assert commit.batch_ids(led, "batch_id") == {0, 2}


def test_unreadable_folding_marker_refuses_ingest(spark, tmp_path):
    """A damaged `_folding_batches.json` (commit never writes one torn,
    so only outside damage makes it) must make ingest raise rather than
    read as 'nothing in flight' and disarm the mid-fold replay guard."""
    from chess_pipeline_spark.ann_index import _IVF_FORMAT, ingest_ivf_batch

    idx = str(tmp_path / "ivf")
    commit.stamp(idx, _IVF_FORMAT)
    os.makedirs(os.path.join(idx, "lists"))
    with open(os.path.join(idx, "lists", commit.FOLDING), "w") as fh:
        fh.write("[1, 2")
    batch = spark.createDataFrame(
        [(1, [0.0] * 8)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="unreadable sidecar"):
        ingest_ivf_batch(batch, 3, idx)
