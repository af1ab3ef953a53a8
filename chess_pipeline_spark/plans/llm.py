"""Training-data-pipeline operators over documents / embeddings.

These extend the reference's surface with the operators a 100 TB
text/embedding pipeline needs (BASELINE north star): exact + near
dedup, MinHash signatures, similarity search, language ID, quality
stats, token counting, fingerprinting. All are expressed as
declarative plans (higher-order array functions stay JVM-side; no
Python UDFs in any hot path) with DuckDB oracles.

Scale notes (100 TB design):
- exact dedup: hash-groupBy on md5 — one shuffle on the digest,
  map-side partial agg;
- near-dup: *blocked* self-join (here: the `source` column ≙ an LSH
  band / shard key) so the pair space never goes quadratic in the
  corpus, only within blocks;
- MinHash: per-row projection only — embarrassingly parallel;
- k-NN brute force: broadcast the (small) query set, one pass over
  the corpus, per-partition top-k before the final k·|Q| merge.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from chess_pipeline_spark.functions.rounding import fround, grid_cents
from chess_pipeline_spark.plans.spec import QuerySpec
from chess_pipeline_spark.sources import load_table as _L
from chess_pipeline_spark.sources import spread

# ------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate grouping on a content digest. At 100 TB the
    groupBy key is the 128-bit digest, never the document body."""
    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    return (
        d.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dupes"))
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS fp, min(doc_id) AS keep_doc_id, count(*) AS n_dupes
FROM documents GROUP BY 1
"""


# ------------------------------------------------------------------
# Text quality / stats
# ------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "to", "in")


def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features: length, word count, punctuation
    count/ratio, stopword ratio, mean word length — all JVM-side
    higher-order functions, one pass, no shuffle."""
    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    n_chars = F.length("text").cast("long")
    n_words = F.size(F.split("text", " ")).cast("long")
    stop_list = ", ".join(f"'{w}'" for w in _STOPWORDS)
    n_stop = F.expr(f"size(filter(split(text, ' '), w -> w IN ({stop_list})))").cast("long")
    # chars that are neither alphanumeric nor space
    n_punct = F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).cast("long")
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        n_stop.alias("n_stopwords"),
        fround(n_stop / n_words.cast("double"), 6).alias("stopword_ratio"),
        n_punct.alias("n_punct"),
        # nullif guard: on empty text Spark's 0/0 gives NULL but
        # DuckDB's IEEE float 0/0.0 gives NaN — make both NULL
        fround(n_punct / F.expr("nullif(length(text), 0)").cast("double"), 6).alias(
            "punct_ratio"
        ),
        fround((n_chars - (n_words - 1)) / n_words.cast("double"), 6).alias("mean_word_len"),
    )


_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)
TEXT_QUALITY_STATS_SQL = f"""
WITH s AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(len(list_filter(string_split(text, ' '),
                  w -> w IN ({_STOP_SQL}))) AS BIGINT) AS n_stopwords,
         CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_punct
  FROM documents)
SELECT doc_id, n_chars, n_words, n_stopwords,
       floor((n_stopwords / CAST(n_words AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS stopword_ratio,
       n_punct,
       floor((n_punct / CAST(nullif(n_chars, 0) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS punct_ratio,
       floor(((n_chars - (n_words - 1)) / CAST(n_words AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS mean_word_len
FROM s
"""


# BPE-ish tokenization: runs of letters | runs of digits | single
# other non-space. Shared with plans/corpus.py (packing, keep-best).
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex tokenizer
    (runs of letters | runs of digits | single other non-space)."""
    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    pat = BPE_TOKEN_PATTERN
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.regexp_count("text", F.lit(pat)).cast("long").alias("bpe_tokens"),
    )


TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
FROM documents
"""


# language-ID: n-gram/marker-word heuristic. Marker hit-counts per
# language, argmax with a fixed precedence order. (Deterministic and
# oracle-checkable; real corpora would use a fastText-style model via
# pandas_udf — same plan shape.)
_LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "que"),
    "zh": ("的", "是", "了"),
}


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    scores = {}
    for lang, markers in _LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        scores[lang] = F.expr(f"size(filter(split(text, ' '), w -> w IN ({lst})))").cast(
            "long"
        )
    pred = F.lit("unknown")
    # fixed precedence: evaluate in declaration order with a
    # strictly-greater update — the FIRST-evaluated language keeps
    # ties, so 'en' (declared first) has highest tie precedence
    best = F.lit(0).cast("long")
    for lang in _LANG_MARKERS:
        is_better = scores[lang] > best
        pred = F.when(is_better, F.lit(lang)).otherwise(pred)
        best = F.when(is_better, scores[lang]).otherwise(best)
    cols = [scores[lang].alias(f"score_{lang}") for lang in _LANG_MARKERS]
    return d.select("doc_id", F.col("lang").alias("labeled_lang"), *cols, pred.alias("pred_lang"))


def _lang_id_sql() -> str:
    score_exprs = []
    for lang, markers in _LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        score_exprs.append(
            f"CAST(len(list_filter(string_split(text, ' '), w -> w IN ({lst}))) AS BIGINT) AS score_{lang}"
        )
    # mirror the Spark fold: declaration order, strictly-greater
    # updates (first-declared language keeps ties)
    langs = list(_LANG_MARKERS)
    pred = "'unknown'"
    best = "CAST(0 AS BIGINT)"
    for lang in langs:
        pred = f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"CASE WHEN score_{lang} > {best} THEN score_{lang} ELSE {best} END"
    return f"""
WITH s AS (
  SELECT doc_id, lang AS labeled_lang, {", ".join(score_exprs)}
  FROM documents)
SELECT doc_id, labeled_lang, {", ".join(f"score_{lang}" for lang in langs)},
       {pred} AS pred_lang
FROM s
"""


LANG_ID_SQL = _lang_id_sql()


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling (polynomial) hash over the word
    sequence — a document fingerprint that, unlike a set hash,
    distinguishes permutations. Pure fold, JVM-side."""
    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    fp = F.expr(
        "aggregate("
        "  transform(split(text, ' '), w -> CAST(ascii(w) * 7 + length(w) AS BIGINT)),"
        "  CAST(0 AS BIGINT),"
        "  (acc, t) -> (acc * 31 + t) % 1000000007)"
    )
    return d.select("doc_id", fp.alias("fingerprint"))


DOC_FINGERPRINT_SQL = """
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ' '),
                          w -> CAST(ascii(w) * 7 + length(w) AS BIGINT))),
         (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
FROM documents
"""


# ------------------------------------------------------------------
# Near-duplicate detection
# ------------------------------------------------------------------


_JACCARD_T = 0.9


def near_dup_pairs_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard near-dup pairs (threshold 0.9) with blocking
    on `source`, via a full inverted index: explode distinct words,
    self-join posting lists on (source, word), count matches per
    pair — intersection sizes arrive as counts, pairs sharing no
    word never materialize. One shuffle on (source, word), one on
    the pair key. Wins whenever token frequencies are benign (no
    posting list dominates) — see `near_dup_pairs_jaccard_prefix`
    for the zipfian-corpus variant and SCALING.md for the measured
    crossover discussion.
    """
    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    ws = d.select(
        "doc_id",
        "source",
        F.array_distinct(F.split("text", " ")).alias("w"),
    ).select(
        "doc_id", "source", F.size("w").alias("n"), F.explode("w").alias("word")
    )
    a, b = ws.alias("a"), ws.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.word") == F.col("b.word"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size filter (exactness-preserving): J >= t forces
            # t <= min(na,nb)/max(na,nb), so size-mismatched pairs
            # are pruned inside the join, before the pair-key shuffle
            & (F.col("a.n") * F.lit(_JACCARD_T) <= F.col("b.n"))
            & (F.col("b.n") * F.lit(_JACCARD_T) <= F.col("a.n")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
    return inter.select(
        "doc_a", "doc_b", fround(jac, 6).alias("jaccard")
    ).filter(jac >= _JACCARD_T)


_SHINGLE_K = 5  # character n-gram width
_NGRAM_T = 0.25  # char-shingle overlap of word-substituted near-dups ~1/3
# shingle document-frequency cut: shingles present in more than
# _NGRAM_DF_CAP documents of a source block are stop-grams and never
# enter the index. The cap is ABSOLUTE, not a corpus fraction — that
# is what makes the plan linear: every posting list is bounded by a
# constant, so the pair join is bounded by CAP·|postings| no matter
# how large the block grows (a fractional cap was measured to
# re-introduce df² growth: 5% of a 5250-doc block left 263-long lists
# squaring to ~19 s on the 21k-doc zipfian corpus; the absolute cap
# is the version that survives 100 TB). The cap doubles as the
# protected dup-cluster size: clusters of up to 64 near-identical
# docs keep their shingles indexed; larger clusters are exact-dedup /
# boilerplate-removal territory, not pair-listing territory.
_NGRAM_DF_CAP = 64


def ngram_jaccard_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character n-gram (5-gram shingle) Jaccard near-dup pairs —
    the tokenization-free flavor: robust to word-boundary edits
    (hyphenation, spacing, punctuation) that fragment word-set
    Jaccard. The threshold is far below the word-set 0.9: every word
    substitution destroys ~k shingles around it, so true near-dups
    (word-level edits) land near 1/3 shingle overlap — 0.25 sits
    between that cluster and the topical background (measured on the
    driver corpus; brute-force ground truth in
    tests/test_corpus_properties.py). Docs shorter than the shingle
    width contribute their whole text as one shingle.

    SEMANTICS (r6): Jaccard is computed over each doc's RARE-shingle
    set — shingles whose within-block document frequency exceeds
    {_NGRAM_DF_CAP} are stop-grams and excluded from both
    intersection and union (the standard stop-gram cut of crawl-scale
    dedup: ultra-common grams carry no duplicate signal, only noise
    from topical overlap). The DuckDB oracle and the
    brute-force/hypothesis ground truths all apply the identical cut,
    so parity is exact. A doc whose every shingle is a stop-gram
    (pure boilerplate) has an empty rare set and pairs with nothing —
    boilerplate_chunk_removal is the right operator for those.

    Measured effect (r6, SCALING.md): at sf0.001/sf0.01 (≤25-doc
    blocks) no df can exceed the cap, so results are bit-identical to
    the pre-cut textbook semantics (104 pairs at sf0.01); at sf0.1
    the full-set detector returned 11,565 pairs — boilerplate false
    positives on a 5,000-doc corpus whose true dup structure is 8
    normalized-dup pairs — while the rare-set detector returns
    exactly the 7 true pairs at J >= {_NGRAM_T}. The cut is a
    precision fix AND the scale fix at once.

    This cut is the 100 TB lever for a zipfian corpus: head shingles
    (whose posting lists would SQUARE inside the inverted-index pair
    join — df² join rows per shingle) never enter the index, every
    posting list is bounded by the CONSTANT cap, and the pair join is
    bounded by {_NGRAM_DF_CAP}·|postings| — linear in corpus size —
    instead of Σdf². Plan: shingle explode → df agg (map-side
    combined, shuffles 5-char grams) → df filter → per-doc rare-set
    size → blocked posting self-join with the exactness-preserving
    size filter → per-pair count. No window, no verify join, no
    corpus² anywhere.
    """
    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    sh = (
        f"array_distinct(transform(sequence(1, greatest(length(text) - {_SHINGLE_K - 1}, 1)), "
        f"i -> substring(text, i, {_SHINGLE_K})))"
    )
    shingles = d.select(
        "doc_id", "source", F.explode(F.expr(sh)).alias("shingle")
    )
    freq = shingles.groupBy("source", "shingle").agg(F.count("*").alias("df"))
    kept = (
        shingles.join(freq, ["source", "shingle"])
        .filter(F.col("df") <= F.lit(_NGRAM_DF_CAP))
        .select("doc_id", "source", "shingle")
    )
    nper = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    ws = kept.join(nper, "doc_id").select("doc_id", "source", "n", "shingle")
    a, b = ws.alias("a"), ws.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # exactness-preserving size filter: J >= t forces
            # t <= min(na,nb)/max(na,nb), pruned inside the join,
            # before the pair-key shuffle
            & (F.col("a.n") * F.lit(_NGRAM_T) <= F.col("b.n"))
            & (F.col("b.n") * F.lit(_NGRAM_T) <= F.col("a.n")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
    return inter.select(
        "doc_a", "doc_b", fround(jac, 6).alias("jaccard")
    ).filter(jac >= _NGRAM_T)


NGRAM_JACCARD_NEAR_DUP_SQL = f"""
WITH sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           range(1, greatest(length(text) - {_SHINGLE_K - 1}, 1) + 1),
           i -> substr(text, CAST(i AS INTEGER), {_SHINGLE_K}))) AS s
  FROM documents),
shingles AS (
  SELECT doc_id, source, unnest(s) AS shingle FROM sh),
freq AS (
  SELECT source, shingle, count(*) AS df FROM shingles GROUP BY 1, 2),
kept AS (
  SELECT s.doc_id, s.source, s.shingle
  FROM shingles s
  JOIN freq f ON s.source = f.source AND s.shingle = f.shingle
  WHERE f.df <= {_NGRAM_DF_CAP}),
nper AS (
  SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
ws AS (
  SELECT k.doc_id, k.source, p.n, k.shingle
  FROM kept k JOIN nper p ON k.doc_id = p.doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
         count(*) AS inter
  FROM ws a JOIN ws b ON a.source = b.source AND a.shingle = b.shingle
                      AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT doc_a, doc_b,
       floor((inter / CAST(na + nb - inter AS DOUBLE)) * 1000000.0 + 0.5)
         / 1000000.0 AS jaccard
FROM inter
WHERE inter / CAST(na + nb - inter AS DOUBLE) >= {_NGRAM_T}
"""


# containment threshold: a truncation keeping >= 60% of the shorter
# doc's rare shingles is a near-subset; Jaccard on the same pair can
# sit far below its threshold because the LONGER doc's size inflates
# the union (a 3x-longer host halves the Jaccard of a perfect subset)
_CONT_T = 0.6


def containment_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT near-dup pairs: C(A,B) = |A∩B| /
    min(|A|,|B|) over each doc's rare 5-char shingle set — the
    asymmetric cousin of ngram_jaccard_near_dup that catches
    truncations, quote-embeddings, and template hosts (doc A pasted
    inside a longer doc B). Jaccard structurally misses these: a
    perfect subset inside a 3x-longer host has J ≈ 1/3 but C = 1.

    Same stop-gram document-frequency cut as the Jaccard detector
    (df <= {_NGRAM_DF_CAP} within the source block), same inverted
    posting-list join — but deliberately NO length-ratio prune: the
    ratio filter is exactly the optimization containment semantics
    forbids (it would re-hide every truncation pair). Scale safety
    comes from the df cap alone: every posting list is bounded by a
    constant, so pair-join rows are bounded by CAP·|postings| —
    linear in corpus size, same bound as the Jaccard plan.

    Output: (doc_a, doc_b, n_small, containment) for pairs with
    C >= {_CONT_T}; n_small is the shorter doc's rare-set size so a
    consumer can gate on evidence mass.

    100 TB shape: shingle explode → df agg (map-side combined) → df
    filter → posting self-join → per-pair count. One corpus-scale
    gram shuffle + one pair-keyed count shuffle, both map-side
    combined; no window, no corpus².
    """
    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    sh = (
        f"array_distinct(transform(sequence(1, greatest(length(text) - {_SHINGLE_K - 1}, 1)), "
        f"i -> substring(text, i, {_SHINGLE_K})))"
    )
    shingles = d.select(
        "doc_id", "source", F.explode(F.expr(sh)).alias("shingle")
    )
    freq = shingles.groupBy("source", "shingle").agg(F.count("*").alias("df"))
    kept = (
        shingles.join(freq, ["source", "shingle"])
        .filter(F.col("df") <= F.lit(_NGRAM_DF_CAP))
        .select("doc_id", "source", "shingle")
    )
    nper = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    ws = kept.join(nper, "doc_id").select("doc_id", "source", "n", "shingle")
    a, b = ws.alias("a"), ws.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    cont = F.col("inter") / F.least("na", "nb").cast("double")
    return inter.select(
        "doc_a",
        "doc_b",
        F.least("na", "nb").cast("long").alias("n_small"),
        fround(cont, 6).alias("containment"),
    ).filter(cont >= _CONT_T)


CONTAINMENT_NEAR_DUP_SQL = f"""
WITH sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           range(1, greatest(length(text) - {_SHINGLE_K - 1}, 1) + 1),
           i -> substr(text, CAST(i AS INTEGER), {_SHINGLE_K}))) AS s
  FROM documents),
shingles AS (
  SELECT doc_id, source, unnest(s) AS shingle FROM sh),
freq AS (
  SELECT source, shingle, count(*) AS df FROM shingles GROUP BY 1, 2),
kept AS (
  SELECT s.doc_id, s.source, s.shingle
  FROM shingles s
  JOIN freq f ON s.source = f.source AND s.shingle = f.shingle
  WHERE f.df <= {_NGRAM_DF_CAP}),
nper AS (
  SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
ws AS (
  SELECT k.doc_id, k.source, p.n, k.shingle
  FROM kept k JOIN nper p ON k.doc_id = p.doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
         count(*) AS inter
  FROM ws a JOIN ws b ON a.source = b.source AND a.shingle = b.shingle
                      AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT doc_a, doc_b,
       CAST(least(na, nb) AS BIGINT) AS n_small,
       floor((inter / CAST(least(na, nb) AS DOUBLE)) * 1000000.0 + 0.5)
         / 1000000.0 AS containment
FROM inter
WHERE inter / CAST(least(na, nb) AS DOUBLE) >= {_CONT_T}
"""


def near_dup_pairs_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics via PREFIX-FILTERED inverted index + exact
    verify — the AllPairs/PPJoin strategy for zipfian corpora.

    Prefix-filter principle: order each doc's tokens by ascending
    (block-local) frequency; if J(a,b) >= t, the first
    |d| - ceil(t*|d|) + 1 tokens of a and b must intersect. So only
    those prefix tokens enter the inverted index — posting lists
    shrink to the RAREST tokens (at t=0.9, ~10% of each doc), and
    ultra-common tokens never generate candidates. Candidates are
    then verified EXACTLY on the full word sets, so the result is
    identical to the naive all-pairs definition (which the DuckDB
    oracle computes). Shuffles: token-frequency agg, per-doc rank
    window, prefix-token join, pair dedup, verify join — all bounded
    by prefix posting lists, never corpus².
    """
    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    ws = d.select(
        "doc_id",
        "source",
        F.array_distinct(F.split("text", " ")).alias("w"),
    ).select("doc_id", "source", "w", F.size("w").alias("n"))

    tokens = ws.select("doc_id", "source", "n", F.explode("w").alias("word"))
    freq = tokens.groupBy("source", "word").agg(F.count("*").alias("df"))
    rank_w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("word"))
    prefix_len = (F.col("n") - F.ceil(F.lit(_JACCARD_T) * F.col("n")) + 1).cast("int")
    prefix = (
        tokens.join(freq, ["source", "word"])
        .withColumn("rnk", F.row_number().over(rank_w))
        .filter(F.col("rnk") <= prefix_len)
        .select("doc_id", "source", "word")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.word") == F.col("b.word"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    wa = ws.select(F.col("doc_id").alias("doc_a"), F.col("w").alias("wa"), F.col("n").alias("na"))
    wb = ws.select(F.col("doc_id").alias("doc_b"), F.col("w").alias("wb"), F.col("n").alias("nb"))
    inter = F.size(F.array_intersect(F.col("wa"), F.col("wb")))
    jac = inter / (F.col("na") + F.col("nb") - inter).cast("double")
    return (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select("doc_a", "doc_b", fround(jac, 6).alias("jaccard"))
        .filter(jac >= _JACCARD_T)
    )


NEAR_DUP_PAIRS_JACCARD_SQL = """
WITH ws AS (
  SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS w
  FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       floor((len(list_intersect(a.w, b.w))
             / CAST(len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
         AS jaccard
FROM ws a JOIN ws b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.w, b.w))
      / CAST(len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)) AS DOUBLE) >= 0.9
"""


# ------------------------------------------------------------------
# MinHash signatures
# ------------------------------------------------------------------
# k=4 permutation-hash minima over 3-word shingles. The base shingle
# hash must be engine-portable (the SQL oracle reproduces it exactly)
# AND high-entropy; the *mechanics* (shingle → k permuted hashes →
# min per permutation) are the real MinHash algorithm. At scale, band
# the signature (pairs of minhashes) into LSH bucket keys and block
# the near-dup join on them.
_MINHASH_PERMS = ((1299721, 2750161), (4256233, 950041), (7368787, 3389), (9576890767, 104729))
_MINHASH_P = 2147483647

# Engine-portable base hash of a token/shingle string s: fold the
# first 8 hex digits of md5(s) to a 32-bit integer (the sampling
# tier's instr-fold, corpus.py::_md5_u6 — instr/substr/md5 behave
# identically in Spark SQL and DuckDB). r10 REPLACED the original
# closed-form (ascii(s)*1000003 + length(s)*7919 + ascii(reverse(s))
# *977): that hash depends ONLY on (first char, length, last char),
# an effective key space of ~10^4-10^5 values, which the sf1-soak
# exposed as an LSH scale-killer — at 500k docs every band bucket
# saturates with false collisions and the within-bucket pair
# expansion goes quadratic (measured 760x time at 100x data,
# SCALESOAK/SCALING.md). The md5 fold gives the full 32-bit space
# (reduced mod P=2^31-1 downstream, so the permutation-overflow
# analysis is unchanged: (a%P)*(h%P) < 2^62). Callers always reduce
# `% _MINHASH_P` before storing or permuting.
_BASE_HASH = "(" + " + ".join(
    # CAST to BIGINT before the place-value multiply: instr returns
    # 32-bit INT and 15 * 16^7 overflows it (ANSI mode aborts; the
    # 6-digit sampling fold fit inside INT, this 8-digit one doesn't)
    f"CAST(instr('0123456789abcdef', substr(md5({{s}}), {k}, 1)) - 1"
    f" AS BIGINT) * {16 ** (8 - k)}"
    for k in range(1, 9)
) + ")"


def _minhash_sig(spark: SparkSession, sf_dir: str, only_shingled: bool = False) -> DataFrame:
    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    if only_shingled:
        # cheap pre-filter for callers that drop unshingleable docs:
        # filtering later on mh_0 != -1 would push the whole
        # signature expression below the spread Exchange onto the
        # single-partition scan — this predicate is pushdown-safe
        d = d.filter(F.size(F.split("text", " ")) >= 3)
    # materialize the words array FIRST: element_at over an attribute
    # is O(1), whereas element_at(split(text), i) inside a lambda
    # re-splits the string per element — O(n^2) per document
    words = d.select("doc_id", F.split("text", " ").alias("ws"))
    # 3-word shingles, 1-based positions 1..n-2 (guard short docs:
    # Spark's sequence() descends when stop < start, so clamp first)
    shingles = (
        "CASE WHEN size(ws) >= 3 THEN "
        "transform(sequence(1, size(ws) - 2), "
        "  i -> concat_ws(' ', element_at(ws, i), "
        "                 element_at(ws, i + 1), "
        "                 element_at(ws, i + 2))) "
        "ELSE CAST(array() AS array<string>) END"
    )
    # hash each shingle ONCE, then apply the k permutations to the
    # integer array (the md5 fold is the expensive part). Both the
    # base hash and the permutation multiplier are reduced mod P
    # BEFORE multiplying — (a%P)*(h%P) stays under 2^62, and one raw
    # perm constant is ~9.6e9 so the unreduced product would overflow
    # (silently wrapping in Spark but ABORTING the DuckDB oracle).
    # Modular arithmetic keeps the resulting signatures identical.
    h = _BASE_HASH.format(s="s")
    df = words.select(
        "doc_id",
        F.expr(f"transform({shingles}, s -> ({h}) % {_MINHASH_P})").alias("hs"),
    )
    cols = [
        F.coalesce(
            F.expr(
                f"array_min(transform(hs, h -> ({a % _MINHASH_P} * h + {b}) % {_MINHASH_P}))"
            ),
            F.lit(-1),
        ).alias(f"mh_{j}")
        for j, (a, b) in enumerate(_MINHASH_PERMS)
    ]
    return df.select("doc_id", *cols)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_sig(spark, sf_dir)


def _minhash_sql() -> str:
    h = _BASE_HASH.format(s="s")
    mins = ", ".join(
        f"coalesce(list_min(list_transform(sh, s -> ({a % _MINHASH_P} * ((({h})) % {_MINHASH_P}) + {b}) % {_MINHASH_P})), -1) AS mh_{j}"
        for j, (a, b) in enumerate(_MINHASH_PERMS)
    )
    return f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(words) - 1, 1)),
                        i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]) AS sh
  FROM w)
SELECT doc_id, {mins} FROM sh
"""


MINHASH_SIGNATURES_SQL = _minhash_sql()


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH dedup path: shingle → k minhashes → band →
    bucket-join → candidate pairs.

    The k=4 signature is banded into 2 bands of 2 rows; docs sharing
    any band bucket become candidates. This is the 100 TB near-dup
    plan: the self-join key is (band, h1, h2) — a *bucket*, never the
    corpus — so the pair space is sum of squares of bucket sizes, and
    the only shuffles are one hash-partition on the bucket key and
    the final pair dedup. Docs too short to shingle are excluded.
    """
    sig = _minhash_sig(spark, sf_dir, only_shingled=True)
    bands = sig.select(
        "doc_id",
        F.expr(
            "stack(2, 0, mh_0, mh_1, 1, mh_2, mh_3) AS (band, h1, h2)"
        ),
    )
    # group each bucket and generate its pairs locally rather than
    # bucket self-joining: a self-join would recompute the signature
    # subtree on both sides (no plan CSE) and shuffle twice. One
    # shuffle to the bucket key, combinations inside the bucket,
    # then the pair-dedup shuffle. Bucket sizes stay small by LSH
    # construction, so the local pair expansion is bounded.
    buckets = bands.groupBy("band", "h1", "h2").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    pairs = buckets.filter(F.size("ids") >= 2).select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids)), "
                "b -> struct(a AS doc_a, b AS doc_b))))"
            )
        ).alias("p")
    )
    return pairs.groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")).agg(
        F.count("*").cast("long").alias("n_shared_bands")
    )


# Shared CTE block: shingle → minhash → band → bucket-join candidate
# pairs. Used verbatim by the LSH-candidates oracle AND (under WITH
# RECURSIVE) by the dedup_groups connected-components oracle.
_LSH_CAND_CTES = f"""w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(words) - 1, 1)),
                        i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]) AS sh
  FROM w WHERE len(words) >= 3),
sig AS (
  SELECT doc_id,
         {", ".join(f"list_min(list_transform(sh, s -> ({a % _MINHASH_P} * ((({_BASE_HASH.format(s='s')})) % {_MINHASH_P}) + {b}) % {_MINHASH_P})) AS mh_{j}" for j, (a, b) in enumerate(_MINHASH_PERMS))}
  FROM sh),
bands AS (
  SELECT doc_id, 0 AS band, mh_0 AS h1, mh_1 AS h2 FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, mh_2 AS h1, mh_3 AS h2 FROM sig),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared_bands
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
              AND a.doc_id < b.doc_id
  GROUP BY 1, 2)"""

MINHASH_LSH_CANDIDATES_SQL = f"""
WITH {_LSH_CAND_CTES}
SELECT doc_a, doc_b, n_shared_bands FROM cand
"""

# Connected components as a recursive transitive closure: reach(a, b)
# = b reachable from a over the (bidirectional) candidate edges; a
# node's label = min over itself + everything it reaches — exactly
# the fixpoint the Spark min-label propagation loop computes. Fine
# for an ORACLE because closure size is Σ|component|² and near-dup
# components are small cliques; the distributed engine still uses
# the O(diameter)-round loop, which scales where closure does not.
# The CTE block is shared with plans/corpus.py (dedup_keep_best),
# which selects a different representative over the same labels.
COMPONENT_LABELS_CTES = f"""{_LSH_CAND_CTES},
edges AS (SELECT doc_a, doc_b FROM cand UNION SELECT doc_b, doc_a FROM cand),
reach(a, b) AS (
  SELECT doc_a, doc_b FROM edges
  UNION
  SELECT r.a, e.doc_b FROM reach r JOIN edges e ON r.b = e.doc_a),
allr AS (SELECT a, b FROM reach UNION SELECT DISTINCT doc_a, doc_a FROM edges),
labels AS (SELECT a AS doc_id, min(b) AS label FROM allr GROUP BY 1)"""

DEDUP_GROUPS_SQL = f"""
WITH RECURSIVE {COMPONENT_LABELS_CTES}
SELECT min(doc_id) AS keep_doc_id,
       CAST(count(*) AS BIGINT) AS group_size,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
FROM labels
GROUP BY label
"""


# ------------------------------------------------------------------
# SimHash near-dup
# ------------------------------------------------------------------
# 56-bit SimHash over MIXED word hashes: each word votes ±1 per bit
# position according to its hash bits; the signature takes the sign
# of each vote sum. Near-dups = pairs whose signatures differ in
# <= 3 bits (the canonical Manku/WWW'07 operating point: 64-bit
# signatures, k = 3; 56 here keeps the banding arithmetic in exact
# BIGINTs with headroom). Width matters twice:
#
#  - random-pair pass rate ~ C(k,<=3)/2^k: 1% at k=16 (candidate
#    blow-up observed in the 50k-doc stress run), ~1.4e-5 at k=28,
#    ~4e-13 at k=56 — at corpus scale the 28-bit cut was the false-
#    positive budget's binding constraint;
#  - the UNBLOCKED banding floor (cross_source_leakage): candidates
#    per band ~ n²/2^band_bits. The r10 sf1-soak measured the 28-bit
#    4x7 layout (128 buckets/band) at 59.6 s / 500k docs — an
#    intrinsic n²/2^7 floor, fine to ~10^6 docs, wrong tool at 10^9.
#    4x14 (16384 buckets/band) divides that floor by 128.
#
# The word hash needs 56 independent bits: md5's first eight hex
# digits give one 32-bit integer (the r10 fix), digits 9-16 a second,
# independent one; each is mixed with a Knuth multiplicative step mod
# 2^31 and contributes its low 28 bits. The md5 string is
# materialized ONCE per word (inner transform), then folded — the
# same closed form runs in the DuckDB oracle bit-for-bit. By
# construction the low 28 bits of the new signature equal the old
# 28-bit signature exactly (same base hash, same mix, same bits).

_SIMHASH_BITS = 56
_SIMHASH_BANDS = 4
_SIMHASH_BAND_BITS = _SIMHASH_BITS // _SIMHASH_BANDS  # 14 bits -> 16384 buckets/band
# pigeonhole: <= 3 flipped bits leave >= 1 of the 4 bands untouched,
# so banded candidate generation keeps recall exactly 1.0
_SIMHASH_MAX_HAMMING = 3

# Signature-format tag persisted alongside any on-disk simhash index
# (r11 ADVICE: the 28→56-bit widening silently changed the meaning of
# stored simhash/bv columns; an old-format index would join against
# new-format band values and return false 'not a dup' verdicts with
# no error). Any change to the fold geometry MUST change this string;
# consumers refuse a stamped mismatch and an unstamped pre-existing
# index instead of producing silently-wrong verdicts.
SIMHASH_FORMAT = (
    f"simhash{_SIMHASH_BITS}-b{_SIMHASH_BANDS}x{_SIMHASH_BAND_BITS}"
    f"-h{_SIMHASH_MAX_HAMMING}-knuth31x2"
)

# mix: ((h mod 2^31) * 2654435761) mod 2^31 — stays within BIGINT
_MIX = "((({h}) % 2147483648) * 2654435761) % 2147483648"


def _md5_fold(lo: int, hi: int) -> str:
    """Integer fold of md5 hex digits [lo, hi] of a pre-computed md5
    string `{m}` — place-value BIGINT arithmetic, engine-portable."""
    return "(" + " + ".join(
        f"CAST(instr('0123456789abcdef', substr({{m}}, {k}, 1)) - 1"
        f" AS BIGINT) * {16 ** (hi - k)}"
        for k in range(lo, hi + 1)
    ) + ")"


# 56-bit word hash over `{m}` (the word's md5 string): low 28 bits
# from the mixed digits-1..8 fold, high 28 from the mixed digits-9..16
# fold. Max value 2^56 - 1; every intermediate fits BIGINT.
_WORD_HASH56 = (
    f"(({_MIX.format(h=_md5_fold(1, 8))} % {1 << 28})"
    f" + ({_MIX.format(h=_md5_fold(9, 16))} % {1 << 28}) * {1 << 28})"
)


def _simhash_expr_spark() -> str:
    """Signature over a pre-mixed word-hash array column `hw` (hash+
    mix each word ONCE). ONE fold with a 56-long vote-array
    accumulator instead of 56 independent folds: integer adds in the
    same left-fold order, so the signature is bit-identical, but the
    array traverses once (measured ~1.7x on the signature stage at
    sf0.1 back at 28 bits; the win widens with the bit count)."""
    votes = (
        f"aggregate(hw, array_repeat(CAST(0 AS BIGINT), {_SIMHASH_BITS}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {_SIMHASH_BITS - 1}), "
        f"(a, j) -> a + CASE WHEN shiftright(h, j) % 2 = 1 THEN 1 ELSE -1 END))"
    )
    return (
        f"aggregate(zip_with({votes}, sequence(0, {_SIMHASH_BITS - 1}), "
        f"(v, j) -> CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), j) "
        f"ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (a, b) -> a + b)"
    )


def _simhash_expr_duckdb() -> str:
    """Same fold over a pre-mixed `hw` list column (built in a CTE)."""
    terms = []
    for j in range(_SIMHASH_BITS):
        vote = (
            f"list_sum(list_transform(hw, "
            f"h -> CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(f"CASE WHEN ({vote}) > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    return " + ".join(terms)


# shared oracle CTE: md5 each word ONCE, then fold the 56-bit hash
_SIMHASH_HASHED_CTE = f"""hashed AS (
  SELECT doc_id, source,
         list_transform(list_transform(string_split(text, ' '), w -> md5(w)),
                        m -> {_WORD_HASH56.format(m="m")}) AS hw
  FROM documents)"""


def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures + near-dup pairs (hamming <= 3) blocked on
    `source`. At corpus scale the block key becomes the signature's
    high bits (each doc probes only its own bucket), keeping the
    pair space linear-ish; the signature itself is a pure per-row
    projection — no shuffle until the pair join."""
    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    sig = simhash_signatures_for(d)
    # LSH banding for hamming distance: 4 bands x 14 bits. A pair at
    # hamming <= 3 differs in at most 3 bits, so by pigeonhole at
    # least one band is identical — banding has 100% recall and the
    # verified result equals the naive all-pairs definition (which
    # is exactly what the DuckDB oracle computes). Only
    # bucket-colliding pairs are generated/verified, and pair
    # generation is bucket-local (one signature computation, one
    # shuffle) instead of a self-join that would recompute the
    # signature subtree on both sides.
    bands = sig.select(
        "doc_id",
        "source",
        "simhash",
        F.explode(F.expr(f"sequence(0, {_SIMHASH_BANDS - 1})")).alias("band"),
    ).withColumn(
        "bv",
        F.expr(
            f"shiftright(simhash, band * {_SIMHASH_BAND_BITS}) % {1 << _SIMHASH_BAND_BITS}"
        ),
    )
    buckets = bands.groupBy("source", "band", "bv").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias("xs")
    )
    pair_expr = (
        "flatten(transform(xs, (a, i) -> "
        "filter(transform(slice(xs, i + 2, size(xs)), "
        "b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "a.simhash AS simhash_a, "
        "CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT) AS hamming)), "
        f"p -> p.hamming <= {_SIMHASH_MAX_HAMMING})))"
    )
    cand = buckets.select(F.explode(F.expr(pair_expr)).alias("p")).select(
        "p.doc_a", "p.doc_b", "p.simhash_a", "p.hamming"
    )
    # a pair can share several bands — dedup on the pair key
    return cand.groupBy("doc_a", "doc_b").agg(
        F.first("simhash_a").alias("simhash_a"), F.first("hamming").alias("hamming")
    )


SIMHASH_NEAR_DUP_SQL = f"""
WITH {_SIMHASH_HASHED_CTE},
sig AS (
  SELECT doc_id, source, {_simhash_expr_duckdb()} AS simhash
  FROM hashed)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       a.simhash AS simhash_a,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
"""


def cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs whose two documents live in DIFFERENT
    sources — the train/test-leakage detector. Every other near-dup
    query here blocks on `source` (dedup within a split); leakage is
    the opposite question, so banding runs WITHOUT the source key and
    the pair filter keeps only cross-source hits. Same 4x14-bit
    SimHash banding ⇒ same pigeonhole guarantee: 100% recall at
    hamming <= 3 against the all-pairs definition the oracle
    computes.

    100 TB shape: identical to simhash_near_dup minus the source
    block — buckets get denser (all sources share them), which is
    the price of the cross-split question. The band width IS the
    lever: unblocked banding carries an intrinsic n²/2^band_bits
    candidate floor per band, and the r10 sf1-soak measured the old
    4x7 layout (128 buckets/band) at 59.6 s / 500k docs; the r11
    4x14 widening (16384 buckets/band) divides that floor by 128.
    """
    from chess_pipeline_spark.checkpoints import pin_corpus_frame

    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    bands = pin_corpus_frame(
        simhash_bands_for(simhash_signatures_for(d)), eager=True
    )
    a, b = bands.alias("a"), bands.alias("b")
    # hash-join on the band bucket (the shared-bucket shape, but as a
    # streamed join: without the source block the buckets are DENSE,
    # and the collect_list + O(|bucket|²) lambda expansion that wins
    # for sparse simhash buckets loses here — same lesson as the
    # ngram posting join, measured in SCALING.md). localCheckpoint
    # materializes the banded signatures once so the join's two sides
    # don't recompute the signature subtree.
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.source") != F.col("b.source")),
        )
        .withColumn(
            "hamming", F.expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)")
        )
        .filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            "hamming",
        )
    )
    return cand.groupBy("doc_a", "doc_b").agg(
        F.first("source_a").alias("source_a"),
        F.first("source_b").alias("source_b"),
        F.first("hamming").alias("hamming"),
    )


CROSS_SOURCE_LEAKAGE_SQL = f"""
WITH {_SIMHASH_HASHED_CTE},
sig AS (
  SELECT doc_id, source, {_simhash_expr_duckdb()} AS simhash FROM hashed)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       a.source AS source_a, b.source AS source_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND a.source <> b.source
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
"""


# ------------------------------------------------------------------
# Incremental near-dedup: new batch vs existing corpus
# ------------------------------------------------------------------

# deterministic corpus/batch split of the documents table: ids below
# the cut play the already-ingested corpus, the rest the new batch
_INCR_SPLIT = 250


def simhash_signatures_for(docs: DataFrame) -> DataFrame:
    """(doc_id, source, text) -> (doc_id, source, simhash). Pure
    per-row Catalyst projection, no shuffle. The inner transform
    materializes each word's md5 string ONCE; the outer transform
    folds it into the 56-bit mixed hash (16 instr terms over the
    same attribute, not 16 md5 calls)."""
    w56 = _WORD_HASH56.format(m="m")
    return docs.select(
        "doc_id",
        "source",
        F.expr(
            f"transform(transform(split(text, ' '), w -> md5(w)), m -> {w56})"
        ).alias("hw"),
    ).select("doc_id", "source", F.expr(_simhash_expr_spark()).alias("simhash"))


def simhash_bands_for(sig: DataFrame) -> DataFrame:
    """Signature frame -> one row per (doc, band): adds (band, bv).
    The shared banding projection behind dedup_incremental_simhash
    and the streaming ingest-dedup job — row-local explode."""
    return sig.select(
        "doc_id",
        "source",
        "simhash",
        F.explode(F.expr(f"sequence(0, {_SIMHASH_BANDS - 1})")).alias("band"),
    ).withColumn(
        "bv",
        F.expr(
            f"shiftright(simhash, band * {_SIMHASH_BAND_BITS}) % {1 << _SIMHASH_BAND_BITS}"
        ),
    )


def dedup_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: flag each NEW document that is a
    SimHash near-dup (hamming <= 3) of the EXISTING corpus — the
    corpus-refresh twin of the reference's eval-cache anti-join
    (fetch only what the cache lacks; here: ingest only what the
    corpus doesn't already contain). Output one row per batch doc:
    is_dup, the nearest cached doc (min hamming, then min id) and
    its hamming distance.

    Plan shape (100 TB): signatures are per-row projections computed
    once per side; the batch-vs-corpus match is a band-bucket
    equi-join on (source, band, bucket) — at real scale the batch
    side is tiny relative to the corpus and broadcasts, so the
    corpus's banded signature table (a persisted index in practice)
    streams through unshuffled. Banding at 4x14 bits keeps 100%
    recall at hamming <= 3 by pigeonhole, so the result equals the
    naive all-pairs definition the oracle computes.
    """
    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    # the signature subtree feeds THREE plan arms (the band join's
    # cache side, its batch side, and the final per-doc left join) —
    # without a checkpoint each arm re-tokenizes and re-folds the
    # corpus, which the 56-bit widening made 2x costlier (r11 soak:
    # 35.1 s at 500k docs; one lazy localCheckpoint cuts it to one
    # signature pass)
    sig = simhash_signatures_for(d).localCheckpoint(eager=False)
    bands = simhash_bands_for(sig)
    cache = bands.filter(F.col("doc_id") < _INCR_SPLIT).select(
        F.col("source").alias("c_source"),
        F.col("band").alias("c_band"),
        F.col("bv").alias("c_bv"),
        F.col("doc_id").alias("c_id"),
        F.col("simhash").alias("c_sig"),
    )
    batch = bands.filter(F.col("doc_id") >= _INCR_SPLIT)
    matched = (
        batch.join(
            cache,
            (batch.source == cache.c_source)
            & (batch.band == cache.c_band)
            & (batch.bv == cache.c_bv),
        )
        .withColumn("hamming", F.expr("CAST(bit_count(simhash ^ c_sig) AS BIGINT)"))
        .filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
        .groupBy("doc_id")
        .agg(F.min(F.struct("hamming", "c_id")).alias("m"))
    )
    return (
        sig.filter(F.col("doc_id") >= _INCR_SPLIT)
        .join(matched, "doc_id", "left")
        .select(
            "doc_id",
            F.col("m").isNotNull().alias("is_dup"),
            F.col("m.c_id").alias("dup_of"),
            F.col("m.hamming").alias("hamming"),
        )
    )


DEDUP_INCREMENTAL_SIMHASH_SQL = f"""
WITH {_SIMHASH_HASHED_CTE},
sig AS (
  SELECT doc_id, source, {_simhash_expr_duckdb()} AS simhash FROM hashed),
cache AS (SELECT * FROM sig WHERE doc_id < {_INCR_SPLIT}),
batch AS (SELECT * FROM sig WHERE doc_id >= {_INCR_SPLIT}),
nearest AS (
  SELECT doc_id, hamming, dup_of FROM (
    SELECT b.doc_id,
           CAST(bit_count(xor(b.simhash, c.simhash)) AS BIGINT) AS hamming,
           c.doc_id AS dup_of,
           row_number() OVER (
             PARTITION BY b.doc_id
             ORDER BY bit_count(xor(b.simhash, c.simhash)), c.doc_id) AS rn
    FROM batch b JOIN cache c ON b.source = c.source
    WHERE bit_count(xor(b.simhash, c.simhash)) <= {_SIMHASH_MAX_HAMMING})
  WHERE rn = 1)
SELECT b.doc_id, n.hamming IS NOT NULL AS is_dup, n.dup_of, n.hamming
FROM batch b LEFT JOIN nearest n USING (doc_id)
"""


# ------------------------------------------------------------------
# Similarity search (brute-force cosine top-k baseline)
# ------------------------------------------------------------------


_DOT = (
    "aggregate(zip_with({u}, {v}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (a, b) -> a + b)"
)
_NORM = "sqrt(aggregate({v}, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors for each query vector (vec_id < 5).

    The scale plan: broadcast the small query set, one scan of the
    corpus computing dot products JVM-side (zip_with + aggregate —
    no Python), then a per-query top-k window. Ranking runs on the
    *rounded* cosine with a vec_id tiebreak so it is deterministic
    and engine-independent.
    """
    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id")
    # norms are precomputed per ROW, not per pair: with |Q| queries
    # the per-pair form folds each corpus vector's norm |Q| times —
    # half the fold work in the scored plan for identical doubles
    nrm = F.expr(_NORM.format(v="embedding"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        nrm.alias("qnorm"),
    )
    cand = e.select("vec_id", "embedding", nrm.alias("cnorm"))
    dot = F.expr(_DOT.format(u="qe", v="embedding"))
    cos = fround(dot / (F.col("qnorm") * F.col("cnorm")), 6)
    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


KNN_COSINE_TOPK_SQL = """
WITH ue AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ue GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS qid, b.vec_id AS neighbor_id, sum(a.x * b.x) AS dot
  FROM ue a JOIN ue b ON a.i = b.i
  WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id
  GROUP BY 1, 2),
cosd AS (
  SELECT qid, neighbor_id,
         floor((dot / (na.nrm * nb.nrm)) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
  FROM dots
  JOIN norms na ON na.vec_id = dots.qid
  JOIN norms nb ON nb.vec_id = dots.neighbor_id)
SELECT qid, neighbor_id, cos_sim, rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM cosd)
WHERE rank <= 5
"""


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding in LONG format (label, dim, mean6,
    n_vecs) — the linear-centroid step of cluster maintenance (IVF
    coarse centroids, semdedup blocks), and the oracle-checkable twin
    of the grouped-map robust centroid (`operators/robust.py`):
    the mean has a closed form SQL can express, the geometric median
    does not — together they cover the centroid family from both
    verification angles. Long format deliberately: the driver's
    canonicalizer cannot hash array cells.

    100 TB shape: posexplode is a row-local fan-out by the fixed
    dim count; ONE (label, dim) keyed aggregate with map-side
    partials; output is |labels|·dim rows.
    """
    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id")
    comps = e.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    return (
        comps.groupBy("label", "dim")
        .agg(
            fround(F.avg(F.col("x").cast("double")), 6).alias("mean6"),
            F.count("*").cast("long").alias("n_vecs"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("dim").cast("long").alias("dim"),
            "mean6",
            "n_vecs",
        )
        .orderBy("label", "dim")
    )


LABEL_CENTROIDS_SQL = """
SELECT CAST(label AS BIGINT) AS label,
       CAST(i - 1 AS BIGINT) AS dim,
       floor((avg(x)) * 1000000.0 + 0.5) / 1000000.0 AS mean6,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM (
  SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings)
GROUP BY 1, 2
ORDER BY 1, 2
"""


def embedding_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding DIVERSITY / mode-collapse audit: the
    centroid-energy ratio  Σ_d S_d² / (n · Σ_i ||q_i||²)  where
    q_i is vector i quantized to integer micro-units and
    S_d = Σ_i q_id. Algebra: mean pairwise dot product (self-pairs
    included) over mean self dot product — for unit-normalized
    vectors this IS the mean pairwise cosine, and in general it is
    the fraction of the label's second moment captured by its
    centroid (the Rayleigh quotient of the mean direction).
    10000 bp = every vector identical (total mode collapse — the
    failure synthetic-data generators exhibit); near 0 = isotropic
    spread. The audit to run per source/model-version before
    mixing generated embeddings into a training pool; the dedup
    tier catches pairwise copies, this catches DISTRIBUTIONAL
    collapse that never crosses a pairwise threshold.

    Numeric posture (the PCA-Gram discipline): components quantized
    row-locally to integer 1e-6 units (identical IEEE double ops on
    both engines), every aggregate an integer sum — order-free under
    AQE; the squares fold in DECIMAL(38)/HUGEINT so a same-sign
    label at corpus scale cannot overflow. Final ratio is one exact
    integer division to basis points.

    100 TB shape: posexplode is a row-local fan-out by the fixed dim
    count; ONE (label, dim) keyed integer aggregate with map-side
    partials, then a |labels|·dim → |labels| fold. Nothing pairwise
    is ever materialized — the n² pair semantics collapses into the
    closed form.
    """
    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id")
    comps = e.select(
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        "dim",
        F.expr(
            "CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("q"),
    )
    per_dim = comps.groupBy("label", "dim").agg(
        F.sum("q").alias("s"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("t"),
        F.count("*").cast("long").alias("n_vecs"),
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.max("n_vecs").cast("long").alias("n_vecs"),
            F.sum(F.col("s").cast("decimal(38,0)") * F.col("s")).alias("s2"),
            F.sum("t").alias("t2"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            "n_vecs",
            F.expr(
                "CAST((s2 * 10000) div (CAST(n_vecs AS DECIMAL(38,0)) * t2) AS BIGINT)"
            ).alias("centroid_energy_bp"),
        )
        .orderBy("label")
    )


EMBEDDING_DIVERSITY_SQL = """
WITH raw AS (
  SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings),
comps AS (
  SELECT label, dim,
         CAST(floor(x * 1000000.0 + 0.5) AS BIGINT) AS q
  FROM raw),
per_dim AS (
  SELECT label, dim,
         CAST(sum(q) AS HUGEINT) AS s,
         sum(CAST(q AS HUGEINT) * q) AS t,
         CAST(count(*) AS BIGINT) AS n_vecs
  FROM comps GROUP BY label, dim)
SELECT CAST(label AS BIGINT) AS label,
       max(n_vecs) AS n_vecs,
       CAST((sum(s * s) * 10000) // (max(n_vecs) * sum(t)) AS BIGINT)
         AS centroid_energy_bp
FROM per_dim
GROUP BY label
ORDER BY label
"""


_HARD_NEG_Q = 5        # anchor set (vec_id < Q), broadcast
_HARD_NEG_K = 3        # hard negatives per anchor
_HARD_NEG_DUP_T = 0.3  # >= this cosine = the repo's near-dup band
#                        (synthetic embeddings are near-orthogonal;
#                        on real embeddings this sits at ~0.95)


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    the top-{_HARD_NEG_K} MOST-similar candidates that are NOT
    near-duplicates — the highest-loss negatives a trainer can use.
    Random negatives (negative_sample_pairs) are easy at convergence;
    the standard curriculum mines negatives just OUTSIDE the dup band
    (cos < {_HARD_NEG_DUP_T}): similar enough to be confusable,
    dissimilar enough to be genuinely negative. Mining INSIDE the
    band would poison training with false negatives that are really
    duplicates — the same band `embedding_near_dup_cosine` flags for
    removal, so the two operators partition the similarity axis
    consistently.

    100 TB shape: identical to knn_cosine_topk's — anchors broadcast,
    one corpus scan computes dot products JVM-side (zip_with +
    aggregate, no Python), the dup cut is a row-local filter BEFORE
    the per-anchor top-k window, ranking on the rounded cosine with
    a vec_id tiebreak for engine-stable order. In production the
    scan side swaps for the IVF/ADC probe (ann_index.py) unchanged.
    """
    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id")
    nrm = F.expr(_NORM.format(v="embedding"))
    q = e.filter(F.col("vec_id") < _HARD_NEG_Q).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        nrm.alias("qnorm"),
    )
    cand = e.select("vec_id", "embedding", nrm.alias("cnorm"))
    dot = F.expr(_DOT.format(u="qe", v="embedding"))
    cos = fround(dot / (F.col("qnorm") * F.col("cnorm")), 6)
    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("neg_id"), cos.alias("cos_sim"))
        .filter(F.col("cos_sim") < _HARD_NEG_DUP_T)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _HARD_NEG_K)
    )


HARD_NEGATIVE_MINING_SQL = f"""
WITH ue AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ue GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS qid, b.vec_id AS neg_id, sum(a.x * b.x) AS dot
  FROM ue a JOIN ue b ON a.i = b.i
  WHERE a.vec_id < {_HARD_NEG_Q} AND b.vec_id <> a.vec_id
  GROUP BY 1, 2),
cosd AS (
  SELECT qid, neg_id,
         floor((dot / (na.nrm * nb.nrm)) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
  FROM dots
  JOIN norms na ON na.vec_id = dots.qid
  JOIN norms nb ON nb.vec_id = dots.neg_id
  WHERE floor((dot / (na.nrm * nb.nrm)) * 1000000.0 + 0.5) / 1000000.0
        < {_HARD_NEG_DUP_T})
SELECT qid, neg_id, cos_sim, rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, neg_id ASC) AS rank
      FROM cosd)
WHERE rank <= {_HARD_NEG_K}
"""


def embedding_near_dup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on `label` (the
    cluster id ≙ an ANN bucket): pairs within a block with cosine
    >= 0.3. The 100 TB shape: one shuffle on the block key, pair
    space bounded by the largest block, dot products JVM-side."""
    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id").withColumn(
        "nrm", F.expr(_NORM.format(v="embedding"))
    )
    a = e.alias("a")
    b = e.alias("b")
    # norm per row before the self-join, not per pair inside it
    cos = F.expr(_DOT.format(u="a.embedding", v="b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            fround(cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.3)
    )


EMBEDDING_NEAR_DUP_COSINE_SQL = """
WITH ue AS (
  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ue GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
         sum(a.x * b.x) AS dot
  FROM ue a JOIN ue b ON a.i = b.i AND a.label = b.label
                      AND a.vec_id < b.vec_id
  GROUP BY 1, 2, 3)
SELECT vec_a, vec_b, label,
       floor((dot / (na.nrm * nb.nrm)) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
FROM dots
JOIN norms na ON na.vec_id = dots.vec_a
JOIN norms nb ON nb.vec_id = dots.vec_b
WHERE floor((dot / (na.nrm * nb.nrm)) * 1000000.0 + 0.5) / 1000000.0 >= 0.3
"""


_SEMDEDUP_TAU = 0.3  # cosine threshold; 0.95+ on real embeddings —
                     # the synthetic vectors are near-orthogonal, so
                     # the demo threshold sits where pairs exist


def semdedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup-style per-ITEM verdicts over embedding clusters
    (Abbas et al. 2023: cluster the corpus, then drop all but one of
    any within-cluster pair above a cosine threshold). Differs from
    embedding_near_dup_cosine (the pair LIST) by producing the
    keep/drop decision per vector: is_dup=true iff a LOWER-id cluster
    member sits at cosine >= tau; dup_of = that member with the
    highest cosine (ties to the lowest id) — a deterministic greedy
    "keep the first copy" sweep, no iteration needed because dup-ness
    only ever points at lower ids.

    100 TB shape: `label` stands in for the coarse k-means assignment
    (at scale: the IVF centroid id, assigned per-row against
    broadcast centroids). One shuffle keys the self-join on the
    cluster id, pair space is bounded by the largest cluster, one
    groupBy picks each victim's nearest keeper, and the final left
    join returns per-item verdicts. Dot products are JVM-side folds
    on precomputed per-row norms.
    """
    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id").withColumn(
        "nrm", F.expr(_NORM.format(v="embedding"))
    )
    a = e.alias("a")
    b = e.alias("b")
    # nullif guards the zero-vector edge: Spark would yield NaN
    # (NaN >= tau is FALSE) while DuckDB orders NaN above everything
    # (>= tau TRUE) — NULL propagates identically in both engines
    cos = F.expr(_DOT.format(u="a.embedding", v="b.embedding")) / F.expr(
        "nullif(a.nrm * b.nrm, 0.0)"
    )
    # (a = potential keeper with the lower id, b = potential victim)
    nearest_keeper = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("a.vec_id").alias("keeper"),
            fround(cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _SEMDEDUP_TAU)
        .groupBy("vec_id")
        # best = (max rounded cosine, then min keeper id) via the
        # negated-key max(struct) — one partial-aggregated shuffle,
        # no rank window
        .agg(F.max(F.struct("cos_sim", (-F.col("keeper")).alias("nk"))).alias("m"))
        .select(
            "vec_id",
            (-F.col("m.nk")).alias("dup_of"),
            F.col("m.cos_sim").alias("dup_cos"),
        )
    )
    return (
        e.select("vec_id", "label")
        .join(nearest_keeper, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
            "dup_cos",
        )
    )


SEMDEDUP_EMBEDDING_SQL = f"""
WITH ue AS (
  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(x * x ORDER BY i)) AS nrm FROM ue GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS keeper, b.vec_id AS vec_id, sum(a.x * b.x ORDER BY a.i) AS dot
  FROM ue a JOIN ue b ON a.i = b.i AND a.label = b.label
                      AND a.vec_id < b.vec_id
  GROUP BY 1, 2),
scored AS (
  SELECT dots.vec_id AS vec_id, keeper,
         floor((dot / nullif(nk.nrm * nv.nrm, 0.0)) * 1000000.0 + 0.5) / 1000000.0
           AS cos_sim
  FROM dots
  JOIN norms nk ON nk.vec_id = dots.keeper
  JOIN norms nv ON nv.vec_id = dots.vec_id),
nearest AS (
  SELECT vec_id, keeper AS dup_of, cos_sim AS dup_cos
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos_sim DESC, keeper ASC) AS rn
        FROM scored WHERE cos_sim >= {_SEMDEDUP_TAU})
  WHERE rn = 1)
SELECT e.vec_id, e.label, n.dup_of IS NOT NULL AS is_dup, n.dup_of, n.dup_cos
FROM embeddings e LEFT JOIN nearest n ON n.vec_id = e.vec_id
"""


def knn_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer = per-label element-wise mean
    centroid; each query (vec_id < 5) probes ONLY its nearest
    centroid's inverted list (nprobe=1), then exact top-5 by cosine
    inside that list.

    The scale path vs brute force: the corpus is hash-partitioned by
    label once; a query touches |corpus|/n_lists vectors. Centroids
    are a tiny aggregate (broadcast), so the probe is a broadcast
    join — no corpus-wide shuffle per query. Approximate by design:
    neighbors outside the probed list are missed (recall measured in
    tests against knn_cosine_topk).
    """
    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id")
    # element-wise mean per label via posexplode-free aggregate:
    # explode (label, i, x) then avg — one narrow shuffle on label
    ux = e.select(
        "label", F.posexplode("embedding").alias("i", "x")
    ).groupBy("label", "i").agg(F.avg(F.col("x").cast("double")).alias("c"))
    centroids = ux.groupBy("label").agg(
        F.array_sort(F.collect_list(F.struct("i", "c"))).alias("pairs")
    ).select(
        F.col("label").alias("c_label"),
        F.expr("transform(pairs, p -> p.c)").alias("centroid"),
    )
    nrm = F.expr(_NORM.format(v="embedding"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        nrm.alias("qnorm"),
    )
    qc = q.crossJoin(F.broadcast(centroids))
    cos_qc = F.expr(_DOT.format(u="qe", v="centroid")) / (
        F.col("qnorm") * F.expr(_NORM.format(v="centroid"))
    )
    # nearest centroid as a single max(struct) aggregate (best cosine,
    # ties to the LOWEST label via the negated key) — one stage less
    # than the rank-window form, same deterministic assignment
    assigned = (
        qc.select("qid", "qe", "qnorm", "c_label", fround(cos_qc, 9).alias("c_cos"))
        .groupBy("qid", "qe", "qnorm")
        .agg(F.max(F.struct(F.col("c_cos"), (-F.col("c_label")).alias("nl"))).alias("b"))
        .select("qid", "qe", "qnorm", (-F.col("b.nl")).alias("probe_label"))
    )
    # corpus-side norm once per row, not once per (query, row) pair
    cand = e.select("vec_id", "label", "embedding", nrm.alias("cnorm"))
    cos = F.expr(_DOT.format(u="qe", v="embedding")) / (
        F.col("qnorm") * F.col("cnorm")
    )
    scored = (
        cand.join(F.broadcast(assigned), cand.label == F.col("probe_label"))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("neighbor_id"), fround(cos, 6).alias("cos_sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= 5
    )


KNN_COSINE_IVF_SQL = """
WITH ue AS (
  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
centroids AS (
  SELECT label AS c_label, i, avg(x) AS c FROM ue GROUP BY 1, 2),
cnorms AS (SELECT c_label, sqrt(sum(c * c)) AS nrm FROM centroids GROUP BY 1),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ue GROUP BY vec_id),
qdots AS (
  SELECT q.vec_id AS qid, c.c_label, sum(q.x * c.c) AS dot
  FROM ue q JOIN centroids c ON q.i = c.i
  WHERE q.vec_id < 5 GROUP BY 1, 2),
qassign AS (
  SELECT qid, c_label AS probe_label
  FROM (SELECT qid, qdots.c_label AS c_label,
               row_number() OVER (
                 PARTITION BY qid
                 ORDER BY floor((dot / (nq.nrm * nc.nrm)) * 1000000000.0 + 0.5) DESC,
                          qdots.c_label ASC) AS rn
        FROM qdots
        JOIN norms nq ON nq.vec_id = qdots.qid
        JOIN cnorms nc ON nc.c_label = qdots.c_label)
  WHERE rn = 1),
dots AS (
  SELECT a.qid, b.vec_id AS neighbor_id, sum(qa.x * b.x) AS dot
  FROM qassign a
  JOIN ue b ON b.label = a.probe_label
  JOIN ue qa ON qa.vec_id = a.qid AND qa.i = b.i
  WHERE b.vec_id <> a.qid
  GROUP BY 1, 2)
SELECT qid, neighbor_id, cos_sim, rank
FROM (SELECT qid, neighbor_id,
             floor((dot / (na.nrm * nb.nrm)) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY floor((dot / (na.nrm * nb.nrm)) * 1000000.0 + 0.5) DESC,
                        neighbor_id ASC) AS rank
      FROM dots
      JOIN norms na ON na.vec_id = dots.qid
      JOIN norms nb ON nb.vec_id = dots.neighbor_id)
WHERE rank <= 5
"""


# random-hyperplane LSH: 8 deterministic pseudo-random planes over the
# 64-dim space; bucket = sign-bit signature. Closed-form plane values
# so the DuckDB oracle reproduces them exactly:
#   plane(j, i) = ((j*1000003 + i*7919) % 1000) / 1000 - 0.5
_LSH_PLANES = 8
_LSH_DIM = 64  # embedding dim in the parquet schema (TESTDATA.md)
_PLANE = "((({j}) * 1000003 + ({i}) * 7919) % 1000) / 1000.0 - 0.5"


def _lsh_planes_literal(dim: int = _LSH_DIM) -> str:
    """The plane matrix as a SQL literal array<array<double>>.

    Spark's higher-order functions are interpreted, not codegen'd, so
    deriving plane(j, i) arithmetically INSIDE the fold costs
    8×dim extra interpreted ops per row; materializing the constants
    once (Python repr round-trips IEEE doubles exactly, so the values
    are bit-identical to the closed form the DuckDB oracle computes)
    measured 2.2× faster on the corpus bucket pass."""
    rows = (
        "array(" + ",".join(
            repr(((j * 1000003 + i * 7919) % 1000) / 1000.0 - 0.5) + "D"
            for i in range(dim)
        ) + ")"
        for j in range(_LSH_PLANES)
    )
    return "array(" + ",".join(rows) + ")"


def knn_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: sign-of-dot signature against 8 fixed
    hyperplanes buckets the corpus into 256 cells; each query
    (vec_id < 5) probes ONLY its own cell, exact top-5 inside it.

    The third point on the ANN menu (brute force = exactness, IVF =
    learned lists, LSH = data-independent buckets): bucketing is a
    pure per-row projection (no training pass), so ingest is
    one-pass and the probe is a hash join on the bucket id. Queries
    may return fewer than 5 rows when their cell is sparse —
    that is the accuracy/cost trade, surfaced honestly.
    """
    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id")
    # bucket id: sum over planes j of 2^j * (dot(v, plane_j) > 0);
    # plane values are a materialized literal (see _lsh_planes_literal)
    dot_j = (
        f"aggregate(zip_with(embedding, element_at({_lsh_planes_literal()}, j + 1), "
        "(x, p) -> CAST(x AS DOUBLE) * p), "
        "CAST(0 AS DOUBLE), (a, b) -> a + b)"
    )
    bucket = (
        f"aggregate(transform(sequence(0, {_LSH_PLANES - 1}), "
        # the sign test runs on the dot ROUNDED at 1e-9: raw float
        # sums associate differently across engines, and a true dot
        # near 0 could otherwise land in different buckets
        f"j -> CASE WHEN floor(({dot_j}) * 1e9 + 0.5) > 0 "
        "THEN shiftleft(CAST(1 AS BIGINT), j) "
        "ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (a, b) -> a + b)"
    )
    # the materialized plane literal is dim-specific: zip_with against
    # a differently-sized embedding would NULL-pad and silently send
    # every row to bucket 0 — fail loudly instead
    bucket = (
        f"IF(size(embedding) = {_LSH_DIM}, {bucket}, "
        f"raise_error('knn_cosine_lsh: embedding dim != {_LSH_DIM}; "
        f"regenerate the plane literal (_lsh_planes_literal)'))"
    )
    bucketed = e.select(
        "vec_id",
        "embedding",
        F.expr(bucket).alias("bucket"),
        F.expr(_NORM.format(v="embedding")).alias("nrm"),
    )
    q = bucketed.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        "bucket",
        F.col("nrm").alias("qnorm"),
    )
    cos = F.expr(_DOT.format(u="qe", v="embedding")) / (
        F.col("qnorm") * F.col("nrm")
    )
    scored = (
        bucketed.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("neighbor_id"), fround(cos, 6).alias("cos_sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= 5
    )


def _knn_lsh_sql() -> str:
    plane = _PLANE.format(j="j", i="i - 1")
    return f"""
WITH ue AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
dots AS (
  SELECT u.vec_id, p.j, sum(u.x * ({plane})) AS d
  FROM ue u, range(0, {_LSH_PLANES}) p(j)
  GROUP BY 1, 2),
buckets AS (
  SELECT vec_id,
         sum(CASE WHEN floor(d * 1000000000.0 + 0.5) > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS bucket
  FROM dots GROUP BY 1),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ue GROUP BY vec_id),
pairs AS (
  SELECT qb.vec_id AS qid, cb.vec_id AS neighbor_id, sum(qa.x * ca.x) AS dot
  FROM buckets qb
  JOIN buckets cb ON qb.bucket = cb.bucket AND cb.vec_id <> qb.vec_id
  JOIN ue qa ON qa.vec_id = qb.vec_id
  JOIN ue ca ON ca.vec_id = cb.vec_id AND ca.i = qa.i
  WHERE qb.vec_id < 5
  GROUP BY 1, 2)
SELECT qid, neighbor_id, cos_sim, rank
FROM (SELECT qid, neighbor_id,
             floor((dot / (na.nrm * nb.nrm)) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY floor((dot / (na.nrm * nb.nrm)) * 1000000.0 + 0.5) DESC,
                        neighbor_id ASC) AS rank
      FROM pairs
      JOIN norms na ON na.vec_id = pairs.qid
      JOIN norms nb ON nb.vec_id = pairs.neighbor_id)
WHERE rank <= 5
"""


KNN_COSINE_LSH_SQL = _knn_lsh_sql()


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector norm / mean — the aggregate-lambda warm-up for any
    embedding-column pipeline (all JVM-side)."""
    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id")
    sum_ = F.expr(
        "aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE))"
    )
    sumsq = F.expr(
        "aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    )
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").cast("long").alias("dim"),
        fround(F.sqrt(sumsq), 6).alias("l2_norm"),
        fround(sum_ / F.size("embedding"), 6).alias("mean_val"),
    )


EMBEDDING_STATS_SQL = """
WITH ue AS (
  SELECT vec_id, label, len(embedding) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings)
SELECT vec_id, label, CAST(dim AS BIGINT) AS dim,
       floor((sqrt(sum(x * x))) * 1000000.0 + 0.5) / 1000000.0 AS l2_norm,
       floor((sum(x) / dim) * 1000000.0 + 0.5) / 1000000.0 AS mean_val
FROM ue GROUP BY vec_id, label, dim
"""


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization (affine min/max), plus the
    reconstruction MSE that tells an ANN operator whether the
    compressed index is usable — the memory-side scale path: a 100 TB
    float32 embedding corpus drops 4× to int8 codes, which is what
    IVF lists actually store. Pure per-row projection, no shuffle.

    Cross-engine determinism: the quantize/dequantize arithmetic is
    written with the IDENTICAL expression text on both engines
    (floor(t + 0.5) grids, e0-style double literals, same
    parenthesization), so every intermediate double is bit-equal;
    only the final mn/mx/mse surfaces go through fround. Flat
    vectors (mx = mn) quantize to code 0 by definition."""
    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id")
    base = e.select(
        "vec_id",
        F.expr("CAST(size(embedding) AS BIGINT)").alias("dim"),
        F.expr("CAST(array_min(embedding) AS DOUBLE)").alias("mn"),
        F.expr("CAST(array_max(embedding) AS DOUBLE)").alias("mx"),
        "embedding",
    )
    code = (
        "CASE WHEN mx = mn THEN CAST(0 AS BIGINT) "
        "ELSE CAST(floor(((CAST(x AS DOUBLE) - mn) / (mx - mn)) * 255 + 0.5) AS BIGINT) - 128 END"
    )
    codes = f"transform(embedding, x -> {code})"
    recon_err = (
        f"aggregate(zip_with(embedding, {codes}, "
        "(x, c) -> pow(CAST(x AS DOUBLE) - (mn + ((c + 128) * ((mx - mn) / 255e0))), 2)), "
        "CAST(0 AS DOUBLE), (a, b) -> a + b)"
    )
    return base.select(
        "vec_id",
        "dim",
        fround(F.col("mn"), 6).alias("qmin"),
        fround(F.col("mx"), 6).alias("qmax"),
        F.expr(f"concat_ws(',', transform({codes}, c -> CAST(c AS STRING)))").alias(
            "codes"
        ),
        fround(F.expr(recon_err) / F.col("dim"), 9).alias("recon_mse"),
    )


EMBEDDING_QUANTIZE_INT8_SQL = """
WITH ue AS (
  SELECT vec_id, len(embedding) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
mm AS (SELECT vec_id, dim, min(x) AS mn, max(x) AS mx FROM ue GROUP BY 1, 2),
coded AS (
  SELECT u.vec_id, mm.dim, mm.mn, mm.mx, u.i, u.x,
         CASE WHEN mm.mx = mm.mn THEN CAST(0 AS BIGINT)
              ELSE CAST(floor(((u.x - mm.mn) / (mm.mx - mm.mn)) * 255 + 0.5) AS BIGINT) - 128
         END AS c
  FROM ue u JOIN mm USING (vec_id)),
agg AS (
  SELECT vec_id, dim, mn, mx,
         string_agg(CAST(c AS VARCHAR), ',' ORDER BY i) AS codes,
         sum(pow(x - (mn + ((c + 128) * ((mx - mn) / 255e0))), 2)) AS sse
  FROM coded GROUP BY 1, 2, 3, 4)
SELECT vec_id, CAST(dim AS BIGINT) AS dim,
       floor(mn * 1000000.0 + 0.5) / 1000000.0 AS qmin,
       floor(mx * 1000000.0 + 0.5) / 1000000.0 AS qmax,
       codes,
       floor((sse / dim) * 1000000000.0 + 0.5) / 1000000000.0 AS recon_mse
FROM agg
"""


# ------------------------------------------------------------------
# Random projection (Johnson-Lindenstrauss dimensionality reduction)
# ------------------------------------------------------------------

_JL_OUT = 16  # 64 -> 16 dims
# deterministic ±1 sign for matrix cell k = j*64 + i: bit 16 of a
# Knuth multiplicative hash — the same closed form evaluates in both
# engines, so no literal matrix string needs shipping or syncing
_JL_SIGN_SPARK = (
    "CASE WHEN ((({k}) * 2654435761) % 2147483648) div 65536 % 2 = 1 "
    "THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END"
)
_JL_SIGN_DUCK = (
    "CASE WHEN (((({k}) * 2654435761) % 2147483648) // 65536) % 2 = 1 "
    "THEN 1.0 ELSE -1.0 END"
)


# ------------------------------------------------------------------
# PCA top component: integer-exact Gram + unrolled power iteration
# ------------------------------------------------------------------

_PCA_D = 64  # embedding dim
_PCA_Q = 1e6  # element quantization (micro-units); at corpora past
# ~9M rows the int64 product-sum headroom needs 1e3 units instead —
# a constant swap, documented, not a plan change
_PCA_ITERS = 24


def pca_cells(vecs: DataFrame) -> DataFrame:
    """(embedding) -> the MERGEABLE integer PCA state as a single
    (idx, val) cell frame: idx 0..d²-1 the outer-product cells, idx
    d²..d²+d-1 the per-dimension sums, idx d²+d the vector count —
    one posexplode of one concatenated array, folded by plain SUM
    (associative + commutative, so per-partition / per-micro-batch
    cell frames merge by addition; the streaming Gram ledger rides on
    exactly this). One corpus pass, map-side combined to ≤ d²+d+1
    rows per partition before the exchange."""
    q = vecs.filter(F.size("embedding") == _PCA_D).select(
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {_PCA_Q} + 0.5) AS BIGINT))"
        ).alias("xq")
    )
    return (
        q.select(
            F.posexplode(
                F.expr(
                    "concat(flatten(transform(xq, x -> transform(xq, y -> x * y))), "
                    "xq, array(CAST(1 AS BIGINT)))"
                )
            ).alias("idx", "v")
        )
        .groupBy("idx")
        .agg(F.sum("v").alias("val"))
    )


def pca_cells_to_one(cells: DataFrame) -> DataFrame:
    """(idx, val) cell frame -> the 1-row centered-Gram frame
    (gc: array<double>) that pca_iterate consumes: Gc =
    (G - s·sᵀ/n)/Q², assembled from the ordered cell array."""
    d = _PCA_D
    arr = cells.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(idx, val))), p -> p.val)"
        ).alias("a")
    )
    return arr.select(
        F.expr(
            f"transform(sequence(0, {d * d - 1}), k -> "
            f"(CAST(element_at(a, CAST(k + 1 AS INT)) AS DOUBLE) "
            f" - CAST(element_at(a, CAST({d * d} + k DIV {d} + 1 AS INT)) AS DOUBLE) "
            f"   * CAST(element_at(a, CAST({d * d} + k % {d} + 1 AS INT)) AS DOUBLE) "
            f"   / CAST(element_at(a, {d * d + d + 1}) AS DOUBLE)) "
            f"/ {_PCA_Q * _PCA_Q})"
        ).alias("gc")
    )


def _pca_gram_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale half of pca_top_component: one pass folding
    outer products + dimension sums + count into the mergeable cell
    frame, then algebraic centering — one row out, holding the
    centered Gram as an ordered d²-double array. Separate so the plan
    gate can explain THIS stage (the catalog query checkpoints it
    before the iterate loop, which hides it from the final
    explain)."""
    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id")
    return pca_cells_to_one(pca_cells(e))


def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration — PCA as a Catalyst plan, no MLlib, no driver-side
    linear algebra. Three stages:

    1. GRAM: one pass folds every vector's d² outer product into the
       4096-cell integer Gram matrix (_pca_gram_frame). Elements are
       quantized to integer micro-units first, so the corpus-scale
       sum is exact integer algebra (order-free — the TWA lesson
       applied to linear algebra); map-side partials reduce every
       partition to ≤ d² rows before the exchange, so shuffle volume
       is partitions·d², not corpus·d².
    2. CENTER algebraically: Gc = (G - s·sᵀ/n)/Q² from the same
       pass's per-dimension sums s — no second scan to subtract a
       mean vector.
    3. ITERATE on one row: {_PCA_ITERS} unrolled power steps over the
       4096-double array, each a sequence()/aggregate() lambda fold.
       Every float op is a left fold in declared order from identical
       integers, so Spark and DuckDB walk bit-identical doubles (the
       fold starts at 0.0 and IEEE 0.0+x == x, so Spark's
       init-accumulator fold equals DuckDB's first-element
       list_reduce).

    Output: (dim_idx, loading, eigenvalue, explained_var_ratio) — the
    eigenvalue is the final iterate's norm (‖Gc·b‖ with ‖b‖=1 — its
    Rayleigh quotient, a certified LOWER bound on λ1 that is tight
    exactly as fast as the eigengap allows), the ratio λ/trace(Gc).
    Iteration count is fixed (no data-dependent convergence probe):
    the iterate is the exact T-step power polynomial Gcᵀ…b₀/‖·‖,
    which numpy replicates bit-for-bit from the same quantized Gram
    (pytest), and the oracle asserts cross-engine equality of the
    whole pipeline. On a corpus whose embedding spectrum has a real
    dominant direction — the practical case PCA is run for —
    T={_PCA_ITERS} converges geometrically; on near-isotropic noise
    (this synthetic lake: λ2/λ1 ≈ 0.99) the iterate still reports its
    honest lower bound (pytest asserts ≥ 0.9·λ1 here). d and T are
    constants, so the iterate stage is O(1) work on a 1-row frame at
    any corpus size.
    """
    return pca_iterate(_pca_gram_frame(spark, sf_dir))


def pca_iterate(one: DataFrame) -> DataFrame:
    """The iterate half of pca_top_component: power-iterate a 1-row
    (gc: array<double>) centered-Gram frame to the top component.
    Shared with the streaming Gram ledger (streaming/jobs.py), which
    feeds a sum-merged ledger Gram through the identical steps."""
    # chain per-step columns with a localCheckpoint barrier after each
    # iteration: without the barrier CollapseProject substitutes nb
    # back into b and the expression tree grows 4^T (measured: OOM at
    # T=12). Every checkpoint is a 1-row, (d²+2d)-double frame — the
    # Gram pass runs ONCE (first checkpoint) and each later step is a
    # millisecond job on that row.
    it = one.withColumn(
        "b", F.expr(f"transform(sequence(0, {_PCA_D - 1}), i -> 0.125D)")
    ).localCheckpoint()
    nb_expr = (
        f"transform(sequence(0, {_PCA_D - 1}), i -> "
        f"aggregate(sequence(0, {_PCA_D - 1}), 0D, (acc, j) -> "
        f"acc + element_at(gc, CAST(i * {_PCA_D} + j + 1 AS INT)) "
        f"* element_at(b, CAST(j + 1 AS INT))))"
    )
    # r14 (guide §1.2 — fewer driver round-trips): the per-step
    # barrier stays (it is LOAD-BEARING for evaluation, not just plan
    # size: without it Catalyst substitutes b's expression into every
    # element_at of the next step's fold and re-evaluates it per
    # access — a measured ~8x blowup at 2-3 steps per barrier) but
    # becomes LAZY: localCheckpoint(eager=False) truncates the
    # lineage identically while deferring execution, so all
    # {_PCA_ITERS} step RDDs materialize inside the consumer's ONE
    # action instead of costing a scheduler round-trip job each.
    # Interleaved A/B: 0.47x on a degraded scheduler, 0.85x idle;
    # rows byte-identical (same expressions, same IEEE order — only
    # WHEN they run changes), pinned by numpy-parity + oracle hash.
    for _ in range(_PCA_ITERS):
        it = (
            it.withColumn("nb", F.expr(nb_expr))
            .withColumn(
                "b",
                F.expr(
                    "transform(nb, x -> x / sqrt(aggregate(nb, 0D, (acc, y) -> acc + y * y)))"
                ),
            )
            .localCheckpoint(eager=False)
        )
    final = it.select(
        "b",
        F.expr("sqrt(aggregate(nb, 0D, (acc, y) -> acc + y * y))").alias(
            "eigenvalue"
        ),
        F.expr(
            f"aggregate(sequence(0, {_PCA_D - 1}), 0D, (acc, i) -> "
            f"acc + element_at(gc, CAST(i * {_PCA_D} + i + 1 AS INT)))"
        ).alias("trace"),
    )
    return final.select(
        F.posexplode("b").alias("dim_idx", "loading_raw"),
        "eigenvalue",
        "trace",
    ).select(
        F.col("dim_idx").cast("long").alias("dim_idx"),
        fround(F.col("loading_raw"), 6).alias("loading"),
        fround(F.col("eigenvalue"), 4).alias("eigenvalue"),
        fround(F.col("eigenvalue") / F.col("trace"), 6).alias(
            "explained_var_ratio"
        ),
    )


def _pca_sql() -> str:
    d = _PCA_D
    # chained CTEs (it0 -> n1/it1 -> ...) so each step names the
    # previous column — no textual 4^T expression blowup
    steps = ["it0 AS (SELECT gc, list_transform(range(0, %d), i -> 0.125) AS b FROM one)" % d]
    for t in range(1, _PCA_ITERS + 1):
        steps.append(
            f"n{t} AS (SELECT gc, "
            f"list_transform(range(0, {d}), i -> "
            f"list_reduce(list_transform(range(0, {d}), j -> "
            f"gc[CAST(i * {d} + j + 1 AS INT)] * b[CAST(j + 1 AS INT)]), "
            f"(a, x) -> a + x)) AS nb FROM it{t - 1})"
        )
        steps.append(
            f"it{t} AS (SELECT gc, nb, "
            f"list_transform(nb, x -> x / sqrt(list_reduce("
            f"list_transform(nb, y -> y * y), (a, x) -> a + x))) AS b "
            f"FROM n{t})"
        )
    chain = ",\n".join(steps)
    last = f"it{_PCA_ITERS}"
    return f"""
WITH q AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_PCA_Q} + 0.5) AS BIGINT)) AS xq
  FROM embeddings WHERE len(embedding) = {d}),
flat AS (
  SELECT flatten(list_transform(xq, x -> list_transform(xq, y -> x * y))) AS f,
         xq
  FROM q),
cells AS (
  SELECT unnest(range(0, {d * d})) AS k, f FROM flat),
gram AS (
  SELECT k, sum(f[CAST(k + 1 AS INT)]) AS g FROM cells GROUP BY k),
gq AS (SELECT list(g ORDER BY k) AS gq FROM gram),
dims AS (
  SELECT unnest(range(0, {d})) AS i, xq FROM q),
sums AS (
  SELECT i, sum(xq[CAST(i + 1 AS INT)]) AS s, count(*) AS cnt
  FROM dims GROUP BY i),
sq AS (SELECT list(s ORDER BY i) AS sq, max(cnt) AS n FROM sums),
one AS (
  SELECT list_transform(range(0, {d * d}), k ->
           (CAST(gq[CAST(k + 1 AS INT)] AS DOUBLE)
            - CAST(sq[CAST(k // {d} + 1 AS INT)] AS DOUBLE)
              * CAST(sq[CAST(k % {d} + 1 AS INT)] AS DOUBLE) / CAST(n AS DOUBLE))
           / {_PCA_Q * _PCA_Q}) AS gc
  FROM gq, sq),
{chain},
final AS (
  SELECT b,
         sqrt(list_reduce(list_transform(nb, y -> y * y), (a, x) -> a + x))
           AS eigenvalue,
         list_reduce(list_transform(range(0, {d}),
           i -> gc[CAST(i * {d} + i + 1 AS INT)]), (a, x) -> a + x) AS trace
  FROM {last})
SELECT CAST(i AS BIGINT) AS dim_idx,
       floor(b[CAST(i + 1 AS INT)] * 1000000.0 + 0.5) / 1000000.0 AS loading,
       floor(eigenvalue * 10000.0 + 0.5) / 10000.0 AS eigenvalue,
       floor(eigenvalue / trace * 1000000.0 + 0.5) / 1000000.0
         AS explained_var_ratio
FROM final, (SELECT unnest(range(0, {d})) AS i) ix
"""


PCA_TOP_COMPONENT_SQL = _pca_sql()


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims with a
    deterministic ±1 sign matrix — the dimensionality-reduction step
    ahead of LSH/IVF at corpus scale (4x cheaper distances, 4x
    smaller index memory, pairwise distances preserved within JL
    distortion). Also emits norm_ratio = ||Px||/(sqrt(16)·||x||),
    whose concentration around 1 IS the JL property
    (tests/test_ann.py asserts it).

    Plan shape: pure per-row projection — 16 JVM fold expressions
    over the embedding array, no shuffle, no UDF; the sign matrix is
    a closed-form hash so nothing is broadcast or joined.
    """
    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id")
    dims = ", ".join(
        "aggregate(zip_with(embedding, sequence(0, 63), (x, i) -> "
        f"CAST(x AS DOUBLE) * ({_JL_SIGN_SPARK.format(k=f'{j} * 64 + i')})), "
        "CAST(0 AS DOUBLE), (a, b) -> a + b)"
        for j in range(_JL_OUT)
    )
    t = e.select(
        "vec_id",
        F.expr(f"array({dims})").alias("p"),
        F.expr(_NORM.format(v="embedding")).alias("nrm"),
    )
    cols = [fround(F.expr(f"p[{j}]"), 6).alias(f"p{j}") for j in range(_JL_OUT)]
    ratio = fround(
        F.expr(
            f"sqrt(aggregate(transform(p, v -> v * v), CAST(0 AS DOUBLE), "
            f"(a, b) -> a + b) / {_JL_OUT}.0)"
        )
        / F.col("nrm"),
        6,
    )
    return t.select("vec_id", *cols, ratio.alias("norm_ratio"))


# ORDER BY i inside every aggregate: the Spark side accumulates with
# an ordered fold (i = 0..63 ascending), and double addition is not
# associative — an engine-defined summation order could land a
# half-ulp away and flip a digit on the floor(x*1e6+0.5) grid, failing
# driver parity nondeterministically. The ordered-aggregate modifier
# pins DuckDB to the same ascending-subscript accumulation.
_JL_P_SUMS = ",\n    ".join(
    f"sum(x * ({_JL_SIGN_DUCK.format(k=f'{j} * 64 + (i - 1)')}) ORDER BY i) AS rp{j}"
    for j in range(_JL_OUT)
)
_JL_P_ROUND = ",\n  ".join(
    f"floor(rp{j} * 1000000.0 + 0.5) / 1000000.0 AS p{j}" for j in range(_JL_OUT)
)
_JL_SQ = " + ".join(f"rp{j} * rp{j}" for j in range(_JL_OUT))
EMBEDDING_RANDOM_PROJECTION_SQL = f"""
WITH ue AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
proj AS (
  SELECT vec_id,
    {_JL_P_SUMS},
    sqrt(sum(x * x ORDER BY i)) AS nrm
  FROM ue GROUP BY vec_id)
SELECT vec_id,
  {_JL_P_ROUND},
  floor((sqrt(({_JL_SQ}) / {_JL_OUT}.0) / nrm) * 1000000.0 + 0.5) / 1000000.0
    AS norm_ratio
FROM proj
"""


def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER text normalization (lowercase, strip
    non-alphanumerics, collapse whitespace) — catches trivially
    reformatted duplicates exact-hash dedup misses. The
    normalization chain is pure Catalyst string ops; the groupBy key
    is the digest of the normalized text, never the body."""
    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        d.select("doc_id", F.md5(norm).alias("norm_fp"))
        .groupBy("norm_fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dupes"))
    )


DEDUP_NORMALIZED_SQL = """
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g'))) AS norm_fp,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_dupes
FROM documents GROUP BY 1
"""


def top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms by document frequency per source block (text
    analysis: explode distinct words → df counts → per-source rank
    window). The TF ranking every corpus-quality dashboard needs; at
    100 TB the only wide shuffle is the (source, word) count, which
    map-side combines."""
    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    tokens = d.select(
        "source", F.explode(F.array_distinct(F.split("text", " "))).alias("word")
    )
    counts = tokens.groupBy("source", "word").agg(F.count("*").alias("df"))
    w = Window.partitionBy("source").orderBy(F.desc("df"), F.asc("word"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


TOP_TERMS_PER_SOURCE_SQL = """
WITH tokens AS (
  SELECT source, unnest(list_distinct(string_split(text, ' '))) AS word
  FROM documents),
counts AS (SELECT source, word, count(*) AS df FROM tokens GROUP BY 1, 2)
SELECT source, word, df, rank
FROM (SELECT source, word, df,
             row_number() OVER (PARTITION BY source
                                ORDER BY df DESC, word ASC) AS rank
      FROM counts)
WHERE rank <= 5
"""


def component_labels(
    spark: SparkSession, sf_dir: str, hops_per_round: int = 1
) -> DataFrame:
    """Connected-component labels (doc_id, label) over the MinHash-LSH
    candidate graph; label = min doc_id of the component.

    Iterative min-label propagation: every doc starts labeled with
    its own id; each round joins labels across candidate edges
    (both directions) and takes the min; stops when no label
    changes. Converges in O(graph diameter) rounds — near-dup
    graphs are collections of small cliques, so 2-3 rounds in
    practice. Each round is one broadcast-sized join + groupBy at
    candidate-graph scale (≪ corpus scale); localCheckpoint breaks
    the growing lineage. Only docs that appear in at least one
    candidate pair are labeled (singletons are their own trivial
    groups and never need deduplication).

    `hops_per_round` chains that many propagation joins into ONE
    materialized round (one localCheckpoint + one convergence probe
    per round instead of one per hop). The fixpoint is identical for
    any value — labels are monotone decreasing and each hop is the
    same min-fold (law-tested in tests/test_dedup_groups.py). On a
    chain-shaped graph of diameter d the materialized-round count
    drops from ~d to ~ceil(d/hops). Locally this buys nothing
    (SCALING.md "Connected components on a diameter-13 graph":
    per-round cost is join-dominated, so folding k steps scales the
    round by ~k — 3-step fold measured 6.4 s vs plain 6.5 s), which
    is why the default stays 1; on a real cluster, where per-job
    scheduling + eager-checkpoint latency dwarfs the incremental
    join on a candidate-scale graph, hops_per_round=3-4 is the knob
    to turn before reaching for component_labels_logstep.
    """
    pairs = minhash_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).localCheckpoint(eager=False)  # the LSH pipeline runs ONCE, not
    # per round (r14: lazily — round 1's convergence job materializes
    # it; one fewer driver round-trip)
    # round-0 hook folded into initialization: every node starts at
    # min(itself, its neighbors) — the same aggregation that would
    # otherwise be the first loop iteration, saving one full round of
    # checkpoint+count job latency (cliques then converge in 1 round
    # plus the confirming pass)
    labels = (
        edges.groupBy("doc_a")
        .agg(F.least(F.min("doc_b"), F.col("doc_a")).alias("label"))
        .select(F.col("doc_a").alias("doc_id"), "label")
    )
    max_rounds = 50  # diameter bound; near-dup cliques converge in ~2
    converged = False
    for _ in range(max_rounds):
        # chain `hops_per_round` propagation joins lazily, then
        # materialize ONCE; `label0` carries the round-start label so
        # the convergence signal still rides inside the propagation
        # job (the r4 advice) — labels only ever decrease, so
        # "changed" ⇔ final label < round-start label
        cur = labels.select("doc_id", "label", F.col("label").alias("label0"))
        for _h in range(hops_per_round):
            neighbor_min = (
                edges.join(
                    cur.select("doc_id", "label"),
                    edges.doc_b == F.col("doc_id"),
                )
                .groupBy("doc_a")
                .agg(F.min("label").alias("nlabel"))
            )
            cur = (
                cur.join(neighbor_min, cur.doc_id == neighbor_min.doc_a, "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                    ).alias("label"),
                    "label0",
                )
            )
        # r14: LAZY checkpoint — the convergence count right below is
        # the materializing action, so each round costs ONE job
        # instead of an eager-checkpoint job plus a count job; the
        # count still scans the persisted round output, and later
        # rounds read the same pinned RDD (the pca lazy-barrier move)
        new_labels = cur.select(
            "doc_id",
            "label",
            (F.col("label") < F.col("label0")).alias("changed"),
        ).localCheckpoint(eager=False)
        changed = new_labels.filter("changed").limit(1).count()
        labels = new_labels.select("doc_id", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        # a silent early exit would emit one component as several
        # groups with no error — fail loudly instead
        raise RuntimeError(
            f"component_labels: label propagation did not converge in "
            f"{max_rounds} rounds (candidate graph diameter too large)"
        )
    return labels


def component_labels_logstep(
    edges: DataFrame, max_rounds: int = 40
) -> DataFrame:
    """Connected-component labels via min-hook + pointer-jumping —
    the large-diameter alternative to `component_labels`' plain
    propagation. Input: an edge list (doc_a, doc_b), any orientation.
    Output: (doc_id, label) with label = component min, for every
    node that appears in an edge.

    Each round does two keyed joins instead of one:
      hook      p'(v)  = min(p(v), min over neighbors' p)   (as in
                component_labels)
      compress  p''(v) = p'(p'(v))                          (jump to
                the parent's parent)
    Compression halves pointer-chain depth every round, so the loop
    converges in O(log diameter) rounds instead of O(diameter) — the
    difference between 7 and 100 cluster-scheduled jobs on a
    100-node chain (near-dup graphs are clique-ish, where the plain
    loop already wins; path-compression is for adversarial/chained
    corpora — think boilerplate A~B, B~C, ... across a crawl).
    Labels only ever decrease and never leave the component, so the
    fixpoint equals component_labels' exactly (property-tested
    against union-find ground truth in tests/test_dedup_groups.py).
    """
    e = edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    e = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # r14: lazy — round 1's convergence job materializes it
        .localCheckpoint(eager=False)
    )
    # same init-hook as component_labels: start at min(self, neighbors)
    labels = (
        e.groupBy("u")
        .agg(F.least(F.min("v"), F.col("u")).alias("label"))
        .select(F.col("u").alias("doc_id"), "label")
    )
    converged = False
    for _ in range(max_rounds):
        # `label0` carries the round-start label through hook+compress
        # so ONE probe answers "did anything change this round" —
        # labels are monotone decreasing under both steps, so
        # changed ⇔ final < round-start. The previous shape probed
        # compression jumps first and then, on quiescence, ran an
        # extra old-vs-new JOIN + count job just to see hook-only
        # changes (r13; the same r4 trick component_labels uses).
        cur = labels.select("doc_id", "label", F.col("label").alias("label0"))
        nbr_min = (
            e.join(cur.select("doc_id", "label"), e.v == F.col("doc_id"))
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        hooked = (
            cur.join(nbr_min, cur.doc_id == nbr_min.u, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
                "label0",
            )
        )
        parent = hooked.select(
            F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
        )
        compressed = (
            hooked.join(parent, hooked.label == parent.p_id, "left")
            .select(
                "doc_id",
                F.coalesce(F.col("p_label"), F.col("label")).alias("label"),
                (
                    F.coalesce(F.col("p_label"), F.col("label"))
                    < F.col("label0")
                ).alias("changed"),
            )
            # r14: LAZY checkpoint — the convergence count below is
            # the materializing action (one job per round, not two)
            .localCheckpoint(eager=False)
        )
        changed = compressed.filter("changed").limit(1).count()
        labels = compressed.select("doc_id", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"component_labels_logstep: no convergence in {max_rounds} rounds"
        )
    return labels


def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate GROUPS via iterative connected components over the
    MinHash-LSH candidate graph — the step after candidate pairs
    that an actual dedup pipeline needs (keep one doc per group).

    Oracle: DEDUP_GROUPS_SQL expresses the same fixpoint as a DuckDB
    recursive-CTE transitive closure; exactness is additionally
    pytest-verified against a union-find ground truth. See
    component_labels for the propagation loop and its scale shape;
    plans/corpus.py::dedup_keep_best selects a quality-aware
    representative over the same labels."""
    labels = component_labels(spark, sf_dir)
    return (
        labels.groupBy("label")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").cast("long").alias("group_size"),
            # Serialized to a CSV string, not array<long>: the driver's
            # canonicalizer sorts/hashes pandas columns and dies on
            # ndarray cells. sort_array first, so the string is
            # deterministic; numeric member order is preserved inside it.
            F.concat_ws(
                ",",
                F.sort_array(F.collect_list("doc_id")).cast("array<string>"),
            ).alias("members"),
        )
        .select("keep_doc_id", "group_size", "members")
    )


_PQ_M = 8  # subspaces
_PQ_SUB = 8  # dims per subspace (embeddings are 64-dim)
_PQ_K = 32  # centroids per subspace (seeded, deterministic)
# M/K sweep on the sf0.001 embeddings (numpy, r6): (4,16) recall@5
# 0.225, (8,16) 0.250, (8,32) 0.325, (16,64) 0.500 — these synthetic
# embeddings are label-clustered noise (COVERAGE.md), so ADC recall
# saturates early; 8x32 is the knee where codes are still 8 bytes.


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization codes — the layout billion-scale ANN
    actually serves from (Jégou et al., IVFADC): each 64-dim vector
    splits into {_PQ_M} subvectors of {_PQ_SUB} dims; each subvector
    is assigned to its nearest of {_PQ_K} per-subspace centroids, so
    a vector compresses to {_PQ_M} bytes (+ the shared codebook)
    instead of 256. Output: (vec_id, code_0..code_{_PQ_M - 1},
    sq_err) with sq_err the total squared reconstruction error — the
    quantization-quality report.

    Determinism (no RNG to ship or reproduce): the codebook is the
    subvectors of the {_PQ_K} lowest-id vectors (same seeding rule as
    build_ivf_index); distances grid-round at 1e-9 before the argmin
    so ties break identically on both engines, then lowest centroid
    id. A Lloyd refinement of the codebook is the same iteration
    build_ivf_index already implements.

    100 TB shape: the codebook is {_PQ_K} rows and BROADCASTS (the
    crossJoin is a BroadcastNestedLoopJoin against {_PQ_K} rows —
    bounded by construction); per-vector work is row-local expression
    math inside codegen; one groupBy(vec_id) argmin aggregate whose
    map-side partials reduce the {_PQ_K}-way scored rows before the
    shuffle. No corpus-side wide exchange anywhere.
    """
    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "embedding"
    )
    w = Window.orderBy("vec_id")
    cent = (
        e.orderBy("vec_id")
        .limit(_PQ_K)
        .select(F.row_number().over(w).alias("cid"), F.col("embedding").alias("c"))
    )

    def dist(j: int):
        lo = j * _PQ_SUB + 1
        return fround(
            F.expr(
                # index-fold form (r12, the ann_index pq_j rewrite):
                # zero per-pair array allocation, identical add order
                f"aggregate(sequence({lo}, {lo + _PQ_SUB - 1}), "
                f"CAST(0 AS DOUBLE), "
                f"(a, i) -> a + (CAST(element_at(embedding, i) AS DOUBLE) "
                f"- CAST(element_at(c, i) AS DOUBLE)) "
                f"* (CAST(element_at(embedding, i) AS DOUBLE) "
                f"- CAST(element_at(c, i) AS DOUBLE)))"
            ),
            9,
        ).alias(f"d{j}")

    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid", *[dist(j) for j in range(_PQ_M)]
    )
    agg = scored.groupBy("vec_id").agg(
        *[
            F.min(
                F.struct(F.col(f"d{j}").alias("d"), F.col("cid").alias("cc"))
            ).alias(f"m{j}")
            for j in range(_PQ_M)
        ]
    )
    total = F.col("m0.d")
    for j in range(1, _PQ_M):
        total = total + F.col(f"m{j}.d")
    return agg.select(
        "vec_id",
        *[F.col(f"m{j}.cc").cast("int").alias(f"code_{j}") for j in range(_PQ_M)],
        fround(total, 6).alias("sq_err"),
    )


def _pq_dist_sql(j: int, vec: str = "e.embedding") -> str:
    lo = j * _PQ_SUB
    return (
        f"floor(list_sum(list_transform(range(1, {_PQ_SUB + 1}), "
        f"i -> (CAST({vec}[{lo} + i] AS DOUBLE) - CAST(c.c[{lo} + i] AS DOUBLE))"
        f" * (CAST({vec}[{lo} + i] AS DOUBLE) - CAST(c.c[{lo} + i] AS DOUBLE))))"
        f" * 1000000000.0 + 0.5) / 1000000000.0"
    )


# CTE block shared by EMBEDDING_PQ_CODES_SQL and KNN_PQ_ADC_SQL:
# `codes` ends as (vec_id, code_0.., md0.. per-subspace min distances)
_PQ_CODES_CTES = f"""cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS cid, embedding AS c
  FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}),
pq_scored AS (
  SELECT e.vec_id, c.cid,
         {', '.join(f'{_pq_dist_sql(j)} AS d{j}' for j in range(_PQ_M))}
  FROM embeddings e, cent c),
pq_agg AS (
  SELECT vec_id, {', '.join(f'min(d{j}) AS md{j}' for j in range(_PQ_M))}
  FROM pq_scored GROUP BY 1),
codes AS (
  SELECT a.vec_id,
         {', '.join(f'CAST(min(CASE WHEN s.d{j} = a.md{j} THEN s.cid END) AS INT) AS code_{j}' for j in range(_PQ_M))},
         {', '.join(f'any_value(a.md{j}) AS md{j}' for j in range(_PQ_M))}
  FROM pq_agg a JOIN pq_scored s USING (vec_id)
  GROUP BY a.vec_id)"""

EMBEDDING_PQ_CODES_SQL = f"""
WITH {_PQ_CODES_CTES}
SELECT vec_id,
       {', '.join(f'code_{j}' for j in range(_PQ_M))},
       floor(({' + '.join(f'md{j}' for j in range(_PQ_M))}) * 1000000.0 + 0.5)
         / 1000000.0 AS sq_err
FROM codes
"""


_ADC_NQ = 8  # query vectors (vec_id < _ADC_NQ), matching the knn tier
_ADC_K = 5


def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance k-NN over the PQ codes (the ADC half of
    IVFADC, Jégou et al.): each query precomputes a distance TABLE —
    its L2² to all {_PQ_K} centroids per subspace, {_PQ_M}·{_PQ_K}
    numbers — and every corpus vector is then scored by {_PQ_M} table
    LOOKUPS on its codes instead of a {_PQ_M * _PQ_SUB}-dim float
    computation. Top-{_ADC_K} per query by ADC distance; the
    approximation error vs exact L2 is exactly the quantization error
    embedding_pq_codes reports.

    Cross-engine determinism: per-(query, subspace, centroid) table
    entries round to integer MICRO-units, so the ADC sum is an
    INTEGER sum — associative and order-free, immune to the
    float-summation-order hazards the JL oracle hit in r4 — and the
    ranking's (adc_micro, vec_id) order is total.

    100 TB shape (r14, guide §2.3/§2.4): each query's whole distance
    table is ONE broadcast array row ({_PQ_M}·{_PQ_K} integers,
    j-major), and every corpus row scores itself by {_PQ_M} row-local
    element_at lookups on its codes — the corpus side never melts and
    never shuffles an intermediate; the only corpus-scale exchange
    left is the per-query top-{_ADC_K} window. (The previous form
    melted codes to {_PQ_M} rows/vector and paid a
    (qid, vec_id)-keyed integer-sum shuffle of
    |queries|·|corpus|·{_PQ_M} rows; the lookup-fold is bit-identical
    — integer table entries at identical positions — and is the same
    scoring shape ann_index.probe_ivf_adc serves with. A/B 0.81x.)
    On a real deployment the codes come from the persisted IVF index
    (ann_index.py stores them) and the probe prunes lists first —
    this catalog form scores the whole corpus so the oracle can too.
    """
    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "embedding"
    )
    w = Window.orderBy("vec_id")
    cent = (
        e.orderBy("vec_id")
        .limit(_PQ_K)
        .select(F.row_number().over(w).alias("cid"), F.col("embedding").alias("c"))
    )
    cba = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("cbk")
    )

    def dm_row(j: int) -> str:
        lo = j * _PQ_SUB + 1
        d = (
            # index-fold form (r12): see dist() above
            f"aggregate(sequence({lo}, {lo + _PQ_SUB - 1}), "
            f"CAST(0 AS DOUBLE), "
            f"(a, i) -> a + (CAST(element_at(embedding, i) AS DOUBLE) "
            f"- CAST(element_at(e.c, i) AS DOUBLE)) "
            f"* (CAST(element_at(embedding, i) AS DOUBLE) "
            f"- CAST(element_at(e.c, i) AS DOUBLE)))"
        )
        # identical micro-unit rounding to the old dist_micro: grid at
        # 1e-9 (fround 9), then floor to integer micro-units
        return (
            f"transform(cbk, e -> CAST(floor((floor(({d}) * 1000000000.0 "
            f"+ 0.5) / 1000000000.0) * 1000000.0 + 0.5) AS BIGINT))"
        )

    queries = e.filter(F.col("vec_id") < _ADC_NQ).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    tbl = queries.crossJoin(F.broadcast(cba)).select(
        "qid",
        F.expr(
            "flatten(array(" + ", ".join(dm_row(j) for j in range(_PQ_M)) + "))"
        ).alias("tbl"),
    )

    codes = embedding_pq_codes(spark, sf_dir)
    adc = F.expr(
        "CAST("
        + " + ".join(
            f"element_at(tbl, {j * _PQ_K} + CAST(code_{j} AS INT))"
            for j in range(_PQ_M)
        )
        + " AS BIGINT)"
    )
    scored = (
        codes.crossJoin(F.broadcast(tbl))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", adc.alias("adc_micro"))
    )
    wr = Window.partitionBy("qid").orderBy(F.asc("adc_micro"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _ADC_K)
        .select("qid", F.col("vec_id").alias("neighbor_id"), "adc_micro", "rank")
    )


def _adc_td_sql(j: int) -> str:
    return (
        f"CAST(floor({_pq_dist_sql(j, 'q.embedding')} * 1000000.0 + 0.5) AS BIGINT)"
    )


KNN_PQ_ADC_SQL = f"""
WITH {_PQ_CODES_CTES},
code_melt AS (
  {' UNION ALL '.join(f'SELECT vec_id, {j} AS j, code_{j} AS cid FROM codes' for j in range(_PQ_M))}),
q AS (
  SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < {_ADC_NQ}),
td AS (
  SELECT q.qid, c.cid,
         {', '.join(f'{_adc_td_sql(j)} AS dm{j}' for j in range(_PQ_M))}
  FROM q, cent c),
td_melt AS (
  {' UNION ALL '.join(f'SELECT qid, cid, {j} AS j, dm{j} AS dm FROM td' for j in range(_PQ_M))}),
scored AS (
  SELECT t.qid, m.vec_id, CAST(sum(t.dm) AS BIGINT) AS adc_micro
  FROM code_melt m JOIN td_melt t ON m.j = t.j AND m.cid = t.cid
  WHERE m.vec_id != t.qid
  GROUP BY 1, 2)
SELECT qid, vec_id AS neighbor_id, adc_micro, rank FROM (
  SELECT qid, vec_id, adc_micro,
         CAST(row_number() OVER (
           PARTITION BY qid ORDER BY adc_micro ASC, vec_id ASC) AS BIGINT) AS rank
  FROM scored)
WHERE rank <= {_ADC_K}
"""


def dedup_groups_logstep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_groups computed through the O(log diameter)
    pointer-jumping path (component_labels_logstep) instead of plain
    min-label propagation — identical fixpoint, identical output,
    same DEDUP_GROUPS_SQL oracle, so the large-diameter escape hatch
    carries driver evidence and not just the union-find property
    tests. See component_labels_logstep for when each path wins (the
    measured crossover discussion lives in SCALING.md)."""
    edges = minhash_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    labels = component_labels_logstep(edges)
    return (
        labels.groupBy("label")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").cast("long").alias("group_size"),
            F.concat_ws(
                ",",
                F.sort_array(F.collect_list("doc_id")).cast("array<string>"),
            ).alias("members"),
        )
        .select("keep_doc_id", "group_size", "members")
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload media pipeline: documents → opaque binary
    payload + typed metadata → Arrow-batched mapInPandas feature
    extraction (chess_pipeline_spark/multimodal.py). Python-UDF by
    necessity (media decode), so no SQL oracle — the driver records
    a rows-only check; byte-exact behavior is pytest-verified
    (tests/test_multimodal.py).

    Array feature columns (byte_hist, feature_vec) are serialized to
    CSV strings at this catalog boundary ONLY — the driver's
    canonicalizer can't sort/hash ndarray cells. Library users call
    extract_media_features directly and keep the typed arrays.
    Floats go through format_string('%.6f') so the text form is
    deterministic across engines/locales."""
    from chess_pipeline_spark.multimodal import (
        attach_binary_payload,
        extract_media_features,
    )

    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    feats = extract_media_features(attach_binary_payload(d))
    # NOTE: the fake decoder is deterministic byte arithmetic, so it
    # HAS a SQL oracle (MULTIMODAL_FEATURES_SQL) despite running as a
    # Python UDF — the oracle re-derives the features from hex(blob)
    # bytes. A real image/audio decoder would drop back to rows-only.
    return feats.select(
        "doc_id",
        "kind",
        "n_bytes",
        F.concat_ws(",", F.col("byte_hist").cast("array<string>")).alias(
            "byte_hist"
        ),
        "checksum",
        F.concat_ws(
            ",",
            # fround BEFORE formatting: a raw ratio can tie exactly at
            # the 6th decimal (e.g. 105/128 = 0.8203125) and Java
            # format_string rounds half-up while C printf rounds
            # half-even — pre-rounding floor-style kills the tie on
            # both engines (same discipline as fround everywhere else)
            F.transform(
                "feature_vec",
                lambda x: F.format_string("%.6f", fround(x, 6)),
            ),
        ).alias("feature_vec"),
    )


# Byte-exact SQL twin of multimodal.py's _fake_decode: UTF-8 bytes
# via hex(encode(text)) two-chars-at-a-time, 4-bucket histogram on
# byte>>6, position-weighted checksum with per-element mod (matching
# numpy's `(arr * weights % p).sum() % p`), features = hist/n with
# printf('%.6f') mirroring the Spark side's format_string('%.6f').
# NULL text rows are skipped (NULL payload is skipped by the UDF);
# empty text keeps a row with zero counts (n guarded to >= 1).
MULTIMODAL_FEATURES_SQL = """
WITH d AS (SELECT doc_id, encode(text) AS payload
           FROM documents WHERE text IS NOT NULL),
b AS (SELECT doc_id, CAST(octet_length(payload) AS BIGINT) AS n,
             hex(payload) AS h
      FROM d),
x AS (SELECT doc_id, n, h, unnest(range(1, n + 1)) AS i FROM b),
bytes AS (
  SELECT doc_id, i,
         (strpos('0123456789ABCDEF', substr(h, CAST(2 * i - 1 AS INT), 1)) - 1) * 16
         + (strpos('0123456789ABCDEF', substr(h, CAST(2 * i AS INT), 1)) - 1) AS bv
  FROM x),
agg AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN bv >> 6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
         CAST(sum(CASE WHEN bv >> 6 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
         CAST(sum(CASE WHEN bv >> 6 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
         CAST(sum(CASE WHEN bv >> 6 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3,
         CAST(sum((bv * i) % 1000000007) % 1000000007 AS BIGINT) AS checksum
  FROM bytes GROUP BY doc_id),
f AS (
  SELECT b.doc_id, b.n,
         coalesce(a.h0, 0) AS h0, coalesce(a.h1, 0) AS h1,
         coalesce(a.h2, 0) AS h2, coalesce(a.h3, 0) AS h3,
         CAST(coalesce(a.checksum, 0) AS BIGINT) AS checksum,
         greatest(b.n, 1) AS nd
  FROM b LEFT JOIN agg a USING (doc_id))
SELECT doc_id, 'fake-text' AS kind, n AS n_bytes,
       h0 || ',' || h1 || ',' || h2 || ',' || h3 AS byte_hist,
       checksum,
       printf('%.6f', floor((h0 / nd) * 1000000.0 + 0.5) / 1000000.0) || ',' ||
       printf('%.6f', floor((h1 / nd) * 1000000.0 + 0.5) / 1000000.0) || ',' ||
       printf('%.6f', floor((h2 / nd) * 1000000.0 + 0.5) / 1000000.0) || ',' ||
       printf('%.6f', floor((h3 / nd) * 1000000.0 + 0.5) / 1000000.0) AS feature_vec
FROM f
"""


def frame_sample_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame pipeline on the fake-decode path: payload →
    every 2nd 32-byte frame → per-frame position-weighted checksum,
    fused into one Arrow pass (multimodal.py::frame_features). The
    1→N row expansion and per-frame featurization are the real
    deliverable; a real ffmpeg keyframe sampler swaps into the same
    branch. Oracle: the frame arithmetic re-derived from hex(blob)
    in SQL, same discipline as MULTIMODAL_FEATURES_SQL."""
    from chess_pipeline_spark.multimodal import (
        attach_binary_payload,
        frame_features,
    )

    d = spread(_L(spark, sf_dir, "documents"), "doc_id")
    return frame_features(attach_binary_payload(d))


# Byte-exact SQL twin of multimodal.py::frame_features: frames are
# every 2nd 32-byte chunk (frame_idx = chunk ordinal, so 0, 2, 4...),
# checksum = position-weighted sum WITHIN the frame with per-element
# mod, matching numpy. Empty/NULL text yields no frames (no rows).
FRAME_SAMPLE_FEATURES_SQL = """
WITH d AS (SELECT doc_id, encode(text) AS payload
           FROM documents WHERE text IS NOT NULL),
b AS (SELECT doc_id, CAST(octet_length(payload) AS BIGINT) AS n,
             hex(payload) AS h
      FROM d WHERE octet_length(payload) > 0),
frames AS (
  SELECT doc_id, n, h,
         unnest(range(0, CAST(ceil(n / 32.0) AS BIGINT))) AS fidx
  FROM b),
kept AS (SELECT * FROM frames WHERE fidx % 2 = 0),
fb AS (SELECT doc_id, fidx, h, fidx * 32 + 1 AS lo,
              least(n, fidx * 32 + 32) AS hi
       FROM kept),
bytes AS (
  SELECT doc_id, fidx, hi - lo + 1 AS fn,
         unnest(range(lo, hi + 1)) AS i, lo, h
  FROM fb),
vals AS (
  SELECT doc_id, fidx, fn, i - lo + 1 AS w,
         (strpos('0123456789ABCDEF', substr(h, CAST(2 * i - 1 AS INT), 1)) - 1) * 16
         + (strpos('0123456789ABCDEF', substr(h, CAST(2 * i AS INT), 1)) - 1) AS bv
  FROM bytes)
SELECT doc_id, fidx AS frame_idx, CAST(fn AS BIGINT) AS n_bytes,
       CAST(sum((bv * w) % 1000000007) % 1000000007 AS BIGINT) AS checksum
FROM vals
GROUP BY doc_id, fidx, fn
"""


# ------------------------------------------------------------------
# Media perceptual-hash near-dup: aHash + banded Hamming join
# ------------------------------------------------------------------

_PHASH_T = 6  # max Hamming distance (of 64 bits) to call a near-dup
_PHASH_CAP = 256  # band-bucket frequency cap bounding the pair join
_PHASH_MIN_BYTES = 64  # below one byte per block the grid is noise


def media_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection for MEDIA payloads: a 64-bit
    average-hash (64 byte-block grid, bit = block mean > global mean
    — integer cross-product, multimodal.py::_phash_bands) per binary
    payload, then LSH banding over 8x8-bit bands and an exact Hamming
    verify at <= {_PHASH_T}. This is image-dedup's aHash/pHash
    pipeline run on the deterministic fake-decode path: swap a real
    8x8-luma aHash into extract_phash and the plan is unchanged —
    which is the point; the dedup families extend past text.

    Pigeonhole recall: hamming <= {_PHASH_T} < 8 bands forces at
    least one identical band, so banding loses nothing the verify
    would keep (same law as simhash_near_dup, tested there). The
    band-bucket cap ({_PHASH_CAP}) bounds the candidate join exactly
    like the shingle df cap: degenerate buckets (e.g. the all-zero
    band of near-constant payloads) are dropped rather than squared.

    100 TB shape: ONE Arrow-batched decode pass (pinned with
    localCheckpoint — payloads never leave their scan stage, only 8
    small band ints per doc move); banding shuffles (band, value)
    ints with map-side combine; the pair space is CAP-bounded; the
    Hamming verify joins the 8-int wide frame, never payloads.
    Oracle: bands re-derived from hex(blob) byte arithmetic in SQL
    (the MULTIMODAL_FEATURES_SQL discipline).
    """
    from chess_pipeline_spark.multimodal import (
        attach_binary_payload,
        extract_phash,
    )

    d = spread(_L(spark, sf_dir, "documents"), "doc_id").filter(
        F.col("text").isNotNull()
    )
    ph = (
        extract_phash(attach_binary_payload(d))
        .filter(F.col("n_bytes") >= _PHASH_MIN_BYTES)
        .select("doc_id", "bands")
        # pinned: banding + both sides of the Hamming verify reuse
        # this frame; without the checkpoint the decode pass runs 4x
        .localCheckpoint()
    )
    wide = ph.select(
        "doc_id", *[F.col("bands")[j].alias(f"b{j}") for j in range(8)]
    )
    lng = ph.select("doc_id", F.posexplode("bands").alias("j", "v"))
    freq = lng.groupBy("j", "v").agg(F.count("*").alias("bf"))
    kept = lng.join(freq, ["j", "v"]).filter(F.col("bf") <= _PHASH_CAP)
    cands = (
        kept.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    wa = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{j}").alias(f"ab{j}") for j in range(8)],
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{j}").alias(f"bb{j}") for j in range(8)],
    )
    hamming = sum(
        F.expr(f"bit_count(ab{j} ^ bb{j})") for j in range(8)
    ).cast("long")
    return (
        cands.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _PHASH_T)
    )


MEDIA_PHASH_NEAR_DUP_SQL = f"""
WITH d AS (SELECT doc_id, encode(text) AS payload
           FROM documents WHERE text IS NOT NULL),
b AS (SELECT doc_id, CAST(octet_length(payload) AS BIGINT) AS n,
             hex(payload) AS h
      FROM d WHERE octet_length(payload) >= {_PHASH_MIN_BYTES}),
x AS (SELECT doc_id, n, h, unnest(range(1, n + 1)) AS i FROM b),
bytes AS (
  SELECT doc_id, n, ((i - 1) * 64) // n AS blk,
         (strpos('0123456789ABCDEF', substr(h, CAST(2 * i - 1 AS INT), 1)) - 1) * 16
         + (strpos('0123456789ABCDEF', substr(h, CAST(2 * i AS INT), 1)) - 1) AS bv
  FROM x),
bsum AS (
  SELECT doc_id, n, blk, sum(bv) AS s_b, count(*) AS c_b
  FROM bytes GROUP BY 1, 2, 3),
tot AS (SELECT doc_id, sum(s_b) AS s_tot FROM bsum GROUP BY 1),
bits AS (
  SELECT s.doc_id, s.blk,
         CASE WHEN s.s_b * s.n > t.s_tot * s.c_b THEN 1 ELSE 0 END AS bit
  FROM bsum s JOIN tot t ON s.doc_id = t.doc_id),
bands AS (
  SELECT doc_id, CAST(blk // 8 AS BIGINT) AS j,
         CAST(sum(bit << CAST(blk % 8 AS INTEGER)) AS BIGINT) AS v
  FROM bits GROUP BY 1, 2),
freq AS (SELECT j, v, count(*) AS bf FROM bands GROUP BY 1, 2),
kept AS (
  SELECT b.doc_id, b.j, b.v
  FROM bands b JOIN freq f ON b.j = f.j AND b.v = f.v
  WHERE f.bf <= {_PHASH_CAP}),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a JOIN kept b ON a.j = b.j AND a.v = b.v
                          AND a.doc_id < b.doc_id),
wide AS (
  SELECT doc_id,
         {", ".join(f"max(CASE WHEN j = {j} THEN v END) AS b{j}" for j in range(8))}
  FROM bands GROUP BY 1),
ham AS (
  SELECT c.doc_a, c.doc_b,
         CAST({" + ".join(f"bit_count(xor(wa.b{j}, wb.b{j}))" for j in range(8))}
           AS BIGINT) AS hamming
  FROM cands c
  JOIN wide wa ON c.doc_a = wa.doc_id
  JOIN wide wb ON c.doc_b = wb.doc_id)
SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= {_PHASH_T}
"""


def dedup_embedding_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family consistency audit: do the MinHash-LSH text
    near-dup candidates actually look similar in EMBEDDING space?
    Reports, for candidate pairs where both docs have an embedding
    (shared id space), the count and mean cosine next to a matched
    count of deterministic pseudo-random baseline pairs — the sanity
    report that catches a broken signature pipeline (candidates ≈
    baseline) or an embedding/text drift before a 100 TB dedup run
    trusts either family.

    Baseline pair selection is md5-hash based (no RNG to seed), and
    the mean cosine is fround'd after an ordered per-pair dot (the
    JL sum-order discipline is not needed: each pair's dot is one
    fold; only the cross-pair AVG would be order-sensitive, so it is
    computed from grid-rounded per-pair cosines).

    On the synthetic lake both sets score ≈ 0 — the embeddings table
    is label-clustered noise, NOT derived from the document text, and
    the audit correctly reports that the two families measure
    different things here. On a real corpus with text-derived
    embeddings the candidate mean should sit far above baseline; the
    query is the detector either way.
    """
    cand = minhash_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        "embedding",
        F.expr(_NORM.format(v="embedding")).alias("nrm"),
    )
    ea = e.select(
        F.col("vec_id").alias("doc_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = e.select(
        F.col("vec_id").alias("doc_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = F.expr(_DOT.format(u="emb_a", v="emb_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )

    def scored(pairs):
        return (
            pairs.join(ea, "doc_a").join(eb, "doc_b")
            .select(fround(cos, 6).alias("cos"))
        )

    cand_scored = scored(cand)
    # deterministic baseline: ONE hash-derived partner per embedded
    # doc (6 hex chars of md5(id), parsed with the same instr
    # arithmetic on both engines, mod corpus size); self-pairs drop
    hx = "0123456789abcdef"
    h6 = " + ".join(
        f"(instr('{hx}', substring(md5(CAST(doc_a AS STRING)), {i + 1}, 1)) - 1)"
        f" * {16 ** (5 - i)}"
        for i in range(6)
    )
    base = (
        e.select(F.col("vec_id").alias("doc_a"))
        .crossJoin(
            F.broadcast(
                e.agg((F.max("vec_id") + 1).cast("long").alias("n_vecs"))
            )
        )
        .select(
            "doc_a",
            (F.expr(f"CAST({h6} AS BIGINT)") % F.col("n_vecs")).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    base_scored = scored(base)
    return (
        cand_scored.agg(
            F.count("*").cast("long").alias("n"),
            fround(
                F.sum(grid_cents("cos", 6)) / F.lit(1e6) / F.count("cos"), 6
            ).alias("mean_cos"),
        ).select(F.lit("lsh_candidates").alias("pair_set"), "n", "mean_cos")
    ).unionByName(
        base_scored.agg(
            F.count("*").cast("long").alias("n"),
            fround(
                F.sum(grid_cents("cos", 6)) / F.lit(1e6) / F.count("cos"), 6
            ).alias("mean_cos"),
        ).select(F.lit("hash_baseline").alias("pair_set"), "n", "mean_cos")
    )


DEDUP_EMBEDDING_AGREEMENT_SQL = f"""
WITH {_LSH_CAND_CTES},
ue AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ue GROUP BY 1),
cand_pairs AS (SELECT doc_a, doc_b FROM cand),
nv AS (SELECT max(vec_id) + 1 AS n_vecs FROM embeddings),
base_pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT e.vec_id AS doc_a,
           CAST(((instr('0123456789abcdef', substring(md5(CAST(doc_a AS VARCHAR)), 1, 1)) - 1) * 1048576 + (instr('0123456789abcdef', substring(md5(CAST(doc_a AS VARCHAR)), 2, 1)) - 1) * 65536 + (instr('0123456789abcdef', substring(md5(CAST(doc_a AS VARCHAR)), 3, 1)) - 1) * 4096 + (instr('0123456789abcdef', substring(md5(CAST(doc_a AS VARCHAR)), 4, 1)) - 1) * 256 + (instr('0123456789abcdef', substring(md5(CAST(doc_a AS VARCHAR)), 5, 1)) - 1) * 16 + (instr('0123456789abcdef', substring(md5(CAST(doc_a AS VARCHAR)), 6, 1)) - 1) * 1) AS BIGINT) % n.n_vecs AS doc_b
    FROM (SELECT DISTINCT vec_id FROM embeddings) e, nv n)
  WHERE doc_a <> doc_b),
score_cand AS (
  SELECT floor((sum(a.x * b.x) / (na.nrm * nb.nrm)) * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM cand_pairs p
  JOIN ue a ON a.vec_id = p.doc_a
  JOIN ue b ON b.vec_id = p.doc_b AND b.i = a.i
  JOIN norms na ON na.vec_id = p.doc_a
  JOIN norms nb ON nb.vec_id = p.doc_b
  GROUP BY p.doc_a, p.doc_b, na.nrm, nb.nrm),
score_base AS (
  SELECT floor((sum(a.x * b.x) / (na.nrm * nb.nrm)) * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM base_pairs p
  JOIN ue a ON a.vec_id = p.doc_a
  JOIN ue b ON b.vec_id = p.doc_b AND b.i = a.i
  JOIN norms na ON na.vec_id = p.doc_a
  JOIN norms nb ON nb.vec_id = p.doc_b
  GROUP BY p.doc_a, p.doc_b, na.nrm, nb.nrm)
SELECT 'lsh_candidates' AS pair_set, CAST(count(*) AS BIGINT) AS n,
       floor((sum(CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0 / count(cos)) * 1000000.0 + 0.5) / 1000000.0 AS mean_cos
FROM score_cand
UNION ALL
SELECT 'hash_baseline' AS pair_set, CAST(count(*) AS BIGINT) AS n,
       floor((sum(CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0 / count(cos)) * 1000000.0 + 0.5) / 1000000.0 AS mean_cos
FROM score_base
"""



# ---------------------------------------------------------------------------
# Persisted-index ANN evidence (r7): drive the PRODUCTION IVFADC path
# (ann_index.build → probe with dynamic partition pruning, and the
# streaming ingest/compaction maintenance cycle) under the oracle, not
# just the whole-corpus catalog twins.
# ---------------------------------------------------------------------------

_RECALL_NQ = 8  # query vectors (vec_id < _RECALL_NQ)
_RECALL_K = 5
_RECALL_NPROBE = 2
_IVF_NLISTS = 8


def _scratch_index_dir(tag: str) -> str:
    """A unique scratch directory for a per-run index build. Unique per
    call (concurrent runs never collide); the index is rebuilt per run
    because catalog queries must be self-contained functions of
    (spark, sf_dir) — a production deployment builds once and
    amortizes (see ann_index module docstring)."""
    import os
    import tempfile
    import uuid

    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_{tag}_{uuid.uuid4().hex[:12]}"
    )


def ivf_adc_recall(
    spark: SparkSession, sf_dir: str, exact_sample_bp: int = 10000
) -> DataFrame:
    """End-to-end recall report for the PERSISTED IVFADC serving path:
    build the real index (ann_index.build_ivf_index — coarse lists +
    int8 codes + PQ codes on disk), probe it with probe_ivf_adc
    (nprobe={_RECALL_NPROBE}, the pruned production path whose lists
    scan reads only pq_code and prunes non-probed partitions), and
    score the approximate top-{_RECALL_K} against the exact
    L2² top-{_RECALL_K} per query. All recall arithmetic is integer
    (hit counts, basis points), so the report is engine-exact even
    though the path it certifies is approximate.

    Output per query: probed_candidates (how many vectors the pruned
    probe actually scored — the oracle recomputes it from the same
    deterministic assignment, certifying the pruning bound), hits
    (|approx ∩ exact|), recall_bp (hits·10000/{_RECALL_K}).

    100 TB shape: the build is the one wide shuffle (partitioned
    write); the probe reads nprobe/n_lists of the corpus and only 3
    columns of it; exact top-k here exists to MEASURE recall and is
    the piece you subsample at scale (8 probe queries, not a
    workload). `exact_sample_bp` is that scale lever: below 10000,
    the exact branch ranks over a deterministic md5-gated subset of
    the corpus (kept at exact_sample_bp/10000) UNIONED with the
    probe's own candidates — so every returned neighbor is rankable,
    the arithmetic stays integer, and the full-corpus scan shrinks by
    the sample rate. The candidate union is shared across queries
    (one universe frame), and the md5 gates are nested, so sampled
    ground truth can only OVER-estimate recall, monotonically as bp
    drops (a sampled-out true neighbor frees a ground-truth slot);
    under a perfect probe the sampled report equals the exact one.
    The law test pins bp=10000 bit-equality, per-query upward-only
    bias, and nested monotonicity on the fixture. The catalog/oracle
    path always runs exact (default 10000).
    """
    from chess_pipeline_spark.ann_index import (
        _nearest_lists,
        build_ivf_index,
        probe_ivf_adc,
    )

    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "embedding"
    )
    idx = _scratch_index_dir("ivfadc_recall")
    build_ivf_index(e, idx, n_lists=_IVF_NLISTS)

    queries = e.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    approx = probe_ivf_adc(
        spark, idx, queries, k=_RECALL_K, nprobe=_RECALL_NPROBE, id_col="qid"
    ).select("qid", "neighbor_id")

    # probed-candidate count: the persisted assignment joined to the
    # probe lists (same _nearest_lists math the probe itself runs)
    centroids = spark.read.parquet(idx + "/centroids")
    probe_lists = _nearest_lists(queries, centroids, _RECALL_NPROBE, "qid").select(
        F.col("qid").alias("p_qid"), "list_id"
    )
    assignment = spark.read.parquet(idx + "/lists").select("vec_id", "list_id")
    pc = (
        probe_lists.join(assignment, "list_id")
        .filter(F.col("vec_id") != F.col("p_qid"))
        .groupBy("p_qid")
        .agg(F.count("*").cast("long").alias("probed_candidates"))
    )

    # exact L2² top-k universe: the full corpus, or (at scale) the
    # md5-gated sample plus the probe's own candidates
    universe = e
    if exact_sample_bp < 10000:
        thr = exact_sample_bp * 65536 // 10000
        u4 = " + ".join(
            f"(instr('0123456789abcdef', substr(md5(cast(vec_id AS string)), {k}, 1)) - 1)"
            f" * {16 ** (4 - k)}"
            for k in range(1, 5)
        )
        keep = F.expr(f"({u4}) < {thr}")
        cand_ids = approx.select(
            F.col("neighbor_id").alias("vec_id")
        ).distinct()
        universe = e.filter(keep).unionByName(
            e.join(F.broadcast(cand_ids), "vec_id", "left_semi").filter(~keep)
        )

    # exact L2² top-k over the universe (micro-grid so the ranking
    # is integer-total on both engines)
    d2 = F.expr(
        "aggregate(zip_with(qe, embedding, "
        "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
        "* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "CAST(0 AS DOUBLE), (a, b) -> a + b)"
    )
    ex_micro = F.floor(fround(d2, 9) * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
    wr = Window.partitionBy("qid").orderBy(F.asc("ex_micro"), F.asc("vec_id"))
    exact = (
        universe.crossJoin(
            F.broadcast(
                queries.select(F.col("qid"), F.col("embedding").alias("qe"))
            )
        )
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", ex_micro.alias("ex_micro"))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _RECALL_K)
        .select("qid", F.col("vec_id").alias("neighbor_id"))
    )

    hits = (
        approx.join(exact, ["qid", "neighbor_id"])
        .groupBy("qid")
        .agg(F.count("*").cast("long").alias("hits"))
    )
    return (
        queries.select("qid")
        .join(pc, queries.qid == pc.p_qid, "left")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("probed_candidates", F.lit(0)).alias("probed_candidates"),
            F.coalesce("hits", F.lit(0)).alias("hits"),
            (F.coalesce("hits", F.lit(0)) * F.lit(10000) / F.lit(_RECALL_K))
            .cast("long")
            .alias("recall_bp"),
        )
        .orderBy("qid")
    )


# shared coarse-IVF CTEs: unnested embeddings, norms, the 8 lowest-id
# seed centroids, and the rounded-cosine scores of every vector
# against every seed (the same 1e-9 grid + lowest-list tie rule as
# ann_index._nearest_lists)
_COARSE_IVF_CTES = f"""ue AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ue GROUP BY 1),
seed_ids AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS list_id
  FROM embeddings ORDER BY vec_id LIMIT {_IVF_NLISTS}),
coarse AS (
  SELECT s.list_id, u.i, u.x AS c FROM seed_ids s JOIN ue u USING (vec_id)),
cnorms AS (SELECT list_id, sqrt(sum(c * c)) AS nrm FROM coarse GROUP BY 1),
ascored AS (
  SELECT a.vec_id, a.list_id,
         floor((a.dot / (nv.nrm * nc.nrm)) * 1000000000.0 + 0.5) AS c_cos9
  FROM (SELECT u.vec_id, c.list_id, sum(u.x * c.c) AS dot
        FROM ue u JOIN coarse c ON u.i = c.i GROUP BY 1, 2) a
  JOIN norms nv ON nv.vec_id = a.vec_id
  JOIN cnorms nc ON nc.list_id = a.list_id),
asg AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id, row_number() OVER (
      PARTITION BY vec_id ORDER BY c_cos9 DESC, list_id ASC) AS rn
    FROM ascored) WHERE rn = 1)"""

IVF_ADC_RECALL_SQL = f"""
WITH {_COARSE_IVF_CTES},
{_PQ_CODES_CTES},
qprobe AS (
  SELECT vec_id AS qid, list_id FROM (
    SELECT vec_id, list_id, row_number() OVER (
      PARTITION BY vec_id ORDER BY c_cos9 DESC, list_id ASC) AS rn
    FROM ascored WHERE vec_id < {_RECALL_NQ}) WHERE rn <= {_RECALL_NPROBE}),
cand AS (
  SELECT p.qid, a.vec_id FROM qprobe p JOIN asg a USING (list_id)
  WHERE a.vec_id <> p.qid),
code_melt AS (
  {' UNION ALL '.join(f'SELECT vec_id, {j} AS j, code_{j} AS cid FROM codes' for j in range(_PQ_M))}),
q AS (
  SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < {_RECALL_NQ}),
td AS (
  SELECT q.qid, c.cid,
         {', '.join(f'{_adc_td_sql(j)} AS dm{j}' for j in range(_PQ_M))}
  FROM q, cent c),
td_melt AS (
  {' UNION ALL '.join(f'SELECT qid, cid, {j} AS j, dm{j} AS dm FROM td' for j in range(_PQ_M))}),
adc_scored AS (
  SELECT t.qid, m.vec_id, CAST(sum(t.dm) AS BIGINT) AS adc_micro
  FROM code_melt m
  JOIN td_melt t ON m.j = t.j AND m.cid = t.cid
  JOIN cand x ON x.qid = t.qid AND x.vec_id = m.vec_id
  GROUP BY 1, 2),
approx AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, row_number() OVER (
      PARTITION BY qid ORDER BY adc_micro ASC, vec_id ASC) AS rk
    FROM adc_scored) WHERE rk <= {_RECALL_K}),
exd AS (
  SELECT qu.vec_id AS qid, u.vec_id,
         CAST(floor(floor(sum((qu.x - u.x) * (qu.x - u.x)) * 1000000000.0 + 0.5)
           / 1000000000.0 * 1000000.0 + 0.5) AS BIGINT) AS ex_micro
  FROM ue qu JOIN ue u ON qu.i = u.i
  WHERE qu.vec_id < {_RECALL_NQ} AND u.vec_id <> qu.vec_id
  GROUP BY 1, 2),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id, row_number() OVER (
      PARTITION BY qid ORDER BY ex_micro ASC, vec_id ASC) AS rk
    FROM exd) WHERE rk <= {_RECALL_K}),
pc AS (SELECT qid, count(*) AS probed_candidates FROM cand GROUP BY 1),
hits AS (
  SELECT a.qid, count(*) AS hits
  FROM approx a JOIN exact e ON e.qid = a.qid AND e.vec_id = a.vec_id
  GROUP BY 1)
SELECT q.qid,
       CAST(coalesce(pc.probed_candidates, 0) AS BIGINT) AS probed_candidates,
       CAST(coalesce(hits.hits, 0) AS BIGINT) AS hits,
       CAST(coalesce(hits.hits, 0) * 10000 / {_RECALL_K} AS BIGINT) AS recall_bp
FROM q
LEFT JOIN pc ON pc.qid = q.qid
LEFT JOIN hits ON hits.qid = q.qid
ORDER BY q.qid
"""


def ivf_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-maintenance audit for the persisted IVF index, batch
    form: build the base index from the EVEN vec_ids, drive the real
    ingest path (ann_index.ingest_ivf_batch — the exact function
    stream_ingest_ivf's foreachBatch runs) over the odd vec_ids in
    two batches, compact, and report per-list (n_base, n_delta,
    n_total). Because the coarse centroids are frozen at build time,
    incremental assignments are consistent with a full rebuild — the
    oracle recomputes every count from the raw parquet with the same
    deterministic assignment rule, so a drifting centroid, a dropped
    delta row, or a compaction that loses/duplicates rows all
    hash-mismatch.

    100 TB shape: ingest cost is delta-proportional (the base is
    never rewritten between compactions); the audit itself is two
    KB-scale groupBys over (list_id).
    """
    from chess_pipeline_spark.ann_index import (
        build_ivf_index,
        compact_ivf_index,
        ingest_ivf_batch,
    )

    e = spread(_L(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "embedding"
    )
    idx = _scratch_index_dir("ivf_ingest")
    base = e.filter(F.col("vec_id") % 2 == 0)
    build_ivf_index(base, idx, n_lists=_IVF_NLISTS)
    # r14 (guide §2.6): the two delta batches are independent ingest
    # jobs writing DISJOINT (list_id, ingest_batch) partitions — a
    # 2-thread pool overlaps them so batch 1's jobs back-fill the
    # scheduler during batch 0's stragglers, exactly the
    # independent-jobs overlap the guide prescribes. Safe because
    # upsert_partition_overwrite sets dynamic overwrite per-writer
    # (not via a racy session-conf toggle) and each batch rewrites
    # only its own partitions; the audit result is batch-order-free.
    # Each thread inherits its own copy of the caller's job group.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(
                inheritable_thread_target(spark)(ingest_ivf_batch),
                e.filter(F.col("vec_id") % 4 == r),
                batch,
                idx,
            )
            for batch, r in enumerate((1, 3))
        ]
        for f in futs:
            f.result()

    # the pre-compaction counts must materialize BEFORE compaction
    # rewrites the files under them (the returned plan is lazy);
    # ONE union-tagged aggregation pins both ≤ n_lists-row count
    # frames in a single eager localCheckpoint job (r13 — previously
    # two separate scans + two checkpoint jobs)
    pre = (
        spark.read.parquet(idx + "/lists")
        .select("list_id", F.lit(1).alias("is_base"))
        .unionByName(
            spark.read.parquet(idx + "/lists_delta").select(
                "list_id", F.lit(0).alias("is_base")
            )
        )
        .groupBy("list_id")
        .agg(
            F.sum("is_base").cast("long").alias("n_base"),
            F.sum(1 - F.col("is_base")).cast("long").alias("n_delta"),
        )
        .localCheckpoint()
    )
    compact_ivf_index(spark, idx)
    n_total = (
        spark.read.parquet(idx + "/lists")
        .groupBy("list_id")
        .agg(F.count("*").cast("long").alias("n_total"))
    )
    return (
        n_total.join(pre, "list_id", "left")
        .select(
            F.col("list_id").cast("long").alias("list_id"),
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_delta", F.lit(0)).alias("n_delta"),
            "n_total",
        )
        .orderBy("list_id")
    )


# same coarse CTEs, but the SEEDS come from the base (even-vec_id)
# corpus only — assignment still covers every vector
IVF_INGEST_AUDIT_SQL = f"""
WITH {_COARSE_IVF_CTES.replace(
    "FROM embeddings ORDER BY vec_id LIMIT",
    "FROM embeddings WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT",
)}
SELECT CAST(a.list_id AS BIGINT) AS list_id,
       CAST(sum(CASE WHEN e.vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       CAST(sum(CASE WHEN e.vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
       CAST(count(*) AS BIGINT) AS n_total
FROM asg a JOIN embeddings e USING (vec_id)
GROUP BY 1
ORDER BY 1
"""


def robust_centroid_goldens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable evidence row for the TWO-LEVEL bucketed
    Weiszfeld geometric median (operators/robust.py::
    robust_centroid_per_label_bucketed) — the one grouped-map
    applyInPandas flagship whose semantics no SQL engine can express
    (per-group fixed-point iteration), so its oracle is the
    precomputed-golden pattern pgn_moves_table established
    (plans/winprob.py): a deterministic fixture runs through the REAL
    two-level operator (content-hash+id buckets at n_buckets=4, one
    partial per (label, bucket), count-weighted merge) and the oracle
    is the closed-form / precomputed result rows.

    The fixture exercises exactly the contracts the operator exists
    for: an outlier-planted label (median converges to the central
    cluster point, not the mean the corrupt vector drags), a
    mode-collapsed label of 6 IDENTICAL vectors (the r9
    duplicate-spread bucket fix — the pre-fix content hash reunited
    them in one bucket), and a symmetric square (median = center,
    an analytic value). Determinism: fixed 32 Weiszfeld iterations,
    canonical batch sort inside _weiszfeld, id-mixed bucket hash —
    bit-stable across runs and partitionings; components land ~0.5e-6
    grid units from any rounding boundary, so the 6-dp fround is
    exact. Ignores sf_dir by design (fixture-input contract, like
    pgn_moves_table).

    100 TB shape: documented on the operator — one label+bucket keyed
    exchange over the corpus, then a KB-scale partial merge; the
    fixture here only pins semantics.
    """
    from chess_pipeline_spark.operators.robust import (
        robust_centroid_per_label_bucketed,
    )

    rows = []
    for i in range(9):
        rows.append(
            (
                "outliers",
                [1.0 + 0.01 * i, 2.0 - 0.02 * i, 3.0 + 0.03 * i, 4.0 - 0.01 * i],
                i,
            )
        )
    rows.append(("outliers", [500.0, -300.0, 250.0, -100.0], 9))
    for i in range(6):
        rows.append(("collapsed", [1.5, -2.5, 0.25, 0.0], 10 + i))
    rows.append(("square", [0.0, 0.0, 0.0, 0.0], 16))
    rows.append(("square", [1.0, 0.0, 0.0, 0.0], 17))
    rows.append(("square", [0.0, 1.0, 0.0, 0.0], 18))
    rows.append(("square", [1.0, 1.0, 0.0, 0.0], 19))
    fixture = spark.createDataFrame(
        rows, "label string, embedding array<double>, vec_id long"
    )
    cent = robust_centroid_per_label_bucketed(
        fixture, n_buckets=4, id_col="vec_id"
    )
    # flatten the fixed-dim centroid to scalar columns (the driver
    # canonicalizer rejects arrays) on the shared 6-dp fround grid
    return cent.select(
        "label",
        *[
            fround(F.element_at("centroid", d + 1), 6).alias(f"c{d}")
            for d in range(4)
        ],
        "n_vecs",
    ).orderBy("label")


ROBUST_CENTROID_GOLDENS_SQL = """
SELECT label, c0, c1, c2, c3, CAST(n_vecs AS BIGINT) AS n_vecs
FROM (VALUES
  ('collapsed', CAST(1.5 AS DOUBLE), CAST(-2.5 AS DOUBLE),
   CAST(0.25 AS DOUBLE), CAST(0.0 AS DOUBLE), 6),
  ('outliers', CAST(1.05 AS DOUBLE), CAST(1.9 AS DOUBLE),
   CAST(3.15 AS DOUBLE), CAST(3.95 AS DOUBLE), 10),
  ('square', CAST(0.5 AS DOUBLE), CAST(0.5 AS DOUBLE),
   CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), 4))
  AS t(label, c0, c1, c2, c3, n_vecs)
ORDER BY label
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_exact": QuerySpec(dedup_exact, DEDUP_EXACT_SQL, "llm-dedup F16"),
    "robust_centroid_goldens": QuerySpec(
        robust_centroid_goldens,
        ROBUST_CENTROID_GOLDENS_SQL,
        "ext: grouped-map Weiszfeld goldens",
    ),
    "text_quality_stats": QuerySpec(text_quality_stats, TEXT_QUALITY_STATS_SQL, "llm-textstats"),
    "token_count": QuerySpec(token_count, TOKEN_COUNT_SQL, "llm-tokenize"),
    "lang_id_heuristic": QuerySpec(lang_id_heuristic, LANG_ID_SQL, "llm-langid"),
    "doc_fingerprint": QuerySpec(doc_fingerprint, DOC_FINGERPRINT_SQL, "llm-fingerprint"),
    "near_dup_pairs_jaccard": QuerySpec(
        near_dup_pairs_jaccard, NEAR_DUP_PAIRS_JACCARD_SQL, "llm-neardup"
    ),
    "near_dup_pairs_jaccard_prefix": QuerySpec(
        near_dup_pairs_jaccard_prefix, NEAR_DUP_PAIRS_JACCARD_SQL, "llm-neardup ppjoin"
    ),
    "ngram_jaccard_near_dup": QuerySpec(
        ngram_jaccard_near_dup, NGRAM_JACCARD_NEAR_DUP_SQL, "llm-neardup ngram"
    ),
    "containment_near_dup": QuerySpec(
        containment_near_dup, CONTAINMENT_NEAR_DUP_SQL, "llm-neardup containment"
    ),
    "minhash_signatures": QuerySpec(minhash_signatures, MINHASH_SIGNATURES_SQL, "llm-minhash"),
    "dedup_embedding_agreement": QuerySpec(
        dedup_embedding_agreement,
        DEDUP_EMBEDDING_AGREEMENT_SQL,
        "ext: cross-family audit",
    ),
    "minhash_lsh_candidates": QuerySpec(
        minhash_lsh_candidates, MINHASH_LSH_CANDIDATES_SQL, "llm-minhash-lsh"
    ),
    "simhash_near_dup": QuerySpec(simhash_near_dup, SIMHASH_NEAR_DUP_SQL, "llm-simhash"),
    "cross_source_leakage": QuerySpec(
        cross_source_leakage, CROSS_SOURCE_LEAKAGE_SQL, "llm-leakage"
    ),
    "dedup_incremental_simhash": QuerySpec(
        dedup_incremental_simhash,
        DEDUP_INCREMENTAL_SIMHASH_SQL,
        "llm-incremental-dedup",
    ),
    "embedding_near_dup_cosine": QuerySpec(
        embedding_near_dup_cosine, EMBEDDING_NEAR_DUP_COSINE_SQL, "llm-embed-neardup"
    ),
    "semdedup_embedding": QuerySpec(
        semdedup_embedding, SEMDEDUP_EMBEDDING_SQL, "llm-semdedup"
    ),
    "knn_cosine_topk": QuerySpec(knn_cosine_topk, KNN_COSINE_TOPK_SQL, "llm-knn F18"),
    "hard_negative_mining": QuerySpec(
        hard_negative_mining,
        HARD_NEGATIVE_MINING_SQL,
        "llm-hard-negatives",
    ),
    "label_centroids": QuerySpec(
        label_centroids,
        LABEL_CENTROIDS_SQL,
        "llm-label-centroids",
    ),
    "embedding_diversity": QuerySpec(
        embedding_diversity,
        EMBEDDING_DIVERSITY_SQL,
        "llm-diversity-audit",
    ),
    "knn_cosine_ivf": QuerySpec(knn_cosine_ivf, KNN_COSINE_IVF_SQL, "llm-knn-ivf"),
    "knn_cosine_lsh": QuerySpec(knn_cosine_lsh, KNN_COSINE_LSH_SQL, "llm-knn-lsh"),
    "embedding_stats": QuerySpec(embedding_stats, EMBEDDING_STATS_SQL, "llm-embed"),
    "embedding_quantize_int8": QuerySpec(
        embedding_quantize_int8, EMBEDDING_QUANTIZE_INT8_SQL, "llm-embed-quant"
    ),
    "pca_top_component": QuerySpec(
        pca_top_component, PCA_TOP_COMPONENT_SQL, "llm-embed-pca"
    ),
    "embedding_random_projection": QuerySpec(
        embedding_random_projection,
        EMBEDDING_RANDOM_PROJECTION_SQL,
        "llm-embed-jl",
    ),
    "embedding_pq_codes": QuerySpec(
        embedding_pq_codes, EMBEDDING_PQ_CODES_SQL, "llm-embed-pq"
    ),
    "knn_pq_adc": QuerySpec(knn_pq_adc, KNN_PQ_ADC_SQL, "llm-knn-pq-adc"),
    "multimodal_features": QuerySpec(
        multimodal_features, MULTIMODAL_FEATURES_SQL, "llm-multimodal"
    ),
    "media_phash_near_dup": QuerySpec(
        media_phash_near_dup, MEDIA_PHASH_NEAR_DUP_SQL, "llm-multimodal-dedup"
    ),
    "frame_sample_features": QuerySpec(
        frame_sample_features, FRAME_SAMPLE_FEATURES_SQL, "llm-multimodal frames"
    ),
    "top_terms_per_source": QuerySpec(
        top_terms_per_source, TOP_TERMS_PER_SOURCE_SQL, "llm-textstats O3"
    ),
    "dedup_normalized": QuerySpec(dedup_normalized, DEDUP_NORMALIZED_SQL, "llm-dedup F16"),
    "dedup_groups": QuerySpec(
        dedup_groups, DEDUP_GROUPS_SQL, "llm-dedup-groups iterative"
    ),
    "dedup_groups_logstep": QuerySpec(
        dedup_groups_logstep, DEDUP_GROUPS_SQL, "llm-dedup-groups logstep"
    ),
    "ivf_adc_recall": QuerySpec(
        ivf_adc_recall, IVF_ADC_RECALL_SQL, "ext: persisted-IVFADC recall"
    ),
    "ivf_ingest_audit": QuerySpec(
        ivf_ingest_audit, IVF_INGEST_AUDIT_SQL, "ext: IVF ingest/compaction audit"
    ),
}

