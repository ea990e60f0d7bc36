"""Text-analysis + dedup queries over ``documents`` (SURVEY §2.10 text
band; operators in operators/text.py).

The dedup ladder: exact (md5 key) → fingerprint (rolling hash) →
MinHash-LSH (banded, never all-pairs) → SimHash sketch. The LSH path's
exact anchor is doc_shingle_jaccard_blocked (same 3-gram similarity,
length-window blocking bounds the compare set); the unigram brute pair
query runs on a 100-doc subset ONLY. The full-corpus fuzzy path is
always the banded join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from financial_data_warehouse_automation_spark.operators.text import (
    EN_STOPWORDS,
    allpairs_prefix_candidates,
    allpairs_prefix_candidates_delta,
    bpe_ish_token_count,
    duplicate_kgram_spans,
    jaccard,
    lsh_candidate_pairs,
    mean_token_len,
    minhash_signatures,
    norm_text,
    rolling_min_fingerprint,
    simhash_block_pairs,
    simhash_md5,
    stopword_ratio,
    tokens,
    word_shingles,
    xxhash64_set,
)
from financial_data_warehouse_automation_spark.functions.scalars import md5_prefix_int
from financial_data_warehouse_automation_spark.lineage import cut
from financial_data_warehouse_automation_spark.registry import query
from financial_data_warehouse_automation_spark.tables import load_table

_SQL_TOKS = "string_split_regex(trim(text), '\\s+')"
_SQL_SW = "[" + ", ".join(f"'{s}'" for s in EN_STOPWORDS) + "]"


@query(
    "doc_token_stats",
    tags=("text", "tokens", "agg"),
    oracle=f"""
WITH t AS (
  SELECT source, {_SQL_TOKS} AS toks, n_chars FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
       CAST(SUM(len(list_distinct(toks))) AS BIGINT) AS total_unique_tokens,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM t GROUP BY source ORDER BY source
""",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + per-source corpus stats (integer sums → exact hash)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return (
        d.select(
            "source",
            F.size(toks).alias("nt"),
            F.size(F.array_distinct(toks)).alias("nu"),
            "n_chars",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
            F.sum("nu").alias("total_unique_tokens"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@query(
    "doc_top_bigrams",
    tags=("text", "ngram", "topk"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), bg AS (
  SELECT toks[i] || ' ' || toks[i + 1] AS bigram
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) u
  WHERE len(toks) >= 2
)
SELECT bigram, COUNT(*) AS n
FROM bg GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
""",
)
def doc_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram frequency, global top-20 (count-desc, bigram tie-break
    → deterministic). Shingling stays an array op until one explode."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return (
        d.where(F.size(toks) >= 2)
        .select(F.explode(word_shingles(toks, 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "doc_quality_scores",
    tags=("text", "quality"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, n_chars, {_SQL_TOKS} AS toks FROM documents
  WHERE doc_id % 10 = 0
), m AS (
  SELECT doc_id, n_chars,
         len(toks) AS n_tokens,
         CAST(len(list_filter(toks, x -> list_contains({_SQL_SW}, x))) AS DOUBLE)
           / greatest(len(toks), 1) AS stop_ratio,
         CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
           / greatest(len(toks), 1) AS mean_tok_len
  FROM t
)
SELECT doc_id, n_chars, n_tokens, stop_ratio, mean_tok_len,
       CASE WHEN n_tokens >= 30 AND stop_ratio >= 0.02 THEN 'keep'
            WHEN n_tokens >= 10 THEN 'review'
            ELSE 'drop' END AS bucket
FROM m ORDER BY doc_id
""",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality signals (length, stopword ratio, mean token
    length) + keep/review/drop bucketing — each value is one exact
    integer division, so doubles hash identically across engines."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    toks = tokens("text")
    m = d.select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        stopword_ratio(toks).alias("stop_ratio"),
        mean_token_len(toks).alias("mean_tok_len"),
    )
    return m.select(
        "*",
        F.when((F.col("n_tokens") >= 30) & (F.col("stop_ratio") >= 0.02), "keep")
        .when(F.col("n_tokens") >= 10, "review")
        .otherwise("drop")
        .alias("bucket"),
    )


@query(
    "doc_lang_id_agreement",
    tags=("text", "langid"),
    oracle=f"""
WITH t AS (
  SELECT lang, {_SQL_TOKS} AS toks FROM documents
), g AS (
  SELECT lang,
         CASE WHEN CAST(len(list_filter(toks, x -> list_contains({_SQL_SW}, x))) AS DOUBLE)
                   / greatest(len(toks), 1) >= 0.02
              THEN 'en' ELSE 'und' END AS guess
  FROM t
)
SELECT lang, guess, COUNT(*) AS n
FROM g GROUP BY lang, guess ORDER BY lang, guess
""",
)
def doc_lang_id_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language heuristic vs the labeled ``lang``
    column — confusion-matrix counts. (The synthetic corpus shares one
    vocabulary across labels, so the heuristic's 'en' bias is itself the
    tested behavior.)"""
    d = load_table(spark, sf_dir, "documents")
    guess = F.when(stopword_ratio(tokens("text")) >= 0.02, "en").otherwise("und")
    return (
        d.select("lang", guess.alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "doc_exact_dedup",
    headline=True,
    tags=("text", "dedup", "exact"),
    oracle=r"""
WITH keyed AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                 '\s+', ' ', 'g'))) AS dedup_key
  FROM documents
)
SELECT doc_id, source, dedup_key
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY dedup_key ORDER BY doc_id) AS rn
  FROM keyed
)
WHERE rn = 1
ORDER BY doc_id
""",
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 over normalized text, deterministic keep-lowest
    doc_id per key (the A1 dedupe applied to a corpus). One shuffle on
    the 128-bit key — the 100 TB workhorse."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", "source", F.md5(norm_text("text")).alias("dedup_key")
    )
    w = Window.partitionBy("dedup_key").orderBy("doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        # no final ORDER BY (r15): order-insensitive gate; the global
        # sort was a range exchange + sampling pass (guide §2.4).
    )


@query(
    "doc_fingerprint_dedup",
    tags=("text", "dedup", "fingerprint"),
    oracle=r"""
WITH fp AS (
  SELECT doc_id,
         list_min(list_transform(
           generate_series(0, greatest((len(text) - 16) // 4 + 1, 1) - 1),
           i -> md5(substring(text, i * 4 + 1, 16)))) AS fingerprint
  FROM documents
)
SELECT fingerprint, COUNT(*) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM fp
GROUP BY fingerprint
HAVING COUNT(*) > 1
ORDER BY fingerprint
""",
)
def doc_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (winnowing-lite) fingerprint groups: docs sharing a
    minimal sliding-window md5 — catches shared passages that exact
    dedup misses; md5 keeps it engine-replicable. The per-doc rolling
    md5 is CPU-heavy scan-stage work — ``spread_by`` fans it out of a
    single-row-group file (guarded no-op on a well-split corpus)."""
    d = load_table(spark, sf_dir, "documents", spread_by=("doc_id",))
    fp = d.select(
        "doc_id",
        rolling_min_fingerprint("text", window=16, stride=4).alias("fingerprint"),
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


@query(
    "doc_jaccard_pairs_brute",
    tags=("text", "dedup", "jaccard", "brute"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, list_distinct({_SQL_TOKS}) AS toks FROM documents WHERE doc_id < 100
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
         / greatest(len(list_distinct(list_concat(a.toks, b.toks))), 1) AS jac
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
        / greatest(len(list_distinct(list_concat(a.toks, b.toks))), 1) >= 0.5
ORDER BY id_a, id_b
""",
)
def doc_jaccard_pairs_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force unigram (token-set) Jaccard on a 100-doc subset —
    the n=1 point of the n-gram Jaccard family. On narrow-vocabulary
    corpora token-set similarity saturates (most doc pairs clear 0.5),
    which is exactly why the LSH near-dup path uses 3-gram shingles
    instead; its exact anchor is doc_shingle_jaccard_blocked. All-pairs
    is O(n²): NEVER run un-subsetted at scale."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    t = d.select("doc_id", F.array_distinct(tokens("text")).alias("toks"))
    a = t.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    b = t.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    jac = jaccard(F.col("ta"), F.col("tb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jac.alias("jac"))
        .where(F.col("jac") >= 0.5)
    )


@query("doc_minhash_lsh_pairs", headline=True, tags=("text", "dedup", "minhash", "lsh"))
def doc_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=64) + banded LSH (16 bands × 4 rows ⇒ ~0.5 Jaccard
    threshold) over 3-gram shingles, candidates verified with exact
    shingle Jaccard — candidate generation and verification use the
    SAME similarity, so the pipeline is a strict approximation of
    doc_shingle_jaccard_blocked (its exact anchor; recall pinned in
    tests/test_text_dedup.py). Full-corpus fuzzy-dedup path:
    shingle→(signature + distinct-shingle-hash set) in ONE explode+agg →
    band buckets (never all-pairs) → verify only candidates, with
    Jaccard over the 64-bit hashed shingle sets (same value as string
    Jaccard barring ~s²/2⁶⁴ collisions; the corpus is scanned and
    shingled exactly once, and the verify joins shuffle long arrays,
    not shingle strings). Rows-only check (hash permutations are
    engine-specific).

    The hot-bucket cap is NEVER silent here: a named Observation rides
    the bucket aggregate, so any run that star-degrades a bucket
    (pairs_capped > 0 — a candidate-recall loss) is visible to the
    harness via ``<returned df>.lsh_cap_observation.get`` after the
    action — the handle is PER BUILD, stashed on the returned
    DataFrame, so concurrent or repeated builds each keep their own
    Observation (r8+r9 advisor findings; the observe node measured
    free on this box — interleaved min-of-5 at sf0.1: 1.53s with vs
    1.59s without, i.e. inside noise, unlike the r6 always-on
    variant)."""
    from pyspark.sql import Observation

    # Single-row-group parquet = one input partition; spread the
    # CPU-heavy shingle/signature projection across cores (guarded
    # no-op on a well-split table). Hash on doc_id so the downstream
    # per-doc work needs no further exchange.
    d = load_table(spark, sf_dir, "documents", spread_by=("doc_id",))
    docs = d.select("doc_id", tokens("text").alias("toks"))
    shingled = docs.select("doc_id", word_shingles(F.col("toks"), 3).alias("sh"))
    # cut() below: sigs feeds THREE consumers (banding + both verify
    # join sides); un-cut, Spark plans each reference independently and
    # the scan+shingle+signature subtree runs 3× (r15 plan audit: 3
    # parquet scans, the whole shingle_set table broadcast for the
    # second join). The localCheckpoint evaluates it once — the same
    # idiom every other verify-join in this module already uses
    # (_prefix_filter_pairs etc.). Measured at 10× (testdata_sf1,
    # interleaved min-of-6): e2e median 4.39 → 3.07 s, and the gap
    # widens with corpus size because the saved work is two full
    # corpus re-shingles.
    sigs = cut(
        minhash_signatures(shingled, "doc_id", F.col("sh"), k=64, include_set=True),
        eager=False,
    )
    obs = Observation("lsh_cap_metrics")
    cands = lsh_candidate_pairs(
        sigs.select("doc_id", "signature"), "doc_id", bands=16, rows=4,
        observation=obs,
    )
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("shingle_set").alias("sa"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("shingle_set").alias("sb"))
    verified = (
        cands.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", jaccard(F.col("sa"), F.col("sb")).alias("jac"))
        .where(F.col("jac") >= 0.5)
    )
    # no final ORDER BY (r15): order-insensitive gate; the global sort
    # was a range exchange + sampling pass (guide §2.4).
    result = verified
    result.lsh_cap_observation = obs
    return result


@query(
    "doc_simhash_sketch",
    tags=("text", "dedup", "simhash"),
    oracle=r"""
WITH docs AS (
  SELECT doc_id,
         list_transform(string_split_regex(trim(text), '\s+'),
                        t -> md5(t)) AS hs
  FROM documents WHERE doc_id % 10 = 0
)
SELECT doc_id,
       CAST(list_sum(list_transform(generate_series(0, 31), i ->
         CASE WHEN 2 * len(list_filter(hs, h -> substr(h, i + 1, 1) >= '8'))
                   - len(hs) > 0
              THEN 1::BIGINT << i ELSE 0::BIGINT END)) AS BIGINT) AS simhash
FROM docs ORDER BY doc_id
""",
)
def doc_simhash_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash sketch per doc (subset) — near-dup docs land within
    small Hamming distance; bucketing by the sketch is the single-pass
    alternative to MinHash when memory per doc must be 8 bytes. Uses the
    md5-vote variant (operators/text.py simhash_md5) so DuckDB replays
    the sketch exactly; simhash64 (xxhash) is the cheaper scale path."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    return (
        d.select("doc_id", simhash_md5(tokens("text"), bits=32).alias("simhash"))
    )


@query(
    "doc_bpe_token_counts",
    tags=("text", "tokens", "bpe"),
    oracle=r"""
SELECT source,
       CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]'))) AS BIGINT)
         AS total_bpe_tokens,
       CAST(MAX(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]'))) AS BIGINT)
         AS max_bpe_tokens,
       COUNT(*) AS n_docs
FROM documents GROUP BY source ORDER BY source
""",
)
def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (word pieces + digits + symbols) — the
    cheap LLM-token estimator, aggregated per source."""
    d = load_table(spark, sf_dir, "documents")
    n = bpe_ish_token_count("text")
    return (
        d.groupBy("source")
        .agg(
            F.sum(n).alias("total_bpe_tokens"),
            F.max(n).alias("max_bpe_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


@query("doc_minhash_mllib", tags=("text", "dedup", "minhash", "mllib"))
def doc_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MLlib formulation of fuzzy dedup (SURVEY §2.10 names
    MinHashLSH as the library alternative): HashingTF binary 3-gram
    shingle vectors → MinHashLSH(8 tables, fixed seed) →
    approxSimilarityJoin at Jaccard distance ≤ 0.5. Shingles, not
    unigram token sets: on a narrow-vocabulary corpus token-set Jaccard
    saturates (round 3 measured 71% of ALL pairs clearing 0.5 at
    sf0.01, an all-pairs join in disguise), while shingle Jaccard
    isolates true near-dups, so the emitted pair count tracks the
    near-dup population — ~linear in corpus size, pinned by
    tests/test_text_dedup.py. Same similarity family as the
    hand-rolled doc_minhash_lsh_pairs (which exists to show the
    algorithm is expressible in pure DataFrame ops); rows-only check."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = load_table(spark, sf_dir, "documents", spread_by=("doc_id",))
    docs = d.select(
        "doc_id", word_shingles(tokens("text"), 3).alias("toks")
    ).where(F.size("toks") > 0)  # MinHashLSH rejects all-zero vectors
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(docs)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = mh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    return (
        joined.select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
        .where(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


@query(
    "doc_train_test_split",
    tags=("text", "sampling", "split"),
    oracle="""
WITH tagged AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                   IN ('0', '1', '2', '3')
              THEN 'test' ELSE 'train' END AS split
  FROM documents
)
SELECT split, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM tagged
GROUP BY 1, 2
ORDER BY split, lang
""",
)
def doc_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed train/test split: the first hex
    nibble of md5(doc_id) buckets each doc (4/16 = 25% test) — stable
    across runs, engines, partitionings and cluster sizes, unlike
    seeded random sampling whose draw order is partition-dependent.
    This is the standard leak-proof split for training-data pipelines:
    membership is a pure function of the key, so re-ingesting or
    re-sharding the corpus never migrates a document across the split."""
    d = load_table(spark, sf_dir, "documents")
    nibble = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    split = F.when(nibble.isin("0", "1", "2", "3"), "test").otherwise("train")
    return (
        d.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@query(
    "doc_pack_chunks",
    headline=True,
    tags=("text", "packing", "llm-pipeline"),
    oracle="""
WITH toks AS (
  SELECT doc_id, doc_id % 32 AS shard,
         GREATEST(1, n_chars // 4) AS tok
  FROM documents
), cums AS (
  SELECT shard, doc_id, tok,
         CAST(SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM toks
), spanned AS (
  SELECT shard, doc_id, tok, cum,
         unnest(generate_series((cum - tok) // 1024, (cum - 1) // 1024))
           AS chunk_id
  FROM cums
)
SELECT shard, chunk_id,
       COUNT(*) AS n_docs,
       CAST(SUM(LEAST((chunk_id + 1) * 1024, cum)
                - GREATEST(chunk_id * 1024, cum - tok)) AS BIGINT)
         AS chunk_tokens
FROM spanned
GROUP BY 1, 2
ORDER BY shard, chunk_id
""",
)
def doc_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/packing.py): docs
    concatenated per deterministic shard and cut into 1024-token
    chunks; every chunk but a shard's last holds exactly the budget.
    Pure window algebra — prefix sum, integer div, interval explode —
    so the whole pipeline is JVM-side and hash-checkable."""
    from financial_data_warehouse_automation_spark.operators.packing import chunk_assignments

    d = load_table(spark, sf_dir, "documents")
    return (
        chunk_assignments(d, budget=1024, n_shards=32)
        .groupBy("shard", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok_in_chunk").alias("chunk_tokens"),
        )
        # no final ORDER BY (r15): order-insensitive gate (guide §2.4).
    )


@query(
    "doc_pack_greedy_bins",
    tags=("text", "packing", "llm-pipeline", "udf"),
    oracle="""
WITH RECURSIVE t AS (
  SELECT doc_id % 32 AS shard,
         GREATEST(1, CAST(n_chars // 4 AS BIGINT)) AS tok,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 32 ORDER BY doc_id) AS rn
  FROM documents
), state AS (
  SELECT shard, rn, tok, 1 AS bin_id, tok AS used
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.tok,
         CASE WHEN s.used + t.tok > 1024 THEN s.bin_id + 1 ELSE s.bin_id END,
         CASE WHEN s.used + t.tok > 1024 THEN t.tok ELSE s.used + t.tok END
  FROM state s JOIN t ON t.shard = s.shard AND t.rn = s.rn + 1
)
SELECT shard,
       CAST(MAX(bin_id) AS BIGINT) AS n_bins,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS total_tokens,
       CAST(MAX(tok) AS BIGINT) AS max_doc_tokens,
       CAST(SUM(tok) AS DOUBLE) / (MAX(bin_id) * 1024) AS utilization
FROM state GROUP BY shard ORDER BY shard
""",
)
def doc_pack_greedy_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy whole-document bin packing via grouped applyInPandas
    (operators/packing.py) — the no-splitting variant for instruction
    tuning. The bin recurrence isn't window algebra, so it runs as the
    sanctioned Arrow-batched escape hatch; but it IS deterministic
    (doc_id order per shard), so a DuckDB recursive CTE replays the
    exact first-fit recurrence and the per-shard occupancy summary
    hash-matches — the pandas path gets a full external oracle, not
    just the pytest invariants (budget respected, no doc lost)."""
    from financial_data_warehouse_automation_spark.operators.packing import greedy_pack

    d = load_table(spark, sf_dir, "documents")
    bins = greedy_pack(d, budget=1024, n_shards=32)
    return (
        bins.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_tokens").alias("total_tokens"),
            F.max("max_doc_tokens").alias("max_doc_tokens"),
            (
                F.sum("total_tokens").cast("double")
                / (F.count(F.lit(1)) * 1024)
            ).alias("utilization"),
        )
    )


@query(
    "doc_vocab_df",
    tags=("text", "vocab", "llm-pipeline"),
    oracle="""
WITH per_doc AS (
  SELECT doc_id, t.tok AS token, COUNT(*) AS tf
  FROM documents,
       unnest(string_split_regex(trim(text), '\\s+')) AS t(tok)
  WHERE t.tok <> ''
  GROUP BY 1, 2
)
SELECT token,
       COUNT(*) AS df,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM documents) AS doc_frac
FROM per_doc
GROUP BY token
ORDER BY df DESC, total_tf DESC, token
LIMIT 30
""",
)
def doc_vocab_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with document frequencies — the first pass of
    tokenizer training / vocab pruning: explode tokens, collapse to
    (doc, token) term frequencies (map-side partial agg does most of
    the work), then roll up to corpus df / total tf. doc_frac divides
    two exact integers in double, so the hash stays stable; top-30
    plans as TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    per_doc = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        per_doc.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            (F.count(F.lit(1)).cast("double") / F.lit(n_docs)).alias("doc_frac"),
        )
        .orderBy(F.desc("df"), F.desc("total_tf"), "token")
        .limit(30)
    )


@query(
    "doc_curation_pipeline",
    tags=("text", "curation", "llm-pipeline", "dedup"),
    oracle=r"""
WITH base AS (
  SELECT doc_id, lang, n_chars,
         string_split_regex(trim(text), '\s+') AS toks,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                 '\s+', ' ', 'g'))) AS dedup_key
  FROM documents
  WHERE lang IN ('en', 'de', 'es', 'fr') AND n_chars BETWEEN 80 AND 10000
), q AS (
  SELECT doc_id, lang, n_chars, dedup_key, len(toks) AS n_tokens
  FROM base
  WHERE len(toks) >= 20
), dedup AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY dedup_key ORDER BY doc_id) AS rn
  FROM q
)
SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                 IN ('0', '1', '2', '3')
            THEN 'test' ELSE 'train' END AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
FROM dedup
WHERE rn = 1
GROUP BY 1, 2
ORDER BY split, lang
""",
)
def doc_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation chain a pretraining corpus goes through, as
    ONE composed pipeline: language allowlist → length gate (chars +
    tokens) → exact dedup (md5 of normalized text, keep-lowest doc_id)
    → deterministic hash train/test split → per-(split, lang) corpus
    stats. Every stage is an operator proven elsewhere in the registry;
    the point here is composition — filters push to the scan, the only
    wide ops are the dedup-key shuffle and the final tiny rollup."""
    d = load_table(spark, sf_dir, "documents")
    base = (
        d.where(
            F.col("lang").isin("en", "de", "es", "fr")
            & F.col("n_chars").between(80, 10000)
        )
        .select(
            "doc_id",
            "lang",
            "n_chars",
            tokens(F.col("text")).alias("toks"),
            F.md5(norm_text("text")).alias("dedup_key"),
        )
        .withColumn("n_tokens", F.size("toks"))
        .where(F.col("n_tokens") >= 20)
        .drop("toks")
    )
    w = Window.partitionBy("dedup_key").orderBy("doc_id")
    nibble = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    return (
        base.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .withColumn(
            "split",
            F.when(nibble.isin("0", "1", "2", "3"), "test").otherwise("train"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("mean_chars"),
        )
    )


@query(
    "dedup_cluster_components",
    tags=("text", "dedup", "graph", "components"),
    oracle=f"""
WITH RECURSIVE t AS (
  SELECT doc_id, list_distinct({_SQL_TOKS}) AS toks
  FROM documents WHERE doc_id < 100
), edges AS (
  SELECT a.doc_id AS ea, b.doc_id AS eb
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
          / greatest(len(list_distinct(list_concat(a.toks, b.toks))), 1) >= 0.65
), sym AS (
  SELECT ea AS src, eb AS dst FROM edges
  UNION
  SELECT eb, ea FROM edges
), reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
)
SELECT d.doc_id AS doc_id,
       LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS component
FROM t d LEFT JOIN reach r ON r.src = d.doc_id
GROUP BY d.doc_id
ORDER BY doc_id
""",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters: near-dup pairs (Jaccard ≥ 0.65 on the bounded
    anchor subset) collapsed into connected components by iterative
    min-label propagation (operators/graph.py) — the step that turns a
    dedup *pair list* into a canonical keep-set (keep doc == component
    id). The oracle computes the same components with a recursive CTE;
    the Spark side is the O(diameter)-round shuffle algorithm that
    survives corpus scale."""
    from financial_data_warehouse_automation_spark.operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    t = d.select("doc_id", F.array_distinct(tokens("text")).alias("toks"))
    a = t.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    b = t.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    edges = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jaccard(F.col("ta"), F.col("tb")).alias("jac"))
        .where(F.col("jac") >= 0.65)
        .select("id_a", "id_b")
    )
    comp = connected_components(
        t.select("doc_id"), edges, id_col="doc_id", src_col="id_a", dst_col="id_b"
    )
    return comp


@query(
    "dedup_cluster_two_phase",
    tags=("text", "dedup", "graph", "components", "two-phase"),
    oracle=f"""
WITH RECURSIVE t AS (
  SELECT doc_id, list_distinct({_SQL_TOKS}) AS toks
  FROM documents WHERE doc_id < 100
), edges AS (
  SELECT a.doc_id AS ea, b.doc_id AS eb
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
          / greatest(len(list_distinct(list_concat(a.toks, b.toks))), 1) >= 0.65
), sym AS (
  SELECT ea AS src, eb AS dst FROM edges
  UNION
  SELECT eb, ea FROM edges
), reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
)
SELECT d.doc_id AS doc_id,
       LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS component
FROM t d LEFT JOIN reach r ON r.src = d.doc_id
GROUP BY d.doc_id
ORDER BY doc_id
""",
)
def dedup_cluster_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_cluster_components' ADVERSARIAL-DIAMETER twin: the same
    near-dup pair graph (Jaccard >= 0.65 on the bounded anchor subset)
    collapsed into components by alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., SoCC'14; operators/graph.py
    connected_components_two_phase) instead of min-label propagation.
    Propagation needs O(diameter) synchronous rounds — fine for
    shallow dedup graphs, fatal for chain-shaped ones (a 10M-node
    near-dup chain = 10M shuffles); star contraction converges in
    O(log² n) rounds regardless of shape, so this is the swap-in a
    100 TB curation pipeline schedules when cluster shape is unknown.
    Component labels (min reachable doc_id) are identical to the
    propagation query by construction, so the SAME recursive-CTE
    oracle replays both: transitive closure over the symmetric edge
    set, then min reachable id per doc."""
    from financial_data_warehouse_automation_spark.operators.graph import (
        connected_components_two_phase,
    )

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    t = d.select("doc_id", F.array_distinct(tokens("text")).alias("toks"))
    a = t.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    b = t.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    edges = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jaccard(F.col("ta"), F.col("tb")).alias("jac"))
        .where(F.col("jac") >= 0.65)
        .select("id_a", "id_b")
    )
    comp = connected_components_two_phase(
        t.select("doc_id"), edges, id_col="doc_id", src_col="id_a", dst_col="id_b"
    )
    return comp


@query(
    "doc_decontaminate_splits",
    headline=True,
    tags=("text", "dedup", "decontamination", "llm-pipeline"),
    oracle=r"""
WITH tagged AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\s+') AS toks,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                   IN ('0', '1', '2', '3')
              THEN 'test' ELSE 'train' END AS split
  FROM documents
), pos AS (
  SELECT doc_id, split, toks,
         unnest(generate_series(1, len(toks)-7)) AS i
  FROM tagged
), sh AS (
  SELECT DISTINCT doc_id, split,
         array_to_string(toks[i:i+7], ' ') AS shingle
  FROM pos
), pairs AS (
  SELECT te.doc_id AS test_doc, tr.doc_id AS train_doc, te.shingle
  FROM sh te JOIN sh tr ON te.shingle = tr.shingle
  WHERE te.split = 'test' AND tr.split = 'train'
)
SELECT test_doc AS doc_id,
       COUNT(DISTINCT shingle) AS n_shared_shingles,
       COUNT(DISTINCT train_doc) AS n_contaminating_docs
FROM pairs GROUP BY 1 ORDER BY 1
""",
)
def doc_decontaminate_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: flag test-split documents sharing any
    8-gram with a train-split document — the standard benchmark-leakage
    scan a training pipeline runs before eval (same split function as
    doc_train_test_split, so membership is content-addressed and
    stable). Docs shorter than 8 tokens carry no 8-gram and cannot
    contaminate.

    Shape: per-split shingle sets joined on the shingle — a hash
    shuffle on the n-gram, never doc×doc. The two join inputs filter
    the same shingle frame, so the scan+explode runs twice — but the
    total shuffle volume is still ONE corpus worth (test 25% + train
    75%), and a measured single-scan alternative (shingle-grain
    aggregate with two filtered collect_sets, then pair expansion) was
    22% SLOWER at sf0.1: per-shingle array state over mostly-unique
    shingles costs more than the second explode, and it stays a wash
    at scale where both formulations move the exploded corpus through
    one total exchange. At corpus scale the join key becomes
    xxhash64(shingle) (8-byte shuffle rows instead of strings,
    collision-verified on the string after the match); the string key
    keeps the query engine-agnostic here."""
    # Single-row-group parquet = one input partition; spread the
    # CPU-heavy tokenize/shingle projection across cores (same guarded
    # rationale as doc_minhash_lsh_pairs; measured 1.69s -> 1.18s at
    # sf0.1). Both split branches share the one exchange.
    d = load_table(spark, sf_dir, "documents", spread_by=("doc_id",))
    nibble = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1
    )
    split = F.when(nibble.isin("0", "1", "2", "3"), "test").otherwise("train")
    t = d.select("doc_id", split.alias("split"), tokens("text").alias("toks"))
    sh = (
        t.where(F.size("toks") >= 8)
        .select(
            "doc_id",
            "split",
            F.explode(
                F.array_distinct(word_shingles(F.col("toks"), 8))
            ).alias("shingle"),
        )
    )
    te = sh.where(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "shingle"
    )
    tr = sh.where(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    return (
        te.join(tr, "shingle")
        .groupBy(F.col("test_doc").alias("doc_id"))
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("train_doc").alias("n_contaminating_docs"),
        )
        # no final ORDER BY (r15): order-insensitive gate (guide §2.4).
    )


@query(
    "doc_repetition_filter",
    tags=("text", "quality", "llm-pipeline"),
    oracle=r"""
WITH tagged AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents
), pos AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks)-1)) AS i
  FROM tagged
), grams AS (
  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
  FROM pos
), stats AS (
  SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT g) AS n_distinct
  FROM grams GROUP BY 1
)
SELECT doc_id, n_grams, n_distinct,
       ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 6) AS rep_ratio
FROM stats
WHERE 1.0 - CAST(n_distinct AS DOUBLE) / n_grams >= 0.08
ORDER BY doc_id
""",
)
def doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (the Gopher-style duplicate
    n-gram fraction): flag documents whose bigram stream is ≥8%
    duplicates — boilerplate, chorus-like spam, and template text score
    high while natural prose stays low. Computed entirely per-row with
    array HOFs (shingle → distinct-count), so the scan is
    embarrassingly parallel: no shuffle except the final tiny filter
    output — exactly what a 100 TB quality pass needs."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    grams = word_shingles(F.col("toks"), 2)
    stats = t.where(F.size("toks") >= 2).select(
        "doc_id",
        F.size(grams).alias("n_grams"),
        F.size(F.array_distinct(grams)).alias("n_distinct"),
    )
    rep = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_grams")
    return (
        stats.withColumn("rep_ratio", F.round(rep, 6))
        .where(rep >= 0.08)
        .select("doc_id", "n_grams", "n_distinct", "rep_ratio")
    )


@query(
    "doc_shingle_jaccard_blocked",
    tags=("text", "dedup", "jaccard", "blocking"),
    oracle=r"""
WITH toks AS (
  SELECT doc_id, n_chars, string_split_regex(trim(text), '\s+') AS t
  FROM documents
), pos AS (
  SELECT doc_id, n_chars, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks
), sh AS (
  SELECT doc_id, n_chars, list_distinct(list(array_to_string(t[i:i+2], ' '))) AS s
  FROM pos GROUP BY doc_id, n_chars, t
), keyed AS (
  SELECT doc_id, s, unnest([n_chars // 25, n_chars // 25 + 1]) AS bucket FROM sh
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
             / greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) AS jac
FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
      / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.5
ORDER BY id_a, id_b
""",
)
def doc_shingle_jaccard_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram shingle Jaccard near-dup pairs restricted to a
    ±1 length-window (docs compare only when their n_chars-div-25
    buckets are adjacent or equal) — the oracle-checked anchor for the
    MinHash-LSH path (same shingles, same threshold).

    RESULT CONTRACT unchanged since round 2; the PLAN was rebuilt in
    round 8. The original formulation materialized the length buckets
    and expanded pairs inside them — O(Σ bucket²) with buckets growing
    linearly with the corpus (124M in-bucket pairs at sf1; the sweep
    had to SKIP it at 10×). Candidates now come from the df-ordered
    AllPairs prefix filter (provably a SUPERSET of all pairs with
    J >= 0.5, length window or not — operators/text.py), and the
    window is applied as a predicate on the verified pairs:
    |n_chars_a div 25 − n_chars_b div 25| <= 1 is exactly "the two
    per-doc bucket pairs {k, k+1} intersect", so the output is
    row-identical to the bucket-expansion plan (pinned by
    test_blocked_rewrite_equals_quadratic against the retained
    quadratic formulation, and by the unchanged DuckDB oracle, which
    still replays the bucket join). Sub-quadratic at corpus scale —
    the sweep runs it at sf1 instead of SKIPping.

    positional=False deliberately: the window predicate sits FIRST in
    the verify conjunction, so codegen short-circuits the expensive
    array Jaccard for the (majority) cross-window candidates — the
    cheap-verify regime where the PPJoin aggregation costs more than
    it saves (measured at sf1: 4.8s plain vs 7.4s positional;
    doc_jaccard_prefix_filter, whose verify cannot short-circuit,
    shows the opposite, 9.7 → 6.1s).

    Round 9: shingle elements are xxhash64 longs (see
    doc_jaccard_prefix_filter / operators/text.py xxhash64_set) —
    identical pairs and jac values under the injective mapping, ~4x
    lighter candidate and verify exchanges; the oracle and the
    quadratic pytest anchor still compute string Jaccard, pinning the
    equivalence from two independent directions.
    """
    d = load_table(spark, sf_dir, "documents", spread_by=("doc_id",))
    t = d.select("doc_id", "n_chars", tokens("text").alias("toks")).where(
        F.size("toks") >= 3
    )
    sh = cut(
        t.select(
            "doc_id",
            "n_chars",
            xxhash64_set(word_shingles(F.col("toks"), 3)).alias("s"),
        ),
        eager=False,
    )
    cand = allpairs_prefix_candidates(
        sh.select("doc_id", "s"), "doc_id", "s", tau=0.5, positional=False
    )
    sa = sh.select(
        F.col("doc_id").alias("id_a"), F.col("s").alias("sa"),
        F.col("n_chars").alias("nc_a"),
    )
    sb = sh.select(
        F.col("doc_id").alias("id_b"), F.col("s").alias("sb"),
        F.col("n_chars").alias("nc_b"),
    )
    jac = jaccard(F.col("sa"), F.col("sb"))
    window = (
        F.abs(F.expr("nc_a div 25") - F.expr("nc_b div 25")) <= 1
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .where(window & (jac >= 0.5))
        .select("id_a", "id_b", F.round(jac, 6).alias("jac"))
    )


def _shingle_jaccard_blocked_quadratic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ORIGINAL bucket-expansion plan of doc_shingle_jaccard_blocked
    (each doc exploded into two width-25 length buckets, all pairs
    within a bucket compared) — retained as the independent pytest
    anchor the prefix-filter plans are pinned against. O(Σ bucket²)
    with linearly growing buckets: NEVER register or sweep this at
    scale; the registered query computes the identical result
    sub-quadratically."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "n_chars", tokens("text").alias("toks")).where(
        F.size("toks") >= 3
    )
    sh = t.select(
        "doc_id",
        "n_chars",
        F.array_distinct(word_shingles(F.col("toks"), 3)).alias("s"),
    )
    bucket = F.expr("n_chars div 25")
    keyed = sh.select(
        "doc_id", "s", F.explode(F.array(bucket, bucket + 1)).alias("bucket")
    )
    a = keyed.select(
        F.col("doc_id").alias("id_a"), F.col("s").alias("sa"), "bucket"
    )
    b = keyed.select(
        F.col("doc_id").alias("id_b"), F.col("s").alias("sb"), "bucket"
    )
    jac = jaccard(F.col("sa"), F.col("sb"))
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .where(jac >= 0.5)
        .select("id_a", "id_b", F.round(jac, 6).alias("jac"))
        .distinct()
        .orderBy("id_a", "id_b")
    )


@query(
    "doc_jaccard_prefix_filter",
    tags=("text", "dedup", "jaccard", "prefix-filter", "llm-pipeline"),
    oracle=r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
              ELSE list_distinct(list_transform(
                     generate_series(1, len(toks) - 2),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         END AS s
  FROM t
), ex AS (
  SELECT doc_id, unnest(s) AS x FROM sh
), dfreq AS (
  SELECT x, COUNT(*) AS df FROM ex GROUP BY x
), keyed AS (
  SELECT ex.doc_id,
         lpad(CAST(dfreq.df AS VARCHAR), 12, '0') || md5(ex.x) || ex.x AS kx
  FROM ex JOIN dfreq USING (x)
), pre AS (
  SELECT doc_id,
         list_sort(list(kx))[1 : COUNT(*) // 2 + 1] AS ks,
         COUNT(*) AS sz
  FROM keyed GROUP BY doc_id
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, sz, unnest(ks) AS k FROM pre) a
  JOIN (SELECT doc_id, sz, unnest(ks) AS k FROM pre) b
    ON a.k = b.k AND a.doc_id < b.doc_id
   AND 2 * b.sz >= a.sz AND 2 * a.sz >= b.sz
), scored AS (
  SELECT id_a, id_b,
         CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
           / greatest(len(list_distinct(list_concat(sa.s, sb.s))), 1) AS jac
  FROM cand JOIN sh sa ON sa.doc_id = cand.id_a
            JOIN sh sb ON sb.doc_id = cand.id_b
)
SELECT id_a, id_b, ROUND(jac, 6) AS jac
FROM scored WHERE jac >= 0.5
ORDER BY id_a, id_b
""",
)
def doc_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT full-corpus 3-gram Jaccard near-dup pairs via PREFIX
    FILTERING (Bayardo et al., "Scaling Up All Pairs Similarity
    Search", WWW'07; the AllPairs/PPJoin family) — the scale-correct
    exact rung of the dedup ladder, found by the 10x scale point:
    doc_shingle_jaccard_blocked's length-window blocking is
    O(sum bucket^2) and its buckets grow linearly with the corpus
    (124M in-bucket pairs at the sf1 scale point; see PERF.md).

    The theorem: order every doc's distinct shingles by a global total
    order; at Jaccard threshold tau = 0.5, any qualifying pair shares
    >= ceil(tau*|A|) shingles, so it MUST collide inside the first
    |A| - ceil(tau*|A|) + 1 = |A| div 2 + 1 shingles of each side.
    Candidates therefore come from a shuffle keyed on PREFIX shingles
    only, then the exact Jaccard verifies candidates. No length
    blocking, so unlike the blocked anchor this finds ALL qualifying
    pairs.

    The global order is (document-frequency ASC, md5, shingle) — the
    canonical AllPairs ordering, and the property that makes the
    prefix filter SUB-quadratic rather than merely correct: prefixes
    then hold each doc's RAREST shingles, so every candidate join key
    has low fan-out by construction. A random (md5-only) order — the
    round-6 formulation — put corpus-common shingles into ~half of all
    prefixes and that one hot key generated quadratically many
    candidates (21.6s at the sf1 scale point; see PERF.md). Any total
    order preserves the theorem, so the FINAL pair set is unchanged —
    only the candidate count moves. Two further standard prunes, both
    result-neutral: the symmetric LENGTH filter (J >= tau forces
    tau*|A| <= |B| <= |A|/tau, i.e. 2|B| >= |A| and 2|A| >= |B| at
    tau = 0.5) drops candidates verification would reject anyway, and
    df ties break by md5 (collision-free over distinct shingles, so
    already total; the oracle's extra raw-shingle tiebreak is
    vacuous). Only the VERIFIED pair set must match across engines —
    and it does: any global total order yields a candidate superset
    of the qualifying pairs, and verification is exact. The shingle
    sets feed the candidate generator AND both verify sides, and
    Spark re-evaluates shared subplans, so they are lazily
    localCheckpoint'ed — one tokenize+shingle pass over the corpus
    instead of three (round 7).

    Round 9: elements are the xxhash64 image of the shingles
    (operators/text.py xxhash64_set) — Jaccard counts are invariant
    under the injective mapping, so the pair set and jac values are
    identical to the string formulation (which the DuckDB oracle
    still computes, keeping the cross-engine check independent) while
    the explode/shuffle/verify path moves 8-byte longs instead of
    ~30-char strings: 8.15 → 4.28s interleaved min at the 10x scale
    point, same 2,560 pairs."""
    d = load_table(spark, sf_dir, "documents", spread_by=("doc_id",))
    return _prefix_filter_pairs(d)


def _prefix_filter_pairs(d: DataFrame) -> DataFrame:
    """The full-corpus exact-Jaccard pair pipeline shared VERBATIM by
    doc_jaccard_prefix_filter (which just orders it) and
    doc_neardup_dropset (which clusters it): 3-gram shingles →
    xxhash64 images → AllPairs/PPJoin prefix candidates at tau=0.5 →
    exact verify. Returns unordered ``(id_a, id_b, jac)``."""
    sets = d.select(
        "doc_id",
        xxhash64_set(word_shingles(tokens("text"), 3)).alias("s"),
    )
    sets = cut(sets, eager=False)
    cand = allpairs_prefix_candidates(sets, "doc_id", "s", tau=0.5)
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    jac = jaccard(F.col("sa"), F.col("sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .where(jac >= 0.5)
        .select("id_a", "id_b", F.round(jac, 6).alias("jac"))
    )


@query(
    "doc_jaccard_incremental_pairs",
    tags=("text", "dedup", "jaccard", "incremental", "llm-pipeline"),
    oracle=r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
              ELSE list_distinct(list_transform(
                     generate_series(1, len(toks) - 2),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         END AS s
  FROM t
), ex AS (
  SELECT doc_id, unnest(s) AS x FROM sh
), dfreq AS (
  SELECT x, COUNT(*) AS df FROM ex GROUP BY x
), keyed AS (
  SELECT ex.doc_id,
         lpad(CAST(dfreq.df AS VARCHAR), 12, '0') || md5(ex.x) || ex.x AS kx
  FROM ex JOIN dfreq USING (x)
), pre AS (
  SELECT doc_id,
         list_sort(list(kx))[1 : COUNT(*) // 2 + 1] AS ks,
         COUNT(*) AS sz
  FROM keyed GROUP BY doc_id
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, sz, unnest(ks) AS k FROM pre) a
  JOIN (SELECT doc_id, sz, unnest(ks) AS k FROM pre) b
    ON a.k = b.k AND a.doc_id < b.doc_id
   AND 2 * b.sz >= a.sz AND 2 * a.sz >= b.sz
), scored AS (
  SELECT id_a, id_b,
         CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
           / greatest(len(list_distinct(list_concat(sa.s, sb.s))), 1) AS jac
  FROM cand JOIN sh sa ON sa.doc_id = cand.id_a
            JOIN sh sb ON sb.doc_id = cand.id_b
)
SELECT id_a, id_b, ROUND(jac, 6) AS jac,
       CASE WHEN substr(md5(CAST(id_a AS VARCHAR)), 1, 1)
                 NOT IN ('c', 'd', 'e', 'f')
             AND substr(md5(CAST(id_b AS VARCHAR)), 1, 1)
                 NOT IN ('c', 'd', 'e', 'f')
            THEN 'base' ELSE 'incr' END AS found_in
FROM scored WHERE jac >= 0.5
ORDER BY id_a, id_b
""",
)
def doc_jaccard_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact near-dup maintenance — the shape a production
    100 TB curation pipeline actually runs when new documents arrive on
    an already-deduped corpus: instead of rebuilding the full pair set,
    run the AllPairs candidate join with the NEW batch as the probe
    side (new-vs-all + new-vs-new; old-vs-old pairs are never
    re-generated), verify, and merge with the previous run's pairs.

    The batch split is content-addressed (md5(doc_id) first nibble in
    c-f ⇒ the ~25% "new" delta, the rest the deduped base), so
    membership is a pure function any engine replays. The Spark side
    executes BOTH runs the pipeline would: (1) the prior batch build —
    AllPairs over base only; (2) the incremental step —
    delta-probe-vs-all candidates over one global df order
    (operators/text.py allpairs_prefix_candidates_delta), each pair
    tagged with the run that found it. The oracle is the FULL REBUILD
    (doc_jaccard_prefix_filter's plan over base ∪ delta) with the tag
    recomputed from membership — so the driver hash-match proves the
    incremental invariant: base pairs ∪ delta-involving pairs equals
    the from-scratch pair set, with no pair double-found (the two
    phases are disjoint by the delta-membership tag). PERF.md records
    the incremental-vs-rebuild cost ratio.

    Round 9: shingle elements are xxhash64 longs (see
    doc_jaccard_prefix_filter / operators/text.py xxhash64_set) —
    same pairs/values under the injective mapping while both
    candidate phases and the verify join move 8-byte keys; the
    full-rebuild oracle still computes string Jaccard."""
    d = load_table(spark, sf_dir, "documents", spread_by=("doc_id",))
    sets = _tagged_shingle_sets(d)
    return _incremental_tagged_pairs(sets)


def _tagged_shingle_sets(d: DataFrame) -> DataFrame:
    """(doc_id, is_new, s): xxhash64 shingle images plus the
    content-addressed batch tag (md5(doc_id) first nibble in c-f ⇒ the
    ~25% delta) — the shared input frame of both incremental dedup
    queries."""
    nibble = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1
    )
    return cut(
        d.select(
            "doc_id",
            nibble.isin("c", "d", "e", "f").alias("is_new"),
            xxhash64_set(word_shingles(tokens("text"), 3)).alias("s"),
        ),
        eager=False,
    )


def _incremental_tagged_pairs(sets: DataFrame) -> DataFrame:
    """Both incremental phases, shared VERBATIM by
    doc_jaccard_incremental_pairs (which just orders it) and
    doc_neardup_dropset_incremental (which clusters it): the prior
    build's AllPairs candidates over base only, the delta-probe
    candidates over the full corpus, one verify join — unordered
    ``(id_a, id_b, jac, found_in)`` with found_in ∈ {base, incr}
    naming the run that found the pair."""
    from financial_data_warehouse_automation_spark.operators.text import (
        _allpairs_prefix_arrays,
        allpairs_candidates_from_prefix,
        allpairs_delta_candidates_from_prefix,
    )

    # ONE prefix-array pass over the full corpus (r16, guide §1.2):
    # the base and delta candidate generators used to each run the
    # explode → df aggregate → join-back → per-doc sort chain (the
    # pipeline's dominant pre-join cost) — the base one over base docs
    # under base-only df order, the delta one over everything. Any
    # SINGLE global element order yields the identical VERIFIED pair
    # set (operators/text.py order-invariance note), so both now read
    # one shared, lazily checkpointed full-corpus frame; the base
    # generator just restricts it to base rows. The oracle pins the
    # verified pairs + found_in attribution, both unchanged.
    pre = cut(
        _allpairs_prefix_arrays(sets, "doc_id", "s", 0.5, carry=("is_new",)),
        eager=False,
    )
    cand = allpairs_candidates_from_prefix(
        pre.where(~F.col("is_new")).drop("is_new"), "doc_id", tau=0.5
    ).select(
        "id_a", "id_b", F.lit("base").alias("found_in")
    ).unionByName(
        allpairs_delta_candidates_from_prefix(
            pre, "doc_id", "is_new", tau=0.5
        ).select("id_a", "id_b", F.lit("incr").alias("found_in"))
    )
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    jac = jaccard(F.col("sa"), F.col("sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .where(jac >= 0.5)
        .select("id_a", "id_b", F.round(jac, 6).alias("jac"), "found_in")
    )


@query(
    "doc_neardup_dropset",
    tags=("text", "dedup", "jaccard", "components", "llm-pipeline"),
    oracle=r"""
WITH RECURSIVE t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
              ELSE list_distinct(list_transform(
                     generate_series(1, len(toks) - 2),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         END AS s
  FROM t
), ex AS (
  SELECT doc_id, unnest(s) AS x FROM sh
), dfreq AS (
  SELECT x, COUNT(*) AS df FROM ex GROUP BY x
), keyed AS (
  SELECT ex.doc_id,
         lpad(CAST(dfreq.df AS VARCHAR), 12, '0') || md5(ex.x) || ex.x AS kx
  FROM ex JOIN dfreq USING (x)
), pre AS (
  SELECT doc_id,
         list_sort(list(kx))[1 : COUNT(*) // 2 + 1] AS ks,
         COUNT(*) AS sz
  FROM keyed GROUP BY doc_id
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, sz, unnest(ks) AS k FROM pre) a
  JOIN (SELECT doc_id, sz, unnest(ks) AS k FROM pre) b
    ON a.k = b.k AND a.doc_id < b.doc_id
   AND 2 * b.sz >= a.sz AND 2 * a.sz >= b.sz
), pairs AS (
  SELECT id_a, id_b
  FROM cand JOIN sh sa ON sa.doc_id = cand.id_a
            JOIN sh sb ON sb.doc_id = cand.id_b
  WHERE CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
          / greatest(len(list_distinct(list_concat(sa.s, sb.s))), 1) >= 0.5
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
), comp AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canonical
  FROM reach GROUP BY src
), sizes AS (
  SELECT canonical, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY canonical
)
SELECT c.doc_id, c.canonical, s.cluster_size,
       CAST(d.n_chars AS BIGINT) AS reclaimed_chars
FROM comp c JOIN sizes s USING (canonical)
     JOIN documents d ON d.doc_id = c.doc_id
WHERE c.doc_id <> c.canonical
ORDER BY c.doc_id
""",
)
def doc_neardup_dropset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END fuzzy dedup decision — pairs are evidence,
    clusters are structure, but what a curation pipeline executes is a
    DROP LIST. This composes the registry's two scale-correct halves
    into that artifact: full-corpus exact 3-gram Jaccard pairs at
    tau=0.5 via AllPairs/PPJoin prefix filtering (shared verbatim with
    doc_jaccard_prefix_filter through _prefix_filter_pairs), collapsed
    into clusters by alternating large-star/small-star contraction
    (Kiveris et al. SoCC'14, operators/graph.py) — then keep the
    minimum doc_id of each cluster and emit every other member with
    its canonical, its cluster size, and the characters reclaimed by
    dropping it. The exact-rung sibling is doc_dedup_dropset (md5
    identity); this is the near-dup version the md5 key cannot see.

    Scale posture at every stage: pair generation is sub-quadratic
    (prefix-filtered, never doc x doc), component rounds are O(log^2 n)
    regardless of near-dup chain shape, and the drop decision itself is
    one groupBy over cluster labels plus a thin join back to the
    corpus for n_chars — only PAIR ENDPOINTS enter the component step
    (singletons are their own canonical by definition and are never
    dropped), so CC input scales with duplication found, not corpus
    size. The oracle replays the same pipeline independently: string
    Jaccard (vs Spark's xxhash64 images), recursive-CTE transitive
    closure (vs star contraction), min-reachable-id canonicals — a
    hash-match is a cross-engine proof of the whole pipeline, not one
    stage."""
    d = load_table(spark, sf_dir, "documents", spread_by=("doc_id",))
    return _neardup_dropset(d)


def _neardup_dropset(d: DataFrame) -> DataFrame:
    """doc_neardup_dropset's pipeline over any ``(doc_id, text,
    n_chars)`` frame (unit-tested on hand-built cluster shapes in
    tests/test_text_dedup.py): prefix-filter pairs → two-phase CC over
    pair endpoints only → drop rows with canonical / cluster_size /
    reclaimed_chars."""
    from financial_data_warehouse_automation_spark.operators.graph import (
        connected_components_two_phase,
    )

    # The ~4s (sf1) pair pipeline is referenced three times downstream
    # (CC's symmetrize-and-cut, the endpoint-node derivation, and
    # nothing else shares lineage with it) — cut it once so the CC
    # ladder and the node scan both read the materialized pairs
    # instead of re-running shingle→candidates→verify.
    pairs = cut(_prefix_filter_pairs(d).select("id_a", "id_b"), eager=True)
    nodes = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    comp = connected_components_two_phase(
        nodes, pairs, id_col="doc_id", src_col="id_a", dst_col="id_b"
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        comp.where(F.col("doc_id") != F.col("component"))
        .join(sizes, "component")
        .join(
            d.select(
                "doc_id", F.col("n_chars").cast("long").alias("reclaimed_chars")
            ),
            "doc_id",
        )
        .select(
            "doc_id",
            F.col("component").alias("canonical"),
            "cluster_size",
            "reclaimed_chars",
        )
    )


@query(
    "doc_neardup_dropset_incremental",
    tags=("text", "dedup", "jaccard", "incremental", "components", "llm-pipeline"),
    oracle=r"""
WITH RECURSIVE t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
              ELSE list_distinct(list_transform(
                     generate_series(1, len(toks) - 2),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         END AS s
  FROM t
), ex AS (
  SELECT doc_id, unnest(s) AS x FROM sh
), dfreq AS (
  SELECT x, COUNT(*) AS df FROM ex GROUP BY x
), keyed AS (
  SELECT ex.doc_id,
         lpad(CAST(dfreq.df AS VARCHAR), 12, '0') || md5(ex.x) || ex.x AS kx
  FROM ex JOIN dfreq USING (x)
), pre AS (
  SELECT doc_id,
         list_sort(list(kx))[1 : COUNT(*) // 2 + 1] AS ks,
         COUNT(*) AS sz
  FROM keyed GROUP BY doc_id
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, sz, unnest(ks) AS k FROM pre) a
  JOIN (SELECT doc_id, sz, unnest(ks) AS k FROM pre) b
    ON a.k = b.k AND a.doc_id < b.doc_id
   AND 2 * b.sz >= a.sz AND 2 * a.sz >= b.sz
), pairs AS (
  SELECT id_a, id_b,
         (substr(md5(CAST(id_a AS VARCHAR)), 1, 1)
            NOT IN ('c', 'd', 'e', 'f')
          AND substr(md5(CAST(id_b AS VARCHAR)), 1, 1)
            NOT IN ('c', 'd', 'e', 'f')) AS both_base
  FROM cand JOIN sh sa ON sa.doc_id = cand.id_a
            JOIN sh sb ON sb.doc_id = cand.id_b
  WHERE CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
          / greatest(len(list_distinct(list_concat(sa.s, sb.s))), 1) >= 0.5
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), sym_base AS (
  SELECT id_a AS src, id_b AS dst FROM pairs WHERE both_base
  UNION
  SELECT id_b, id_a FROM pairs WHERE both_base
), reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
), reach_base AS (
  SELECT src, dst FROM sym_base
  UNION
  SELECT r.src, s.dst FROM reach_base r JOIN sym_base s ON r.dst = s.src
), comp AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canonical
  FROM reach GROUP BY src
), comp_base AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canonical
  FROM reach_base GROUP BY src
), sizes AS (
  SELECT canonical, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY canonical
), base_dropped AS (
  SELECT doc_id FROM comp_base WHERE doc_id <> canonical
)
SELECT c.doc_id, c.canonical, s.cluster_size,
       CASE WHEN c.doc_id IN (SELECT doc_id FROM base_dropped)
            THEN 'base' ELSE 'incr' END AS epoch
FROM comp c JOIN sizes s USING (canonical)
WHERE c.doc_id <> c.canonical
ORDER BY c.doc_id
""",
)
def doc_neardup_dropset_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL drop-list maintenance — what doc_jaccard_incremental_
    pairs is to doc_jaccard_prefix_filter, this is to doc_neardup_
    dropset: a delta batch arrives on an already-deduped corpus and the
    pipeline must produce the NEW drop list without regenerating
    old-vs-old pair candidates. The batch split is the registry's
    content-addressed one (md5(doc_id) first nibble in c-f ⇒ the ~25%
    delta). The Spark side executes both epochs: the prior build
    (AllPairs over base only → base CC → base drop set) and the
    incremental step (delta-probe candidates via
    allpairs_prefix_candidates_delta — fan-in scales with |delta| —
    unioned with the base pairs, CC over the merged pair endpoints).
    Each dropped doc is tagged with the EPOCH that first dropped it:
    'base' if the prior build already dropped it, 'incr' if this
    delta's arrival did.

    The 'incr' tag surfaces the two genuinely incremental cluster
    events a naive "tag delta docs" implementation would miss, both
    unit-tested on hand-built shapes: (1) a delta doc BRIDGES two base
    clusters (or a base singleton into a cluster), newly dropping a
    base doc that the prior epoch kept; (2) a delta doc with a SMALLER
    id than a base cluster's canonical takes over as canonical,
    newly dropping the previous canonical while the cluster's old
    drops keep their 'base' tag under the new canonical. Monotonicity
    makes the tag total: adding edges only merges clusters, so every
    base-epoch drop remains dropped (its cluster min can only
    decrease) — base drops ⊆ full drops, proven in the unit test and
    relied on by the CASE.

    The oracle replays the full pipeline from scratch (string Jaccard
    vs xxhash64 images, TWO recursive-CTE closures — full graph and
    both-base subgraph — vs two star-contraction runs), so a driver
    hash-match proves the incremental invariant end-to-end: base pairs
    ∪ delta-involving pairs, clustered, equals the rebuild's clusters
    AND the epoch attribution is exactly the base-subgraph diff.

    Scale posture: pair generation is the delta-probe plan (expansion
    + verify proportional to |delta|); both CC runs see only pair
    endpoints (duplication found, not corpus size); the base CC would
    be the prior epoch's cached artifact in production — executed here
    so the query is self-contained, and cut() once each since the
    full-graph CC and the epoch join both re-read them."""
    d = load_table(spark, sf_dir, "documents", spread_by=("doc_id",))
    nibble = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1
    )
    tagged = d.select(
        "doc_id", "text", nibble.isin("c", "d", "e", "f").alias("is_new")
    )
    return _neardup_dropset_incremental(tagged)


def _neardup_dropset_incremental(d: DataFrame) -> DataFrame:
    """doc_neardup_dropset_incremental's pipeline over any ``(doc_id,
    text, is_new)`` frame (unit-tested with hand-picked delta
    membership on bridge / canonical-takeover / delta-only shapes):
    base AllPairs pairs + delta-probe pairs → CC over base pairs and
    over the union → drop rows tagged with the first-dropping epoch."""
    from financial_data_warehouse_automation_spark.operators.graph import (
        connected_components_two_phase,
    )

    sets = cut(
        d.select(
            "doc_id",
            "is_new",
            xxhash64_set(word_shingles(tokens("text"), 3)).alias("s"),
        ),
        eager=False,
    )
    # ONE execution of the shared-verbatim tagged pair pipeline
    # (doc_jaccard_incremental_pairs IS this frame plus an orderBy),
    # materialized once at the fan-out: both CC edge sets below are
    # filters over it. found_in='base' pairs are by construction
    # exactly the prior build's AllPairs-over-base output, so the base
    # graph is the filtered subset, not a second pipeline run.
    verified = cut(
        _incremental_tagged_pairs(sets).select("id_a", "id_b", "found_in"),
        eager=True,
    )
    base_pairs = verified.where(F.col("found_in") == "base").select(
        "id_a", "id_b"
    )
    all_pairs = verified.select("id_a", "id_b")

    def _components(pairs: DataFrame) -> DataFrame:
        nodes = (
            pairs.select(F.col("id_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        return connected_components_two_phase(
            nodes, pairs, id_col="doc_id", src_col="id_a", dst_col="id_b"
        )

    # r16 (guide §2.6): the two CC ladders are independent consumers of
    # the same eagerly-materialized pair frame, and each ladder's cost
    # at this data size is dominated by fixed per-job driver latency
    # (r15's d0739e0 finding) — overlap them from two driver threads
    # (the relational.py compaction-pool precedent) instead of paying
    # the two ladders' job chains back to back. CC is pure DataFrame
    # algebra over `verified` (no session-conf mutation), so the
    # threads share the session safely; each thread runs under the
    # caller's job group.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    components = inheritable_thread_target(d.sparkSession)(_components)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_base = pool.submit(components, base_pairs)
        f_all = pool.submit(components, all_pairs)
        base_comp, comp = f_base.result(), f_all.result()
    base_dropped = (
        base_comp
        .where(F.col("doc_id") != F.col("component"))
        .select("doc_id", F.lit(True).alias("dropped_base"))
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        comp.where(F.col("doc_id") != F.col("component"))
        .join(sizes, "component")
        .join(base_dropped, "doc_id", "left")
        .select(
            "doc_id",
            F.col("component").alias("canonical"),
            "cluster_size",
            F.when(F.col("dropped_base"), F.lit("base"))
            .otherwise(F.lit("incr"))
            .alias("epoch"),
        )
    )


@query(
    "doc_stratified_sample",
    tags=("text", "sampling", "stratified", "llm-pipeline"),
    oracle="""
WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang)
SELECT d.doc_id, d.lang
FROM documents d JOIN c ON d.lang = c.lang
WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2))
           AS INTEGER) * c.cnt < 256 * 64
ORDER BY d.doc_id
""",
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing stratified sample: cap every language at
    ~64 expected docs by keeping a doc iff u * cnt_lang < 256 * cap,
    where u = first byte of md5(doc_id) — integer arithmetic, so
    membership is an exact pure function of (key, stratum size) that
    any engine reproduces bit-for-bit. Under-cap languages pass
    untouched (u*cnt < 256*cap for all u). This is the down-sample-the
    -over-represented-language step of a corpus mix; content-addressed
    like doc_train_test_split, so re-sharding never changes the
    sample. One tiny-dim broadcast join, no shuffle of the corpus."""
    d = load_table(spark, sf_dir, "documents")
    cnt = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    u = md5_prefix_int(F.col("doc_id").cast("string").cast("binary"), 2)
    return (
        d.join(F.broadcast(cnt), "lang")
        .where(u * F.col("cnt") < F.lit(256 * 64))
        .select("doc_id", "lang")
    )


@query(
    "doc_tfidf_top_terms",
    tags=("text", "tfidf", "ranking", "llm-pipeline"),
    oracle=r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rk
FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk
""",
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))).
    Term frequencies and document frequencies are exact integer
    aggregates; the only float op is one ln on an identical double in
    both engines, rounded to 6 before ranking so the rank itself is
    engine-stable. N joins in as a single-row broadcast (Catalyst
    folds the literal key, leaving a nested loop over exactly one
    build row — free at any scale, allowlisted in the plan sweep). At
    scale this is two hash aggregates and a window partitioned by
    doc — WindowGroupLimit pushes rk<=3 below the shuffle. The corpus
    is tokenized ONCE: df is COUNT(*) over the tf relation (each
    (doc, term) row appears exactly once, so counting rows per term
    IS countDistinct(doc_id) over the token stream), and tf is
    localCheckpoint'ed because it feeds both df and the score join —
    Spark re-evaluates shared subplans, so the uncached form ran the
    tokenize+explode+aggregate chain twice (round 7)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = cut(
        tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")),
        eager=False,
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs")).withColumn("one", F.lit(1))
    scored = (
        tf.join(df_, "term")
        .withColumn("one", F.lit(1))
        .join(F.broadcast(n), "one")
        .select(
            "doc_id", "term", "tf", "df",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


@query(
    "doc_bm25_search",
    tags=("text", "bm25", "search", "ranking", "llm-pipeline"),
    oracle=r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
), stats AS (
  SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl
), qtf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok
  WHERE term IN ('spark', 'hash', 'window') GROUP BY doc_id, term
), qdf AS (
  SELECT term, COUNT(*) AS df FROM qtf GROUP BY term
), contrib AS (
  SELECT q.doc_id,
         CAST(ROUND(
           ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (q.tf * 2.2)
           / (q.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)), 6)
         AS DECIMAL(18,6)) AS c
  FROM qtf q JOIN qdf d USING (term) JOIN dl l USING (doc_id)
       CROSS JOIN stats s
)
SELECT doc_id, COUNT(*) AS n_terms_hit, CAST(SUM(c) AS DOUBLE) AS bm25
FROM contrib GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT 20
""",
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search (k1=1.2, b=0.75, the +1 idf variant) for the
    query {spark, hash, window}: top-20 docs by summed per-term score.
    Cross-engine determinism: tf/df/dl/N are exact integers, avgdl is
    one exact division, each per-term score is rounded to 6 and cast
    to DECIMAL(18,6) BEFORE the sum, so the final score is an exact
    decimal sum (shuffle-order independent) and the top-20 cut
    (score DESC, doc_id) is stable. Scale shape: the corpus-wide work
    is one tokenize+filter scan; only docs containing a query term
    reach the join, and df/avgdl arrive as single-row broadcasts
    (nested loop over one build row — free, allowlisted)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = (
        dl.agg(F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs"))
        .withColumn("one", F.lit(1))
    )
    qtf = (
        tok.where(F.col("term").isin("spark", "hash", "window"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    qdf = qtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        qtf.join(F.broadcast(qdf), "term")
        .join(dl, "doc_id")
        .withColumn("one", F.lit(1))
        .join(F.broadcast(stats), "one")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl")
    )
    contrib = F.round(idf * (F.col("tf") * F.lit(2.2)) / denom, 6).cast(
        "decimal(18,6)"
    )
    return (
        scored.select("doc_id", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            # exact decimal sum first, then one double conversion — both
            # engines convert the same exact rational, so hashes match
            F.sum("c").cast("double").alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@query(
    "doc_unigram_logprob",
    tags=("text", "quality", "language-model", "llm-pipeline"),
    oracle=r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT term, COUNT(*) AS n_term FROM tok GROUP BY term
), tot AS (
  SELECT CAST(SUM(n_term) AS BIGINT) AS n_total FROM tf
), logp AS (
  SELECT tok.doc_id,
         CAST(ROUND(ln(CAST(tf.n_term AS DOUBLE) / tot.n_total), 9)
              AS DECIMAL(18,9)) AS lp
  FROM tok JOIN tf USING (term) CROSS JOIN tot
)
SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(lp) AS DOUBLE) AS sum_logprob
FROM logp GROUP BY doc_id
ORDER BY doc_id
""",
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the statistical half of a
    perplexity-based quality filter: corpus unigram probabilities
    (exact integer counts), then each doc accumulates the log-prob of
    its tokens. Each per-token ln runs on an identical double in both
    engines, is rounded to 9 and cast to DECIMAL(18,9) BEFORE the
    per-doc sum, so the accumulation is exact and shuffle-order
    independent — map-side partial aggregation stays legal, unlike a
    float fold that would pin token order. Mean log-prob (the filter
    statistic) is sum_logprob / n_tokens at the caller. Scale: one
    token explode, a vocab-sized broadcast join, one doc-keyed
    shuffle."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n_term"))
    tot = tf.agg(F.sum("n_term").cast("long").alias("n_total")).withColumn(
        "one", F.lit(1)
    )
    lp = F.round(
        F.log(F.col("n_term").cast("double") / F.col("n_total")), 9
    ).cast("decimal(18,9)")
    scored = (
        tok.join(F.broadcast(tf), "term")
        .withColumn("one", F.lit(1))
        .join(F.broadcast(tot), "one")
        .select("doc_id", lp.alias("lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # exact decimal sum, then one double conversion on both sides
            F.sum("lp").cast("double").alias("sum_logprob"),
        )
    )


@query(
    "doc_pii_scrub",
    tags=("text", "curation", "regex", "llm-pipeline"),
    oracle=r"""
WITH contact AS (
  SELECT doc_id, source,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or call 555-'
              || CAST(doc_id % 10000 AS VARCHAR) AS raw
  FROM documents
), scrubbed AS (
  SELECT doc_id, source,
         CAST(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS VARCHAR[]) AS emails,
         regexp_replace(
           regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b555-[0-9]{1,4}\b', '<PHONE>', 'g') AS clean
  FROM contact
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(emails)) AS BIGINT) AS emails_redacted,
       CAST(SUM(CASE WHEN clean LIKE '%<PHONE>%' THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_phone,
       CAST(SUM(CASE WHEN regexp_matches(clean, '@|[0-9]{3}-[0-9]')
                THEN 1 ELSE 0 END) AS BIGINT) AS residual_pii_docs,
       CAST(SUM(len(clean)) AS BIGINT) AS total_clean_chars
FROM scrubbed
GROUP BY source
ORDER BY source
""",
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass — the curation step every training-data
    pipeline runs before packing (emails/phones → placeholder tokens).
    The synthetic corpus contains no organic PII (pure word soup, zero
    digits), so the query deterministically appends a contact line
    derived from doc_id before scrubbing — the redaction regexes, the
    per-source audit counts, and the residual-PII assertion column
    (which must come back 0) are the real operator under test, and the
    oracle pins Spark's Java regex semantics against DuckDB's RE2 on
    identical inputs. Scale: pure per-row map work — no shuffle except
    the final per-source aggregate; regexes stay JVM-side (no UDF)."""
    d = load_table(spark, sf_dir, "documents")
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\b555-[0-9]{1,4}\b"
    raw = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        (F.col("doc_id") % 10000).cast("string"),
    )
    scrub = d.select(
        "doc_id",
        "source",
        F.regexp_count(raw, F.lit(email_re)).alias("n_emails"),
        F.regexp_replace(
            F.regexp_replace(raw, email_re, "<EMAIL>"),
            phone_re, "<PHONE>",
        ).alias("clean"),
    )
    return (
        scrub.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").alias("emails_redacted"),
            F.sum(
                F.when(F.col("clean").contains("<PHONE>"), 1).otherwise(0)
            ).cast("long").alias("docs_with_phone"),
            F.sum(
                F.when(
                    F.col("clean").rlike("@|[0-9]{3}-[0-9]"), 1
                ).otherwise(0)
            ).cast("long").alias("residual_pii_docs"),
            F.sum(F.length("clean")).alias("total_clean_chars"),
        )
    )


@query(
    "doc_chunk_sliding",
    tags=("text", "chunking", "rag", "llm-pipeline"),
    oracle=rf"""
WITH t AS (
  SELECT doc_id, len({_SQL_TOKS}) AS n_tok FROM documents
), shaped AS (
  SELECT doc_id, n_tok,
         1 + (greatest(n_tok - 64, 0) + 31) // 32 AS n_chunks
  FROM t WHERE n_tok > 0
), chunks AS (
  SELECT doc_id, n_tok,
         unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
  FROM shaped
)
SELECT doc_id, chunk_idx,
       chunk_idx * 32 AS start_tok,
       least(64, n_tok - chunk_idx * 32) AS chunk_len
FROM chunks
ORDER BY doc_id, chunk_idx
""",
)
def doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style sliding-window chunking: 64-token windows, stride 32
    (50% overlap), last chunk keeps the tail. The chunk COUNT is closed
    form — 1 + ceil(max(n_tok - W, 0) / S) — so the whole plan is one
    scan + a sequence explode with zero shuffles until the final
    order-by (which a writer would drop): at 100 TB this chunker is
    embarrassingly parallel and emits (doc_id, chunk_idx, start, len)
    slice descriptors, leaving substring materialization to the
    consumer so no text is duplicated 2x through the overlap."""
    d = load_table(spark, sf_dir, "documents")
    W, S = 64, 32
    t = d.select("doc_id", F.size(tokens("text")).alias("n_tok")).where(
        F.col("n_tok") > 0
    )
    n_chunks = 1 + F.floor(
        (F.greatest(F.col("n_tok") - W, F.lit(0)) + (S - 1)) / S
    ).cast("long")
    return (
        t.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx") * S).cast("long").alias("start_tok"),
            F.least(F.lit(W), F.col("n_tok") - F.col("chunk_idx") * S)
            .cast("long")
            .alias("chunk_len"),
        )
    )


@query(
    "doc_ngram_novelty",
    tags=("text", "dedup", "novelty", "llm-pipeline"),
    oracle=rf"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
              ELSE list_distinct(list_transform(
                     generate_series(1, len(toks) - 7),
                     i -> array_to_string(toks[i:i+7], ' ')))
         END AS grams
  FROM t
), ex AS (
  SELECT doc_id, unnest(grams) AS shingle FROM sh
), owned AS (
  SELECT shingle, MIN(doc_id) AS owner FROM ex GROUP BY shingle
), scored AS (
  SELECT ex.doc_id,
         COUNT(*) AS n_grams,
         SUM(CASE WHEN o.owner = ex.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM ex JOIN owned o USING (shingle)
  GROUP BY ex.doc_id
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_novel AS BIGINT) AS n_novel,
       CAST(ROUND(CAST(n_novel AS DOUBLE) / n_grams, 6) AS DOUBLE)
         AS novelty
FROM scored ORDER BY doc_id
""",
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 8-gram novelty — the 'new information rate' used to
    prioritize documents during corpus curation: the fraction of a
    doc's distinct 8-grams whose minimum owning doc_id is the doc
    itself (first writer wins). Shape: one shingle-keyed shuffle to
    elect owners (map-side-combined MIN), then a doc-grain count of
    election wins — never doc x doc. The exploded-rows ⋈ owners join
    the definition suggests is algebraically unnecessary (cut round
    7, 13.1s → ~5s at sf1): n_novel per doc is just GROUP BY owner
    over the election result, and n_grams is size(grams) at scan —
    so no doc×gram row ever carries its 8-gram string through a
    second shuffle. Docs whose every gram is owned elsewhere get
    n_novel = 0 via the doc-grain left join. Docs shorter than 8
    tokens contribute their whole text as one shingle (same
    convention as word_shingles)."""
    d = load_table(spark, sf_dir, "documents", spread_by=("doc_id",))
    t = d.select("doc_id", tokens("text").alias("toks"))
    sh = t.select(
        "doc_id",
        F.array_distinct(word_shingles(F.col("toks"), 8)).alias("grams"),
    )
    per_doc = sh.select("doc_id", F.size("grams").cast("long").alias("n_grams"))
    exploded = sh.select("doc_id", F.explode("grams").alias("shingle"))
    novel = (
        exploded.groupBy("shingle")
        .agg(F.min("doc_id").alias("owner"))
        .groupBy("owner")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        per_doc.join(novel, per_doc["doc_id"] == novel["owner"], "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_novel").cast("double") / F.col("n_grams"), 6),
        )
    )


@query(
    "doc_zipf_fit",
    tags=("text", "statistics", "zipf"),
    oracle=rf"""
WITH tf AS (
  SELECT term, COUNT(*) AS freq
  FROM (SELECT unnest({_SQL_TOKS}) AS term FROM documents)
  GROUP BY term
), ranked AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rnk
  FROM tf
), pts AS (
  SELECT CAST(ROUND(ln(rnk), 9) AS DECIMAL(18,9)) AS x,
         CAST(ROUND(ln(freq), 9) AS DECIMAL(18,9)) AS y
  FROM ranked WHERE rnk <= 100
), sums AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx
  FROM pts
)
SELECT n AS n_terms,
       CAST(ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS DOUBLE)
         AS zipf_slope,
       CAST(ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
            AS DOUBLE) AS zipf_intercept
FROM sums
""",
)
def doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: OLS slope of
    ln(freq) on ln(rank) for the top-100 terms (a healthy natural-
    language corpus fits slope ~ -1; a spammy or templated crawl
    doesn't — this is a corpus-level quality gate). Determinism: ranks
    are integers (ties broken by term), each ln runs on identical
    doubles in both engines and is rounded to DECIMAL(18,9) BEFORE the
    sums, so Sx/Sy/Sxy/Sxx are exact and shuffle-order independent; the
    slope/intercept are then single double expressions over those exact
    sums. Shape: one term-count shuffle, then the top-100 cut runs as
    orderBy().limit(100) — TakeOrderedAndProject per-partition heaps
    (the doc_vocab_top100 pattern), NOT a row_number window over the
    whole vocabulary (round-4 verdict item #4: an unpartitioned window
    sorts every distinct term on one task just to keep 100 rows). The
    rank window that remains runs over the already-cut 100-row frame."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = tf.orderBy(F.desc("freq"), "term").limit(100)
    w = Window.orderBy(F.desc("freq"), "term")
    ranked = top.withColumn("rnk", F.row_number().over(w))
    pts = ranked.select(
        F.round(F.log("rnk"), 9).cast("decimal(18,9)").alias("x"),
        F.round(F.log("freq"), 9).cast("decimal(18,9)").alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "zipf_intercept"
        ),
    )


@query(
    "doc_length_buckets",
    tags=("text", "tokens", "batching", "llm-pipeline"),
    oracle="""
WITH tok AS (
  SELECT source,
         len(string_split_regex(trim(text), '\\s+')) AS n_tok
  FROM documents
)
SELECT source,
       CASE WHEN n_tok < 16  THEN 'lt16'
            WHEN n_tok < 32  THEN '16_31'
            WHEN n_tok < 64  THEN '32_63'
            WHEN n_tok < 128 THEN '64_127'
            WHEN n_tok < 256 THEN '128_255'
            ELSE 'ge256' END AS len_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(MAX(n_tok) AS BIGINT) AS max_tokens
FROM tok GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def doc_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length bucketing per source — the batching
    histogram an inference/training pipeline uses to pick padding
    buckets (docs batched within a bucket waste < 2x padding). Bucket
    edges are pure integer comparisons, NOT floor(log2(n)) — log-based
    bucketing computes ln(n)/ln(2) in floating point, which can land an
    exact power of two on either side of the floor depending on the
    engine's libm. Shape: token count fuses into the scan projection;
    one shuffle on the tiny (source, bucket) key with map-side combine."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text"))
    bucket = (
        F.when(n_tok < 16, "lt16")
        .when(n_tok < 32, "16_31")
        .when(n_tok < 64, "32_63")
        .when(n_tok < 128, "64_127")
        .when(n_tok < 256, "128_255")
        .otherwise("ge256")
    )
    return (
        d.select("source", n_tok.alias("n_tok"), bucket.alias("len_bucket"))
        .groupBy("source", "len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.max("n_tok").cast("long").alias("max_tokens"),
        )
    )


@query(
    "doc_vocab_top100",
    tags=("text", "vocab", "llm-pipeline"),
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS tf,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
FROM tok GROUP BY token
ORDER BY df DESC, tf DESC, token
LIMIT 100
""",
)
def doc_vocab_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build: term frequency + document frequency per
    token, top 100 by document frequency — the first step of any
    tokenizer / stopword / TF-IDF vocabulary pipeline (the broadcast
    vocab doc_tfidf_top_terms consumes is exactly this output). Shape:
    explode -> one aggregate keyed on the token with BOTH tf (count)
    and df (count distinct doc_id) in the same shuffle, then a
    TakeOrderedAndProject top-k — per-partition heaps, no global sort.
    Ties break df desc, tf desc, then token, so the LIMIT cut is
    deterministic in both engines."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.count_distinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("df"), F.desc("tf"), "token")
        .limit(100)
    )


@query(
    "doc_kl_divergence",
    tags=("text", "info-theory", "curation", "llm-pipeline"),
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
), st AS (
  SELECT source, token, COUNT(*) AS n_st FROM tok GROUP BY 1, 2
), s_tot AS (
  SELECT source, SUM(n_st) AS n_s FROM st GROUP BY 1
), t_tot AS (
  SELECT token, SUM(n_st) AS n_t FROM st GROUP BY 1
), n_tot AS (
  SELECT SUM(n_st) AS big_n FROM st
)
SELECT st.source,
       CAST(MAX(s_tot.n_s) AS BIGINT) AS n_tokens,
       CAST(SUM(CAST(ROUND(
         (CAST(n_st AS DOUBLE) / n_s)
           * LN((CAST(n_st AS DOUBLE) / n_s)
                / (CAST(n_t AS DOUBLE) / big_n)), 6) AS DECIMAL(18,6)))
         AS DOUBLE) AS kl_nats
FROM st
JOIN s_tot ON st.source = s_tot.source
JOIN t_tot ON st.token = t_tot.token
CROSS JOIN n_tot
GROUP BY st.source
ORDER BY st.source
""",
)
def doc_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's token distribution from the
    corpus distribution — the domain-shift statistic a curation
    pipeline uses to spot off-distribution sources (and the quantity
    behind importance-sampling data mixes). Per-term contributions
    p*ln(p/q) are rounded to 6 decimals and accumulated as exact
    decimals, so the one transcendental (ln of an identical double on
    both engines, at worst 1 ulp apart) cannot surface through the
    round — the zipf_fit / classifier pattern. Shape: one explode, one
    (source, token) aggregate; source and corpus marginals re-reduce
    that aggregate (no second corpus scan); the token-marginal join is
    keyed on the token — at 100 TB it's one shuffle of the vocabulary,
    never of the corpus."""
    d = load_table(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n_st"))
    )
    # st feeds both marginals, the grand total, AND the final join;
    # Spark re-evaluates shared subplans, so the tokenize+aggregate
    # ran four times. Cached relation: (source x vocab) counts.
    st = cut(st, eager=False)
    s_tot = st.groupBy(F.col("source").alias("s_src")).agg(
        F.sum("n_st").alias("n_s")
    )
    t_tot = st.groupBy(F.col("token").alias("t_tok")).agg(
        F.sum("n_st").alias("n_t")
    )
    n_tot = st.agg(F.sum("n_st").alias("big_n"))
    p = F.col("n_st").cast("double") / F.col("n_s")
    q = F.col("n_t").cast("double") / F.col("big_n")
    term = F.round(p * F.log(p / q), 6).cast("decimal(18,6)")
    return (
        st.join(s_tot, st.source == F.col("s_src"))
        .join(t_tot, st.token == F.col("t_tok"))
        .crossJoin(F.broadcast(n_tot))
        .groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            F.sum(term).cast("double").alias("kl_nats"),
        )
    )


# md5-twin MinHash permutation constants, shared verbatim with the SQL
# oracle below. Same golden-ratio offsets as operators/text.py but k=16
# and an md5-derived 60-bit base hash, because DuckDB cannot replay
# xxhash64 — this twin exists to give the banded-LSH ALGORITHM an exact
# cross-engine oracle; the xxhash64 pipeline stays the perf path.
_MH_K, _MH_BANDS, _MH_ROWS = 16, 4, 4
_MH_B = [(0x9E3779B97F4A7C15 * (i + 1)) % (1 << 60) for i in range(_MH_K)]

# The banded CTE chain shared by doc_minhash_md5_pairs and its
# incremental twin — one definition so the oracles can never drift.
_MH_BANDS_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              ELSE list_transform(generate_series(1, len(t) - 2),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         END AS shingles
  FROM toks
), h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483648 AS h31
  FROM sh, LATERAL (SELECT unnest(shingles) AS s) u
), mins AS (
  SELECT doc_id, i,
         MIN(h31 * (2 * i + 1) + ([{', '.join(str(b) for b in _MH_B)}])[i + 1])
           AS m
  FROM h, LATERAL (SELECT unnest(generate_series(0, {_MH_K - 1})) AS i) v
  GROUP BY 1, 2
), bands AS (
  SELECT doc_id, i // {_MH_ROWS} AS band_idx,
         md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)) AS band_hash
  FROM mins GROUP BY doc_id, i // {_MH_ROWS}
)"""


def _md5_minhash_bands(d: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) for the md5-twin MinHash — the
    engine-replicable banded LSH index. A PER-DOC pure function (no
    corpus-level state), which is precisely what makes the banded
    index incrementally maintainable: rows computed for a base corpus
    never change when a delta batch arrives."""
    sh = d.select(
        "doc_id", F.explode(word_shingles(tokens("text"), 3)).alias("s")
    )
    h31 = F.pmod(md5_prefix_int(F.col("s")), F.lit(1 << 31))
    hs = sh.select("doc_id", h31.alias("h31"))
    mins = hs.groupBy("doc_id").agg(
        *[
            F.min(F.col("h31") * F.lit(2 * i + 1) + F.lit(_MH_B[i])).alias(
                f"m{i}"
            )
            for i in range(_MH_K)
        ]
    )
    return mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"m{b * _MH_ROWS + j}").cast("string")
                                    for j in range(_MH_ROWS)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(_MH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_hash")


@query(
    "doc_minhash_md5_pairs",
    tags=("text", "dedup", "minhash", "lsh", "llm-pipeline"),
    oracle=_MH_BANDS_SQL + """
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
 AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
""",
)
def doc_minhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded MinHash-LSH candidate generator with an EXACT DuckDB
    oracle: identical 3-token shingles, an md5-derived 60-bit base hash
    (portable to DuckDB, unlike xxhash64), the same golden-ratio
    permutation family (k=16, 4 bands x 4 rows), and byte-identical
    band hashes — so the driver's hash check certifies the ALGORITHM
    (shingling, permutation mins, banding, bucket pairing), not just
    row counts. The production pipeline (doc_minhash_lsh_pairs, k=64,
    xxhash64, one-shuffle bucket expansion) stays the perf path; this
    twin is its cross-engine proof, the RHP-LSH inlined-literals
    pattern applied to MinHash. Plan shape is still banded: the pair
    join keys on (band_idx, band_hash) — never doc x doc."""
    d = load_table(spark, sf_dir, "documents")
    # self-join: both sides reference bands, and Spark re-evaluates
    # shared subplans — without the cut the md5-per-shingle signature
    # build runs twice. Cached relation: 4 rows of (id, int, 32-char
    # hash) per doc.
    bands = cut(_md5_minhash_bands(d), eager=False)
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("band_idx").alias("bi_a"),
        F.col("band_hash").alias("bh_a"),
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("band_idx").alias("bi_b"),
        F.col("band_hash").alias("bh_b"),
    )
    return (
        a.join(
            b,
            (F.col("bi_a") == F.col("bi_b"))
            & (F.col("bh_a") == F.col("bh_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )


@query(
    "doc_dedup_dropset",
    tags=("text", "dedup", "exact", "llm-pipeline"),
    oracle=r"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                 '\s+', ' ', 'g'))) AS dedup_key
  FROM documents
), clustered AS (
  SELECT doc_id, n_chars, dedup_key,
         MIN(doc_id) OVER (PARTITION BY dedup_key) AS keep_doc_id,
         COUNT(*) OVER (PARTITION BY dedup_key) AS cluster_size
  FROM keyed
)
SELECT doc_id AS drop_doc_id,
       keep_doc_id,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(n_chars AS BIGINT) AS chars_reclaimed
FROM clustered
WHERE doc_id <> keep_doc_id
ORDER BY drop_doc_id
""",
)
def doc_dedup_dropset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable complement of doc_exact_dedup: instead of the
    keep-set, emit the DROP list — every duplicate doc with the
    canonical it collapses into, its cluster size, and the characters
    reclaimed by dropping it. This is the artifact a curation pipeline
    actually executes (an anti-join of the corpus against drop_doc_id)
    and audits (SUM(chars_reclaimed) = storage saved). Same single
    128-bit-key shuffle as the keep-set; the min/count come from one
    window over that partition."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", "n_chars", F.md5(norm_text("text")).alias("dedup_key")
    )
    w = Window.partitionBy("dedup_key")
    clustered = keyed.select(
        "doc_id",
        "n_chars",
        F.min("doc_id").over(w).alias("keep_doc_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )
    return (
        clustered.where(F.col("doc_id") != F.col("keep_doc_id"))
        .select(
            F.col("doc_id").alias("drop_doc_id"),
            "keep_doc_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("n_chars").cast("long").alias("chars_reclaimed"),
        )
    )


@query(
    "doc_containment_pairs",
    tags=("text", "dedup", "containment", "llm-pipeline"),
    oracle=r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
  FROM documents
), pos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks
  WHERE len(t) >= 3
), sh AS (
  SELECT doc_id, list_distinct(list(array_to_string(t[i:i+2], ' '))) AS s
  FROM pos GROUP BY doc_id, t
), sizes AS (
  SELECT doc_id, len(s) AS n FROM sh
), ex AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), keep AS (
  SELECT shingle FROM ex GROUP BY 1 HAVING COUNT(*) <= 50
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM ex a
  JOIN keep k ON a.shingle = k.shingle
  JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.id_a, s.id_b, s.n_shared,
       ROUND(CAST(s.n_shared AS DOUBLE)
             / LEAST(sa.n, sb.n), 6) AS containment
FROM shared s
JOIN sizes sa ON sa.doc_id = s.id_a
JOIN sizes sb ON sb.doc_id = s.id_b
WHERE CAST(s.n_shared AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.8
ORDER BY id_a, id_b
""",
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-CONTAINMENT dedup: pairs where the smaller document's
    3-gram shingle set is >= 80% inside the larger's — the asymmetric
    relation (quotes, boilerplate wrappers, excerpt pages) that
    symmetric Jaccard under-scores: a 100-shingle doc fully contained
    in a 1000-shingle doc has Jaccard 0.1 but containment 1.0, so the
    LSH/Jaccard path never surfaces it. Candidates come from the
    shingle-keyed INVERTED INDEX (the doc_decontaminate_splits shape,
    turned within-corpus): explode distinct shingles, drop
    stop-shingles appearing in > 50 docs (caps each shingle's pair
    fan-out — the standard guard that keeps the self-join off the
    corpus's common phrases), self-join on the shingle, count shared
    per pair. Length blocking CANNOT generate these candidates — a
    contained doc and its container are in different length windows by
    construction — which is why this query exists alongside
    doc_shingle_jaccard_blocked. All counts exact int64; the
    containment ratio is one int/int double division, rounded.

    The index is literal (reshaped round 7, was a shingle-keyed
    self-join shipping the UNFILTERED side through the exchange):
    one shingle-keyed aggregate collects the posting list, the df cap
    (list size <= 50) bounds every list BEFORE any pair exists, and
    the within-list pair expansion is two stacked explodes + an
    id_a < id_b filter — plain Generate operators that stay inside
    whole-stage codegen (a nested transform/flatten/struct HOF
    version measured 3x SLOWER than the old self-join; HOF lambdas
    drop the projection out of codegen). No second corpus-wide
    shuffle, and the pair aggregate moves 2 int64s per row. The
    collect_list here is safe where simhash's was not: df-capped
    lists are bounded by construction, hot buckets there were
    corpus-linear."""
    d = load_table(spark, sf_dir, "documents", spread_by=("doc_id",))
    t = d.select("doc_id", tokens("text").alias("toks")).where(
        F.size("toks") >= 3
    )
    sh = t.select(
        "doc_id", F.array_distinct(word_shingles(F.col("toks"), 3)).alias("s")
    )
    # sizes and the exploded index both derive from sh, and Spark
    # re-evaluates shared subplans — cut so tokenize+shingle runs once
    sh = cut(sh, eager=False)
    sizes = sh.select("doc_id", F.size("s").alias("n"))
    ex = sh.select("doc_id", F.explode("s").alias("shingle"))
    posting = (
        ex.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("docs"))
        .where((F.size("docs") >= 2) & (F.size("docs") <= 50))
    )
    pairs = (
        posting.select(F.explode("docs").alias("id_a"), "docs")
        .select("id_a", F.explode("docs").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
    )
    shared = pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    cont = F.col("n_shared").cast("double") / F.least("na", "nb")
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .where(cont >= 0.8)
        .select(
            "id_a", "id_b", "n_shared", F.round(cont, 6).alias("containment")
        )
    )


@query(
    "doc_simhash_neardup_pairs",
    tags=("text", "dedup", "simhash", "llm-pipeline"),
    oracle=r"""
WITH docs AS (
  SELECT doc_id,
         list_transform(string_split_regex(trim(text), '\s+'),
                        t -> md5(t)) AS hs
  FROM documents
), sig AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(generate_series(0, 31), i ->
           CASE WHEN 2 * len(list_filter(hs, h -> substr(h, i + 1, 1) >= '8'))
                     - len(hs) > 0
                THEN 1::BIGINT << i ELSE 0::BIGINT END)) AS BIGINT) AS simhash
  FROM docs
), b AS (
  SELECT doc_id, simhash, band,
         (simhash >> (band * 16)) & 65535 AS block
  FROM sig, unnest([0, 1]) AS t(band)
)
SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, c.simhash)) AS BIGINT) AS hamming
FROM b a JOIN b c
  ON a.band = c.band AND a.block = c.block AND a.doc_id < c.doc_id
WHERE bit_count(xor(a.simhash, c.simhash)) <= 1
ORDER BY 1, 2
""",
)
def doc_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup DEDUP (not just the sketch): 32-bit md5-vote
    SimHash per doc, split into d+1 = 2 BLOCKS of 16 bits (Manku,
    Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling",
    WWW'07) — by pigeonhole, any pair within Hamming distance d = 1
    agrees exactly on at least one block, so an equi-join on
    (band, block) has FULL recall for the h<=1 threshold — then exact
    bit_count(xor) verification. Completes the dedup ladder's
    single-pass 8-bytes-per-doc rung (MinHash-LSH needs k-wide
    signatures; SimHash is the memory-light alternative, at the cost
    of weak precision on short docs — the documented reason MinHash
    stays the primary).

    Scale shape (the round-6 verdict's fix): the old 4x8-bit banding
    put ~n/256 docs in every bucket — LINEAR occupancy, so in-bucket
    expansion was O(n²/256) — and packed each bucket into ONE
    collect_list array row (a single-task memory bomb on a hot
    bucket). Now: block keys span 2^16 values (occupancy n/65536,
    256x fewer collisions), the block count d+1 is the knob that
    grows with log2(n) for wider signatures, and candidates expand
    through a SHUFFLE JOIN — pairs stream through SortMergeJoin
    tasks instead of materializing per-bucket arrays, and AQE's
    skew-join split handles a residual hot block. One scan ->
    sketch -> 2x explode -> self-join on (band, block) -> exact
    verify; no stage is ever doc x doc and no task holds a bucket."""
    # sketch computation is the CPU-heavy stage — fan it out of a
    # single-row-group scan (guarded no-op on a well-split corpus)
    d = load_table(spark, sf_dir, "documents", spread_by=("doc_id",))
    sig = d.select(
        "doc_id", simhash_md5(tokens("text"), bits=32).alias("simhash")
    )
    return simhash_block_pairs(
        sig, "doc_id", "simhash", bits=32, max_hamming=1
    )


_SQL_SPAN_ISLANDS = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), pos AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
  FROM t WHERE len(toks) >= 8
), g AS (
  SELECT doc_id, i, array_to_string(toks[i:i+7], ' ') AS gram FROM pos
), m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.i AS ia, b.i AS ib
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
), isl AS (
  SELECT id_a, id_b, ia, ib, ia - ib AS diag,
         ia - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, ia - ib ORDER BY ia)
           AS grp
  FROM m
)
"""


@query(
    "doc_duplicate_span_pairs",
    tags=("text", "dedup", "substring", "llm-pipeline"),
    oracle=_SQL_SPAN_ISLANDS
    + r"""
SELECT id_a, id_b, MIN(ia) AS start_a, MIN(ib) AS start_b,
       CAST(COUNT(*) + 7 AS BIGINT) AS span_len
FROM isl GROUP BY id_a, id_b, diag, grp
HAVING COUNT(*) + 7 >= 10
ORDER BY id_a, id_b, start_a, start_b
""",
)
def doc_duplicate_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup (Lee et al. ACL 2022): every maximal
    token span of ≥ 10 tokens shared verbatim between two documents,
    with both alignment offsets. This is the op that catches partial
    duplication — boilerplate headers, quoted paragraphs, template
    reuse — that whole-document keys (md5 / MinHash over full token
    sets) structurally miss.

    Plan: the work is one 8-byte-keyed k-gram self-join (decontaminate
    shape, never doc×doc) plus a per-(pair, diagonal) window over only
    the matched grams — at sf0.01 that's ~1.2k match rows feeding the
    window, and the match volume scales with actual shared text, not
    with corpus size². See operators/text.py:duplicate_kgram_spans for
    the maximality proof and the 100 TB df-cap note."""
    d = load_table(spark, sf_dir, "documents", spread_by=("doc_id",))
    return duplicate_kgram_spans(d, k=8, min_span=10)


@query(
    "doc_span_dedup_coverage",
    tags=("text", "dedup", "substring", "llm-pipeline"),
    oracle=_SQL_SPAN_ISLANDS
    + r""", sp AS (
  SELECT id_b AS doc_id, MIN(ib) AS s, MIN(ib) + COUNT(*) + 7 - 1 AS e
  FROM isl GROUP BY id_a, id_b, diag, grp
  HAVING COUNT(*) + 7 >= 10
), prev AS (
  SELECT doc_id, s, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM sp
), flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END
           AS new_isl
  FROM prev
), grped AS (
  SELECT doc_id, s, e,
         SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS mgrp
  FROM flagged
), merged AS (
  SELECT doc_id, MAX(e) - MIN(s) + 1 AS cov
  FROM grped GROUP BY doc_id, mgrp
), per_doc AS (
  SELECT doc_id, CAST(SUM(cov) AS BIGINT) AS dup_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_spans
  FROM merged GROUP BY doc_id
), nt AS (
  SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
)
SELECT p.doc_id, n_tokens, dup_tokens, n_spans,
       CAST(ROUND(CAST(dup_tokens AS DOUBLE) / n_tokens, 6) AS DOUBLE)
         AS dup_ratio
FROM per_doc p JOIN nt USING (doc_id)
ORDER BY doc_id
""",
)
def doc_span_dedup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of each document substring-dedup would strip: merge the
    duplicate spans landing on the LATER doc of each pair (first
    writer owns the text, same convention as doc_ngram_novelty) into
    a per-doc interval union, and report covered tokens + ratio.
    This is the corpus-curation decision number — 'doc 47 is 92%
    removable duplication' — that span PAIRS alone don't give you.

    Interval union via the classic running-max gaps-and-islands: a
    span starts a new island iff its start exceeds the max end seen so
    far (window ordered by (s, e); exact-duplicate intervals can never
    open an island under any tie order, so the union is
    order-deterministic). All windows are doc_id-partitioned; the
    span-finding cost dominates and is shared with
    doc_duplicate_span_pairs."""
    d = load_table(spark, sf_dir, "documents", spread_by=("doc_id",))
    spans = duplicate_kgram_spans(d, k=8, min_span=10)
    iv = spans.select(
        F.col("id_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("span_len") - 1).alias("e"),
    )
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_isl",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    grped = flagged.withColumn(
        "mgrp",
        F.sum("new_isl").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = grped.groupBy("doc_id", "mgrp").agg(
        (F.max("e") - F.min("s") + 1).alias("cov")
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.sum("cov").cast("long").alias("dup_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )
    nt = d.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return (
        per_doc.join(nt, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "dup_tokens",
            "n_spans",
            F.round(
                F.col("dup_tokens").cast("double") / F.col("n_tokens"), 6
            ).alias("dup_ratio"),
        )
    )


@query(
    "doc_block_dedup_rebuild",
    tags=("text", "dedup", "llm-pipeline", "curation"),
    oracle=r"""
WITH tagged AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents
), blocks AS (
  SELECT doc_id, i AS bpos,
         array_to_string(toks[(i-1)*10+1:(i-1)*10+10], ' ') AS block
  FROM tagged,
       UNNEST(generate_series(
         1, CAST(CEIL(len(toks) / 10.0) AS BIGINT))) AS t(i)
  WHERE len(toks) >= 1
), ranked AS (
  SELECT doc_id, bpos, block,
         ROW_NUMBER() OVER (PARTITION BY block
                            ORDER BY doc_id, bpos) AS rn
  FROM blocks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN rn = 1 THEN block END, ' '
                           ORDER BY bpos), '') AS clean_text
FROM ranked GROUP BY doc_id ORDER BY doc_id
""",
)
def doc_block_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document EXACT dedup with corpus REBUILD — the C4 move
    (Raffel et al., JMLR 2020: discard every repeated three-sentence
    span, keeping one occurrence) adapted to this corpus's unit
    (10-token blocks; the synthetic text has no sentence boundaries).
    Where doc_duplicate_span_pairs DETECTS shared substrings, this
    query EMITS THE CLEANED CORPUS: each document's text is rebuilt
    from only the blocks whose content appears here first
    (first = lowest (doc_id, position) over the whole corpus, so
    intra-document repeats are removed too).

    Shape, and why it scales: block construction is a per-row array
    transform (sequence → slice → concat_ws — no explode-then-regroup,
    no shuffle); the global keep-first is ONE window keyed on the
    block content (shuffle volume = the corpus, once); the rebuild is
    one groupBy(doc_id) whose ordered concat runs as
    collect_list(struct(bpos, block)) → array_sort → no second sort
    shuffle. Never doc×doc anywhere. At 100 TB the window key becomes
    the (xxhash64(block), xxhash64(1, block)) seed-varied pair of
    duplicate_kgram_spans — 16-byte shuffle rows instead of block
    strings, collision odds ~n²/2¹²⁸ (discriminator FIRST: Spark
    seeds each xxhash64 column with the running hash, so a trailing
    constant is a no-op remix — r10 advisor); the string key here keeps the
    query engine-agnostic so the DuckDB oracle checks the SEMANTICS
    (reference: same keep-first-by-key convention as
    python_version/build_warehouse.py's dimension dedupe)."""
    t = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("toks"))
        .where(F.size("toks") >= 1)
    )
    nb = F.ceil(F.size("toks") / F.lit(10.0)).cast("int")
    blocks = t.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), nb),
                lambda i: F.concat_ws(
                    " ", F.slice("toks", (i - 1) * 10 + 1, 10)
                ),
            )
        ).alias("p", "block"),
    ).select("doc_id", (F.col("p") + 1).alias("bpos"), "block")
    w = Window.partitionBy("block").orderBy("doc_id", "bpos")
    ranked = blocks.withColumn("rn", F.row_number().over(w))
    kept = F.when(F.col("rn") == 1, F.struct("bpos", "block"))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda s: s.block
                ),
            ).alias("clean_text"),
        )
    )


@query(
    "doc_takedown_deletion_vector",
    tags=("text", "snapshot", "deletion-vector", "takedown", "pii",
          "llm-pipeline"),
    oracle="""
WITH base AS (
  SELECT doc_id, n_chars,
         (doc_id % 53 = 0) AS doomed
  FROM documents
)
SELECT CAST('v1_full' AS VARCHAR) AS snapshot,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars
FROM base
UNION ALL
SELECT 'v2_takedown', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(n_chars) AS BIGINT)
FROM base WHERE NOT doomed
UNION ALL
SELECT 'v3_compacted', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(n_chars) AS BIGINT)
FROM base WHERE NOT doomed
ORDER BY snapshot
""",
)
def doc_takedown_deletion_vector(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TAKEDOWN / PII REMOVAL ON THE TRAINING CORPUS AS A DELETION-
    VECTOR COMMIT — the lakehouse operation an LLM data pipeline runs
    daily (the r13 verdict's framing): a takedown arrives as a LIST OF
    DOCUMENT IDS (a DMCA notice, a PII scrub verdict, an opt-out
    batch), and rewriting petabytes of corpus shards to drop KBs of
    documents is the wrong physical plan. Here the documents table
    lives under the snapshot store in doc_id-range buckets; the
    takedown commits as an equality-delete sidecar — the manifest is
    asserted BYTE-IDENTICAL (zero shards rewritten) — and EVERY
    reader (this query, a training-data export, the change feed) is
    takedown-compliant immediately because the one read path applies
    the vector. The scheduled compaction later folds it into the data
    (only the affected buckets rewrite) and v2 == v3 is certified by
    the oracle: merge-on-read removal and physical removal are the
    same table state, exchanged on the operator's schedule, with
    timestamp retention policy (expire_snapshots) controlling how
    long the pre-takedown snapshots remain readable.

    At 100 TB: a takedown costs one KB-scale JSON + one manifest
    create at commit time, a broadcast anti-filter per read until
    compaction, and a churn-proportional rewrite when compaction
    runs — never a corpus rewrite on the takedown path. The doomed
    set here is the deterministic doc_id % 53 == 0 slice so the
    oracle replays all three snapshots from raw documents."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_manifest,
        read_sidecar,
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import (
        range_bucket,
        scratch_dir,
    )

    n_buckets = 4
    table = scratch_dir("doctake_")
    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id").alias("m")).collect()[0].m
    fb = range_bucket("doc_id", n_buckets, mx)

    root = os.path.join(table, "g1")
    d.withColumn("pb", fb).write.partitionBy("pb").parquet(root)
    v1_map = {
        n.split("=", 1)[1]: os.path.join(root, n)
        for n in os.listdir(root)
        if n.startswith("pb=")
    }
    assert try_commit(table, 0, v1_map) == 1

    # the takedown list: ids, bucketed to their home shards
    doomed_rows = (
        d.where(F.col("doc_id") % 53 == 0)
        .select(fb.alias("pb"), "doc_id")
        .collect()
    )
    assert doomed_rows, "takedown list is empty"
    doomed: dict[str, list[int]] = {}
    for r in doomed_rows:
        doomed.setdefault(str(r.pb), []).append(r.doc_id)
    doomed = {b: sorted(ks) for b, ks in doomed.items()}

    # v2: the takedown — zero shards rewritten, by manifest identity
    assert try_commit(
        table, 1, dict(v1_map),
        sidecars={"deletes": {"column": "doc_id", "buckets": doomed}},
    ) == 2
    assert read_manifest(table, 2) == v1_map

    # v3: scheduled compaction folds the vector into the data — only
    # the affected buckets rewrite, the vector retires with them
    v3_map = dict(v1_map)
    for b in sorted(doomed):
        d3 = os.path.join(table, f"b{b}-g3")
        (
            read_snapshot(spark, table, version=1, buckets=[b])
            .where(~F.col("doc_id").isin(doomed[b]))
            .write.parquet(d3)
        )
        v3_map[b] = d3
    assert try_commit(table, 2, v3_map) == 3
    assert read_sidecar(table, 3, "deletes") is None
    shared = [b for b in v1_map if v3_map[b] == v1_map[b]]
    assert len(shared) == n_buckets - len(doomed), shared

    def agg(version: int, tag: str) -> DataFrame:
        return read_snapshot(spark, table, version=version).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
        ).select(F.lit(tag).alias("snapshot"), "n_docs", "chars")

    return (
        agg(1, "v1_full")
        .unionByName(agg(2, "v2_takedown"))
        .unionByName(agg(3, "v3_compacted"))
    )


@query(
    "doc_takedown_feed_propagation",
    tags=("text", "snapshot", "cdf", "takedown", "pii", "streaming",
          "incremental", "pipeline"),
    oracle="""
WITH m AS (SELECT MAX(doc_id) AS mx FROM documents),
head AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 53 <> 0
  UNION ALL
  SELECT d.doc_id + m.mx + 1, d.lang, d.n_chars
  FROM documents d, m WHERE d.doc_id % 7 = 3
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM head
""",
)
def doc_takedown_feed_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TAKEDOWN PROPAGATION THROUGH THE CHANGE FEED (r15 — composing
    doc_takedown_deletion_vector with the CDF subscription): the
    right-to-be-forgotten story end to end, with ZERO rewrites at
    EVERY layer. An LLM corpus never stands alone — training-shard
    indexes, quality tables, dedup state all derive from it — and a
    takedown that only fixes the source table leaves the derived
    artifacts non-compliant. Here the derived corpus index (per-doc
    lang/size rows — stand-in for any per-doc artifact) is maintained
    purely by SUBSCRIBING to the corpus's change feed:

    * corpus v1 — documents in doc_id-range buckets; the index seeds
      from the v1 read (its own snapshot commit).
    * corpus v2 — the TAKEDOWN: a ``doc_id % 53 == 0`` list commits
      as an equality-delete sidecar; the corpus manifest is asserted
      byte-identical (zero shards rewritten). The DV-aware feed
      emits exactly those ids as ``delete`` rows (pre-images read
      from the SHARED directories) and the index fold removes them —
      the derived table is takedown-compliant without rewriting
      anything anywhere: KB of metadata at the source, churn-sized
      deletes downstream.
    * corpus v3 — an ordinary fresh-docs delivery (re-keyed above
      the old id space, disjoint) lands as a new bucket; the DV
      CARRIES FORWARD (r14 contract — the append cannot resurrect
      the taken-down docs, asserted) and the feed hands the index
      only the inserts.

    The index head is asserted equal (exceptAll, both directions) to
    the projection of the corpus head through the one snapshot
    reader — subscription-maintained compliance == scan-time
    compliance. The oracle replays the final index from raw
    documents.

    At 100 TB: the takedown path costs one KB sidecar + one manifest
    create at the source and one churn-proportional fold per derived
    table; nothing re-reads the corpus. That is the only shape under
    which 'delete these 10k docs from 100 TB and everything derived
    from it by tonight' is operable."""
    from financial_data_warehouse_automation_spark.operators.snapshots import (
        read_manifest,
        read_snapshot,
        try_commit,
    )
    from financial_data_warehouse_automation_spark.queries._helpers import (
        assert_multiset_equal,
        drain,
        range_bucket,
        scratch_dir,
    )
    from financial_data_warehouse_automation_spark.sources.cdfsource import (
        SnapshotCDFDataSource,
    )
    from financial_data_warehouse_automation_spark.streaming.pipeline import (
        snapshot_state_commit_batch,
    )

    n_buckets = 4
    work = scratch_dir("doctakefeed_")
    a_t = os.path.join(work, "corpus")
    b_t = os.path.join(work, "index")
    os.makedirs(a_t)
    os.makedirs(b_t)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    mx = d.agg(F.max("doc_id").alias("m")).collect()[0].m
    fb = range_bucket("doc_id", n_buckets, mx)

    root = os.path.join(a_t, "g1")
    d.withColumn("pb", fb).write.partitionBy("pb").parquet(root)
    v1_map = {
        n.split("=", 1)[1]: os.path.join(root, n)
        for n in os.listdir(root)
        if n.startswith("pb=")
    }
    assert try_commit(a_t, 0, v1_map) == 1

    # the index seeds from v1 (its own snapshot table, own writer)
    idx_cols = ["doc_id", "lang", "n_chars"]
    seed_dir = os.path.join(b_t, "seed")
    read_snapshot(spark, a_t, version=1).select(*idx_cols).write.parquet(
        seed_dir
    )
    assert try_commit(b_t, 0, {"state": seed_dir},
                      meta={"_writer": "seed"}) == 1

    # corpus v2: the takedown as a DV commit — zero shards rewritten
    doomed_rows = (
        d.where(F.col("doc_id") % 53 == 0)
        .select(fb.alias("pb"), "doc_id")
        .collect()
    )
    assert doomed_rows, "takedown list is empty"
    doomed: dict[str, list[int]] = {}
    for r in doomed_rows:
        doomed.setdefault(str(r.pb), []).append(r.doc_id)
    assert try_commit(
        a_t, 1, dict(v1_map),
        sidecars={"deletes": {"column": "doc_id", "buckets": doomed}},
    ) == 2
    assert read_manifest(a_t, 2) == v1_map  # zero rewrite, by manifest

    # corpus v3: an ordinary fresh delivery (disjoint re-keyed ids)
    d_new = os.path.join(a_t, "g3-new")
    (
        d.where(F.col("doc_id") % 7 == 3)
        .withColumn("doc_id", F.col("doc_id") + mx + 1)
        .select("doc_id", "text", "lang", "n_chars")
        .write.parquet(d_new)
    )
    v3_map = dict(v1_map)
    v3_map["new"] = d_new
    assert try_commit(a_t, 2, v3_map) == 3
    # the append CANNOT resurrect taken-down docs: the DV carried
    head = read_snapshot(spark, a_t)
    assert head.where(
        (F.col("doc_id") % 53 == 0) & (F.col("doc_id") <= mx)
    ).count() == 0

    # the subscription: startversion=1 (v1 is the seed's history, not
    # change rows); one catching-up drain covers the takedown + the
    # delivery
    spark.dataSource.register(SnapshotCDFDataSource)
    feed = (
        spark.readStream.format("snapshot_cdf")
        .option("path", a_t)
        .option("keycol", "doc_id")
        .option("startversion", 1)
        .load()
    )

    def merge(prev: DataFrame, batch: DataFrame) -> DataFrame:
        term = batch.where(F.col("change_type") != "update_preimage")
        last = term.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("commit_version").desc()
                )
            ),
        ).where(F.col("rn") == 1)
        ups = last.where(F.col("change_type") != "delete").select(
            *idx_cols
        )
        if prev is None:
            return ups
        touched = batch.select("doc_id").distinct()
        return prev.join(touched, "doc_id", "left_anti").unionByName(ups)

    q = feed.writeStream.foreachBatch(
        snapshot_state_commit_batch(b_t, merge)
    ).option("checkpointLocation", os.path.join(work, "ckpt")).start()
    drain(q)

    # subscription-maintained compliance == scan-time compliance
    b_head = read_snapshot(spark, b_t).select(*idx_cols)
    a_proj = head.select(*idx_cols)
    # one-action signed-count multiset equality (was exceptAll both
    # directions: 2 actions, each re-reading both heads)
    assert_multiset_equal(b_head, a_proj, "index replica vs corpus head")

    return b_head.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars_sum"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )
