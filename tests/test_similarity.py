"""Recall anchors for the approximate ANN paths: the sublinear variants
must retrieve a meaningful fraction of the exact brute-force top-5.
Thresholds are deliberately below measured values (0.72 / 0.52 at
sf0.01) — they catch broken bucketing, not parameter drift."""

from __future__ import annotations

import pytest

from financial_data_warehouse_automation_spark.registry import load_all


@pytest.fixture(scope="module")
def topk_pairs(spark, sf_dir):
    q = load_all()

    def pairs(name):
        return {(r.qid, r.vec_id) for r in q[name].builder(spark, sf_dir).collect()}

    return pairs


def test_rhp_recall(topk_pairs):
    brute = topk_pairs("ann_cosine_topk_brute")
    rhp = topk_pairs("ann_cosine_topk_rhp")
    assert brute, "brute-force anchor returned nothing"
    assert len(brute & rhp) / len(brute) >= 0.4


def test_ivf_recall(topk_pairs):
    brute = topk_pairs("ann_cosine_topk_brute")
    ivf = topk_pairs("ann_cosine_topk_ivf")
    assert brute, "brute-force anchor returned nothing"
    assert len(brute & ivf) / len(brute) >= 0.2


def test_kmeans_ivf_recall(topk_pairs):
    brute = topk_pairs("ann_cosine_topk_brute")
    km = topk_pairs("ann_cosine_topk_ivf_kmeans")
    assert brute
    assert len(brute & km) / len(brute) >= 0.2


def test_ivf_rerank_recall(topk_pairs):
    """The staged funnel (IVF cells → int8 top-20 → exact rescore)
    must track its own coarse stage almost perfectly — the int8
    integer dot is a faithful proxy for cosine at top-20 depth
    (measured 1.000 at sf0.01; floor 0.8 catches a broken coarse
    rank, not quantization drift) — and inherit the IVF rung's
    brute-force recall floor (cell cut is the only loss source)."""
    brute = topk_pairs("ann_cosine_topk_brute")
    ivf = topk_pairs("ann_cosine_topk_ivf")
    rr = topk_pairs("ann_cosine_topk_ivf_rerank")
    assert brute and ivf
    assert len(ivf & rr) / len(ivf) >= 0.8
    assert len(brute & rr) / len(brute) >= 0.2


def test_semantic_dedup_candidates_subset_of_exact(spark, sf_dir):
    """embedding_semantic_dedup's RHP-sub-bucketed drop set must be a
    SUBSET of the exact within-label threshold dedup (sub-bucketing can
    only lose candidate pairs, never invent them) and must retain a
    meaningful fraction of it — broken bucketing shows up as either an
    impossible drop (superset violation) or near-zero recall."""
    from pyspark.sql import functions as F

    from financial_data_warehouse_automation_spark.operators.vectors import cosine

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = e.select(
        F.col("label"), F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
    )
    b = e.select(
        F.col("label").alias("l2"), F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
    )
    exact_dropped = {
        r.id_b
        for r in a.join(
            b, (F.col("label") == F.col("l2")) & (F.col("id_a") < F.col("id_b"))
        )
        .where(cosine(F.col("va"), F.col("vb")) >= 0.25)
        .select("id_b")
        .distinct()
        .collect()
    }
    q = load_all()["embedding_semantic_dedup"].builder(spark, sf_dir)
    total_dropped = sum(r.n_dropped for r in q.collect())
    # reconstruct the approx drop set for the subset check
    from financial_data_warehouse_automation_spark.operators.vectors import (
        rademacher_signs,
        rhp_bucket,
    )

    tables = [rademacher_signs(4, 64, seed=f"semdedup{t}") for t in range(2)]
    bucketed = None
    for t, planes in enumerate(tables):
        part = e.select(
            "vec_id", "label", F.lit(t).alias("tbl"),
            rhp_bucket("embedding", planes).alias("bucket"),
        )
        bucketed = part if bucketed is None else bucketed.unionByName(part)
    aa = bucketed.select("tbl", "bucket", "label", F.col("vec_id").alias("id_a"))
    bb = bucketed.select(
        F.col("tbl").alias("t2"), F.col("bucket").alias("b2"),
        F.col("label").alias("l2"), F.col("vec_id").alias("id_b"),
    )
    cand = aa.join(
        bb,
        (F.col("tbl") == F.col("t2")) & (F.col("bucket") == F.col("b2"))
        & (F.col("label") == F.col("l2")) & (F.col("id_a") < F.col("id_b")),
    ).select("id_a", "id_b").distinct()
    ex = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    ey = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    approx_dropped = {
        r.id_b
        for r in cand.join(ex, "id_a").join(ey, "id_b")
        .where(cosine(F.col("va"), F.col("vb")) >= 0.25)
        .select("id_b").distinct().collect()
    }
    assert approx_dropped <= exact_dropped, (
        "sub-bucketed dedup dropped vectors the exact pass would keep"
    )
    assert len(approx_dropped) == total_dropped
    if exact_dropped:
        assert len(approx_dropped) / len(exact_dropped) >= 0.2


@pytest.mark.parametrize(
    "name", ["select", "CAST", "and", "qvec b", "q-vec", "emb.x"]
)
def test_sql_templates_reject_reserved_and_non_identifiers(name):
    from financial_data_warehouse_automation_spark.operators.vectors import (
        dot_sql,
        norm_sql,
    )

    with pytest.raises(ValueError, match="non-reserved identifier"):
        dot_sql("embedding", name)
    with pytest.raises(ValueError, match="non-reserved identifier"):
        norm_sql(name)
    assert "embedding" in norm_sql("embedding")


def test_reserved_word_list_matches_spark(spark):
    """The gate's keyword list is Spark's own: the reserved rows of
    ``sql_keywords()`` with reserved keywords enforced."""
    from financial_data_warehouse_automation_spark.operators.vectors import (
        SQL_RESERVED,
    )

    conf = "spark.sql.ansi.enforceReservedKeywords"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        rows = spark.sql("SELECT keyword, reserved FROM sql_keywords()").collect()
    finally:
        spark.conf.set(conf, before)
    assert {r.keyword for r in rows if r.reserved} == SQL_RESERVED
