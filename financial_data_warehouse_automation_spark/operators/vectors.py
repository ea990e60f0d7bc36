"""Vector/embedding operators: cosine similarity, brute-force top-k,
random-hyperplane LSH, IVF-style cell search (SURVEY §2.10 similarity).

All arithmetic is array higher-order functions on ``array<float>``
columns cast element-wise to double, folded LEFT-TO-RIGHT
(``F.aggregate``) — the same fold an external engine can replicate
exactly (DuckDB ``list_reduce``), which is what makes brute-force
cosine top-k hash-checkable across engines.

Scale ladder:
  * brute-force — |Q|×|C| cosines via join; correct, O(n²): only for
    small query sets or as the verification anchor.
  * RHP-LSH     — L hash tables × b sign-bits; candidates share a
    bucket in ≥1 table. Join is bucketed: cost ∝ bucket sizes, not n².
  * IVF         — coarse cells (here: per-label centroids); probe the
    nprobe nearest cells only. The centroid build is one groupBy.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _d(c: Column) -> Column:
    return c.cast("double")


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product — deterministic, engine-replicable."""
    prods = F.zip_with(a, b, lambda x, y: _d(x) * _d(y))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


# Spark SQL's reserved keywords: the rows of ``sql_keywords()`` flagged
# reserved under ``spark.sql.ansi.enforceReservedKeywords`` (Spark 4.1).
# Such a name parses as the keyword, not as a column, inside a template.
SQL_RESERVED = frozenset("""
ALL AND ANY AS AUTHORIZATION BOTH CALL CASE CAST CHECK COLLATE COLLATION
COLUMN CONSTRAINT CREATE CROSS CURRENT_DATE CURRENT_TIME CURRENT_TIMESTAMP
CURRENT_USER DISTINCT ELSE END ESCAPE EXCEPT EXECUTE FALSE FETCH FILTER FOR
FOREIGN FROM FULL GRANT GROUP HAVING IN INNER INTERSECT INTO IS JOIN LATERAL
LEADING LEFT NATURAL NOT NULL OFFSET ON ONLY OR ORDER OUTER OVERLAPS PRIMARY
RECURSIVE REFERENCES RIGHT SELECT SESSION_USER SOME SQL TABLE THEN TIME TO
TRAILING UNION UNIQUE UNKNOWN USER USING WHEN WHERE WITH WITHIN
""".split())


def _ident(name: str) -> str:
    """Precondition gate for the parsed-SQL helpers: the templates
    interpolate raw column names, so a name needing backticks (space,
    dash, dot) or a reserved word (``select``, ``cast``, ``and``) would
    break parsing or bind to the wrong expression. All engine callers
    pass plain identifiers; fail loudly rather than emit a mis-binding
    template."""
    if not name.isidentifier() or name.upper() in SQL_RESERVED:
        raise ValueError(
            f"dot_sql/norm_sql require a plain, non-reserved identifier "
            f"as column name, got {name!r} — rename the column before "
            f"calling"
        )
    return name


def dot_sql(a: str, b: str) -> str:
    """:func:`dot` as a SQL string over column NAMES — the identical
    left-fold expression, parsed JVM-side in one round trip. The
    Column-lambda form costs ~30 py4j calls per use (profiled r15:
    0.5s of ann_cosine_topk_brute's build was dot/l2_norm plumbing);
    operators that know their column names compose strings instead —
    same plan, same values (the rhp_bucket pattern, round 5). Names
    must be plain, non-reserved identifiers (checked)."""
    a, b = _ident(a), _ident(b)
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def norm_sql(a: str) -> str:
    """:func:`l2_norm` as a SQL string (see :func:`dot_sql`)."""
    return f"sqrt({dot_sql(a, a)})"


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def rademacher_signs(n_planes: int, dim: int, seed: str = "rhp") -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix from md5 — no RNG state, same
    planes on every run/cluster."""
    planes: list[list[float]] = []
    for i in range(n_planes):
        row = []
        for j in range(dim):
            h = hashlib.md5(f"{seed}:{i}:{j}".encode()).digest()[0]
            row.append(1.0 if h & 1 else -1.0)
        planes.append(row)
    return planes


def rhp_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Bucket id = sign-bit pattern of the vector against each
    hyperplane (b planes → 2^b buckets), pure expressions.

    Pass the vector column NAME (str) where possible: the whole bucket
    then compiles as ONE ``F.expr`` SQL string parsed JVM-side — the
    Column-object formulation is ~70 py4j round trips PER PLANE
    (b planes x dim literals), which at 8 tables x 4 planes was ~2.3s
    of pure DataFrame construction in ann_cosine_topk_rhp (profiled
    round 5; the round-5 minhash find, same class). Both paths emit
    the identical left-fold dot product, so oracles are unaffected."""
    if isinstance(vec, str):
        terms = []
        for i, plane in enumerate(planes):
            arr = ", ".join("1.0D" if s > 0 else "-1.0D" for s in plane)
            d = (
                f"aggregate(zip_with({vec}, array({arr}), "
                f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            )
            terms.append(f"(CASE WHEN {d} >= 0.0D THEN {1 << i} ELSE 0 END)")
        return F.expr(" + ".join(terms))
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        signs = F.array(*[F.lit(s) for s in plane])
        bit = F.when(dot(vec, signs) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def brute_force_topk(
    probes: DataFrame, corpus: DataFrame, k: int,
    probe_id: str = "qid", corpus_id: str = "vec_id",
    probe_vec: str = "qvec", corpus_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per probe: join (broadcast probes — the
    small side), cosine, windowed rank. Output (qid, rank, vec_id, cos).

    The corpus is repartitioned so the |Q|×n cosine work parallelizes
    even when the source is a single small parquet file.

    Norms are precomputed per ROW, not per PAIR: cosine(a, b) naively
    folds three times per candidate (dot + both norms), but the norms
    are pair-invariant — computing them once at scan time cuts the
    |Q|×n inner loop from 3 array folds to 1 (measured 14.1s → ~6s at
    sf1, see PERF.md round 7). Bit-exact: the same left-fold + sqrt
    runs on the same arrays, just in an earlier projection, and the
    final division keeps the (probe_norm * corpus_norm) operand order
    cosine() uses — so the oracle hash is unchanged."""
    par = corpus.sparkSession.sparkContext.defaultParallelism
    # parsed-SQL throughout (r15): the Column-lambda dot/norm plumbing
    # was ~0.5s of DataFrame construction per build; identical
    # expressions (see dot_sql). Interpolated names must be plain
    # identifiers (r16, advisor — see _ident).
    _ident(probe_id), _ident(corpus_id)
    corpus_n = corpus.repartition(par).selectExpr(
        "*", f"{norm_sql(corpus_vec)} AS _cnorm"
    )
    probes_n = probes.selectExpr("*", f"{norm_sql(probe_vec)} AS _qnorm")
    joined = corpus_n.crossJoin(F.broadcast(probes_n)).where(
        F.col(probe_id) != F.col(corpus_id)
    )
    scored = joined.selectExpr(
        probe_id, corpus_id,
        f"{dot_sql(probe_vec, corpus_vec)} / (_qnorm * _cnorm) AS cos",
    )
    w = Window.partitionBy(probe_id).orderBy(F.desc("cos"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def quantize_int8(vec: Column) -> tuple[Column, Column]:
    """Per-vector symmetric int8 quantization: scale = 127 / max|x|,
    q[i] = round(x[i] * scale) as long. Returns (q_array, scale).

    All arithmetic is double of exactly-widened float32 + HALF_UP
    round, so the quantized arrays are bit-identical across engines —
    the integer candidate scores downstream are exact, keeping the
    whole quantized-search path oracle-checkable. At scale int8 cuts
    candidate-generation memory traffic 4× vs float32 and the integer
    dot runs in cheap SIMD lanes."""
    max_abs = F.array_max(F.transform(vec, lambda x: F.abs(_d(x))))
    scale = F.lit(127.0) / F.greatest(max_abs, F.lit(1e-30))
    q = F.transform(vec, lambda x: F.round(_d(x) * scale).cast("long"))
    return q, scale


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product (long fold)."""
    prods = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)
