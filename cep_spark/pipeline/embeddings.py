"""Embedding-table operators: brute-force kNN and hyperplane-LSH pairs.

Dot products are computed as a left fold over the array in DOUBLE on
BOTH sides (Spark `aggregate(zip_with(...))`, DuckDB
`list_inner_product(::DOUBLE[])`) so the accumulation order is
identical; emitted scores are rounded to ROUND_DP.

Scale notes (100 TB path):
* knn_bruteforce: the query set is a small dimension table — Spark
  broadcasts it (explicit `broadcast()`); the corpus side streams
  through one scan, top-k per query via window row_number.  This is
  the exact baseline any ANN variant is measured against.
* ann_lsh_pairs: random-hyperplane signatures (literal plane vectors,
  shared constants) -> banded equi-join on 4-bit band keys -> exact
  cosine verification on candidates only.  All equi-joins; candidate
  volume is controlled by bands x bits.  The oracle replicates the
  same planes, so the (deterministic) approximation is exactly
  checked.
"""

from __future__ import annotations

import numpy as np

ROUND_DP = 6
KNN_K = 5
KNN_QUERY_MOD = 50  # queries = vec_id % KNN_QUERY_MOD == 0
LSH_BANDS = 8
LSH_BITS = 8  # bits per band — sized so candidate volume stays sub-quadratic:
# a RANDOM pair collides in a band w.p. 2^-bits, so expected candidates
# ≈ pairs * bands/2^bits = 3% of all-pairs at 8 bits (4 bits admitted
# ~40% — measured 818k/2M at sf0.1, i.e. LSH degenerating to all-pairs
# verification; the signature is the O(n) part, candidates the O(n^2)
# part, so deeper bands are the scale-correct trade).  Recall at the
# near-dup operating point (cos>=0.9, theta~25deg) is 1-(1-p^8)^8 ~ 0.94
# with p = 1 - theta/pi; at the synthetic-data threshold 0.42 (theta~65deg,
# chosen only so unclustered gaussians yield any pairs at all) intrinsic
# recall is ~0.2 — like emb_ann_ivf's honest recall note, the
# approximation itself is deterministic and exactly replicated by the
# oracle, so the harness check stays bit-exact.
EMB_DIM = 64
ANN_COS_T = 0.42  # verification threshold for candidate pairs

_rng = np.random.default_rng(20260816)
# plane values rounded so the literals are identical in both lowerings
PLANES = np.round(_rng.standard_normal((LSH_BANDS * LSH_BITS, EMB_DIM)), 6).tolist()


def _r6(c):
    # floor(x*1e6 + 0.5)/1e6 — identical double arithmetic to the SQL oracle
    from pyspark.sql import functions as F

    return F.floor(c * 1000000.0 + 0.5) / 1000000.0


def _read_emb(spark, sf_dir):
    from ..session import read_parquet

    return read_parquet(spark, f"{sf_dir}/embeddings.parquet")


def _spark_dot(a: str, b: str) -> str:
    # left-fold dot product in DOUBLE (matches DuckDB list_inner_product)
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)"


def _dot_col(a, b):
    """Column-API twin of ``_spark_dot`` — the IDENTICAL left-fold
    aggregate(zip_with(...)) expression, built without SQL parsing."""
    from pyspark.sql import functions as F

    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _const_planes(spark, name: str, value):
    """The plane/centroid matrix as a ONE-ROW broadcast DataFrame.

    Embedding the matrix as expression-tree literals is driver-side
    poison at every scale: the F.expr form parses ~2k ``cast(x as
    double)`` nodes per query (~6 s before the first task), nested
    ``F.lit`` issues one Py4J call per float (~2 s), and either way the
    analyzer re-traverses a 2k-node tree on each use.  A single-row
    DataFrame cross-joined with ``F.broadcast`` ships the matrix as
    DATA in one broadcast variable — tiny plan, and exactly how a small
    dimension table reaches 1000 executors on a real cluster."""
    return spark.createDataFrame([(value,)], f"{name}: array<array<double>>")


def _spark_norm_expr(a: str) -> str:
    return f"sqrt({_spark_dot(a, a)})"


# ---------------------------------------------------------------------------
# 1. brute-force cosine top-k


def q_knn_bruteforce(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = _read_emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") % KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = F.broadcast(q).join(e, F.col("vec_id") != F.col("query_id"))
    cos = F.expr(_spark_dot("qv", "v")) / (
        F.expr(_spark_norm_expr("qv")) * F.expr(_spark_norm_expr("v"))
    )
    scored = pairs.select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"),
                _r6(F.col("cos")).alias("score"))
    )


SQL_KNN = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % {KNN_QUERY_MOD} = 0),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_inner_product(q.qv, e.v) /
         (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(e.v, e.v))) AS cos
  FROM q JOIN e ON e.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, floor((cos) * 1000000 + 0.5) / 1000000 AS score
FROM ranked WHERE rank <= {KNN_K}
"""

# ---------------------------------------------------------------------------
# 2. hyperplane-LSH candidate pairs + exact cosine verification


def q_ann_lsh_pairs(spark, sf_dir):
    from pyspark.sql import functions as F

    e = _read_emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    ep = e.crossJoin(F.broadcast(_const_planes(spark, "planes", PLANES)))
    band_structs = []
    for b in range(LSH_BANDS):
        # this band's LSH_BITS planes, sliced from the broadcast matrix;
        # bit k is the sign of the same left-fold dot as the SQL
        # oracle's bit k
        planes_b = F.slice("planes", b * LSH_BITS + 1, LSH_BITS)
        bits = F.transform(
            planes_b,
            lambda p: F.when(_dot_col(p, F.col("v")) >= 0.0, "1").otherwise("0"),
        )
        band_structs.append(
            F.struct(F.lit(b).alias("band"), F.array_join(bits, "").alias("bkey"))
        )
    from ._mat import materialize

    # 64 plane dot products per row; both join sides read it — shared
    # through the session registry with an explicit release() hook
    banded = materialize(
        spark, sf_dir, "lsh_banded",
        lambda: ep.select(
            "vec_id", F.explode(F.array(*band_structs)).alias("bk")
        ).select(
            "vec_id", F.col("bk.band").alias("band"),
            F.col("bk.bkey").alias("bkey"),
        ),
    )
    x, y = banded.alias("x"), banded.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("vec_id_a"), F.col("y.vec_id").alias("vec_id_b"))
        .distinct()
    )
    ea = e.select(F.col("vec_id").alias("vec_id_a"), F.col("v").alias("va"))
    eb = e.select(F.col("vec_id").alias("vec_id_b"), F.col("v").alias("vb"))
    cos = F.expr(_spark_dot("va", "vb")) / (
        F.expr(_spark_norm_expr("va")) * F.expr(_spark_norm_expr("vb"))
    )
    return (
        cand.join(ea, "vec_id_a")
        .join(eb, "vec_id_b")
        .select("vec_id_a", "vec_id_b", _r6(cos).alias("score"))
        .filter(F.col("score") >= ANN_COS_T)
    )


def _sql_ann_lsh() -> str:
    bands = []
    for b in range(LSH_BANDS):
        bits = []
        for k in range(LSH_BITS):
            plane = PLANES[b * LSH_BITS + k]
            arr = f"[{', '.join(repr(x) for x in plane)}]::DOUBLE[]"
            bits.append(f"(CASE WHEN list_inner_product({arr}, v) >= 0.0 THEN '1' ELSE '0' END)")
        bands.append(f"SELECT vec_id, {b} AS band, concat({', '.join(bits)}) AS bkey FROM e")
    banded = "\nUNION ALL\n".join(bands)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT x.vec_id AS vec_id_a, y.vec_id AS vec_id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id)
SELECT vec_id_a, vec_id_b,
       floor((list_inner_product(a.v, b.v) /
             (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))) * 1000000 + 0.5) / 1000000 AS score
FROM cand
JOIN e a ON a.vec_id = vec_id_a
JOIN e b ON b.vec_id = vec_id_b
WHERE floor((list_inner_product(a.v, b.v) /
            (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))) * 1000000 + 0.5) / 1000000 >= {ANN_COS_T}
"""


SQL_ANN_LSH = _sql_ann_lsh()

# ---------------------------------------------------------------------------
# 3. IVF-style ANN: coarse quantization into C cells (argmax dot against
#    literal centroids, first-index tie-break), queries probe the best
#    NPROBE cells, exact cosine + top-k WITHIN the probed cells only.
#    At 100 TB this is the classic inverted-file layout: the corpus is
#    partitioned (and could be written bucketed) by cell, a query touches
#    NPROBE/C of the data, and the join is a plain equi-join on cell.
#    Centroids are shared literal constants, so the (deterministic)
#    approximation is exactly replicated by the DuckDB oracle.
#    Measured recall@5 vs emb_knn_bruteforce at sf0.01: 0.40 with
#    NPROBE/C = 2/8 — the synthetic embeddings are unclustered gaussians
#    (no structure for the quantizer to exploit; random-baseline would
#    be 0.25).  On real clustered embeddings recall rises sharply with
#    the same layout; the knob is (C, NPROBE) and the cost model is
#    scan_fraction ≈ NPROBE/C.

IVF_C = 8
IVF_PROBE = 2
_rng_ivf = np.random.default_rng(20260817)
CENTROIDS = np.round(_rng_ivf.standard_normal((IVF_C, EMB_DIM)), 6).tolist()


def _centroid_arr_sql(i: int) -> str:
    return f"[{', '.join(repr(x) for x in CENTROIDS[i])}]::DOUBLE[]"


def _argmax_case(ds: list[str], mx: str) -> str:
    """first index whose score equals the max (deterministic tie-break),
    identical text for both dialects (CASE WHEN ... THEN i)."""
    whens = " ".join(f"WHEN {d} = {mx} THEN {i}" for i, d in enumerate(ds))
    return f"(CASE {whens} END)"


def q_ann_ivf(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = _read_emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # materialize the C centroid dots as columns (one pass, no expr dup;
    # centroids arrive as a one-row broadcast matrix — see _const_planes)
    ec = e.crossJoin(F.broadcast(_const_planes(spark, "cents", CENTROIDS)))
    dots = [_dot_col(F.element_at("cents", i + 1), F.col("v")).alias(f"d{i}")
            for i in range(IVF_C)]
    scored = ec.select("vec_id", "v", *dots)
    dnames = [f"d{i}" for i in range(IVF_C)]
    mx = "greatest(" + ", ".join(dnames) + ")"
    cell1 = _argmax_case(dnames, mx)
    corpus = scored.select("vec_id", "v", F.expr(cell1).cast("int").alias("cell"))

    q1 = scored.filter(F.col("vec_id") % KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        *[F.col(d) for d in dnames], F.expr(cell1).cast("int").alias("cell1"),
    )
    masked = [f"(CASE WHEN {i} = cell1 THEN -1e18 ELSE d{i} END)" for i in range(IVF_C)]
    mx2 = "greatest(" + ", ".join(masked) + ")"
    cell2 = _argmax_case(masked, mx2)
    probes = q1.select(
        "query_id", "qv",
        F.explode(F.array(F.col("cell1"), F.expr(cell2).cast("int"))).alias("cell"),
    )
    # probes is the tiny side (queries x NPROBE): broadcast equi-join on
    # cell — the corpus streams once, each query reads NPROBE/C of it
    pairs = F.broadcast(probes).join(corpus, "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = F.expr(_spark_dot("qv", "v")) / (
        F.expr(_spark_norm_expr("qv")) * F.expr(_spark_norm_expr("v"))
    )
    ranked = pairs.select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"),
                _r6(F.col("cos")).alias("score"))
    )


def _sql_ann_ivf() -> str:
    dts = ", ".join(
        f"list_inner_product({_centroid_arr_sql(i)}, v) AS d{i}" for i in range(IVF_C)
    )
    dnames = [f"d{i}" for i in range(IVF_C)]
    mx = "greatest(" + ", ".join(dnames) + ")"
    cell1 = _argmax_case(dnames, mx)
    masked = [f"(CASE WHEN {i} = cell1 THEN -1e18 ELSE d{i} END)" for i in range(IVF_C)]
    mx2 = "greatest(" + ", ".join(masked) + ")"
    cell2 = _argmax_case(masked, mx2)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (SELECT vec_id, v, {dts} FROM e),
corpus AS (SELECT vec_id, v, CAST({cell1} AS INT) AS cell FROM scored),
q1 AS (SELECT vec_id AS query_id, v AS qv, {', '.join(dnames)},
              CAST({cell1} AS INT) AS cell1
       FROM scored WHERE vec_id % {KNN_QUERY_MOD} = 0),
probes AS (SELECT query_id, qv, unnest([cell1, CAST({cell2} AS INT)]) AS cell FROM q1),
ranked AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         list_inner_product(p.qv, c.v) /
         (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v))) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY p.query_id
           ORDER BY list_inner_product(p.qv, c.v) /
                    (sqrt(list_inner_product(p.qv, p.qv)) * sqrt(list_inner_product(c.v, c.v))) DESC,
                    c.vec_id ASC) AS rank
  FROM probes p JOIN corpus c ON c.cell = p.cell AND c.vec_id <> p.query_id)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       floor((cos) * 1000000 + 0.5) / 1000000 AS score
FROM ranked WHERE rank <= {KNN_K}
"""


SQL_ANN_IVF = _sql_ann_ivf()

# ---------------------------------------------------------------------------
# 4. embedding-cosine NEAR-DUP DEDUP: LSH-bucketed candidate pairs
#    (same planes/threshold as ann_lsh_pairs) -> single-hop min-id
#    canonicalization.  Every vector gets a canon_id = min(vec_id, its
#    near-dup partners); is_dup marks rows a dedup pass would drop.
#    At 100 TB: candidates come only from band buckets (never
#    all-pairs), the canonicalization is one groupBy(min) + one
#    broadcast-size left join.  Single hop is the standard streaming
#    dedup primitive; FULL transitive closure = iterate the same
#    min-propagation join to a fixed point (log-diameter rounds) —
#    deliberately not folded in here so the per-pass cost stays one
#    shuffle.


def q_cosine_dedup(spark, sf_dir):
    from pyspark.sql import functions as F

    pairs = q_ann_lsh_pairs(spark, sf_dir)  # vec_id_a < vec_id_b, score >= T
    # only an a-side partner can lower an id (pairs are ordered a < b)
    canon = (
        pairs.groupBy(F.col("vec_id_b").alias("vec_id"))
        .agg(F.min("vec_id_a").alias("mn"))
    )
    e = _read_emb(spark, sf_dir).select("vec_id")
    return e.join(canon, "vec_id", "left").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.coalesce("mn", "vec_id").cast("long").alias("canon_id"),
        (F.coalesce("mn", F.col("vec_id")) < F.col("vec_id")).alias("is_dup"),
    )


SQL_COSINE_DEDUP = f"""
WITH pairs AS ({SQL_ANN_LSH}),
canon AS (SELECT vec_id_b AS vec_id, MIN(vec_id_a) AS mn FROM pairs GROUP BY vec_id_b)
SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
       CAST(COALESCE(c.mn, e.vec_id) AS BIGINT) AS canon_id,
       (COALESCE(c.mn, e.vec_id) < e.vec_id) AS is_dup
FROM embeddings e LEFT JOIN canon c ON c.vec_id = e.vec_id
"""

QUERIES = {
    "emb_knn_bruteforce": q_knn_bruteforce,
    "emb_ann_lsh_pairs": q_ann_lsh_pairs,
    "emb_ann_ivf": q_ann_ivf,
    "emb_cosine_dedup": q_cosine_dedup,
}

ORACLES = {
    "emb_knn_bruteforce": SQL_KNN,
    "emb_ann_lsh_pairs": SQL_ANN_LSH,
    "emb_ann_ivf": SQL_ANN_IVF,
    "emb_cosine_dedup": SQL_COSINE_DEDUP,
}
