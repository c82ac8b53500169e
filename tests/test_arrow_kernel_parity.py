"""A/B parity: the r5 Arrow batch kernels vs the original expression
implementations they replaced (SCALING.md §Arrow kernel discipline).

The kernels claim BITWISE float agreement (sequential dimension folds,
HALF_UP round emulation, sorted-id tie-breaks).  These tests re-run the
OLD ``F.aggregate``/crossJoin/window formulations inline and assert exact
result-set equality on deterministic pseudo-random data that includes
negative components, duplicate vectors (forcing rounded-score ties), and
duplicate CENTROIDS (forcing the lowest-id tie-break to actually fire).
"""

import hashlib

import pytest

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from phenoxtract_spark.operators import clustering, similarity
from phenoxtract_spark.operators.similarity import dot, l2_norm


def _vec(i: int, dim: int = 16) -> list[float]:
    """Deterministic pseudo-random vector in [-1, 1)^dim from md5."""
    out = []
    for j in range(dim):
        h = int(hashlib.md5(f"{i}|{j}".encode()).hexdigest()[:8], 16)
        out.append(h / 2**31 - 1.0)
    return out


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [(i, _vec(i)) for i in range(80)]
    # duplicates to force rounded-score ties among neighbors
    rows += [(100 + i, _vec(i)) for i in range(5)]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def cents(spark):
    rows = [(i, _vec(i)) for i in range(0, 80, 13)]
    # a DUPLICATE centroid vector under a higher id: every vector's cos to
    # ids 0 and 900 is identical, so the lowest-cid tie-break must fire
    rows += [(900, _vec(0))]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).localCheckpoint(eager=True)


def test_assign_ivf_centroid_matches_expression_path(vecs, cents):
    got = {
        (r["id"], r["centroid_id"])
        for r in similarity.assign_ivf_centroid(vecs, cents).collect()
    }
    cen = F.broadcast(
        cents.select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cv"),
            l2_norm(F.col("embedding")).alias("_cn"),
        )
    )
    v = vecs.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        l2_norm(F.col("embedding")).alias("_vn"),
    )
    scored = v.crossJoin(cen).select(
        "id",
        "centroid_id",
        F.round(
            dot(F.col("v"), F.col("cv")) / (F.col("_vn") * F.col("_cn")), 6
        ).alias("_cos"),
    )
    w = Window.partitionBy("id").orderBy(
        F.col("_cos").desc(), F.col("centroid_id")
    )
    ref = {
        (r["id"], r["centroid_id"])
        for r in scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("id", "centroid_id")
        .collect()
    }
    assert got == ref
    # the duplicate-centroid tie actually fired: nothing assigned to 900
    assert not any(c == 900 for _, c in got)
    assert any(c == 0 for _, c in got)


def test_assign_ivf_centroid_nprobe_matches_expression_path(vecs, cents):
    got = {
        (r["id"], r["centroid_id"])
        for r in similarity.assign_ivf_centroid(vecs, cents, nprobe=3).collect()
    }
    cen = F.broadcast(
        cents.select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cv"),
            l2_norm(F.col("embedding")).alias("_cn"),
        )
    )
    v = vecs.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        l2_norm(F.col("embedding")).alias("_vn"),
    )
    scored = v.crossJoin(cen).select(
        "id",
        "centroid_id",
        F.round(
            dot(F.col("v"), F.col("cv")) / (F.col("_vn") * F.col("_cn")), 6
        ).alias("_cos"),
    )
    w = Window.partitionBy("id").orderBy(
        F.col("_cos").desc(), F.col("centroid_id")
    )
    ref = {
        (r["id"], r["centroid_id"])
        for r in scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("id", "centroid_id")
        .collect()
    }
    assert got == ref


def test_kmeans_assign_matches_expression_path(vecs, cents):
    seeds = cents.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    got = {
        (r["id"], r["cluster"])
        for r in clustering.kmeans_assign(vecs, seeds).collect()
    }

    def sq_l2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    cen = F.broadcast(
        seeds.select(F.col("cid").alias("_cid"), F.col("cv").alias("_cv"))
    )
    v = vecs.select(F.col("vec_id").alias("id"), F.col("embedding").alias("_v"))
    scored = v.crossJoin(cen).select(
        "id", "_cid",
        F.round(sq_l2(F.col("_v"), F.col("_cv")), 6).alias("_d2"),
    )
    w = Window.partitionBy("id").orderBy(F.col("_d2").asc(), F.col("_cid").asc())
    ref = {
        (r["id"], r["_cid"])
        for r in scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("id", "_cid")
        .collect()
    }
    assert got == ref
    # the duplicate-centroid L2 tie fired too (d2 to 0 and 900 identical)
    assert not any(c == 900 for _, c in got)


def test_hyperplane_signature_matches_expression_path(spark, vecs):
    dim, planes_n = 16, 8
    got = {
        (r["id"], r["sig"])
        for r in similarity.hyperplane_signature(vecs, dim, planes_n).collect()
    }
    planes = similarity.plane_components(42, planes_n, dim)
    planes_df = F.broadcast(
        spark.createDataFrame([(planes,)], "planes array<array<double>>")
    )
    v = vecs.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))

    def plane_dot(pl):
        return F.aggregate(
            F.zip_with(F.col("v"), pl, lambda x, w_: x.cast("double") * w_),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    contribs = F.transform(
        F.col("planes"),
        lambda pl, p: F.when(
            F.round(plane_dot(pl), 6) > 0,
            F.pow(F.lit(2.0), p).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    sig = F.aggregate(contribs, F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    ref = {
        (r["id"], r["sig"])
        for r in v.crossJoin(planes_df).select("id", sig.alias("sig")).collect()
    }
    assert got == ref


def test_bucket_pair_verify_matches_expression_path(spark, vecs):
    """Every in-bucket pair's cos equals the expression path's
    ``F.round(dot / (l2·l2), 6)``, negative cosines included (threshold
    -1 keeps every finite pair); a zero vector's NaN cos passes the
    threshold (the kernel's ``cos >= threshold | isnan(cos)`` rule)."""
    zero = spark.createDataFrame(
        [(999, [0.0] * 16)], "vec_id bigint, embedding array<double>"
    )
    v = vecs.unionByName(zero).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"),
        (F.col("vec_id") % 3).alias("b"),
    )
    got = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in similarity.bucket_pair_verify(v, ["b"], -1.0).collect()
    }
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                 F.col("b").alias("ba"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                 F.col("b").alias("bb"))
    pairs = a.crossJoin(b).filter(
        (F.col("ba") == F.col("bb")) & (F.col("id_a") < F.col("id_b"))
        & (F.col("id_b") != 999)
    )
    ref_cos = F.round(
        dot(F.col("va"), F.col("vb"))
        / (l2_norm(F.col("va")) * l2_norm(F.col("vb"))),
        6,
    )
    ref = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in pairs.select("id_a", "id_b", ref_cos.alias("cos")).collect()
    }
    assert {t for t in got if t[1] != 999} == ref and ref
    zero_cos = {t[:2]: t[2] for t in got if t[1] == 999}
    assert set(zero_cos) == {(i, 999) for i in range(0, 80, 3)} | {(102, 999)}
    # the kernel's NaN reaches Spark as NULL (pandas NaN → Arrow null)
    assert all(c is None for c in zero_cos.values())
