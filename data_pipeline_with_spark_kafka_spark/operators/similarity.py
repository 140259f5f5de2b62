"""Similarity search over embedding columns (``array<float>``).

Two tiers:
- **Brute-force cosine top-k** — exact; dot products via
  ``zip_with``/``aggregate`` (JVM codegen, no Python), global top-k via
  orderBy+limit (TakeOrderedAndProject: per-partition heap, no full sort).
  At 100 TB this is the per-partition scan baseline every ANN variant is
  recall-tested against.
- **Random-hyperplane LSH ANN** — deterministic signed projections
  (seeded NumPy planes shipped as a broadcast literal), bucket on the sign
  bits, search only the query's bucket (optionally multi-probe neighbors).
  Candidate set shrinks ~2^n_planes-fold; recall is tested, not assumed.

An IVF variant would swap the hash bucket for a nearest-centroid
assignment (k-means trained offline); the probe/bucket plumbing here is
identical, so only the bucket expression changes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.functions.rounding import round_to


def as_double(vec_col: Column) -> Column:
    return F.transform(vec_col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_pre(v: Column, n: Column, qvec: Column, qn: Column) -> Column:
    """``cosine`` with PRE-COMPUTED norms (round 13, guide §4.1): the
    inline form folds the 64-wide interpreted norm lambdas per PAIR —
    the query-side norm once per fact ROW (or per anchor copy in a
    multi-anchor cross join), the fact-side norm once per anchor. When
    the query relation is a broadcast literal/1-row relation, hoist
    ``qn = l2_norm(qvec)`` into it and ``n = l2_norm(v)`` into the fact
    projection, leaving only the dot fold per pair. FP-IDENTICAL to
    ``cosine`` — same expressions, same evaluation order, just bound to
    attributes first (measured 0.81 -> 0.61 s median on the hybrid
    dense branch at sf0.1)."""
    return dot(v, qvec) / (n * qn)


def brute_force_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    *,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of every row against a single-row query relation
    (broadcast — the fact side never shuffles)."""
    # limit(1) makes the 1-row contract structural (GlobalLimit in the
    # plan), so the broadcast hint is provably bounded regardless of scale.
    q = (
        query_df.select(as_double(F.col(vec_col)).alias("qvec"))
        .limit(1)
        .withColumn("qn", l2_norm(F.col("qvec")))
    )
    return (
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
        .withColumn("_n", l2_norm(F.col("_v")))
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            round_to(
                cosine_pre(F.col("_v"), F.col("_n"), F.col("qvec"), F.col("qn")), 6
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def hyperplane_signs(vec_col: Column, planes: np.ndarray) -> Column:
    """Bucket id = integer of sign bits of <plane_i, v>.

    Each plane is ONE array Literal (``F.lit(ndarray)`` — a Python list
    would desugar to CreateArray of dim element literals): at dim 512 x 8
    planes the per-element form put 4096 expression nodes into the tree,
    bloating analysis and codegen; a Literal is a single node regardless
    of dim."""
    acc = F.lit(0).cast("long")
    for plane in planes:
        plane_lit = F.lit(np.asarray(plane, dtype=np.float64))
        bit = F.when(dot(as_double(vec_col), plane_lit) >= 0, 1).otherwise(0)
        acc = acc * 2 + bit
    return acc


def make_planes(dim: int, n_planes: int = 8, seed: int = 42) -> np.ndarray:
    """Deterministic Rademacher(+-1) hyperplanes."""
    rng = np.random.RandomState(seed)
    return rng.choice([-1.0, 1.0], size=(n_planes, dim))


def make_planes_md5(dim: int, n_planes: int, prefix: str = "hp") -> np.ndarray:
    """CROSS-ENGINE Rademacher hyperplanes: sign(p, d) from the parity of
    the first hex digit of md5('{prefix}{p}:{d}') — the same derivation
    DuckDB reproduces in SQL (substr(md5(...), 1, 1) parity), which makes
    a projection over them oracle-able (the JL projection in
    queries/llm_lm_extra.py). Hash-derived Rademacher entries have the
    same JL/angle-preservation guarantees as seeded-RNG ones. ``prefix``
    namespaces independent families so they never share signs."""
    import hashlib

    return np.array(
        [
            [
                1.0
                if int(hashlib.md5(f"{prefix}{p}:{d}".encode()).hexdigest()[0], 16) % 2
                else -1.0
                for d in range(dim)
            ]
            for p in range(n_planes)
        ]
    )


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    *,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate top-k: exact rerank restricted to buckets within
    ``probe_radius`` sign-bit flips of the query's bucket (multi-probe LSH —
    recall/candidate tradeoff is the probe radius, not a rebuild)."""
    planes = make_planes(dim, n_planes, seed)
    # Norms hoisted into the projections (cosine_pre contract above):
    # the fact-side cast + norm run once per row instead of per join
    # match, the query norm once instead of per row.
    bucketed = df.select(
        F.col(id_col),
        as_double(F.col(vec_col)).alias("_v"),
        hyperplane_signs(F.col(vec_col), planes).alias("bucket"),
    ).withColumn("_n", l2_norm(F.col("_v")))
    q = query_df.select(
        as_double(F.col(vec_col)).alias("qvec"),
        hyperplane_signs(F.col(vec_col), planes).alias("qbucket"),
    ).limit(1).withColumn("qn", l2_norm(F.col("qvec")))
    # structural 1-row bound -> broadcast hint is scale-safe
    probe = F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket"))) <= probe_radius
    return (
        bucketed.join(F.broadcast(q), probe)
        .select(
            F.col(id_col),
            round_to(
                cosine_pre(F.col("_v"), F.col("_n"), F.col("qvec"), F.col("qn")), 6
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def knn_join_exact(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    queries_df: DataFrame,
    *,
    k: int = 10,
    query_limit: int = 16,
) -> DataFrame:
    """Exact k-NN JOIN: top-k cosine neighbors for EVERY query vector (the
    batch form of ``brute_force_topk``, which answers one query).

    Shape: the query set is the small side (``limit(query_limit)`` makes
    that structural, so the broadcast is provably bounded); the corpus
    fans out once per query (narrow map — no corpus shuffle), and the
    per-query top-k is a row_number window on the query key, which Spark
    executes as WindowGroupLimit: each input partition keeps only its own
    top-k per query BEFORE the shuffle, so the exchange carries at most
    ``k x queries x partitions`` rows regardless of corpus size.

    Returns (query_id, neighbor id, cosine, rank); ranking key is the
    ROUNDED cosine with id tiebreak so the order is reproducible across
    engines (raw double ties at 1e-16 would make ranks nondeterministic).
    """
    from pyspark.sql import Window

    q = (
        queries_df.select(
            F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qvec")
        )
        .limit(query_limit)
        .withColumn("qn", l2_norm(F.col("qvec")))
    )
    # Fact-side cast + norm hoisted BEFORE the query fan-out (cosine_pre
    # contract): without this, each corpus row re-runs the 64-wide
    # interpreted cast and norm folds once PER QUERY (16x here).
    fact = corpus.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", l2_norm(F.col("_v")))
    scored = (
        fact.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            round_to(
                cosine_pre(F.col("_v"), F.col("_n"), F.col("qvec"), F.col("qn")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_join_ivf(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    queries_df: DataFrame,
    centroid_rows: list,
    *,
    k: int = 10,
    n_probe: int = 3,
    query_limit: int = 16,
) -> DataFrame:
    """IVF approximate k-NN join: each corpus vector lives in its ONE
    nearest cell, each query probes its ``n_probe`` nearest cells, and the
    exact rerank runs only where they meet (equi-join on the cell id, not
    a cross join) — the candidate set shrinks ~k_cells/n_probe-fold.

    Same zero-shuffle literal-centroid assignment as the near-dup tier
    (``clustering.cell_multi_assign``); same WindowGroupLimit top-k as the
    exact tier, so output order and schema match and recall is directly
    measurable (tests/test_knn_join.py).
    """
    from pyspark.sql import Window

    from data_pipeline_with_spark_kafka_spark.operators.clustering import cell_multi_assign

    members = cell_multi_assign(corpus, vec_col, centroid_rows, n_assign=1, out_col="cell")
    q = (
        queries_df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_raw"))
        .limit(query_limit)
    )
    probes = cell_multi_assign(q, "q_raw", centroid_rows, n_assign=n_probe, out_col="cell").select(
        "query_id", as_double(F.col("q_raw")).alias("qvec"), "cell"
    ).withColumn("qn", l2_norm(F.col("qvec")))
    # Same norm hoist as knn_join_exact: cast + norm once per member row,
    # not once per probe match.
    members = members.select(
        "cell", F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", l2_norm(F.col("_v")))
    scored = (
        members.join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            round_to(
                cosine_pre(F.col("_v"), F.col("_n"), F.col("qvec"), F.col("qn")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
