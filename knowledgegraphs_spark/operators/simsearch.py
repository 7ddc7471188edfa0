"""Similarity search over embedding columns (array<float>).

* Brute-force cosine top-k — the exact baseline: broadcast the (small) query
  set against the corpus, JVM-side sequential-fold dot product, top-k via
  window. One scan of the corpus per query batch.
* LSH-bucketed ANN — the scale path: deterministic sign-random-projection
  buckets (hyperplanes derived from md5, no RNG state), candidates only
  within matching buckets across several rotations; exact re-rank inside the
  candidate set. Recall is tested against the brute-force baseline.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from ..functions.embeddings import cosine_col
from ..session import driver_frame


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) — exact top-k per query.
    The query side is broadcast; ties break on neighbor id."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(cosine_col(F.col("q_vec"), F.col("c_vec")), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_bits: int, rotation: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: unit-normal rows seeded from
    md5 of (rotation, bit, chunk) — no RNG state, reproducible anywhere."""
    out = np.zeros((n_bits, dim), dtype=np.float64)
    for b in range(n_bits):
        vals: list[float] = []
        chunk = 0
        while len(vals) < dim:
            h = hashlib.md5(f"{rotation}|{b}|{chunk}".encode()).digest()
            for i in range(0, 16, 4):
                u = int.from_bytes(h[i : i + 4], "big") / 2**32
                vals.append(u * 2.0 - 1.0)
            chunk += 1
        out[b] = vals[:dim]
    return out


def lsh_bucket_expr(vec, dim: int, n_bits: int, rotation: int):
    """JVM-expression twin of :func:`lsh_all_rotations_udf`: the sign bits come
    from a *sequential* left-to-right dot-product fold, so any engine that
    folds sequentially (DuckDB ``list_sum``) reproduces the exact buckets —
    numpy's SIMD/pairwise summation can flip a sign on a near-zero dot,
    which is fine for recall but breaks value-level oracle comparison."""
    planes = _hyperplanes(dim, n_bits, rotation)
    out = F.lit(0)
    for b in range(n_bits):
        plane = F.array(*[F.lit(float(v)) for v in planes[b]])
        dot = F.aggregate(
            F.zip_with(vec, plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out + F.when(dot > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return out


def lsh_all_rotations_udf(n_bits: int, rotations: int):
    """ALL rotation buckets for each vector in one Arrow pass —
    array<int>, index = rotation. One batch matrix multiply per rotation
    instead of one full-corpus UDF invocation per rotation per join side."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)
        weights = (1 << np.arange(n_bits)).astype(np.int64)
        out = np.empty((mat.shape[0], rotations), dtype=np.int32)
        for r in range(rotations):
            planes = _hyperplanes(mat.shape[1], n_bits, r)
            out[:, r] = (((mat @ planes.T) > 0) @ weights).astype(np.int32)
        return pd.Series(list(out))

    return buckets


def _rotation_buckets(
    df: DataFrame,
    out_id: str,
    id_col: str,
    vec_col: str,
    n_bits: int,
    rotations: int,
    expr_dim: int | None,
) -> DataFrame:
    """(out_id, rot, bucket) — every rotation from ONE pass over the
    vectors. The per-rotation-DataFrame form evaluated the bucket
    computation once per rotation per join branch (the dedup module's
    self-join lesson); here buckets are an array in a single projection
    and candidates carry IDS ONLY — vectors are fetched back by id
    afterwards, so the expensive pass happens exactly once."""
    if expr_dim is not None:
        arr = F.array(
            *[lsh_bucket_expr(F.col(vec_col), expr_dim, n_bits, r) for r in range(rotations)]
        )
    else:
        arr = lsh_all_rotations_udf(n_bits, rotations)(F.col(vec_col))
    return df.select(
        F.col(id_col).alias(out_id), F.posexplode(arr).alias("rot", "bucket")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    rotations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    expr_buckets_dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: one (rot, bucket)-keyed join over all rotations,
    exact cosine re-rank within deduped candidate id pairs — vectors are
    joined back by id, the same fetch-back shape as the SQL oracle.
    ~2^n_bits× less work than brute force per rotation at large corpora."""
    cb = _rotation_buckets(corpus, "neighbor_id", id_col, vec_col, n_bits, rotations, expr_buckets_dim)
    qb = _rotation_buckets(queries, "query_id", id_col, vec_col, n_bits, rotations, expr_buckets_dim)
    cands = (
        qb.join(cb, ["rot", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates()
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        cands.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cosine", F.round(cosine_col(F.col("q_vec"), F.col("c_vec")), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic spherical k-means coarse quantizer for :func:`ivf_topk`.

    Init = the ``n_centroids`` lowest-id corpus vectors (the same
    deterministic sample the untrained quantizer uses), then ``n_iters``
    Lloyd rounds: assign by max cosine, update = L2-normalized mean of the
    assigned (unit-normalized) vectors. Empty clusters keep their previous
    centroid, so the count is stable.

    Scale shape (the finetune._moments pattern): each round is ONE
    ``mapInPandas`` pass — every partition emits a single flattened
    (n_centroids × (dim+1)) partial-sum row, combined driver-side (k·d
    doubles, trivially broadcast-sized). No per-round shuffle of the
    corpus, no RNG anywhere: same input → same centroids on any cluster.
    """
    from typing import Iterator

    cent_rows = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .orderBy("cid")
        .limit(n_centroids)
        .collect()
    )
    cents = np.array([[float(x) for x in r["cvec"]] for r in cent_rows], dtype=np.float64)
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    cents = cents / norms
    kc, dim = cents.shape
    vecs_df = corpus.select(F.col(vec_col).alias("v"))

    for _ in range(max(n_iters, 0)):
        c_bcast = cents  # captured by value in the closure below

        def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            sums = np.zeros((kc, dim), dtype=np.float64)
            counts = np.zeros(kc, dtype=np.int64)
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = np.array(pdf["v"].tolist(), dtype=np.float64)
                n = np.linalg.norm(mat, axis=1, keepdims=True)
                n[n == 0] = 1.0
                mat = mat / n
                # round-6 before argmax: assignment then agrees with the
                # oracle twin regardless of float summation order (the
                # same 6-decimal contract ivf_topk's nearest_structs uses);
                # argmax ties take the FIRST max = lowest centroid id
                assign = (mat @ c_bcast.T).round(6).argmax(axis=1)
                np.add.at(sums, assign, mat)
                np.add.at(counts, assign, 1)
            yield pd.DataFrame(
                {"sums": [sums.ravel().tolist()], "counts": [counts.tolist()]}
            )

        rows = vecs_df.mapInPandas(part, "sums array<double>, counts array<long>").collect()
        sums = np.zeros((kc, dim), dtype=np.float64)
        counts = np.zeros(kc, dtype=np.int64)
        for r in rows:
            sums += np.array(r["sums"], dtype=np.float64).reshape(kc, dim)
            counts += np.array(r["counts"], dtype=np.int64)
        new = cents.copy()
        nonempty = counts > 0
        new[nonempty] = sums[nonempty]
        n = np.linalg.norm(new, axis=1, keepdims=True)
        n[n == 0] = 1.0
        cents = new / n
    return [(i, [float(x) for x in cents[i]]) for i in range(kc)]


def quantization_score(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> float:
    """Mean max-cosine of each corpus vector to its nearest centroid — the
    spherical-k-means objective (higher = tighter inverted lists)."""
    cents = np.array([c for _, c in centroids], dtype=np.float64)
    n = np.linalg.norm(cents, axis=1, keepdims=True)
    n[n == 0] = 1.0
    cents = cents / n

    from typing import Iterator

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        total, cnt = 0.0, 0
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(pdf["v"].tolist(), dtype=np.float64)
            nv = np.linalg.norm(mat, axis=1, keepdims=True)
            nv[nv == 0] = 1.0
            total += float((mat / nv @ cents.T).max(axis=1).sum())
            cnt += mat.shape[0]
        yield pd.DataFrame({"total": [total], "cnt": [cnt]})

    rows = corpus.select(F.col(vec_col).alias("v")).mapInPandas(
        part, "total double, cnt long"
    ).collect()
    total = sum(r["total"] for r in rows)
    cnt = sum(r["cnt"] for r in rows)
    return total / cnt if cnt else 0.0


def _centroid_structs(vec, centroids: list[tuple[int, list[float]]]):
    """array<struct<cos,nid>> of rounded cosines to every LITERAL centroid
    — sequential folds so the DuckDB twin reproduces values bit-for-bit;
    norms guarded like cosine_col. ``nid`` is the NEGATED centroid id so
    ``array_max`` breaks cosine ties toward the LOWER id. Zero-shuffle:
    the centroids are inlined as literal arrays, assignment is a pure
    codegen'd projection over one corpus scan."""
    norm_v = F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
    )
    entries = []
    for cid, cvec in centroids:
        plane = F.array(*[F.lit(v) for v in cvec])
        dot = F.aggregate(
            F.zip_with(vec, plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        norm_c = F.sqrt(F.aggregate(plane, F.lit(0.0), lambda a, x: a + x * x))
        cos = F.round(
            F.when((norm_v > 0) & (norm_c > 0), dot / (norm_v * norm_c)).otherwise(0.0), 6
        )
        entries.append(F.struct(cos.alias("cos"), F.lit(-cid).alias("nid")))
    return F.array(*entries)


# Above this centroid count, assignment switches from the inlined-literal
# projection to a broadcast-join: k x dim literals in ONE expression tree
# stalls Catalyst analysis/codegen long before the sqrt(N)-cluster regime
# SemDeDup argues for (~31k centroids at N=1e9), while a broadcast of the
# centroid TABLE scales to millions of rows. The two paths are
# equality-tested (tests/test_simsearch.py) — same rounded cosines, same
# lower-id tie break.
CENTROID_LITERAL_MAX = 64


def _centroid_table(spark, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    # _assign_best packs (2^31 - cid) into the low 32 bits of one long: a
    # negative id would carry into the cosine field and corrupt the argmax
    if any(int(cid) < 0 for cid, _ in centroids):
        raise ValueError("centroid ids must be non-negative")
    return driver_frame(
        spark,
        [(int(cid), [float(x) for x in cvec]) for cid, cvec in centroids],
        "cid int, cvec array<double>",
    )


def _assign_probes(
    df: DataFrame,
    vec_col_name: str,
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
    key_cols: list[str],
    literal_max: int | None = None,
) -> DataFrame:
    """``df`` + ``centroid_id``, one row per (row, probed centroid): each
    row's ``n_probe`` nearest centroids by rounded cosine, ties to the
    lower centroid id. ``n_probe=1`` is plain cluster assignment.

    Below the literal ceiling: the zero-shuffle inlined projection
    (:func:`_centroid_structs`). Above: broadcast nested-loop join
    against the centroid table + a per-row rank — the fan-out is
    k-bounded per row and the rank window partitions on ``key_cols``
    (per-row groups, never global). Both paths produce identical rows.
    """
    limit = CENTROID_LITERAL_MAX if literal_max is None else literal_max
    vec = F.col(vec_col_name)
    if len(centroids) <= limit:
        structs = F.slice(
            F.sort_array(_centroid_structs(vec, centroids), asc=False), 1, n_probe
        )
        return (
            df.withColumn("__probe", F.explode(structs))
            .withColumn("centroid_id", -F.col("__probe.nid"))
            .drop("__probe")
        )
    cent = F.broadcast(_centroid_table(df.sparkSession, centroids))
    cos = F.round(cosine_col(vec, F.col("cvec")), 6)
    scored = df.crossJoin(cent).withColumn("__cos", cos)
    w = W.partitionBy(*key_cols).orderBy(F.col("__cos").desc(), F.col("cid").asc())
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_probe)
        .withColumn("centroid_id", F.col("cid"))
        .drop("cvec", "cid", "__cos", "__rk")
    )


def _assign_best(
    df: DataFrame,
    vec_col_name: str,
    centroids: list[tuple[int, list[float]]],
    key_cols: list[str],
    literal_max: int | None = None,
) -> DataFrame:
    """``df`` + ``centroid_id`` (nearest centroid, rounded-cosine argmax,
    ties to the lower id). Literal projection below the ceiling
    (zero-shuffle); broadcast join + struct-max aggregation above.

    The argmax crosses the aggregation as ONE primitive long:
    ``(round(round(cos, 6) * 1e6) + 1e6) * 2^32 + (2^31 - cid)`` — max
    of that long is exactly (rounded cosine desc, cid asc), the literal
    path's order. The long derives from the literal path's own
    ``round(cos, 6)``: Spark rounds a double HALF_UP on its shortest
    decimal string, so ``round(cos * 1e6)`` alone can land one unit off
    (0.1250005 → 125000, against 0.125001) and break a tie differently.
    A primitive ``max(long)`` buffer keeps the plan a codegen'd
    HashAggregate with map-side combine: the k-fold fan-out collapses to
    one row per key inside each task and never crosses a shuffle; the
    remaining columns rejoin by key afterwards. Three rejected shapes,
    all measured fatal at 1-5 M vectors in the 50 M-doc probe: grouping
    by all columns (array grouping key → sort over the full fan-out →
    kernel OOM), carrying the vector through ``first()`` (array-typed
    buffer → ObjectHashAggregate), and ``max(struct)`` itself (struct
    buffer → ObjectHashAggregate, whose sort-based fallback — default
    threshold 128 keys — spilled the full fan-out to disk)."""
    limit = CENTROID_LITERAL_MAX if literal_max is None else literal_max
    vec = F.col(vec_col_name)
    if len(centroids) <= limit:
        return (
            df.withColumn("__best", F.array_max(_centroid_structs(vec, centroids)))
            .withColumn("centroid_id", -F.col("__best.nid"))
            .drop("__best")
        )
    cent = F.broadcast(_centroid_table(df.sparkSession, centroids))
    cos6 = F.round(cosine_col(F.col("__v"), F.col("cvec")), 6)
    mcos = F.round(cos6 * 1_000_000, 0).cast("long")
    enc = (mcos + 1_000_000) * F.lit(1 << 32).cast("long") + (
        F.lit(1 << 31).cast("long") - F.col("cid")
    )
    best = (
        df.select(*key_cols, vec.alias("__v"))
        .crossJoin(cent)
        .groupBy(*key_cols)
        .agg(F.max(enc).alias("__enc"))
        .select(
            *key_cols,
            (F.lit(1 << 31).cast("long") - F.pmod(F.col("__enc"), F.lit(1 << 32).cast("long")))
            .cast("int")
            .alias("centroid_id"),
        )
    )
    return df.join(best, key_cols)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    literal_max: int | None = None,
) -> DataFrame:
    """IVF ANN — the inverted-file scale path beside LSH.

    Coarse quantizer: by default the ``n_centroids`` corpus vectors with
    the LOWEST ids (deterministic sampling — keeps the operator fully
    value-checkable in the DuckDB oracle); pass
    ``centroids=train_ivf_centroids(corpus, ...)`` to drop a spherical-
    k-means-trained quantizer into the SAME plan (tested: probe-all still
    equals brute force, and the trained quantizer strictly improves the
    quantization objective). Every corpus vector belongs to the inverted list of
    its nearest centroid (max rounded cosine, ties → lower centroid id); a
    query probes its ``n_probe`` nearest lists and exact-re-ranks only
    their members — ~``n_probe/n_centroids`` of the brute-force work.

    Plan shape for 100 TB: the centroids are collected (broadcast-sized by
    definition) and, up to ``CENTROID_LITERAL_MAX`` of them, inlined as
    LITERAL arrays, so list assignment is a pure projection over one corpus
    scan — no join, no shuffle, whole-stage codegen'd; the only shuffle is
    the final probe join on centroid_id (n_centroids keys — size lists via
    n_centroids ≫ executors, AQE splits residual skew). Above the literal
    ceiling, assignment flips to the equality-tested broadcast-join path
    (:func:`_assign_best` / :func:`_assign_probes`) — same rows, and the
    √N-centroid regime stays reachable; it needs non-negative centroid
    ids (the argmax packs them into one long) and raises ``ValueError``
    otherwise."""
    if centroids is None:
        cent_rows = (
            corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
            .orderBy("cid")
            .limit(n_centroids)
            .collect()
        )
        centroids = [(int(r["cid"]), [float(x) for x in r["cvec"]]) for r in cent_rows]

    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    c_assigned = _assign_best(c, "c_vec", centroids, ["neighbor_id"], literal_max=literal_max)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    q_probes = _assign_probes(
        q, "q_vec", centroids, n_probe, ["query_id"], literal_max=literal_max
    )
    cands = (
        q_probes.join(c_assigned, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.withColumn("cosine", F.round(cosine_col(F.col("q_vec"), F.col("c_vec")), 6))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 8,
    rotations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, LSH-blocked
    (id_a < id_b). The embedding analog of the text near-dup operators:
    one bucket pass, in-bucket id combinations (no self-join), vectors
    fetched back by id for the exact gate."""
    b = _rotation_buckets(corpus, "id", id_col, vec_col, n_bits, rotations, None)
    buckets = (
        b.groupBy("rot", "bucket")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    pairs = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates()
    )
    va = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    vb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", F.round(cosine_col(F.col("vec_a"), F.col("vec_b")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 8,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    literal_max: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by embedding clusters — cluster the corpus with the
    spherical-k-means coarse quantizer, then WITHIN each cluster drop
    every item whose cosine to a LOWER-id cluster-mate is ≥
    ``threshold`` (the deterministic keep-one rule; the paper keeps an
    arbitrary representative per duplicate group).

    Returns ``(id_col, centroid_id, kept)`` for every corpus row.

    This is the scale design the paper argues for: the quadratic pair
    scan is LOCAL to a cluster (k ~ √N clusters at corpus scale keeps
    expected cluster size √N), so no corpus-wide self-join exists —
    assignment is the gated centroid path shared with :func:`ivf_topk`
    (zero-shuffle literal projection up to ``CENTROID_LITERAL_MAX``
    centroids, equality-tested broadcast join above — so the √N-cluster
    regime this docstring argues for is actually reachable), the pair
    join shuffles on ``centroid_id`` (n_centroids keys; AQE splits
    residual skew), and the verdict is one id-only anti-join. Cosines
    round to 6 decimals before the threshold compare — the contract that
    keeps the DuckDB twin exact regardless of float summation order."""
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_centroids=n_centroids, n_iters=n_iters,
            id_col=id_col, vec_col=vec_col,
        )
    assigned = (
        _assign_best(
            corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
            "vec",
            centroids,
            ["id"],
            literal_max=literal_max,
        )
        # assignment feeds BOTH pair sides and the verdict join; without
        # this the centroid projection re-runs three times (no
        # cross-branch CSE) — production reads a materialized store
        .localCheckpoint(eager=True)
    )
    a = assigned.select("centroid_id", F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    b = assigned.select("centroid_id", F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    dropped = (
        a.join(b, "centroid_id")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(cosine_col(F.col("vec_a"), F.col("vec_b")), 6) >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("__dup", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            "centroid_id",
            F.col("__dup").isNull().alias("kept"),
        )
    )


def scalar_quantize(
    corpus: DataFrame,
    levels: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension scalar quantization (the FAISS ``SQ8`` idea): map
    each embedding dimension linearly onto ``levels`` integer codes
    using corpus-wide per-dimension min/max, and report each vector's
    reconstruction RMSE — the memory-compression step that turns a
    4-byte-float ANN corpus into a 1-byte-code one (4× less executor
    memory and shuffle for every downstream candidate scan).

    Returns ``(id_col, qvec array<int>, rmse)``.

    Scale shape: the stats pass is ONE ``posexplode`` + map-side-
    combined ``groupBy(dim)`` — the combiner collapses every partition
    to ``dim`` rows before the (dim-sized) shuffle; the collected
    min/max vectors are driver-scale by definition (d doubles) and come
    back as LITERAL arrays, so quantization itself is a zero-shuffle
    codegen'd projection over one corpus scan, the ivf_topk centroid
    discipline. Code arithmetic is ``floor(x + 0.5)`` (not banker's
    rounding) and the error fold is sequential — both pinned so the
    DuckDB twin reproduces codes and RMSE bit-for-bit. Constant
    dimensions (max == min) span 1.0 and encode as code 0.
    """
    if levels < 2:
        raise ValueError(f"scalar_quantize: levels must be >= 2, got {levels}")
    stats = (
        corpus.select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    by_dim = sorted((r["dim"], float(r["lo"]), float(r["hi"])) for r in stats)
    lo_arr = F.array(*[F.lit(lo) for _, lo, _ in by_dim])
    span_arr = F.array(
        *[F.lit(hi - lo if hi > lo else 1.0) for _, lo, hi in by_dim]
    )
    top = levels - 1
    q = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        F.transform(
            F.col(vec_col),
            lambda x, i: F.floor(
                (x.cast("double") - F.element_at(lo_arr, i + 1))
                / F.element_at(span_arr, i + 1) * top + F.lit(0.5)
            ).cast("int"),
        ).alias("qvec"),
    )
    sq_err = F.aggregate(
        F.transform(
            F.col("__v"),
            lambda x, i: (
                x.cast("double")
                - (
                    F.element_at(F.col("qvec"), i + 1).cast("double") / top
                    * F.element_at(span_arr, i + 1)
                    + F.element_at(lo_arr, i + 1)
                )
            ),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d * d,
    )
    return q.select(
        id_col,
        "qvec",
        F.round(F.sqrt(sq_err / F.size("__v")), 6).alias("rmse"),
    )


def matryoshka_recall(
    corpus: DataFrame,
    queries: DataFrame,
    dims: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al. 2022, MRL): top-k
    recall of PREFIX-truncated embeddings against the full-dimension
    ground truth, per truncation width — the measurement that decides
    how many dimensions an ANN corpus actually needs to ship (a 64→8
    truncation is an 8× index-memory and bandwidth cut if recall
    holds). Returns ``(dim, recall)``, recall = |topk_trunc ∩
    topk_full| / |topk_full| summed over queries.

    Each width is one :func:`brute_force_topk` pass over prefix-sliced
    vectors (``F.slice`` — a zero-shuffle projection) plus an id-pair
    join against the ground truth; per-width hit counts are aggregate
    scalars (driver-scale by definition)."""
    gt = brute_force_topk(corpus, queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    ).localCheckpoint(eager=True)
    total = gt.count()
    rows = []
    for d in dims:
        tc = corpus.select(id_col, F.slice(F.col(vec_col), 1, d).alias(vec_col))
        tq = queries.select(id_col, F.slice(F.col(vec_col), 1, d).alias(vec_col))
        tk = brute_force_topk(tc, tq, k, id_col, vec_col).select(
            "query_id", "neighbor_id"
        )
        hits = tk.join(gt, ["query_id", "neighbor_id"]).count()
        rows.append((d, round(hits / total, 6) if total else 0.0))
    return driver_frame(corpus.sparkSession, rows, "dim int, recall double")
