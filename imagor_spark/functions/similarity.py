"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k using built-in higher-order array
functions (``aggregate``/``zip_with`` — JVM-side, no Python). Scale paths:
LSH bucketing (random-hyperplane signs via deterministic md5-derived
projections) that prunes near-duplicate candidates to same-bucket pairs
before exact scoring, and an IVF-style search that routes queries to the
nearest coarse centroids.

At 100 TB / billions of vectors: the brute force is one broadcast of the
query + a full scan (embarrassingly parallel, no shuffle except top-k);
the LSH variant turns the pair search into a bucket equi-join; IVF prunes
to ``nprobe/nlist`` of the data. All three keep vectors in Arrow/Tungsten
arrays — no Python in the scoring loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector. The query ships
    as a column literal (broadcast by value); the scan is narrow; only the
    top-k ordering is a (tiny) global sort."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from md5 — no RNG
    state, reproducible in any engine."""
    import hashlib

    vals = []
    for i in range(dim):
        h = hashlib.md5(f"hp:{seed}:{i}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0x7FFFFFFF) - 1.0)
    return vals


def lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    vec_col: str = "embedding",
    seed_offset: int = 0,
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string of n_planes dot
    products. Same-bucket vectors are near-duplicate candidates.
    ``seed_offset`` selects an independent plane family (banded tables)."""
    bits = []
    for s in range(n_planes):
        hp = F.array(*[F.lit(v) for v in _hyperplane(dim, seed_offset + s)])
        bits.append(F.when(dot(F.col(vec_col), hp) >= 0, "1").otherwise("0"))
    return df.withColumn(out_col, F.concat(*bits))


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    (argmin L2). Centroids are a literal array-of-arrays (broadcast by
    value); at scale they come from a sampled k-means. Partitioning the
    table by ``ivf_cell`` co-locates cells for query-time pruning."""
    cents = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    dists = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(F.col(vec_col), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        ),
    )
    return df.withColumn(
        "ivf_cell", F.array_position(dists, F.array_min(dists)) - 1
    )


def _plan_row_estimate(df: DataFrame) -> int | None:
    """Row-count estimate from Catalyst plan statistics (free — no job).
    Returns None when the optimizer has no row count (e.g. plain file scan
    without ANALYZE/CBO stats)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        row_count = stats.rowCount()
        if row_count.isDefined():
            return int(row_count.get().toString())
    except Exception:
        pass
    return None


def parquet_row_count(path: str) -> int | None:
    """Exact row count from parquet FOOTERS (driver-side metadata read, no
    Spark job, no data pages) — the cheap ``n_rows`` source for the
    :func:`embedding_near_dups` guard. Accepts a single file or a
    directory of part files."""
    import os

    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            return sum(
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for root, _, files in os.walk(path)
                for f in files
                if f.endswith(".parquet")
            )
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None


def quantized_vec(vec_col: str = "embedding", scale: int = 1000) -> Column:
    """``floor(double(x) * scale)`` per component — an integer lattice
    projection that is EXACT and engine-portable: float32→double is exact,
    the double multiply is correctly rounded identically everywhere, and
    floor has no tie cases (unlike round's half-way ties)."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(scale)).cast("long"),
    )


def ivf_assign_quantized(
    df: DataFrame, centroids: list[list[int]], qvec_col: str = "qvec"
) -> DataFrame:
    """IVF coarse assignment on the integer lattice: argmin of int64 L2
    distances (first-min tie-break = lowest cell id). Same narrow JVM
    higher-order-function shape as :func:`ivf_assign`, but every distance
    is exact integer arithmetic any engine replays bit-identically."""
    cents = F.array(*[F.array(*[F.lit(int(x)) for x in c]) for c in centroids])
    dists = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(F.col(qvec_col), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )
    return df.withColumn(
        "ivf_cell", F.array_position(dists, F.array_min(dists)) - 1
    )


def kmeans_train_quantized(
    df: DataFrame,
    k: int,
    dim: int,
    n_iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> list[list[int]]:
    """Distributed Lloyd's k-means for the IVF coarse quantizer, on the
    quantized integer lattice: every step is exact integer/floor
    arithmetic, so a SQL engine can replay the full training unrolled and
    hash-match the result (erasing the "iterative float algorithms are
    rows-only" exemption).

    * init — the k vectors with smallest ``md5(cast(id as string))``
      (a seedless deterministic sample any engine reproduces);
    * assign — :func:`ivf_assign_quantized` (int64 L2, first-min
      tie-break);
    * update — ``floor(sum/count)`` per (cell, component): double division
      of int64 sums is correctly rounded and the quotient is never within
      1/count of an integer unless exact, so the floor is the exact
      floor-division in ANY engine;
    * empty cells keep their previous centroid.

    Scale shape: one map-side-combined shuffle of (cell, pos, partial-sum)
    per iteration, k×dim ints to the driver.
    """
    q = df.select(F.col(id_col), quantized_vec(vec_col, scale).alias("qvec"))
    init_rows = (
        q.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    if len(init_rows) < k:
        raise ValueError(
            f"kmeans_train_quantized: k={k} but only {len(init_rows)} rows"
        )
    cents = [list(map(int, r["qvec"])) for r in init_rows]
    for _ in range(n_iters):
        assigned = ivf_assign_quantized(q, cents)
        rows = (
            assigned.select("ivf_cell", F.posexplode("qvec").alias("pos", "val"))
            .groupBy("ivf_cell", "pos")
            .agg(F.floor(F.sum("val") / F.count("*")).cast("long").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, int]] = {}
        for r in rows:
            by_cell.setdefault(int(r["ivf_cell"]), {})[int(r["pos"])] = int(r["m"])
        cents = [
            [by_cell.get(c, {}).get(p, cents[c][p]) for p in range(dim)]
            for c in range(k)
        ]
    return cents


def ivf_search_quantized(
    df: DataFrame,
    centroids: list[list[int]],
    query_qvec: list[int],
    nprobe: int = 2,
    k: int = 10,
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF **search** on the integer lattice — the query-time half of the
    trained quantizer (:func:`kmeans_train_quantized` is the build-time
    half). Routes the query to its ``nprobe`` nearest coarse centroids
    (driver-side int64 L2 over k×dim ints — no job), prunes the table to
    those cells, then exact-reranks within them and returns the global
    top-k by integer L2 distance (ties → lowest id).

    Scale shape: an input that ALREADY carries ``ivf_cell`` (the prebuilt
    index `ivf_assign_quantized` writes, partitioned by cell) is trusted —
    the nprobe filter then reaches the scan as a PARTITION filter and only
    nprobe/nlist of the data files are read (the point of IVF; plan-
    asserted in `test_ivf_cell_prune_is_partition_pruning`). Without the
    column, cells are assigned on the fly (a narrow map). The rerank is a
    narrow map; only the top-k TakeOrdered leaves the executors. Every
    distance is exact int64 arithmetic, so a SQL engine replays the search
    bit-identically (hash-checked, like training)."""
    if not centroids:
        raise ValueError("ivf_search_quantized: empty centroid list")
    nprobe = min(nprobe, len(centroids))
    # driver-side coarse routing: k×dim ints, exact integer arithmetic
    coarse = sorted(
        (sum((q - c) * (q - c) for q, c in zip(query_qvec, cent)), cid)
        for cid, cent in enumerate(centroids)
    )
    probe_cells = sorted(cid for _, cid in coarse[:nprobe])
    qlit = F.array(*[F.lit(int(x)) for x in query_qvec])
    if "ivf_cell" in df.columns:
        assigned = df  # prebuilt index: filter prunes partitions, no re-assign
    else:
        assigned = ivf_assign_quantized(df, centroids, qvec_col=qvec_col)
    pruned = assigned.filter(F.col("ivf_cell").isin(probe_cells))
    scored = pruned.select(
        F.col(id_col),
        F.col("ivf_cell"),
        F.aggregate(
            F.zip_with(F.col(qvec_col), qlit, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("qdist"),
    )
    return scored.orderBy(F.asc("qdist"), F.asc(id_col)).limit(k)


def embedding_near_dups(
    df: DataFrame,
    dim: int,
    threshold: float = 0.2,
    n_planes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 1,
    max_avg_bucket: int | None = 20_000,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector leg of the dedup
    plane: random-hyperplane LSH bucketing prunes the O(n²) pair space to
    same-bucket candidates (equi-join on the sign-bit bucket, NO cross
    join), then an exact cosine rerank keeps pairs ≥ threshold (compared on
    round-6 values so any IEEE-identical engine reproduces the set).

    Same scale shape as the MinHash LSH join: merge-hinted self-join so the
    bucketing lineage is planned once (ReusedExchange) — the only viable
    plan at billions of vectors, where neither side broadcasts.

    Scale guard: the same-bucket self-join is O(Σ bucket²); when
    ``2^n_planes`` is small relative to n it silently degenerates toward a
    cross join. ``max_avg_bucket`` raises when the EXPECTED average bucket
    (n / 2^n_planes) exceeds the guard — fix by raising ``n_planes`` (and
    ``bands`` to recover the recall each extra plane costs).

    ``bands`` > 1 = banded multi-table LSH (the MinHash band construction):
    each band hashes with an independent plane family; candidates are the
    UNION of same-bucket pairs across bands — more planes per band keeps
    buckets (and the join) small while the union keeps recall.

    ``n_rows``: known/estimated row count for the guard. When provided (or
    derivable from plan statistics), the guard costs ZERO jobs; when
    neither is available the guard falls back to an eager ``df.count()`` —
    at 100 TB callers should always pass ``n_rows`` (one footer read /
    catalog stat) rather than pay a full scan to validate a config value."""
    if max_avg_bucket is not None:
        n = n_rows if n_rows is not None else _plan_row_estimate(df)
        if n is None:
            n = df.count()
        avg_bucket = n / float(2**n_planes)
        if avg_bucket > max_avg_bucket:
            raise ValueError(
                f"embedding_near_dups: expected avg LSH bucket {avg_bucket:.0f} rows "
                f"(n={n}, 2^{n_planes} buckets) exceeds the {max_avg_bucket} guard; "
                f"the same-bucket self-join would approach O(n²) — raise n_planes "
                f"(and bands to keep recall), or raise max_avg_bucket explicitly"
            )
    # r6 rerank optimizations (bit-identical cos_sim, same pair set):
    #  * norms are computed ONCE per row before the join instead of once
    #    per candidate pair — cosine inside the join becomes dot/(na·nb),
    #    dropping ~2/3 of the per-pair higher-order-function work (the
    #    norm aggregation is the same expression, evaluated earlier, so
    #    the float result is unchanged bit-for-bit);
    #  * the self-join key is SALTED (guide §2.5): 2^n_planes buckets is
    #    far fewer distinct keys than reduce slots (16 buckets at
    #    n_planes=4 — and AQE then coalesces the few-MB exchange to ~1
    #    partition, serializing the O(Σ bucket²) rerank, measured 1.8 s
    #    single-task). The a-side hashes ids into N_SALTS sub-buckets, the
    #    b-side replicates each row N_SALTS ways, the join key is
    #    (bucket, salt): every (a, b) candidate pair still meets exactly
    #    once — in a's salt — so the result multiset is identical while
    #    the rerank spreads over bucket×salt keys. The same treatment is
    #    what a billion-row bucket join needs (one bucket ≫ one task).
    n_salts = 16
    all_pairs = None
    for band in range(max(bands, 1)):
        b = lsh_bucket(
            df, dim, n_planes, vec_col, seed_offset=band * n_planes
        ).select(F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("__nrm"),
                 "lsh_bucket")
        a_side = b.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
            F.col("__nrm").alias("na"), "lsh_bucket",
            F.pmod(F.hash(F.col(id_col)), F.lit(n_salts)).alias("__salt"),
        ).hint("merge")
        b_side = b.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
            F.col("__nrm").alias("nb"), "lsh_bucket",
            F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("__salt"),
        ).hint("merge")
        pairs = a_side.join(b_side, ["lsh_bucket", "__salt"]).filter(
            F.col("id_a") < F.col("id_b")
        )
        scored = pairs.select(
            "id_a", "id_b",
            F.round(dot("va", "vb") / (F.col("na") * F.col("nb")), 6).alias("cos_sim"),
        )
        kept = scored.filter(F.col("cos_sim") >= threshold)
        all_pairs = kept if all_pairs is None else all_pairs.unionByName(kept)
    if bands > 1:
        # a pair can collide in several bands — exact-dedup the union
        all_pairs = all_pairs.distinct()
    return all_pairs
