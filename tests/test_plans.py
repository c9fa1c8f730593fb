"""Plan-shape regression guards — the properties that make the engine
survive 100 TB are asserted on the PHYSICAL PLAN, not just on results:
no explode before the dedup join, no Python in the column planes, scans
pruned and filters pushed, exchanges reused instead of recomputed."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_minhash_signature_plan_is_one_narrow_projection(spark, docs):
    from imagor_spark.functions.dedup import minhash_signatures_fused

    sig = minhash_signatures_fused(docs, "text", k=3, n_hashes=8)
    plan = _plan(sig)
    assert "Generate" not in plan  # no explode — per-row HOF signatures
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # zero shuffle before the band join


def test_simhash_plan_is_one_narrow_projection(spark, docs):
    from imagor_spark.functions.dedup import simhash

    plan = _plan(simhash(docs, "text", bits=32))
    assert "Generate" not in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_lsh_join_reuses_signature_exchange(spark, docs):
    from imagor_spark.functions.dedup import lsh_candidate_pairs, minhash_signatures_fused

    # hermetic: a cached `documents` table from other tests substitutes an
    # InMemoryRelation into this plan and defeats exchange-reuse matching
    spark.catalog.clearCache()
    sig = minhash_signatures_fused(docs, "text", k=3, n_hashes=8)
    pairs = lsh_candidate_pairs(sig, n_hashes=8, bands=4)
    pairs.collect()  # materialize so AQE settles the final plan
    plan = _plan(pairs)
    assert "SortMergeJoin" in plan  # the only viable 100 TB join shape
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # the identical banding lineage must be planned ONCE
    assert "ReusedExchange" in plan, plan


def test_q1_scan_pushes_filter_and_prunes_columns(spark):
    import __spark_entry__ as e

    df = e.q1_pricing_summary(spark, SF)
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # projection pruning reached the scan: untouched wide columns absent
    assert "l_comment" not in plan
    assert "l_shipinstruct" not in plan


def test_router_plane_is_pure_codegen(spark, docs):
    from imagor_spark.sources.router import Route, resolve_sources

    out = resolve_sources(
        docs.selectExpr("cast(doc_id as string) as source"),
        [Route("1", "a"), Route("2", "b")],
        allowed=["1*", "2*", "3*"],
    )
    plan = _plan(out)
    assert "Exchange" not in plan and "Join" not in plan
    # '*(n)' prefixes mark whole-stage-codegen stages in the plan string
    assert "*(1)" in plan


def test_embedding_near_dup_join_shape(spark):
    from imagor_spark.functions.similarity import embedding_near_dups

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pairs = embedding_near_dups(emb, dim=64, threshold=0.2, n_planes=4)
    pairs.collect()
    plan = _plan(pairs)
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_singleflight_never_shuffles_payload(spark, tmp_path):
    """Within-batch singleflight must filter the wide side IN PLACE: the
    only exchange is the (key, clip_id) pair aggregation building the
    duplicate-winner dim (column pruning keeps payload bytes out of that
    subtree's scan), which then broadcasts back — a dropDuplicates(key)
    would instead hash-shuffle every payload row per batch."""
    from pyspark.sql import functions as F

    from imagor_spark.engine.transform import singleflight_within, with_result_key
    from imagor_spark.sources.clips import generate_clips_df

    src = str(tmp_path / "clips")
    generate_clips_df(spark, 50, signed_mix=False).write.parquet(src)
    keyed = with_result_key(spark.read.parquet(src), out_col="__rk")
    out = singleflight_within(keyed.withColumn("__ok", F.lit(True)))
    out.count()  # settle AQE
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # exactly one hash exchange — the tiny pair aggregation, never payloads
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # the aggregate subtree's parquet scan pruned the payload column:
    # of the two scans of the clips file, one reads a bytes-free schema
    schemas = [s.split("]")[0] for s in plan.split("ReadSchema: struct<")[1:]]
    assert any("bytes" not in s for s in schemas), plan


def test_per_batch_render_plane_shape(spark):
    """``skip_rendered`` (the result-cache anti-join) composed with
    ``resolve_with_config`` (the admission join) and the transform fn, over
    a whole clips frame, must be payload-friendly: both joins are BROADCAST
    (the TTL-bounded key index and the tiny config dim build sides), so the
    payload column never crosses an exchange, and the whole plane is ONE
    scan of the batch input — no union branches re-executing the batch
    subtree. (The pipeline's own render plan is pinned by
    ``test_render_plan_keeps_payloads_out_of_the_jvm``.)"""
    from imagor_spark.engine.config import params_config_df, resolve_with_config
    from imagor_spark.engine.transform import (
        OUTPUT_SCHEMA,
        make_transform_fn,
        skip_rendered,
    )
    from imagor_spark.sources.clips import SECRET, generate_clips_df

    spark.catalog.clearCache()
    batch = generate_clips_df(spark, 50, signed_mix=False)
    rendered = spark.createDataFrame([("k1",), ("k2",)], "result_key string")
    cache_checked = skip_rendered(batch, rendered)
    admitted = resolve_with_config(cache_checked, params_config_df(spark))
    out = admitted.mapInPandas(
        make_transform_fn(SECRET, allow_unsafe=True), schema=OUTPUT_SCHEMA
    )
    out.count()  # settle AQE
    plan = _plan(out)
    # both joins broadcast: no shuffle of the stream/payload side
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "Exchange hashpartitioning" not in plan  # payload never shuffles
    # one scan of the generated batch lineage (no union re-execution)
    assert plan.count("ArrowEvalPython") <= 1  # with_result_key only
    assert "Union" not in plan


def test_ivf_cell_prune_is_partition_pruning(spark, tmp_path):
    """The IVF scale story: when the vector table is WRITTEN partitioned by
    ivf_cell (the build-time layout `ivf_assign_quantized` produces), the
    search's nprobe cell filter must reach the scan as a PARTITION filter —
    scanning nprobe/nlist of the data, zero data-file reads outside the
    probed cells — not as a post-scan row filter."""
    import numpy as np
    import pandas as pd

    from imagor_spark.functions.similarity import (
        ivf_assign_quantized,
        ivf_search_quantized,
        kmeans_train_quantized,
        quantized_vec,
    )

    rng = np.random.Generator(np.random.Philox(31))
    centers = np.array([[4.0] * 4, [-4.0] * 4, [4.0, -4.0, 4.0, -4.0]])
    pts = np.concatenate(
        [c + rng.normal(0, 0.4, (30, 4)) for c in centers]
    ).astype(np.float32)
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(90), "embedding": [list(map(float, r)) for r in pts],
    }))
    cents = kmeans_train_quantized(df, k=3, dim=4, n_iters=2)
    q = df.select("vec_id", quantized_vec("embedding").alias("qvec"))
    # build-time layout: cell-partitioned parquet (at scale: the IVF index)
    out = str(tmp_path / "ivf_table")
    ivf_assign_quantized(q, cents).write.partitionBy("ivf_cell").parquet(out)
    table = spark.read.parquet(out)

    query = [int(x) for x in np.floor(pts[0].astype(np.float64) * 1000).astype(np.int64)]
    # search over the PARTITIONED table: pre-assigned cells short-circuit
    res = ivf_search_quantized(table, cents, query, nprobe=1, k=5)
    plan = _plan(res)
    # the cell restriction is a partition filter on the scan...
    assert "PartitionFilters" in plan and "ivf_cell" in plan.split("PartitionFilters")[1].split("]")[0], plan
    # ...and the scan touches no per-row re-assignment (the stored cell is
    # trusted; no second argmin over the centroids)
    rows = res.collect()
    assert rows[0]["vec_id"] == 0 and rows[0]["qdist"] == 0
    assert all(r["ivf_cell"] == rows[0]["ivf_cell"] for r in rows)


def test_q10_pushes_predicates_and_broadcasts_dim(spark):
    """TPC-H Q10 shape: the date-range and returnflag predicates must reach
    the parquet scans as pushed filters (at 100 TB they prune row groups),
    and the 25-row nation dim must build a broadcast, never shuffle."""
    from imagor_spark.plans.catalog import q_q10_returned_items

    df = q_q10_returned_items(spark, SF)
    plan = _plan(df)
    pushed = plan.split("PushedFilters: [")
    assert any("GreaterThanOrEqual(o_orderdate" in s.split("]")[0] for s in pushed[1:]), plan
    assert any("EqualTo(l_returnflag,R)" in s.split("]")[0] for s in pushed[1:]), plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_windowed_distinct_is_two_phase_no_python(spark):
    """Exact COUNT(DISTINCT) must plan as Spark's expand + two-phase
    partial/merge aggregate — all codegen, no Python eval, no more than
    the two grouping shuffles the expansion requires."""
    from imagor_spark.plans.catalog import q_events_window_distinct

    df = q_events_window_distinct(spark, SF)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
