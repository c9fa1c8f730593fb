"""Training-pipeline operator tests: text, dedup, similarity, multimodal —
each checked against an independent plain-Python/numpy oracle (not the
Spark code), plus plan-shape assertions for the scale paths."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df.cache().count()
    return df


def test_token_count_matches_python(spark, docs):
    from imagor_spark.functions.text import token_count

    got = {r["doc_id"]: r["n_tokens"] for r in docs.select("doc_id", token_count()).collect()}
    for r in docs.select("doc_id", "text").limit(50).collect():
        assert got[r["doc_id"]] == len(r["text"].strip().split())


def test_fingerprint_matches_python(spark, docs):
    from imagor_spark.functions.text import doc_fingerprint

    got = {r["doc_id"]: r["fingerprint"] for r in docs.select("doc_id", doc_fingerprint()).collect()}
    import re

    for r in docs.select("doc_id", "text").limit(50).collect():
        norm = re.sub(r"\s+", " ", r["text"].strip()).lower()[:64]
        assert got[r["doc_id"]] == hashlib.md5(norm.encode()).hexdigest()


def test_shingles_and_minhash(spark, docs):
    from imagor_spark.functions.dedup import minhash_signatures, shingles

    sh = shingles(docs.limit(20), "text", k=3)
    rows = sh.collect()
    # python oracle for one doc
    doc = docs.limit(20).collect()[0]
    import re

    toks = re.sub(r"\s+", " ", doc["text"].strip()).lower().split(" ")
    expect = set(
        " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))
    )
    got = set(r["shingle"] for r in rows if r["doc_id"] == doc["doc_id"])
    assert got == expect
    sig = minhash_signatures(sh, n_hashes=4).collect()
    srow = next(r for r in sig if r["doc_id"] == doc["doc_id"])
    for i in range(4):
        expect_h = min(hashlib.md5((s + f"#{i}").encode()).hexdigest() for s in expect)
        assert srow[f"h{i}"] == expect_h


def test_lsh_finds_near_duplicates(spark):
    """Two docs sharing most shingles must share a band bucket."""
    import pandas as pd

    from imagor_spark.functions.dedup import lsh_candidate_pairs, minhash_signatures, shingles

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base + " tomorrow"
    other = "completely different words nothing shared here at all whatsoever everywhere"
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, other]})
    )
    pairs = lsh_candidate_pairs(
        minhash_signatures(shingles(df, "text", 3), 16), 16, bands=8
    ).collect()
    pairset = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 2) in pairset
    assert (1, 3) not in pairset and (2, 3) not in pairset


def test_jaccard_exact(spark):
    import pandas as pd

    from imagor_spark.functions.dedup import jaccard_pairs, shingles

    a = "a b c d e f"
    b = "a b c d x y"
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2], "text": [a, b]}))
    sh = shingles(df, "text", 2)  # bigrams: a: {ab,bc,cd,de,ef} b: {ab,bc,cd,dx,xy}
    pairs = spark.createDataFrame(pd.DataFrame({"doc_a": [1], "doc_b": [2]}))
    out = jaccard_pairs(sh, pairs).collect()[0]
    assert out["n_inter"] == 3
    assert abs(out["jaccard"] - 3 / 7) < 1e-6


def test_jaccard_arrays_matches_exploded_twin(spark):
    """The r6 array-intersection verification path must produce exactly the
    rows of the exploded shingle-equi-join it replaced (same n_inter/sizes
    for every pair, pairs with empty intersections dropped by both)."""
    import pandas as pd

    from imagor_spark.functions.dedup import jaccard_pairs, jaccard_pairs_arrays, shingles

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            "a b c d e f", "a b c d x y",
            "p q r s t u", "completely disjoint words here now",
        ],
    }))
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 1, 3], "doc_b": [2, 3, 4]})
    )
    old = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["size_a"], r["size_b"], r["jaccard"])
        for r in jaccard_pairs(shingles(docs, "text", 2), pairs).collect()
    }
    new = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["size_a"], r["size_b"], r["jaccard"])
        for r in jaccard_pairs_arrays(docs, pairs, "text", 2).collect()
    }
    assert old == new and (1, 2) in new  # disjoint pairs dropped by both


def test_asof_pandas_bucket_count_invariant(spark):
    """The bucketed cogroup (r6) must return identical rows at any bucket
    count — 1 bucket (everything in one pandas call) vs many (per-key
    splits ride merge_asof's by= matching)."""
    import pandas as pd

    from imagor_spark.functions.asof import asof_join_pandas

    left = spark.createDataFrame(pd.DataFrame({
        "k": ["a", "a", "b", "c"],
        "ts": pd.to_datetime(["2026-01-01 00:00:10", "2026-01-01 00:01:00",
                              "2026-01-01 00:00:30", "2026-01-01 00:00:05"]),
        "ev": [1, 2, 3, 4],
    }))
    right = spark.createDataFrame(pd.DataFrame({
        "k": ["a", "a", "b"],
        "ts": pd.to_datetime(["2026-01-01 00:00:10", "2026-01-01 00:00:50",
                              "2026-01-01 00:00:20"]),
        "rv": [10, 20, 30],
    }))
    outs = [
        sorted(
            tuple(r) for r in asof_join_pandas(
                left, right, key="k", ts="ts", right_cols=["rv"],
                strict=True, n_buckets=nb,
            ).collect()
        )
        for nb in (1, 7)
    ]
    assert outs[0] == outs[1]
    matched = {r[2]: r[3] for r in outs[0]}  # ev -> rv_right
    assert matched == {1: None, 2: 20, 3: 30, 4: None}  # strict '<'


def test_simhash_similar_docs_close(spark):
    import pandas as pd

    from imagor_spark.functions.dedup import simhash

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " lambda"
    other = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, other]})
    )
    hs = {r["doc_id"]: r["simhash"] for r in simhash(df, bits=32).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(hs[1], hs[2]) < ham(hs[1], hs[3])


def test_cosine_topk_matches_numpy(spark, emb):
    from imagor_spark.functions.similarity import brute_force_topk

    rows = emb.collect()
    q = np.array(rows[0]["embedding"], dtype=np.float64)
    mat = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows[1:]}
    sims = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in mat.items()
    }
    expect = sorted(sims, key=lambda k: (-round(sims[k], 6), k))[:5]
    got = [
        r["vec_id"]
        for r in brute_force_topk(
            emb.filter(F.col("vec_id") != rows[0]["vec_id"]), list(q), k=5
        ).collect()
    ]
    assert got == expect


def test_ivf_assign_partitions_all(spark, emb):
    from imagor_spark.functions.similarity import ivf_assign

    cents = [list(r["embedding"]) for r in emb.limit(3).collect()]
    out = ivf_assign(emb, cents)
    assert out.filter(F.col("ivf_cell").isNull()).count() == 0
    assert out.count() == emb.count()
    assert out.select("ivf_cell").distinct().count() <= 3


def test_embedding_lsh_guard_and_bands(spark, emb):
    """The same-bucket self-join degenerates toward O(n²) when 2^n_planes
    is small relative to n: the guard must raise, raising n_planes must
    pass, and the banded multi-table variant must be a superset of (and
    consistent with) the single-band candidates at equal plane count."""
    from imagor_spark.functions.similarity import embedding_near_dups

    # n=500 vectors, 2^1=2 buckets → avg 250 > guard of 100 → raise
    with pytest.raises(ValueError, match="guard|n_planes"):
        embedding_near_dups(emb, dim=64, n_planes=1, max_avg_bucket=100)
    # more planes shrink the expected bucket below the guard → runs
    single = embedding_near_dups(emb, dim=64, threshold=0.2, n_planes=4,
                                 max_avg_bucket=100)
    n_single = single.count()
    # banded: band 0 uses the SAME plane family as single → superset
    banded = embedding_near_dups(emb, dim=64, threshold=0.2, n_planes=4,
                                 bands=2, max_avg_bucket=100)
    n_banded = banded.count()
    assert n_banded >= n_single
    # every single-band pair is also found by the banded variant
    assert banded.join(single, ["id_a", "id_b"], "left_semi").count() == n_single
    # banded output has no duplicate pairs (cross-band collisions deduped)
    assert banded.groupBy("id_a", "id_b").count().filter("count > 1").count() == 0


def test_embedding_guard_without_eager_count(spark, emb):
    """The bucket-size guard must not cost a full scan: a caller-provided
    ``n_rows`` (or parquet-footer count) drives the guard with zero Spark
    jobs — same accept/reject behavior as the counted path."""
    from imagor_spark.functions.similarity import embedding_near_dups, parquet_row_count

    n_footer = parquet_row_count("/root/testdata/sf0.001/embeddings.parquet")
    assert n_footer == emb.count()  # footers are exact, not an estimate
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    with pytest.raises(ValueError, match="guard|n_planes"):
        embedding_near_dups(emb, dim=64, n_planes=1, max_avg_bucket=10,
                            n_rows=n_footer)
    lazy = embedding_near_dups(emb, dim=64, threshold=0.2, n_planes=4,
                               max_avg_bucket=10_000, n_rows=n_footer)
    jobs_after = len(tracker.getJobIdsForGroup(None) or [])
    assert jobs_after == jobs_before  # guard + plan construction ran 0 jobs
    assert lazy.count() > 0  # and the plan itself still works


def test_kmeans_quantized_matches_integer_twin(spark):
    """The oracle-checkable quantized Lloyd's: exact integer arithmetic vs
    a numpy integer twin (floor quantize, int64 L2, first-min tie-break,
    floor-division update), and k > n raises cleanly (not IndexError)."""
    import hashlib

    import numpy as np
    import pandas as pd

    from imagor_spark.functions.similarity import (
        ivf_assign_quantized,
        kmeans_train_quantized,
        quantized_vec,
    )

    rng = np.random.Generator(np.random.Philox(11))
    centers = np.array([[3.0] * 6, [-3.0] * 6, [3.0] * 3 + [-3.0] * 3])
    pts = np.concatenate(
        [c + rng.normal(0, 0.4, (20, 6)) for c in centers]
    ).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(60), "embedding": [list(map(float, r)) for r in pts]})
    df = spark.createDataFrame(pdf)
    got = kmeans_train_quantized(df, k=3, dim=6, n_iters=3)

    qpts = np.floor(pts.astype(np.float64) * 1000).astype(np.int64)
    order = sorted(range(60), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cents = qpts[order[:3]].copy()
    for _ in range(3):
        d = ((qpts[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)  # argmin takes first min = lowest cid
        for c in range(3):
            if (assign == c).any():
                grp = qpts[assign == c]
                cents[c] = np.floor(grp.sum(0) / len(grp)).astype(np.int64)
    assert [list(map(int, c)) for c in cents] == got
    # final assignment agrees too (what q_ivf_train hashes)
    q = df.select("vec_id", quantized_vec("embedding").alias("qvec"))
    out = {r["vec_id"]: r["ivf_cell"] for r in ivf_assign_quantized(q, got).collect()}
    dfin = ((qpts[:, None, :] - np.array(got)[None, :, :]) ** 2).sum(-1)
    assert all(out[i] == int(dfin[i].argmin()) for i in range(60))
    # k-validation (ADVICE r3): clear error
    with pytest.raises(ValueError, match="k=100"):
        kmeans_train_quantized(df, k=100, dim=6)


def test_ivf_search_quantized_matches_numpy_twin(spark):
    """Search-side IVF over the trained integer quantizer: nprobe routing
    prunes to the right cells, the rerank is exact int64 L2, and the
    global top-k (ties → lowest id) matches a brute-force numpy twin
    restricted to the probed cells. nprobe > k clamps; empty centroid
    list raises."""
    import numpy as np
    import pandas as pd

    from imagor_spark.functions.similarity import (
        ivf_search_quantized,
        kmeans_train_quantized,
        quantized_vec,
    )

    rng = np.random.Generator(np.random.Philox(23))
    centers = np.array([[4.0] * 6, [-4.0] * 6, [4.0] * 3 + [-4.0] * 3])
    pts = np.concatenate(
        [c + rng.normal(0, 0.5, (25, 6)) for c in centers]
    ).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(75), "embedding": [list(map(float, r)) for r in pts]})
    df = spark.createDataFrame(pdf)
    cents = kmeans_train_quantized(df, k=3, dim=6, n_iters=3)
    q = df.select("vec_id", quantized_vec("embedding").alias("qvec"))
    qpts = np.floor(pts.astype(np.float64) * 1000).astype(np.int64)
    query = [int(x) for x in qpts[0]]

    got = ivf_search_quantized(q, cents, query, nprobe=2, k=5).collect()

    # numpy twin: probe the 2 nearest centroids (ties → lowest cid),
    # rerank exactly within those cells
    carr = np.array(cents)
    cd = ((np.array(query)[None, :] - carr) ** 2).sum(-1)
    probe = set(np.lexsort((np.arange(3), cd))[:2].tolist())
    assign = ((qpts[:, None, :] - carr[None, :, :]) ** 2).sum(-1).argmin(1)
    cand = [i for i in range(75) if int(assign[i]) in probe]
    dist = {i: int(((qpts[i] - np.array(query)) ** 2).sum()) for i in cand}
    want = sorted(cand, key=lambda i: (dist[i], i))[:5]
    assert [r["vec_id"] for r in got] == want
    assert all(r["qdist"] == dist[r["vec_id"]] for r in got)
    assert all(int(assign[r["vec_id"]]) in probe for r in got)
    # row 0 is its own nearest neighbour at distance 0
    assert got[0]["vec_id"] == 0 and got[0]["qdist"] == 0

    # nprobe beyond k clamps to all cells = exact global search
    full = ivf_search_quantized(q, cents, query, nprobe=99, k=3).collect()
    gdist = ((qpts - np.array(query)) ** 2).sum(-1)
    gwant = sorted(range(75), key=lambda i: (int(gdist[i]), i))[:3]
    assert [r["vec_id"] for r in full] == gwant

    with pytest.raises(ValueError, match="empty centroid"):
        ivf_search_quantized(q, [], query)


def test_image_features_stub_plumbing(spark):
    import pandas as pd

    from imagor_spark.functions.multimodal import (
        IMAGE_SCHEMA,
        encode_fake_image,
        image_features,
    )

    rows = [
        {"media_id": "a", "bytes": encode_fake_image("a", 16, 8), "width": 16,
         "height": 8, "fmt": "fimg", "meta": ""},
        # a "real" JPEG → stubbed decode must degrade, not crash
        {"media_id": "b", "bytes": b"\xff\xd8\xff\xe0realjpeg", "width": 0,
         "height": 0, "fmt": "jpeg", "meta": ""},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=IMAGE_SCHEMA)
    out = {r["media_id"]: r for r in image_features(df).collect()}
    assert out["a"]["n_pixels"] == 128
    assert len(out["a"]["phash"]) == 4
    assert out["b"]["n_pixels"] == -1  # stub path, no crash


def test_bmp_pnm_real_decode():
    """The non-stub pixel formats: BMP 24-bit roundtrip (bottom-up + stride
    padding), BMP 8-bit paletted, binary PNM P5/P6 (with comments), integer
    luma exactness, and honest rejects for compressed/unknown streams."""
    import struct

    import numpy as np
    import pytest as _pt

    from imagor_spark.functions.multimodal import (
        decode_bmp,
        decode_image,
        decode_pnm,
        encode_bmp,
    )

    # 24-bit roundtrip at a width whose 3w is NOT 4-aligned (stride pad)
    rng = np.random.Generator(np.random.Philox(3))
    pix = rng.integers(0, 256, (7, 5), dtype=np.uint8)
    gray, w, h = decode_image(encode_bmp(pix))
    assert (w, h) == (5, 7) and np.array_equal(gray, pix)

    # gray pixels through the 24-bit luma: (299p+587p+114p)//1000 == p
    ramp = np.arange(256, dtype=np.uint8).reshape(16, 16)
    g2, _, _ = decode_bmp(encode_bmp(ramp))
    assert np.array_equal(g2, ramp)

    # 8-bit paletted, top-down (negative height), identity-gray palette
    w8, h8 = 6, 3  # stride 8 → 2 pad bytes/row
    idx = np.arange(w8 * h8, dtype=np.uint8).reshape(h8, w8) * 10
    pal = b"".join(struct.pack("<BBBB", v, v, v, 0) for v in range(256))
    stride = (w8 + 3) & ~3
    rows = np.zeros((h8, stride), np.uint8)
    rows[:, :w8] = idx
    bmp8 = (struct.pack("<2sIHHI", b"BM", 0, 0, 0, 54 + 1024)
            + struct.pack("<IiiHHIIiiII", 40, w8, -h8, 1, 8, 0, 0, 0, 0, 0, 0)
            + pal + rows.tobytes())
    g3, gw, gh = decode_image(bmp8)
    assert (gw, gh) == (w8, h8) and np.array_equal(g3, idx)

    # PNM: P5 gray with a header comment; P6 rgb luma
    p5 = b"P5\n# comment\n4 2\n255\n" + bytes(range(8))
    g5, _, _ = decode_pnm(p5)
    assert np.array_equal(g5, np.arange(8, dtype=np.uint8).reshape(2, 4))
    p6 = b"P6\n2 1\n255\n" + bytes([255, 0, 0, 0, 0, 255])
    g6, _, _ = decode_image(p6)
    assert g6.tolist() == [[(299 * 255) // 1000, (114 * 255) // 1000]]

    # honest stubs: compressed BMP / JPEG raise loudly
    bad = bytearray(encode_bmp(pix))
    struct.pack_into("<I", bad, 30, 1)  # BI_RLE8
    with _pt.raises(NotImplementedError, match="compression"):
        decode_image(bytes(bad))
    with _pt.raises(NotImplementedError, match="stubbed"):
        decode_image(b"\xff\xd8\xff\xe0jpeg")


def test_text_ops_stay_in_codegen(spark, docs):
    """The text/dedup column ops must not appear as BatchEvalPython —
    everything stays JVM-side."""
    from imagor_spark.functions.text import (
        char_classes, doc_fingerprint, lang_id, quality_score, token_count,
    )

    stats = docs.select("doc_id", token_count(), *char_classes(), quality_score(),
                        lang_id(), doc_fingerprint())
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "BatchEval" not in plan, plan


def test_asof_join_strict_vs_inclusive(spark):
    import pandas as pd

    from imagor_spark.functions.asof import asof_join, asof_join_pandas

    l = spark.createDataFrame(pd.DataFrame({
        "k": [1, 1, 2],
        "ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 11:00", "2024-01-01 10:00"]),
        "eid": [10, 11, 12],
    }))
    r = spark.createDataFrame(pd.DataFrame({
        "k": [1, 1, 2],
        "ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 10:30", "2024-01-01 10:01"]),
        "rid": [100, 101, 102],
    }))
    incl = {x["eid"]: x["rid_right"] for x in asof_join(l, r, "k", "ts", ["rid"], strict=False).collect()}
    strict = {x["eid"]: x["rid_right"] for x in asof_join(l, r, "k", "ts", ["rid"], strict=True).collect()}
    assert incl == {10: 100, 11: 101, 12: None}   # <=: equal ts matches
    assert strict == {10: None, 11: 101, 12: None}  # <: equal ts excluded
    # pandas variant agrees
    p_incl = {x["eid"]: x["rid_right"] for x in asof_join_pandas(l, r, "k", "ts", ["rid"], strict=False).collect()}
    assert p_incl == incl


def test_negotiate_rewrite(spark):
    import pandas as pd

    from imagor_spark.engine.negotiate import apply_auto_format

    df = spark.createDataFrame(pd.DataFrame({
        "ops": ["unsafe/fit-in/8000x0/a", "unsafe/filters:format(wav)/b", "unsafe/c"],
        "accept": ["audio/flac", "audio/flac", "text/html"],
        "channels": [1, 1, 1],
    }))
    out = {r["ops"]: r["negotiated"] for r in apply_auto_format(df, "accept", "channels").collect()}
    assert "unsafe/fit-in/8000x0/filters:format(flac)/a" in out  # rewritten
    assert "unsafe/filters:format(wav)/b" in out  # explicit format untouched
    assert "unsafe/c" in out  # wav target → untouched


def test_asof_match_is_row_atomic(spark):
    """If the matched (most recent) right row holds NULL in a column, that
    NULL must be emitted — not backfilled from an older right row
    (merge_asof / DuckDB ASOF parity)."""
    import datetime as dt

    from imagor_spark.functions.asof import asof_join

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    left = spark.createDataFrame([("k", t(10), 1)], "user_id string, ts timestamp, event_id int")
    right = spark.createDataFrame(
        [("k", t(1), 100, "old"), ("k", t(5), None, "new")],
        "user_id string, ts timestamp, click_eid int, tag string",
    )
    out = asof_join(left, right, key="user_id", ts="ts",
                    right_cols=["click_eid", "tag"]).first()
    assert out["tag_right"] == "new"
    assert out["click_eid_right"] is None  # NOT 100 from the older row


def test_fused_minhash_matches_exploded(spark, docs):
    """The per-row higher-order-function signature (scale path) must be
    bit-identical to the explode+groupBy twin."""
    from imagor_spark.functions.dedup import (
        minhash_signatures,
        minhash_signatures_fused,
        shingles,
    )

    a = [tuple(r) for r in minhash_signatures_fused(docs, "text", k=3, n_hashes=4)
         .orderBy("doc_id").collect()]
    b = [tuple(r) for r in minhash_signatures(shingles(docs, "text", k=3), n_hashes=4)
         .orderBy("doc_id").collect()]
    assert a == b and len(a) > 0


def test_simhash_matches_python_reference(spark):
    import hashlib

    from imagor_spark.functions.dedup import simhash

    df = spark.createDataFrame(
        [(1, "alpha beta  beta gamma"), (2, "Zed")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r["simhash"] for r in simhash(df, "text", bits=32).collect()}

    def ref(tokens):
        votes = [0] * 32
        for t in tokens:
            h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            for b in range(32):
                votes[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(32) if votes[b] > 0)

    assert rows[1] == ref({"alpha", "beta", "gamma"})
    assert rows[2] == ref({"zed"})
