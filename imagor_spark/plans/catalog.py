"""Extended query catalog: training-pipeline operators (text, dedup,
similarity, multimodal) + streaming-window parity queries, each with a
DuckDB oracle where ANSI-SQL can express the semantics.

Regex-dialect notes (cost a verification round to learn):
  * DuckDB ``regexp_replace`` is first-match unless the 'g' flag is given;
    Spark's replaces all — every oracle uses 'g'.
  * Spark ``size(split(s, p))`` counts trailing empties differently from
    DuckDB ``len(regexp_split_to_array)`` only for trailing separators —
    inputs here are trimmed first.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.docs_clips import ORACLE_DERIVED_SQL


# ------------------------------------------------------------------- text


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import (
        char_classes,
        doc_fingerprint,
        quality_score,
        subword_count,
        token_count,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        token_count(),
        subword_count(),
        *char_classes(),
        quality_score(),
        doc_fingerprint(),
    )


ORACLE_TEXT_STATS = r"""
SELECT
  doc_id,
  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
  len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+')) AS n_subwords,
  length(text) AS n_chars,
  length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS n_punct,
  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
  length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper,
  length(text) - length(regexp_replace(text, ' ', '', 'g')) AS n_spaces,
  round(
    (CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 0.4 ELSE 0.0 END)
    + (CASE WHEN length(regexp_replace(text, '[^\.,;:!\?]', '', 'g')) > 0 THEN 0.3 ELSE 0.0 END)
    + (CASE WHEN length(text) * 1.0 / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1)
            BETWEEN 3 AND 12 THEN 0.3 ELSE 0.0 END), 1) AS quality,
  md5(substring(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 64)) AS fingerprint
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import lang_id

    # 20 regexp splits per row — spread the single-file scan (see _docs_spread)
    docs = _docs_spread(spark, sf_dir)
    return (
        docs.select("doc_id", lang_id())
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang_pred")
    )


def _lang_hits_sql(lang: str, words: list[str]) -> str:
    terms = " + ".join(
        f"(len(regexp_split_to_array(lower(text), '\\b{w}\\b')) - 1)" for w in words
    )
    return f"({terms})"


def oracle_lang_id() -> str:
    from ..functions.text import STOPWORDS

    hits = {lang: _lang_hits_sql(lang, ws) for lang, ws in STOPWORDS.items()}
    best = "greatest(" + ", ".join(hits.values()) + ")"
    # mirror the Spark chained-when tie-break: first language in dict order
    # with hits == best wins
    case = "CASE "
    for lang in STOPWORDS:
        case += f"WHEN {hits[lang]} = best AND best > 0 THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
    WITH scored AS (SELECT doc_id, {best} AS best, text FROM documents)
    SELECT {case} AS lang_pred, COUNT(*) AS n_docs
    FROM scored GROUP BY 1 ORDER BY 1
    """


# ------------------------------------------------------------------ dedup


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan, spread across cores: the testdata is ONE small file
    (one input split), so the per-row signature math would otherwise run on
    a single task. At real scale the table has many splits and this
    repartition is unnecessary — it exists to parallelize CPU-bound per-row
    work over a tiny input, and shuffles only ~MBs of text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.repartition(spark.sparkContext.defaultParallelism)


# session-scoped share of the fused signature lineage: minhash_signatures,
# lsh_candidates and jaccard_verify all consume the SAME persisted signature
# table instead of re-deriving it from raw text per query (the signature
# projection is the dominant cost of the dedup plane). Keyed by
# applicationId; entries from stopped sessions are evicted-and-unpersisted
# on access (SessionFrameCache) so a long-lived driver never leaks lineages.
from ..engine.session import SessionFrameCache

_SIG_CACHE = SessionFrameCache()


def _shared_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import minhash_signatures_fused

    return _SIG_CACHE.get_or_create(
        spark,
        f"sig:{sf_dir}",
        lambda: minhash_signatures_fused(
            _docs_spread(spark, sf_dir), "text", k=3, n_hashes=8
        ),
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_signatures(spark, sf_dir)


ORACLE_MINHASH = r"""
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(toks[i : i + 2], ' ') AS shingle
  FROM norm, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i)
  WHERE length(array_to_string(toks[i : i + 2], ' ')) > 0
)
SELECT doc_id,
       min(md5(shingle || '#0')) AS h0, min(md5(shingle || '#1')) AS h1,
       min(md5(shingle || '#2')) AS h2, min(md5(shingle || '#3')) AS h3,
       min(md5(shingle || '#4')) AS h4, min(md5(shingle || '#5')) AS h5,
       min(md5(shingle || '#6')) AS h6, min(md5(shingle || '#7')) AS h7
FROM sh GROUP BY doc_id
"""


def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import lsh_candidate_pairs

    sig = _shared_signatures(spark, sf_dir)
    return lsh_candidate_pairs(sig, n_hashes=8, bands=4).orderBy("doc_a", "doc_b")


ORACLE_LSH = r"""
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i : i + 2], ' ') AS shingle
  FROM norm, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i)
  WHERE length(array_to_string(toks[i : i + 2], ' ')) > 0
), sig AS (
  SELECT doc_id,
         min(md5(shingle || '#0')) AS h0, min(md5(shingle || '#1')) AS h1,
         min(md5(shingle || '#2')) AS h2, min(md5(shingle || '#3')) AS h3,
         min(md5(shingle || '#4')) AS h4, min(md5(shingle || '#5')) AS h5,
         min(md5(shingle || '#6')) AS h6, min(md5(shingle || '#7')) AS h7
  FROM sh GROUP BY doc_id
), banded AS (
  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bucket FROM sig
  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b USING (band, bucket)
WHERE a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


def q_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH → exact-Jaccard verification stage (the candidate-rerank step of
    the dedup plane): every banded-LSH candidate pair gets its exact
    k-shingle Jaccard via per-pair array intersection (r6: replaces the
    exploded shingle equi-join — same values, ~half the jobs/stages, no
    persisted shingle table). Emitted as ppm (floor of ×1e6) so both
    engines compare integers, no float rounding ties."""
    from ..functions.dedup import jaccard_pairs_arrays, lsh_candidate_pairs

    docs = _docs_spread(spark, sf_dir)
    sig = _shared_signatures(spark, sf_dir)
    pairs = lsh_candidate_pairs(sig, n_hashes=8, bands=4)
    out = jaccard_pairs_arrays(docs, pairs, "text", k=3)
    denom = F.col("size_a") + F.col("size_b") - F.col("n_inter")
    return (
        out.select(
            "doc_a",
            "doc_b",
            "n_inter",
            "size_a",
            "size_b",
            F.floor(F.col("n_inter") * F.lit(1e6) / denom).cast("long").alias("jaccard_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


ORACLE_JACCARD = r"""
WITH norm AS (
  SELECT doc_id,
         regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i : i + 2], ' ') AS shingle
  FROM norm, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i)
  WHERE length(array_to_string(toks[i : i + 2], ' ')) > 0
), sig AS (
  SELECT doc_id,
         min(md5(shingle || '#0')) AS h0, min(md5(shingle || '#1')) AS h1,
         min(md5(shingle || '#2')) AS h2, min(md5(shingle || '#3')) AS h3,
         min(md5(shingle || '#4')) AS h4, min(md5(shingle || '#5')) AS h5,
         min(md5(shingle || '#6')) AS h6, min(md5(shingle || '#7')) AS h7
  FROM sh GROUP BY doc_id
), banded AS (
  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bucket FROM sig
  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY 1
), inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.doc_a
  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.n_inter, za.c AS size_a, zb.c AS size_b,
       CAST(FLOOR(i.n_inter * 1e6 / (za.c + zb.c - i.n_inter)) AS BIGINT) AS jaccard_ppm
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
ORDER BY doc_a, doc_b
"""


def q_dedup_fingerprint_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup bucketing demonstrator: group docs by a 2-hex-char
    fingerprint bucket (the testdata has no true duplicates)."""
    from ..functions.text import doc_fingerprint

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(F.substring(doc_fingerprint(), 1, 2).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("bucket")
    )


ORACLE_FP_BUCKETS = r"""
SELECT substring(md5(substring(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 64)), 1, 2) AS bucket,
       COUNT(*) AS n_docs
FROM documents GROUP BY 1 ORDER BY 1
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import simhash

    return simhash(_docs_spread(spark, sf_dir), "text", bits=32)


ORACLE_SIMHASH = r"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(
    regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')
  ) AS tok
  FROM documents
), hashed AS (
  SELECT doc_id, tok, md5(tok) AS h FROM toks WHERE length(tok) > 0
), bits AS (
  SELECT doc_id, b.bit,
    ((strpos('0123456789abcdef', substring(h, 8 - (b.bit // 4), 1)) - 1) >> (b.bit % 4)) & 1 AS bitval
  FROM hashed, LATERAL (SELECT unnest(generate_series(0, 31)) AS bit) b
), votes AS (
  SELECT doc_id, bit, SUM(CASE WHEN bitval = 1 THEN 1 ELSE -1 END) AS v
  FROM bits GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


# -------------------------------------------------------------- similarity


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs vec_id=0's embedding; returns ids+rank
    (scores dropped: float op order differs across engines)."""
    from ..functions.similarity import brute_force_topk

    from pyspark.sql import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    top = brute_force_topk(emb.filter(F.col("vec_id") != 0), list(qvec), k=10)
    return top.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cos_sim"), F.asc("vec_id")))
        .alias("rank"),
    )


ORACLE_SIM_TOPK = """
SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
FROM (
  SELECT vec_id,
         round(list_cosine_similarity(embedding,
               (SELECT embedding FROM embeddings WHERE vec_id = 0)), 6) AS cos
  FROM embeddings WHERE vec_id != 0
) ORDER BY cos DESC, vec_id ASC LIMIT 10
"""


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane-LSH bucket join +
    exact rerank; per-bucket pair counts above threshold. The oracle
    replicates the md5-deterministic hyperplanes as SQL array literals, so
    the bucket assignment AND the cosine rerank are engine-portable."""
    from ..functions.similarity import embedding_near_dups, parquet_row_count

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # guard row count from parquet footers (driver-side metadata, zero
    # Spark jobs) — the r3 eager df.count() was a full scan per call
    pairs = embedding_near_dups(
        emb, dim=64, threshold=0.2, n_planes=4,
        n_rows=parquet_row_count(f"{sf_dir}/embeddings.parquet"),
    )
    # compare id PAIRS only: raw cosines differ between engines at ~1e-6
    # (float32 inputs, different summation order); the 0.2 threshold has a
    # verified 3e-5 margin at sf0.01 so the membership SET is engine-stable
    return pairs.select("id_a", "id_b").orderBy("id_a", "id_b")


def oracle_embedding_near_dups() -> str:
    from ..functions.similarity import _hyperplane

    planes = [_hyperplane(64, s) for s in range(4)]
    lits = ", ".join(
        "[" + ", ".join(f"{v!r}" for v in p) + "]::DOUBLE[]" for p in planes
    )
    bits = " || ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], p[{i + 1}]) >= 0 "
        f"THEN '1' ELSE '0' END)"
        for i in range(4)
    )
    return f"""
    WITH planes AS (SELECT [{lits}] AS p),
    bucketed AS (
      SELECT vec_id, embedding, {bits} AS bucket
      FROM embeddings, planes
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bucketed a JOIN bucketed b USING (bucket)
    WHERE a.vec_id < b.vec_id
      AND round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.2
    ORDER BY id_a, id_b
    """


def q_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse assignment with the first 4 embeddings as centroids;
    per-cell population counts."""
    from ..functions.similarity import ivf_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = [list(r["embedding"]) for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()]
    return (
        ivf_assign(emb, cents)
        .groupBy("ivf_cell")
        .agg(F.count("*").alias("n_vectors"))
        .orderBy("ivf_cell")
    )


# session-scoped memo of the trained quantizer: `ivf_train` and
# `ivf_search` train the IDENTICAL quantizer (k=4, 3 iters, scale 1000,
# deterministic md5 init) — the same lineage-sharing discipline as
# `_SIG_CACHE`/`_AUDIO_CACHE`, holding k×dim ints instead of a persisted
# frame. Keyed by applicationId so a new session always retrains from the
# parquet inputs; whichever query runs first pays the training.
_IVF_QUANTIZER_MEMO: dict[tuple[str, str], tuple[int, list[list[int]]]] = {}


def _trained_quantizer(spark: SparkSession, sf_dir: str) -> tuple[int, list[list[int]]]:
    from ..functions.similarity import kmeans_train_quantized

    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _IVF_QUANTIZER_MEMO.get(key)
    if hit is None:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        dim = len(emb.select("embedding").first()[0])
        cents = kmeans_train_quantized(emb, k=4, dim=dim, n_iters=3)
        _IVF_QUANTIZER_MEMO.clear()  # single-entry bound, evicts stale apps
        _IVF_QUANTIZER_MEMO[key] = hit = (dim, cents)
    return hit


def q_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-IVF plane, HASH-CHECKED: distributed Lloyd's k-means on the
    quantized integer lattice (md5-ordered init, posexplode floor-division
    centroid update — every step exact integer arithmetic), then per-cell
    populations of the TRAINED quantizer. The quantization erases the r3
    "iterative float algorithm → rows-only" exemption: the DuckDB oracle
    replays all 3 training iterations unrolled as CTEs and must match
    bit-for-bit."""
    from ..functions.similarity import ivf_assign_quantized, quantized_vec

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _dim, cents = _trained_quantizer(spark, sf_dir)
    q = emb.select("vec_id", quantized_vec("embedding").alias("qvec"))
    return (
        ivf_assign_quantized(q, cents)
        .groupBy("ivf_cell")
        .agg(F.count("*").alias("n_vectors"))
        .orderBy("ivf_cell")
    )


def _ivf_train_ctes(k: int, dim: int, n_iters: int, scale: int) -> list[str]:
    """Shared unrolled-Lloyd's CTE chain for DuckDB: quantize → md5 init →
    n_iters × (integer-L2 argmin assign + floor-division centroid update
    with empty-cell fallback) → final assign. Exact integer arithmetic
    throughout. Leaves ``c{n_iters}`` = trained centroids and
    ``b{n_iters+1}`` = final cell assignment for the query on top."""
    ctes = [
        # (vec_id, pos, val) on the integer lattice; CAST to DOUBLE first so
        # the multiply is double-precision like Spark's (FLOAT*1000 in
        # DuckDB would stay float32 and floor differently)
        f"""q AS (
      SELECT vec_id, i.i AS pos,
             CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * {scale}) AS BIGINT) AS val
      FROM embeddings, (SELECT UNNEST(generate_series(1, {dim})) AS i) i
    )""",
        f"""seeds AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      FROM embeddings
      QUALIFY cid < {k}
    )""",
        """c0 AS (
      SELECT s.cid, q.pos, q.val FROM seeds s JOIN q ON q.vec_id = s.vec_id
    )""",
    ]
    for it in range(1, n_iters + 1):
        prev = f"c{it - 1}"
        ctes.append(
            f"""a{it} AS (
      SELECT q.vec_id, c.cid, SUM((q.val - c.val) * (q.val - c.val)) AS d
      FROM q JOIN {prev} c ON c.pos = q.pos
      GROUP BY q.vec_id, c.cid
    )"""
        )
        ctes.append(
            f"""b{it} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rk
        FROM a{it}
      ) WHERE rk = 1
    )"""
        )
        ctes.append(
            f"""c{it} AS (
      SELECT p.cid, p.pos, COALESCE(u.val, p.val) AS val
      FROM {prev} p LEFT JOIN (
        SELECT b.cid, q.pos,
               CAST(FLOOR(CAST(SUM(q.val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS val
        FROM b{it} b JOIN q ON q.vec_id = b.vec_id
        GROUP BY b.cid, q.pos
      ) u ON u.cid = p.cid AND u.pos = p.pos
    )"""
        )
    fin = n_iters + 1
    ctes.append(
        f"""a{fin} AS (
      SELECT q.vec_id, c.cid, SUM((q.val - c.val) * (q.val - c.val)) AS d
      FROM q JOIN c{n_iters} c ON c.pos = q.pos
      GROUP BY q.vec_id, c.cid
    )"""
    )
    ctes.append(
        f"""b{fin} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rk
        FROM a{fin}
      ) WHERE rk = 1
    )"""
    )
    return ctes


def oracle_ivf_train(k: int = 4, dim: int = 64, n_iters: int = 3, scale: int = 1000) -> str:
    """Unrolled Lloyd's replay → per-cell populations of the trained
    quantizer. Hash-matches the Spark result bit-for-bit."""
    ctes = _ivf_train_ctes(k, dim, n_iters, scale)
    fin = n_iters + 1
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT cid AS ivf_cell, COUNT(*) AS n_vectors FROM b{fin} GROUP BY 1 ORDER BY 1"
    )


def oracle_ivf_search(
    k: int = 4,
    dim: int = 64,
    n_iters: int = 3,
    scale: int = 1000,
    qid: int = 0,
    nprobe: int = 2,
    topk: int = 10,
) -> str:
    """Search-side replay on the same trained quantizer: the query vector
    is row ``qid``'s quantized embedding; route to the ``nprobe`` nearest
    trained centroids (int64 L2, ties → lowest cell), exact-rerank within
    those cells, global top-k by (qdist, vec_id). Every step integer —
    hash-matches :func:`q_ivf_search`."""
    ctes = _ivf_train_ctes(k, dim, n_iters, scale)
    fin = n_iters + 1
    ctes.append(f"qv AS (SELECT pos, val FROM q WHERE vec_id = {qid})")
    ctes.append(
        f"""cd AS (
      SELECT c.cid, SUM((qv.val - c.val) * (qv.val - c.val)) AS d
      FROM c{n_iters} c JOIN qv ON qv.pos = c.pos GROUP BY c.cid
    )"""
    )
    ctes.append(
        f"""probe AS (
      SELECT cid FROM (
        SELECT cid, ROW_NUMBER() OVER (ORDER BY d ASC, cid ASC) AS rk FROM cd
      ) WHERE rk <= {nprobe}
    )"""
    )
    ctes.append(
        f"""cand AS (
      SELECT b.vec_id, b.cid FROM b{fin} b JOIN probe p ON p.cid = b.cid
    )"""
    )
    ctes.append(
        """rer AS (
      SELECT cand.vec_id, cand.cid AS ivf_cell,
             CAST(SUM((q.val - qv.val) * (q.val - qv.val)) AS BIGINT) AS qdist
      FROM cand JOIN q ON q.vec_id = cand.vec_id JOIN qv ON qv.pos = q.pos
      GROUP BY cand.vec_id, cand.cid
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT vec_id, ivf_cell, qdist FROM rer ORDER BY qdist ASC, vec_id ASC LIMIT {topk}"
    )


def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search through the TRAINED quantizer, HASH-CHECKED end-to-end:
    train (quantized Lloyd's, 3 iters) → route the query (row 0's
    quantized embedding) to the nprobe=2 nearest centroids → exact
    integer-L2 rerank within those cells → top-10. Exercises the full
    build+search loop the reference's result-cache never needed but any
    ANN user does; the oracle replays training unrolled then the search on
    top (`oracle_ivf_search`)."""
    from ..functions.similarity import ivf_search_quantized, quantized_vec

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _dim, cents = _trained_quantizer(spark, sf_dir)
    q = emb.select("vec_id", quantized_vec("embedding").alias("qvec"))
    query_qvec = [int(x) for x in q.filter(F.col("vec_id") == 0).first()["qvec"]]
    return ivf_search_quantized(q, cents, query_qvec, nprobe=2, k=10)


ORACLE_IVF = """
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 4
), dists AS (
  SELECT e.vec_id, c.cid,
         list_distance(e.embedding, c.cvec) AS d
  FROM embeddings e CROSS JOIN cents c
), best AS (
  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rk
  FROM dists
)
SELECT cid AS ivf_cell, COUNT(*) AS n_vectors FROM best WHERE rk = 1
GROUP BY 1 ORDER BY 1
"""


def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (north_rule names tumbling/sliding/session): 10-min
    windows sliding every 5 — each event lands in exactly two windows; the
    DuckDB oracle replicates the assignment with a 2-row series join."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes")
            .getField("start")
            .alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )


ORACLE_SLIDING = """
SELECT time_bucket(INTERVAL '5 minutes', ts) - (j * INTERVAL '5 minutes') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events CROSS JOIN (SELECT UNNEST(generate_series(0, 1)) AS j)
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ------------------------------------------------------- streaming parity

# scratch dirs (checkpoint + sink) per parity query: fresh per call (a
# reused checkpoint would make rep 2 of a bench a no-op resume, not a
# measurement), claimed with owner.pid stamps so a later bench's
# purge_stale_workdirs reclaims them once this process exits, and the
# PREVIOUS call's dirs for the same query are deleted eagerly so repeated
# reps leak no checkpoints
_PARITY_SCRATCH: dict[str, list[str]] = {}


def _bounded_agg_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build_agg,
    output_mode: str,
    keys: list[str],
    sentinel: tuple | None = None,
) -> DataFrame:
    """Run one REAL streaming aggregation (availableNow) over the
    docs-derived clip stream and return its result ordered by ``keys``.

    ``build_agg`` maps the source stream to the aggregate and sets its own
    watermark; ``sentinel`` is one extra clips row unioned in as a second
    file stream. A foreachBatch :class:`AggSink` commits each micro-batch
    (exactly-once log, fresh checkpoint per call) and the read side folds
    the log to current state, latest batch wins per ``keys`` group — the
    production shape: resumable, no complete-mode replay, no memory sink.

    Shuffle/state partitions follow INPUT SIZE (~64 MB per partition,
    floor 4; guide §2.2 'fewer, larger reduce partitions'), never the local
    core count: a few hundred KB of window state would otherwise pay the
    session's partition count in per-batch state commits, while at real
    scale the formula yields the session default again, which is restored
    once the stream drains. Results are partition-count-invariant."""
    from ..engine.workdirs import make_workdir
    from ..sources.clips import CLIPS_SCHEMA
    from ..sources.docs_clips import cached_clips, clips_cache_dir
    from ..streaming.sink import AggSink

    # share the one materialized derived-clips table (cached_clips) and
    # point the stream source at its parquet dir — the derivation is paid
    # once per sf_dir across ALL audio queries, batch and streaming
    cached_clips(spark, sf_dir)
    data_dir = os.path.join(clips_cache_dir(sf_dir), "data")
    for d in _PARITY_SCRATCH.pop(name, []):
        shutil.rmtree(d, ignore_errors=True)
    ck = make_workdir(f"imagor_ck_{name}_")
    out_dir = make_workdir(f"imagor_ck_{name}_sink_")
    _PARITY_SCRATCH[name] = [ck, out_dir]
    stream = spark.readStream.schema(CLIPS_SCHEMA).parquet(data_dir)
    if sentinel is not None:
        sentinel_dir = os.path.join(out_dir, "sentinel_src")
        spark.createDataFrame([sentinel], CLIPS_SCHEMA).write.parquet(sentinel_dir)
        stream = stream.unionByName(
            spark.readStream.schema(CLIPS_SCHEMA).parquet(sentinel_dir)
        )
    sink = AggSink(out_dir)
    n_bytes = 0
    for root, _dirs, files in os.walk(data_dir):
        for f in files:
            try:
                n_bytes += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(max(4, min(default, (n_bytes >> 26) + 1)))
    )
    try:
        q = (
            build_agg(stream)
            .writeStream.foreachBatch(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(default))
    return sink.read_latest(spark, keys).orderBy(*keys)


def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming TUMBLING windows: transform → 10-min windows × out-codec,
    UPDATE mode. The DuckDB oracle predicts the same rollup by arithmetic —
    a hash-checked STREAMING correctness gate."""
    from ..engine.transform import make_transform_fn, OUTPUT_SCHEMA

    fn = make_transform_fn("1234", allow_unsafe=True)

    def build_agg(stream: DataFrame) -> DataFrame:
        return (
            stream.mapInPandas(fn, schema=OUTPUT_SCHEMA)
            .withWatermark("ingest_ts", "5 minutes")
            .filter(F.col("status") == "ok")
            .groupBy(
                F.window("ingest_ts", "10 minutes").getField("start").alias("window_start"),
                F.col("codec").alias("out_codec"),
            )
            .agg(F.count("*").alias("n_clips"), F.sum("n_samples").alias("total_samples"))
        )

    return _bounded_agg_stream(
        spark, sf_dir, "tumbling", build_agg, "update", ["window_start", "out_codec"]
    )


ORACLE_STREAM_TUMBLING = f"""
SELECT time_bucket(INTERVAL '10 minutes', TIMESTAMP '2026-01-01 00:00:00'
         + (CAST(SUBSTR(clip_id, 4) AS BIGINT) % 3600) * INTERVAL 1 SECOND) AS window_start,
       out_codec,
       COUNT(*) AS n_clips,
       CAST(SUM(out_n_samples) AS BIGINT) AS total_samples
FROM ({ORACLE_DERIVED_SQL}) derived
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SLIDING windows: 10-min windows every 5 (each clip in
    exactly two) × codec, UPDATE mode — completes the north_rule window
    triple (tumbling/session/sliding) as hash-checked STREAMING gates."""

    def build_agg(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ingest_ts", "5 minutes")
            .groupBy(
                F.window("ingest_ts", "10 minutes", "5 minutes")
                .getField("start")
                .alias("window_start"),
                "codec",
            )
            .agg(F.count("*").alias("n_clips"))
        )

    return _bounded_agg_stream(
        spark, sf_dir, "sliding", build_agg, "update", ["window_start", "codec"]
    )


ORACLE_STREAM_SLIDING = """
WITH base AS (
  SELECT doc_id,
    CASE WHEN doc_id % 20 < 14 THEN 'wav'
         WHEN doc_id % 20 < 19 THEN 'flac' ELSE 'ogg' END AS codec,
    TIMESTAMP '2026-01-01 00:00:00' + (doc_id % 3600) * INTERVAL 1 SECOND AS ts
  FROM documents
)
SELECT time_bucket(INTERVAL '5 minutes', ts) - (j * INTERVAL '5 minutes') AS window_start,
       codec, COUNT(*) AS n_clips
FROM base CROSS JOIN (SELECT UNNEST(generate_series(0, 1)) AS j)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION windows: ``session_window(ingest_ts, 10s)`` ×
    codec. The derived ingest pattern makes sessions analytically
    predictable — wav covers 14 consecutive seconds per 20 (6 s gaps < 10 s
    merge into ONE session), flac 5-second runs every 20 (15 s gaps split),
    ogg single seconds every 20 (19 s gaps → singletons) — so the DuckDB
    oracle replays the session assignment with lag/cumsum arithmetic and
    the result is hash-checked: the streaming twin of the batch
    ``events_sessionize`` gate.

    APPEND mode (the only mode Spark allows for session-window aggregation
    — each CLOSED session emits exactly once). A session only closes when
    the event-time watermark passes its end, so a bounded input's tail
    sessions would sit in state forever; the stream unions a far-future
    SENTINEL row (an event-time heartbeat, the standard flush idiom for
    bounded replays) that advances the watermark past every real session's
    end, then filters the sentinel's own codec out of the result."""
    import datetime

    # real ingest_ts spans [base, base+3599 s]; sentinel at base+4000 s with
    # a 5-minute watermark delay puts the watermark at base+3700 s — past
    # every real session end (≤ base+3609 s) but not its own
    sentinel = (
        "__sentinel__", b"", 8000, 0, "__hb__", "",
        datetime.datetime(2026, 1, 1, 0, 0, 0) + datetime.timedelta(seconds=4000),
        "unsafe/__sentinel__",
    )

    # NO codec filter inside the streaming query: a predicate on a grouping
    # column gets pushed below the aggregate AND below the EventTimeWatermark
    # node, pruning the sentinel before it can advance the watermark
    # (measured: watermark stuck at real-max − delay, 33 sessions unflushed).
    # It is also unnecessary — the sentinel's own session never closes, so
    # append mode can never emit it; the read side filters as belt-and-braces.
    def build_agg(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ingest_ts", "5 minutes")
            .groupBy(F.session_window("ingest_ts", "10 seconds").alias("sw"), "codec")
            .agg(F.count("*").alias("n_clips"))
            .select(
                "codec",
                F.col("sw").getField("start").alias("session_start"),
                "n_clips",
            )
        )

    return _bounded_agg_stream(
        spark, sf_dir, "session", build_agg, "append", ["codec", "session_start"],
        sentinel=sentinel,
    ).filter(F.col("codec") != "__hb__")


ORACLE_STREAM_SESSION = """
WITH base AS (
  SELECT doc_id,
    CASE WHEN doc_id % 20 < 14 THEN 'wav'
         WHEN doc_id % 20 < 19 THEN 'flac' ELSE 'ogg' END AS codec,
    TIMESTAMP '2026-01-01 00:00:00' + (doc_id % 3600) * INTERVAL 1 SECOND AS ts
  FROM documents
), marked AS (
  SELECT codec, ts,
    CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY codec ORDER BY ts)) >= 10
         THEN 1 ELSE 0 END AS new_sess
  FROM base
), sess AS (
  SELECT codec, ts,
    SUM(new_sess) OVER (PARTITION BY codec ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT codec, MIN(ts) AS session_start, COUNT(*) AS n_clips
FROM sess GROUP BY codec, sid ORDER BY codec, session_start
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization over events per user (lag+cumsum; gap 60 s)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # double epoch (fractional seconds) — truncating to long would disagree
    # with DuckDB's epoch() on sub-second timestamps; TIMESTAMP_NTZ needs an
    # intermediate cast to TIMESTAMP first (session tz is pinned UTC)
    ep = F.col("ts").cast("timestamp").cast("double")
    gap = F.when(ep - F.lag(ep).over(w) > 60, 1).otherwise(0)
    sess = ev.select("user_id", "ts", "event_id").withColumn(
        "session_id", F.sum(gap).over(w)
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
        .groupBy("n_events")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy("n_events")
    )


ORACLE_SESSIONIZE = """
WITH marked AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 60
         THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
), grp AS (
  SELECT user_id, session_id, COUNT(*) AS n_events FROM sess GROUP BY 1, 2
)
SELECT n_events, COUNT(*) AS n_sessions FROM grp GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------------------------- multimodal


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing demonstrator: fake image containers derived
    from doc_ids → decode (stub) → features. Rows-only (RNG not in SQL)."""
    from ..functions.multimodal import encode_fake_image, image_features

    docs = _docs_spread(spark, sf_dir).select("doc_id")

    def gen(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 32 + d % 64, 32 + (d * 7) % 64
                rows.append(
                    {
                        "media_id": f"img{d}",
                        "bytes": encode_fake_image(f"img{d}", w, h),
                        "width": w,
                        "height": h,
                        "fmt": "fimg",
                        "meta": "",
                    }
                )
            yield pd.DataFrame(rows)

    from ..functions.multimodal import IMAGE_SCHEMA

    imgs = docs.mapInPandas(gen, schema=IMAGE_SCHEMA)
    return image_features(imgs).select("media_id", "width", "height", "n_pixels")


ORACLE_IMAGE_DIMS = """
SELECT 'img' || CAST(doc_id AS VARCHAR) AS media_id,
       32 + doc_id % 64 AS width,
       32 + (doc_id * 7) % 64 AS height,
       CAST((32 + doc_id % 64) * (32 + (doc_id * 7) % 64) AS BIGINT) AS n_pixels
FROM documents
"""


def q_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, hash-checked end-to-end: per doc a 24-bit BI_RGB
    bottom-up BMP whose gray pixels are the arithmetic sequence
    ``p(i) = (doc_id·31 + i·7) mod 256`` (row-major) → encode_bmp →
    decode_image (magic-sniffed BMP path: stride padding + vertical flip)
    → integer luma features. ``sum_luma`` is exact int64 (R=G=B=p ⇒
    luma=p), so DuckDB replays the whole decode arithmetically — the
    multimodal leg's first non-stub ● row (reference's decode plane ≅
    processor/vipsprocessor)."""
    from ..functions.multimodal import encode_bmp, image_features

    docs = _docs_spread(spark, sf_dir).select("doc_id")

    def gen(batches):
        import numpy as np

        from ..functions.multimodal import IMAGE_SCHEMA  # noqa: F401

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 16 + d % 16, 16 + (d * 5) % 16
                pix = ((d * 31 + np.arange(w * h, dtype=np.int64) * 7) % 256
                       ).astype(np.uint8).reshape(h, w)
                rows.append({"media_id": f"bmp{d}", "bytes": encode_bmp(pix),
                             "width": w, "height": h, "fmt": "bmp", "meta": ""})
            yield pd.DataFrame(rows)

    from ..functions.multimodal import IMAGE_SCHEMA

    imgs = docs.mapInPandas(gen, schema=IMAGE_SCHEMA)
    return image_features(imgs).select(
        "media_id", "width", "height", "n_pixels", "sum_luma")


ORACLE_BMP_DECODE = """
WITH dims AS (
  SELECT doc_id, 16 + doc_id % 16 AS w, 16 + (doc_id * 5) % 16 AS h
  FROM documents
)
SELECT 'bmp' || CAST(doc_id AS VARCHAR) AS media_id,
       w AS width, h AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(SUM((doc_id * 31 + i * 7) % 256) AS BIGINT) AS sum_luma
FROM dims, LATERAL (SELECT UNNEST(range(0, w * h)) AS i)
GROUP BY doc_id, w, h
"""


def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling, HASH-CHECKED: per doc an FVID clip whose gray
    pixels are the arithmetic sequence ``p = (doc_id·13 + g·7) mod 256``
    over the GLOBAL pixel offset g = f·w·h + i → ``sample_frames`` takes
    every 2nd frame (strided view, no copy) → one exact-integer
    ``sum_luma`` row per sampled frame. DuckDB replays the sampling and the
    per-frame sums arithmetically — the frame-sample op a training pipeline
    runs over 10^9 clips, with the decode honest-stubbed for real MP4."""
    from ..functions.video import VIDEO_SCHEMA, frame_sample_features

    docs = _docs_spread(spark, sf_dir).select("doc_id")

    def gen(batches):
        import numpy as np

        from ..functions.video import _FVID_HDR, _FVID_MAGIC

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h, n = 8 + d % 8, 8 + (d * 3) % 8, 4 + d % 5
                pix = ((d * 13 + np.arange(n * h * w, dtype=np.int64) * 7) % 256
                       ).astype(np.uint8)
                rows.append({
                    "media_id": f"vid{d}",
                    "bytes": _FVID_HDR.pack(_FVID_MAGIC, w, h, n, 10) + pix.tobytes(),
                    "width": w, "height": h, "n_frames": n, "fps": 10,
                    "fmt": "fvid",
                })
            yield pd.DataFrame(rows)

    vids = docs.mapInPandas(gen, schema=VIDEO_SCHEMA)
    return frame_sample_features(vids, every_n=2).select(
        "media_id", "frame_idx", "width", "height", "sum_luma")


ORACLE_VIDEO_FRAME_SAMPLE = """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 8 AS w, 8 + (doc_id * 3) % 8 AS h,
         4 + doc_id % 5 AS n
  FROM documents
), frames AS (
  SELECT doc_id, w, h, f
  FROM dims, LATERAL (SELECT UNNEST(range(0, n)) AS f)
  WHERE f % 2 = 0
)
SELECT 'vid' || CAST(doc_id AS VARCHAR) AS media_id,
       CAST(f AS INTEGER) AS frame_idx,
       w AS width, h AS height,
       CAST(SUM((doc_id * 13 + (f * w * h + i) * 7) % 256) AS BIGINT) AS sum_luma
FROM frames, LATERAL (SELECT UNNEST(range(0, w * h)) AS i)
GROUP BY doc_id, f, w, h
"""


# -------------------------------------------------------- request plane


def q_params_debug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``params/`` debug endpoint analogue (imagor.go:204-209): parse a
    constructed ops path, return the parsed fields — oracle reconstructs
    them arithmetically, pinning the parser at data scale."""
    from ..imagorpath import parse

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    ops = docs.withColumn(
        "ops_path",
        F.concat(
            F.lit("meta/trim/100x0:"),
            (200 + F.col("doc_id") % 500).cast("string"),
            F.lit("x0/fit-in/-"),
            (8000 + F.col("doc_id") % 8).cast("string"),
            F.lit("x0/left/smart/filters:gain(5):fade("),
            (F.col("doc_id") % 90).cast("string"),
            F.lit(")/clip"),
            F.col("doc_id").cast("string"),
        ),
    )

    @F.pandas_udf(
        "meta boolean, trim boolean, crop_left double, crop_right double, "
        "fit_in boolean, h_flip boolean, width int, h_align string, "
        "smart boolean, n_filters int, image string"
    )
    def parse_fields(s: pd.Series) -> pd.DataFrame:
        rows = []
        for x in s:
            p = parse(x)
            rows.append(
                {
                    "meta": p.meta,
                    "trim": p.trim,
                    "crop_left": p.crop_left,
                    "crop_right": p.crop_right,
                    "fit_in": p.fit_in,
                    "h_flip": p.h_flip,
                    "width": p.width,
                    "h_align": p.h_align,
                    "smart": p.smart,
                    "n_filters": len(p.filters),
                    "image": p.image,
                }
            )
        return pd.DataFrame(rows)

    return ops.select("doc_id", parse_fields("ops_path").alias("p")).select(
        "doc_id", "p.*"
    )


ORACLE_PARAMS_DEBUG = """
SELECT doc_id,
       TRUE AS meta, TRUE AS trim,
       100.0 AS crop_left,
       CAST(200 + doc_id % 500 AS DOUBLE) AS crop_right,
       TRUE AS fit_in, TRUE AS h_flip,
       CAST(8000 + doc_id % 8 AS INT) AS width,
       'left' AS h_align, TRUE AS smart,
       2 AS n_filters,
       'clip' || CAST(doc_id AS VARCHAR) AS image
FROM documents
"""


def q_cache_bypass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HasCacheBypass predicate over the docs-derived ops mix
    (params.go:87-106): crop templates bypass the decoded-source cache."""
    from ..imagorpath import has_cache_bypass, parse
    from ..sources.docs_clips import fields_for

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    @F.pandas_udf("boolean")
    def bypass(doc_id: pd.Series) -> pd.Series:
        return doc_id.map(lambda d: has_cache_bypass(parse(fields_for(int(d))[3])))

    return (
        docs.select((F.col("doc_id") % 8).alias("tmpl"), bypass("doc_id").alias("bypass"))
        .groupBy("tmpl", "bypass")
        .agg(F.count("*").alias("n"))
        .orderBy("tmpl", "bypass")
    )


ORACLE_CACHE_BYPASS = """
SELECT doc_id % 8 AS tmpl,
       (doc_id % 8) IN (2, 3) AS bypass,
       COUNT(*) AS n
FROM documents GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_auto_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content negotiation rewrite (imagor.go:340-376): per-consumer accept
    header → negotiated codec column + ops rewrite; counts by outcome."""
    from ..engine.negotiate import apply_auto_format

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    reqs = docs.select(
        "doc_id",
        F.concat(F.lit("unsafe/fit-in/16000x0/clip"), F.col("doc_id").cast("string")).alias("ops"),
        F.when(F.col("doc_id") % 4 == 0, "audio/flac,audio/wav")
        .when(F.col("doc_id") % 4 == 1, "audio/ogg")
        .when(F.col("doc_id") % 4 == 2, "audio/*")
        .otherwise("text/html")
        .alias("accept"),
        (F.col("doc_id") % 3 + 1).cast("int").alias("channels"),
    )
    out = apply_auto_format(reqs, "accept", "channels")
    return (
        out.groupBy("negotiated", F.col("ops").rlike("format\\(").alias("rewritten"))
        .agg(F.count("*").alias("n"))
        .orderBy("negotiated", "rewritten")
    )


ORACLE_AUTO_FORMAT = """
WITH neg AS (
  SELECT doc_id,
    CASE
      WHEN doc_id % 4 = 2 THEN 'flac'             -- audio/* → best
      WHEN doc_id % 4 = 0 THEN 'flac'             -- explicit flac
      WHEN doc_id % 4 = 1 THEN                    -- ogg, but mono-only:
        CASE WHEN (doc_id % 3 + 1) > 1 THEN 'wav' ELSE 'ogg' END
      ELSE 'wav'
    END AS negotiated
  FROM documents
)
SELECT negotiated, negotiated != 'wav' AS rewritten, COUNT(*) AS n
FROM neg GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_audio_redact_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector + redact plane end-to-end: clips with known loud spans →
    redact(mute) → output RMS must drop; returns per-clip span counts and
    whether redaction silenced them (rows-only: detector spans depend on
    waveform content)."""
    from ..audio import codecs, kernels

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .filter(F.col("doc_id") < 100)
    )

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                sr = 8000
                quiet = np.zeros(sr // 2, dtype=np.float32)
                loud = 0.5 * np.sin(2 * np.pi * 440 * np.arange(sr) / sr).astype(np.float32)
                pcm = np.concatenate([quiet, loud, quiet])
                spans = kernels.detect_energy_spans(pcm, sr, threshold=0.1)
                red = kernels.redact_spans(pcm, sr, spans, "mute")
                rows.append(
                    {
                        "doc_id": d,
                        "n_spans": len(spans),
                        "silenced": bool(kernels.rms(red) < 0.01),
                    }
                )
            yield pd.DataFrame(rows)

    return docs.mapInPandas(gen, schema="doc_id long, n_spans int, silenced boolean")


ORACLE_REDACT = """
SELECT doc_id, 1 AS n_spans, TRUE AS silenced
FROM documents WHERE doc_id < 100 ORDER BY doc_id
"""


def q_audio_rejection_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rejection plane at data scale (imagor.go:290-322 + errors.go): a
    deterministic per-doc_id mix of valid-signed / tampered-signature /
    unsafe-denied / expired-signed ops runs through the REAL transform with
    the reference's default posture (signer configured, allow_unsafe=False).
    Rejects are quarantined before decode; the status rollup is pure doc_id
    arithmetic for the oracle — the hash-checked twin of the pytest
    quarantine tests."""
    from ..engine.transform import transform
    from ..imagorpath.signer import HMACSigner
    from ..sources.docs_clips import cached_clips

    clips = cached_clips(spark, sf_dir).drop("ops")
    keyed = clips.withColumn(
        "doc_id", F.regexp_replace("clip_id", "^doc", "").cast("long")
    ).filter(F.col("doc_id") < 2000)

    @F.pandas_udf("string")
    def mk_ops(doc_id: pd.Series) -> pd.Series:
        signer = HMACSigner("sha1", 0, "1234")

        def one(d) -> str:
            d = int(d)
            v = d % 5
            path = f"fit-in/16000x0/doc{d}"
            if v == 3:  # expired: valid signature, expire(1 ms epoch) passed
                path = f"fit-in/16000x0/filters:expire(1)/doc{d}"
            elif v == 4:  # valid signature, expire far in the future → ok
                path = f"fit-in/16000x0/filters:expire(4102444800000)/doc{d}"
            if v == 2:  # unsafe path while a signer is configured → denied
                return "unsafe/" + path
            sig = signer.sign(path)
            if v == 1:  # tampered signature
                sig = ("X" if sig[0] != "X" else "Y") + sig[1:]
            return sig + "/" + path

        return doc_id.map(one)

    ops_clips = keyed.withColumn("ops", mk_ops("doc_id")).drop("doc_id")
    res = transform(ops_clips, secret="1234", allow_unsafe=False)
    return res.groupBy("status").agg(F.count("*").alias("n_clips")).orderBy("status")


ORACLE_REJECTION = """
SELECT CASE doc_id % 5
         WHEN 1 THEN 'sig_mismatch'
         WHEN 2 THEN 'sig_mismatch'
         WHEN 3 THEN 'expired'
         ELSE 'ok'
       END AS status,
       COUNT(*) AS n_clips
FROM documents WHERE doc_id < 2000
GROUP BY 1 ORDER BY 1
"""


def q_admission_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission plane at data scale (CheckResolution processor.go:506-516
    + loader chain imagor.go:699-760): a deterministic per-doc_id mix of
    admitted / over-duration / over-rate / unknown-codec clips runs through
    the broadcast config join + the REAL transform; non-ok rows carry
    garbage payloads that would raise decode_error if the decoder ever
    touched them, so the hash-checked status rollup also proves the
    quarantine happens PRE-decode. Twin of `audio_rejection_mix` for the
    admission dimension."""
    from ..audio import codecs as _codecs
    from ..engine.config import params_config_df, resolve_with_config
    from ..engine.transform import transform

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .filter(F.col("doc_id") < 2000)
    )

    def gen(batches):
        import numpy as np

        sr = 8000
        pcm = (0.3 * np.sin(2 * np.pi * 440 * np.arange(sr // 10) / sr)).astype(
            "float32"
        )
        wav = _codecs.encode(pcm, sr, "wav")
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                v = d % 7
                rows.append(
                    {
                        "clip_id": f"doc{d}",
                        # quarantined rows get undecodable payloads
                        "bytes": wav if v not in (3, 5, 6) else b"RIFFxxxx" * 4,
                        "sr_hz": 400_000 if v == 6 else sr,
                        "dur_ms": 7_200_000 if v == 3 else 100,
                        "codec": "opus" if v == 5 else "wav",
                        "transcript": "",
                        "ingest_ts": pd.Timestamp("2026-01-01", tz="UTC"),
                        "ops": f"unsafe/fit-in/8000x0/doc{d}",
                    }
                )
            yield pd.DataFrame(rows)

    from ..sources.clips import CLIPS_SCHEMA

    clips = docs.mapInPandas(gen, schema=CLIPS_SCHEMA)
    resolved = resolve_with_config(clips, params_config_df(spark))
    res = transform(resolved, secret=None)
    return res.groupBy("status").agg(F.count("*").alias("n_clips")).orderBy("status")


ORACLE_ADMISSION = """
SELECT CASE
         WHEN doc_id % 7 IN (3, 6) THEN 'resolution_bomb'
         WHEN doc_id % 7 = 5 THEN 'not_found'
         ELSE 'ok'
       END AS status,
       COUNT(*) AS n_clips
FROM documents WHERE doc_id < 2000
GROUP BY 1 ORDER BY 1
"""


# ----------------------------------------------------- pivot / set ops


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: events per user × event_type as columns (SURVEY §2.6 — the
    reference has no set/pivot engine; Spark supplies it)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("user_id")
    )


ORACLE_EVENTS_PIVOT = """
SELECT user_id,
  CAST(COALESCE(SUM(CASE WHEN event_type='click'    THEN 1 END), 0) AS BIGINT) AS click,
  CAST(COALESCE(SUM(CASE WHEN event_type='error'    THEN 1 END), 0) AS BIGINT) AS error,
  CAST(COALESCE(SUM(CASE WHEN event_type='purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
  CAST(COALESCE(SUM(CASE WHEN event_type='signup'   THEN 1 END), 0) AS BIGINT) AS signup,
  CAST(COALESCE(SUM(CASE WHEN event_type='view'     THEN 1 END), 0) AS BIGINT) AS view
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: users who clicked EXCEPT purchasers, INTERSECT with
    error-reporters, UNION of signups (multi-loader coalesce analogue)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    def u(t):
        return ev.filter(F.col("event_type") == t).select("user_id").distinct()

    clicked_not_buying = u("click").subtract(u("purchase"))
    core = clicked_not_buying.intersect(u("error"))
    return core.union(u("signup")).distinct().orderBy("user_id")


ORACLE_SET_OPS = """
SELECT DISTINCT user_id FROM (
  (SELECT user_id FROM events WHERE event_type='click'
   EXCEPT SELECT user_id FROM events WHERE event_type='purchase')
  INTERSECT
  SELECT user_id FROM events WHERE event_type='error'
  UNION
  SELECT user_id FROM events WHERE event_type='signup'
) ORDER BY user_id
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube/rollup: revenue by (orderstatus, orderpriority) with subtotals."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "revenue", "n",
        )
        .orderBy("status", "priority")
    )


ORACLE_ROLLUP = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       COUNT(*) AS n
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


# ----------------------------------------------------------------- as-of


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: for every purchase event, the latest strictly
    prior click by the same user (union+window impl — one shuffle, no
    range explosion; oracle = DuckDB native ASOF JOIN)."""
    from ..functions.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_eid")
    )
    out = asof_join(purchases, clicks, key="user_id", ts="ts",
                    right_cols=["click_eid"], strict=True)
    return out.select(
        "event_id", F.coalesce(F.col("click_eid_right"), F.lit(-1)).alias("click_eid")
    )


ORACLE_ASOF = """
SELECT p.event_id, COALESCE(c.event_id, -1) AS click_eid
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND c.ts < p.ts
"""


def q_asof_join_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics via cogroup + pandas.merge_asof (must agree with the
    union+window implementation AND the DuckDB oracle)."""
    from ..functions.asof import asof_join_pandas

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_eid")
    )
    out = asof_join_pandas(purchases, clicks, key="user_id", ts="ts",
                           right_cols=["click_eid"], strict=True)
    return out.select(
        "event_id", F.coalesce(F.col("click_eid_right"), F.lit(-1)).alias("click_eid")
    )


def q_source_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loader/storage routing at data scale (s3routerloader router.go:41-150
    + httploader allowed-sources): synthetic source URLs keyed by doc_id are
    routed by prefix (first match wins) and gated by an allowlist; the
    (store × status) rollup is doc_id arithmetic. Pure codegen — zero joins
    on the stream side."""
    from ..sources.router import Route, resolve_sources

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    src = docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("cdn-a/media/"), F.col("doc_id")))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("cdn-b/media/"), F.col("doc_id")))
        .when(F.col("doc_id") % 4 == 2, F.concat(F.lit("uploads/raw/"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("evil.example/"), F.col("doc_id"))),
    )
    routes = [
        Route("cdn-a/", "store-a"),
        Route("cdn-b/", "store-b"),
        Route("uploads/", "store-uploads"),
        Route("evil.example/", "store-a"),  # routed but NOT allowed
    ]
    allowed = ["cdn-a/*", "cdn-b/*", "uploads/*"]
    out = resolve_sources(src, routes, allowed)
    return (
        out.groupBy("store", "source_status")
        .agg(F.count("*").alias("n"))
        .orderBy("store", "source_status")
    )


ORACLE_SOURCE_ROUTER = """
SELECT CASE doc_id % 4 WHEN 0 THEN 'store-a' WHEN 1 THEN 'store-b'
                       WHEN 2 THEN 'store-uploads' ELSE 'store-a' END AS store,
       CASE WHEN doc_id % 4 = 3 THEN 'source_blocked' ELSE 'ok' END AS source_status,
       COUNT(*) AS n
FROM documents
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_image_blend_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image() overlay plane at data scale (filteroverlay.go:15-64): clips
    rendered through the FULL pipeline with a nested-sub-pipeline overlay
    ``image(stretch/8000x250/beep,0,0,0,<blend>)`` under one of 4 blend
    modes; the rollup (blend × shapes) is doc_id arithmetic for the oracle,
    while the blend math itself is pinned by SNR pytests."""
    from ..engine.transform import transform
    from ..sources.clips import watermark_assets
    from ..audio import codecs as _codecs

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .filter(F.col("doc_id") < 400)
    )
    blends = ["over", "add", "multiply", "mask"]

    def gen(batches):
        import numpy as np

        sr, n = 8000, 4000  # 500 ms
        t = np.arange(n, dtype=np.float64) / sr
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                pcm = (0.4 * np.sin(2 * np.pi * (200 + d % 10 * 50) * t)).astype("float32")
                blend = blends[d % 4]
                rows.append(
                    {
                        "clip_id": f"doc{d}",
                        "bytes": _codecs.encode(pcm, sr, "wav"),
                        "sr_hz": sr,
                        "dur_ms": 500,
                        "codec": "wav",
                        "transcript": "",
                        "ingest_ts": pd.Timestamp("2026-01-01", tz="UTC"),
                        "ops": f"unsafe/filters:image(stretch/8000x250/beep,0,0,0,{blend})/doc{d}",
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    from ..sources.clips import CLIPS_SCHEMA

    clips = docs.mapInPandas(gen, schema=CLIPS_SCHEMA)
    res = transform(clips, secret=None, assets=watermark_assets())
    return (
        res.filter(res.status == "ok")
        .groupBy(F.regexp_extract("ops", r"0,0,0,(\w+)\)", 1).alias("blend"))
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("n_samples").alias("total_samples"),
        )
        .orderBy("blend")
    )


ORACLE_IMAGE_BLENDS = """
SELECT CASE doc_id % 4 WHEN 0 THEN 'over' WHEN 1 THEN 'add'
                       WHEN 2 THEN 'multiply' ELSE 'mask' END AS blend,
       COUNT(*) AS n_clips,
       CAST(COUNT(*) * 4000 AS BIGINT) AS total_samples
FROM documents WHERE doc_id < 400
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------- result cache


def q_result_cache_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result-cache load at data scale (imagor.go:403-408, loadResult
    :600-664): pretend the even-doc_id half of the derived clips is already
    committed (its result keys form the rendered index); the left-anti join
    must pass through EXACTLY the odd half. Survivor counts per ops template
    are pure doc_id arithmetic for the oracle. Scale shape: one hash
    shuffle of (key, small row) pairs — payloads are never decoded for
    cache hits."""
    from ..engine.transform import skip_rendered, with_result_key
    from ..sources.docs_clips import cached_clips

    clips = cached_clips(spark, sf_dir).select("clip_id", "ops")
    keyed = clips.withColumn(
        "doc_id", F.regexp_replace("clip_id", "^doc", "").cast("long")
    )
    rendered = with_result_key(keyed.filter(F.col("doc_id") % 2 == 0)).select(
        "result_key"
    )
    survivors = skip_rendered(keyed, rendered)
    return (
        survivors.groupBy((F.col("doc_id") % 8).alias("tmpl"))
        .agg(F.count("*").alias("n_clips"))
        .orderBy("tmpl")
    )


ORACLE_RESULT_CACHE = """
SELECT doc_id % 8 AS tmpl, COUNT(*) AS n_clips
FROM documents WHERE doc_id % 2 = 1
GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------------------------------ joins


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-10 (shuffle-join demo)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


ORACLE_Q3 = """
SELECT o_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_lines
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: 4-way join (customer⋈orders⋈lineitem + BROADCAST
    nation — the classic big-fact/small-dim mix), selective date + flag
    predicates pushed to both fact scans, agg, top-20. The plan Catalyst
    should pick: pushed filters, broadcast for the 25-row dim, shuffle
    joins only between the big sides."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_returnflag") == "R"
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    # revenue, exactly as the (frozen) DuckDB oracle rounds it — the r5
    # verdict's lone hash-fail was NOT the join but money rounding:
    #   * a double SUM is summation-order noise at the last ulp, and one
    #     sf0.01 group's exact sum is a perfect half-cent tie (…843.5950);
    #   * DuckDB's ROUND(double,2) rounds the true BINARY value
    #     (floor(x*100+0.5)/100: …59499999997 → .59), while Spark's Round
    #     re-reads the shortest decimal repr ("….595" → HALF_UP → .60).
    # Fix on the Spark side only: aggregate EXACT integer 1e-4 units
    # (price/discount are 2-dp values, so each product is an exact 4-dp
    # decimal), convert once to the nearest double — which is what a
    # correctly-rounded double sum (DuckDB's, verified at sf0.001/01/1)
    # produces — then apply DuckDB's bit-level rounding. Verified
    # bit-identical to the frozen oracle for every top-20 row at
    # sf0.001/sf0.01/sf0.1 (tools/q10_boundary_analysis.py). Revenues are
    # strictly positive, so the half-away-from-zero branch is floor-only.
    cents4 = F.sum(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100, 0).cast("long"))
    )
    revenue = (
        F.floor(cents4.cast("double") / F.lit(10000.0) * 100 + F.lit(0.5)).cast(
            "double"
        )
        / F.lit(100.0)
    ).alias("revenue")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(revenue, F.count("*").alias("n_items"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


ORACLE_Q10 = """
SELECT c_custkey, c_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_events_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed EXACT distinct-count (the result-cache-keying rollup shape
    from SURVEY §2.6 with a distinct aggregate): 15-min tumbling windows ×
    event_type, COUNT(DISTINCT user_id) + row count. Exact (not approx_*)
    so DuckDB hash-matches; at 100 TB the same plan holds — Spark expands
    the distinct into a two-phase partial/merge aggregate keyed by
    (window, type, user), both shuffles on the grouping keys."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.window("ts", "15 minutes").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("window_start", "event_type")
    )


ORACLE_EVENTS_DISTINCT = """
SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
       event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""


EXTRA_QUERIES = {
    "text_stats": q_text_stats,
    "lang_id": q_lang_id,
    "minhash_signatures": q_minhash_signatures,
    "lsh_candidates": q_lsh_candidates,
    "dedup_fp_buckets": q_dedup_fingerprint_buckets,
    "simhash": q_simhash,
    "similarity_topk": q_similarity_topk,
    "ivf_cells": q_ivf_cells,
    "ivf_train": q_ivf_train,
    "ivf_search": q_ivf_search,
    "events_sliding_window": q_events_sliding_window,
    "streaming_tumbling_parity": q_streaming_tumbling,
    "streaming_sliding_parity": q_streaming_sliding,
    "streaming_session_parity": q_streaming_session_window,
    "events_sessionize": q_events_sessionize,
    "image_features": q_image_features,
    "bmp_decode": q_bmp_decode,
    "video_frame_sample": q_video_frame_sample,
    "q3_shipping_priority": q3_shipping_priority,
    "q10_returned_items": q_q10_returned_items,
    "events_window_distinct": q_events_window_distinct,
    "params_debug": q_params_debug,
    "cache_bypass": q_cache_bypass,
    "auto_format": q_auto_format,
    "audio_redact_detect": q_audio_redact_detect,
    "audio_rejection_mix": q_audio_rejection_mix,
    "admission_mix": q_admission_mix,
    "asof_join": q_asof_join,
    "asof_join_pandas": q_asof_join_pandas,
    "result_cache_antijoin": q_result_cache_antijoin,
    "image_blend_modes": q_image_blend_modes,
    "source_router": q_source_router,
    "jaccard_verify": q_jaccard_verify,
    "embedding_near_dups": q_embedding_near_dups,
    "events_pivot": q_events_pivot,
    "set_ops": q_set_ops,
    "rollup_revenue": q_rollup_revenue,
}


def extra_oracles() -> dict[str, str]:
    return {
        "text_stats": ORACLE_TEXT_STATS,
        "lang_id": oracle_lang_id(),
        "minhash_signatures": ORACLE_MINHASH,
        "lsh_candidates": ORACLE_LSH,
        "dedup_fp_buckets": ORACLE_FP_BUCKETS,
        "simhash": ORACLE_SIMHASH,
        "similarity_topk": ORACLE_SIM_TOPK,
        "ivf_cells": ORACLE_IVF,
        "ivf_train": oracle_ivf_train(),
        "ivf_search": oracle_ivf_search(),
        "events_sliding_window": ORACLE_SLIDING,
        "streaming_tumbling_parity": ORACLE_STREAM_TUMBLING,
        "streaming_sliding_parity": ORACLE_STREAM_SLIDING,
        "streaming_session_parity": ORACLE_STREAM_SESSION,
        "events_sessionize": ORACLE_SESSIONIZE,
        "image_features": ORACLE_IMAGE_DIMS,
        "bmp_decode": ORACLE_BMP_DECODE,
        "video_frame_sample": ORACLE_VIDEO_FRAME_SAMPLE,
        "q3_shipping_priority": ORACLE_Q3,
        "q10_returned_items": ORACLE_Q10,
        "events_window_distinct": ORACLE_EVENTS_DISTINCT,
        "params_debug": ORACLE_PARAMS_DEBUG,
        "cache_bypass": ORACLE_CACHE_BYPASS,
        "auto_format": ORACLE_AUTO_FORMAT,
        "audio_redact_detect": ORACLE_REDACT,
        "audio_rejection_mix": ORACLE_REJECTION,
        "admission_mix": ORACLE_ADMISSION,
        "asof_join": ORACLE_ASOF,
        "asof_join_pandas": ORACLE_ASOF,
        "result_cache_antijoin": ORACLE_RESULT_CACHE,
        "image_blend_modes": ORACLE_IMAGE_BLENDS,
        "source_router": ORACLE_SOURCE_ROUTER,
        "jaccard_verify": ORACLE_JACCARD,
        "embedding_near_dups": oracle_embedding_near_dups(),
        "events_pivot": ORACLE_EVENTS_PIVOT,
        "set_ops": ORACLE_SET_OPS,
        "rollup_revenue": ORACLE_ROLLUP,
    }
