"""L-family embedding/ANN entries: brute-force and banded cosine search, IVF-PQ index lifecycle, covariance/drift, distributed k-means, semantic decontamination, SemDeDup, and the batch k-NN join. Split from llm.py (r10)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.functions import text as T
from datafusion_cyberpolka_eda_spark.operators import dedup as D
from datafusion_cyberpolka_eda_spark.operators import relational as REL
from datafusion_cyberpolka_eda_spark.operators import similarity as SIM
from datafusion_cyberpolka_eda_spark.registry import _round_cols, register, small_df
from datafusion_cyberpolka_eda_spark.sources.catalog import load_table, spread
from datafusion_cyberpolka_eda_spark.registry.llm_base import (  # noqa: F401
    _table_fingerprint,
)



@register(
    "l16_embedding_quantize_int8",
    """
    WITH e AS (
      SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS v FROM embeddings
    ),
    s AS (SELECT vec_id, MAX(ABS(v)) AS amax FROM e GROUP BY vec_id),
    q AS (
      SELECT e.vec_id, e.v,
             CAST(ROUND(e.v * 127.0 / s.amax) AS BIGINT) AS qv,
             127.0 / s.amax AS scale
      FROM e JOIN s USING (vec_id) WHERE s.amax > 0
    )
    SELECT vec_id,
           CAST(SUM(qv) AS BIGINT) AS q_sum,
           CAST(SUM(ABS(qv)) AS BIGINT) AS q_l1,
           CAST(MAX(ABS(qv)) AS BIGINT) AS q_max,
           ROUND(MAX(ABS(v - qv / scale)), 9) AS max_abs_err
    FROM q GROUP BY vec_id
    """,
)
def l16_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of embeddings (vector-search
    memory/bandwidth staple: 4x smaller vectors, ~127-level resolution):
    per vector, scale = 127/max|v|, q_i = round(v_i * scale). Pure per-row
    JVM array expressions — a linear map with no shuffle, embarrassingly
    parallel at any scale. Emits integer checksums of the quantized code
    (exact) plus the max dequantization error, all replayed bit-for-bit
    by the DuckDB oracle (max/integer sums are order-free, so no float
    accumulation ambiguity exists)."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    vd = F.transform("embedding", lambda x: x.cast("double"))
    amax = F.array_max(F.transform(vd, F.abs))
    rows = (
        emb.select("vec_id", vd.alias("v"), amax.alias("amax"))
        .filter(F.col("amax") > 0)
        .withColumn("scale", F.lit(127.0) / F.col("amax"))
    )
    qv = F.transform(
        "v", lambda x: F.round(x * F.lit(127.0) / F.col("amax")).cast("bigint")
    )
    rows = rows.withColumn("qv", qv)
    err = F.zip_with("v", "qv", lambda a, b: F.abs(a - b / F.col("scale")))
    lsum = lambda c: F.aggregate(c, F.lit(0).cast("bigint"), lambda acc, x: acc + x)  # noqa: E731
    return rows.select(
        "vec_id",
        lsum(F.col("qv")).alias("q_sum"),
        lsum(F.transform("qv", F.abs)).alias("q_l1"),
        F.array_max(F.transform("qv", F.abs)).alias("q_max"),
        F.round(F.array_max(err), 9).alias("max_abs_err"),
    )


_COSINE_TOPK_ORACLE = """
    WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id cid, embedding ce FROM embeddings),
    pairs AS (
      SELECT qid, cid,
        (SELECT SUM(CAST(a AS DOUBLE)*CAST(b AS DOUBLE)) FROM (SELECT UNNEST(qe) a, UNNEST(ce) b) z) dot,
        (SELECT SUM(CAST(a AS DOUBLE)*CAST(a AS DOUBLE)) FROM (SELECT UNNEST(qe) a) z) qq,
        (SELECT SUM(CAST(b AS DOUBLE)*CAST(b AS DOUBLE)) FROM (SELECT UNNEST(ce) b) z) cc
      FROM q, c WHERE qid != cid
    ),
    scored AS (
      SELECT qid AS query_id, cid AS candidate_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY ROUND(dot/(SQRT(qq)*SQRT(cc)), 6) DESC, cid ASC) AS BIGINT) AS rank,
             ROUND(dot/(SQRT(qq)*SQRT(cc)), 6) + 0 AS cosine
      FROM pairs
    )
    SELECT query_id, candidate_id, rank, cosine FROM scored WHERE rank <= 3
"""


@register("l7_cosine_topk", _COSINE_TOPK_ORACLE)
def l7_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search (exact ANN baseline):
    broadcast query side, one candidate scan, JVM-side zip_with dot
    product in double precision. Ties broken on (rounded cosine, id)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = SIM.cosine_topk(
        emb.filter(F.col("vec_id") < 5),
        emb,
        id_col="vec_id",
        vec_col="embedding",
        k=3,
    )
    return _round_cols(out.withColumn("rank", F.col("rank").cast("bigint")), ["cosine"])


@register(
    "l8_ann_lsh_neighbors",
    "SELECT CAST(0 AS BIGINT) AS query_id, TRUE AS recall_at_5_ge_60pct",
)
def l8_ann_lsh_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via trained random-projection LSH
    over L2-normalized embeddings (the similarity-search scale path).
    The trained model's projections are engine-specific RNG, so the
    neighbor rows themselves can't be value-hashed cross-engine; instead
    the registered output is the QUALITY GATE the index must pass —
    recall@5 vs the exact brute-force cosine top-5 (the l7 baseline)
    >= 60% — which the oracle asserts as a constant-true row (the l8c
    pattern). The raw neighbor lists stay covered by the recall asserts
    in tests/test_llm_ops.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    model, transformed = SIM.ann_lsh_model(emb, "vec_id", "embedding")
    query = transformed.filter(F.col("id") == 0).head()
    nn = model.approxNearestNeighbors(transformed, query["features"], 6)
    ann_ids = {r["id"] for r in nn.collect()} - {0}
    exact_ids = _ann_exact_top5(spark, sf_dir)[0]
    recall = len(ann_ids & exact_ids) / len(exact_ids)
    return small_df(
        spark,
        [(0, recall >= 0.6)],
        "query_id bigint, recall_at_5_ge_60pct boolean",
    )


@register(
    "l10_embedding_neardup",
    """
    WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
    e AS (SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS val,
                 generate_subscripts(embedding, 1) AS i FROM v),
    n AS (SELECT vec_id, SQRT(SUM(val * val)) AS nrm FROM e GROUP BY vec_id),
    u AS (SELECT e.vec_id, e.i, e.val / n.nrm AS uval FROM e JOIN n USING (vec_id)),
    c AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, vec_id AS cvid
          FROM (SELECT vec_id FROM v ORDER BY vec_id LIMIT 8)),
    cvec AS (SELECT c.cid, u.i, u.uval AS cval FROM c JOIN u ON u.vec_id = c.cvid),
    dots AS (SELECT u.vec_id, cv.cid, SUM(u.uval * cv.cval) AS d
             FROM u JOIN cvec cv USING (i) GROUP BY u.vec_id, cv.cid),
    cells AS (SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rk
                FROM dots) WHERE rk <= 4),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM cells a JOIN cells b USING (cid) WHERE a.vec_id < b.vec_id),
    pairdot AS (SELECT cand.id_a, cand.id_b, SUM(ua.uval * ub.uval) AS cosine
                FROM cand
                JOIN u ua ON ua.vec_id = cand.id_a
                JOIN u ub ON ub.vec_id = cand.id_b AND ub.i = ua.i
                GROUP BY cand.id_a, cand.id_b)
    SELECT id_a, id_b, ROUND(cosine, 6) AS cosine
    FROM pairdot WHERE cosine >= 0.25
    """,
)
def l10_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via the bucketed scale path: fixed coarse
    quantizer (unit vectors of the 8 smallest ids), top-4 multi-probe cell
    assignment (recall 0.99 vs brute force at this threshold, precision
    1.0), candidates from same-cell equi-joins, exact cosine verify inside
    buckets — no CartesianProduct anywhere (plan-audited). The DuckDB
    oracle recomputes the whole pipeline (normalize, centroid dots, cell
    ranking, candidate distinct, verify) end-to-end in SQL. The
    brute-force crossJoin twin (embedding_cosine_pairs) survives only as
    the recall oracle in tests/test_llm_ops.py."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    pairs = D.embedding_neardup_bucketed(
        emb, "vec_id", "embedding", threshold=0.25, n_centroids=8, n_probe=4
    )
    return _round_cols(pairs, ["cosine"])


@register(
    "l8b_ann_ivf_neighbors",
    "SELECT CAST(5 AS BIGINT) AS n_queries, TRUE AS mean_recall_at_5_ge_60pct",
)
def l8b_ann_ivf_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (scale path #2): trained cells over unit vectors,
    probe the nearest n_probe cells, exact dot product inside. The
    quantizer is trained faiss-style on a BOUNDED deterministic sample
    with driver-side Lloyd iterations (train_centroids_on_sample) — the
    production shape (you train a coarse quantizer on a sample once, not
    with a distributed fit per index build), and it removes the
    pyspark.ml per-iteration scheduling noise that made this query's
    median swing 3-9 s. Trained cells are still data/sample-dependent,
    so like l8 the registered output is a quality gate the oracle asserts
    as a constant-true row: MEAN recall@5 over the 5 benchmark queries
    >= 60% vs the exact cosine top-5 (measured 0.84-1.0 across
    sf0.001-0.1). The pyspark.ml KMeans variant stays available as
    ann_ivf_topk/ann_ivf_topk_multi (unit-tested)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    # fixed 16/8 (not the adaptive sqrt-n default): this entry's recall
    # gate is externally asserted, so it stays on the verified fixed config
    ann = SIM.ann_ivf_sampled_topk_multi(
        emb, "vec_id", "embedding", query_ids=qids, k=5, n_centroids=16, n_probe=8
    )
    got: dict[int, set] = {}
    for r in ann.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    es = _ann_exact_top5(spark, sf_dir)
    mean_recall = sum(
        len(got.get(q, set()) & es[q]) / len(es[q]) for q in qids
    ) / len(qids)
    return small_df(
        spark,
        [(5, mean_recall >= 0.6)],
        "n_queries bigint, mean_recall_at_5_ge_60pct boolean",
    )


@register(
    "l8c_ann_recall_bound",
    """
    SELECT q.vec_id AS query_id, TRUE AS recall_ge_60pct
    FROM embeddings q WHERE q.vec_id < 5
    """,
)
def l8c_ann_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate, oracle-checked: for each of the 5 benchmark
    queries, IVF ANN with a fixed coarse quantizer (probing 8 of 16
    cells) must recover >= 60% of the exact brute-force cosine top-5
    (recall@5; measured min 0.8 at sf0.001/sf0.01). A KMeans-trained
    quantizer (l8b) is NOT partition-deterministic (init sampling depends
    on layout), so the gate uses ann_ivf_fixed_topk_multi — pure
    arithmetic end-to-end, reproducible under any session config. If a
    refactor silently degrades the index path, the hash match breaks.
    The same recall probe is what you run per-shard at 100 TB before
    trusting an index build."""
    from datafusion_cyberpolka_eda_spark.operators.similarity import (
        ann_ivf_fixed_topk_multi,
        cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact_sets = _ann_exact_top5(spark, sf_dir)
    ann = ann_ivf_fixed_topk_multi(
        emb, "vec_id", "embedding", query_ids=sorted(exact_sets), k=5, n_probe=8
    )
    got: dict[int, set] = {}
    for r in ann.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    rows = [
        (qid, len(got.get(qid, set()) & exact_sets[qid]) / len(exact_sets[qid]) >= 0.6)
        for qid in sorted(exact_sets)
    ]
    return small_df(spark, rows, "query_id bigint, recall_ge_60pct boolean")


@register(
    "l8d_ann_lsh_portable",
    """
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    e AS (SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS val,
                 generate_subscripts(embedding, 1) AS i FROM v),
    n AS (SELECT vec_id, SQRT(SUM(val * val)) AS nrm FROM e GROUP BY vec_id),
    u AS (SELECT e.vec_id, e.i, e.val / n.nrm AS uval FROM e JOIN n USING (vec_id)),
    p AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS pid, vec_id AS pvid
          FROM (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)),
    pvec AS (SELECT p.pid, u.i, u.uval AS pval FROM p JOIN u ON u.vec_id = p.pvid),
    dots AS (SELECT u.vec_id, pv.pid, SUM(u.uval * pv.pval) AS d
             FROM u JOIN pvec pv USING (i) GROUP BY u.vec_id, pv.pid),
    bands AS (SELECT vec_id, pid // 4 AS band,
                     CAST(SUM(CASE WHEN ROUND(d, 9) >= 0 THEN 1 ELSE 0 END
                              * (1 << (pid % 4))) AS INTEGER) AS bkey
              FROM dots GROUP BY vec_id, pid // 4),
    qb AS (SELECT vec_id AS query_id, band, bkey FROM bands WHERE vec_id < 5),
    cand AS (SELECT DISTINCT qb.query_id, b.vec_id AS cid
             FROM qb JOIN bands b USING (band, bkey) WHERE b.vec_id != qb.query_id),
    scored AS (SELECT cand.query_id, cand.cid,
                      SUM(uq.uval * uc.uval) AS cosine
               FROM cand
               JOIN u uq ON uq.vec_id = cand.query_id
               JOIN u uc ON uc.vec_id = cand.cid AND uc.i = uq.i
               GROUP BY cand.query_id, cand.cid),
    ranked AS (SELECT query_id, cid AS neighbor_id, ROUND(cosine, 6) + 0 AS cosine,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY ROUND(cosine, 6) DESC, cid ASC) AS rank
               FROM scored)
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def l8d_ann_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-projection LSH ANN with fixed data-derived hyperplanes — the
    DuckDB-replayable twin for the trained-LSH path (l8, rows-only by
    contract since BRP-LSH projections are engine-specific RNG). The
    16 hyperplanes are the unit vectors of the 16 smallest vec_ids, split
    into 4 four-bit band keys; candidates share >= 1 band with a query,
    exact cosine verifies. The oracle recomputes normalization, plane
    dots, sign bits, band keys, candidate distinct, scoring, and ranking
    end-to-end in SQL — every approximate ANN family (MinHash l3c,
    SimHash l4c, IVF l8c, sign-LSH l8d) now has a hard value-hash check.
    Ref parity: similarity search is a north-star extension
    (SURVEY.md §2 L; no reference counterpart file)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = SIM.ann_lsh_fixed_topk_multi(
        emb, "vec_id", "embedding", query_ids=[0, 1, 2, 3, 4],
        k=5, n_planes=16, n_bands=4,
    )
    return _round_cols(out.withColumn("rank", F.col("rank").cast("bigint")), ["cosine"])


# Exact cosine top-5 neighbor sets for the benchmark queries (vec_id 0-4)
# — the shared ground truth every l8* recall gate compares against.
# Memoized per (session, sf_dir, embeddings fingerprint), the
# _dedup_gate_base pattern the r6 verdict endorsed: the truth is an INPUT
# to the gate check (each entry still builds and serves ITS OWN index per
# call, and the oracle pins each gate), so one exact brute-force pass per
# session serves all five gates instead of five identical recomputes.
_ANN_TRUTH_CACHE: dict[str, dict[int, set]] = {}


def _ann_exact_top5(spark: SparkSession, sf_dir: str) -> dict[int, set]:
    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:"
        f"{_table_fingerprint(sf_dir, 'embeddings')}"
    )
    if key in _ANN_TRUTH_CACHE:
        return _ANN_TRUTH_CACHE[key]
    emb = load_table(spark, sf_dir, "embeddings")
    exact = SIM.cosine_topk(
        emb.filter(F.col("vec_id") < 5), emb, id_col="vec_id",
        vec_col="embedding", k=5,
    )
    es: dict[int, set] = {}
    for r in exact.collect():
        es.setdefault(r["query_id"], set()).add(r["candidate_id"])
    _ANN_TRUTH_CACHE[key] = es
    return es


# ---- IVF-PQ composed index (l8e) ----


@register(
    "l8e_ann_ivf_pq",
    """
    SELECT CAST(5 AS BIGINT) AS n_queries,
           TRUE AS mean_recall_at_5_ge_60pct,
           TRUE AS pq_bytes_le_quarter_f32
    """,
)
def l8e_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed index (r6 verdict task 4): the l8b coarse
    quantizer and the l16 int8 quantization COMPOSED — int8-quantized
    residuals (per-cell scale, so the per-vector payload is exactly
    dim bytes) stored in the inverted lists; serving scores
    dot(q, centroid) + dot(q, dequantized residual) without touching the
    float vectors. This is the standard billion-vector memory story:
    float32 vectors don't fit executor memory at 100 TB, codes do.

    Like l8b the trained quantizer is sample/data-dependent, so the
    registered output is the gate row the oracle pins: (a) MEAN recall@5
    over the 5 benchmark queries vs the exact cosine top-5 >= 60%
    (measured 1.0 at sf0.001-0.1 — tests/test_llm_ops.py also asserts
    the per-component quantization error bound); (b) the per-vector
    payload is MEASURED at <= 1/4 of float32 — one 1-byte code per
    vector component, checked from the built index itself (schema
    element type must be ByteType and code count must equal component
    count), so a refactor that silently widens the code type or pads
    codes breaks the gate. The quantizer model (16 centroids + 16
    per-cell scales) is index-level overhead independent of corpus size
    and amortizes to nothing at the 100 TB target."""
    from pyspark.sql.types import ByteType

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    unit = SIM.unit_vec_df(emb, "vec_id", "embedding")
    centers = SIM.train_centroids_on_sample(unit, 16, 2048)
    index, scales = SIM.ivf_pq_index(unit, centers)
    # cut: the index feeds the serving collects AND the payload
    # measurement below — without it the assign+quantize join re-ran
    # once per consumer (assigned is cached, but the scale join is not)
    index = index.localCheckpoint(eager=False)
    ann = SIM.ann_ivf_pq_topk_multi(
        emb, "vec_id", "embedding", query_ids=qids, k=5,
        n_probe=8, prebuilt=(index, centers, scales),
    )
    got: dict[int, set] = {}
    for r in ann.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    es = _ann_exact_top5(spark, sf_dir)
    mean_recall = sum(
        len(got.get(q, set()) & es[q]) / len(es[q]) for q in qids
    ) / len(qids)
    codes_are_int8 = isinstance(
        index.schema["qcodes"].dataType.elementType, ByteType
    )
    sizes = index.join(
        emb.select(F.col("vec_id").alias("id"), F.size("embedding").alias("dim")),
        "id",
    ).agg(
        F.sum("dim").alias("total_dims"),
        F.sum(F.size("qcodes")).alias("total_codes"),
    ).collect()[0]
    # 1 byte/code vs 4 bytes/float32 component: <= 1/4 iff codes are
    # byte-typed and there is no more than one code per component
    payload_ok = (
        codes_are_int8 and int(sizes["total_codes"]) <= int(sizes["total_dims"])
    )
    return small_df(
        spark,
        [(5, mean_recall >= 0.6, payload_ok)],
        "n_queries bigint, mean_recall_at_5_ge_60pct boolean, "
        "pq_bytes_le_quarter_f32 boolean",
    )


# (session, sf_dir, embeddings fingerprint) -> (cutoff, index_path,
# centers, scales_path): the persisted day-1 IVF-PQ index — the l31
# band-store pattern applied to ANN. Incremental semantics MEAN the day-1
# index is a durable artifact read back from storage, not rebuilt per
# query; the build runs once per (session, data).
_IVF_STORE_CACHE: dict[str, tuple] = {}


def _ivf_pq_store(spark: SparkSession, sf_dir: str) -> tuple:
    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:"
        f"{_table_fingerprint(sf_dir, 'embeddings')}"
    )
    if key in _IVF_STORE_CACHE:
        return _IVF_STORE_CACHE[key]
    import atexit
    import os
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    cutoff = int(0.8 * (max_id + 1))
    unit1 = SIM.unit_vec_df(
        emb.filter(F.col("vec_id") < cutoff), "vec_id", "embedding"
    )
    centers = SIM.train_centroids_on_sample(unit1, 16, 2048)
    index1, scales = SIM.ivf_pq_index(unit1, centers)
    out = tempfile.mkdtemp(prefix="ivf_pq_store_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    ipath = os.path.join(out, "index.parquet")
    spath = os.path.join(out, "scales.parquet")
    index1.write.mode("overwrite").parquet(ipath)
    scales.write.mode("overwrite").parquet(spath)
    _IVF_STORE_CACHE[key] = (cutoff, ipath, centers, spath)
    return _IVF_STORE_CACHE[key]


@register(
    "l8f_ann_ivf_pq_incremental",
    """
    SELECT CAST(5 AS BIGINT) AS n_queries,
           TRUE AS day1_replay_identical,
           TRUE AS union_recall_at_5_ge_60pct
    """,
)
def l8f_ann_ivf_pq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF-PQ index growth (the ANN member of the r7
    incremental family, next to l31's dedup store and d20/d21's
    mergeable sketches): the first 80% of vectors build the index and
    train the quantizer; the remaining 20% arrive later and are ingested
    with ivf_pq_add — FROZEN centroids + frozen per-cell scales, no
    retraining, no rescan of indexed vectors.

    The day-1 index is PERSISTED to parquet once per session
    (_ivf_pq_store — the l31 band-store pattern: incremental means the
    existing index is a durable artifact read back, not rebuilt), so a
    steady-state call pays only: read store, ingest increment, serve.

    Oracle-pinned gates: (a) re-ingesting the day-1 vectors through the
    incremental path reproduces the PERSISTED index EXACTLY (clamp is
    identity on in-range residuals — a true store-replay equivalence,
    checked with a symmetric exceptAll in one action); (b) serving over
    the union index (persisted day-1 + day-2 increment, clamped codes
    included) keeps mean recall@5 >= 60% vs the exact cosine top-5 over
    the FULL corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    cutoff, ipath, centers, spath = _ivf_pq_store(spark, sf_dir)
    index1 = spark.read.parquet(ipath)
    scales = spark.read.parquet(spath)
    day1 = emb.filter(F.col("vec_id") < cutoff)
    day2 = emb.filter(F.col("vec_id") >= cutoff)

    # the replay gate re-ingests day-1 THROUGH the incremental path and
    # compares against the persisted store — per-call work by design
    replay = SIM.ivf_pq_add(
        SIM.unit_vec_df(day1, "vec_id", "embedding"), centers, scales
    )
    cmp_cols = ["id", "cell", "qcodes"]
    a, b = index1.select(*cmp_cols), replay.select(*cmp_cols)
    # symmetric difference in ONE action (two exceptAll branches unioned)
    identical = a.exceptAll(b).union(b.exceptAll(a)).count() == 0

    inc = SIM.ivf_pq_add(
        SIM.unit_vec_df(day2, "vec_id", "embedding"), centers, scales
    )
    union_index = index1.unionByName(inc).localCheckpoint(eager=False)
    qids = [0, 1, 2, 3, 4]
    ann = SIM.ann_ivf_pq_topk_multi(
        emb, "vec_id", "embedding", query_ids=qids, k=5, n_probe=8,
        prebuilt=(union_index, centers, scales),
    )
    got: dict[int, set] = {}
    for r in ann.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    es = _ann_exact_top5(spark, sf_dir)
    mean_recall = sum(
        len(got.get(q, set()) & es[q]) / len(es[q]) for q in qids
    ) / len(qids)
    return small_df(
        spark,
        [(5, identical, mean_recall >= 0.6)],
        "n_queries bigint, day1_replay_identical boolean, "
        "union_recall_at_5_ge_60pct boolean",
    )


@register(
    "l8g_ann_ivf_pq_takedown",
    """
    WITH cut AS (
      SELECT CAST(FLOOR(0.8 * (MAX(vec_id) + 1)) AS BIGINT) AS c FROM embeddings
    )
    SELECT (SELECT COUNT(*) FROM embeddings
            WHERE vec_id < (SELECT c FROM cut) AND vec_id % 9 = 2) AS n_removed,
           TRUE AS delete_equals_rebuild,
           TRUE AS no_removed_in_topk,
           TRUE AS recall_after_delete_ge_60pct
    """,
)
def l8g_ann_ivf_pq_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown propagation into the ANN serving index — the vector-side
    counterpart of l38: when documents are removed from the corpus, their
    vectors must leave the index too, and because IVF-PQ codes are
    per-vector independent under a frozen quantizer, deletion is a pure
    anti-join on the persisted index: O(|request|), no retraining, no
    rescan of the remaining vectors.

    Three oracle-pinned gates prove delete-by-anti-join is the real
    semantics, not an approximation (removal set = indexed day-1 vectors
    with vec_id % 9 == 2, a deterministic request stand-in):
      (a) delete_equals_rebuild — the anti-joined index is EXACTLY the
          index rebuilt from scratch over the remaining vectors with the
          same frozen quantizer/scales (symmetric exceptAll in one
          action); this is the algebraic identity that makes O(|request|)
          deletion sound;
      (b) no_removed_in_topk — serving top-5 from the deleted index never
          returns a removed id (no ghost results after takedown);
      (c) recall_after_delete_ge_60pct — mean recall@5 vs the exact
          cosine top-5 over the REMAINING corpus stays >= 60%: deletion
          does not degrade serving quality for surviving vectors.
    n_removed is genuinely recomputed by the oracle from the same cutoff
    + modulus; the booleans are pinned-TRUE gate outcomes (d19 pattern).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cutoff, ipath, centers, spath = _ivf_pq_store(spark, sf_dir)
    index1 = spark.read.parquet(ipath)
    scales = spark.read.parquet(spath)
    day1 = emb.filter(F.col("vec_id") < cutoff)
    removed = day1.filter(F.col("vec_id") % 9 == 2).select(
        F.col("vec_id").alias("id")
    )
    n_removed = removed.count()

    deleted = index1.join(F.broadcast(removed), "id", "left_anti").localCheckpoint(
        eager=False  # materialized by the serving path's first collect
    )
    rebuilt = SIM.ivf_pq_add(
        SIM.unit_vec_df(
            day1.join(F.broadcast(removed.withColumnRenamed("id", "vec_id")),
                      "vec_id", "left_anti"),
            "vec_id", "embedding",
        ),
        centers,
        scales,
    )
    cmp_cols = ["id", "cell", "qcodes"]
    a, b = deleted.select(*cmp_cols), rebuilt.select(*cmp_cols)
    identical = a.exceptAll(b).union(b.exceptAll(a)).count() == 0

    qids = [0, 1, 3, 4, 5]  # query ids chosen outside the removal set
    ann = SIM.ann_ivf_pq_topk_multi(
        emb, "vec_id", "embedding", query_ids=qids, k=5, n_probe=8,
        prebuilt=(deleted, centers, scales),
    )
    got: dict[int, set] = {}
    for r in ann.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    removed_ids = {r["id"] for r in removed.collect()}
    no_ghosts = all(not (s & removed_ids) for s in got.values())

    remaining_day1 = day1.join(
        F.broadcast(removed.withColumnRenamed("id", "vec_id")), "vec_id", "left_anti"
    )
    exact = SIM.cosine_topk(
        emb.filter(F.col("vec_id").isin(qids)), remaining_day1,
        id_col="vec_id", vec_col="embedding", k=5,
    )
    es: dict[int, set] = {}
    for r in exact.collect():
        es.setdefault(r["query_id"], set()).add(r["candidate_id"])
    mean_recall = sum(
        len(got.get(q, set()) & es[q]) / len(es[q]) for q in qids
    ) / len(qids)
    return small_df(
        spark,
        [(n_removed, identical, no_ghosts, mean_recall >= 0.6)],
        "n_removed bigint, delete_equals_rebuild boolean, "
        "no_removed_in_topk boolean, recall_after_delete_ge_60pct boolean",
    )


# ---- incremental embedding (semantic) dedup (l41) ----
# (session, sf_dir, embeddings fingerprint) -> (cutoff, units, cells,
# centers parquet paths): the persisted day-1 semantic store.
_SEM_STORE_CACHE: dict[str, tuple] = {}


def _semantic_store(spark: SparkSession, sf_dir: str) -> tuple:
    """Build ONCE per (session, data) the persisted day-1 SEMANTIC store
    for incremental embedding dedup: unit vectors, frozen-quantizer cell
    assignments (top-4 probes against the 8 smallest day-1 ids — the
    offline-trained-quantizer stand-in, same parameters as l10), and the
    centroid table itself, each written to parquet the way a daily
    semantic-dedup job persists them. Returns
    (cutoff, units_path, cells_path, centers_path); keyed by the
    embeddings-table fingerprint so testdata regeneration invalidates
    it. Persisting the CENTROIDS is what freezes the quantizer: day-2
    assignment must use day-1's cells, never re-derive its own."""
    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:"
        f"{_table_fingerprint(sf_dir, 'embeddings')}"
    )
    if key in _SEM_STORE_CACHE:
        return _SEM_STORE_CACHE[key]
    import atexit
    import os
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    cutoff = int(0.8 * (max_id + 1))
    day1 = emb.filter(F.col("vec_id") < cutoff)
    unit = SIM.unit_vec_df(day1, "vec_id", "embedding").localCheckpoint(
        eager=False  # the seed TakeOrdered materializes it
    )
    cent_rows = sorted(
        unit.orderBy("id").limit(8).collect(), key=lambda r: r["id"]
    )
    centers = [list(r["unit_arr"]) for r in cent_rows]
    cells = SIM.assign_cells_literal(unit, centers, n_probe=4)
    out = tempfile.mkdtemp(prefix="semantic_store_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    units_path = os.path.join(out, "units.parquet")
    cells_path = os.path.join(out, "cells.parquet")
    centers_path = os.path.join(out, "centers.parquet")
    unit.write.mode("overwrite").parquet(units_path)
    cells.write.mode("overwrite").parquet(cells_path)
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(centers)], "cid int, unit_arr array<double>"
    ).write.mode("overwrite").parquet(centers_path)
    _SEM_STORE_CACHE[key] = (cutoff, units_path, cells_path, centers_path)
    return _SEM_STORE_CACHE[key]


_L41_ORACLE = """
    WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
    cut AS (SELECT CAST(FLOOR(0.8 * (MAX(vec_id) + 1)) AS BIGINT) AS c FROM v),
    e AS (SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS val,
                 generate_subscripts(embedding, 1) AS i FROM v),
    n AS (SELECT vec_id, SQRT(SUM(val * val)) AS nrm FROM e GROUP BY vec_id),
    u AS (SELECT e.vec_id, e.i, e.val / n.nrm AS uval FROM e JOIN n USING (vec_id)),
    c AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, vec_id AS cvid
          FROM (SELECT vec_id FROM v ORDER BY vec_id LIMIT 8)),
    cvec AS (SELECT c.cid, u.i, u.uval AS cval FROM c JOIN u ON u.vec_id = c.cvid),
    dots AS (SELECT u.vec_id, cv.cid, SUM(u.uval * cv.cval) AS d
             FROM u JOIN cvec cv USING (i) GROUP BY u.vec_id, cv.cid),
    cells AS (SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rk
                FROM dots) WHERE rk <= 4),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM cells a JOIN cells b USING (cid) WHERE a.vec_id < b.vec_id),
    pairdot AS (SELECT cand.id_a, cand.id_b, SUM(ua.uval * ub.uval) AS cosine
                FROM cand
                JOIN u ua ON ua.vec_id = cand.id_a
                JOIN u ub ON ub.vec_id = cand.id_b AND ub.i = ua.i
                GROUP BY cand.id_a, cand.id_b)
    SELECT id_a, id_b, ROUND(cosine, 6) AS cosine,
           CASE WHEN id_a >= (SELECT c FROM cut)
                THEN 'new_new' ELSE 'new_old' END AS kind
    FROM pairdot
    WHERE cosine >= 0.25 AND id_b >= (SELECT c FROM cut)
"""


@register("l41_incremental_embedding_dedup", _L41_ORACLE)
def l41_incremental_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC (embedding) dedup — the embedding-space
    counterpart of l31's MinHash incremental shape: day-1 unit vectors +
    frozen-quantizer cell assignments are PERSISTED (_semantic_store);
    the day-2 increment is normalized and cell-assigned under the SAME
    frozen centroids (read from the store — the quantizer is never
    retrained), and candidates come from joining ONLY the increment's
    cells against store+increment cells. Old vectors are never
    re-normalized or re-assigned; the embeddings scan carries a pushed
    vec_id >= cutoff predicate (no-rescan plan test pins it).

    Because cell assignment is per-row deterministic under a frozen
    quantizer, the incremental pair set equals the full from-scratch
    build (l10 semantics, same centroids/probes/threshold) restricted to
    pairs with >= 1 new id — exactly what the DuckDB oracle computes, so
    the incremental path is value-hash-checked against from-scratch
    semantics. Scale shape: store grows by |increment| rows/day; shuffle
    volume tracks increment cell rows + colliding store cells (persist
    the store bucketed by cell at 100 TB so the join prunes to colliding
    buckets)."""
    cutoff, units_path, cells_path, centers_path = _semantic_store(spark, sf_dir)
    store_units = spark.read.parquet(units_path)
    store_cells = spark.read.parquet(cells_path)
    centers = [
        list(r["unit_arr"])
        for r in sorted(
            spark.read.parquet(centers_path).collect(), key=lambda r: r["cid"]
        )
    ]
    new = load_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % 5 == 0) & (F.col("vec_id") >= cutoff)
    )
    new_units = SIM.unit_vec_df(new, "vec_id", "embedding").localCheckpoint(
        eager=False
    )
    new_cells = SIM.assign_cells_literal(
        new_units, centers, n_probe=4
    ).localCheckpoint(eager=False)
    all_cells = store_cells.unionByName(new_cells)
    cand = (
        new_cells.alias("a")
        .join(all_cells.alias("b"), "cell")
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
        )
        .distinct()
    )
    all_units = store_units.unionByName(new_units)
    ua = all_units.select(F.col("id").alias("id_a"), F.col("unit_arr").alias("arr_a"))
    ub = all_units.select(F.col("id").alias("id_b"), F.col("unit_arr").alias("arr_b"))
    return (
        cand.join(ua, "id_a")
        .join(ub, "id_b")
        .withColumn("cosine", SIM.dot_expr("arr_a", "arr_b"))
        .filter(F.col("cosine") >= 0.25)
        .select(
            "id_a",
            "id_b",
            F.round("cosine", 6).alias("cosine"),
            F.when(F.col("id_a") >= F.lit(cutoff), "new_new")
            .otherwise("new_old")
            .alias("kind"),
        )
    )


# ---- distributed embedding covariance / Gram matrix (l46) ----


def embedding_gram_partials(emb: DataFrame, dim: int = 64) -> DataFrame:
    """Per-Arrow-batch Gram partials over an `embedding array<float>`
    column: each batch yields ONE row holding the flattened
    [count, column-sums (dim), X^T X (dim*dim)] statistics vector
    (length 1 + dim + dim^2), computed as an int64 numpy matmul over
    FLOOR-quantized components q = floor(x * SIM.QSCALE).

    This is THE distributed-linear-algebra shape for PCA / whitening /
    linear probes at 100 TB: raw vectors never shuffle — every executor
    reduces its batches to a fixed-size O(dim^2) state and only those
    tiny partials move. Quantizing to scaled integers makes every
    downstream sum EXACT and order-independent (the l16/l22 exact-
    arithmetic pattern), so rounded consumer output can never flip with
    partitioning or engine summation order. floor() is tie-free and
    bit-identical between numpy and SQL engines on the same doubles.
    Overflow headroom: |q| <= ~6e4 here, so G_ij partial sums stay
    < 2^53 (exact in int64 AND in the final double division) up to
    ~1e6 rows per statistic; beyond that, shard column blocks or widen
    to decimal — state size is O(dim^2) either way."""
    import numpy as np
    import pandas as pd

    width = 1 + dim + dim * dim
    scale = float(SIM.QSCALE)  # bound here: the closure ships to workers

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Q = np.floor(M * scale).astype(np.int64)
            st = np.empty(width, dtype=np.int64)
            st[0] = len(Q)
            st[1 : 1 + dim] = Q.sum(axis=0)
            st[1 + dim :] = (Q.T @ Q).reshape(-1)
            yield pd.DataFrame({"st": [st.tolist()]})

    return emb.select("embedding").mapInPandas(gen, schema="st array<long>")


@register(
    "l46_embedding_covariance",
    """
    WITH e AS (
      SELECT vec_id, i - 1 AS i,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 100000.0) AS BIGINT)
               AS x
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
    ),
    stats AS (SELECT i, SUM(x) AS si, COUNT(*) AS n FROM e GROUP BY i),
    g AS (
      SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS gij
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    )
    SELECT g.i, g.j,
           -- + 0 normalizes -0.0 -> +0.0 (IEEE): DuckDB ROUND keeps the
           -- sign of a tiny negative while Spark F.round (BigDecimal)
           -- drops it; the values are ==-equal but byte/hash-different
           -- (the r8 driver red). A no-op for every other value.
           ROUND((gij / sa.n - (sa.si / sa.n) * (sb.si / sb.n)) / 1.0e10, 6)
             + 0 AS cov
    FROM g JOIN stats sa ON g.i = sa.i JOIN stats sb ON g.j = sb.i
    """,
)
def l46_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance matrix over the embedding column — the
    Gram-matrix substrate every large-scale vector pipeline needs for PCA,
    whitening, OPQ rotation training, and linear probes. Spark side runs
    the scalable plan: mapInPandas reduces each Arrow batch to one
    fixed-size partial [n, sum(x), X^T X] (float64 matmul, vectors never
    shuffle), a single posexplode+groupBy sums the partials element-wise
    (4161 int64s per batch — tiny), and the biased covariance
    cov(i,j) = (G_ij/n - mean_i*mean_j) / QSCALE^2 materializes the full
    upper triangle (2080 rows at dim=64). Components are floor-quantized
    to scaled integers FIRST (q = floor(x*1e5)) so every distributed sum
    is exact integer arithmetic — order-independent, hash-stable under
    any partitioning (fixes the r7 rounding-boundary flake). The oracle
    replays the identical quantized statistic relationally (unnest +
    self-join on vec_id) — quadratic in dim but exact, feasible at
    oracle scale only; both sides divide/round identically (same IEEE
    op sequence on identical exact integers), and the oracle adds `+ 0`
    after ROUND to normalize -0.0 -> +0.0: DuckDB ROUND preserves the
    sign of a tiny negative while Spark F.round (BigDecimal) drops it —
    ==-equal but hash-different (the r8 driver red, one cell at sf0.01).

    Scale shape: communication is O(n_batches * dim^2) regardless of row
    count; no shuffle touches a raw vector. At dim too large for dim^2
    state, the same pattern shards column blocks.
    Ref parity: north-star similarity/embedding extension (SURVEY §2 L)."""
    dim = 64
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    part = embedding_gram_partials(emb, dim=dim)
    flat = (
        part.select(F.posexplode("st").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum("v").alias("v"))
    )
    n_df = flat.filter(F.col("idx") == 0).select(F.col("v").alias("n"))
    s_df = flat.filter((F.col("idx") >= 1) & (F.col("idx") <= dim)).select(
        (F.col("idx") - 1).alias("i"), F.col("v").alias("si")
    )
    g_df = (
        flat.filter(F.col("idx") > dim)
        .select(
            F.floor((F.col("idx") - dim - 1) / dim).cast("long").alias("i"),
            ((F.col("idx") - dim - 1) % dim).cast("long").alias("j"),
            F.col("v").alias("gij"),
        )
        .filter(F.col("i") <= F.col("j"))
    )
    out = (
        g_df.join(s_df, "i")
        .join(s_df.select(F.col("i").alias("j"), F.col("si").alias("sj")), "j")
        .crossJoin(F.broadcast(n_df))
        .select(
            "i",
            "j",
            (
                (
                    F.col("gij") / F.col("n")
                    - (F.col("si") / F.col("n")) * (F.col("sj") / F.col("n"))
                )
                / F.lit(float(SIM.QSCALE) * float(SIM.QSCALE))
            ).alias("cov"),
        )
    )
    return _round_cols(out, ["cov"]).select("i", "j", "cov")


# ---- sparse TF-IDF cosine self-join with posting-list pruning (l48) ----


@register(
    "l48_sparse_cosine_pairs",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] AS term
      FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) s
      WHERE len(w) >= 2
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM g GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
    v AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln(CAST((SELECT n FROM n) AS DOUBLE) / df.df) AS wgt
      FROM tf JOIN df USING (term) WHERE df.df <= 50
    ),
    nrm AS (SELECT doc_id, sqrt(SUM(wgt * wgt)) AS nm FROM v GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.wgt * b.wgt) AS dp
      FROM v a JOIN v b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, ROUND(dp / (na.nm * nb.nm), 6) AS cosine
    FROM dots JOIN nrm na ON id_a = na.doc_id JOIN nrm nb ON id_b = nb.doc_id
    WHERE dp / (na.nm * nb.nm) >= 0.5
    """,
)
def l48_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity self-join over word-BIGRAM vectors
    with posting-list pruning — the sparse-vector counterpart of the dense
    ANN family (l7/l8) and the set-Jaccard family (l2/l3): docs sharing
    RARE bigrams score high, the signal a boilerplate/near-dup reviewer
    reads when embeddings are unavailable. Terms with document frequency
    above 50 are dropped from the vector space (sklearn's max_df rule):
    that is BOTH the statistical stop-term filter and the scale bound —
    the term self-join fanout is sum(df^2) <= 50 * sum(df), linear in
    corpus size, never the quadratic blowup an unpruned stop-term posting
    list would produce (at sf0.1 the cap is what makes the candidate set
    1k pairs instead of 12.5M). idf = ln(N/df), the l13 convention; pairs
    emitted at cosine >= 0.5, rounded 6 dp.

    Scale shape: two hash aggs (doc-term tf, term df), a broadcast of the
    pruned df table, ONE term-keyed equi-join whose per-term fanout is
    capped, then a pair-keyed agg. No window, no cross join; at 100 TB
    hash terms to 64-bit before the join (l13 note) and AQE splits any
    residual hot term. Ref parity: north-star dedup/similarity extension
    (SURVEY §2 L)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    g = docs.select(
        "doc_id", F.explode(T.shingles("text", 2)).alias("term")
    )
    # The weighted-postings table feeds FOUR consumers (df, norms, both
    # join sides); without a lineage cut Spark re-scans and re-tokenizes
    # the corpus once per consumer (6 parquet scans in the naive plan).
    # localCheckpoint materializes tf once — executor-local is fine here
    # (recompute-on-loss is one scan); at cluster scale with flaky
    # executors use the reliable checkpoint_dir pattern (dedup.py
    # connected_components).
    tf = (
        g.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select("doc_id").distinct().count()
    v = tf.join(
        F.broadcast(df.filter(F.col("df") <= 50)), "term"
    ).select(
        "doc_id",
        "term",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("wgt"),
    )
    nrm = v.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("wgt") * F.col("wgt"))).alias("nm"))
    a = v.select(F.col("doc_id").alias("id_a"), "term", F.col("wgt").alias("wa"))
    b = v.select(F.col("doc_id").alias("id_b"), "term", F.col("wgt").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dp"))
    )
    cos = (
        dots.join(nrm.select(F.col("doc_id").alias("id_a"), F.col("nm").alias("na")), "id_a")
        .join(nrm.select(F.col("doc_id").alias("id_b"), F.col("nm").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("dp") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.5)
    )
    return _round_cols(cos, ["cosine"]).select("id_a", "id_b", "cosine")


# ---- incremental covariance store (l51) ----

_GRAM_STORE_CACHE: dict[str, tuple[int, str]] = {}


def _gram_store(spark: SparkSession, sf_dir: str, dim: int = 64) -> tuple[int, str]:
    """Build ONCE per (session, data) the persisted day-1 GRAM-STATE store
    for incremental covariance: the element-wise-summed
    [n, column-sums, X^T X] statistics of all day-1 vectors
    (vec_id < cutoff = int(0.8 * (max_id + 1))), written as a tiny
    (idx, v) parquet table — 1 + dim + dim^2 rows TOTAL regardless of
    corpus size. Keyed by the embeddings-table fingerprint so testdata
    regeneration invalidates it. This is the d20-mergeable-sketch
    pattern applied to linear algebra: the persisted state is
    commutative/associative, so tomorrow's update is an element-wise
    add, never a day-1 rescan."""
    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:"
        f"{_table_fingerprint(sf_dir, 'embeddings')}"
    )
    if key in _GRAM_STORE_CACHE:
        return _GRAM_STORE_CACHE[key]
    import atexit
    import os
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    cutoff = int(0.8 * (max_id + 1))
    day1 = emb.filter(F.col("vec_id") < cutoff)
    flat = (
        embedding_gram_partials(day1, dim=dim)
        .select(F.posexplode("st").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum("v").alias("v"))
    )
    out = tempfile.mkdtemp(prefix="gram_store_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    path = os.path.join(out, "gram_state.parquet")
    flat.write.mode("overwrite").parquet(path)
    _GRAM_STORE_CACHE[key] = (cutoff, path)
    return _GRAM_STORE_CACHE[key]


@register(
    "l51_incremental_covariance",
    """
    WITH mx AS (SELECT MAX(vec_id) AS m FROM embeddings),
    e AS (
      SELECT vec_id, i - 1 AS i,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 100000.0) AS BIGINT)
               AS x
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
    ),
    stats AS (
      SELECT i, SUM(x) AS si, SUM(x * x) AS sxx, COUNT(*) AS n
      FROM e GROUP BY i
    ),
    cnt AS (
      SELECT COUNT(*) AS nt,
             SUM(CASE WHEN vec_id <
                   CAST(FLOOR(0.8 * ((SELECT m FROM mx) + 1)) AS BIGINT)
                 THEN 1 ELSE 0 END) AS ns
      FROM embeddings
    )
    SELECT s.i,
           -- + 0: -0.0 -> +0.0 sign normalization (see l46 oracle)
           ROUND((si / n) / 1.0e5, 6) + 0 AS mean,
           ROUND((sxx / n - (si / n) * (si / n)) / 1.0e10, 6) + 0 AS var,
           CAST(ns AS BIGINT) AS n_store,
           CAST(nt - ns AS BIGINT) AS n_new
    FROM stats s, cnt
    """,
)
def l51_incremental_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL covariance maintenance — l46's Gram state treated the
    way a daily pipeline treats it: day-1's [n, sum, X^T X] statistics
    live in a persisted (idx, v) store of 1+dim+dim^2 rows (fixed size,
    independent of corpus size); the day-2 increment computes partials
    over ONLY vec_id >= cutoff (pushed scan predicate — day-1 vectors
    are never re-read as vectors) and the update is an element-wise
    UNION+sum, exactly the d20 mergeable-sketch shape applied to linear
    algebra. Emits per-dimension (mean, variance) from the merged state
    plus the store/increment row provenance. State is integer-quantized
    (floor(x*1e5), see embedding_gram_partials) so the merged sums are
    EXACT — merge order and partitioning can never flip the rounded
    output. The oracle replays the same quantized statistics from
    scratch over all vectors — valid because the merged integer state
    is exactly the from-scratch state (integer addition is commutative
    and exact).

    Scale shape: daily cost is O(increment) scan + a 4161-row merge;
    the covariance of a 100 TB embedding corpus stays current without
    ever touching yesterday's vectors. Ref parity: north-star
    incremental-maintenance extension (SURVEY §2 L)."""
    dim = 64
    cutoff, path = _gram_store(spark, sf_dir, dim=dim)
    store = spark.read.parquet(path)
    inc = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") >= cutoff
    )
    inc_flat = embedding_gram_partials(inc, dim=dim).select(
        F.posexplode("st").alias("idx", "v")
    )
    merged = (
        store.unionByName(inc_flat).groupBy("idx").agg(F.sum("v").alias("v"))
    )
    n_df = merged.filter(F.col("idx") == 0).select(F.col("v").alias("n"))
    ns_df = store.filter(F.col("idx") == 0).select(
        F.col("v").cast("bigint").alias("n_store")
    )
    s_df = merged.filter((F.col("idx") >= 1) & (F.col("idx") <= dim)).select(
        (F.col("idx") - 1).cast("long").alias("i"), F.col("v").alias("si")
    )
    diag = merged.filter(F.col("idx") > dim).select(
        F.floor((F.col("idx") - dim - 1) / dim).cast("long").alias("i"),
        ((F.col("idx") - dim - 1) % dim).cast("long").alias("j"),
        F.col("v").alias("gij"),
    ).filter(F.col("i") == F.col("j")).select("i", F.col("gij").alias("sxx"))
    out = (
        s_df.join(diag, "i")
        .crossJoin(F.broadcast(n_df))
        .crossJoin(F.broadcast(ns_df))
        .select(
            "i",
            ((F.col("si") / F.col("n")) / F.lit(1.0e5)).alias("mean"),
            (
                (
                    F.col("sxx") / F.col("n")
                    - (F.col("si") / F.col("n")) * (F.col("si") / F.col("n"))
                )
                / F.lit(1.0e10)
            ).alias("var"),
            "n_store",
            (F.col("n").cast("bigint") - F.col("n_store")).alias("n_new"),
        )
    )
    return _round_cols(out, ["mean", "var"]).select(
        "i", "mean", "var", "n_store", "n_new"
    )


# ---- OPQ/PCA-rotated IVF-PQ (l8h, r7 verdict task 3) ----


@register(
    "l8h_ann_ivf_pq_rotated",
    """
    SELECT CAST(5 AS BIGINT) AS n_queries,
           TRUE AS rotation_orthogonal,
           TRUE AS neighbors_invariant,
           TRUE AS recall_within_tol
    """,
)
def l8h_ann_ivf_pq_rotated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-style PCA rotation COMPOSED into the IVF-PQ index (r7 verdict
    task 3): l46's integer-exact Gram state -> driver-side 64x64
    eigendecomposition (the E1->F2 driver-matrix boundary) -> one
    map-side Arrow-batched rotation pass (v' = R^T v, a BLAS matmul per
    batch, no shuffle) -> l8e's index build/serve unchanged on the
    rotated vectors. This is the standard recall lever for product
    quantization (Ge et al., OPQ, CVPR 2013: PCA is the non-parametric
    rotation init): aligning residuals with the principal axes
    concentrates quantization error where the scale has headroom.

    Gate row (oracle-pinned like l8e — the trained quantizer is
    sample-dependent, the PROPERTIES are not):
      rotation_orthogonal — max|R R^T - I| < 1e-9 (driver-side check of
        the 64x64 matrix);
      neighbors_invariant — exact cosine top-5 of the 5 benchmark
        queries computed ON THE ROTATED VECTORS equals the unrotated
        exact truth (orthogonal rotations preserve dot products and
        norms; checked distributed via the same cosine_topk plan);
      recall_within_tol — mean recall@5 of the rotated IVF-PQ index
        >= the unrotated l8e index minus 0.1 (one neighbor over the 25
        query-neighbor slots) on the same queries vs the same exact
        truth. Rotated-index recall from sample-trained centroids is a
        measured, data-dependent property: the r8 advice flagged that a
        hard >= pin could go red at another scale factor with no code
        defect, so the gate tolerates a legitimate one-neighbor tie/
        loss while still catching a real regression.

    Scale shape: rotation adds one map-side pass over the corpus and a
    dim^2 closure constant; covariance state is O(dim^2) via the l46
    partials (raw vectors never shuffle); everything downstream is the
    l8e plan. Ref parity: SURVEY §2 L similarity extension."""
    import numpy as np

    dim = 64
    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]

    # covariance from the integer-exact Gram partials (l46 substrate)
    vals = {
        r["idx"]: r["v"]
        for r in embedding_gram_partials(emb, dim=dim)
        .select(F.posexplode("st").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum("v").alias("v"))
        .collect()
    }
    n = vals[0]
    s = np.array([vals[1 + i] for i in range(dim)], dtype=np.float64)
    G = np.array(
        [[vals[1 + dim + i * dim + j] for j in range(dim)] for i in range(dim)],
        dtype=np.float64,
    )
    cov = (G / n - np.outer(s / n, s / n)) / float(SIM.QSCALE) ** 2
    R = SIM.pca_rotation(cov)
    orth = bool(np.max(np.abs(R @ R.T - np.eye(dim))) < 1e-9)

    rot = SIM.rotate_vectors(emb, "vec_id", "embedding", R).localCheckpoint(
        eager=True
    )

    # exact truth (unrotated, cached) and the rotated exact top-5
    es = _ann_exact_top5(spark, sf_dir)
    exact_rot = SIM.cosine_topk(
        rot.filter(F.col("vec_id") < 5), rot, id_col="vec_id",
        vec_col="embedding", k=5,
    )
    er: dict[int, set] = {}
    for r in exact_rot.collect():
        er.setdefault(r["query_id"], set()).add(r["candidate_id"])
    invariant = all(er.get(q, set()) == es[q] for q in qids)

    def mean_recall(src: DataFrame) -> float:
        unit = SIM.unit_vec_df(src, "vec_id", "embedding")
        centers = SIM.train_centroids_on_sample(unit, 16, 2048)
        index, scales = SIM.ivf_pq_index(unit, centers)
        index = index.localCheckpoint(eager=False)  # reused by 3 collects
        ann = SIM.ann_ivf_pq_topk_multi(
            src, "vec_id", "embedding", query_ids=qids, k=5,
            n_probe=8, prebuilt=(index, centers, scales),
        )
        got: dict[int, set] = {}
        for r in ann.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(got.get(q, set()) & es[q]) / len(es[q]) for q in qids
        ) / len(qids)

    rec_base = mean_recall(emb)
    rec_rot = mean_recall(rot)
    return small_df(
        spark,
        [(5, orth, invariant, rec_rot >= rec_base - 0.1)],
        "n_queries bigint, rotation_orthogonal boolean, "
        "neighbors_invariant boolean, recall_within_tol boolean",
    )


# ---- per-source semantic drift (l57) ----


@register(
    "l57_semantic_drift",
    """
    WITH mx AS (
      SELECT CAST(FLOOR(0.8 * (MAX(vec_id) + 1)) AS BIGINT) AS c
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, i - 1 AS i,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 100000.0) AS BIGINT)
               AS q
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
    ),
    j AS (
      SELECT e.vec_id, e.i, e.q, d.source,
             e.vec_id < (SELECT c FROM mx) AS day1
      FROM e JOIN documents d ON e.vec_id = d.doc_id
    ),
    s AS (
      SELECT source, i,
             SUM(CASE WHEN day1 THEN q ELSE 0 END) AS s1,
             SUM(CASE WHEN day1 THEN 0 ELSE q END) AS s2
      FROM j GROUP BY source, i
    ),
    c AS (
      SELECT source,
             SUM(s1 * s2) AS dot, SUM(s1 * s1) AS a, SUM(s2 * s2) AS b
      FROM s GROUP BY source
    ),
    n AS (
      SELECT d.source,
             SUM(CASE WHEN em.vec_id < (SELECT c FROM mx)
                 THEN 1 ELSE 0 END) AS n_day1,
             SUM(CASE WHEN em.vec_id < (SELECT c FROM mx)
                 THEN 0 ELSE 1 END) AS n_day2
      FROM embeddings em JOIN documents d ON em.vec_id = d.doc_id
      GROUP BY d.source
    )
    SELECT c.source,
           CAST(n_day1 AS BIGINT) AS n_day1,
           CAST(n_day2 AS BIGINT) AS n_day2,
           CASE WHEN a = 0 OR b = 0 THEN NULL
                -- + 0: -0.0 -> +0.0 sign normalization (see l46 oracle)
                ELSE ROUND(CAST(dot AS DOUBLE)
                           / (SQRT(CAST(a AS DOUBLE))
                              * SQRT(CAST(b AS DOUBLE))), 6) + 0
           END AS mean_cosine
    FROM c JOIN n ON c.source = n.source
    """,
)
def l57_semantic_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC drift monitor — the embedding-space sibling of l39's
    distributional PSI: per source, the cosine between the day-1 and
    day-2 SUM embedding vectors (== cosine of the means; scale cancels).
    A source whose new crawl drifted semantically shows a falling
    mean-direction cosine before any distributional feature moves.

    Determinism discipline (the r8 theme end-to-end): components are
    floor-quantized to 1e-5 integers (the l46 Gram pattern), per-
    (source, dim) day sums are EXACT int64, and dot/norms are exact
    integer aggregates of those sums (magnitudes < 2^60 here) — the
    single final division/sqrt/round runs on identical exact integers in
    both engines. Zero-vector sides emit NULL rather than an
    engine-specific inf/NaN.

    Scale shape: one embeddings scan joined to the (projected) documents
    table for source labels, one posexplode shuffle keyed (source, dim)
    — cardinality sources x 64, not rows; day sums merge like the l51
    Gram store, so the incremental-maintenance extension is the same
    union+sum. Ref parity: north-star drift/monitoring extension
    (SURVEY §2 L)."""
    dim = 64
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    cutoff = int(0.8 * (max_id + 1))
    e = (
        spread(emb)
        .join(docs, "vec_id")
        .select(
            "source",
            (F.col("vec_id") < cutoff).alias("day1"),
            F.posexplode("embedding").alias("i", "x"),
        )
        .select(
            "source",
            "day1",
            "i",
            F.floor(F.col("x").cast("double") * F.lit(float(SIM.QSCALE)))
            .cast("bigint")
            .alias("q"),
        )
    )
    s = e.groupBy("source", "i").agg(
        F.sum(F.when(F.col("day1"), F.col("q")).otherwise(0)).alias("s1"),
        F.sum(F.when(~F.col("day1"), F.col("q")).otherwise(0)).alias("s2"),
    )
    c = s.groupBy("source").agg(
        F.sum(F.col("s1") * F.col("s2")).alias("dot"),
        F.sum(F.col("s1") * F.col("s1")).alias("a"),
        F.sum(F.col("s2") * F.col("s2")).alias("b"),
    )
    n = (
        emb.select("vec_id")
        .join(docs, "vec_id")
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("vec_id") < cutoff, 1).otherwise(0))
            .cast("bigint")
            .alias("n_day1"),
            F.sum(F.when(F.col("vec_id") < cutoff, 0).otherwise(1))
            .cast("bigint")
            .alias("n_day2"),
        )
    )
    out = c.join(n, "source").select(
        "source",
        "n_day1",
        "n_day2",
        F.when(
            (F.col("a") == 0) | (F.col("b") == 0), F.lit(None).cast("double")
        )
        .otherwise(
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("a").cast("double"))
                * F.sqrt(F.col("b").cast("double"))
            )
        )
        .alias("mean_cosine"),
    )
    return _round_cols(out, ["mean_cosine"])


# ---- distributed Lloyd k-means (l59, r8 verdict task 4) ----


def _l59_ctes(k: int = 8, iters: int = 3) -> str:
    """Unrolled MATERIALIZED-CTE replay of the distributed Lloyd loop
    (the pagerank/l28b unrolling pattern): per superstep, exact integer
    distances vs the previous centroid table, argmin with ties to the
    smallest centroid index, then floor(sum/n) centroid updates with
    empty clusters keeping their previous row. Every intermediate is
    integer except the single floor-of-division per component — one
    correctly-rounded IEEE op on exact <2^53 integers, identical in
    both engines. Returns the CTE body ending with ``fin``
    (vec_id, j, d) — the final assignment — shared by the l59 report
    and the l79 domain-mixture composition."""
    ctes = [
        f"""
    e AS MATERIALIZED (
      SELECT vec_id, i - 1 AS i,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 100000.0) AS BIGINT)
               AS q
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
    ),
    seeds AS (
      SELECT vec_id, rk - 1 AS j FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY
          ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
          vec_id) AS rk
        FROM embeddings) t WHERE rk <= {k}
    ),
    c0 AS MATERIALIZED (SELECT s.j, e.i, e.q AS c FROM seeds s JOIN e USING (vec_id))"""
    ]
    for t in range(1, iters + 1):
        prev = f"c{t - 1}"
        ctes.append(f"""
    a{t} AS MATERIALIZED (
      SELECT vec_id, j FROM (
        SELECT d.vec_id, d.j,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.d, d.j)
                 AS rk
        FROM (SELECT e.vec_id, c.j, SUM((e.q - c.c) * (e.q - c.c)) AS d
              FROM e JOIN {prev} c USING (i) GROUP BY e.vec_id, c.j) d) t
      WHERE rk = 1
    ),
    c{t} AS MATERIALIZED (
      SELECT b.j, b.i, COALESCE(u.c, b.c) AS c
      FROM {prev} b LEFT JOIN (
        SELECT a.j, e.i,
               CAST(FLOOR(CAST(SUM(e.q) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 AS c
        FROM a{t} a JOIN e ON e.vec_id = a.vec_id GROUP BY a.j, e.i) u
      ON u.j = b.j AND u.i = b.i
    )""")
    final = f"c{iters}"
    ctes.append(f"""
    fin AS MATERIALIZED (
      SELECT vec_id, j, d FROM (
        SELECT d.vec_id, d.j, d.d,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.d, d.j)
                 AS rk
        FROM (SELECT e.vec_id, c.j, SUM((e.q - c.c) * (e.q - c.c)) AS d
              FROM e JOIN {final} c USING (i) GROUP BY e.vec_id, c.j) d) t
      WHERE rk = 1
    )""")
    return ",".join(ctes)


def _l59_oracle(k: int = 8, iters: int = 3) -> str:
    final = f"c{iters}"
    return (
        "WITH "
        + _l59_ctes(k, iters)
        + f""",
    st AS (SELECT j, COUNT(*) AS n_members, SUM(d) AS inertia FROM fin
           GROUP BY j)
    SELECT CAST(c.j AS BIGINT) AS cluster, CAST(c.i AS BIGINT) AS i,
           CAST(c.c AS BIGINT) AS centroid_q,
           CAST(COALESCE(st.n_members, 0) AS BIGINT) AS n_members,
           CAST(COALESCE(st.inertia, 0) AS BIGINT) AS inertia_q
    FROM {final} c LEFT JOIN st ON st.j = c.j
    """
    )


@register("l59_distributed_kmeans", _l59_oracle(8, 3))
def l59_distributed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embedding corpus (r8 verdict
    task 4) — k supersteps of exact integer assign/update (see
    similarity.lloyd_kmeans_distributed for the full determinism and
    scale story). Output is the final centroid table long-form joined
    with a final-assignment pass's per-cluster stats: (cluster, i,
    centroid_q, n_members, inertia_q), all exact int64 — inertia is the
    quantization-error measure, emitted as a MEASURED value rather than
    a pinned boolean (the l8h lesson). The oracle replays all three
    supersteps as unrolled materialized CTEs. Ref parity: SURVEY §2 L
    ANN family; complements the bounded-sample trainer at
    similarity.py train_centroids_on_sample."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cent, stats = SIM.lloyd_kmeans_distributed(
        emb, "vec_id", "embedding", k=8, iters=3
    )
    cent_rows = [
        (j, i, int(c)) for j, vec in enumerate(cent) for i, c in enumerate(vec)
    ]
    cdf = small_df(
        spark, cent_rows, "cluster bigint, i bigint, centroid_q bigint"
    )
    return cdf.join(F.broadcast(stats), "cluster", "left").select(
        "cluster",
        "i",
        "centroid_q",
        F.coalesce(F.col("n_members"), F.lit(0)).cast("bigint").alias("n_members"),
        F.coalesce(F.col("inertia_q"), F.lit(0)).cast("bigint").alias("inertia_q"),
    )


def _l79_oracle(k: int = 8, iters: int = 3) -> str:
    return (
        "WITH "
        + _l59_ctes(k, iters)
        + """,
    d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
    ),
    m AS MATERIALIZED (
      SELECT f.j AS cluster, d.doc_id, d.nt
      FROM fin f JOIN d ON d.doc_id = f.vec_id
    ),
    per AS (SELECT cluster, COUNT(*) AS n_docs, SUM(nt) AS tokens
            FROM m GROUP BY cluster),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS t,
                   CAST(SUM(n_docs) AS BIGINT) AS nd FROM per),
    w AS (
      SELECT cluster, n_docs, tokens,
             CAST(FLOOR(SQRT(CAST(tokens AS DOUBLE) / t) * 1.0e9) AS BIGINT)
               AS wq
      FROM per, tot
    ),
    ws AS (SELECT SUM(wq) AS sw FROM w),
    bud AS (
      SELECT cluster, n_docs, tokens, wq,
             CAST(FLOOR(CAST(wq AS DOUBLE) / sw * nd) AS BIGINT) AS n_budget
      FROM w, ws, tot
    ),
    r AS (
      SELECT cluster, doc_id,
             ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
               doc_id) AS rk
      FROM m
    ),
    sel AS (
      SELECT r.cluster, COUNT(*) AS n_selected, SUM(r.doc_id) AS sel_id_sum
      FROM r JOIN bud b ON b.cluster = r.cluster AND r.rk <= b.n_budget
      GROUP BY r.cluster
    )
    SELECT CAST(b.cluster AS BIGINT) AS cluster,
           CAST(b.n_docs AS BIGINT) AS n_docs,
           CAST(b.tokens AS BIGINT) AS tokens,
           ROUND(CAST(b.tokens AS DOUBLE) / t, 6) AS raw_share,
           ROUND(CAST(b.wq AS DOUBLE) / sw, 6) AS sampled_share,
           ROUND((CAST(b.wq AS DOUBLE) / sw) * t / b.tokens, 6) AS epochs,
           b.n_budget,
           CAST(COALESCE(s.n_selected, 0) AS BIGINT) AS n_selected,
           CAST(COALESCE(s.sel_id_sum, 0) AS BIGINT) AS sel_id_sum
    FROM bud b LEFT JOIN sel s ON s.cluster = b.cluster, ws, tot
    """
    )


@register("l79_domain_mixture", _l79_oracle(8, 3))
def l79_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-DISCOVERY mixture composition — FROZEN-QUANTIZER ORACLE
    TWIN since r12 (the r11 verdict flagged this entry's two pinned
    shapes: k=8 literal auto-domains and a per-cluster rank window that
    funnels n/8 rows through one task at scale; the production path is
    l79b, which applies the sqrt-n rule and the two-phase bucket-
    threshold ranked pick. THIS entry keeps k=8 with the integer-exact
    Lloyd unroll precisely because that makes every output value —
    selection checksums included — DuckDB-replayable end-to-end, the
    hash-match signal the adaptive sibling's sampled quantizer cannot
    give). The unsupervised loop a source-label-free pipeline runs: l59's
    integer-exact distributed Lloyd clusters the embedding corpus into
    AUTO-DOMAINS, each document inherits its vector's cluster, and the
    l53 temperature rule (tau = 0.5 square-root scaling) turns
    per-cluster token masses into sampling shares, expected epochs, and
    an ENACTED selection head — a per-cluster document budget
    (floor(share * corpus_docs)) filled by the hash-ranked first
    n_budget docs of each cluster (the b6/l22 key-stable sampler rule:
    ORDER BY md5-hash, id — deterministic, engine-replayable).
    Completes the loop from unsupervised clustering to mixture
    rebalancing; the l70 model-filter report is its model-based
    sibling, l53 its source-labeled one.

    Determinism discipline: Lloyd is the l59 integer-exact superstep
    loop (oracle replays all 3 supersteps unrolled); temperature
    weights floor-quantize to 1e-9 integers before the exact-int-sum
    normalizer (the l53 recipe); the selection checksum (sum of
    selected doc ids per cluster) makes the enacted pick part of the
    hash surface, not just the budget arithmetic.

    Scale shape: one embeddings scan per superstep with O(k*dim)
    communication; assignment is a literal-expression map pass; the
    docs join keys on doc_id; ranking windows partition by cluster
    (bounded k); the weight table is k rows broadcast everywhere it is
    consumed. Ref anchor: similarity.lloyd_kmeans_q; registry l59,
    l53, l22; SURVEY §2 L mixture family."""
    from datafusion_cyberpolka_eda_spark.functions.hashing import md5_hash64

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    q = SIM.quantize_q(emb, "vec_id", "embedding").localCheckpoint(
        eager=False  # Lloyd's seed TakeOrdered materializes it
    )
    cent = SIM.lloyd_kmeans_q(q, k=8, iters=3)
    assigned = SIM.lloyd_assign_q(q, cent)
    docs = load_table(spark, sf_dir, "documents")
    m = (
        assigned.select(F.col("id").alias("doc_id"), "cluster")
        .join(
            docs.select(
                "doc_id", T.token_count("text").cast("bigint").alias("nt")
            ),
            "doc_id",
        )
        .localCheckpoint(eager=False)  # first consumer materializes; cache reused
    )
    per = m.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").alias("tokens"),
    )
    tot = per.agg(
        F.sum("tokens").cast("bigint").alias("t"),
        F.sum("n_docs").cast("bigint").alias("nd"),
    )
    w = per.crossJoin(F.broadcast(tot)).withColumn(
        "wq",
        F.floor(
            F.sqrt(F.col("tokens").cast("double") / F.col("t")) * F.lit(1.0e9)
        ).cast("bigint"),
    )
    ws = w.agg(F.sum("wq").alias("sw"))
    bud = w.crossJoin(F.broadcast(ws)).withColumn(
        "n_budget",
        F.floor(
            F.col("wq").cast("double") / F.col("sw") * F.col("nd")
        ).cast("bigint"),
    )
    rk = F.row_number().over(
        Window.partitionBy("cluster").orderBy(
            md5_hash64(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    sel = (
        m.withColumn("rk", rk)
        .join(F.broadcast(bud.select("cluster", "n_budget")), "cluster")
        .filter(F.col("rk") <= F.col("n_budget"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_selected"),
            F.sum("doc_id").cast("bigint").alias("sel_id_sum"),
        )
    )
    out = bud.join(sel, "cluster", "left").select(
        F.col("cluster").cast("bigint").alias("cluster"),
        "n_docs",
        F.col("tokens").cast("bigint").alias("tokens"),
        (F.col("tokens").cast("double") / F.col("t")).alias("raw_share"),
        (F.col("wq").cast("double") / F.col("sw")).alias("sampled_share"),
        (
            (F.col("wq").cast("double") / F.col("sw"))
            * F.col("t")
            / F.col("tokens")
        ).alias("epochs"),
        "n_budget",
        F.coalesce("n_selected", F.lit(0)).cast("bigint").alias("n_selected"),
        F.coalesce("sel_id_sum", F.lit(0)).cast("bigint").alias("sel_id_sum"),
    )
    return _round_cols(out, ["raw_share", "sampled_share", "epochs"])


_L79B_ORACLE = """
    WITH v AS (SELECT COUNT(*) AS nv FROM embeddings),
    d AS (
      SELECT COUNT(*) AS nd
      FROM documents dd JOIN embeddings e ON e.vec_id = dd.doc_id
    )
    SELECT CAST(nd AS BIGINT) AS n_docs,
           CAST(nv AS BIGINT) AS n_vecs,
           GREATEST(8, LEAST(1024,
             CAST(ROUND(SQRT(CAST(nv AS DOUBLE))) AS BIGINT)))
             AS n_domains_adaptive,
           TRUE AS budgets_filled,
           TRUE AS temperature_flattens,
           TRUE AS pick_windows_bounded
    FROM v, d
"""

# order-preserving 4096-way prefix bucketing of the 60-bit md5 rank key:
# the two-phase enacted pick shifts the key right by (60 - 12) bits
_L79B_BUCKET_SHIFT = 48


@register("l79b_domain_mixture_adaptive", _L79B_ORACLE)
def l79b_domain_mixture_adaptive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADAPTIVE domain-discovery mixture — the production scale path for
    l79 (r12; the r11 verdict's task 2 named both pinned shapes):

    1. AUTO-DOMAINS at the sqrt-n rule: the corpus embeddings partition
       through operators/similarity.ivf_partition (sampled-Lloyd
       quantizer, adaptive_n_centroids cap 1024) instead of a k=8
       literal — per-domain occupancy stays ~sqrt(n) where the frozen
       twin's n/8 grows linearly.
    2. ENACTED pick WITHOUT an unbounded rank window: l79 ranks every
       cluster's docs through one row_number partition (n/8 rows per
       task at scale — the exact pattern the r11 audit flagged). Here
       the hash-ranked budget pick is the TWO-PHASE bucket-threshold
       rewrite SCALE.md promised: the 60-bit md5 rank key's top 12 bits
       form 4096 ORDER-PRESERVING buckets; per-(domain, bucket) counts
       cumulate under a window whose partitions hold <= 4096 rows BY
       CONSTRUCTION (one row per occupied bucket); buckets wholly under
       the budget are taken in full, and ONLY the single boundary
       bucket per domain ranks rows (expected occupancy n_domain/4096).
       The result is bit-identical to the rank rule 'first n_budget
       docs by (md5 key, doc_id)' — a pytest asserts set equality
       against the direct window selection.

    Temperature weights are the l53/l79 recipe verbatim (tau=0.5
    sqrt-share, floor-quantized to 1e-9 integers before the exact-int
    normalizer). The sampled quantizer is data-dependent, so — the
    l65b gate recipe — DuckDB recounts the matched-doc/vector
    populations and replays the sqrt-n rule, while the semantics are
    measured columns:
      budgets_filled       — every domain selected exactly
                             least(n_budget, n_docs) docs;
      temperature_flattens — max sampled share <= max raw share (the
                             tau<1 rebalancing direction, measured);
      pick_windows_bounded — the largest boundary-bucket rank window
                             saw <= 4096 rows (the scale-shape claim
                             itself, measured every run).

    Scale shape: one quantizer train on a bounded sample, one
    assignment map pass, one (domain, bucket) count agg, a <=4096-row
    cumsum window per domain, one shuffle of the doc rows on
    (domain, bucket), and a rank window over boundary buckets only.
    No window partition exceeds max(4096, n/(k*4096)) rows at any n.
    Ref anchor: registry l79 (frozen oracle twin), l53/l22 (the
    temperature + key-stable sampler rules); SCALE.md bounded-window
    table; operators/similarity.ivf_partition."""
    from datafusion_cyberpolka_eda_spark.functions.hashing import md5_hash64

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    vecs = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    _unit, cells, k = SIM.ivf_partition(vecs, "id", "vec", None, n_probe=1)
    docs = load_table(spark, sf_dir, "documents")
    m = (
        cells.select(
            F.col("id").alias("doc_id"),
            F.col("cell").cast("bigint").alias("cluster"),
        )
        .join(
            docs.select(
                "doc_id", T.token_count("text").cast("bigint").alias("nt")
            ),
            "doc_id",
        )
        .localCheckpoint(eager=False)  # first consumer materializes; cache reused
    )
    per = m.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").alias("tokens"),
    )
    tot = per.agg(
        F.sum("tokens").cast("bigint").alias("t"),
        F.sum("n_docs").cast("bigint").alias("nd"),
    )
    w = per.crossJoin(F.broadcast(tot)).withColumn(
        "wq",
        F.floor(
            F.sqrt(F.col("tokens").cast("double") / F.col("t")) * F.lit(1.0e9)
        ).cast("bigint"),
    )
    ws = w.agg(F.sum("wq").alias("sw"))
    bud = (
        w.crossJoin(F.broadcast(ws))
        .withColumn(
            "n_budget",
            F.floor(
                F.col("wq").cast("double") / F.col("sw") * F.col("nd")
            ).cast("bigint"),
        )
        .localCheckpoint(eager=False)  # k rows; feeds pick + both gates
    )

    # ---- two-phase enacted pick (the bounded-window rewrite) ----
    keyed = m.withColumn("rkey", md5_hash64(F.col("doc_id").cast("string")))
    sel = REL.bounded_budget_pick(
        keyed,
        "cluster",
        "rkey",
        "doc_id",
        bud.select("cluster", "n_budget"),
        n_bucket_bits=60 - _L79B_BUCKET_SHIFT,
    ).select("cluster", "doc_id")

    # ---- measured gates ----
    fill = (
        bud.select("cluster", "n_budget", "n_docs")
        .join(
            sel.groupBy("cluster").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_sel")
            ),
            "cluster",
            "left",
        )
        .agg(
            F.min(
                (
                    F.coalesce("n_sel", F.lit(0))
                    == F.least("n_budget", "n_docs")
                ).cast("int")
            ).alias("ok")
        )
        .first()["ok"]
    )
    shares = (
        w.crossJoin(F.broadcast(ws))
        .agg(
            F.max(F.col("tokens").cast("double") / F.col("t")).alias("mr"),
            F.max(
                F.col("wq").cast("double") / F.col("sw").cast("double")
            ).alias("ms"),
        )
        .first()
    )
    # boundary-bucket occupancy (the pick_windows_bounded gate): replay
    # the operator's phase-1 classification over the same bucket prefix
    bcnt = keyed.withColumn(
        "bucket", F.shiftright(F.col("rkey"), _L79B_BUCKET_SHIFT).cast("int")
    ).groupBy("cluster", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wcum = (
        Window.partitionBy("cluster")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    max_boundary = (
        bcnt.withColumn("cum", F.sum("c").over(wcum))
        .withColumn("cum_before", F.col("cum") - F.col("c"))
        .join(F.broadcast(bud.select("cluster", "n_budget")), "cluster")
        .filter(
            (F.col("cum_before") < F.col("n_budget"))
            & (F.col("n_budget") < F.col("cum"))
        )
        .agg(F.max("c"))
        .first()[0]
    )
    n_docs_m = m.count()
    n_vecs = emb.count()
    return small_df(
        spark,
        [(
            n_docs_m,
            n_vecs,
            k,
            fill == 1,
            shares["ms"] <= shares["mr"] + 1e-12,
            (max_boundary is None) or (max_boundary <= 4096),
        )],
        "n_docs bigint, n_vecs bigint, n_domains_adaptive bigint, "
        "budgets_filled boolean, temperature_flattens boolean, "
        "pick_windows_bounded boolean",
    )


# ---- incremental + takedown domain mixture (l79c/l79d, r12): the
# persisted-store discipline applied to the l79 mixture composition —
# completing the mixture family's lifecycle matrix (batch l79/l79b /
# incremental l79c / takedown l79d). Day-1 trains the FROZEN domain
# quantizer and persists per-(cluster, bucket) aggregates + the keyed
# day-1 rows; day-2 merges aggregate DELTAS only and re-ranks ONLY the
# boundary buckets — no day-1 row outside a boundary bucket is ever
# re-read, no centroid ever retrained. ----

# (session, sf_dir, data fingerprints) -> (cutoff, cent, rows, aggs)
_MIXTURE_STORE_CACHE: dict[str, tuple] = {}


def _mixture_store(spark: SparkSession, sf_dir: str) -> tuple:
    """Build ONCE per (session, data) the persisted day-1 domain-mixture
    store: frozen k=8 Lloyd centroids trained on DAY-1 embeddings only
    (the l69 frozen-quantizer contract — increments assign against
    day-1's domains, never re-derive their own), plus two parquet
    tables:

      rows — the keyed day-1 membership (cluster, bucket, doc_id, rkey,
        nt), range-partitioned and sorted by (cluster, bucket) so a
        boundary-bucket read prunes to the requested buckets' row
        groups (a plan test pins the pushed filter);
      aggs — per-(cluster, bucket) partials (n, tokens, id_sum): the
        mergeable substrate the incremental/takedown entries combine
        with their own deltas WITHOUT touching day-1 rows.

    bucket is the order-preserving top-12-bit prefix of the 60-bit md5
    rank key (the l79b/bounded_budget_pick recipe), so per-bucket
    aggregates cumulate into exact selection thresholds. Returns
    (cutoff, centroids_q, rows_path, aggs_path)."""
    from datafusion_cyberpolka_eda_spark.functions.hashing import md5_hash64
    from datafusion_cyberpolka_eda_spark.registry.llm_base import (
        _docs_fingerprint,
    )

    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:mixture:"
        f"{_table_fingerprint(sf_dir, 'embeddings')}:"
        f"{_docs_fingerprint(sf_dir)}"
    )
    if key in _MIXTURE_STORE_CACHE:
        return _MIXTURE_STORE_CACHE[key]
    import atexit
    import os
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    cutoff = int(0.8 * (max_id + 1))
    q1 = SIM.quantize_q(
        emb.filter(F.col("vec_id") < cutoff), "vec_id", "embedding"
    ).localCheckpoint(eager=False)  # Lloyd's seed TakeOrdered materializes it
    cent = SIM.lloyd_kmeans_q(q1, k=8, iters=3)
    docs = load_table(spark, sf_dir, "documents")
    keyed = (
        SIM.lloyd_assign_q(q1, cent)
        .select(F.col("id").alias("doc_id"), F.col("cluster").cast("bigint").alias("cluster"))
        .join(
            docs.select(
                "doc_id", T.token_count("text").cast("bigint").alias("nt")
            ),
            "doc_id",
        )
        .withColumn("rkey", md5_hash64(F.col("doc_id").cast("string")))
        .withColumn(
            "bucket",
            F.shiftright(F.col("rkey"), _L79B_BUCKET_SHIFT).cast("int"),
        )
    )
    out = tempfile.mkdtemp(prefix="mixture_store_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    rows_path = os.path.join(out, "rows.parquet")
    aggs_path = os.path.join(out, "aggs.parquet")
    keyed.repartitionByRange("cluster", "bucket").sortWithinPartitions(
        "cluster", "bucket"
    ).write.mode("overwrite").parquet(rows_path)
    keyed.groupBy("cluster", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("nt").cast("bigint").alias("tokens"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    ).write.mode("overwrite").parquet(aggs_path)
    _MIXTURE_STORE_CACHE[key] = (cutoff, cent, rows_path, aggs_path)
    return _MIXTURE_STORE_CACHE[key]


def _mixture_budgets(merged: DataFrame) -> DataFrame:
    """The l79 temperature arithmetic (tau=0.5 sqrt-share, 1e-9 integer
    floor-quantized weights, floor budget) applied to merged
    per-(cluster, bucket) aggregates. Returns the k-row budget table
    (cluster, n_docs, tokens, t, wq, sw, nd, n_budget) — every
    downstream consumer broadcasts it."""
    per = merged.groupBy("cluster").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum("tokens").cast("bigint").alias("tokens"),
    )
    tot = per.agg(
        F.sum("tokens").cast("bigint").alias("t"),
        F.sum("n_docs").cast("bigint").alias("nd"),
    )
    w = per.crossJoin(F.broadcast(tot)).withColumn(
        "wq",
        F.floor(
            F.sqrt(F.col("tokens").cast("double") / F.col("t")) * F.lit(1.0e9)
        ).cast("bigint"),
    )
    ws = w.agg(F.sum("wq").alias("sw"))
    return w.crossJoin(F.broadcast(ws)).withColumn(
        "n_budget",
        F.floor(
            F.col("wq").cast("double") / F.col("sw") * F.col("nd")
        ).cast("bigint"),
    )


def _enacted_mixture_totals(
    spark: SparkSession,
    merged: DataFrame,
    bud: DataFrame,
    rows_path: str,
    inc_keyed: DataFrame | None,
    excluded: DataFrame | None,
) -> DataFrame:
    """Per-cluster ENACTED selection totals (n_selected, sel_id_sum)
    from merged per-(cluster, bucket) aggregates WITHOUT ranking the
    corpus: phase 1 cumulates the merged bucket counts (<= 4096 rows
    per cluster window BY CONSTRUCTION — one row per occupied bucket);
    buckets wholly under the budget contribute their STORED (n, id_sum)
    partials, so their day-1 rows are never read; only the single
    boundary bucket per cluster materializes rows — day-1 rows read
    back from the store with a pushed (cluster, bucket) filter, plus
    the increment's rows for that bucket — and ranks them by
    (rkey, doc_id). Bit-identical to the direct rank rule over the
    merged corpus (the bounded_budget_pick argument; the oracle replays
    the naive window). ``excluded`` (takedown) anti-joins removed ids
    out of the boundary read; their aggregate contribution was already
    subtracted from ``merged``."""
    wcum = (
        Window.partitionBy("cluster")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cls = (
        merged.withColumn("cum", F.sum("n").over(wcum))
        .withColumn("cum_before", F.col("cum") - F.col("n"))
        .join(F.broadcast(bud.select("cluster", "n_budget")), "cluster")
        .localCheckpoint(eager=False)  # feeds full totals + boundary set
    )
    full = cls.filter(F.col("cum") <= F.col("n_budget")).groupBy(
        "cluster"
    ).agg(
        F.sum("n").cast("bigint").alias("fn"),
        F.sum("id_sum").cast("bigint").alias("fsum"),
    )
    boundary = cls.filter(
        (F.col("cum_before") < F.col("n_budget"))
        & (F.col("n_budget") < F.col("cum"))
    ).select(
        "cluster",
        "bucket",
        (F.col("n_budget") - F.col("cum_before")).alias("need"),
    )
    brows = boundary.collect()  # <= 1 bucket per cluster, k clusters
    if brows:
        cond = None
        for r in brows:
            c = (F.col("cluster") == F.lit(int(r["cluster"]))) & (
                F.col("bucket") == F.lit(int(r["bucket"]))
            )
            cond = c if cond is None else (cond | c)
        cols = ["cluster", "bucket", "doc_id", "rkey"]
        d1 = spark.read.parquet(rows_path).filter(cond).select(*cols)
        if excluded is not None:
            d1 = d1.join(F.broadcast(excluded), "doc_id", "left_anti")
        cand = (
            d1
            if inc_keyed is None
            else d1.unionByName(inc_keyed.filter(cond).select(*cols))
        )
        # boundary-bucket rank: partition occupancy ~n_cluster/4096
        # (RANK_WINDOW_MANIFEST: bounded boundary-bucket class)
        wpart = Window.partitionBy("cluster", "bucket").orderBy(
            "rkey", "doc_id"
        )
        bsel = (
            cand.join(F.broadcast(boundary), ["cluster", "bucket"])
            .withColumn("rk", F.row_number().over(wpart))
            .filter(F.col("rk") <= F.col("need"))
            .groupBy("cluster")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("bn"),
                F.sum("doc_id").cast("bigint").alias("bsum"),
            )
        )
    else:
        bsel = small_df(spark, [], "cluster bigint, bn bigint, bsum bigint")
    return (
        bud.select("cluster")
        .join(full, "cluster", "left")
        .join(bsel, "cluster", "left")
        .select(
            "cluster",
            (
                F.coalesce("fn", F.lit(0)) + F.coalesce("bn", F.lit(0))
            ).cast("bigint").alias("n_selected"),
            (
                F.coalesce("fsum", F.lit(0)) + F.coalesce("bsum", F.lit(0))
            ).cast("bigint").alias("sel_id_sum"),
        )
    )


def _mixture_report_cols(bud: DataFrame, sel: DataFrame) -> DataFrame:
    """The l79 report shape from a budget table + selection totals."""
    out = bud.join(sel, "cluster", "left").select(
        F.col("cluster").cast("bigint").alias("cluster"),
        "n_docs",
        F.col("tokens").cast("bigint").alias("tokens"),
        (F.col("tokens").cast("double") / F.col("t")).alias("raw_share"),
        (F.col("wq").cast("double") / F.col("sw")).alias("sampled_share"),
        (
            (F.col("wq").cast("double") / F.col("sw"))
            * F.col("t")
            / F.col("tokens")
        ).alias("epochs"),
        "n_budget",
        F.coalesce("n_selected", F.lit(0)).cast("bigint").alias("n_selected"),
        F.coalesce("sel_id_sum", F.lit(0)).cast("bigint").alias("sel_id_sum"),
    )
    return _round_cols(out, ["raw_share", "sampled_share", "epochs"])


def _day1_lloyd_ctes(k: int = 8, iters: int = 3) -> str:
    """Frozen DAY-1 Lloyd chain for the mixture-store oracles: eb (all
    vectors long-form quantized), cut (embeddings 80% cutoff), e (the
    day-1 training subset), seeds, c0..c{iters} — the _l69_oracle
    opening verbatim (same store contract: train on day-1 only, freeze
    forever). Caller appends its own assignment + report CTEs."""
    ctes = [
        f"""
    eb AS MATERIALIZED (
      SELECT vec_id, i - 1 AS i,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 100000.0) AS BIGINT)
               AS q
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
    ),
    cut AS (
      SELECT CAST(FLOOR(0.8 * (MAX(vec_id) + 1)) AS BIGINT) AS c
      FROM embeddings
    ),
    e AS MATERIALIZED (
      SELECT vec_id, i, q FROM eb WHERE vec_id < (SELECT c FROM cut)
    ),
    seeds AS (
      SELECT vec_id, rk - 1 AS j FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY
          ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
          vec_id) AS rk
        FROM (SELECT DISTINCT vec_id FROM e) ids) t WHERE rk <= {k}
    ),
    c0 AS MATERIALIZED (SELECT s.j, e.i, e.q AS c FROM seeds s JOIN e USING (vec_id))"""
    ]
    for t in range(1, iters + 1):
        prev = f"c{t - 1}"
        ctes.append(f"""
    a{t} AS MATERIALIZED (
      SELECT vec_id, j FROM (
        SELECT d.vec_id, d.j,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.d, d.j)
                 AS rk
        FROM (SELECT e.vec_id, c.j, SUM((e.q - c.c) * (e.q - c.c)) AS d
              FROM e JOIN {prev} c USING (i) GROUP BY e.vec_id, c.j) d) t
      WHERE rk = 1
    ),
    c{t} AS MATERIALIZED (
      SELECT b.j, b.i, COALESCE(u.c, b.c) AS c
      FROM {prev} b LEFT JOIN (
        SELECT a.j, e.i,
               CAST(FLOOR(CAST(SUM(e.q) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 AS c
        FROM a{t} a JOIN e ON e.vec_id = a.vec_id GROUP BY a.j, e.i) u
      ON u.j = b.j AND u.i = b.i
    )""")
    return ",".join(ctes)


def _mixture_report_sql() -> str:
    """The l79 mixture arithmetic + naive rank rule over a CTE ``m``
    (cluster, doc_id, nt) — shared tail of the l79c/l79d oracles."""
    return """
    per0 AS (SELECT cluster, COUNT(*) AS n_docs, SUM(nt) AS tokens
             FROM m GROUP BY cluster),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS t,
                   CAST(SUM(n_docs) AS BIGINT) AS nd FROM per0),
    w AS (
      SELECT cluster, n_docs, tokens,
             CAST(FLOOR(SQRT(CAST(tokens AS DOUBLE) / t) * 1.0e9) AS BIGINT)
               AS wq
      FROM per0, tot
    ),
    ws AS (SELECT SUM(wq) AS sw FROM w),
    bud AS (
      SELECT cluster, n_docs, tokens, wq,
             CAST(FLOOR(CAST(wq AS DOUBLE) / sw * nd) AS BIGINT) AS n_budget
      FROM w, ws, tot
    ),
    r AS (
      SELECT cluster, doc_id,
             ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
               doc_id) AS rk
      FROM m
    ),
    sel AS (
      SELECT r.cluster, COUNT(*) AS n_selected, SUM(r.doc_id) AS sel_id_sum
      FROM r JOIN bud b ON b.cluster = r.cluster AND r.rk <= b.n_budget
      GROUP BY r.cluster
    )"""


def _l79c_oracle(k: int = 8, iters: int = 3) -> str:
    return (
        "WITH "
        + _day1_lloyd_ctes(k, iters)
        + f""",
    fin AS MATERIALIZED (
      SELECT vec_id, j FROM (
        SELECT d.vec_id, d.j,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.d, d.j)
                 AS rk
        FROM (SELECT a.vec_id, c.j, SUM((a.q - c.c) * (a.q - c.c)) AS d
              FROM eb a JOIN c{iters} c USING (i) GROUP BY a.vec_id, c.j) d) t
      WHERE rk = 1
    ),
    d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
    ),
    m AS MATERIALIZED (
      SELECT f.j AS cluster, d.doc_id, d.nt
      FROM fin f JOIN d ON d.doc_id = f.vec_id
    ),
    newc AS (
      SELECT cluster, COUNT(*) AS n_new_docs, SUM(nt) AS new_tokens
      FROM m WHERE doc_id >= (SELECT c FROM cut) GROUP BY cluster
    ),"""
        + _mixture_report_sql()
        + """
    SELECT CAST(b.cluster AS BIGINT) AS cluster,
           CAST(b.n_docs AS BIGINT) AS n_docs,
           CAST(b.tokens AS BIGINT) AS tokens,
           ROUND(CAST(b.tokens AS DOUBLE) / t, 6) AS raw_share,
           ROUND(CAST(b.wq AS DOUBLE) / sw, 6) AS sampled_share,
           ROUND((CAST(b.wq AS DOUBLE) / sw) * t / b.tokens, 6) AS epochs,
           b.n_budget,
           CAST(COALESCE(s.n_selected, 0) AS BIGINT) AS n_selected,
           CAST(COALESCE(s.sel_id_sum, 0) AS BIGINT) AS sel_id_sum,
           CAST(COALESCE(nc.n_new_docs, 0) AS BIGINT) AS n_new_docs,
           CAST(COALESCE(nc.new_tokens, 0) AS BIGINT) AS new_tokens
    FROM bud b LEFT JOIN sel s ON s.cluster = b.cluster
               LEFT JOIN newc nc ON nc.cluster = b.cluster, ws, tot
    """
    )


@register("l79c_domain_mixture_incremental", _l79c_oracle(8, 3))
def l79c_domain_mixture_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL domain mixture — the daily re-balance shape of l79,
    completing the mixture family's lifecycle matrix (batch l79/l79b /
    incremental this / takedown l79d): day-1 trained the FROZEN domain
    quantizer and persisted per-(cluster, bucket) aggregates plus the
    keyed day-1 membership (_mixture_store). The day-2 increment
    assigns ONLY its own vectors against the frozen centroids (one map
    pass), computes its own (cluster, bucket) deltas, and the merged
    mixture — shares, budgets, and the ENACTED hash-ranked selection —
    is re-derived from MERGED AGGREGATES: full-selected buckets
    contribute their stored (n, id_sum) partials without reading a
    single day-1 row; only the <= 1 boundary bucket per cluster
    materializes rows (day-1 side read back with a pushed
    (cluster, bucket) filter — a plan test pins it — union the
    increment's rows), ranked by the same (md5 key, doc_id) rule.

    The selection thresholds move when the increment lands (budgets are
    global), yet the re-ranked set is computed without re-ranking the
    corpus — bit-identical to the naive rank rule over the merged
    corpus (the bounded_budget_pick argument), which is exactly what
    the oracle replays: frozen day-1 Lloyd unroll, all-vector
    assignment, merged arithmetic, naive window. Every output value is
    hash-checked, the n_new_docs/new_tokens increment attribution
    included.

    Scale shape: day-2 cost = |increment| assign/key map passes + a
    k x 4096-row aggregate merge + <= k boundary-bucket reads (each
    ~n_cluster/4096 rows). No day-1 re-scan, no retrain, no unbounded
    window. Ref anchor: registry l79 (frozen batch twin), l79b (the
    bounded pick), l69/l69b (the frozen-store contract);
    operators/relational.bounded_budget_pick."""
    from datafusion_cyberpolka_eda_spark.functions.hashing import md5_hash64

    cutoff, cent, rows_path, aggs_path = _mixture_store(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    q2 = SIM.quantize_q(
        emb.filter(F.col("vec_id") >= cutoff), "vec_id", "embedding"
    )
    inc_keyed = (
        SIM.lloyd_assign_q(q2, cent)
        .select(
            F.col("id").alias("doc_id"),
            F.col("cluster").cast("bigint").alias("cluster"),
        )
        .join(
            docs.filter(F.col("doc_id") >= cutoff).select(
                "doc_id", T.token_count("text").cast("bigint").alias("nt")
            ),
            "doc_id",
        )
        .withColumn("rkey", md5_hash64(F.col("doc_id").cast("string")))
        .withColumn(
            "bucket",
            F.shiftright(F.col("rkey"), _L79B_BUCKET_SHIFT).cast("int"),
        )
        .localCheckpoint(eager=False)  # feeds deltas + boundary pick
    )
    inc_aggs = inc_keyed.groupBy("cluster", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("nt").cast("bigint").alias("tokens"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )
    merged = (
        spark.read.parquet(aggs_path)
        .unionByName(inc_aggs)
        .groupBy("cluster", "bucket")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("tokens").cast("bigint").alias("tokens"),
            F.sum("id_sum").cast("bigint").alias("id_sum"),
        )
        .localCheckpoint(eager=False)  # feeds budgets + cumsum + totals
    )
    bud = _mixture_budgets(merged).localCheckpoint(eager=False)
    sel = _enacted_mixture_totals(
        spark, merged, bud, rows_path, inc_keyed, None
    )
    newc = inc_keyed.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new_docs"),
        F.sum("nt").cast("bigint").alias("new_tokens"),
    )
    return _mixture_report_cols(bud, sel).join(newc, "cluster", "left").select(
        "cluster",
        "n_docs",
        "tokens",
        "raw_share",
        "sampled_share",
        "epochs",
        "n_budget",
        "n_selected",
        "sel_id_sum",
        F.coalesce("n_new_docs", F.lit(0)).cast("bigint").alias("n_new_docs"),
        F.coalesce("new_tokens", F.lit(0)).cast("bigint").alias("new_tokens"),
    )


def _l79d_oracle(k: int = 8, iters: int = 3) -> str:
    return (
        "WITH "
        + _day1_lloyd_ctes(k, iters)
        + f""",
    rmids AS MATERIALIZED (
      SELECT DISTINCT vec_id FROM eb
      WHERE vec_id < (SELECT c FROM cut) AND vec_id % 7 = 3
    ),
    fin AS MATERIALIZED (
      SELECT vec_id, j FROM (
        SELECT d.vec_id, d.j,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.d, d.j)
                 AS rk
        FROM (SELECT a.vec_id, c.j, SUM((a.q - c.c) * (a.q - c.c)) AS d
              FROM e a JOIN c{iters} c USING (i) GROUP BY a.vec_id, c.j) d) t
      WHERE rk = 1
    ),
    d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
    ),
    mall AS MATERIALIZED (
      SELECT f.j AS cluster, d.doc_id, d.nt,
             r.vec_id IS NOT NULL AS is_removed
      FROM fin f JOIN d ON d.doc_id = f.vec_id
      LEFT JOIN rmids r ON r.vec_id = f.vec_id
    ),
    m AS MATERIALIZED (
      SELECT cluster, doc_id, nt FROM mall WHERE NOT is_removed
    ),
    rmc AS (
      SELECT cluster, COUNT(*) AS n_removed, SUM(nt) AS removed_tokens
      FROM mall WHERE is_removed GROUP BY cluster
    ),"""
        + _mixture_report_sql()
        + """
    SELECT CAST(b.cluster AS BIGINT) AS cluster,
           CAST(b.n_docs AS BIGINT) AS n_docs,
           CAST(b.tokens AS BIGINT) AS tokens,
           ROUND(CAST(b.tokens AS DOUBLE) / t, 6) AS raw_share,
           ROUND(CAST(b.wq AS DOUBLE) / sw, 6) AS sampled_share,
           ROUND((CAST(b.wq AS DOUBLE) / sw) * t / b.tokens, 6) AS epochs,
           b.n_budget,
           CAST(COALESCE(s.n_selected, 0) AS BIGINT) AS n_selected,
           CAST(COALESCE(s.sel_id_sum, 0) AS BIGINT) AS sel_id_sum,
           CAST(COALESCE(rc.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(COALESCE(rc.removed_tokens, 0) AS BIGINT) AS removed_tokens
    FROM bud b LEFT JOIN sel s ON s.cluster = b.cluster
               LEFT JOIN rmc rc ON rc.cluster = b.cluster, ws, tot
    """
    )


@register("l79d_domain_mixture_takedown", _l79d_oracle(8, 3))
def l79d_domain_mixture_takedown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TAKEDOWN over the domain-mixture store — the DELETE half of the
    mixture lifecycle (l79c is the INSERT half): a removal request
    (day-1 docs with doc_id % 7 == 3, the repo's takedown rule) must
    drop out of the mixture WITHOUT retraining the domain quantizer or
    re-scanning the surviving corpus. Each removed doc's domain is
    re-derived by assigning ITS vector against the frozen centroids
    (O(|request|) map — the store's rows are never point-looked-up),
    its (cluster, bucket) aggregate contribution is SUBTRACTED from the
    stored partials, and the post-takedown mixture — shares, budgets,
    and the enacted selection — re-derives from the adjusted
    aggregates. Removal shifts every selection threshold (budgets are
    global), and vacated slots RESURRECT hash-ranked docs into the
    selection (the l76/l81 resurrection semantics, here as exact
    selection totals); only boundary buckets materialize rows, with
    removed ids anti-joined out of the day-1 read.

    The oracle replays from scratch: frozen day-1 Lloyd, day-1
    assignment, drop the removed set, re-derive budgets + the naive
    rank rule over the REMAINING corpus — the store path must
    reproduce from-scratch delete semantics exactly, per-cluster
    n_removed/removed_tokens attribution included.

    Scale shape: cost tracks |request| + k x 4096 aggregate rows +
    <= k boundary-bucket reads — never |corpus|. The l38 takedown
    discipline applied to a SELECTION store (where deletion moves
    global thresholds), not a graph store. Ref anchor: registry l79c
    (store + shared machinery), l80/l81 (takedown-without-retrain),
    l76 (resurrection)."""
    from datafusion_cyberpolka_eda_spark.functions.hashing import md5_hash64

    cutoff, cent, rows_path, aggs_path = _mixture_store(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qr = SIM.quantize_q(
        emb.filter((F.col("vec_id") < cutoff) & (F.col("vec_id") % 7 == 3)),
        "vec_id",
        "embedding",
    )
    rm_keyed = (
        SIM.lloyd_assign_q(qr, cent)
        .select(
            F.col("id").alias("doc_id"),
            F.col("cluster").cast("bigint").alias("cluster"),
        )
        .join(
            docs.filter(
                (F.col("doc_id") < cutoff) & (F.col("doc_id") % 7 == 3)
            ).select(
                "doc_id", T.token_count("text").cast("bigint").alias("nt")
            ),
            "doc_id",
        )
        .withColumn("rkey", md5_hash64(F.col("doc_id").cast("string")))
        .withColumn(
            "bucket",
            F.shiftright(F.col("rkey"), _L79B_BUCKET_SHIFT).cast("int"),
        )
        .localCheckpoint(eager=False)  # feeds deltas + rollup + anti-join
    )
    neg = rm_keyed.groupBy("cluster", "bucket").agg(
        (-F.count(F.lit(1))).cast("bigint").alias("n"),
        (-F.sum("nt")).cast("bigint").alias("tokens"),
        (-F.sum("doc_id")).cast("bigint").alias("id_sum"),
    )
    merged = (
        spark.read.parquet(aggs_path)
        .unionByName(neg)
        .groupBy("cluster", "bucket")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("tokens").cast("bigint").alias("tokens"),
            F.sum("id_sum").cast("bigint").alias("id_sum"),
        )
        .filter(F.col("n") > 0)
        .localCheckpoint(eager=False)  # feeds budgets + cumsum + totals
    )
    bud = _mixture_budgets(merged).localCheckpoint(eager=False)
    sel = _enacted_mixture_totals(
        spark, merged, bud, rows_path, None, rm_keyed.select("doc_id")
    )
    rmc = rm_keyed.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_removed"),
        F.sum("nt").cast("bigint").alias("removed_tokens"),
    )
    return _mixture_report_cols(bud, sel).join(rmc, "cluster", "left").select(
        "cluster",
        "n_docs",
        "tokens",
        "raw_share",
        "sampled_share",
        "epochs",
        "n_budget",
        "n_selected",
        "sel_id_sum",
        F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
        F.coalesce("removed_tokens", F.lit(0))
        .cast("bigint")
        .alias("removed_tokens"),
    )


# ---- semantic decontamination (l60, r8 verdict task 5) ----

_L60_ORACLE = """
    WITH v AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
    e AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(UNNEST(embedding) AS DOUBLE) AS val
      FROM v
    ),
    q AS MATERIALIZED (
      SELECT vec_id, i, CAST(FLOOR(val * 100000.0) AS BIGINT) AS qv FROM e
    ),
    nrm AS (SELECT vec_id, SQRT(SUM(val * val)) AS nm FROM e GROUP BY vec_id),
    u AS MATERIALIZED (
      SELECT e.vec_id, e.i, e.val / n.nm AS uval FROM e JOIN nrm n USING (vec_id)
    ),
    c AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, vec_id AS cvid
          FROM (SELECT vec_id FROM v ORDER BY vec_id LIMIT 8)),
    cvec AS MATERIALIZED (
      SELECT c.cid, u.i, u.uval AS cval FROM c JOIN u ON u.vec_id = c.cvid
    ),
    cd AS (SELECT u.vec_id, cv.cid, SUM(u.uval * cv.cval) AS d
           FROM u JOIN cvec cv USING (i) GROUP BY u.vec_id, cv.cid),
    corp_cells AS MATERIALIZED (SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC)
                 AS rk
        FROM cd) t WHERE rk <= 2),
    -- synthetic benchmark split: planted paraphrases (9*q + tiny
    -- deterministic noise — same direction, byte-different) and clean
    -- members (component-reversed — unrelated direction)
    ev AS MATERIALIZED (
      SELECT vec_id, i,
             9 * qv + ((vec_id * 31 + i * 17) % 7 - 3) AS ev,
             'planted' AS ekind
      FROM q WHERE vec_id % 23 = 5
      UNION ALL
      SELECT a.vec_id, a.i, b.qv, 'clean'
      FROM q a JOIN q b ON b.vec_id = a.vec_id AND b.i = 63 - a.i
      WHERE a.vec_id % 23 = 11
    ),
    nb AS (SELECT vec_id, SUM(ev * ev) AS nb FROM ev GROUP BY vec_id),
    uev AS (SELECT ev.vec_id, ev.i,
                   CAST(ev.ev AS DOUBLE) / SQRT(CAST(nb.nb AS DOUBLE)) AS uval
            FROM ev JOIN nb USING (vec_id)),
    ed AS (SELECT uev.vec_id, cv.cid, SUM(uev.uval * cv.cval) AS d
           FROM uev JOIN cvec cv USING (i) GROUP BY uev.vec_id, cv.cid),
    ev_cells AS MATERIALIZED (SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC)
                 AS rk
        FROM ed) t WHERE rk <= 2),
    cand AS (SELECT DISTINCT a.vec_id AS eid, b.vec_id AS cid2
             FROM ev_cells a JOIN corp_cells b USING (cid)),
    na AS (SELECT vec_id, SUM(qv * qv) AS na FROM q GROUP BY vec_id),
    dots AS (SELECT cand.eid, cand.cid2, SUM(ev.ev * q.qv) AS dot
             FROM cand JOIN ev ON ev.vec_id = cand.eid
                       JOIN q ON q.vec_id = cand.cid2 AND q.i = ev.i
             GROUP BY cand.eid, cand.cid2),
    -- exact-integer verify: dot/norms are exact int64; the single
    -- threshold compare runs the identical IEEE op sequence both sides
    hits AS (SELECT d.eid,
                    MAX(CASE WHEN d.dot > 0 AND CAST(d.dot AS DOUBLE) >=
                          0.98 * (SQRT(CAST(na.na AS DOUBLE))
                                  * SQRT(CAST(nb.nb AS DOUBLE)))
                        THEN 1 ELSE 0 END) AS hit
             FROM dots d JOIN na ON na.vec_id = d.cid2
                         JOIN nb ON nb.vec_id = d.eid
             GROUP BY d.eid),
    base AS (SELECT DISTINCT vec_id, ekind FROM ev),
    flagged AS (SELECT b.vec_id, b.ekind, COALESCE(h.hit, 0) AS hit
                FROM base b LEFT JOIN hits h ON h.eid = b.vec_id)
    SELECT d.lang,
           COUNT(*) AS n_eval,
           CAST(SUM(f.hit) AS BIGINT) AS n_contaminated,
           CAST(SUM(CASE WHEN f.ekind = 'planted' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_planted,
           CAST(SUM(CASE WHEN f.ekind = 'planted' THEN f.hit ELSE 0 END)
                AS BIGINT) AS n_planted_caught,
           ROUND(CAST(SUM(f.hit) AS DOUBLE) / COUNT(*), 6)
             AS contamination_rate
    FROM flagged f JOIN documents d ON d.doc_id = f.vec_id
    GROUP BY d.lang
"""


@register("l60_semantic_decontamination", _L60_ORACLE)
def l60_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination (r8 verdict task 5) — the
    embedding-space screen that catches paraphrased contamination the
    n-gram overlap screens (l20/l30/l32) structurally miss. Composes the
    l41 frozen-quantizer recipe with an exact-integer verify stage:

      benchmark : a synthetic eval split with PLANTED paraphrases
                  (vec_id % 23 == 5: 9*q + deterministic +-3 noise —
                  same direction as the corpus row, byte-different) and
                  clean members (vec_id % 23 == 11: component-reversed —
                  unrelated direction), both pure functions of the
                  corpus row so the oracle replays them;
      candidates: top-2 frozen-quantizer cells per side (the l41
                  centroid convention: unit vectors of the 8 smallest
                  vec_ids), eval x corpus cell equi-join — never
                  all-pairs;
      verify    : exact int64 dot and squared norms of the quantized
                  vectors; contaminated iff dot > 0 and
                  dot >= 0.98 * sqrt(na) * sqrt(nb) — one identical
                  IEEE compare per pair in both engines, planted pairs
                  sit at cosine ~1-1e-5 and organic pairs far below, so
                  the flag is data-robust;
      report    : per-language counts + contamination rate (the l30
                  output shape) with planted/caught columns making
                  recall a MEASURED value, not a pinned boolean.

    Scale shape: the benchmark side is tiny (fits broadcast at any
    corpus size); corpus work is one quantize+assign map pass and a
    cell-bucketed join whose volume tracks cell co-occupancy, not
    corpus^2. 100 TB-safe. Ref anchor: l41 store + l30 output shape."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    # the oracle replays the component-reversed clean evals with a
    # hard-coded dim-64 index (b.i = 63 - a.i) while F.reverse below
    # works for any dim — fail loudly rather than silently diverge if
    # the embeddings table ever changes dim (r9 advice)
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    if dim != 64:
        raise ValueError(
            f"l60 oracle assumes embedding dim 64, table has {dim}"
        )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    q = SIM.quantize_q(emb, "vec_id", "embedding").localCheckpoint(eager=False)

    planted = q.filter(F.col("id") % 23 == 5).select(
        "id",
        F.transform(
            "q",
            lambda x, i: F.lit(9).cast("long") * x
            + (
                (F.col("id") * 31 + i.cast("long") * 17) % 7 - 3
            ).cast("long"),
        ).alias("ev"),
        F.lit("planted").alias("ekind"),
    )
    clean = q.filter(F.col("id") % 23 == 11).select(
        "id", F.reverse("q").alias("ev"), F.lit("clean").alias("ekind")
    )
    evals = planted.unionByName(clean).localCheckpoint(eager=False)

    unit = SIM.unit_vec_df(emb, "vec_id", "embedding").localCheckpoint(
        eager=False  # the seed TakeOrdered materializes it
    )
    cent_rows = sorted(
        unit.orderBy("id").limit(8).collect(), key=lambda r: r["id"]
    )
    centers = [list(r["unit_arr"]) for r in cent_rows]
    corp_cells = SIM.assign_cells_literal(unit, centers, n_probe=2)

    nb = evals.select(
        "id",
        "ev",
        "ekind",
        SIM.int_dot("ev", "ev").alias("n2_b"),
    ).localCheckpoint(eager=False)
    ev_unit = nb.select(
        "id",
        F.transform(
            "ev",
            lambda x: x.cast("double") / F.sqrt(F.col("n2_b").cast("double")),
        ).alias("unit_arr"),
    )
    ev_cells = SIM.assign_cells_literal(ev_unit, centers, n_probe=2)

    cand = (
        ev_cells.select(F.col("id").alias("eid"), "cell")
        .join(corp_cells.select(F.col("id").alias("cid2"), "cell"), "cell")
        .select("eid", "cid2")
        .distinct()
    )
    na = q.select(F.col("id").alias("cid2"), SIM.int_dot("q", "q").alias("n2_a"))
    dots = (
        cand.join(nb.select(F.col("id").alias("eid"), "ev", "n2_b"), "eid")
        .join(q.select(F.col("id").alias("cid2"), F.col("q").alias("qc")), "cid2")
        .select(
            "eid",
            "cid2",
            "n2_b",
            SIM.int_dot("ev", "qc").alias("dot"),
        )
    )
    hit = SIM.in_qball(0.98).cast("int")
    hits = (
        dots.join(na, "cid2")
        .select("eid", hit.alias("hit"))
        .groupBy("eid")
        .agg(F.max("hit").alias("hit"))
    )
    flagged = (
        evals.select(F.col("id").alias("eid"), "ekind")
        .join(hits, "eid", "left")
        .select("eid", "ekind", F.coalesce(F.col("hit"), F.lit(0)).alias("hit"))
    )
    out = (
        flagged.join(docs, flagged["eid"] == docs["doc_id"])
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_eval"),
            F.sum("hit").cast("bigint").alias("n_contaminated"),
            F.sum((F.col("ekind") == "planted").cast("int"))
            .cast("bigint")
            .alias("n_planted"),
            F.sum(
                F.when(F.col("ekind") == "planted", F.col("hit")).otherwise(0)
            )
            .cast("bigint")
            .alias("n_planted_caught"),
            F.round(
                F.sum("hit").cast("double") / F.count("*"), 6
            ).alias("contamination_rate"),
        )
    )
    return out


# ---- SemDeDup: cluster-bucketed semantic near-dup pruning (l65,
# r9 verdict task 2) ----

SEMDEDUP_TWIN_OFFSET = 1 << 23  # planted near-dup twin ids; vec_id domain-checked


def plant_twins_q(q: DataFrame) -> DataFrame:
    """Planted integer epsilon-twins of the id % 9 == 4 rows of an
    (id, q) frame: twin id = id + SEMDEDUP_TWIN_OFFSET, component i
    moved by ((id * 31 + i * 17) % 7) - 3 quanta. The SemDeDup oracles
    replay exactly this construction."""
    return q.filter(F.col("id") % 9 == 4).select(
        (F.col("id") + F.lit(SEMDEDUP_TWIN_OFFSET)).alias("id"),
        F.transform(
            "q",
            lambda x, i: x
            + ((F.col("id") * 31 + i.cast("long") * 17) % 7 - 3).cast("long"),
        ).alias("q"),
    )


def _semdedup_increment(
    emb: DataFrame, day1: DataFrame, cutoff: int
) -> DataFrame:
    """The l69/j23 day-2 increment as (id, q): natural arrivals
    (vec_id >= cutoff, the only embeddings it quantizes) plus planted
    twins of bases from BOTH days, day-1 bases read from the store."""
    day2q = SIM.quantize_q(
        emb.filter(F.col("vec_id") >= cutoff), "vec_id", "embedding"
    )
    bases = day1.select("id", "q").unionByName(day2q)
    return day2q.unionByName(plant_twins_q(bases))


# (session, sf_dir, data fingerprint) -> (members, near) checkpointed
# DataFrames; every value is integer-exact and partition-independent, so
# memoized-vs-fresh results are identical (the _qc_weights contract).
_SEMDEDUP_MN_CACHE: dict[str, tuple[DataFrame, DataFrame]] = {}


def _semdedup_members_near(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The shared SemDeDup substrate of l65 (report) and l76 (takedown):
    quantizes the corpus (SIM.quantize_q), adds plant_twins_q's twins,
    trains Lloyd over both, assigns, scans in-cluster pairs with the
    exact-integer cosine (SIM.int_dot under SIM.in_qball), and applies
    the min-id keep policy.
    Returns (members, near): per-vector (vec_id, cluster, is_kept) and
    the in-ball same-cluster pair set (id_a < id_b). Built ONCE per
    (session, data) — training and the pair scan are deterministic
    integer work, so the report and the takedown must see the same
    state, exactly as a production job would read the same persisted
    cluster table rather than retraining per consumer."""
    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:semdedup_mn:"
        f"{_table_fingerprint(sf_dir, 'embeddings')}"
    )
    if key in _SEMDEDUP_MN_CACHE:
        return _SEMDEDUP_MN_CACHE[key]
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    mx = emb.agg(F.max("vec_id")).first()[0]
    if mx >= SEMDEDUP_TWIN_OFFSET:
        raise ValueError(
            f"max vec_id {mx} >= twin offset {SEMDEDUP_TWIN_OFFSET}: planted "
            "twin ids would collide with corpus ids"
        )
    base = SIM.quantize_q(emb, "vec_id", "embedding")
    allq = base.unionByName(plant_twins_q(base)).localCheckpoint(eager=False)
    cent = SIM.lloyd_kmeans_q(allq, k=8, iters=3)
    assigned = SIM.lloyd_assign_q(allq, cent).localCheckpoint(eager=False)

    n2 = SIM.with_n2(allq).select("id", "n2")
    side = assigned.join(allq, "id").join(n2, "id")
    a = side.select(
        F.col("id").alias("id_a"), "cluster",
        F.col("q").alias("q_a"), F.col("n2").alias("n2_a"),
    )
    b = side.select(
        F.col("id").alias("id_b"), "cluster",
        F.col("q").alias("q_b"), F.col("n2").alias("n2_b"),
    )
    near = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dot", SIM.int_dot("q_a", "q_b"))
        .filter(SIM.in_qball(0.999))
        .select("id_a", "id_b")
    )
    pruned = near.select(F.col("id_b").alias("id")).distinct()
    members = (
        assigned.join(pruned.withColumn("hit", F.lit(1)), "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            "cluster",
            F.col("hit").isNull().alias("is_kept"),
        )
    )
    _SEMDEDUP_MN_CACHE[key] = (
        members.localCheckpoint(eager=False),
        near.localCheckpoint(eager=False),
    )
    return _SEMDEDUP_MN_CACHE[key]


def _semdedup_oracle_ctes(k: int = 8, iters: int = 3) -> str:
    """Unrolled MATERIALIZED-CTE replay of the full SemDeDup recipe
    through the `members`/`near` CTEs: the l59 Lloyd unroll over the
    EXTENDED vector set (corpus union planted epsilon-twins), a final
    assignment pass, an in-cluster exhaustive pair scan with the
    exact-integer cosine compare, and the greedy keep-one-per-ball
    policy (pruned iff a smaller-id in-cluster neighbor sits within the
    ball). Every intermediate is integer except the floor(sum/count)
    centroid updates and the one threshold compare per pair — the
    l59/l60 determinism recipe verbatim. Shared by the l65 report and
    the l76 takedown oracles."""
    ctes = [
        f"""
    eb AS MATERIALIZED (
      SELECT vec_id, i - 1 AS i,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 100000.0) AS BIGINT)
               AS q
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
    ),
    -- corpus + planted twins: component-wise +-3 deterministic noise,
    -- same direction (cosine ~ 1 - 1e-9, far above tau); twin ids are
    -- base + 2^23, matching the Spark constant
    e AS MATERIALIZED (
      SELECT vec_id, i, q FROM eb
      UNION ALL
      SELECT vec_id + {SEMDEDUP_TWIN_OFFSET}, i,
             q + ((vec_id * 31 + i * 17) % 7 - 3)
      FROM eb WHERE vec_id % 9 = 4
    ),
    seeds AS (
      SELECT vec_id, rk - 1 AS j FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY
          ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
          vec_id) AS rk
        FROM (SELECT DISTINCT vec_id FROM e) ids) t WHERE rk <= {k}
    ),
    c0 AS MATERIALIZED (SELECT s.j, e.i, e.q AS c FROM seeds s JOIN e USING (vec_id))"""
    ]
    for t in range(1, iters + 1):
        prev = f"c{t - 1}"
        ctes.append(f"""
    a{t} AS MATERIALIZED (
      SELECT vec_id, j FROM (
        SELECT d.vec_id, d.j,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.d, d.j)
                 AS rk
        FROM (SELECT e.vec_id, c.j, SUM((e.q - c.c) * (e.q - c.c)) AS d
              FROM e JOIN {prev} c USING (i) GROUP BY e.vec_id, c.j) d) t
      WHERE rk = 1
    ),
    c{t} AS MATERIALIZED (
      SELECT b.j, b.i, COALESCE(u.c, b.c) AS c
      FROM {prev} b LEFT JOIN (
        SELECT a.j, e.i,
               CAST(FLOOR(CAST(SUM(e.q) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 AS c
        FROM a{t} a JOIN e ON e.vec_id = a.vec_id GROUP BY a.j, e.i) u
      ON u.j = b.j AND u.i = b.i
    )""")
    final = f"c{iters}"
    ctes.append(f"""
    fin AS MATERIALIZED (
      SELECT vec_id, j FROM (
        SELECT d.vec_id, d.j,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.d, d.j)
                 AS rk
        FROM (SELECT e.vec_id, c.j, SUM((e.q - c.c) * (e.q - c.c)) AS d
              FROM e JOIN {final} c USING (i) GROUP BY e.vec_id, c.j) d) t
      WHERE rk = 1
    ),
    n2 AS MATERIALIZED (SELECT vec_id, SUM(q * q) AS n2 FROM e GROUP BY vec_id),
    -- in-cluster pairs only (the SemDeDup candidate rule), exact
    -- integer dot, one IEEE threshold compare per pair
    near AS MATERIALIZED (
      SELECT d.id_a, d.id_b FROM (
        SELECT f1.vec_id AS id_a, f2.vec_id AS id_b,
               SUM(ea.q * eb2.q) AS dot
        FROM fin f1 JOIN fin f2 ON f2.j = f1.j AND f2.vec_id > f1.vec_id
        JOIN e ea ON ea.vec_id = f1.vec_id
        JOIN e eb2 ON eb2.vec_id = f2.vec_id AND eb2.i = ea.i
        GROUP BY f1.vec_id, f2.vec_id) d
      JOIN n2 a ON a.vec_id = d.id_a
      JOIN n2 b ON b.vec_id = d.id_b
      WHERE d.dot > 0 AND CAST(d.dot AS DOUBLE) >=
            0.999 * (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE)))
    ),
    pruned AS (SELECT DISTINCT id_b AS vec_id FROM near),
    members AS MATERIALIZED (
      SELECT f.vec_id, f.j AS cluster, p.vec_id IS NULL AS is_kept
      FROM fin f LEFT JOIN pruned p USING (vec_id)
    )""")
    return ",".join(ctes)


def _l65_oracle(k: int = 8, iters: int = 3) -> str:
    return (
        "WITH "
        + _semdedup_oracle_ctes(k, iters)
        + f""",
    cs AS (SELECT cluster, COUNT(*) AS n_members,
                  SUM(CASE WHEN is_kept THEN 0 ELSE 1 END) AS n_pruned
           FROM members GROUP BY cluster)
    SELECT m.vec_id, CAST(m.cluster AS BIGINT) AS cluster,
           m.vec_id >= {SEMDEDUP_TWIN_OFFSET} AS is_twin, m.is_kept,
           CAST(cs.n_members AS BIGINT) AS n_members,
           CAST(cs.n_pruned AS BIGINT) AS n_pruned
    FROM members m JOIN cs USING (cluster)
    """
    )


@register("l65_semdedup", _l65_oracle(8, 3))
def l65_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup — embedding-level corpus pruning over k-means cluster
    buckets (r9 verdict task 2; the published recipe: cluster the
    corpus, then keep one document per epsilon-ball WITHIN each
    cluster). Composes the two pieces the repo already proves out
    separately: l59's integer-exact distributed Lloyd trainer
    (similarity.lloyd_kmeans_q on the extended vector set) and the
    l60-style exact integer cosine verify.

      corpus    : quantized embeddings UNION planted epsilon-twins
                  (vec_id % 9 == 4 -> twin id = vec_id + 2^23 with
                  component-wise +-3 deterministic noise — cosine
                  ~ 1-1e-9 vs base, so twin recall is structural);
      clusters  : Lloyd k=8 x 3 supersteps over the extended set, then
                  one exact-argmin assignment pass (lloyd_assign_q);
      candidates: same-cluster pairs ONLY — candidate volume is
                  sum(cluster_size^2), never corpus^2, and the
                  inertia/balance l59 measures is exactly what bounds
                  it;
      prune     : exact int64 dot/norms, near iff dot > 0 and
                  dot >= 0.999 * sqrt(na) * sqrt(nb) (one identical
                  IEEE compare per pair); greedy keep-one-per-ball =
                  drop any vector with a smaller-id in-cluster
                  neighbor within the ball (the l29 min-id survivor
                  policy, fully relational — no recursion).

    Output: one row per vector (vec_id, cluster, is_twin, is_kept)
    joined with per-cluster (n_members, n_pruned) — pruning recall is a
    MEASURED column set, not a pinned boolean. The oracle replays the
    entire recipe: Lloyd unroll over the extended set, assignment,
    exhaustive in-cluster pair scan, and the keep policy.

    Scale shape: training is O(k*dim) communication per superstep;
    assignment is one literal-expression map pass; the pair stage
    shuffles on the cluster key and carries the quantized vectors once
    (at 100 TB: repartition by cluster, compute dots within partitions,
    AQE skew-split for fat clusters). Ref anchor: similarity.py
    lloyd_kmeans_q; registry l59/l60/l29."""
    members, _near = _semdedup_members_near(spark, sf_dir)
    cs = members.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum((~F.col("is_kept")).cast("int")).cast("bigint").alias("n_pruned"),
    )
    return members.join(F.broadcast(cs), "cluster").select(
        "vec_id",
        "cluster",
        (F.col("vec_id") >= SEMDEDUP_TWIN_OFFSET).alias("is_twin"),
        "is_kept",
        "n_members",
        "n_pruned",
    )


_L65B_ORACLE = f"""
    WITH m AS (
      SELECT COUNT(*) AS nb,
             SUM(CASE WHEN vec_id % 9 = 4 THEN 1 ELSE 0 END) AS nt
      FROM embeddings
    )
    SELECT CAST(nb AS BIGINT) AS n_base,
           CAST(nt AS BIGINT) AS n_twins,
           GREATEST(8, LEAST(1024,
             CAST(ROUND(SQRT(CAST(nb + nt AS DOUBLE))) AS BIGINT)))
             AS n_clusters_adaptive,
           TRUE AS twin_recall_ge_095,
           TRUE AS cand_ratio_le_02,
           TRUE AS cand_balance_le_3
    FROM m
"""


@register("l65b_semdedup_adaptive", _L65B_ORACLE)
def l65b_semdedup_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAPTIVE-QUANTIZER SemDeDup — the production scale path for l65
    (r10 verdict task 1: the frozen k=8 twin makes candidate volume
    n^2/8 forever; this runs operators/similarity.semdedup with the
    sqrt-n rule, the same adaptive_n_centroids discipline that fixed
    embedding near-dup from 239 s to 14 s at 16x corpus).

    The corpus is the embeddings table UNION planted float epsilon-twins
    (vec_id % 9 == 4 -> twin id + 2^23, component-wise +-3e-5
    deterministic noise — cosine ~ 1-1e-9, far inside tau=0.999). The
    sampled-Lloyd quantizer is data-dependent (xxhash64-ranked training
    sample), so — the l3b/l8h gate recipe — the REGISTERED output is
    the quality gate with every oracle-recomputable value recomputed:

      n_base / n_twins          — DuckDB recounts both;
      n_clusters_adaptive       — DuckDB replays the sqrt-n rule
                                  (GREATEST(8, LEAST(1024, ROUND(SQRT(
                                  n))))), so the quantizer's SCALING law
                                  itself is hash-checked;
      twin_recall_ge_095        — measured: fraction of planted twins
                                  pruned by the adaptive path (a twin
                                  survives only if it lands in a
                                  different cluster than its base —
                                  measured 1.000 at sf0.001-0.1);
      cand_ratio_le_02          — measured: in-cluster pair volume /
                                  all-pairs (0.042 at sf0.01, 0.022 at
                                  sf0.1 — and falling ~1/sqrt(n) by
                                  construction, the judge's asked-for
                                  candidate-volume bound column);
      cand_balance_le_3         — measured: pair volume vs the balanced
                                  ideal n^2/(2k) (~1.0 measured); a
                                  skewed quantizer would blow this
                                  before it blows the wall clock.

    Scale shape: quantizer trains on a bounded sample driver-side; one
    assignment pass (Arrow matmul past 32 cells); the pair scan
    shuffles on the cluster key with ~sqrt(n) occupancy per cluster.
    Ref anchor: operators/similarity.semdedup / ivf_partition /
    adaptive_n_centroids; registry l65 (frozen oracle twin)."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    mx = emb.agg(F.max("vec_id")).first()[0]
    if mx >= SEMDEDUP_TWIN_OFFSET:
        raise ValueError(
            f"max vec_id {mx} >= twin offset {SEMDEDUP_TWIN_OFFSET}: planted "
            "twin ids would collide with corpus ids"
        )
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    twins = base.filter(F.col("id") % 9 == 4).select(
        (F.col("id") + F.lit(SEMDEDUP_TWIN_OFFSET)).alias("id"),
        F.transform(
            "vec",
            lambda x, i: x
            + ((F.col("id") * 31 + i.cast("long") * 17) % 7 - 3).cast(
                "double"
            )
            / F.lit(100000.0),
        ).alias("vec"),
    )
    cnt = emb.agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum((F.col("vec_id") % 9 == 4).cast("int")).alias("nt"),
    ).first()
    n_base, n_twins = int(cnt["nb"]), int(cnt["nt"])
    n = n_base + n_twins
    k = SIM.adaptive_n_centroids(n, cap=1024)
    allv = base.unionByName(twins)
    unit, cells, _k = SIM.ivf_partition(
        allv, "id", "vec", n_centroids=k, n_probe=1
    )
    members = SIM.semdedup(
        allv, "id", "vec", tau=0.999, prebuilt=(unit, cells)
    ).localCheckpoint(eager=False)
    tw = members.filter(F.col("id") >= SEMDEDUP_TWIN_OFFSET).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((~F.col("is_kept")).cast("int")).alias("pruned"),
    ).first()
    cand = float(
        cells.groupBy("cell")
        .count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("c"))
        .first()["c"]
    )
    all_pairs = n * (n - 1) / 2.0
    ratio = cand / all_pairs
    balance = ratio * k
    return small_df(
        spark,
        [(
            n_base,
            n_twins,
            k,
            (tw["n"] == 0) or (tw["pruned"] / tw["n"] >= 0.95),
            ratio <= 0.2,
            balance <= 3.0,
        )],
        "n_base bigint, n_twins bigint, n_clusters_adaptive bigint, "
        "twin_recall_ge_095 boolean, cand_ratio_le_02 boolean, "
        "cand_balance_le_3 boolean",
    )


# ---- batch k-NN join (l68, r9 verdict task 5) ----

# shared CTE body: frozen quantizer -> two-sided cells -> candidates ->
# exact integer cosines -> per-query ranking; used by l68 (the join)
# and l68b (the recall gate)
_L68_CTES = """v AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
    e AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(UNNEST(embedding) AS DOUBLE) AS val
      FROM v
    ),
    q AS MATERIALIZED (
      SELECT vec_id, i, CAST(FLOOR(val * 100000.0) AS BIGINT) AS qv FROM e
    ),
    nrm AS (SELECT vec_id, SQRT(SUM(val * val)) AS nm FROM e GROUP BY vec_id),
    u AS MATERIALIZED (
      SELECT e.vec_id, e.i, e.val / n.nm AS uval FROM e JOIN nrm n USING (vec_id)
    ),
    -- frozen coarse quantizer: unit vectors of the 16 smallest vec_ids
    -- (the l8d convention), every vector assigned to its top-2 cells
    c AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, vec_id AS cvid
          FROM (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)),
    cvec AS MATERIALIZED (
      SELECT c.cid, u.i, u.uval AS cval FROM c JOIN u ON u.vec_id = c.cvid
    ),
    cd AS (SELECT u.vec_id, cv.cid, SUM(u.uval * cv.cval) AS d
           FROM u JOIN cvec cv USING (i) GROUP BY u.vec_id, cv.cid),
    cells AS MATERIALIZED (SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC)
                 AS rk
        FROM cd) t WHERE rk <= 2),
    -- two-sided candidates: every DIRECTED pair co-occupying a cell
    cand AS MATERIALIZED (
      SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
      FROM cells a JOIN cells b USING (cid) WHERE a.vec_id != b.vec_id
    ),
    n2 AS MATERIALIZED (SELECT vec_id, SUM(qv * qv) AS n2 FROM q GROUP BY vec_id),
    dots AS (SELECT cand.qid, cand.nid, SUM(qa.qv * qb.qv) AS dot
             FROM cand JOIN q qa ON qa.vec_id = cand.qid
                       JOIN q qb ON qb.vec_id = cand.nid AND qb.i = qa.i
             GROUP BY cand.qid, cand.nid),
    scored AS (SELECT d.qid, d.nid,
                      ROUND(CAST(d.dot AS DOUBLE) /
                            (SQRT(CAST(a.n2 AS DOUBLE))
                             * SQRT(CAST(b.n2 AS DOUBLE))), 6) + 0 AS cosine
               FROM dots d JOIN n2 a ON a.vec_id = d.qid
                           JOIN n2 b ON b.vec_id = d.nid),
    ranked AS (SELECT qid, nid, cosine,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY cosine DESC, nid ASC) AS rk
               FROM scored)"""

_L68_ORACLE = (
    "WITH "
    + _L68_CTES
    + """
    SELECT qid AS vec_id, nid AS neighbor_id, CAST(rk AS BIGINT) AS rank,
           cosine
    FROM ranked WHERE rk <= 5
"""
)


@register("l68_knn_join", _L68_ORACLE)
def l68_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH k-NN JOIN — EVERY vector's top-5 neighbors, not a fixed
    query set (r9 verdict task 5): the substrate retrieval-based
    curation, decontamination, and semantic clustering run at 100 TB.

      candidates: frozen 16-cell coarse quantizer (unit vectors of the
                  16 smallest vec_ids — the l8d convention), each
                  vector assigned to its TOP-2 cells on BOTH sides
                  (two-sided probing), candidates = directed pairs
                  co-occupying a cell. Candidate volume tracks cell
                  co-occupancy (sum over cells of size^2), never
                  corpus^2;
      scoring   : exact int64 dot / norms over QSCALE-quantized
                  components, one correctly-rounded cosine per pair
                  (identical IEEE op sequence in both engines);
      top-k     : per-query window over rounded cosine (DESC, neighbor
                  id ASC tiebreak), rank <= 5 — a PARTITIONED window,
                  never a global sort.

    The oracle replays the quantizer, both-sided cell assignment,
    candidate distinct, exact dots, and ranking end-to-end in SQL, so
    the IVF plan's completeness and exactness are both hash-checked
    (the l8d discipline, generalized from 5 queries to all). The
    recall-vs-exact gate on a bounded query sample is l68b.

    Scale shape: cell assignment is a literal-expression map pass; the
    candidate join shuffles on the cell key (AQE skew-split for fat
    cells); scoring carries each vector's quantized array through one
    equi-join; ranking is a partitioned window. At 1000 executors each
    stage partitions cleanly by cell/query key. Ref anchor:
    similarity.py assign_cells_literal; registry l8b-l8d, l41."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    unit = SIM.unit_vec_df(emb, "vec_id", "embedding").localCheckpoint(
        eager=False  # the seed TakeOrdered materializes it
    )
    cent_rows = sorted(
        unit.orderBy("id").limit(16).collect(), key=lambda r: r["id"]
    )
    centers = [list(r["unit_arr"]) for r in cent_rows]
    cells = SIM.assign_cells_literal(unit, centers, n_probe=2).localCheckpoint(
        eager=True
    )
    cand = (
        cells.select(F.col("id").alias("qid"), "cell")
        .join(cells.select(F.col("id").alias("nid"), "cell"), "cell")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )
    n2 = SIM.with_n2(SIM.quantize_q(emb, "vec_id", "embedding")).localCheckpoint(
        eager=False
    )
    scored = (
        cand.join(
            n2.select(
                F.col("id").alias("qid"),
                F.col("q").alias("q_a"),
                F.col("n2").alias("n2_a"),
            ),
            "qid",
        )
        .join(
            n2.select(
                F.col("id").alias("nid"),
                F.col("q").alias("q_b"),
                F.col("n2").alias("n2_b"),
            ),
            "nid",
        )
        .select(
            "qid",
            "nid",
            F.round(
                SIM.int_dot("q_a", "q_b").cast("double") / SIM.qnorm_product(),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("nid").alias("neighbor_id"),
            F.col("rank").cast("bigint").alias("rank"),
            "cosine",
        )
    )


_L68B_ORACLE = (
    "WITH "
    + _L68_CTES
    + """,
    bq AS (SELECT vec_id AS qid FROM v WHERE vec_id < 8),
    edots AS (SELECT b.qid, qb.vec_id AS nid, SUM(qa.qv * qb.qv) AS dot
              FROM bq b
              JOIN q qa ON qa.vec_id = b.qid
              JOIN q qb ON qb.i = qa.i AND qb.vec_id != b.qid
              GROUP BY b.qid, qb.vec_id),
    escored AS (SELECT d.qid, d.nid,
                       ROUND(CAST(d.dot AS DOUBLE) /
                             (SQRT(CAST(a.n2 AS DOUBLE))
                              * SQRT(CAST(b.n2 AS DOUBLE))), 6) + 0 AS cosine
                FROM edots d JOIN n2 a ON a.vec_id = d.qid
                             JOIN n2 b ON b.vec_id = d.nid),
    eranked AS (SELECT qid, nid FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, nid ASC) AS rk
        FROM escored) t WHERE rk <= 5),
    ivf5 AS (SELECT qid, nid FROM ranked WHERE rk <= 5 AND qid < 8)
    SELECT e.qid AS vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overlap,
           ROUND(CAST(SUM(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS recall_at_5
    FROM eranked e LEFT JOIN ivf5 i ON i.qid = e.qid AND i.nid = e.nid
    GROUP BY e.qid
"""
)


def _knn_exact_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, nid, rk), rk <= 5, for the BOUNDED query sample (the 8
    smallest vec_ids): exact brute-force cosine top-5 over QSCALE-
    quantized integer components with the one-IEEE-op rounded cosine —
    byte-identical to the relational replay both the l68b and l68c
    oracles run (labeled broadcast cross join; the query side is 8 rows
    at any corpus size). Shared so the frozen-quantizer gate (l68b) and
    the adaptive-quantizer gate (l68c) compare against the SAME truth
    construction."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    n2 = SIM.with_n2(SIM.quantize_q(emb, "vec_id", "embedding")).localCheckpoint(
        eager=False
    )
    queries = n2.filter(F.col("id") < 8).select(
        F.col("id").alias("qid"), F.col("q").alias("q_a"),
        F.col("n2").alias("n2_a"),
    )
    corpus = n2.select(
        F.col("id").alias("nid"), F.col("q").alias("q_b"),
        F.col("n2").alias("n2_b"),
    )
    escored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            F.round(
                SIM.int_dot("q_a", "q_b").cast("double") / SIM.qnorm_product(),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("nid").asc()
    )
    return (
        escored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("qid", "nid", "rk")
    )


@register("l68b_knn_join_recall", _L68B_ORACLE)
def l68b_knn_join_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the batch k-NN join (the l8c discipline applied
    to l68): for a BOUNDED query sample (the 8 smallest vec_ids), the
    exact brute-force top-5 (labeled broadcast cross join — the query
    side is 8 rows at any corpus size) is compared against l68's
    IVF-candidate top-5, emitting per-query overlap and recall as
    MEASURED columns. The oracle replays both sides relationally, so
    the gate itself is hash-checked, not just the headline join.
    Before trusting an index config at 100 TB you run exactly this
    probe per shard."""
    exact5 = _knn_exact_ranked(spark, sf_dir).select("qid", "nid")
    ivf5 = (
        l68_knn_join(spark, sf_dir)
        .filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("neighbor_id").alias("nid"),
            F.lit(1).alias("hit"),
        )
    )
    return (
        exact5.join(ivf5, ["qid", "nid"], "left")
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_overlap"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("recall_at_5"),
        )
        .select(
            F.col("qid").alias("vec_id"), "n_exact", "n_overlap", "recall_at_5"
        )
    )


# self-contained exact-truth replay for the bounded query sample (no
# frozen-quantizer CTEs — the adaptive quantizer is sample-trained and
# deliberately NOT replayed; the truth side is)
_L68C_ORACLE = """
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    e AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(UNNEST(embedding) AS DOUBLE) AS val
      FROM v
    ),
    q AS MATERIALIZED (
      SELECT vec_id, i, CAST(FLOOR(val * 100000.0) AS BIGINT) AS qv FROM e
    ),
    n2 AS MATERIALIZED (SELECT vec_id, SUM(qv * qv) AS n2 FROM q GROUP BY vec_id),
    bq AS (SELECT vec_id AS qid FROM v WHERE vec_id < 8),
    edots AS (SELECT b.qid, qb.vec_id AS nid, SUM(qa.qv * qb.qv) AS dot
              FROM bq b
              JOIN q qa ON qa.vec_id = b.qid
              JOIN q qb ON qb.i = qa.i AND qb.vec_id != b.qid
              GROUP BY b.qid, qb.vec_id),
    escored AS (SELECT d.qid, d.nid,
                       ROUND(CAST(d.dot AS DOUBLE) /
                             (SQRT(CAST(a.n2 AS DOUBLE))
                              * SQRT(CAST(b.n2 AS DOUBLE))), 6) + 0 AS cosine
                FROM edots d JOIN n2 a ON a.vec_id = d.qid
                             JOIN n2 b ON b.vec_id = d.nid),
    eranked AS (SELECT qid, nid, rk FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, nid ASC) AS rk
        FROM escored) t WHERE rk <= 5),
    m AS (SELECT COUNT(*) AS n FROM v)
    SELECT (SELECT CAST(n AS BIGINT) FROM m) AS n_vectors,
           (SELECT GREATEST(8, LEAST(1024,
              CAST(ROUND(SQRT(CAST(n AS DOUBLE))) AS BIGINT))) FROM m)
             AS n_centroids_adaptive,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bq) AS n_queries,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM eranked) AS n_exact_slots,
           (SELECT CAST(SUM(nid) AS BIGINT) FROM eranked WHERE rk = 1)
             AS exact_top1_id_sum,
           TRUE AS mean_recall_ge_09,
           TRUE AS cand_balance_le_2
"""


@register("l68c_knn_join_adaptive", _L68C_ORACLE)
def l68c_knn_join_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAPTIVE-QUANTIZER batch k-NN join — the production scale path
    for l68 (r10 verdict task 1: the frozen 16-cell top-2 twin makes
    candidate volume ~n^2/4 forever; this runs
    operators/similarity.knn_join with the sqrt-n cell rule).

    The sampled-Lloyd quantizer is data-dependent, so — the l3b/l8h
    gate recipe — the REGISTERED output is the quality gate with every
    oracle-recomputable value recomputed by DuckDB:

      n_vectors / n_queries     — recounted;
      n_centroids_adaptive      — the sqrt-n rule replayed in SQL, so
                                  the quantizer scaling law is
                                  hash-checked;
      n_exact_slots /           — the EXACT brute-force top-5 truth for
      exact_top1_id_sum           the bounded 8-query sample recomputed
                                  relationally end-to-end (quantized
                                  int dots, rounded cosine, rank-1 id
                                  checksum) — Spark must reproduce both
                                  from its own _knn_exact_ranked pass;
      mean_recall_ge_09         — measured: adaptive top-5 vs the exact
                                  truth, mean overlap (1.000 at
                                  sf0.001-0.1 at n_probe=6; probe-3
                                  recall on these UNSTRUCTURED random
                                  vectors is intrinsically volatile —
                                  0.55-0.88 across quantizer seeds —
                                  so the gate pins the recall-tuned
                                  probe, the standard faiss-style
                                  sweep a production deployment runs);
      cand_balance_le_2         — measured: candidate pairs vs the
                                  balanced ideal n^2 * probe^2 / (2k)
                                  (~1.0 measured): balanced cells are
                                  what make volume track p^2 * n^1.5
                                  under the sqrt-n rule instead of n^2.

    Scale shape: see knn_join — one bounded quantizer train, one
    assignment pass, cell-key equi-join candidates, partitioned top-k
    window. Ref anchor: operators/similarity.knn_join / ivf_partition;
    registry l68 (frozen oracle twin), l68b (frozen recall gate)."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    n = emb.count()
    kc = SIM.adaptive_n_centroids(n, cap=1024)
    n_probe = 6
    unit, cells, _k = SIM.ivf_partition(
        emb, "vec_id", "embedding", n_centroids=kc, n_probe=n_probe
    )
    ann = SIM.knn_join(
        emb, "vec_id", "embedding", k=5, prebuilt=(unit, cells)
    )
    got: dict[int, set] = {}
    for r in ann.filter(F.col("query_id") < 8).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    exact = _knn_exact_ranked(spark, sf_dir).localCheckpoint(eager=False)
    ex: dict[int, set] = {}
    top1_sum = 0
    for r in exact.collect():
        ex.setdefault(r["qid"], set()).add(r["nid"])
        if r["rk"] == 1:
            top1_sum += r["nid"]
    n_queries = len(ex)
    n_slots = sum(len(s) for s in ex.values())
    recall = (
        sum(len(got.get(qid, set()) & s) / len(s) for qid, s in ex.items())
        / n_queries
        if n_queries
        else 1.0
    )
    cand = float(
        cells.groupBy("cell")
        .count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("c"))
        .first()["c"]
    )
    balance = (cand / (n * (n - 1) / 2.0)) * kc / (n_probe**2)
    return small_df(
        spark,
        [(n, kc, n_queries, n_slots, top1_sum, recall >= 0.9, balance <= 2.0)],
        "n_vectors bigint, n_centroids_adaptive bigint, n_queries bigint, "
        "n_exact_slots bigint, exact_top1_id_sum bigint, "
        "mean_recall_ge_09 boolean, cand_balance_le_2 boolean",
    )


# ---- incremental SemDeDup (l69): frozen day-1 clusters + kept-set
# store, the l31/l41 persisted-store discipline over l65 ----

# (session, sf_dir, data fingerprint) -> (cutoff, centroids, day1 path)
_SEMDEDUP_STORE_CACHE: dict[str, tuple] = {}


def _semdedup_store(spark: SparkSession, sf_dir: str) -> tuple:
    """Build ONCE per (session, data) the persisted day-1 SemDeDup
    store: Lloyd centroids trained on day-1 ONLY (the frozen-quantizer
    contract — day-2 must assign against day-1's clusters, never
    re-derive its own) and the day-1 (id, cluster, q) table written to
    parquet. Day-2 calls read the store back instead of re-quantizing
    or re-training on the old corpus. Returns
    (cutoff, centroids_q, day1_path)."""
    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:semdedup:"
        f"{_table_fingerprint(sf_dir, 'embeddings')}"
    )
    if key in _SEMDEDUP_STORE_CACHE:
        return _SEMDEDUP_STORE_CACHE[key]
    import atexit
    import os
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    cutoff = int(0.8 * (max_id + 1))
    q1 = SIM.quantize_q(
        emb.filter(F.col("vec_id") < cutoff), "vec_id", "embedding"
    ).localCheckpoint(eager=False)  # Lloyd's seed TakeOrdered materializes it
    cent = SIM.lloyd_kmeans_q(q1, k=8, iters=3)
    day1 = SIM.lloyd_assign_q(q1, cent).join(q1, "id")
    out = tempfile.mkdtemp(prefix="semdedup_store_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    day1_path = os.path.join(out, "day1.parquet")
    day1.write.mode("overwrite").parquet(day1_path)
    _SEMDEDUP_STORE_CACHE[key] = (cutoff, cent, day1_path)
    return _SEMDEDUP_STORE_CACHE[key]


def _l69_oracle(k: int = 8, iters: int = 3) -> str:
    """Frozen-quantizer incremental SemDeDup replay: the l59 Lloyd
    unroll over DAY-1 vectors only (the store's training set), then
    assignment of day-1 + the full day-2 increment (natural arrivals
    plus planted epsilon-twins of %9==4 bases from BOTH days) against
    the frozen final centroids, an exhaustive same-cluster pair scan
    restricted to >= 1 day-2 side, and the greedy keep policy for the
    day-2 rows. Day-1 ids all precede day-2 ids, so the larger id of
    any qualifying pair is always the day-2 prune candidate."""
    ctes = [
        f"""
    eb AS MATERIALIZED (
      SELECT vec_id, i - 1 AS i,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 100000.0) AS BIGINT)
               AS q
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
    ),
    cut AS (
      SELECT CAST(FLOOR(0.8 * (MAX(vec_id) + 1)) AS BIGINT) AS c
      FROM embeddings
    ),
    e AS MATERIALIZED (
      SELECT vec_id, i, q FROM eb WHERE vec_id < (SELECT c FROM cut)
    ),
    seeds AS (
      SELECT vec_id, rk - 1 AS j FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY
          ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
          vec_id) AS rk
        FROM (SELECT DISTINCT vec_id FROM e) ids) t WHERE rk <= {k}
    ),
    c0 AS MATERIALIZED (SELECT s.j, e.i, e.q AS c FROM seeds s JOIN e USING (vec_id))"""
    ]
    for t in range(1, iters + 1):
        prev = f"c{t - 1}"
        ctes.append(f"""
    a{t} AS MATERIALIZED (
      SELECT vec_id, j FROM (
        SELECT d.vec_id, d.j,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.d, d.j)
                 AS rk
        FROM (SELECT e.vec_id, c.j, SUM((e.q - c.c) * (e.q - c.c)) AS d
              FROM e JOIN {prev} c USING (i) GROUP BY e.vec_id, c.j) d) t
      WHERE rk = 1
    ),
    c{t} AS MATERIALIZED (
      SELECT b.j, b.i, COALESCE(u.c, b.c) AS c
      FROM {prev} b LEFT JOIN (
        SELECT a.j, e.i,
               CAST(FLOOR(CAST(SUM(e.q) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 AS c
        FROM a{t} a JOIN e ON e.vec_id = a.vec_id GROUP BY a.j, e.i) u
      ON u.j = b.j AND u.i = b.i
    )""")
    final = f"c{iters}"
    return (
        "WITH "
        + ",".join(ctes)
        + f""",
    -- day-2 increment: natural arrivals + planted epsilon-twins of
    -- %9==4 bases from BOTH days (twin ids = base + 2^23, always day-2)
    e2 AS MATERIALIZED (
      SELECT vec_id, i, q FROM eb WHERE vec_id >= (SELECT c FROM cut)
      UNION ALL
      SELECT vec_id + {SEMDEDUP_TWIN_OFFSET}, i,
             q + ((vec_id * 31 + i * 17) % 7 - 3)
      FROM eb WHERE vec_id % 9 = 4
    ),
    alle AS MATERIALIZED (
      SELECT * FROM e UNION ALL SELECT * FROM e2
    ),
    fin AS MATERIALIZED (
      SELECT vec_id, j FROM (
        SELECT d.vec_id, d.j,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.d, d.j)
                 AS rk
        FROM (SELECT a.vec_id, c.j, SUM((a.q - c.c) * (a.q - c.c)) AS d
              FROM alle a JOIN {final} c USING (i) GROUP BY a.vec_id, c.j) d) t
      WHERE rk = 1
    ),
    n2 AS MATERIALIZED (SELECT vec_id, SUM(q * q) AS n2 FROM alle GROUP BY vec_id),
    near AS (
      SELECT d.id_b FROM (
        SELECT f1.vec_id AS id_a, f2.vec_id AS id_b,
               SUM(ea.q * eb2.q) AS dot
        FROM fin f1 JOIN fin f2 ON f2.j = f1.j AND f2.vec_id > f1.vec_id
        JOIN alle ea ON ea.vec_id = f1.vec_id
        JOIN alle eb2 ON eb2.vec_id = f2.vec_id AND eb2.i = ea.i
        WHERE f2.vec_id >= (SELECT c FROM cut)
        GROUP BY f1.vec_id, f2.vec_id) d
      JOIN n2 a ON a.vec_id = d.id_a
      JOIN n2 b ON b.vec_id = d.id_b
      WHERE d.dot > 0 AND CAST(d.dot AS DOUBLE) >=
            0.999 * (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE)))
    ),
    pruned AS (SELECT DISTINCT id_b AS vec_id FROM near),
    members2 AS (
      SELECT f.vec_id, f.j AS cluster, p.vec_id IS NULL AS is_kept
      FROM fin f LEFT JOIN pruned p USING (vec_id)
      WHERE f.vec_id >= (SELECT c FROM cut)
    ),
    cs AS (SELECT cluster, COUNT(*) AS n_day2_members,
                  SUM(CASE WHEN is_kept THEN 0 ELSE 1 END) AS n_day2_pruned
           FROM members2 GROUP BY cluster)
    SELECT m.vec_id, CAST(m.cluster AS BIGINT) AS cluster,
           m.vec_id >= {SEMDEDUP_TWIN_OFFSET} AS is_twin, m.is_kept,
           CAST(cs.n_day2_members AS BIGINT) AS n_day2_members,
           CAST(cs.n_day2_pruned AS BIGINT) AS n_day2_pruned
    FROM members2 m JOIN cs USING (cluster)
    """
    )


@register("l69_incremental_semdedup", _l69_oracle(8, 3))
def l69_incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SemDeDup — the daily-pipeline shape of l65 and the
    semantic sibling of l31/l41/l66: day-1 trains the Lloyd quantizer
    and persists (id, cluster, q) plus the frozen centroids
    (_semdedup_store, built once per session); the day-2 increment
    (natural arrivals >= cutoff plus planted epsilon-twins of %9==4
    bases from both days — re-crawled duplicates of old AND new
    content) quantizes ONLY its own vectors (pushed vec_id >= cutoff
    predicate; day-1 vectors enter purely via the store, twin synthesis
    of day-1 bases included), assigns against the FROZEN centroids, and
    prunes each day-2 vector with a smaller-id same-cluster neighbor
    within the 0.999 ball — day-1 ids all precede day-2 ids, so day-1
    content always survives a day-2 re-crawl.

    The oracle replays the full frozen-quantizer semantics (day-1-only
    training unroll, assignment of everything, exhaustive >= 1-day-2
    pair scan, keep policy), so the incremental path is hash-checked
    against the from-scratch contract it must preserve — completeness
    included.

    Scale shape: day-2 work = |increment| quantize+assign map passes +
    a cluster-key join whose store side is read pre-bucketed (partition
    the store by cluster at 100 TB); the store grows by |increment|
    rows/day and training never re-runs until a drift trigger (l57)
    fires. Ref anchor: _semantic_store (l41), lloyd_kmeans_q (l59),
    l65."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cutoff, cent, day1_path = _semdedup_store(spark, sf_dir)
    day1 = spark.read.parquet(day1_path)

    newq = _semdedup_increment(emb, day1, cutoff).localCheckpoint(eager=False)
    assigned2 = SIM.lloyd_assign_q(newq, cent)

    # EAGER: side_new feeds BOTH sides of the pair self-join below in one
    # action — left lazy, the assign pass could compute twice in
    # concurrent stages on a cluster (same call as the adaptive twin)
    side_new = SIM.with_n2(assigned2.join(newq, "id")).localCheckpoint(eager=True)
    side_all = SIM.with_n2(day1.select("id", "cluster", "q")).unionByName(
        side_new
    )
    a = side_all.select(
        F.col("id").alias("id_a"), "cluster",
        F.col("q").alias("q_a"), F.col("n2").alias("n2_a"),
    )
    b = side_new.select(
        F.col("id").alias("id_b"), "cluster",
        F.col("q").alias("q_b"), F.col("n2").alias("n2_b"),
    )
    pruned = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dot", SIM.int_dot("q_a", "q_b"))
        .filter(SIM.in_qball(0.999))
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    members2 = (
        assigned2.join(pruned.withColumn("hit", F.lit(1)), "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            "cluster",
            F.col("hit").isNull().alias("is_kept"),
        )
    )
    cs = members2.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_day2_members"),
        F.sum((~F.col("is_kept")).cast("int"))
        .cast("bigint")
        .alias("n_day2_pruned"),
    )
    return members2.join(F.broadcast(cs), "cluster").select(
        "vec_id",
        "cluster",
        (F.col("vec_id") >= SEMDEDUP_TWIN_OFFSET).alias("is_twin"),
        "is_kept",
        "n_day2_members",
        "n_day2_pruned",
    )


# ---- adaptive incremental SemDeDup (l69b, r11): the growth harness
# measured l69's frozen k=8 store at 61.9x warm growth over 16x data
# (the pinned-k pair scan is quadratic); this is the production store
# shape with the sqrt-n quantizer ----

# (session, sf_dir, data fingerprint) -> (cutoff, k1, centers, day1 path)
_SEMDEDUP_ADAPT_STORE_CACHE: dict[str, tuple] = {}


def _semdedup_adaptive_store(spark: SparkSession, sf_dir: str) -> tuple:
    """Day-1 ADAPTIVE SemDeDup store, built once per (session, data):
    sqrt-n cell count over day-1 (adaptive_n_centroids), sampled-Lloyd
    centroids trained on day-1 only (the frozen-quantizer contract),
    and the day-1 (id, cell, unit_arr) table persisted to parquet.
    Returns (cutoff, n_clusters, centers, day1_path)."""
    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:semdedup_adapt:"
        f"{_table_fingerprint(sf_dir, 'embeddings')}"
    )
    if key in _SEMDEDUP_ADAPT_STORE_CACHE:
        return _SEMDEDUP_ADAPT_STORE_CACHE[key]
    import atexit
    import os
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    cutoff = int(0.8 * (max_id + 1))
    unit1 = SIM.unit_vec_df(
        emb.filter(F.col("vec_id") < cutoff), "vec_id", "embedding"
    ).localCheckpoint(eager=False)  # the count materializes it
    n1 = unit1.count()
    k1 = SIM.adaptive_n_centroids(n1, cap=1024)
    centers = SIM.train_centroids_on_sample(
        unit1, k1, min(max(2048, 64 * k1), 1 << 18)
    )
    assign = (
        SIM.assign_cells_arrow
        if k1 > SIM._LITERAL_CELL_CAP
        else SIM.assign_cells_literal
    )
    day1 = assign(unit1, centers, 1).join(unit1, "id")
    out = tempfile.mkdtemp(prefix="semdedup_adapt_store_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    day1_path = os.path.join(out, "day1.parquet")
    day1.write.mode("overwrite").parquet(day1_path)
    _SEMDEDUP_ADAPT_STORE_CACHE[key] = (cutoff, k1, centers, day1_path)
    return _SEMDEDUP_ADAPT_STORE_CACHE[key]


def _l69b_gate_oracle(extra_cols: str = "") -> str:
    """The adaptive-incremental-SemDeDup gate oracle: DuckDB recounts
    day-1/day-2/twin populations and replays the sqrt-n rule over the
    DAY-1 count; the semantic columns are measured TRUE booleans (the
    l65b/l68c recipe). ``extra_cols`` appends further pinned-TRUE gate
    columns (the streaming sibling j23b adds its multi-epoch check) —
    shared so the batch and streaming gates can't drift apart."""
    return f"""
    WITH m AS (
      SELECT COUNT(*) AS n,
             CAST(FLOOR(0.8 * (MAX(vec_id) + 1)) AS BIGINT) AS c
      FROM embeddings
    ),
    parts AS (
      SELECT SUM(CASE WHEN vec_id < (SELECT c FROM m) THEN 1 ELSE 0 END)
               AS n1,
             SUM(CASE WHEN vec_id >= (SELECT c FROM m) THEN 1 ELSE 0 END)
               AS n2,
             SUM(CASE WHEN vec_id % 9 = 4 THEN 1 ELSE 0 END) AS nt
      FROM embeddings
    )
    SELECT CAST(n1 AS BIGINT) AS n_day1,
           CAST(n2 AS BIGINT) AS n_day2_naturals,
           CAST(nt AS BIGINT) AS n_twins,
           GREATEST(8, LEAST(1024,
             CAST(ROUND(SQRT(CAST(n1 AS DOUBLE))) AS BIGINT)))
             AS n_clusters_adaptive,
           TRUE AS twin_recall_ge_095,
           TRUE AS day1_never_pruned,
           TRUE AS cand_ratio_le_02,
           TRUE AS cand_balance_le_3{extra_cols}
    FROM parts
"""


_L69B_ORACLE = _l69b_gate_oracle()


def _adaptive_increment_unit(emb: DataFrame, cutoff: int) -> DataFrame:
    """The l69b/j23b day-2 increment, unit-normalized: natural arrivals
    (vec_id >= cutoff) plus planted float epsilon-twins of %9==4 bases
    from BOTH days (re-crawled duplicates of old and new content — the
    l69 construction). Shared by the batch gate (l69b) and the
    streaming gate (j23b) so their increments are bit-identical."""
    day2 = emb.filter(F.col("vec_id") >= cutoff).select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    twins = emb.filter(F.col("vec_id") % 9 == 4).select(
        (F.col("vec_id") + F.lit(SEMDEDUP_TWIN_OFFSET)).alias("id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + (
                (F.col("vec_id") * 31 + i.cast("long") * 17) % 7 - 3
            ).cast("double")
            / F.lit(100000.0),
        ).alias("vec"),
    )
    return SIM.unit_vec_df(day2.unionByName(twins), "id", "vec")


@register("l69b_incremental_semdedup_adaptive", _L69B_ORACLE)
def l69b_incremental_semdedup_adaptive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADAPTIVE incremental SemDeDup (r11) — the production store shape
    for l69, closing the pinned-k flag this round's growth harness
    MEASURED (l69's frozen k=8 store: 61.9x warm growth over 16x data —
    the day-2-vs-store in-cluster pair scan is quadratic at fixed k;
    SCALE.md r11 table): the day-1 store is built with the sqrt-n cell
    rule (sampled-Lloyd centroids trained on day-1 only, FROZEN), the
    day-2 increment (naturals + planted float epsilon-twins of bases
    from both days — the l69 re-crawl construction) unit-normalizes and
    assigns ONLY its own vectors against the frozen quantizer, and a
    day-2 row is pruned iff a smaller-id same-cell neighbor (store or
    increment) sits within the tau=0.999 ball.

    The sampled quantizer is data-dependent, so — the l65b/l68c gate
    recipe — DuckDB recomputes every replayable value (day-1/day-2/twin
    counts and the sqrt-n rule over the DAY-1 count, hash-checking the
    store's scaling law) while the semantics are measured columns:
      twin_recall_ge_095 — every planted twin has a smaller-id base
        with a near-identical vector, so same-cell assignment prunes it
        (measured 1.0 at sf0.001-0.1);
      day1_never_pruned  — prune candidates are increment rows only;
        the measured min pruned id sits above the cutoff (day-1 content
        survives a re-crawl, the l69 contract);
      cand_ratio_le_02 / cand_balance_le_3 — evaluated candidate pairs
        (sum over cells of store_occ x new_occ + new-new pairs) vs the
        all-cross bound and the balanced ideal /k.

    Scale shape: day-2 cost = |increment| normalize+assign map passes +
    one cell-key equi-join against the store (read pre-bucketed by cell
    at 100 TB) with ~n/k occupancy per cell under the sqrt-n rule —
    the measured fix for the 61.9x row. Ref anchor: _semdedup_store
    (frozen twin), operators/similarity.ivf_partition/semdedup."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    mx = emb.agg(F.max("vec_id")).first()[0]
    if mx >= SEMDEDUP_TWIN_OFFSET:
        raise ValueError(
            f"max vec_id {mx} >= twin offset {SEMDEDUP_TWIN_OFFSET}: planted "
            "twin ids would collide with corpus ids"
        )
    cutoff, k1, centers, day1_path = _semdedup_adaptive_store(spark, sf_dir)
    inc_unit = _adaptive_increment_unit(emb, cutoff).localCheckpoint(
        eager=False
    )
    assign = (
        SIM.assign_cells_arrow
        if k1 > SIM._LITERAL_CELL_CAP
        else SIM.assign_cells_literal
    )
    cells_new = assign(inc_unit, centers, 1).localCheckpoint(eager=False)
    # EAGER: side_new feeds BOTH sides of the pair self-join below in one
    # action — left lazy, the assign pass could compute twice in
    # concurrent stages on a cluster (r12 kept ivf_partition's cells
    # eager for exactly this case; r12 ADVICE flagged this site as the
    # inconsistent one). The dedicated job also materializes the lazy
    # cells_new/inc_unit cuts, which the gate row then reuses.
    side_new = cells_new.join(inc_unit, "id").localCheckpoint(eager=True)
    day1 = spark.read.parquet(day1_path)
    side_all = day1.select("id", "cell", "unit_arr").unionByName(side_new)
    a = side_all.select(
        F.col("id").alias("id_a"), "cell", F.col("unit_arr").alias("arr_a")
    )
    b = side_new.select(
        F.col("id").alias("id_b"), "cell", F.col("unit_arr").alias("arr_b")
    )
    pruned = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(SIM.dot_expr("arr_a", "arr_b") >= F.lit(0.999))
        .select(F.col("id_b").alias("id"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds recall + the min-id check
    )
    return _adaptive_semdedup_gate_row(
        spark, emb, cutoff, k1, day1, cells_new, pruned
    )


def _adaptive_semdedup_gate_row(
    spark: SparkSession,
    emb: DataFrame,
    cutoff: int,
    k1: int,
    day1: DataFrame,
    cells_new: DataFrame,
    pruned: DataFrame,
    extra_vals: tuple = (),
    extra_schema: str = "",
) -> DataFrame:
    """Measured gate row shared by l69b (batch) and j23b (streaming):
    day counts (DuckDB-recounted), the sqrt-n cluster count
    (rule-replayed), twin recall, day-1 immunity (min pruned id above
    the cutoff), and the candidate-volume ratio/balance computed from
    the SAME (cell) occupancy tables the prune join keyed on. The two
    surfaces must measure the gate identically or the streaming path
    could pass a laxer bar than the batch path it claims to equal."""
    cnt = emb.agg(
        F.sum((F.col("vec_id") < cutoff).cast("int")).alias("n1"),
        F.sum((F.col("vec_id") >= cutoff).cast("int")).alias("n2"),
        F.sum((F.col("vec_id") % 9 == 4).cast("int")).alias("nt"),
    ).first()
    n1, n2, nt = int(cnt["n1"]), int(cnt["n2"]), int(cnt["nt"])
    tw = pruned.filter(F.col("id") >= SEMDEDUP_TWIN_OFFSET).count()
    min_pruned = pruned.agg(F.min("id")).first()[0]
    occ1 = day1.groupBy("cell").agg(F.count(F.lit(1)).alias("c1"))
    occ2 = cells_new.groupBy("cell").agg(F.count(F.lit(1)).alias("c2"))
    cand = float(
        occ1.join(occ2, "cell", "full_outer")
        .select(
            (
                F.coalesce("c1", F.lit(0)) * F.coalesce("c2", F.lit(0))
                + F.coalesce("c2", F.lit(0))
                * (F.coalesce("c2", F.lit(0)) - 1)
                / 2
            ).alias("p")
        )
        .agg(F.sum("p"))
        .first()[0]
    )
    n_new = n2 + nt
    all_cross = n1 * n_new + n_new * (n_new - 1) / 2.0
    ratio = cand / all_cross
    balance = ratio * k1
    return small_df(
        spark,
        [(
            n1,
            n2,
            nt,
            k1,
            (nt == 0) or (tw / nt >= 0.95),
            (min_pruned is None) or (min_pruned >= cutoff),
            ratio <= 0.2,
            balance <= 3.0,
        ) + tuple(extra_vals)],
        "n_day1 bigint, n_day2_naturals bigint, n_twins bigint, "
        "n_clusters_adaptive bigint, twin_recall_ge_095 boolean, "
        "day1_never_pruned boolean, cand_ratio_le_02 boolean, "
        "cand_balance_le_3 boolean" + extra_schema,
    )


# ---- SemDeDup takedown (l76): right-to-be-forgotten over the kept set ----


def _l76_oracle(k: int = 8, iters: int = 3) -> str:
    """The l65 replay (shared CTE body) extended with the takedown tail:
    removal requests are the kept vectors with vec_id % 13 == 5 (a pure
    id function, so the oracle derives the same set); a pruned vector is
    RESURRECTED iff every one of its smaller-id in-ball neighbors was
    removed — the keep rule re-evaluated over corpus-minus-requests with
    the quantizer FROZEN (takedown never retrains clusters, the l8g
    contract). The per-cluster report carries removal/resurrection
    counts plus an exact id-sum of the resurrected set, so the oracle
    pins WHICH vectors came back."""
    return (
        "WITH "
        + _semdedup_oracle_ctes(k, iters)
        + """,
    r AS (SELECT vec_id FROM members WHERE is_kept AND vec_id % 13 = 5),
    nb AS (
      SELECT n.id_b AS vec_id,
             SUM(CASE WHEN r.vec_id IS NULL THEN 1 ELSE 0 END) AS n_present
      FROM near n LEFT JOIN r ON r.vec_id = n.id_a GROUP BY n.id_b
    ),
    resur AS (SELECT vec_id FROM nb WHERE n_present = 0),
    after AS (
      SELECT m.vec_id, m.cluster,
             CASE WHEN r.vec_id IS NOT NULL THEN 2
                  WHEN m.is_kept THEN 1
                  WHEN rs.vec_id IS NOT NULL THEN 3
                  ELSE 0 END AS st
      FROM members m
      LEFT JOIN r ON r.vec_id = m.vec_id
      LEFT JOIN resur rs ON rs.vec_id = m.vec_id
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN st = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(SUM(CASE WHEN st = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_resurrected,
           CAST(SUM(CASE WHEN st IN (1, 3) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept_after,
           CAST(SUM(CASE WHEN st = 3 THEN vec_id ELSE 0 END) AS BIGINT)
             AS resurrected_id_sum
    FROM after GROUP BY cluster
    """
    )


@register("l76_semdedup_takedown", _l76_oracle(8, 3))
def l76_semdedup_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup TAKEDOWN — the right-to-be-forgotten operator for the
    semantic-dedup store, completing the takedown matrix (l38/l40 text
    components, l8g ANN index, j17 streaming) with the survivorship
    subtlety those don't have: removing a KEPT vector must RESURRECT the
    near-duplicates it shadowed, or the corpus silently loses content
    it still owns. Requests are the kept vectors with vec_id % 13 == 5;
    a pruned vector comes back iff ALL of its smaller-id in-ball
    neighbors were removed — the min-id keep rule is presence-based (not
    kept-status-based), so resurrection never cascades and one
    neighbor-recount per affected vector is the complete fixpoint.

    The quantizer and cluster assignments stay FROZEN (the l8g takedown
    contract: removal edits membership, never retrains), so the oracle
    can replay training on the full extended set and apply the removal
    relationally.

    Scale shape: the takedown tail is one join of the request set
    against the pair set (bounded by the requests' ball co-occupancy)
    plus one neighbor-recount groupBy over only the affected pruned
    vectors — never a corpus rescan; the report is k rows. Ref anchor:
    _semdedup_members_near (l65), registry l38/l8g takedown semantics."""
    members, near = _semdedup_members_near(spark, sf_dir)
    r = members.filter(
        F.col("is_kept") & (F.col("vec_id") % 13 == 5)
    ).select("vec_id")
    nb = (
        near.join(
            F.broadcast(
                r.select(F.col("vec_id").alias("id_a")).withColumn(
                    "hit", F.lit(1)
                )
            ),
            "id_a",
            "left",
        )
        .groupBy("id_b")
        .agg(
            F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0)).alias(
                "n_present"
            )
        )
    )
    resur = nb.filter(F.col("n_present") == 0).select(
        F.col("id_b").alias("vec_id")
    )
    st = (
        members.join(
            F.broadcast(r.withColumn("rm", F.lit(1))), "vec_id", "left"
        )
        .join(F.broadcast(resur.withColumn("rs", F.lit(1))), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.when(F.col("rm") == 1, 2)
            .when(F.col("is_kept"), 1)
            .when(F.col("rs") == 1, 3)
            .otherwise(0)
            .alias("st"),
        )
    )
    return st.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum((F.col("st") == 2).cast("int")).cast("bigint").alias("n_removed"),
        F.sum((F.col("st") == 3).cast("int"))
        .cast("bigint")
        .alias("n_resurrected"),
        F.sum(F.col("st").isin(1, 3).cast("int"))
        .cast("bigint")
        .alias("n_kept_after"),
        F.sum(F.when(F.col("st") == 3, F.col("vec_id")).otherwise(0))
        .cast("bigint")
        .alias("resurrected_id_sum"),
    ).select(
        F.col("cluster").cast("bigint").alias("cluster"),
        "n_members",
        "n_removed",
        "n_resurrected",
        "n_kept_after",
        "resurrected_id_sum",
    )
