"""Deduplication operators for large-scale training-data pipelines
(north-star extension, SURVEY.md §2 family L): exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale design notes:
- exact_dedup: one shuffle on the dedup key (window or groupBy agg).
- ngram_jaccard_pairs: the exact pairwise path — explode shingles, join on
  shingle, count intersections. Correct at any scale but the shingle join
  can explode on ultra-common shingles; `max_shingle_freq` drops those
  (stopword shingles carry no dedup signal). At 100 TB run MinHash/LSH
  first and use this only to verify candidate pairs.
- minhash_lsh_pairs: the scale path — banded MinHash via pyspark.ml's
  MinHashLSH: candidate pairs come from band-bucket joins, cost ~O(near
  pairs), not O(n^2).
- simhash_bucket_pairs: near-dup via 64-bit SimHash; exact-fingerprint
  buckets (hamming 0) joined; for hamming<=k use rotated band keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.functions import text as T
from datafusion_cyberpolka_eda_spark.sources.catalog import spread


def exact_dedup(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Keep exactly one row per key combination — the one first by
    ``order_cols`` (deterministic, unlike dropDuplicates' arbitrary pick).
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) distinct pairs. Set semantics are established *inside
    the row* (array_distinct before explode) so no global distinct shuffle
    is needed.

    Deliberately does NOT emit the set size next to the explode: any
    scalar of the shingle array placed beside explode() gets re-inlined by
    CollapseProject and recomputed per exploded row — a measured ~20x
    regression. Sizes come from a cheap post-explode groupBy instead
    (see ngram_jaccard_pairs)."""
    sh_arr = F.array_distinct(F.filter(T.shingles(text_col, n), lambda s: s != ""))
    return spread(df).select(F.col(id_col), F.explode(sh_arr).alias("shingle"))


def hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id_col, sh) rows with the 8-byte xxhash64 of each distinct shingle —
    the shared first stage of exact-Jaccard, MinHash, and the l3b/l4b
    quality gates. Callers that reuse it across several pair computations
    should localCheckpoint it once (the shingle explode is the expensive
    part; the hashed rows are tiny)."""
    return shingle_sets(df, id_col, text_col, n).select(
        F.col(id_col), F.xxhash64("shingle").alias("sh")
    )


def pair_jaccard_from_hashed(
    sh: DataFrame,
    id_col: str,
    threshold: float = 0.2,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard for every pair sharing >= 1 shingle hash, from a
    precomputed (id, sh) table: self-join on the hash, map-side-combined
    intersection counts, per-doc sizes joined back (AQE broadcasts the
    size table when small). Returns (id_a, id_b, inter, sz_a, sz_b,
    jaccard) at jaccard >= threshold."""
    if max_shingle_freq is not None:
        freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__f"))
        sh = sh.join(freq.filter(F.col("__f") <= max_shingle_freq), "sh").drop("__f")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # no forced broadcast: sizes is one row per document — AQE broadcasts
    # it when small, and at the 100 TB scale a forced broadcast of per-doc
    # corpus sizes would OOM (same reasoning as verify_pairs_exact_jaccard)
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id_a < id_b, jaccard >=
    threshold). jaccard = |A∩B| / (|A| + |B| - |A∩B|).

    Shuffle budget: the shingle expression evaluates once per doc (explode
    without sibling scalars — see shingle_sets); the self-join key is the
    8-byte xxhash64 of the shingle, not the string (shuffle volume ~= ids
    + hashes); per-doc set sizes are a map-side-combined groupBy that AQE
    broadcasts back onto the pair table when small.
    Collisions in the 64-bit shingle space are negligible (and symmetric
    across both join sides)."""
    # materialize once: both self-join sides would otherwise re-run the
    # shingle explode (the expensive part); the hashed rows are tiny
    sh = hashed_shingles(df, id_col, text_col, n).localCheckpoint(eager=True)
    return pair_jaccard_from_hashed(
        sh, id_col, threshold=threshold, max_shingle_freq=max_shingle_freq
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hash_tables: int = 8,
    jaccard_distance_threshold: float = 0.8,
    num_features: int = 1 << 14,
    seed: int = 42,
) -> DataFrame:
    """Approximate near-dup pairs via MinHash LSH (the 100 TB path):
    shingle -> hashed term frequency vector -> banded MinHash ->
    bucket-join candidates with approxSimilarityJoin. Distance column is
    (1 - estimated Jaccard)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = spread(df).select(
        F.col(id_col).alias("id"),
        F.array_distinct(T.shingles(text_col, n)).alias("sh"),
    ).filter(F.size("sh") > 0)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=num_features, binary=True)
    # approxSimilarityJoin(feat, feat) evaluates its input twice — cache the
    # featurized side so shingling+hashing runs once (measured ~2x)
    feat = tf.transform(docs).persist()
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
    )
    model = mh.fit(feat)
    pairs = model.approxSimilarityJoin(
        feat, feat, jaccard_distance_threshold, distCol="jaccard_dist"
    )
    out = (
        pairs.select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.col("jaccard_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
    # materialize the (small) pair set and release the featurized cache —
    # leaking persists across many queries GC-thrashes long sessions
    out = out.localCheckpoint(eager=True)
    feat.unpersist()
    return out


def simhash_bucket_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """SimHash near-dup: identical 64-bit fingerprints bucket together
    (hamming distance 0). One groupBy on the fingerprint."""
    fp = spread(df).select(F.col(id_col).alias("id"), T.simhash(text_col).alias("simhash"))
    a = fp.select(F.col("id").alias("id_a"), "simhash")
    b = fp.select(F.col("id").alias("id_b"), "simhash")
    return (
        a.join(b, "simhash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "simhash")
    )


def embedding_cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95
) -> DataFrame:
    """Embedding near-dup: pairs with cosine >= threshold. Brute-force
    O(n^2) — correct baseline; at scale bucket with a random-projection
    LSH first (similarity.ann_lsh_model)."""
    from datafusion_cyberpolka_eda_spark.operators.similarity import (
        cosine_expr,
        with_unit_info,
    )

    df = spread(df)
    x = with_unit_info(df, id_col, vec_col, prefix="a_")
    y = with_unit_info(df, id_col, vec_col, prefix="b_")
    pairs = x.crossJoin(y).filter(F.col("a_id") < F.col("b_id"))
    return (
        pairs.withColumn("cosine", cosine_expr("a_vec", "b_vec", "a_norm", "b_norm"))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a_id").alias("id_a"), F.col("b_id").alias("id_b"), "cosine"
        )
    )


def embedding_neardup_bucketed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_centroids: int | None = None,
    n_probe: int = 2,
) -> DataFrame:
    """Embedding near-dup at scale: bucket candidates with a FIXED coarse
    quantizer, exact-cosine-verify inside buckets. No all-pairs join
    anywhere — the plan is equi-joins only (audited: no CartesianProduct).

    ``n_centroids=None`` (default) applies the sqrt-n rule
    (similarity.adaptive_n_centroids, one cheap count, capped at 4096):
    a FIXED cell count makes per-cell occupancy — and in-bucket candidate
    pairs — grow linearly with the corpus (SCALE.md measured 239 s vs
    ~14 s at 16x). Up to _LITERAL_CELL_CAP cells the quantizer inlines as
    literal-array dot expressions (whole-stage codegen); past it, cell
    assignment switches to the Arrow-batched matmul path
    (similarity.assign_cells_arrow), so the sqrt-n rule keeps holding on
    multi-billion-row shards. True near-dup pairs sit nearly coincident
    in the space, so probe=2 recall holds as cells shrink; the
    oracle-replay twin l10 pins n_centroids=8.

    Plan shape (the 100 TB path):
      unit-normalize (norm hoisted, one aggregate per row) ->
      dot against the n_centroids fixed centroids (unit vectors of the
      n_centroids smallest ids — deterministic arithmetic, the offline-
      trained-quantizer stand-in) -> multi-probe: explode each vector to
      its top-``n_probe`` cells (first-max tiebreak = lowest centroid
      index) -> self-join on cell -> distinct candidate pairs ->
      join unit vectors back -> exact cosine (== dot on unit vectors)
      >= threshold.

    Shuffles: cell self-join (1), candidate distinct (1), two id-equi
    verify joins. Candidate volume ~ sum of cell sizes squared over
    cells, not O(n^2); precision is exact (every emitted pair passes the
    true cosine threshold) and recall rises with n_probe — measured vs
    the brute-force twin at threshold 0.25: probe 2 -> 0.67-0.71,
    probe 3 -> 0.90-0.92, probe 4 -> 0.99 (sf0.001/sf0.01; asserted in
    tests/test_llm_ops.py). The brute-force embedding_cosine_pairs stays
    as the recall oracle only."""
    from datafusion_cyberpolka_eda_spark.operators.similarity import (
        _LITERAL_CELL_CAP,
        adaptive_n_centroids,
        assign_cells_arrow,
        assign_cells_literal,
        dot_expr,
        unit_vec_df,
    )

    unit = unit_vec_df(spread(df), id_col, vec_col)
    if n_centroids is None:
        # cap 4096: the Arrow path serves any count; past ~16M-row shards
        # switch to a trained quantizer (ann_ivf_sampled) or shard
        n_centroids = adaptive_n_centroids(unit.count(), cap=4096)
    # probing more cells than exist is identity coverage; clamping also
    # keeps the literal masking loop and the Arrow path (which clamps
    # internally) emitting the same candidate multiset
    n_probe = min(n_probe, n_centroids)
    cent_rows = sorted(
        unit.orderBy("id").limit(n_centroids).collect(), key=lambda r: r["id"]
    )

    if n_centroids > _LITERAL_CELL_CAP:
        # Arrow-batched matmul assignment: the literal-expression quantizer
        # stops scaling past ~128 cells (codegen grows O(cells x dim)).
        # Checkpoint the (tiny) cell table, not just the input: cells is
        # self-joined as both sides below, and without the cut the
        # full-corpus matmul subtree would rely on ReuseExchange to run
        # once — the checkpoint makes single-pass unconditional.
        scored = unit.localCheckpoint(eager=True)
        cells = assign_cells_arrow(
            scored, [r["unit_arr"] for r in cent_rows], n_probe
        ).localCheckpoint(eager=True)
    else:
        # checkpoint BOTH: scored feeds the verify joins twice, cells is
        # self-joined as both candidate sides — without the cuts the
        # n_centroids dot expressions would re-derive per reference
        scored = unit.localCheckpoint(eager=True)
        cells = assign_cells_literal(
            scored, [r["unit_arr"] for r in cent_rows], n_probe
        ).localCheckpoint(eager=True)
    cand = (
        cells.alias("a")
        .join(cells.alias("b"), "cell")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ua = scored.select(F.col("id").alias("id_a"), F.col("unit_arr").alias("arr_a"))
    ub = scored.select(F.col("id").alias("id_b"), F.col("unit_arr").alias("arr_b"))
    return (
        cand.join(ua, "id_a")
        .join(ub, "id_b")
        .withColumn("cosine", dot_expr("arr_a", "arr_b"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def minhash_banded_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    est_threshold: float = 0.5,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Banded MinHash near-dup pairs built entirely from xxhash64
    expressions — no pyspark.ml, fully deterministic, every stage
    whole-row JVM arithmetic. Pass ``hashed`` (a hashed_shingles result,
    ideally checkpointed) to share the shingle explode with other pair
    computations on the same corpus.

    Plan shape (the 100 TB path):
      explode shingles -> ONE groupBy(id) computing all `num_hashes`
      min-hash components as map-side-combined min aggregates ->
      band keys from polynomial-mod folds of signature slices ->
      explode (band_idx, key) -> self-join on the band bucket ->
      distinct candidate pairs -> signature-agreement Jaccard estimate.

    Shuffles: signature groupBy (1), band self-join (1), candidate
    distinct (1). Candidate volume tracks bucket collisions ~ true-pair
    density, not O(n^2). est_jaccard = share of equal signature
    components (standard unbiased MinHash estimator).
    """
    src = hashed if hashed is not None else hashed_shingles(df, id_col, text_col, n)
    sh = src.select(F.col(id_col).alias("id"), F.col("sh").alias("h"))
    # num_hashes independent permutations: re-hash the shingle hash with
    # the permutation index; min over the doc's shingles per permutation.
    # Each agg column is ONE parsed expression (the F.min(F.xxhash64(...))
    # form cost ~5 py4j round-trips per hash per plan build — r13 litexpr
    # finding); the int literal i parses to the same IntegerType that
    # F.lit(i) produced, so xxhash64 sees identical input types/values.
    sig = sh.groupBy("id").agg(
        *[
            F.expr(f"min(xxhash64(h, {i}))").alias(f"s{i}")
            for i in range(num_hashes)
        ]
    )
    sig = sig.select(
        "id",
        F.expr(
            "array(" + ",".join(f"s{i}" for i in range(num_hashes)) + ")"
        ).alias("sig"),
    ).localCheckpoint(eager=True)

    rows_per_band = num_hashes // bands
    p = F.lit(2147483647).cast("long")  # Mersenne 2^31-1; ANSI-safe folds
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.aggregate(
            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
            F.lit(0).cast("long"),
            lambda acc, x: F.pmod(acc * F.lit(31) + F.pmod(x, p), p),
        ),
    )
    banded = sig.select(
        "id", F.posexplode(band_keys).alias("band_idx", "band_key")
    )
    a = banded.select(F.col("id").alias("id_a"), "band_idx", "band_key")
    b = banded.select(F.col("id").alias("id_b"), "band_idx", "band_key")
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("double") / F.lit(num_hashes)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= est_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_signatures_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(id, sig: array<long>, band_keys: array<string>) — the portable
    MinHash signature stage, factored out of minhash_banded_pairs_portable
    because it is ALSO the durable-store payload of incremental dedup: a
    daily pipeline persists exactly these rows (signatures + band keys)
    and dedups tomorrow's increment against them without re-reading old
    text. Per-doc output is corpus-independent (signature = mins over the
    doc's own shingles), which is what makes store reuse sound.

    One shingle explode + ONE groupBy with map-side-combined mins; band
    keys are comma-joined signature slices — at 100 TB hash the key
    string (band keys here stay short: r values < 2^31 per band)."""
    from datafusion_cyberpolka_eda_spark.functions.hashing import (
        MERSENNE31,
        md5_hash64,
        perm_constants,
        perm_hash,
    )

    consts = perm_constants(num_hashes)
    sh = shingle_sets(df, id_col, text_col, n).select(
        F.col(id_col).alias("id"),
        F.pmod(md5_hash64("shingle"), F.lit(MERSENNE31).cast("long")).alias("h"),
    )
    # one parsed expression per agg column / per output array (the
    # unrolled perm_hash Column form cost ~6 py4j round-trips per hash
    # per plan build — r13 litexpr finding); {a}L * h + {b} reproduces
    # F.lit(a).cast('long') * h + F.lit(b) exactly (int b promotes to
    # long), % is the same non-negative remainder over P
    sig = sh.groupBy("id").agg(
        *[
            F.expr(f"min(({a}L * h + {b}) % {MERSENNE31}L)").alias(f"s{i}")
            for i, (a, b) in enumerate(consts)
        ]
    )
    rows_per_band = num_hashes // bands
    band_keys_sql = "array(" + ",".join(
        "concat_ws(','," + ",".join(
            f"CAST(s{i} AS STRING)"
            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        ) + ")"
        for b in range(bands)
    ) + ")"
    return sig.select(
        "id",
        F.expr(
            "array(" + ",".join(f"s{i}" for i in range(num_hashes)) + ")"
        ).alias("sig"),
        F.expr(band_keys_sql).alias("band_keys"),
    )


def minhash_banded_pairs_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    est_threshold: float = 0.45,
) -> DataFrame:
    """Banded MinHash near-dup pairs with the *portable* hash family
    (functions/hashing.py): md5-derived 60-bit shingle hashes reduced mod
    2^31-1, then `num_hashes` universal-hash permutations
    h_i(x) = (a_i*x + b_i) mod P — every value identical in DuckDB, so the
    whole algorithm (signatures, band buckets, candidate pairs, agreement
    estimate) is oracle-checked end-to-end, not just stable across runs.

    Same plan shape and shuffle budget as minhash_banded_pairs (ONE
    signature groupBy with map-side-combined mins — see
    minhash_signatures_portable — band self-join, candidate distinct).
    The xxhash64 variant remains the production path (md5 costs ~5-10x
    more per shingle); this one trades hash speed for cross-engine
    verifiability."""
    sig = minhash_signatures_portable(
        df, id_col, text_col, n, num_hashes, bands
    ).localCheckpoint(eager=True)
    return banded_pairs_from_signatures(sig, num_hashes, est_threshold)


def banded_pairs_from_signatures(
    sig: DataFrame,
    num_hashes: int = 32,
    est_threshold: float = 0.45,
) -> DataFrame:
    """The pair stage of banded MinHash, starting from an existing
    (id, sig, band_keys) signature table — either freshly computed
    (minhash_banded_pairs_portable calls this) or READ BACK from a
    persisted signature store, which is how incremental pipelines rebuild
    day-1 pairs/components without ever re-shingling day-1 text. Band
    self-join -> distinct candidates -> signature-agreement estimate."""
    banded = sig.select("id", F.posexplode("band_keys").alias("band_idx", "band_key"))
    a = banded.select(F.col("id").alias("id_a"), "band_idx", "band_key")
    b = banded.select(F.col("id").alias("id_b"), "band_idx", "band_key")
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sigs = sig.select("id", "sig")
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("double") / F.lit(num_hashes)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= est_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_banded_portable_oracle_ctes(
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    est_threshold: float = 0.45,
    doc_rel: str = "documents",
    prefix: str = "mh_",
) -> str:
    """CTE body replaying minhash_banded_pairs_portable over ``doc_rel``
    (any relation with doc_id + text columns); the final CTE
    ``{prefix}pairs`` holds (id_a, id_b, est_jaccard) above the
    threshold. All CTE names carry ``prefix`` so the body composes into
    bigger oracles (the cross-modal dedup l78 unions it with the l58
    image-fingerprint replay) without name collisions."""
    from datafusion_cyberpolka_eda_spark.functions.hashing import (
        MERSENNE31,
        md5_hash64_sql,
        perm_constants,
    )

    consts = perm_constants(num_hashes)
    perm_rows = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(consts))
    rows_per_band = num_hashes // bands
    grams = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    p = prefix
    return f"""{p}t AS (SELECT doc_id, string_split(text, ' ') w FROM {doc_rel}),
    {p}sh AS (
      SELECT DISTINCT doc_id, {grams} AS shingle
      FROM {p}t, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - {n - 1}, 1))) AS i) s
      WHERE w[i+{n - 1}] IS NOT NULL AND {grams} != ''
    ),
    {p}h AS (SELECT doc_id, {md5_hash64_sql('shingle')} % {MERSENNE31} AS h FROM {p}sh),
    {p}perms(i, pa, pb) AS (VALUES {perm_rows}),
    {p}sig AS (
      SELECT doc_id, i, MIN((pa * h + pb) % {MERSENNE31}) AS s
      FROM {p}h CROSS JOIN {p}perms GROUP BY doc_id, i
    ),
    {p}bands AS (
      SELECT doc_id, i // {rows_per_band} AS band_idx,
             string_agg(s::VARCHAR, ',' ORDER BY i) AS band_key
      FROM {p}sig GROUP BY doc_id, i // {rows_per_band}
    ),
    {p}cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM {p}bands a JOIN {p}bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    {p}est AS (
      SELECT c.id_a, c.id_b,
             SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) / {num_hashes}.0 AS est_jaccard
      FROM {p}cand c
      JOIN {p}sig sa ON sa.doc_id = c.id_a
      JOIN {p}sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
      GROUP BY 1, 2
    ),
    {p}pairs AS (
      SELECT id_a, id_b, est_jaccard FROM {p}est
      WHERE est_jaccard >= {est_threshold}
    )"""


def minhash_banded_portable_oracle(
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    est_threshold: float = 0.45,
) -> str:
    """DuckDB SQL recomputing minhash_banded_pairs_portable exactly on the
    `documents` view (same hash constants via perm_constants)."""
    ctes = minhash_banded_portable_oracle_ctes(
        n, num_hashes, bands, est_threshold
    )
    return f"""
    WITH {ctes}
    SELECT id_a, id_b, ROUND(est_jaccard, 6) AS est_jaccard FROM mh_pairs
    """


def incremental_minhash_pairs(
    new_sigs: DataFrame,
    store_sigs: DataFrame,
    num_hashes: int = 32,
    est_threshold: float = 0.45,
) -> DataFrame:
    """Incremental (cross-snapshot) near-dup pairs: every banded-MinHash
    pair involving AT LEAST ONE new document, computed WITHOUT touching
    the old corpus's text — the operator a real 100 TB pipeline runs
    daily (dedup today's shard against the persisted signature store,
    never recompute the old corpus).

    Inputs are minhash_signatures_portable outputs: ``new_sigs`` for the
    increment (computed this run), ``store_sigs`` the persisted store
    (read back from parquet — ids must be disjoint from the increment;
    that is the store contract). Because a doc's signature depends only
    on its own shingles, the result is EXACTLY the full-corpus
    minhash_banded_pairs_portable pair set restricted to pairs with >= 1
    new id (tests assert this equivalence).

    Plan shape: new bands self-join (new-new) + new bands vs store bands
    equi-join (new-old) -> distinct candidates -> signature-agreement
    estimate from the unioned signature table. Shuffle volume tracks
    |increment| band rows + colliding store band rows — NOT the store
    size: at scale, persist the store bucketed/partitioned by band_key
    so the new-old join prunes to colliding buckets. Returns
    (id_a, id_b, est_jaccard, kind) with id_a < id_b and kind in
    ('new_new', 'new_old')."""
    nb = new_sigs.select("id", F.posexplode("band_keys").alias("band_idx", "band_key"))
    sb = store_sigs.select(
        "id", F.posexplode("band_keys").alias("band_idx", "band_key")
    )
    a = nb.select(F.col("id").alias("id_a"), "band_idx", "band_key")
    b = nb.select(F.col("id").alias("id_b"), "band_idx", "band_key")
    new_new = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit("new_new").alias("kind"))
    )
    so = sb.select(F.col("id").alias("sid"), "band_idx", "band_key")
    new_old = (
        nb.join(so, ["band_idx", "band_key"])
        .select(
            F.least(F.col("id"), F.col("sid")).alias("id_a"),
            F.greatest(F.col("id"), F.col("sid")).alias("id_b"),
            F.lit("new_old").alias("kind"),
        )
    )
    cand = new_new.union(new_old).distinct()
    sigs = new_sigs.select("id", "sig").union(store_sigs.select("id", "sig"))
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb2 = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("double") / F.lit(num_hashes)
    return (
        cand.join(sa, "id_a")
        .join(sb2, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= est_threshold)
        .select("id_a", "id_b", "est_jaccard", "kind")
    )


def fingerprint_near_pairs(
    fp: DataFrame,
    max_hamming: int = 3,
    n_bits: int = 63,
) -> DataFrame:
    """Near-dup pairs within a hamming-distance budget over ANY
    (id, fp) fingerprint table — the banding engine shared by SimHash
    text dedup and perceptual image dedup (r8 verdict task 3: same
    machinery, different fingerprint function). Found without O(n^2)
    comparisons: split the ``n_bits``-bit fingerprint into
    ``max_hamming + 1`` bands — by pigeonhole, any pair within
    ``max_hamming`` differing bits agrees exactly on at least one band —
    equi-join on (band_idx, band_bits) carrying the full fingerprint on
    both sides, verify with bit_count(xor) inside the join stage (before
    any distinct), then dedup only the surviving near-pairs. Verifying
    pre-distinct matters: correlated fingerprint bits can make narrow
    bands collide on a large fraction of all pairs, and deduping millions
    of false candidates costs far more than the map-side xor filter.
    Shuffles: band join + distinct over true near-pairs only. Skewed
    band buckets (one bucket ≫ others) are AQE skew-join territory.

    ``fp`` must have columns (id, fp) and should be checkpointed/cached
    by the caller if its computation is expensive (it feeds both join
    sides). Returns (id_a, id_b, hamming) with id_a < id_b."""
    banded = _fp_banded(fp, max_hamming, n_bits)
    a = banded.select(F.col("id").alias("id_a"), F.col("fp").alias("fp_a"), "band_idx", "bits")
    b = banded.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b"), "band_idx", "bits")
    return (
        a.join(b, ["band_idx", "bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def _fp_banded(fp: DataFrame, max_hamming: int, n_bits: int) -> DataFrame:
    """(id, fp) -> (id, fp, band_idx, bits): the pigeonhole band split
    shared by the batch pair scan (fingerprint_near_pairs) and the
    incremental store join (incremental_fingerprint_pairs) —
    ``max_hamming + 1`` contiguous bit bands, so any pair within the
    hamming budget agrees exactly on at least one band."""
    n_bands = max_hamming + 1
    base = n_bits // n_bands
    widths = [base + (1 if i < n_bits % n_bands else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    band_cols = [
        F.shiftright(F.col("fp"), offsets[i]).bitwiseAND(F.lit((1 << widths[i]) - 1)).alias(f"b{i}")
        for i in range(n_bands)
    ]
    return fp.select(
        "id", "fp", F.posexplode(F.array(*band_cols)).alias("band_idx", "bits")
    )


def incremental_fingerprint_pairs(
    new_fp: DataFrame,
    store_fp: DataFrame,
    max_hamming: int = 3,
    n_bits: int = 63,
) -> DataFrame:
    """Near-dup pairs involving >= 1 NEW fingerprint — the l31
    incremental-store shape applied to the hamming-band engine (r9
    verdict task 3): ``store_fp`` is the persisted day-1 (id, fp) table
    read back from parquet, ``new_fp`` is today's increment (the only
    rows that were decoded/hashed today). Band-joins new x new and
    new x store, xor-verifies INSIDE the join stage (pre-distinct — the
    fingerprint_near_pairs ordering argument), and returns
    (id_a, id_b, hamming, kind) with id_a < id_b and kind in
    ('new_new', 'new_old'). Because a fingerprint is a pure per-asset
    function, the result equals the full-corpus banded pair set
    restricted to >= 1 new id — the oracle-checkable invariant.

    Scale shape: the store grows by |increment| rows/day and no old
    payload is ever re-decoded; shuffle volume tracks increment band
    rows + colliding store rows (persist the store bucketed by
    (band_idx, bits) at 100 TB so the new-old join prunes to colliding
    buckets). Id spaces must be disjoint across days (asset ids derive
    from doc ids)."""
    nb = _fp_banded(new_fp, max_hamming, n_bits)
    sb = _fp_banded(store_fp, max_hamming, n_bits)
    a = nb.select(F.col("id").alias("id_a"), F.col("fp").alias("fp_a"), "band_idx", "bits")
    b = nb.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b"), "band_idx", "bits")
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    new_new = (
        a.join(b, ["band_idx", "bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming", F.lit("new_new").alias("kind"))
    )
    so = sb.select(F.col("id").alias("sid"), F.col("fp").alias("fp_s"), "band_idx", "bits")
    sham = F.bit_count(F.col("fp").bitwiseXOR(F.col("fp_s")))
    new_old = (
        nb.join(so, ["band_idx", "bits"])
        .withColumn("hamming", sham)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.least(F.col("id"), F.col("sid")).alias("id_a"),
            F.greatest(F.col("id"), F.col("sid")).alias("id_b"),
            "hamming",
            F.lit("new_old").alias("kind"),
        )
    )
    return new_new.union(new_old).distinct()


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs within a hamming-distance budget: the
    63-bit text SimHash fed through the shared pigeonhole banding engine
    (see fingerprint_near_pairs for the plan shape and scale notes)."""
    from datafusion_cyberpolka_eda_spark.functions.text import N_SIMHASH_BITS, simhash

    fp = spread(df).select(F.col(id_col).alias("id"), simhash(text_col).alias("fp"))
    fp = fp.localCheckpoint(eager=True)  # computed once, reused by both join sides
    return fingerprint_near_pairs(fp, max_hamming=max_hamming, n_bits=N_SIMHASH_BITS)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components of an undirected similarity graph via HashMin
    label propagation: every node repeatedly adopts the smallest component
    id among itself and its neighbors until a fixpoint. Returns
    (id, component) with component = min node id in the component.

    This is the canonicalization step of near-duplicate dedup: pair output
    from jaccard/MinHash/SimHash says *which docs collide*; components say
    *which single doc to keep per duplicate cluster*.

    Scale design: each round is a bounded number of joins/groupBys on
    the node-id and label keys — no driver-side graph. Rounds are
    O(log n), not O(diameter): the neighbor-min step is accelerated by
    pointer doubling (label <- label of label) AND a component
    rendezvous (group-min broadcast through the shared old label) —
    each covers the other's worst case (see the in-loop comment), so
    deep chains AND wide groups both collapse exponentially. Near-dup
    clusters are usually shallow (2-4 rounds); adversarial 400-node
    paths close in <= 9. Convergence is detected with a single exact
    aggregate (sum of labels, strictly decreasing until fixpoint —
    integer-exact, no tolerance).

    Round plan shape (r13 fusion, guide §2.4): one round is THREE
    shuffles — (1) the candidate pass, a single union+groupBy that
    carries each node's OLD label through as max(own) so no later
    labels-join is needed; (2) the pointer-doubling self-join's probe
    side, keyed by candidate value (the build/jump side rides the
    groupBy's own exchange, which AQE reuses across both join
    branches); (3) the rendezvous as a window min over the old label
    (same value as the old groupBy+join rendezvous, one exchange
    instead of two and no duplicated subtree). The per-round function
    is unchanged from the unfused form — new = min(double(cand),
    group-min over old label of double(cand)) — so the trajectory,
    round count, and fixpoint are identical (verified bitwise on ring
    / ascending+descending path / random / self-loop / null-id
    graphs).

    Lineage is cut per round. With ``checkpoint_dir`` unset the cut is
    localCheckpoint (executor-local blocks — fine single-node / tests).
    On a cluster PASS ``checkpoint_dir`` (an HDFS/object-store path): the
    cut becomes a reliable checkpoint() there, so losing an executor
    mid-iteration loses a replica of nothing instead of the whole
    computed prefix — executor-local checkpoint blocks die with their
    executor and are unrecoverable because the lineage was truncated.

    ``checkpoint_dir`` side effects (it maps onto a GLOBAL
    SparkContext setting): the context's checkpoint dir is switched for
    the duration of this call and restored afterwards (restorable only
    when one was previously set — Spark has no unset), and a CONCURRENT
    caller on the same context sees the switch (last-write-wins — don't
    run two different-dir callers in parallel). Spark only deletes
    reliable checkpoint files at shutdown when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``; with it
    unset, repeated runs accumulate data under ``checkpoint_dir``
    indefinitely — set that conf or prune the dir on a schedule.
    """
    if checkpoint_dir is not None:
        sc = edges.sparkSession.sparkContext
        prev_dir = sc.getCheckpointDir()
        sc.setCheckpointDir(checkpoint_dir)

        def _cut(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:
        # LAZY local checkpoint: lineage is truncated immediately
        # (LogicalRDD plan). With AQE on, as get_spark sets it, the call
        # itself runs every shuffle and broadcast stage of the cut's plan
        # (a one-shuffle groupBy: 1 job at the call); only the final
        # stage rides on the round's convergence aggregate instead of a
        # dedicated eager job — one fewer scheduled job per round than
        # an eager cut (guide §1.2/§2.4: the fixed per-job floor is pure
        # superstep overhead; the aggregate computes every partition,
        # so the cached cut is complete).
        def _cut(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=False)

    try:
        sym = edges.select(F.col(src).alias("id"), F.col(dst).alias("nbr")).union(
            edges.select(F.col(dst).alias("id"), F.col(src).alias("nbr"))
        )
        sym = _cut(sym)
        labels = sym.groupBy("id").agg(F.least(F.min("nbr"), F.col("id")).alias("comp"))
        labels = _cut(labels)
        comp_type = labels.schema["comp"].dataType
        prev_sum = labels.agg(F.sum("comp")).collect()[0][0]
        for _ in range(max_iter):
            # candidate pass: cand = min(own label, neighbor labels),
            # with the OLD label carried through the same aggregate as
            # max(own) — own is non-null on exactly the one labels row
            # per id (sym covers every endpoint as both id and nbr), so
            # max(own) IS the old label and no labels-join is needed
            # downstream. One shuffle where the unfused form paid the
            # union shuffle PLUS a labels⋈d join later (guide §2.4).
            # The isNotNull on the grouping key pushes the same
            # isnotnull filter into BOTH consumers' subtrees below (the
            # doubling join's key filter would otherwise push it into
            # only one branch, splitting the exchange two ways); rows
            # it drops are exactly the null-id rows the unfused form
            # dropped at its labels⋈d inner join.
            msgs = sym.join(labels, "id").select(
                F.col("nbr").alias("id"),
                F.lit(None).cast(comp_type).alias("own"),
                F.col("comp").alias("c"),
            )
            cand = (
                labels.select(
                    "id", F.col("comp").alias("own"), F.col("comp").alias("c")
                )
                .union(msgs)
                .groupBy("id")
                .agg(F.max("own").alias("comp"), F.min("c").alias("cand"))
                .where(F.col("id").isNotNull())
            )
            # two accelerators on top of plain HashMin, each covering
            # the other's worst case (both are needed — measured on
            # adversarial paths; plain HashMin needs O(diameter) rounds
            # and stalled past max_iter=25 on a 431-node audio near-dup
            # component at sf0.1):
            #   pointer doubling — jump to the candidate OF the
            #   candidate (every label is itself a node id, so the
            #   self-join on the label key always matches). Halves
            #   pointer-chain depth per round: beats descending-id
            #   paths where labels stay distinct and group-based
            #   acceleration never fires.
            #   component rendezvous — the best candidate seen by ANY
            #   member of a label group reaches EVERY member through
            #   the shared OLD label in one window hop: beats
            #   scattered-id paths where pointer chains stay shallow.
            # Together: O(log n) rounds on every shape tried (<= 9 on
            # 431-node adversarial paths). The fixpoint is identical
            # (min member id per component), only the trajectory
            # changes; labels always remain member ids.
            #
            # jump carries comp (as _jc) in the SAME column order as
            # cand so the partial aggregate below the exchange
            # canonicalizes identically on both branches of the
            # self-join and AQE materializes the candidate shuffle
            # ONCE (a mismatched projection order reorders the agg
            # functions and defeats exchange reuse — measured). The
            # coalesce is value-identical to plain comp (comp is never
            # null: every id has its labels row) but keeps _jc alive
            # through column pruning for the same reuse reason.
            jump = cand.select(
                F.col("id").alias("cand"),
                F.col("comp").alias("_jc"),
                F.col("cand").alias("cand2"),
            )
            d = cand.join(jump, "cand").select(
                "id",
                F.coalesce("comp", "_jc").alias("comp"),
                F.least("cand", "cand2").alias("cand"),
            )
            # rendezvous as a window min over the old label: same
            # group-min value as the former groupBy+join pair, but one
            # exchange and no second pass over the candidate subtree
            w = Window.partitionBy("comp")
            new_labels = _cut(
                d.select(
                    "id",
                    F.least("cand", F.min("cand").over(w)).alias("comp"),
                )
            )
            new_sum = new_labels.agg(F.sum("comp")).collect()[0][0]
            labels = new_labels
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        return labels
    finally:
        if checkpoint_dir is not None and prev_dir is not None:
            sc.setCheckpointDir(prev_dir)


def incremental_components(
    old_labels: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Incremental connected-component maintenance: merge a day's new
    similarity edges into a PERSISTED component-label store without
    re-running CC over the whole corpus — the cluster-maintenance half of
    incremental dedup (incremental_minhash_pairs finds the new pairs;
    this updates which doc survives per cluster).

    ``old_labels`` is yesterday's (id, comp) assignment (comp = min member
    id — connected_components output, read back from parquet).
    ``new_edges`` are today's pairs, each touching >= 1 new doc. Only
    components TOUCHED by a new edge can change, so the update runs CC on
    a bounded subgraph:

      1. endpoints of new edges -> affected old components (a lookup join
         against the store on id — bounded by |delta|, broadcast it);
      2. pull every member row of the affected components (at 100 TB keep
         the store partitioned/bucketed by comp so this is a pruned read,
         not a full-store scan);
      3. star edges (comp, id) encode each old component's connectivity
         in one hop (sound because comp is itself a member id and the min
         over the star equals the min over the original component);
      4. HashMin CC over star + new edges — rounds track the diameter of
         the NEW-edge graph collapsed over old components, not the old
         graph's.

    Returns (id, comp) for every member of every affected component —
    exactly the from-scratch full-graph CC restricted to components
    containing >= 1 new-edge endpoint (tests assert this equivalence).
    Old components untouched by any new edge keep their store rows;
    callers overwrite/append only the returned delta."""
    ends = (
        new_edges.select(F.col(src).alias("id"))
        .union(new_edges.select(F.col(dst).alias("id")))
        .distinct()
    )
    affected = (
        old_labels.join(F.broadcast(ends), "id").select("comp").distinct()
    )
    sub_old = old_labels.join(F.broadcast(affected), "comp")
    star = sub_old.filter(F.col("id") != F.col("comp")).select(
        F.col("comp").alias(src), F.col("id").alias(dst)
    )
    merged = star.union(new_edges.select(src, dst))
    return connected_components(
        merged, src, dst, max_iter=max_iter, checkpoint_dir=checkpoint_dir
    )


def verify_pairs_exact_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    hash_fn=None,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard verification BOUNDED to candidate pairs — the
    verify stage of a banded dedup pipeline (candidates from MinHash
    bands, truth from exact set overlap). Cost is O(candidate pairs x
    shared shingles), never all-pairs: candidates join the (id, shingle)
    table twice on id+shingle keys.

    ``hash_fn`` keys the intersection join (default xxhash64 —
    production; pass hashing.md5_hash64 for cross-engine oracle replay).
    ``hashed`` (an (id, sh) hashed_shingles result, ideally checkpointed)
    skips the shingle explode when the caller already built it — and
    therefore fixes the hash family too, so passing BOTH is a caller
    error (the hash_fn would be silently ignored and e.g. an md5 oracle
    replay would get xxhash-keyed results).
    Returns (id_a, id_b, jaccard) at jaccard >= threshold."""
    if hashed is not None and hash_fn is not None:
        raise ValueError(
            "verify_pairs_exact_jaccard: pass either `hashed` (pre-hashed "
            "shingles, hash family already baked in) or `hash_fn`, not both"
        )
    if hashed is not None:
        sh = hashed.select(F.col(id_col).alias("__vid"), "sh")
    else:
        hf = hash_fn if hash_fn is not None else (lambda c: F.xxhash64(c))
        sh = (
            shingle_sets(df, id_col, text_col, n)
            .select(F.col(id_col).alias("__vid"), hf(F.col("shingle")).alias("sh"))
            .localCheckpoint(eager=True)
        )
    # sizes only for ids that appear in a candidate pair — keeps both size
    # joins bounded by |candidates|, not |corpus| (a forced broadcast of
    # per-doc corpus sizes would OOM at the 100 TB scale this targets);
    # AQE still broadcasts when the semi-joined table is small.
    cand = pairs.select("id_a", "id_b")
    cand_ids = cand.select(F.col("id_a").alias("__vid")).union(
        cand.select(F.col("id_b").alias("__vid"))
    ).distinct()
    sizes = (
        sh.join(cand_ids, "__vid", "left_semi")
        .groupBy("__vid")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    inter = (
        cand.join(sh.select(F.col("__vid").alias("id_a"), "sh"), "id_a")
        .join(sh.select(F.col("__vid").alias("id_b"), "sh"), ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("__vid").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("__vid").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_pipeline_oracle(
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    est_threshold: float = 0.45,
    verify_threshold: float = 0.6,
) -> str:
    """DuckDB SQL replaying the FULL dedup pipeline (banded-MinHash
    candidates -> exact-Jaccard verify -> recursive-CTE components ->
    corpus summary) with the portable hash family."""
    grams = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    mh = minhash_banded_portable_oracle(n, num_hashes, bands, est_threshold)
    return f"""
    WITH RECURSIVE
    t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, {grams} AS shingle
      FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - {n - 1}, 1))) AS i) s
      WHERE w[i+{n - 1}] IS NOT NULL AND {grams} != ''
    ),
    sz AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY 1),
    cand AS (SELECT id_a, id_b FROM ({mh}) mq),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    ver AS (
      SELECT i.id_a, i.id_b
      FROM inter i JOIN sz sa ON sa.doc_id = i.id_a
                   JOIN sz sb ON sb.doc_id = i.id_b
      WHERE CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) >= {verify_threshold}
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM ver
              UNION SELECT id_b, id_a FROM ver),
    reach(id, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.id
    ),
    comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY 1)
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT COUNT(*) FROM cand) AS n_candidate_pairs,
           (SELECT COUNT(*) FROM ver) AS n_verified_pairs,
           (SELECT COUNT(DISTINCT comp) FROM comp) AS n_clusters,
           (SELECT COUNT(*) FROM comp WHERE id <> comp) AS n_docs_removed,
           (SELECT CAST(COALESCE(SUM(id), 0) AS BIGINT)
            FROM comp WHERE id <> comp) AS removed_id_checksum
    """


def edges_among(edges: DataFrame, members: DataFrame) -> DataFrame:
    """The (id_a, id_b) edges of a PERSISTED edge list whose both
    endpoints are in ``members`` (id) — the edge rebuild of a takedown:
    two broadcast semi-joins slice the day-1 banded pairs written beside
    the label store, so neither old text nor the signature store is read
    and no banded self-join re-runs. Exact: a pair's banded estimate
    depends only on its two signatures, so the pairs among a member set
    are the day-1 pairs with both ends in it."""
    ids = F.broadcast(members.select("id"))
    return (
        edges.join(ids.withColumnRenamed("id", "id_a"), "id_a", "semi")
        .join(ids.withColumnRenamed("id", "id_b"), "id_b", "semi")
        .select("id_a", "id_b")
    )


def takedown_components(
    old_labels: DataFrame,
    removed_ids: DataFrame,
    edges_fn,
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    gone: DataFrame | None = None,
) -> DataFrame:
    """Takedown propagation through a persisted component-label store —
    the DELETE half of incremental dedup maintenance
    (incremental_components is the INSERT half). A takedown/right-to-be-
    forgotten request removes documents from the corpus; every cluster
    that contained one must be re-derived over its REMAINING members,
    because removing a doc can SPLIT a component (it may have been the
    only bridge between two groups of near-dups) or retire its label
    (component ids are min member ids).

    ``old_labels``: the persisted (id, comp) assignment.
    ``removed_ids``: (id) — the takedown set. Assumed small relative to
    the corpus (it is a request batch, not a corpus scan) — broadcast.
    ``edges_fn``: callable (remaining_members: DataFrame[id, comp]) ->
    DataFrame[id_a, id_b] rebuilding the similarity edges AMONG those
    members — in production, ``edges_among`` over the day-1 edge list
    persisted beside the label store (old text is never re-read).
    Restricting to affected-component members is EXACT because deletion
    can only split components, never merge them: any surviving edge lies
    inside one old component, so the re-derived clusters are confined to
    old boundaries.
    ``gone``: (id) — docs already removed by EARLIER takedowns of the
    same ``old_labels`` (the streaming takedown's logged tombstones).
    They count as removed inside the components ``removed_ids`` touch,
    but do not make a component affected on their own, so a later batch
    re-derives its components over what every earlier batch left.

    Returns the store update delta, one row per member of every affected
    component: (id, old_comp, comp) where comp is the re-derived label
    for survivors and NULL for removed docs (``removed_ids`` and
    ``gone`` alike — tombstone rows the caller turns into store
    deletes). Members whose every edge vanished come out as singletons
    labeled by their own id. Components containing no doc of
    ``removed_ids`` are untouched and absent from the delta.

    Scale shape: cost tracks |request| + |affected components| + the
    edge slice over affected members only — never |corpus|; a streaming
    epoch that passes its earlier tombstones as ``gone`` costs |batch| +
    |touched day-1 components|. Each such re-derivation runs over a
    subset of the members the previous one kept, so a survivor's label
    (min member id) never decreases from epoch to epoch: the largest
    label logged for an id is its current one. Keep the label store
    partitioned by comp and the edge list bucketed by id so the member
    pull and edge slice are pruned reads."""
    req = removed_ids.select(F.col(removed_ids.columns[0]).alias("id"))
    gone_ids = req if gone is None else req.unionByName(
        gone.select(F.col(gone.columns[0]).alias("id"))
    )
    # the touched components enter as a broadcast SEMI join, so their
    # duplicates (one per removed member) need no distinct shuffle
    touched = old_labels.join(F.broadcast(req), "id").select("comp")
    # every affected member tagged removed-or-not in ONE broadcast left
    # join and cut once, so remaining and tombstones are both filters of
    # the same cached rows: no consumer of the delta recomputes removed,
    # affected or members. With AQE on, the lazy cut runs the distinct
    # shuffle and broadcasts of its plan here, at the call; only its
    # final stage waits for the first CC job over the rebuilt edges
    tag = gone_ids.distinct().select("id", F.lit(True).alias("_gone"))
    tagged = (
        old_labels.join(F.broadcast(touched), "comp", "semi")
        .join(F.broadcast(tag), "id", "left")
        .localCheckpoint(eager=False)
    )
    remaining = tagged.filter(F.col("_gone").isNull()).drop("_gone")
    edges = edges_fn(remaining)
    relabeled = connected_components(
        edges, "id_a", "id_b", max_iter=max_iter, checkpoint_dir=checkpoint_dir
    )
    # the relabeled members are a subset of the remaining ones, both
    # bounded by the affected components: broadcast, not a shuffle join
    survivors = (
        remaining.select("id", F.col("comp").alias("old_comp"))
        .join(
            F.broadcast(relabeled.withColumnRenamed("comp", "new_comp")),
            "id",
            "left",
        )
        .select("id", "old_comp", F.coalesce("new_comp", "id").alias("comp"))
    )
    tombstones = (
        tagged.filter(F.col("_gone").isNotNull())
        .select("id", F.col("comp").alias("old_comp"))
        .withColumn("comp", F.lit(None).cast("long"))
    )
    return survivors.unionByName(tombstones)
