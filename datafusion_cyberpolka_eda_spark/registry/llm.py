"""LLM-data-pipeline queries (north-star extension, SURVEY.md §2 family L):
deduplication (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding
cosine), similarity search (brute-force top-k baseline + LSH ANN), text
analysis (token stats, marker hits, language ID, fingerprints), and
multimodal binary-column plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.functions import text as T
from datafusion_cyberpolka_eda_spark.operators import dedup as D
from datafusion_cyberpolka_eda_spark.operators import similarity as SIM
from datafusion_cyberpolka_eda_spark.registry import _round_cols, register, small_df
from datafusion_cyberpolka_eda_spark.sources.catalog import load_table, spread
from datafusion_cyberpolka_eda_spark.registry.llm_base import (  # noqa: F401
    _doc_gram_hashes,
    _docs_fingerprint,
)


@register(
    "l1_dedup_exact",
    """
    WITH kept AS (
      SELECT * FROM (
        SELECT lang, text,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents
      ) t WHERE rn = 1
    )
    SELECT lang, COUNT(*) AS n_unique_docs FROM kept GROUP BY lang
    """,
)
def l1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text deduplication keeping the lowest doc_id per text —
    deterministic representative choice (dropDuplicates picks an arbitrary
    row, which doesn't reproduce across engines). One shuffle on the text
    key; at 100 TB dedup on xxhash64(text) instead to shrink shuffle keys."""
    docs = load_table(spark, sf_dir, "documents")
    kept = D.exact_dedup(docs, keys=["text"], order_cols=["doc_id"])
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_unique_docs"))


@register(
    "l2_ngram_jaccard_pairs",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i) s
      WHERE w[i+2] IS NOT NULL
    ),
    sz AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter,
           sa.c AS sz_a, sb.c AS sz_b,
           ROUND(CAST(inter AS DOUBLE) / (sa.c + sb.c - inter), 6) AS jaccard
    FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
    WHERE CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) >= 0.2
    """,
)
def l2_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-duplicate pairs (jaccard >= 0.2):
    shingle explode -> self-join on shingle -> intersection counts -> set
    arithmetic. The exact counterpart that MinHash/LSH approximates."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
    return _round_cols(pairs, ["jaccard"])


@register(
    "l3_minhash_lsh_pairs",
    # oracle appended below once _DEDUP_GATE_BASE_SQL is defined (the gate
    # shares l3b's truth recomputation); see _close_l3_l4_oracles()
    None,
)
def l3_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidate pairs via pyspark.ml (HashingTF + MinHashLSH
    + approxSimilarityJoin) — the built-in-estimator twin of the
    expression-built l3b path.

    The ml MinHash family is engine-specific (no DuckDB twin for the
    hash coefficients), so — like l3b since r5 — the registered output is
    the operator's QUALITY GATE with oracle-recomputed ground truth: the
    oracle independently counts identical-text pairs and exact n-gram
    Jaccard>=0.7 pairs, and Spark must (a) report the same counts, (b)
    find every identical-text pair (identical text => identical feature
    vector => identical MinHash bucket in every table => candidate at
    distance 0), (c) recover >= 90% of the exact-Jaccard>=0.7 pairs
    (8 OR-amplified tables: per-pair miss prob (1-j)^8 <= 7e-5 at j=0.7;
    measured 1.00 at sf0.001-0.1), and (d) keep the approxSimilarityJoin
    distance column honest: max |(1-dist) - exact_jaccard| <= 0.25 over
    emitted pairs (dist is exact Jaccard over 2^14 hashed-feature sets,
    so the only error source is feature-hash collisions; measured
    <= 0.02). The raw pair list (id_a, id_b, jaccard_dist) remains the
    production operator, cross-validated in tests/test_llm_ops.py."""
    docs, sh, truth = _dedup_gate_base(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, jaccard_distance_threshold=0.8
    )  # already localCheckpoint'ed inside
    counts = _gate_counts(pairs, truth)
    n_true, true_missed = counts["j07"]
    n_dup, dup_missed = counts["dup"]
    exact = D.verify_pairs_exact_jaccard(
        docs, pairs, "doc_id", "text", n=3, threshold=0.0, hashed=sh
    )
    max_err = (
        pairs.join(exact, ["id_a", "id_b"], "left")
        .select(
            F.max(
                F.abs(
                    (F.lit(1.0) - F.col("jaccard_dist"))
                    - F.coalesce(F.col("jaccard"), F.lit(0.0))
                )
            ).alias("m")
        )
        .collect()[0]["m"]
    )
    return small_df(
        spark,
        [(
            n_dup,
            n_true,
            dup_missed == 0,
            (n_true == 0) or (1.0 - true_missed / n_true >= 0.9),
            (max_err is None) or (max_err <= 0.25),
        )],
        "n_exact_dup_pairs bigint, n_true_pairs_j07 bigint, "
        "exact_dups_all_found boolean, recall_j07_ge_90pct boolean, "
        "max_est_err_le_025 boolean",
    )


@register(
    "l4_simhash_fingerprints",
    """
    WITH dup AS (
      SELECT COALESCE(SUM(c * (c - 1) / 2), 0) AS n
      FROM (SELECT COUNT(*) AS c FROM documents GROUP BY text) g
      WHERE c > 1
    )
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
           CAST((SELECT n FROM dup) AS BIGINT) AS n_identical_text_pairs,
           TRUE AS identical_text_same_simhash,
           TRUE AS identical_text_same_rolling_fp,
           TRUE AS distinct_simhash_le_distinct_text
    """,
)
def l4_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash + rolling-hash document fingerprints — pure JVM
    expressions (xxhash64 + array aggregation).

    The xxhash64 fingerprint VALUES have no DuckDB twin, so the registered
    output is the operator's QUALITY GATE with oracle-recomputed ground
    truth: the oracle counts docs and identical-text pairs, and Spark must
    (a) report the same counts, (b) give every identical-text pair an
    identical simhash AND identical rolling fingerprint (determinism — a
    mismatch means the fold depends on row order or partitioning), and
    (c) emit no more distinct simhashes than distinct texts (same text
    never forks into two fingerprints). The per-doc fingerprint table
    stays the production operator; its bit-exact portable-fold twin (md5
    family, full DuckDB replay of every fingerprint bit) is l4c."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    fp = docs.select(
        "doc_id",
        "text",
        T.simhash("text").alias("simhash"),
        T.doc_fingerprint("text").alias("rolling_fp"),
    ).localCheckpoint(eager=False)  # the totals collect below is fp's
    # only consumer in the first action (one full-materialization agg),
    # so it computes the cut once; the pair self-join then reads cached
    # blocks on both sides — no dedicated checkpoint job needed (r13
    # one-shot-eager audit, guide §1.2)
    totals = fp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("simhash").alias("n_fp"),
        F.countDistinct("text").alias("n_text"),
    ).collect()[0]
    pair_stats = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.text") == F.col("b.text"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                (F.col("a.simhash") != F.col("b.simhash")).cast("int")
            ).alias("sim_mismatch"),
            F.sum(
                (F.col("a.rolling_fp") != F.col("b.rolling_fp")).cast("int")
            ).alias("fp_mismatch"),
        )
        .collect()[0]
    )
    return small_df(
        spark,
        [(
            totals["n_docs"],
            pair_stats["n_pairs"] or 0,
            (pair_stats["sim_mismatch"] or 0) == 0,
            (pair_stats["fp_mismatch"] or 0) == 0,
            totals["n_fp"] <= totals["n_text"],
        )],
        "n_docs bigint, n_identical_text_pairs bigint, "
        "identical_text_same_simhash boolean, "
        "identical_text_same_rolling_fp boolean, "
        "distinct_simhash_le_distinct_text boolean",
    )


@register(
    "l5_text_stats",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
           ROUND(AVG(CAST(LENGTH(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                     / len(string_split(text, ' '))), 6) AS avg_word_len
    FROM documents GROUP BY lang
    """,
)
def l5_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis profile per language: token counts and word lengths
    from JVM-side split arithmetic (quality-scoring components)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    ntok = T.token_count("text")
    word_len = (F.length("text") - (ntok - 1)).cast("double") / ntok
    out = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum(ntok).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.avg(word_len).alias("avg_word_len"),
    )
    return _round_cols(out, ["avg_tokens", "avg_word_len"])


@register(
    "l6_marker_hits",
    """
    SELECT lang,
           CAST(SUM(CAST(len(list_intersect(string_split(text, ' '),
                                       ['the','and','of','to','a'])) > 0 AS BIGINT)) AS BIGINT) AS docs_with_en_markers,
           CAST(SUM(CAST(len(list_intersect(string_split(text, ' '),
                                       ['the','and','of','to','a'])) AS BIGINT)) AS BIGINT) AS total_distinct_marker_hits
    FROM documents GROUP BY lang
    """,
)
def l6_marker_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token scan — the building block of the language-ID heuristic
    (distinct marker words present per doc, aggregated per labeled lang)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    hits = T.marker_hits("text", T.LANG_MARKERS["en"])
    return docs.groupBy("lang").agg(
        F.sum((hits > 0).cast("bigint")).alias("docs_with_en_markers"),
        F.sum(hits.cast("bigint")).alias("total_distinct_marker_hits"),
    )


def _lang_confusion_oracle() -> str:
    """DuckDB twin of the lang_id argmax + confusion-share rollup, built
    from the same LANG_MARKERS source of truth as the Spark expression
    (first code in sorted order attaining the max score wins; 'und' when
    no marker matches — exactly lang_id's strict-greater fold)."""
    score = {
        code: (
            "len(list_intersect(string_split(text, ' '), ["
            + ", ".join(f"'{w}'" for w in T.LANG_MARKERS[code])
            + "]))"
        )
        for code in sorted(T.LANG_MARKERS)
    }
    g = "GREATEST(" + ", ".join(score.values()) + ")"
    cases = " ".join(
        f"WHEN {score[code]} = __g THEN '{code}'" for code in sorted(T.LANG_MARKERS)
    )
    return f"""
    WITH scored AS (SELECT lang, {g} AS __g, text FROM documents),
    cells AS (
      SELECT lang,
             CASE WHEN __g = 0 THEN 'und' {cases} END AS predicted,
             COUNT(*) AS n
      FROM scored GROUP BY 1, 2
    )
    SELECT lang, predicted, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY lang), 6)
             AS share_of_lang
    FROM cells
    """


@register("l6b_lang_id_confusion", _lang_confusion_oracle())
def l6b_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic confusion matrix (labeled lang x predicted)
    with each cell's share of its labeled language — window-over-groupBy.
    The testdata vocabulary is language-agnostic word soup, so accuracy is
    meaningless here — the operator mechanics (argmax of marker scores,
    deterministic tiebreak, partition-relative shares) are what's
    exercised and hash-checked."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    cells = (
        docs.select("lang", T.lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    share = F.col("n").cast("double") / F.sum("n").over(Window.partitionBy("lang"))
    return _round_cols(cells.withColumn("share_of_lang", share), ["share_of_lang"])


@register(
    "l17_normalized_text_dedup",
    """
    WITH norm AS (
      SELECT source,
             TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g')) AS ntext
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT ntext) AS BIGINT) AS n_unique_normalized,
           CAST(COUNT(*) - COUNT(DISTINCT ntext) AS BIGINT) AS n_collapsed
    FROM norm GROUP BY source
    """,
)
def l17_normalized_text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-dedup (the preprocessing step real corpus dedup
    runs BEFORE exact/MinHash passes: lowercase, strip non-alphanumerics,
    collapse whitespace — so trivial formatting variants collapse to one
    representative). Counts docs collapsed per source. All JVM regexp
    expressions; the normalized key would feed l1's keep-lowest-id dedup
    at 100 TB (hash the normalized text to shrink shuffle keys)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    ntext = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        docs.select("source", ntext.alias("ntext"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("ntext").alias("n_unique_normalized"),
            (F.count(F.lit(1)) - F.countDistinct("ntext"))
            .cast("bigint")
            .alias("n_collapsed"),
        )
    )


@register(
    "l18_token_histogram",
    """
    WITH t AS (
      SELECT lang, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    banded AS (
      SELECT lang,
             CASE WHEN n_tokens <= 64 THEN '00-64'
                  WHEN n_tokens <= 256 THEN '065-256'
                  WHEN n_tokens <= 1024 THEN '0257-1024'
                  ELSE '1025+' END AS token_band,
             n_tokens
      FROM t
    )
    SELECT lang, token_band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY n_tokens), 6) AS p50_tokens,
           ROUND(percentile_cont(0.95) WITHIN GROUP (ORDER BY n_tokens), 6) AS p95_tokens
    FROM banded GROUP BY lang, token_band
    """,
)
def l18_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count budgeting histogram — the first question a training-data
    pipeline asks of a corpus: how many tokens, distributed how, per
    language? Whitespace token counts (the oracle-proven l5 expression)
    band into the length buckets a packing/truncation policy cares about,
    with exact p50/p95 per (lang, band). One groupBy shuffle over
    (lang, band) — the token counting itself is map-side JVM expressions;
    at 100 TB this is a single pass with a tiny aggregate state.
    Ref parity: text analysis is a north-star extension (SURVEY.md §2 L)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    ntok = T.token_count("text")
    banded = docs.select(
        "lang",
        ntok.alias("n_tokens"),
        F.when(ntok <= 64, "00-64")
        .when(ntok <= 256, "065-256")
        .when(ntok <= 1024, "0257-1024")
        .otherwise("1025+")
        .alias("token_band"),
    )
    out = banded.groupBy("lang", "token_band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.expr("percentile(n_tokens, 0.5)").alias("p50_tokens"),
        F.expr("percentile(n_tokens, 0.95)").alias("p95_tokens"),
    )
    return _round_cols(out, ["p50_tokens", "p95_tokens"])


@register(
    "l19_sequence_packing",
    """
    WITH RECURSIVE d AS (
      SELECT doc_id % 8 AS shard, doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
      FROM documents
    ),
    pack AS (
      SELECT shard, rn, n_tokens, CAST(0 AS BIGINT) AS bin_id, n_tokens AS run
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.n_tokens,
             CASE WHEN p.run + d.n_tokens > 256 THEN p.bin_id + 1
                  ELSE p.bin_id END,
             CASE WHEN p.run + d.n_tokens > 256 THEN d.n_tokens
                  ELSE p.run + d.n_tokens END
      FROM pack p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1
    )
    SELECT CAST(shard AS BIGINT) AS shard, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           (SUM(n_tokens) <= 256 OR COUNT(*) = 1) AS within_cap
    FROM pack GROUP BY shard, bin_id
    """,
)
def l19_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 256-token training bins, sharded by
    doc_id % 8 (operators/packing.pack_greedy_by_shard): the step between
    dedup/filtering and tokenized shards in a training-data pipeline.
    Packing is sequential per shard and shard-parallel across executors;
    the DuckDB oracle replays the exact greedy recurrence with a
    recursive CTE, so bin boundaries — not just totals — are value-hash
    checked. Token counts use the oracle-proven l5 whitespace expression."""
    from datafusion_cyberpolka_eda_spark.operators.packing import (
        pack_greedy_by_shard,
    )

    # no spread(): the shard hashpartitioning exchange right after the scan
    # already fans the work out — a round-robin repartition before it would
    # be a second, pure-overhead shuffle (plan-audited to 1 Exchange)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.token_count("text").alias("n_tokens")
    )
    return pack_greedy_by_shard(docs, "doc_id", "n_tokens", cap=256, n_shards=8)


# Shared base for the l3b/l4b quality gates: exact word-3-gram Jaccard
# truth pairs at a threshold (the l2 computation) and exact-duplicate-text
# id pairs — both recomputable by DuckDB, so the gates carry oracle-checked
# data-dependent values, not just constant TRUEs.
_DEDUP_GATE_BASE_SQL = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i) s
      WHERE w[i+2] IS NOT NULL
    ),
    sz AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    tp AS (
      SELECT id_a, id_b
      FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) >= 0.7
    ),
    dup AS (
      -- only shingle-bearing docs (>= 3 tokens): a doc with fewer tokens
      -- has no 3-gram signature/fingerprint source set, so "identical
      -- text => found" is only provable above that floor (both engines
      -- apply the same guard; the driver corpus min is ~10 tokens)
      SELECT COALESCE(SUM(c * (c - 1) / 2), 0) AS n
      FROM (SELECT COUNT(*) AS c FROM documents
            WHERE len(string_split(text, ' ')) >= 3 GROUP BY text) g
      WHERE c > 1
    )
"""

# l3's gate oracle shares this truth recomputation, but the constant is
# defined after l3's decorator runs (registration order = sweep display
# order), so patch the oracle in here. Same SELECT shape as l3b's.
from datafusion_cyberpolka_eda_spark.registry import _REGISTRY as _REG  # noqa: E402

_REG["l3_minhash_lsh_pairs"] = (
    _REG["l3_minhash_lsh_pairs"][0],
    _DEDUP_GATE_BASE_SQL
    + """
    SELECT CAST((SELECT n FROM dup) AS BIGINT) AS n_exact_dup_pairs,
           CAST((SELECT COUNT(*) FROM tp) AS BIGINT) AS n_true_pairs_j07,
           TRUE AS exact_dups_all_found,
           TRUE AS recall_j07_ge_90pct,
           TRUE AS max_est_err_le_025
    """,
)


# (session, sf_dir) -> (docs, sh, truth): the l3/l3b/l4b gates all need
# the SAME ground truth (hashed shingles + exact-Jaccard>=0.7 pairs +
# identical-text pairs); materialize it once per session and share. The
# localCheckpoint'ed tables are small (pair lists + shingle table) and
# stay valid for the session; correctness is unaffected (each gate still
# left-joins ITS OWN operator output against the materialized truth, and
# the DuckDB oracle recomputes the truth independently every check).
_GATE_BASE_CACHE: dict[str, tuple] = {}


def _dedup_gate_base(spark: SparkSession, sf_dir: str):
    """(docs, sh, truth) shared by the l3/l3b/l4b gates: one checkpointed
    hashed-shingle table and ONE tagged truth table — exact-Jaccard>=0.7
    pairs (one shingle self-join, bounded to co-shingle pairs, never
    all-pairs) unioned with identical-text id pairs (join keyed on the
    text column; at 100 TB key on xxhash64(text) instead to shrink the
    shuffle). The tag lets a single left-join agg produce every gate
    count in one job. Memoized per (session, sf_dir, data fingerprint)
    with truth materialized, so the three gate queries share one truth
    build; the fingerprint (max mtime + total size of the documents
    parquet) invalidates the memo if the driver regenerates testdata at
    the same path mid-session, so checkpointed truth can never go
    stale."""
    key = f"{spark.sparkContext.applicationId}:{sf_dir}:{_docs_fingerprint(sf_dir)}"
    if key in _GATE_BASE_CACHE:
        return _GATE_BASE_CACHE[key]
    docs = load_table(spark, sf_dir, "documents")
    sh = D.hashed_shingles(docs, "doc_id", "text", n=3).localCheckpoint(eager=True)
    true_j07 = D.pair_jaccard_from_hashed(sh, "doc_id", threshold=0.7).select(
        "id_a", "id_b", F.lit("j07").alias("kind")
    )
    # identical-text truth restricted to shingle-bearing docs (>= 3
    # tokens), mirroring the oracle's guard: below that floor a doc has
    # no signature/fingerprint source set, so "identical => found" is
    # unprovable (SimHash of empty token sets still matches, but MinHash
    # emits no signature row)
    ids = docs.filter(T.token_count("text") >= 3).select("doc_id", "text")
    dup = (
        ids.alias("a")
        .join(
            ids.alias("b"),
            (F.col("a.text") == F.col("b.text"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.lit("dup").alias("kind"),
        )
    )
    truth = true_j07.unionByName(dup).localCheckpoint(eager=True)
    _GATE_BASE_CACHE[key] = (docs, sh, truth)
    return _GATE_BASE_CACHE[key]


def _gate_counts(pairs: DataFrame, truth: DataFrame) -> dict[str, tuple[int, int]]:
    """kind -> (n_truth, n_missed) in ONE left-join agg job."""
    rows = (
        truth.join(pairs.select("id_a", "id_b", F.lit(1).alias("__f")),
                   ["id_a", "id_b"], "left")
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("__f").isNull(), 1).otherwise(0)).alias("missed"),
        )
        .collect()
    )
    out = {r["kind"]: (r["n"], r["missed"] or 0) for r in rows}
    out.setdefault("j07", (0, 0))
    out.setdefault("dup", (0, 0))
    return out


@register(
    "l3b_minhash_banded",
    _DEDUP_GATE_BASE_SQL
    + """
    SELECT CAST((SELECT n FROM dup) AS BIGINT) AS n_exact_dup_pairs,
           CAST((SELECT COUNT(*) FROM tp) AS BIGINT) AS n_true_pairs_j07,
           TRUE AS exact_dups_all_found,
           TRUE AS recall_j07_ge_90pct,
           TRUE AS max_est_err_le_025
    """,
)
def l3b_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash near-dup pairs from pure xxhash64 expressions (no
    pyspark.ml): map-side-combined min-hash signatures, polynomial-fold
    band buckets, signature-agreement Jaccard estimate (validated against
    exact n-gram Jaccard in tests/test_llm_ops.py).

    The xxhash64 family has no DuckDB twin, so the registered output is
    the operator's QUALITY GATE with oracle-recomputed ground truth: the
    oracle independently counts identical-text pairs and exact-Jaccard>=0.7
    pairs from the corpus, and Spark must (a) report the same counts, (b)
    find every identical-text pair (identical text => identical signature
    => same band keys, so a miss is a real defect), (c) recover >= 90% of
    the exact-Jaccard>=0.7 pairs (measured 1.00 at sf0.001-0.1), and (d)
    keep max |est - exact| <= 0.25 over emitted pairs (64-hash estimator;
    measured <= 0.081). The raw pair list stays the production operator
    and is exercised end-to-end here and in l23. Portable-hash twin with
    full signature replay: l3c."""
    docs, sh, truth = _dedup_gate_base(spark, sf_dir)
    pairs = D.minhash_banded_pairs(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=16,
        est_threshold=0.45, hashed=sh,
    ).localCheckpoint(eager=False)  # _gate_counts' collect consumes
    # pairs exactly once (first action), materializing the cut; the
    # verify join and max_err actions then read cached blocks (r13
    # one-shot-eager audit — the band join still runs once)
    counts = _gate_counts(pairs, truth)
    n_true, true_missed = counts["j07"]
    n_dup, dup_missed = counts["dup"]
    exact = D.verify_pairs_exact_jaccard(
        docs, pairs, "doc_id", "text", n=3, threshold=0.0, hashed=sh
    )
    max_err = (
        pairs.join(exact, ["id_a", "id_b"], "left")
        .select(
            F.max(
                F.abs(F.col("est_jaccard") - F.coalesce(F.col("jaccard"), F.lit(0.0)))
            ).alias("m")
        )
        .collect()[0]["m"]
    )
    return small_df(
        spark,
        [(
            n_dup,
            n_true,
            dup_missed == 0,
            (n_true == 0) or (1.0 - true_missed / n_true >= 0.9),
            (max_err is None) or (max_err <= 0.25),
        )],
        "n_exact_dup_pairs bigint, n_true_pairs_j07 bigint, "
        "exact_dups_all_found boolean, recall_j07_ge_90pct boolean, "
        "max_est_err_le_025 boolean",
    )


from datafusion_cyberpolka_eda_spark.operators.dedup import (
    minhash_banded_portable_oracle,
)


@register("l3c_minhash_banded_portable", minhash_banded_portable_oracle())
def l3c_minhash_banded_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash dedup with the portable md5 + universal-hash family
    (functions/hashing.py): the DuckDB oracle recomputes the identical
    signatures, band buckets, candidate pairs, and agreement estimates, so
    the approximate algorithm itself is hash-checked end-to-end — the
    strongest correctness statement available for an LSH operator. The
    xxhash64 twin (l3b) stays the production path."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_banded_pairs_portable(
        docs, "doc_id", "text", n=3, num_hashes=32, bands=8, est_threshold=0.45
    )
    return _round_cols(pairs, ["est_jaccard"])


_SIMHASH_PORTABLE_ORACLE = """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
    h AS (SELECT doc_id, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h FROM tok),
    bits AS (
      SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) b
      GROUP BY doc_id, j
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN cnt > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
"""


@register("l4c_simhash_portable", _SIMHASH_PORTABLE_ORACLE)
def l4c_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints with the portable md5 token hash — the
    DuckDB oracle rebuilds every fingerprint bit-for-bit (per-bit +1/-1
    vote sums over the same 60-bit token hashes). Verifies the SimHash
    fold itself; the xxhash64 twin (l4) stays the production path."""
    from datafusion_cyberpolka_eda_spark.functions.hashing import md5_hash64

    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", T.simhash("text", hash_fn=md5_hash64, n_bits=60).alias("simhash")
    )


@register(
    "l4b_simhash_near_pairs",
    _DEDUP_GATE_BASE_SQL
    + """
    SELECT CAST((SELECT n FROM dup) AS BIGINT) AS n_exact_dup_pairs,
           CAST((SELECT COUNT(*) FROM tp) AS BIGINT) AS n_true_pairs_j07,
           TRUE AS exact_dups_all_found,
           TRUE AS recall_j07_ge_85pct
    """,
)
def l4b_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 6) via pigeonhole band join —
    sub-quadratic candidate generation, exact hamming verification.

    The xxhash64 token hash has no DuckDB twin, so like l3b the registered
    output is the QUALITY GATE with oracle-recomputed ground truth: the
    oracle counts identical-text pairs and exact-Jaccard>=0.7 pairs, and
    Spark must report the same counts, find every identical-text pair
    (identical text => identical fingerprint => hamming 0, found by every
    band), and recover >= 85% of the Jaccard>=0.7 pairs (measured
    0.93-1.00 at sf0.001-0.1; SimHash is a weighted-token cosine proxy,
    so its miss set vs a Jaccard truth is expected-nonempty). Bit-exact
    portable-fold twin: l4c."""
    docs, _sh, truth = _dedup_gate_base(spark, sf_dir)
    pairs = D.simhash_near_pairs(docs, "doc_id", "text", max_hamming=6).localCheckpoint(
        eager=False  # _gate_counts' collect is pairs' only consumer —
        # it materializes the cut in its own single pass, no dedicated
        # checkpoint job (r13 one-shot-eager audit)
    )
    counts = _gate_counts(pairs, truth)
    n_true, true_missed = counts["j07"]
    n_dup, dup_missed = counts["dup"]
    return small_df(
        spark,
        [(
            n_dup,
            n_true,
            dup_missed == 0,
            (n_true == 0) or (1.0 - true_missed / n_true >= 0.85),
        )],
        "n_exact_dup_pairs bigint, n_true_pairs_j07 bigint, "
        "exact_dups_all_found boolean, recall_j07_ge_85pct boolean",
    )


@register(
    "l12_vocab_topk",
    """
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    c AS (
      SELECT word, COUNT(*) AS tf, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM w WHERE word != '' GROUP BY word
    )
    SELECT word, tf, df FROM c ORDER BY tf DESC, word LIMIT 50
    """,
)
def l12_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building — global term and document frequencies, top-50
    by count (tokenizer-training / stopword-mining step). Word counts are
    the canonical skewed aggregation; partial (map-side) aggregation
    absorbs the skew for counts, and the top-k is TakeOrderedAndProject
    (per-partition heaps), never a global sort. Deterministic tiebreak
    (count desc, word asc) on both engines."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    w = docs.select("doc_id", F.explode(T.tokens("text")).alias("word")).filter(
        F.col("word") != ""
    )
    return (
        w.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("word"))
        .limit(50)
    )


@register(
    "l13_tfidf_topk",
    """
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w WHERE word != '' GROUP BY doc_id, word),
    df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word,
             ROUND(tf.tf * ln(CAST((SELECT n FROM n) AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (word)
    ),
    ranked AS (
      SELECT doc_id, word, tfidf,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, word ASC) AS BIGINT) AS rank
      FROM scored
    )
    SELECT doc_id, word, tfidf, rank FROM ranked WHERE rank <= 3
    """,
)
def l13_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: per-doc term frequencies, document
    frequencies, idf = ln(N/df), top-3 terms per doc via a partitioned
    window. Two shuffles (doc-term agg, term df) + one broadcast of the
    tiny df table back onto the term rows; rank ties broken by word for
    determinism. The per-(doc,word) groupBy carries hashed-string keys
    only — at 100 TB swap the word for xxhash64(word) and re-attach
    strings to the final top-k rows."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    n_docs = docs.count()
    w = docs.select("doc_id", F.explode(T.tokens("text")).alias("word")).filter(
        F.col("word") != ""
    )
    tf = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df), "word").select(
        "doc_id",
        "word",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "word", "tfidf", "rank")
    )


@register(
    "l14_label_centroid_norms",
    """
    WITH pos AS (SELECT unnest(generate_series(1, 64)) AS i),
    comp AS (
      SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS c
      FROM embeddings CROSS JOIN pos GROUP BY label, i
    )
    SELECT label,
           CAST((SELECT COUNT(*) FROM embeddings e WHERE e.label = comp.label) AS BIGINT) AS n_vectors,
           ROUND(sqrt(SUM(c * c)), 6) AS centroid_norm
    FROM comp GROUP BY label
    """,
)
def l14_label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (the k-means/IVF building block):
    elementwise mean via posexplode + (label, position) aggregation, then
    the centroid L2 norm. One shuffle of (label, dim) pairs — state
    O(labels x dim), independent of row count; the same shape computes
    IVF cell centroids at 100 TB. Norm rounded (order-sensitive float
    sum); component means are exact-count averages."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = (
        emb.select("label", F.posexplode("embedding").alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.avg(F.col("v").cast("double")).alias("c"))
    )
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    out = (
        comp.groupBy("label")
        .agg(F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm"))
        .join(F.broadcast(counts), "label")
        .select("label", "n_vectors", "centroid_norm")
    )
    return out


@register(
    "l11_neardup_components",
    """
    WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i) s
      WHERE w[i+2] IS NOT NULL
    ),
    sz AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) >= 0.5
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.id
    ),
    comp AS (SELECT id AS doc_id, MIN(r) AS canonical_id FROM reach GROUP BY id)
    SELECT c.doc_id, c.canonical_id, cs.cluster_size
    FROM comp c
    JOIN (SELECT canonical_id, COUNT(*) AS cluster_size
          FROM comp GROUP BY canonical_id) cs USING (canonical_id)
    """,
)
def l11_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate cluster canonicalization — the step that turns pair
    output into an actual deduped corpus: exact 3-gram Jaccard pairs at
    >= 0.5 form a similarity graph; HashMin label propagation
    (dedup.connected_components, iterative joins, no driver-side graph)
    resolves transitive clusters; every member maps to the cluster's min
    doc_id as its canonical representative. The DuckDB oracle recomputes
    the same closure with a recursive CTE, so the iterative Spark
    algorithm is hash-checked end-to-end, not rows-only."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    comps = D.connected_components(pairs, "id_a", "id_b")
    sizes = comps.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comps.select(F.col("id").alias("doc_id"), F.col("comp").alias("canonical_id"))
        .join(
            F.broadcast(sizes.withColumnRenamed("comp", "canonical_id")),
            "canonical_id",
        )
        .select("doc_id", "canonical_id", "cluster_size")
    )


@register(
    "l20_contamination_screen",
    """
    WITH d AS (
      SELECT doc_id, lang, source,
             string_split(lower(text), ' ') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, lang, source,
             ('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15))::BIGINT AS h
      FROM d, UNNEST(range(1, greatest(len(toks) - 3, 1))) AS t(i)
    ),
    bench AS (SELECT DISTINCT h FROM g WHERE source IN ('src0', 'src1')),
    tdocs AS (
      SELECT lang, COUNT(*) AS n_docs FROM d
      WHERE source NOT IN ('src0', 'src1') GROUP BY lang
    ),
    hit AS (
      SELECT DISTINCT g.doc_id, g.lang
      FROM g JOIN bench USING (h)
      WHERE g.source NOT IN ('src0', 'src1')
    ),
    hc AS (SELECT lang, COUNT(*) AS n_contaminated FROM hit GROUP BY lang)
    SELECT t.lang,
           CAST(t.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(hc.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           ROUND(COALESCE(hc.n_contaminated, 0) * 1.0 / t.n_docs, 6)
             AS contamination_rate
    FROM tdocs t LEFT JOIN hc USING (lang)
    """,
)
def l20_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination screen — the training-data op that near-dup
    dedup does NOT cover: a train document is contaminated if it shares ANY
    exact 5-gram with the held-out benchmark corpus (sources src0/src1
    stand in for the benchmark split). Exact n-gram containment is the
    standard decontamination rule (as in open LM training pipelines);
    near-dup (l3/l10) would miss a doc quoting one benchmark sentence.

    Plan shape: tokenize + explode 5-grams map-side, hash each gram to a
    portable 60-bit md5 key (functions/hashing — the DuckDB oracle
    replays tokenization, gram hashing, containment, and per-lang rates
    end-to-end), semi-join train grams against the DISTINCT benchmark
    gram set, then count distinct contaminated docs per lang.

    100 TB design: real benchmark suites are tiny (MBs) — their distinct
    gram set broadcasts, so the train side never shuffles gram rows: the
    explode, the broadcast semi-join probe, and the per-doc dedup's
    map-side partial all happen in the scan stage; only (lang, doc)
    survivors shuffle. Contamination screening an entire crawl is one
    pass over the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    g = _doc_gram_hashes(docs, n=5)
    is_bench = F.col("source").isin("src0", "src1")
    bench = g.filter(is_bench).select("h").distinct()
    train_hits = (
        g.filter(~is_bench)
        .join(F.broadcast(bench), "h", "left_semi")
        .select("doc_id", "lang")
        .distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    tdocs = (
        docs.filter(~is_bench)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        tdocs.join(train_hits, "lang", "left")
        .select(
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.coalesce("n_contaminated", F.lit(0)).cast("bigint").alias(
                "n_contaminated"
            ),
            F.round(
                F.coalesce("n_contaminated", F.lit(0)) * 1.0 / F.col("n_docs"),
                6,
            ).alias("contamination_rate"),
        )
    )


@register(
    "l22_mixture_sampling",
    """
    WITH d AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM documents
    ), w AS (
      SELECT source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             CAST(FLOOR((CASE source WHEN 'src0' THEN 0.35
                                     WHEN 'src1' THEN 0.25
                                     ELSE 0.05 END) * 50000) AS BIGINT) AS budget
      FROM d
    )
    SELECT source,
           MIN(budget) AS budget_tokens,
           COUNT(*) AS n_docs_total,
           COUNT(*) FILTER (WHERE cum <= budget) AS n_docs_kept,
           CAST(COALESCE(SUM(n_tokens) FILTER (WHERE cum <= budget), 0) AS BIGINT) AS tokens_kept
    FROM w GROUP BY source
    """,
)
def l22_mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted mixture sampling under a token budget — the
    pretraining data-mixing primitive: each source gets
    floor(weight * total_budget) tokens; docs are ordered by a
    deterministic portable hash (an unbiased shuffle both engines replay)
    and kept while the per-source cumulative token count fits the budget.
    One window per source partition + one groupBy — shards by source at
    any scale; skewed sources salt like any window partition. Exact
    integer token arithmetic end-to-end, no float drift."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    from datafusion_cyberpolka_eda_spark.functions.hashing import md5_hash64

    budget = F.floor(
        F.when(F.col("source") == "src0", F.lit(0.35))
        .when(F.col("source") == "src1", F.lit(0.25))
        .otherwise(F.lit(0.05))
        * 50000
    ).cast("bigint")
    d = docs.select(
        "doc_id",
        "source",
        T.token_count("text").cast("bigint").alias("n_tokens"),
        md5_hash64(F.col("doc_id").cast("string")).alias("h"),
        budget.alias("budget"),
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = d.withColumn("cum", F.sum("n_tokens").over(w))
    kept = F.col("cum") <= F.col("budget")
    return cum.groupBy("source").agg(
        F.min("budget").alias("budget_tokens"),
        F.count(F.lit(1)).alias("n_docs_total"),
        F.count(F.when(kept, 1)).alias("n_docs_kept"),
        F.coalesce(F.sum(F.when(kept, F.col("n_tokens"))), F.lit(0)).alias("tokens_kept"),
    )


from datafusion_cyberpolka_eda_spark.operators.dedup import dedup_pipeline_oracle


@register("l23_dedup_pipeline", dedup_pipeline_oracle())
def l23_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL near-dup dedup pipeline as one call — the composition a
    training-data job actually runs, each stage an already-verified
    operator: banded-MinHash candidates (portable hash family,
    est >= 0.45) -> exact n-gram Jaccard verification bounded to
    candidates (>= 0.6) -> HashMin connected components -> corpus
    summary (clusters, docs removed, survivor checksum). The oracle
    replays every stage including the recursive closure, so the
    pipeline's end-to-end integer summary is hash-checked, not assembled
    from per-stage trust. Scale: candidates are banded (never all-pairs),
    verification touches candidate pairs only, components run
    join+groupBy-min rounds — the whole pipeline is the SCALE.md L-family
    budget, composed."""
    from datafusion_cyberpolka_eda_spark.functions.hashing import md5_hash64
    from datafusion_cyberpolka_eda_spark.operators.dedup import (
        connected_components,
        minhash_banded_pairs_portable,
        verify_pairs_exact_jaccard,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the summary fans out into five aggregation jobs plus the component
    # iterations — checkpoint the two expensive stages once so the band
    # self-join and the intersection join run once, not ~3x
    cand = minhash_banded_pairs_portable(docs, "doc_id", "text").localCheckpoint(
        eager=False  # the verify stage's eager cut materializes it
    )
    ver = verify_pairs_exact_jaccard(
        docs, cand, "doc_id", "text", n=3, threshold=0.6, hash_fn=md5_hash64
    ).localCheckpoint(eager=True)
    comps = connected_components(ver, "id_a", "id_b")
    removed = comps.filter(F.col("id") != F.col("comp"))
    s_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    s_cand = cand.agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    s_ver = ver.agg(F.count(F.lit(1)).alias("n_verified_pairs"))
    s_comp = comps.agg(F.countDistinct("comp").alias("n_clusters"))
    s_rem = removed.agg(
        F.count(F.lit(1)).alias("n_docs_removed"),
        F.coalesce(F.sum("id"), F.lit(0)).cast("bigint").alias("removed_id_checksum"),
    )
    out = s_docs
    for s in (s_cand, s_ver, s_comp, s_rem):
        out = out.join(F.broadcast(s))
    return out


@register(
    "l24_unigram_surprisal",
    """
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents
    ), tk AS (
      SELECT lang, t FROM tok WHERE t != ''
    ), vocab AS (
      SELECT t, COUNT(*) AS c FROM tk GROUP BY 1
    ), n AS (
      SELECT COUNT(*) AS n, (SELECT COUNT(*) FROM vocab) AS v FROM tk
    )
    SELECT lang, COUNT(*) AS n_tokens,
           ROUND(AVG(-ln((c + 1.0) / (n + v))), 6) AS avg_surprisal
    FROM tk JOIN vocab USING (t) CROSS JOIN n
    GROUP BY lang
    """,
)
def l24_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram surprisal (pseudo-perplexity — the cheapest
    model-based text-quality signal; gibberish and boilerplate both stand
    out): add-one-smoothed token probabilities from one vocabulary pass,
    then mean -ln p per language. Two groupBys (vocab, rollup) + one join
    of tokens to vocab — at 100 TB the vocab table is the Zipf-small side
    (broadcast below threshold, else one hash join); scoring is map-side
    arithmetic. ln agrees across engines to ulps; the per-lang mean over
    thousands of tokens rounds identically at 6dp."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tk = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    vocab = tk.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n = tk.agg(F.count(F.lit(1)).alias("n")).join(
        vocab.agg(F.count(F.lit(1)).alias("v"))
    )
    surprisal = -F.log((F.col("c") + F.lit(1.0)) / (F.col("n") + F.col("v")))
    return (
        tk.join(vocab, "t")
        .join(F.broadcast(n))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(surprisal), 6).alias("avg_surprisal"),
        )
    )


@register(
    "l25_repetition_stats",
    """
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') w FROM documents),
    g AS (
      SELECT doc_id, lang, w[i] || ' ' || w[i+1] AS gram
      FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i) s
      WHERE w[i+1] IS NOT NULL
    ),
    pg AS (SELECT doc_id, lang, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
    per AS (
      SELECT doc_id, lang, SUM(c) AS total, COUNT(*) AS dist, MAX(c) AS mx
      FROM pg GROUP BY 1, 2
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(1 - CAST(dist AS DOUBLE) / total), 6) AS avg_dup_2gram_frac,
           ROUND(AVG(CAST(mx AS DOUBLE) / total), 6) AS avg_top_2gram_share,
           CAST(SUM(CAST((1 - CAST(dist AS DOUBLE) / total) > 0.6 AS INT)) AS BIGINT)
             AS n_docs_dup_frac_gt_06
    FROM per GROUP BY lang
    """,
)
def l25_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition profile — the Gopher/C4 repetition
    quality rule (docs dominated by repeated n-grams are boilerplate or
    spam): per doc, the duplicate-2-gram fraction (1 - distinct/total)
    and the share of the single most frequent 2-gram; rolled up per
    language with a count of docs past a 0.6 duplicate-fraction flag.

    Scale shape: explode 2-grams (shingles slice-zip — the split runs
    O(1) times per row), ONE map-side-combined groupBy(doc, gram), one
    groupBy(doc), one tiny rollup. The (doc, gram) shuffle carries
    hashed-width keys only; at 100 TB swap gram for xxhash64(gram) as in
    l13. No UDFs anywhere."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    g = docs.select(
        "doc_id", "lang", F.explode(T.shingles("text", 2)).alias("gram")
    )
    pg = g.groupBy("doc_id", "lang", "gram").agg(F.count(F.lit(1)).alias("c"))
    per = pg.groupBy("doc_id", "lang").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("dist"),
        F.max("c").alias("mx"),
    )
    dup_frac = 1 - F.col("dist").cast("double") / F.col("total")
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(dup_frac), 6).alias("avg_dup_2gram_frac"),
        F.round(F.avg(F.col("mx").cast("double") / F.col("total")), 6).alias(
            "avg_top_2gram_share"
        ),
        F.sum((dup_frac > 0.6).cast("int")).cast("bigint").alias(
            "n_docs_dup_frac_gt_06"
        ),
    )


_REDACT_PATTERN = "customer|query"  # stand-in for PII regexes (emails,
# phone numbers, ...) — the synthetic corpus has no digits/addresses, so
# the mechanics are exercised on terms that actually occur


@register(
    "l26_redaction_scrub",
    f"""
    WITH m AS (
      SELECT source,
             len(regexp_extract_all(text, '{_REDACT_PATTERN}')) AS hits,
             CAST(LENGTH(text) AS BIGINT)
               - LENGTH(regexp_replace(text, '{_REDACT_PATTERN}', '[X]', 'g'))
               + 3 * len(regexp_extract_all(text, '{_REDACT_PATTERN}')) AS bytes_removed
      FROM documents
    )
    SELECT source,
           CAST(SUM(hits) AS BIGINT) AS total_hits,
           CAST(SUM(CAST(hits > 0 AS INT)) AS BIGINT) AS docs_affected,
           CAST(SUM(bytes_removed) AS BIGINT) AS bytes_redacted
    FROM m GROUP BY source
    """,
)
def l26_redaction_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitive-term scrub accounting — the PII-redaction step of a
    training-data pipeline as pure map-side regex expressions: per
    source, total pattern hits, affected docs, and bytes removed when
    every match is replaced by a fixed '[X]' token. The pattern here is a
    term list (the corpus is synthetic, digit-free); production swaps in
    email/phone/SSN regexes with identical plumbing. One corpus pass +
    one tiny rollup; regexp engines agree on this alternation-only
    pattern, so DuckDB replays hit counts and byte deltas exactly."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    hits = F.size(F.regexp_extract_all("text", F.lit(_REDACT_PATTERN), F.lit(0)))
    redacted_len = F.length(
        F.regexp_replace("text", _REDACT_PATTERN, "[X]")
    )
    bytes_removed = (
        F.length("text").cast("bigint") - redacted_len + 3 * hits
    )
    m = docs.select(
        "source", hits.alias("hits"), bytes_removed.alias("bytes_removed")
    )
    return m.groupBy("source").agg(
        F.sum("hits").cast("bigint").alias("total_hits"),
        F.sum((F.col("hits") > 0).cast("int")).cast("bigint").alias("docs_affected"),
        F.sum("bytes_removed").cast("bigint").alias("bytes_redacted"),
    )


@register(
    "l27_mixture_weights",
    """
    WITH s AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_tokens,
             POW(CAST(n_tokens AS DOUBLE), 0.7) AS raw
      FROM s
    )
    SELECT source, n_tokens,
           ROUND(raw / SUM(raw) OVER (), 6) AS weight,
           ROUND(raw / SUM(raw) OVER () * (SELECT SUM(n_tokens) FROM s), 1)
             AS expected_tokens
    FROM w
    """,
)
def l27_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture weights — the sampling-weight
    planning step before l22's mixture draw: per-source token counts,
    alpha=0.7 power reweighting (upsamples small sources the way
    multilingual/multi-domain training mixes do), normalized weight, and
    the expected token budget each source receives at the corpus-total
    budget. One corpus pass + a tiny per-source window; pow/division are
    libm-identical across engines and round at 6dp / 0.1 tokens."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    s = docs.groupBy("source").agg(
        F.sum(T.token_count("text")).cast("bigint").alias("n_tokens")
    )
    w = s.withColumn("raw", F.pow(F.col("n_tokens").cast("double"), F.lit(0.7)))
    win = Window.partitionBy()
    total_raw = F.sum("raw").over(win)
    total_tokens = F.sum("n_tokens").over(win)
    return w.select(
        "source",
        "n_tokens",
        F.round(F.col("raw") / total_raw, 6).alias("weight"),
        F.round(
            F.col("raw") / total_raw * total_tokens.cast("double"), 1
        ).alias("expected_tokens"),
    )


@register(
    "l28_bpe_pair_merges",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    g AS (
      SELECT doc_id, w[i] AS a, w[i+1] AS b
      FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i) s
      WHERE w[i+1] IS NOT NULL AND w[i] != '' AND w[i+1] != ''
    )
    SELECT a, b, CAST(COUNT(*) AS BIGINT) AS pair_count,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM g GROUP BY a, b
    ORDER BY pair_count DESC, a, b LIMIT 20
    """,
)
def l28_bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration — the tokenizer-training primitive: count
    every adjacent token pair across the corpus and rank the merge
    candidates (highest-frequency pair merges first), with per-pair
    document frequency. One explode + one map-side-combined groupBy; the
    top-k is TakeOrderedAndProject (per-partition heaps), never a global
    sort. Deterministic (count desc, pair asc) tiebreak on both engines.
    Full BPE training iterates this with re-tokenization — each round is
    the same one-pass shape over the updated token column; at 100 TB you
    run it over a corpus sample, which is exactly how production BPE
    vocabularies are trained."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    n = F.size(toks)
    a_arr = F.slice(toks, 1, F.greatest(n - 1, F.lit(0)))
    b_arr = F.slice(toks, 2, F.greatest(n - 1, F.lit(0)))
    g = docs.select(
        "doc_id",
        F.explode(F.zip_with(a_arr, b_arr, lambda x, y: F.struct(x.alias("a"), y.alias("b")))).alias("p"),
    ).select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b")).filter(
        (F.col("a") != "") & (F.col("b") != "")
    )
    return (
        g.groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("pair_count"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


@register(
    "l29_neardup_canonical_pick",
    """
    WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i) s
      WHERE w[i+2] IS NOT NULL
    ),
    sz AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) >= 0.5
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.id
    ),
    comp AS (SELECT id AS doc_id, MIN(r) AS canonical_id FROM reach GROUP BY id),
    multi AS (
      SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY canonical_id HAVING COUNT(*) > 1
    ),
    cand AS (
      SELECT c.canonical_id, c.doc_id,
             len(string_split(d.text, ' ')) AS n_tokens
      FROM comp c JOIN documents d USING (doc_id) JOIN multi USING (canonical_id)
    ),
    pick AS (
      SELECT canonical_id, doc_id AS picked_id, CAST(n_tokens AS BIGINT) AS picked_n_tokens,
             ROW_NUMBER() OVER (PARTITION BY canonical_id
               ORDER BY n_tokens DESC, doc_id ASC) AS rn
      FROM cand
    )
    SELECT m.canonical_id, m.cluster_size, p.picked_id, p.picked_n_tokens
    FROM multi m JOIN pick p USING (canonical_id) WHERE p.rn = 1
    """,
)
def l29_neardup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection after near-dup clustering — the policy
    step that decides WHICH document survives dedup (keep the
    longest-by-token-count member, ties to the lowest doc_id; production
    policies swap in quality scores with the same shape): l11's
    connected components over exact-Jaccard>=0.5 pairs, restricted to
    multi-document clusters, joined to per-doc token counts, one
    partitioned window pick. The DuckDB oracle replays the recursive
    closure AND the pick policy, so the end-to-end survivor set is
    value-hash-checked. Scale shape: the window partitions by cluster id
    (no global sort); token counts join map-side; everything downstream
    of the (already linear) pair generation is proportional to cluster
    membership, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    comps = D.connected_components(pairs, "id_a", "id_b")
    sizes = (
        comps.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .filter(F.col("cluster_size") > 1)
        .withColumnRenamed("comp", "canonical_id")
    )
    # no forced broadcast: multi-doc cluster count grows with the corpus;
    # AQE broadcasts the size table only while it is actually small
    cand = (
        comps.select(F.col("id").alias("doc_id"), F.col("comp").alias("canonical_id"))
        .join(sizes, "canonical_id")
        .join(
            docs.select("doc_id", T.token_count("text").alias("n_tokens")),
            "doc_id",
        )
    )
    w = Window.partitionBy("canonical_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "canonical_id",
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("doc_id").alias("picked_id"),
            F.col("n_tokens").cast("bigint").alias("picked_n_tokens"),
        )
    )


def _l30_oracle() -> str:
    inner = minhash_banded_portable_oracle(
        n=3, num_hashes=32, bands=8, est_threshold=0.45
    )
    return f"""
    WITH fuzzy_pairs AS (
      {inner}
    ),
    d AS (
      SELECT doc_id, lang, source IN ('src0', 'src1') AS is_bench
      FROM documents
    ),
    x AS (
      SELECT CASE WHEN da.is_bench THEN p.id_b ELSE p.id_a END AS train_doc,
             CASE WHEN da.is_bench THEN db.lang ELSE da.lang END AS lang
      FROM fuzzy_pairs p
      JOIN d da ON da.doc_id = p.id_a
      JOIN d db ON db.doc_id = p.id_b
      WHERE da.is_bench != db.is_bench
    ),
    tdocs AS (
      SELECT lang, COUNT(*) AS n_train_docs FROM d
      WHERE NOT is_bench GROUP BY lang
    )
    SELECT t.lang,
           CAST(t.n_train_docs AS BIGINT) AS n_train_docs,
           CAST(COALESCE(COUNT(DISTINCT x.train_doc), 0) AS BIGINT)
             AS n_fuzzy_contaminated,
           ROUND(CAST(COALESCE(COUNT(DISTINCT x.train_doc), 0) AS DOUBLE)
                 / t.n_train_docs, 6) AS contamination_rate
    FROM tdocs t LEFT JOIN x ON x.lang = t.lang
    GROUP BY t.lang, t.n_train_docs
    """


@register("l30_fuzzy_decontamination", _l30_oracle())
def l30_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination — the near-duplicate complement of
    l20's exact 5-gram containment screen (exact matching misses
    paraphrased/lightly-edited benchmark leakage; production pipelines
    run both): banded MinHash candidates between the held-out benchmark
    slice (source src0/src1, the l20 convention) and the training slice,
    est-Jaccard >= 0.45, rolled up per language as distinct contaminated
    training docs + rate. Uses the PORTABLE md5 universal-hash family so
    the DuckDB oracle replays signatures, band buckets, candidate pairs,
    and the cross-slice classification end-to-end (the l3c pattern); the
    xxhash64 family is the drop-in production path at ~5-10x hash speed.
    Scale shape: one banded self-join (candidates track near-pair
    density), two metadata joins, one rollup — never bench x train
    all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_banded_pairs_portable(
        docs, "doc_id", "text", n=3, num_hashes=32, bands=8, est_threshold=0.45
    )
    d = docs.select(
        "doc_id", F.col("source").isin("src0", "src1").alias("is_bench"), "lang"
    )
    x = (
        pairs.join(
            d.select(
                F.col("doc_id").alias("id_a"),
                F.col("is_bench").alias("bench_a"),
                F.col("lang").alias("lang_a"),
            ),
            "id_a",
        )
        .join(
            d.select(
                F.col("doc_id").alias("id_b"),
                F.col("is_bench").alias("bench_b"),
                F.col("lang").alias("lang_b"),
            ),
            "id_b",
        )
        .filter(F.col("bench_a") != F.col("bench_b"))
        .select(
            F.when(F.col("bench_a"), F.col("id_b")).otherwise(F.col("id_a")).alias("train_doc"),
            F.when(F.col("bench_a"), F.col("lang_b")).otherwise(F.col("lang_a")).alias("lang"),
        )
    )
    tdocs = d.filter(~F.col("is_bench")).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_train_docs")
    )
    hit = x.groupBy("lang").agg(
        F.countDistinct("train_doc").alias("n_fuzzy_contaminated")
    )
    return (
        tdocs.join(hit, "lang", "left")
        .select(
            "lang",
            F.col("n_train_docs").cast("bigint").alias("n_train_docs"),
            F.coalesce("n_fuzzy_contaminated", F.lit(0)).cast("bigint").alias(
                "n_fuzzy_contaminated"
            ),
            F.round(
                F.coalesce("n_fuzzy_contaminated", F.lit(0)).cast("double")
                / F.col("n_train_docs"),
                6,
            ).alias("contamination_rate"),
        )
    )


# ---- iterative BPE training (l28b) ----


def _bpe_ctes(k: int) -> str:
    """Unrolled-CTE replay of bpe_train (the PageRank-oracle
    pattern, registry/extra.py:_pagerank_oracle): per round, pick the
    top pair (count desc, a, b), find match positions, apply the
    textbook non-overlapping greedy rule — within runs of CONSECUTIVE
    match positions (which only exist when a = b), merge the odd-ranked
    ones — then rebuild each token array. Equivalent to the Spark
    side's left-to-right fold: a merged token contains a space and can
    never re-match `a` in the same pass."""
    # AS MATERIALIZED: DuckDB inlines plain CTEs, so the chained
    # w{i} -> tk{i+1} references re-evaluate the whole prefix per use —
    # measured 20.8 s -> 0.32 s at sf0.01 with materialization
    parts = [
        "w0 AS MATERIALIZED (SELECT doc_id, "
        "list_filter(string_split(text, ' '), x -> x != '') AS w FROM documents)"
    ]
    for i in range(1, k + 1):
        parts.append(f"""
    tk{i} AS MATERIALIZED (
      SELECT doc_id, i AS pos, w[i] AS t, w[i+1] AS tn
      FROM w{i - 1}, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) s
    ),
    p{i} AS MATERIALIZED (
      SELECT t AS a, tn AS b, COUNT(*) AS c
      FROM tk{i} WHERE tn IS NOT NULL
      GROUP BY 1, 2 ORDER BY c DESC, a, b LIMIT 1
    ),
    m{i} AS MATERIALIZED (
      SELECT doc_id, pos FROM tk{i}, p{i} WHERE t = p{i}.a AND tn = p{i}.b
    ),
    sel{i} AS MATERIALIZED (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY doc_id, grp ORDER BY pos) AS rk
        FROM (SELECT doc_id, pos,
                     pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                       AS grp
              FROM m{i}) gg
      ) hh WHERE rk % 2 = 1
    ),
    w{i} AS MATERIALIZED (
      SELECT t.doc_id,
             list(CASE WHEN s.pos IS NOT NULL THEN t.t || ' ' || t.tn
                       ELSE t.t END ORDER BY t.pos) AS w
      FROM tk{i} t
      LEFT JOIN sel{i} s ON s.doc_id = t.doc_id AND s.pos = t.pos
      WHERE NOT EXISTS (SELECT 1 FROM sel{i} s2
                        WHERE s2.doc_id = t.doc_id AND s2.pos = t.pos - 1)
      GROUP BY t.doc_id
    )""")
    return "WITH " + ",".join(parts)


def _l28b_oracle(k: int = 5) -> str:
    selects = "\n    UNION ALL ".join(
        f"SELECT {i} AS step, a, b, CAST(c AS BIGINT) AS pair_count FROM p{i}"
        for i in range(1, k + 1)
    )
    return _bpe_ctes(k) + "\n    " + selects


def _l28c_oracle(k: int = 5) -> str:
    """Encode-side summary over the same unrolled supersteps: per-lang
    doc/token counts before and after all k merges. LEFT JOIN to w{k}:
    a doc with zero non-empty tokens never enters the tk/w chain, so its
    after-count coalesces to its (zero) before-count."""
    return _bpe_ctes(k) + f"""
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(a.w)) AS BIGINT) AS tokens_before,
           CAST(SUM(COALESCE(len(b.w), 0)) AS BIGINT) AS tokens_after,
           ROUND(SUM(COALESCE(len(b.w), 0)) * 1.0 / SUM(len(a.w)), 6)
             AS compression
    FROM w0 a
    LEFT JOIN w{k} b USING (doc_id)
    JOIN documents d USING (doc_id)
    GROUP BY d.lang"""


@register("l28b_bpe_train_k_merges", _l28b_oracle(5))
def l28b_bpe_train_k_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE TRAINING (r6 verdict task 3) — the loop l28 showed
    one step of: 5 rounds of count-pairs -> argmax merge (deterministic
    count-desc/a/b tiebreak) -> greedy non-overlapping apply -> re-pair,
    over the documents corpus. Returns the learned merge table
    (step, a, b, pair_count) — the artifact tokenizer training actually
    produces. Spark side: operators/bpe.py (one pair-count groupBy +
    TakeOrdered(1) + a map-side array fold per round, lineage cut per
    round — the PageRank superstep shape); the DuckDB oracle unrolls the
    same 5 supersteps as chained CTEs, so the full iterative training
    run is value-hash-checked end-to-end, not just one step."""
    from datafusion_cyberpolka_eda_spark.operators.bpe import bpe_train_merges

    docs = spread(load_table(spark, sf_dir, "documents"))
    merges = bpe_train_merges(docs, "text", k=5)
    return small_df(
        spark, merges, "step int, a string, b string, pair_count bigint"
    )


@register(
    "l28c_bpe_encode",
    _l28c_oracle(5),
)
def l28c_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — the apply side of l28b's training loop: run the 5
    learned merges over the corpus and report per-language doc counts,
    token counts before/after, and the compression ratio (the number
    tokenizer training exists to improve). Shares one train+encode pass
    (operators/bpe.bpe_train); the DuckDB oracle unrolls the same
    supersteps and aggregates the final token arrays, so the encoded
    corpus itself — not just the merge table — is value-hash-checked.
    Scale: identical superstep budget to l28b plus one map-side size
    aggregation."""
    from datafusion_cyberpolka_eda_spark.operators.bpe import bpe_train, tokens_col

    docs = spread(load_table(spark, sf_dir, "documents"))
    _merges, enc = bpe_train(docs, "text", k=5, carry_cols=("doc_id",))
    before = docs.select(
        "doc_id", "lang", F.size(tokens_col("text")).alias("nb")
    )
    return (
        before.join(
            enc.select("doc_id", F.size("toks").alias("na")), "doc_id", "left"
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nb").cast("bigint").alias("tokens_before"),
            F.sum(F.coalesce(F.col("na"), F.lit(0))).cast("bigint").alias(
                "tokens_after"
            ),
            F.round(
                F.sum(F.coalesce(F.col("na"), F.lit(0))) * 1.0 / F.sum("nb"), 6
            ).alias("compression"),
        )
    )


# ---- bigram LM quality scoring (l42) ----


_L42_ORACLE = """
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') w FROM documents),
    tk AS (SELECT doc_id, lang, unnest(w) AS tok FROM t),
    uni AS (SELECT tok, COUNT(*) AS c1 FROM tk GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM tk),
    bg AS (
      SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2
      FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i) s
      WHERE w[i+1] IS NOT NULL
    ),
    bgc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
    scored AS (
      SELECT bg.doc_id, bg.lang,
             -ln(0.75 * CAST(bgc.cb AS DOUBLE) / u1.c1
                 + 0.25 * CAST(u2.c1 AS DOUBLE) / n.n) AS nll
      FROM bg
      JOIN bgc ON bgc.w1 = bg.w1 AND bgc.w2 = bg.w2
      JOIN uni u1 ON u1.tok = bg.w1
      JOIN uni u2 ON u2.tok = bg.w2
      CROSS JOIN n
    ),
    per AS (
      SELECT doc_id, lang, AVG(nll) AS doc_nll, COUNT(*) AS n_bigrams
      FROM scored GROUP BY 1, 2
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
           ROUND(AVG(doc_nll), 6) AS avg_doc_nll,
           CAST(SUM(CAST(doc_nll > 3.55 AS INT)) AS BIGINT) AS n_flagged
    FROM per GROUP BY lang
"""


def bigram_doc_nll(
    docs: DataFrame, lam: float = 0.75
) -> DataFrame:
    """Per-doc interpolated bigram negative log-likelihood:
    (doc_id, lang, doc_nll, n_bigrams) with
    P(w2|w1) = lam * c(w1 w2)/c(w1) + (1-lam) * c(w2)/N trained on the
    given corpus itself (every observed bigram has count >= 1, so no
    extra smoothing is needed). Docs with < 2 tokens emit no row."""
    t = docs.select("doc_id", "lang", F.split("text", " ").alias("w"))
    tk = t.select("doc_id", "lang", F.explode("w").alias("tok"))
    uni = tk.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    n = tk.agg(F.count(F.lit(1)).alias("n"))
    bg = t.select(
        "doc_id",
        "lang",
        F.explode(
            F.arrays_zip(
                F.expr("slice(w, 1, greatest(size(w) - 1, 0))").alias("w1"),
                F.expr("slice(w, 2, greatest(size(w) - 1, 0))").alias("w2"),
            )
        ).alias("p"),
    ).select("doc_id", "lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bgc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c1").alias("c1_w1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c1").alias("c1_w2"))
    nll = -F.log(
        F.lit(lam) * F.col("cb").cast("double") / F.col("c1_w1")
        + F.lit(1.0 - lam) * F.col("c1_w2").cast("double") / F.col("n")
    )
    return (
        bg.join(bgc, ["w1", "w2"])
        .join(u1, "w1")
        .join(u2, "w2")
        .join(F.broadcast(n))
        .groupBy("doc_id", "lang")
        .agg(F.avg(nll).alias("doc_nll"), F.count(F.lit(1)).alias("n_bigrams"))
    )


@register("l42_bigram_lm_score", _L42_ORACLE)
def l42_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained interpolated bigram LM quality score — the
    KenLM-lite perplexity filter every large-scale text pipeline runs
    (l24's unigram surprisal catches vocabulary-level gibberish; the
    bigram model also catches shuffled/unnatural word ORDER):
    P(w2|w1) = 0.75 * c(w1 w2)/c(w1) + 0.25 * c(w2)/N from exact
    integer counts over one corpus pass, per-doc mean negative
    log-likelihood, per-language rollup with a count of docs past a
    3.55-nats flag threshold (the sparse upper tail of this corpus —
    far from the dense mass, so ULP-level engine differences in the
    per-doc mean cannot flip the comparison).

    Scale shape: bigrams via slice-zip (no window, no per-doc state),
    ONE map-side-combined groupBy for the bigram table and one for the
    vocab; scoring joins token streams to the model tables — the vocab
    side is Zipf-small (broadcastable), the bigram join shuffles on
    hashed pair keys and AQE handles stopword-pair skew (at 100 TB swap
    string keys for xxhash64 as in l13). ln agrees across engines to
    ulps; per-lang means over thousands of docs round identically at
    6 dp (l24/l25 precedent)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    per = bigram_doc_nll(docs)
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").alias("n_bigrams"),
        F.round(F.avg("doc_nll"), 6).alias("avg_doc_nll"),
        F.sum((F.col("doc_nll") > 3.55).cast("int")).cast("bigint").alias("n_flagged"),
    )


# ---- cross-doc duplicated span coverage (l43) ----


def _l43_oracle() -> str:
    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(8))
    return f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') w FROM documents),
    base AS (
      SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_tokens, w
      FROM t WHERE len(w) >= 8
    ),
    g AS (
      SELECT doc_id, lang, n_tokens, i AS pos, {gram} AS gram
      FROM base, LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS i) s
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
    occ AS (SELECT g.doc_id, g.lang, g.n_tokens, g.pos FROM g JOIN dup USING (gram)),
    cov AS (
      SELECT DISTINCT doc_id, lang, n_tokens, pos + j AS cp
      FROM occ, LATERAL (SELECT unnest(generate_series(0, 7)) AS j) s2
    ),
    per AS (
      SELECT doc_id, lang, n_tokens, COUNT(*) AS covered FROM cov GROUP BY 1, 2, 3
    ),
    alldocs AS (
      SELECT b.doc_id, b.lang, b.n_tokens, COALESCE(p.covered, 0) AS covered
      FROM base b LEFT JOIN per p USING (doc_id)
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(covered > 0 AS INT)) AS BIGINT) AS n_docs_with_dup,
           ROUND(AVG(CAST(covered AS DOUBLE) / n_tokens), 6) AS avg_coverage,
           CAST(SUM(covered) AS BIGINT) AS dup_token_positions,
           CAST(SUM(CAST(CAST(covered AS DOUBLE) / n_tokens > 0.2 AS INT)) AS BIGINT)
             AS n_flagged
    FROM alldocs GROUP BY lang
    """


def dup_span_doc_coverage(docs: DataFrame, k: int = 8) -> DataFrame:
    """Per-doc duplicated-span coverage rows
    (doc_id, lang, n_tokens, covered): for every k-token gram appearing
    in >= 2 DISTINCT docs, its token positions count as covered; covered
    = |union| of those spans (overlapping occurrences are
    distinct-counted once — a test pins the union semantics). Docs with
    fewer than k tokens are excluded; untouched docs emit covered=0."""
    scanned = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= k)
    # cut: g feeds the dup groupBy AND the semi-join; without it the
    # shingle explode runs twice per query (no ReuseExchange — the
    # subtrees differ below the exchanges), same fix as l74
    g = docs.select(
        "doc_id",
        F.posexplode(T.shingles("text", k)).alias("pos", "gram"),
    ).localCheckpoint(eager=False)
    dup = (
        g.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    occ = g.join(dup, "gram", "semi")
    per = (
        occ.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("cp"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("covered"))
    )
    return scanned.join(per, "doc_id", "left").fillna(0, ["covered"])


@register("l43_dup_span_coverage", _l43_oracle())
def l43_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span coverage — the exact-substring
    dedup signal (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): for every 8-token gram appearing in >= 2
    DISTINCT docs, mark its token positions covered; per doc, the
    fraction of tokens lying inside such spans (union of overlapping
    occurrences, not a sum — positions are distinct-counted). Docs with
    high coverage are templated/boilerplate even when no whole-doc
    near-dup fires. Per-lang rollup + a 20%-coverage flag count.

    Scale shape: one shingle slice-zip pass (no window), ONE
    groupBy(gram) with distinct-doc count, a semi-join back (only
    duplicated occurrences explode their 8 positions — bounded by dup
    volume, not corpus size), distinct + two rollups. At 100 TB hash
    grams to 64-bit before the groupBy (l13 pattern) and the shuffle
    carries fixed-width keys. Coverage ratios are exact rationals in
    double — the 0.2 comparison is engine-stable."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    alldocs = dup_span_doc_coverage(docs)
    coverage = F.col("covered").cast("double") / F.col("n_tokens")
    return alldocs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("covered") > 0).cast("int")).cast("bigint").alias("n_docs_with_dup"),
        F.round(F.avg(coverage), 6).alias("avg_coverage"),
        F.sum("covered").cast("bigint").alias("dup_token_positions"),
        F.sum((coverage > 0.2).cast("int")).cast("bigint").alias("n_flagged"),
    )


# ---- composed training-export pipeline (l44) ----


_L44_ORACLE = """
    WITH RECURSIVE q AS MATERIALIZED (
      SELECT doc_id, source, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CASE WHEN len(string_split(text, ' ')) < 8 THEN 'reject_short'
                  WHEN len(list_distinct(string_split(text, ' '))) * 2
                       < len(string_split(text, ' ')) THEN 'reject_repetitive'
                  ELSE 'accept' END AS sink
      FROM documents
    ),
    acc AS MATERIALIZED (SELECT * FROM q WHERE sink = 'accept'),
    nrm AS MATERIALIZED (
      SELECT *, TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', '', 'g'),
                     ' +', ' ', 'g')) AS ntext
      FROM acc
    ),
    ded AS MATERIALIZED (
      SELECT doc_id, source, n_tokens FROM (
        SELECT doc_id, source, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY ntext ORDER BY doc_id) AS rn
        FROM nrm) WHERE rn = 1
    ),
    mix AS MATERIALIZED (
      SELECT doc_id, source, n_tokens, budget,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM (
        SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
               CAST(FLOOR((CASE source WHEN 'src0' THEN 0.35
                                       WHEN 'src1' THEN 0.25
                                       ELSE 0.05 END) * 50000) AS BIGINT) AS budget
        FROM ded)
    ),
    kept AS MATERIALIZED (SELECT doc_id, source, n_tokens FROM mix WHERE cum <= budget),
    d AS MATERIALIZED (
      SELECT doc_id % 8 AS shard, doc_id, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
      FROM kept
    ),
    pack AS (
      SELECT shard, rn, n_tokens, CAST(0 AS BIGINT) AS bin_id, n_tokens AS run
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.n_tokens,
             CASE WHEN p.run + d.n_tokens > 256 THEN p.bin_id + 1
                  ELSE p.bin_id END,
             CASE WHEN p.run + d.n_tokens > 256 THEN d.n_tokens
                  ELSE p.run + d.n_tokens END
      FROM pack p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1
    ),
    bins AS MATERIALIZED (
      SELECT shard, bin_id, COUNT(*) AS n_docs, SUM(n_tokens) AS tt
      FROM pack GROUP BY 1, 2
    )
    SELECT 'quality' AS stage, 'n_input' AS metric,
           CAST((SELECT COUNT(*) FROM q) AS BIGINT) AS value
    UNION ALL SELECT 'quality', 'n_accepted',
           CAST((SELECT COUNT(*) FROM acc) AS BIGINT)
    UNION ALL SELECT 'quality', 'n_reject_short',
           CAST((SELECT COUNT(*) FROM q WHERE sink = 'reject_short') AS BIGINT)
    UNION ALL SELECT 'quality', 'n_reject_repetitive',
           CAST((SELECT COUNT(*) FROM q WHERE sink = 'reject_repetitive') AS BIGINT)
    UNION ALL SELECT 'dedup', 'n_unique',
           CAST((SELECT COUNT(*) FROM ded) AS BIGINT)
    UNION ALL SELECT 'dedup', 'n_collapsed',
           CAST((SELECT (SELECT COUNT(*) FROM acc) - COUNT(*) FROM ded) AS BIGINT)
    UNION ALL SELECT 'mixture', 'n_docs_kept',
           CAST((SELECT COUNT(*) FROM kept) AS BIGINT)
    UNION ALL SELECT 'mixture', 'tokens_kept',
           CAST((SELECT COALESCE(SUM(n_tokens), 0) FROM kept) AS BIGINT)
    UNION ALL SELECT 'mixture', 'n_sources_with_kept',
           CAST((SELECT COUNT(DISTINCT source) FROM kept) AS BIGINT)
    UNION ALL SELECT 'pack', 'n_bins',
           CAST((SELECT COUNT(*) FROM bins) AS BIGINT)
    UNION ALL SELECT 'pack', 'n_docs_packed',
           CAST((SELECT COALESCE(SUM(n_docs), 0) FROM bins) AS BIGINT)
    UNION ALL SELECT 'pack', 'tokens_packed',
           CAST((SELECT COALESCE(SUM(tt), 0) FROM bins) AS BIGINT)
    UNION ALL SELECT 'pack', 'n_over_cap',
           CAST((SELECT COUNT(*) FROM bins WHERE tt > 256 AND n_docs > 1) AS BIGINT)
    UNION ALL SELECT 'shards', 'n_shards_used',
           CAST((SELECT COUNT(DISTINCT shard) FROM bins) AS BIGINT)
    UNION ALL SELECT 'shards', 'max_shard_tokens',
           CAST((SELECT COALESCE(MAX(st), 0) FROM
                 (SELECT SUM(tt) AS st FROM bins GROUP BY shard)) AS BIGINT)
    UNION ALL SELECT 'shards', 'min_shard_tokens',
           CAST((SELECT COALESCE(MIN(st), 0) FROM
                 (SELECT SUM(tt) AS st FROM bins GROUP BY shard)) AS BIGINT)
"""


@register("l44_training_export_pipeline", _L44_ORACLE)
def l44_training_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-data EXPORT pipeline in one call — the
    write path a daily training job runs after corpus maintenance, each
    stage an already-verified operator: quality gate (j16's
    integer-exact rules) -> normalized exact dedup keeping the lowest
    doc_id per collapsed text (l17's normalization) -> source-weighted
    mixture sampling under per-source token budgets (l22's portable-hash
    order) -> greedy 256-token sequence packing sharded by doc_id % 8
    (l19's operator) -> shard manifest. Emits one (stage, metric, value)
    row per outcome — the export manifest a run would log.

    All arithmetic is exact-integer end-to-end, and the DuckDB oracle
    replays every stage in one MATERIALIZED-CTE statement (quality
    rules, normalization window pick, budget window, the recursive
    greedy-packing CTE, shard rollups) — so the composed flow, not just
    the stages, is value-hash-checked. Scale: each stage keeps its
    standalone entry's plan shape (the packing stays shard-parallel
    applyInPandas; everything else is expressions + windows partitioned
    by source/ntext)."""
    from datafusion_cyberpolka_eda_spark.functions.hashing import md5_hash64
    from datafusion_cyberpolka_eda_spark.operators.packing import (
        pack_greedy_by_shard,
    )
    from datafusion_cyberpolka_eda_spark.streaming.documents import (
        quality_sink_col,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        T.token_count("text").cast("bigint").alias("n_tokens"),
        quality_sink_col().alias("sink"),
    ).localCheckpoint(eager=False)
    acc = scored.filter(F.col("sink") == "accept")
    ntext = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    w_ded = Window.partitionBy("ntext").orderBy("doc_id")
    ded = (
        acc.withColumn("ntext", ntext)
        .withColumn("rn", F.row_number().over(w_ded))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_tokens")
        .localCheckpoint(eager=False)
    )
    budget = F.floor(
        F.when(F.col("source") == "src0", F.lit(0.35))
        .when(F.col("source") == "src1", F.lit(0.25))
        .otherwise(F.lit(0.05))
        * 50000
    ).cast("bigint")
    w_mix = Window.partitionBy("source").orderBy("h", "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    kept = (
        ded.withColumn("h", md5_hash64(F.col("doc_id").cast("string")))
        .withColumn("budget", budget)
        .withColumn("cum", F.sum("n_tokens").over(w_mix))
        .filter(F.col("cum") <= F.col("budget"))
        .select("doc_id", "source", "n_tokens")
        .localCheckpoint(eager=False)
    )
    # one lazy chain: the first summary aggregate runs the whole
    # scored -> ded -> kept -> bins computation in a single scheduled
    # job instead of four dedicated checkpoint jobs. With the default
    # spark.checkpoint.checkpointAllMarkedAncestors=false, only the
    # topmost marked cut (bins) is FINALIZED by that job — the ancestor
    # cuts stay persisted-but-unfinalized, their partitions cached
    # during the job (r12 advice wording fix); later aggregates reuse
    # the cached cuts either way (same dedupe-once guarantee, fewer
    # barriers)
    bins = pack_greedy_by_shard(
        kept, "doc_id", "n_tokens", cap=256, n_shards=8
    ).localCheckpoint(eager=False)
    shard_tokens = bins.groupBy("shard").agg(F.sum("total_tokens").alias("st"))

    def scalar(stage: str, metric: str, agg_df: DataFrame) -> DataFrame:
        return agg_df.select(
            F.lit(stage).alias("stage"),
            F.lit(metric).alias("metric"),
            F.col("value").cast("bigint").alias("value"),
        )

    cnt = lambda df: df.agg(F.count(F.lit(1)).alias("value"))  # noqa: E731
    parts = [
        scalar("quality", "n_input", cnt(scored)),
        scalar("quality", "n_accepted", cnt(acc)),
        scalar(
            "quality",
            "n_reject_short",
            cnt(scored.filter(F.col("sink") == "reject_short")),
        ),
        scalar(
            "quality",
            "n_reject_repetitive",
            cnt(scored.filter(F.col("sink") == "reject_repetitive")),
        ),
        scalar("dedup", "n_unique", cnt(ded)),
        scalar(
            "dedup",
            "n_collapsed",
            acc.agg((F.count(F.lit(1))).alias("a")).crossJoin(
                ded.agg(F.count(F.lit(1)).alias("b"))
            ).select((F.col("a") - F.col("b")).alias("value")),
        ),
        scalar("mixture", "n_docs_kept", cnt(kept)),
        scalar(
            "mixture",
            "tokens_kept",
            kept.agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("value")),
        ),
        scalar(
            "mixture",
            "n_sources_with_kept",
            kept.agg(F.countDistinct("source").alias("value")),
        ),
        scalar("pack", "n_bins", cnt(bins)),
        scalar(
            "pack",
            "n_docs_packed",
            bins.agg(F.coalesce(F.sum("n_docs"), F.lit(0)).alias("value")),
        ),
        scalar(
            "pack",
            "tokens_packed",
            bins.agg(F.coalesce(F.sum("total_tokens"), F.lit(0)).alias("value")),
        ),
        scalar(
            "pack",
            "n_over_cap",
            cnt(bins.filter((F.col("total_tokens") > 256) & (F.col("n_docs") > 1))),
        ),
        scalar(
            "shards",
            "n_shards_used",
            bins.agg(F.countDistinct("shard").alias("value")),
        ),
        scalar(
            "shards",
            "max_shard_tokens",
            shard_tokens.agg(F.coalesce(F.max("st"), F.lit(0)).alias("value")),
        ),
        scalar(
            "shards",
            "min_shard_tokens",
            shard_tokens.agg(F.coalesce(F.min("st"), F.lit(0)).alias("value")),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---- context-window chunking (l45) ----


def chunk_docs(docs: DataFrame, window: int = 32, stride: int = 24, min_len: int = 8) -> DataFrame:
    """Sliding-window token chunking rows
    (doc_id, lang, n_tokens, chunk_id, start_tok, chunk_tokens): chunk
    starts at 0, stride, 2*stride, ... < n_tokens; each chunk carries
    min(window, n_tokens - start) tokens. Trailing chunks shorter than
    min_len are dropped UNLESS they are the doc's only chunk (chunk_id 0),
    so every doc emits >= 1 chunk. Pure map-side explode — per-doc fanout
    is ceil(n/stride), no shuffle here at all."""
    n = F.col("n_tokens")
    ch = docs.select(
        "doc_id",
        "lang",
        T.token_count("text").cast("long").alias("n_tokens"),
    ).select(
        "doc_id",
        "lang",
        "n_tokens",
        F.posexplode(
            F.sequence(F.lit(0).cast("long"), n - 1, F.lit(stride).cast("long"))
        ).alias("chunk_id", "start_tok"),
    )
    ch = ch.withColumn(
        "chunk_tokens", F.least(F.lit(window).cast("long"), n - F.col("start_tok"))
    )
    return ch.filter(
        (F.col("chunk_tokens") >= min_len) | (F.col("chunk_id") == 0)
    )


@register(
    "l45_doc_chunking",
    """
    WITH d AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    ch AS (
      SELECT doc_id, lang, n, i AS start_tok,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS chunk_id,
             LEAST(32, n - i) AS clen
      FROM d, LATERAL (SELECT unnest(generate_series(0, n - 1, 24)) AS i) s
    ),
    kept AS (SELECT * FROM ch WHERE clen >= 8 OR chunk_id = 0),
    per AS (
      SELECT doc_id, lang, COUNT(*) AS c, SUM(clen) AS tk,
             SUM((start_tok * 8191 + clen) * (doc_id % 97 + 1)) AS cs
      FROM kept GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(c) AS BIGINT) AS n_chunks,
           CAST(SUM(tk) AS BIGINT) AS total_chunk_tokens,
           CAST(MAX(c) AS BIGINT) AS max_chunks_per_doc,
           CAST(SUM(cs) AS BIGINT) AS boundary_checksum
    FROM per GROUP BY lang
    """,
)
def l45_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking — the step l19's packing deliberately does
    NOT do: SPLIT long documents into fixed-size overlapping training
    windows (window=32 tokens, stride=24, i.e. 8-token overlap), the
    standard way a pretraining pipeline fits documents longer than the
    model context. Trailing fragments under 8 tokens are dropped unless
    they are the doc's only chunk (short docs still emit one chunk).
    Per-lang rollup carries exact chunk/token counts AND an exact integer
    boundary checksum sum((start*8191 + len) * (doc_id%97 + 1)), so the
    oracle value-checks every chunk boundary, not just totals.

    Scale shape: the chunk table is produced by a map-side
    sequence+posexplode (fanout ceil(n/stride) per doc, no window
    function, no shuffle); the only exchanges are the per-doc and per-lang
    hash aggregations. At 100 TB chunking streams through executors and
    the shuffle carries one row per doc, then one per lang.
    Ref parity: north-star training-data extension (SURVEY.md §2 L)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    ch = chunk_docs(docs)
    cs = (F.col("start_tok") * 8191 + F.col("chunk_tokens")) * (
        F.col("doc_id") % 97 + 1
    )
    per = ch.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("chunk_tokens").alias("tk"),
        F.sum(cs).alias("cs"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("c").cast("bigint").alias("n_chunks"),
        F.sum("tk").cast("bigint").alias("total_chunk_tokens"),
        F.max("c").cast("bigint").alias("max_chunks_per_doc"),
        F.sum("cs").cast("bigint").alias("boundary_checksum"),
    )


# ---- per-source cap rebalancing (l47) ----


@register(
    "l47_source_cap_rebalance",
    """
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n DESC, doc_id) AS rn
      FROM d
    ),
    per AS (
      SELECT source,
             COUNT(*) AS nb, SUM(n) AS tb,
             SUM(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS nk,
             SUM(CASE WHEN rn <= 15 THEN n ELSE 0 END) AS tk
      FROM r GROUP BY source
    ),
    tot AS (SELECT SUM(tb) AS gtb, SUM(tk) AS gtk FROM per)
    SELECT source,
           CAST(nb AS BIGINT) AS n_docs_before,
           CAST(nk AS BIGINT) AS n_docs_kept,
           CAST(tb AS BIGINT) AS tokens_before,
           CAST(tk AS BIGINT) AS tokens_kept,
           ROUND(CAST(tb AS DOUBLE) / gtb, 6) AS share_before,
           ROUND(CAST(tk AS DOUBLE) / gtk, 6) AS share_after
    FROM per, tot
    """,
)
def l47_source_cap_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps — the C4/Gopher-style curation rule that
    stops one over-crawled domain from dominating the mixture: keep at
    most 15 docs per source, picked by token count descending with
    doc_id as the deterministic tie-break, and account the token SHARE
    each source holds before vs after the cap (the number a mixture
    designer actually reads). Counts and token sums are exact integers;
    shares are exact rationals rounded at 6 dp.

    Scale shape: one window ranked per source partition (the same
    bounded-per-group top-k shape as g3; a skewed mega-source is handled
    by AQE or the two-pass salted top-k documented in SCALE.md), one
    per-source hash agg, and a broadcast of the 2-value global total.
    No global sort, no driver loop.
    Ref parity: north-star training-data extension (SURVEY §2 L)."""
    cap = 15
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", T.token_count("text").cast("long").alias("n")
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("doc_id"))
    r = docs.withColumn("rn", F.row_number().over(w))
    kept = F.col("rn") <= cap
    per = r.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_before"),
        F.sum(kept.cast("long")).cast("bigint").alias("n_docs_kept"),
        F.sum("n").cast("bigint").alias("tokens_before"),
        F.sum(F.when(kept, F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("tokens_kept"),
    )
    tot = per.agg(
        F.sum("tokens_before").alias("gtb"), F.sum("tokens_kept").alias("gtk")
    )
    out = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs_before",
        "n_docs_kept",
        "tokens_before",
        "tokens_kept",
        (F.col("tokens_before").cast("double") / F.col("gtb")).alias("share_before"),
        (F.col("tokens_kept").cast("double") / F.col("gtk")).alias("share_after"),
    )
    return _round_cols(out, ["share_before", "share_after"])


# ---- deterministic multi-epoch shuffle (l49) ----


@register(
    "l49_epoch_shuffle",
    """
    WITH d AS (SELECT doc_id FROM documents),
    ks AS (
      SELECT e.epoch, d.doc_id,
             ((d.doc_id + 1) * 1103515245 + e.epoch * 12345) % 2147483647 AS h
      FROM d, (SELECT unnest([0, 1, 2]) AS epoch) e
    ),
    sh AS (
      SELECT epoch, doc_id, h, h % 16 AS shard,
             ROW_NUMBER() OVER (
               PARTITION BY epoch, h % 16 ORDER BY h, doc_id) AS rnk
      FROM ks
    )
    SELECT epoch, CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(h) AS BIGINT) AS key_sum,
           CAST(SUM(rnk * doc_id) AS BIGINT) AS order_checksum
    FROM sh GROUP BY epoch, shard
    """,
)
def l49_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch training shuffle — how a 100 TB corpus is
    re-ordered per epoch WITHOUT a global sort: every (epoch, doc) gets a
    portable LCG key h = ((doc_id+1)*1103515245 + epoch*12345) mod 2^31-1,
    the key's low bits pick one of 16 shards (the shard-level shuffle),
    and ranking happens only WITHIN a shard (the local order) — the exact
    two-level scheme data loaders use, reproducible from (doc_id, epoch)
    alone with no stored permutation. Output per (epoch, shard) carries
    the doc count, the key sum, and sum(rank*doc_id) — an exact integer
    checksum that pins the entire within-shard order, so the oracle
    value-checks all three epoch permutations, not just counts.

    Scale shape: the epoch fanout is a 3-row broadcast, shard assignment
    is map-side arithmetic, and each window sorts ONE shard of ONE epoch
    (1/48th of the data) — no global sort, no skew (LCG keys are
    uniform). Ref parity: north-star training-data extension (SURVEY §2
    L)."""
    docs = spread(load_table(spark, sf_dir, "documents")).select("doc_id")
    ks = docs.select(
        "doc_id",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("epoch"),
    ).select(
        "epoch",
        "doc_id",
        (
            ((F.col("doc_id") + 1) * F.lit(1103515245).cast("long")
             + F.col("epoch") * 12345)
            % F.lit(2147483647).cast("long")
        ).alias("h"),
    )
    sh = ks.withColumn("shard", (F.col("h") % 16).cast("bigint"))
    w = Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")
    ranked = sh.withColumn("rnk", F.row_number().over(w).cast("long"))
    return ranked.groupBy("epoch", "shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("h").cast("bigint").alias("key_sum"),
        F.sum(F.col("rnk") * F.col("doc_id")).cast("bigint").alias("order_checksum"),
    )


# ---- quantile-calibrated quality keep (l50) ----


@register(
    "l50_quality_calibrated_keep",
    """
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') w FROM documents),
    tk AS (SELECT doc_id, lang, unnest(w) AS tok FROM t),
    uni AS (SELECT tok, COUNT(*) AS c1 FROM tk GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM tk),
    bg AS (
      SELECT doc_id, lang, w[i] AS w1, w[i+1] AS w2
      FROM t, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i) s
      WHERE w[i+1] IS NOT NULL
    ),
    bgc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
    scored AS (
      SELECT bg.doc_id, bg.lang,
             -ln(0.75 * CAST(bgc.cb AS DOUBLE) / u1.c1
                 + 0.25 * CAST(u2.c1 AS DOUBLE) / n.n) AS nll
      FROM bg
      JOIN bgc ON bgc.w1 = bg.w1 AND bgc.w2 = bg.w2
      JOIN uni u1 ON u1.tok = bg.w1
      JOIN uni u2 ON u2.tok = bg.w2
      CROSS JOIN n
    ),
    per AS (
      SELECT doc_id, lang, ROUND(AVG(nll), 6) AS q, COUNT(*) AS n_bigrams
      FROM scored GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS cnt
      FROM per
    ),
    marked AS (
      SELECT *, rn <= CAST(CEIL(0.9 * cnt) AS BIGINT) AS kept FROM ranked
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum,
           CAST(SUM(CASE WHEN kept THEN n_bigrams ELSE 0 END) AS BIGINT) AS kept_bigrams,
           MAX(CASE WHEN kept THEN q END) AS kept_nll_cutoff
    FROM marked GROUP BY lang
    """,
)
def l50_quality_calibrated_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality CALIBRATION — the fix for the classic
    multilingual-filter bug where one absolute threshold (l42's flag)
    keeps 99% of English and 40% of a low-resource language: keep the
    best 90% of docs WITHIN each language by corpus-trained bigram-LM
    NLL. Selection is rank-based on the 6 dp-ROUNDED score with doc_id
    as the tie-break, so the kept set is engine-deterministic (an
    unrounded float threshold could flip boundary docs on ulp-level ln
    differences); kept_id_sum pins the exact kept set, not just counts.
    Population = scoreable docs (>= 2 tokens — bigram_doc_nll's domain).

    Scale shape: the LM scoring reuses l42's one-shuffle-per-table
    joins; calibration adds ONE per-lang window (rank + count in the
    same partition pass). Languages are the partition key — bounded
    cardinality, each partition sorts independently; a 100 TB English
    partition falls back to the two-pass quantile cutoff (e10's GK
    sketch picks the rank-90% score, one filter pass applies it) if a
    single sort partition ever binds. Ref parity: north-star
    training-data extension (SURVEY §2 L)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    per = bigram_doc_nll(docs).select(
        "doc_id", "lang", F.round("doc_nll", 6).alias("q"), "n_bigrams"
    )
    wl = Window.partitionBy("lang")
    ranked = per.select(
        "*",
        F.row_number().over(wl.orderBy("q", "doc_id")).alias("rn"),
        F.count(F.lit(1)).over(wl).alias("cnt"),
    )
    kept = F.col("rn") <= F.ceil(0.9 * F.col("cnt")).cast("bigint")
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(kept.cast("long")).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("doc_id")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("kept_id_sum"),
        F.sum(F.when(kept, F.col("n_bigrams")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("kept_bigrams"),
        F.max(F.when(kept, F.col("q"))).alias("kept_nll_cutoff"),
    )


# ---- chunk-then-pack composition (l52) ----


@register(
    "l52_chunk_then_pack",
    """
    WITH RECURSIVE dd AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    ch AS (
      SELECT doc_id, i AS start_tok,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS chunk_id,
             LEAST(32, n - i) AS clen
      FROM dd, LATERAL (SELECT unnest(generate_series(0, n - 1, 24)) AS i) s
    ),
    kept AS (
      SELECT doc_id * 8191 + chunk_id AS ckey, clen
      FROM ch WHERE clen >= 8 OR chunk_id = 0
    ),
    d AS (
      SELECT ckey % 16 AS shard, ckey, clen,
             ROW_NUMBER() OVER (PARTITION BY ckey % 16 ORDER BY ckey) AS rn
      FROM kept
    ),
    pack AS (
      SELECT shard, rn, clen, CAST(0 AS BIGINT) AS bin_id, clen AS run
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.clen,
             CASE WHEN p.run + d.clen > 128 THEN p.bin_id + 1
                  ELSE p.bin_id END,
             CASE WHEN p.run + d.clen > 128 THEN d.clen
                  ELSE p.run + d.clen END
      FROM pack p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1
    )
    SELECT CAST(shard AS BIGINT) AS shard, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(clen) AS BIGINT) AS total_tokens,
           (SUM(clen) <= 128 OR COUNT(*) = 1) AS within_cap
    FROM pack GROUP BY shard, bin_id
    """,
)
def l52_chunk_then_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-THEN-pack — the realistic pretraining write path l19
    approximates with whole documents: long docs are first split into
    32-token context windows (the l45 chunker, stride 24), then the
    CHUNKS are greedily packed into 128-token training bins, sharded by
    the chunk key ckey = doc_id*8191 + chunk_id (8191 odd and coprime to 16, so
    shards stay uniform over doc_ids instead of collapsing onto the low
    chunk_ids); 16 shards also bound the oracle's recursion depth. The DuckDB oracle replays BOTH stages — the
    generate_series chunk boundaries and the exact greedy recurrence as
    a recursive CTE — so bin boundaries of the composed pipeline are
    value-hash checked end-to-end.

    Scale shape: map-side chunk explode (no shuffle), ONE exchange on
    the shard key, shard-parallel applyInPandas packing (Python loop is
    O(chunks/shard), Arrow-batched). Composing does not widen any
    shuffle beyond the standalone l45/l19 entries. Ref parity:
    north-star training-data extension (SURVEY §2 L)."""
    from datafusion_cyberpolka_eda_spark.operators.packing import (
        pack_greedy_by_shard,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_docs(docs).select(
        (F.col("doc_id") * 8191 + F.col("chunk_id")).alias("ckey"),
        "chunk_tokens",
    )
    out = pack_greedy_by_shard(chunks, "ckey", "chunk_tokens", cap=128, n_shards=16)
    return out.select(
        "shard",
        "bin_id",
        F.col("n_docs").alias("n_chunks"),
        "total_tokens",
        "within_cap",
    )


# ---- temperature-based mixture sampling (l53) ----


@register(
    "l53_mixture_temperature",
    """
    WITH d AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
    ),
    per AS (
      SELECT source, COUNT(*) AS n_docs, SUM(nt) AS tokens
      FROM d GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS t FROM per),
    w AS (
      SELECT source, n_docs, tokens,
             CAST(FLOOR(SQRT(CAST(tokens AS DOUBLE) / t) * 1.0e9) AS BIGINT)
               AS wq
      FROM per, tot
    ),
    ws AS (SELECT SUM(wq) AS sw FROM w)
    SELECT w.source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(tokens AS BIGINT) AS tokens,
           ROUND(CAST(tokens AS DOUBLE) / t, 6) AS raw_share,
           ROUND(CAST(wq AS DOUBLE) / sw, 6) AS sampled_share,
           ROUND((CAST(wq AS DOUBLE) / sw) * t / tokens, 6) AS epochs
    FROM w, ws, tot
    """,
)
def l53_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling weights (tau = 0.5, the
    square-root scaling multilingual/multi-source training mixes use to
    up-weight small sources without letting any source dominate): per-
    source token masses -> sqrt of the raw share -> renormalized sampling
    share -> expected epochs per source under a one-epoch total budget
    (the over-sampling factor small sources pay in repeated data).

    Determinism discipline (the r8 theme): the sqrt weights are FLOOR-
    quantized to 1e-9 integers before normalization, so the normalizer is
    an EXACT integer sum — no cross-row float accumulation whose order
    could flip a 6 dp round (sqrt/division on identical exact inputs are
    single correctly-rounded IEEE ops, identical on both engines).

    Scale shape: one scan + one per-source agg (20 rows here; thousands
    at 100 TB — trivially small), weights computed on the agg result, no
    second corpus pass. Ref parity: north-star training-data extension
    (SURVEY §2 L; mixture family l27/l36)."""
    docs = load_table(spark, sf_dir, "documents")
    per = (
        spread(docs)
        .select("source", T.token_count("text").cast("bigint").alias("nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("tokens"),
        )
    )
    tot = per.agg(F.sum("tokens").alias("t"))
    w = per.crossJoin(F.broadcast(tot)).withColumn(
        "wq",
        F.floor(
            F.sqrt(F.col("tokens").cast("double") / F.col("t")) * F.lit(1.0e9)
        ).cast("bigint"),
    )
    ws = w.agg(F.sum("wq").alias("sw"))
    out = w.crossJoin(F.broadcast(ws)).select(
        "source",
        "n_docs",
        "tokens",
        (F.col("tokens").cast("double") / F.col("t")).alias("raw_share"),
        (F.col("wq").cast("double") / F.col("sw")).alias("sampled_share"),
        (
            (F.col("wq").cast("double") / F.col("sw"))
            * F.col("t")
            / F.col("tokens")
        ).alias("epochs"),
    )
    return _round_cols(out, ["raw_share", "sampled_share", "epochs"])


# ---- curriculum difficulty bins (l54) ----


@register(
    "l54_curriculum_bins",
    """
    WITH d AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS ndis
      FROM documents
    ),
    b AS (
      SELECT lang, nt, ndis,
             NTILE(4) OVER (PARTITION BY lang ORDER BY nt, doc_id) AS stage
      FROM d
    )
    SELECT lang, CAST(stage AS BIGINT) AS stage,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS tokens,
           CAST(MIN(nt) AS BIGINT) AS min_tok,
           CAST(MAX(nt) AS BIGINT) AS max_tok,
           CAST(SUM(CASE WHEN nt >= 8 AND ndis * 2 >= nt THEN 1 ELSE 0 END)
                AS BIGINT) AS n_quality
    FROM b GROUP BY lang, stage
    """,
)
def l54_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: per-language difficulty quartiles (ntile over
    (token count, doc_id) — deterministic total order) with per-stage
    token budgets and the count of docs passing the integer-exact quality
    rules (the j16 routing predicate: length floor + distinct-token
    ratio). This is the table a curriculum scheduler consumes: stage 1 =
    shortest quartile per language, each stage's token budget and quality
    yield precomputed.

    Scale shape: the window partitions by language (bounded cardinality),
    so each sort handles one language's rows — no global-order window
    (the ntile_bucket 100 TB caveat); counts and budgets are exact
    integers. Ref parity: D7/E11 decile machinery applied to the
    training-data extension family (SURVEY §2 L)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    d = spread(docs).select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("nt"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("ndis"),
    )
    w = Window.partitionBy("lang").orderBy(F.asc("nt"), F.asc("doc_id"))
    b = d.withColumn("stage", F.ntile(4).over(w).cast("bigint"))
    return b.groupBy("lang", "stage").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("tokens"),
        F.min("nt").alias("min_tok"),
        F.max("nt").alias("max_tok"),
        F.sum(
            F.when(
                (F.col("nt") >= 8) & (F.col("ndis") * 2 >= F.col("nt")), 1
            ).otherwise(0)
        ).cast("bigint").alias("n_quality"),
    )


# ---- per-source template/boilerplate detection (l55) ----


@register(
    "l55_template_prefix",
    """
    WITH p AS (
      SELECT doc_id, source,
             array_to_string(string_split(text, ' ')[1:3], ' ') AS prefix,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
    ),
    c AS (
      SELECT source, prefix, COUNT(*) AS cnt
      FROM p GROUP BY source, prefix
    ),
    m AS (
      SELECT source, prefix AS modal_prefix, cnt AS modal_count
      FROM (
        SELECT source, prefix, cnt,
               ROW_NUMBER() OVER (
                 PARTITION BY source ORDER BY cnt DESC, prefix ASC) AS rn
        FROM c
      ) WHERE rn = 1
    )
    SELECT p.source,
           COUNT(*) AS n_docs,
           m.modal_prefix,
           CAST(MAX(m.modal_count) AS BIGINT) AS modal_count,
           CAST(SUM(CASE WHEN p.prefix = m.modal_prefix THEN 1 ELSE 0 END)
                AS BIGINT) AS n_templated,
           CAST(SUM(CASE WHEN p.prefix = m.modal_prefix
                         THEN LEAST(nt, 3) ELSE 0 END) AS BIGINT)
             AS boilerplate_tokens,
           ROUND(CAST(SUM(CASE WHEN p.prefix = m.modal_prefix
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS templated_frac
    FROM p JOIN m ON p.source = m.source
    GROUP BY p.source, m.modal_prefix
    """,
)
def l55_template_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source template/boilerplate detection — the screen that
    catches scraped sources whose documents share a generated opening
    ('Terms of service for ...'): the modal 3-token prefix per source
    (count desc, prefix asc tie-break — deterministic mode, the D13
    pattern), every doc matching it flagged as templated, and the
    strip-candidate token mass (min(nt,3) per templated doc) priced out.
    A real pipeline strips or down-weights prefixes whose templated_frac
    is high; this emits exactly that decision table.

    Scale shape: one scan -> (source, prefix) count shuffle (cardinality
    = distinct prefixes, far below rows) -> per-source top-1 window over
    the COUNT table (not the corpus) -> broadcast modal table joined
    back for the flag pass. Exact integers everywhere; the one fraction
    is a single division of exact counts. Ref parity: D13 group-mode +
    the quality-screen extension family (SURVEY §2 L)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    p = spread(docs).select(
        "doc_id",
        "source",
        F.concat_ws(" ", F.slice(toks, 1, 3)).alias("prefix"),
        F.size(toks).cast("bigint").alias("nt"),
    )
    c = p.groupBy("source", "prefix").agg(F.count(F.lit(1)).alias("cnt"))
    wm = Window.partitionBy("source").orderBy(
        F.desc("cnt"), F.asc("prefix")
    )
    m = (
        c.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("prefix").alias("modal_prefix"),
            F.col("cnt").alias("modal_count"),
        )
    )
    hit = F.col("prefix") == F.col("modal_prefix")
    return (
        p.join(F.broadcast(m), "source")
        .groupBy("source", "modal_prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("modal_count").cast("bigint").alias("modal_count"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias(
                "n_templated"
            ),
            F.sum(F.when(hit, F.least(F.col("nt"), F.lit(3))).otherwise(0))
            .cast("bigint")
            .alias("boilerplate_tokens"),
            (
                F.sum(F.when(hit, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("templated_frac"),
        )
        .select(
            "source", "n_docs", "modal_prefix", "modal_count",
            "n_templated", "boilerplate_tokens",
            F.round("templated_frac", 6).alias("templated_frac"),
        )
    )


# ---- deterministic stratified eval holdout (l56) ----


@register(
    "l56_stratified_holdout",
    """
    WITH k AS (
      SELECT doc_id, source, lang,
             ((doc_id + 1) * 1103515245 + 99991) % 2147483647 AS h
      FROM documents
    ),
    r AS (
      SELECT source, lang, doc_id, h,
             ROW_NUMBER() OVER (
               PARTITION BY source, lang ORDER BY h, doc_id) AS rnk,
             COUNT(*) OVER (PARTITION BY source, lang) AS n_stratum
      FROM k
    )
    SELECT source, lang,
           CAST(MAX(n_stratum) AS BIGINT) AS n_docs,
           CAST(MAX(n_stratum) // 10 AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN rnk <= n_stratum // 10 THEN doc_id
                         ELSE 0 END) AS BIGINT) AS eval_id_sum,
           CAST(SUM(CASE WHEN rnk <= n_stratum // 10 THEN rnk * doc_id
                         ELSE 0 END) AS BIGINT) AS eval_order_checksum
    FROM r GROUP BY source, lang
    """,
)
def l56_stratified_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/eval holdout — every training run
    needs one, and it must be reproducible from ids alone: within each
    (source, lang) stratum, docs are ranked by a portable LCG key (the
    l49 shuffle key — no engine hash, no stored split) and the first
    floor(n/10) become eval. Emits per-stratum sizes plus EXACT integer
    checksums of the selected set and its order, so the oracle pins
    membership and ranking, not just counts.

    Scale shape: one scan, one window partitioned by stratum (bounded
    per-partition work, no global sort), map-side key arithmetic.
    Adding tomorrow's docs leaves yesterday's membership unchanged for
    existing ids (the key is a pure function of doc_id) — the property
    that keeps eval sets stable across snapshot grows. Ref parity: B6
    key-stable sampler generalized to stratified quotas (SURVEY §2 L)."""
    docs = load_table(spark, sf_dir, "documents")
    k = spread(docs).select(
        "doc_id",
        "source",
        "lang",
        (
            ((F.col("doc_id") + 1) * F.lit(1103515245) + F.lit(99991))
            % F.lit(2147483647)
        ).alias("h"),
    )
    w = Window.partitionBy("source", "lang").orderBy(
        F.asc("h"), F.asc("doc_id")
    )
    wc = Window.partitionBy("source", "lang")
    r = k.withColumn("rnk", F.row_number().over(w)).withColumn(
        "n_stratum", F.count(F.lit(1)).over(wc)
    )
    sel = F.col("rnk") <= F.floor(F.col("n_stratum") / 10)
    return r.groupBy("source", "lang").agg(
        F.max("n_stratum").cast("bigint").alias("n_docs"),
        F.floor(F.max("n_stratum") / 10).cast("bigint").alias("n_eval"),
        F.sum(F.when(sel, F.col("doc_id")).otherwise(0))
        .cast("bigint")
        .alias("eval_id_sum"),
        F.sum(F.when(sel, F.col("rnk") * F.col("doc_id")).otherwise(0))
        .cast("bigint")
        .alias("eval_order_checksum"),
    )


# ---- distributed model-based quality classifier (l64, r9 verdict
# task 1) ----

QC_TWIN_OFFSET = 1 << 23  # planted low-quality twin ids (doc_id domain-checked)

# (session, sf_dir, data fingerprint) -> max(doc_id). The quality/selection
# family computes this scalar for twin-offset domain checks AND store
# cutoffs; memoizing makes it ONE collect job per (session, data) instead
# of two per cold entry call (r10 advice).
_MAX_DOC_ID_CACHE: dict[str, int] = {}


def _docs_max_id(spark: SparkSession, sf_dir: str) -> int:
    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:"
        f"{_docs_fingerprint(sf_dir)}"
    )
    if key not in _MAX_DOC_ID_CACHE:
        _MAX_DOC_ID_CACHE[key] = (
            load_table(spark, sf_dir, "documents")
            .agg(F.max("doc_id"))
            .first()[0]
        )
    return _MAX_DOC_ID_CACHE[key]


def _qc_domain_check(spark: SparkSession, sf_dir: str) -> int:
    """Planted-twin id-domain guard shared by every entry that plants
    QC_TWIN_OFFSET twins; returns max(doc_id) (memoized)."""
    mx = _docs_max_id(spark, sf_dir)
    if mx >= QC_TWIN_OFFSET:
        raise ValueError(
            f"max doc_id {mx} >= twin offset {QC_TWIN_OFFSET}: planted twin "
            "ids would collide with corpus ids"
        )
    return mx
QC_CENTER = 200  # ttr centering prior: boundary near origin -> fast GD
QC_LR_DIV = 4  # global learning-rate divisor
QC_PRECOND = [1, 64, 1024, 1024]  # power-of-2 diagonal preconditioner
QC_ITERS = 4  # gradient supersteps


def _qc_x(text_col: F.Column) -> F.Column:
    """The 4-feature integer vector [bias, n_tokens, centered type-token
    ratio, avg word length x100] over any text column — every component
    an exact int64 via the floor(int*scale / int) recipe (double-divide
    then floor: ONE correctly-rounded IEEE op, identical in DuckDB)."""
    toks = F.split(text_col, " ")
    nt = F.size(toks).cast("long")
    nd = F.size(F.array_distinct(toks)).cast("long")
    ln = F.length(text_col).cast("long")
    ttr = F.floor((nd * F.lit(1000)).cast("double") / nt).cast("long")
    awl = F.floor(((ln - nt + 1) * F.lit(100)).cast("double") / nt).cast("long")
    return F.array(F.lit(1).cast("long"), nt, ttr - F.lit(QC_CENTER), awl)


def _qc_f_ctes(suffix: str = "", where: str = "") -> str:
    """f/fx/nn CTEs for ONE training slice — base docs (label 0) +
    planted low-quality twins (label 1): the first token repeated
    n_tokens times, so the twin's features are closed-form functions of
    the base row (the l60 planting recipe): nt unchanged, distinct-token
    count 1, avg word len = len(token). ``where`` filters the slice (a
    doc_id predicate over the shared `t` CTE); names are suffixed so
    day-1/day-2 phases compose in one oracle (l71)."""
    s = suffix
    where_kw = f" WHERE {where}" if where else ""
    and_where = f" AND {where}" if where else ""
    return f"""
    f{s} AS MATERIALIZED (
      SELECT doc_id AS id, 0 AS y,
             CAST(len(w) AS BIGINT) AS nt,
             CAST(FLOOR(CAST(len(list_distinct(w)) * 1000 AS DOUBLE)
                        / len(w)) AS BIGINT) - {QC_CENTER} AS ttrc,
             CAST(FLOOR(CAST((ln - len(w) + 1) * 100 AS DOUBLE)
                        / len(w)) AS BIGINT) AS awl
      FROM t{where_kw}
      UNION ALL
      SELECT doc_id + {QC_TWIN_OFFSET}, 1,
             CAST(len(w) AS BIGINT),
             CAST(FLOOR(CAST(1000 AS DOUBLE) / len(w)) AS BIGINT)
               - {QC_CENTER},
             CAST(100 * LENGTH(w[1]) AS BIGINT)
      FROM t WHERE doc_id % 7 = 2{and_where}
    ),
    fx{s} AS MATERIALIZED (
      SELECT id, 0 AS j, CAST(1 AS BIGINT) AS v FROM f{s}
      UNION ALL SELECT id, 1, nt FROM f{s}
      UNION ALL SELECT id, 2, ttrc FROM f{s}
      UNION ALL SELECT id, 3, awl FROM f{s}
    ),
    nn{s} AS (SELECT COUNT(*) AS n FROM f{s})"""


def _qc_gd_ctes(
    iters: int,
    suffix: str = "",
    w0: str | None = None,
    lr_div: int = QC_LR_DIV,
) -> tuple[str, str]:
    """Gradient-superstep CTE chain w1{sfx}..w{iters}{sfx} over
    f{sfx}/fx{sfx}/nn{sfx} (hard-sigmoid probabilities, exact int64
    gradient sums, floor-of-double preconditioned updates), starting
    from CTE ``w0`` — a zeros VALUES CTE is emitted when None (cold
    start); passing a prior phase's final weight CTE is the WARM-START
    continue-training replay (l71). Requires the shared `pc` CTE.
    Returns (cte_body, final_weight_cte_name)."""
    sx = suffix
    s = 1_000_000
    ctes = []
    if w0 is None:
        w0 = f"w0{sx}"
        ctes.append(f"""
    w0{sx}(j, v) AS (VALUES (0, CAST(0 AS BIGINT)), (1, CAST(0 AS BIGINT)),
                        (2, CAST(0 AS BIGINT)), (3, CAST(0 AS BIGINT)))""")
    prev = w0
    for t in range(1, iters + 1):
        ctes.append(f"""
    z{t}{sx} AS (SELECT fx.id, SUM(w.v * fx.v) AS z
             FROM fx{sx} fx JOIN {prev} w USING (j) GROUP BY fx.id),
    e{t}{sx} AS MATERIALIZED (
      SELECT z.id,
             LEAST(GREATEST({s // 2} + CAST(FLOOR(z.z / 4.0) AS BIGINT),
                            0), {s}) - f.y * {s} AS e
      FROM z{t}{sx} z JOIN f{sx} f ON f.id = z.id
    ),
    w{t}{sx} AS MATERIALIZED (
      SELECT w.j,
             w.v - CAST(FLOOR(CAST(g.g AS DOUBLE) /
                              CAST(nn.n * {lr_div} * pc.p AS DOUBLE))
                        AS BIGINT) AS v
      FROM {prev} w
      JOIN (SELECT fx.j, SUM(e.e * fx.v) AS g
            FROM e{t}{sx} e JOIN fx{sx} fx ON fx.id = e.id GROUP BY fx.j)
        g USING (j)
      JOIN pc USING (j) CROSS JOIN nn{sx} nn
    )""")
        prev = f"w{t}{sx}"
    return ",".join(ctes), prev


QC_T_CTE = """
    t AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS w, LENGTH(text) AS ln
      FROM documents
    )"""
QC_PC_CTE = (
    f"""
    pc(j, p) AS (VALUES (0, {QC_PRECOND[0]}), (1, {QC_PRECOND[1]}),
                        (2, {QC_PRECOND[2]}), (3, {QC_PRECOND[3]}))"""
)


def _l64_ctes(iters: int = QC_ITERS) -> tuple[str, str]:
    """The shared training-replay CTE body (planted corruption, integer
    featurization, every gradient superstep) used by both the l64
    confusion report and the l70 deployment filter — the suffix-free
    single-phase composition of _qc_f_ctes + _qc_gd_ctes. Returns
    (cte_body, final_weight_cte_name)."""
    gd, final = _qc_gd_ctes(iters)
    return (
        QC_T_CTE + "," + _qc_f_ctes() + "," + QC_PC_CTE + "," + gd,
        final,
    )


def _l64_oracle(iters: int = QC_ITERS) -> str:
    """Unrolled MATERIALIZED-CTE replay of the full quality-classifier
    recipe: closed-form planted corruption, integer featurization,
    every gradient superstep (hard-sigmoid probabilities, exact int64
    gradient sums, floor-of-double weight updates with the diagonal
    preconditioner), final scoring, and the per-language confusion
    report with the final weights as columns — the entire GD trajectory
    is value-hash-checked, not just the endpoint."""
    body, final = _l64_ctes(iters)
    return (
        "WITH "
        + body
        + f""",
    zf AS (SELECT fx.id, SUM(w.v * fx.v) AS z
           FROM fx JOIN {final} w USING (j) GROUP BY fx.id),
    scored AS (SELECT f.id, f.y, zf.z >= 0 AS flagged
               FROM f JOIN zf ON zf.id = f.id)
    SELECT d.lang,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN s.flagged THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(SUM(s.y) AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN s.y = 1 AND s.flagged THEN 1 ELSE 0 END)
                AS BIGINT) AS n_caught,
           CAST(SUM(CASE WHEN s.y = 0 AND s.flagged THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           (SELECT v FROM {final} WHERE j = 0) AS w_bias,
           (SELECT v FROM {final} WHERE j = 1) AS w_ntok,
           (SELECT v FROM {final} WHERE j = 2) AS w_ttr,
           (SELECT v FROM {final} WHERE j = 3) AS w_awl
    FROM scored s JOIN documents d ON d.doc_id = s.id % {QC_TWIN_OFFSET}
    GROUP BY d.lang
    """
    )


# (session, sf_dir, data fingerprint) -> trained quantized weights; the
# "train once, deploy everywhere" contract l64 (confusion report) and
# l70 (corpus filter) share. Training is partition-independent (exact
# integer gradient sums), so cached-vs-fresh weights are identical.
_QC_WEIGHTS_CACHE: dict[str, list[int]] = {}


def _qc_train_feats(docs: DataFrame, checkpoint: bool = True) -> DataFrame:
    """(id, y, x): the labeled training table — every doc as a label-0
    row plus planted low-quality twins (doc_id % 7 == 2, id + 2^23)
    whose corrupted text (first token repeated n_tokens times) is BUILT
    and featurized here; the oracles replay the twin features
    closed-form from the base row. ``checkpoint=False`` keeps the full
    lineage visible for plan tests (the l71 no-day-1-rescan check)."""
    base = spread(docs).select(
        F.col("doc_id").alias("id"),
        F.lit(0).alias("y"),
        _qc_x(F.col("text")).alias("x"),
    )
    toks = F.split(F.col("text"), " ")
    ctext = F.array_join(
        F.array_repeat(F.element_at(toks, 1), F.size(toks)), " "
    )
    corrupt = spread(docs.filter(F.col("doc_id") % 7 == 2)).select(
        (F.col("doc_id") + F.lit(QC_TWIN_OFFSET)).alias("id"),
        F.lit(1).alias("y"),
        _qc_x(ctext).alias("x"),
    )
    out = base.unionByName(corrupt)
    return out.localCheckpoint(eager=True) if checkpoint else out


def _qc_weights(
    spark: SparkSession, sf_dir: str, feats: DataFrame | None = None
) -> list[int]:
    """Memoized trained weights for the (session, data) pair; trains on
    the supplied feats (or builds them) on a cache miss."""
    from datafusion_cyberpolka_eda_spark.operators import ml as ML

    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:"
        f"{_docs_fingerprint(sf_dir)}"
    )
    if key in _QC_WEIGHTS_CACHE:
        return _QC_WEIGHTS_CACHE[key]
    if feats is None:
        feats = _qc_train_feats(load_table(spark, sf_dir, "documents"))
    _QC_WEIGHTS_CACHE[key] = ML.logreg_train_supersteps(
        feats, dim=4, iters=QC_ITERS, lr_div=QC_LR_DIV, precond=QC_PRECOND
    )
    return _QC_WEIGHTS_CACHE[key]


@register("l64_quality_classifier", _l64_oracle(QC_ITERS))
def l64_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED model-based quality filtering (r9 verdict task 1) —
    the trained-classifier stage a DCLM/FineWeb-Edu-style pipeline runs
    after the rule-based funnel (l21/l42/l50), and the one operator
    class the repo lacked:

      labels  : every doc is a label-0 row; docs with doc_id % 7 == 2
                additionally yield a PLANTED low-quality twin (id +
                2^23): the ACTUAL corrupted text (first token repeated
                n_tokens times) is built and featurized in Spark — the
                pipeline runs for real — while the oracle replays the
                twin's features closed-form from the base row (the l60
                planting recipe);
      features: [bias, n_tokens, centered type-token ratio, avg word
                length x100] — all exact int64 (_qc_x), the repetition/
                length signals the existing quality stack scores;
      training: 4 hard-sigmoid gradient supersteps at integer scale 1e6
                (ml.logreg_train_supersteps — one map pass + one O(dim)
                groupBy per superstep, weights enter as literals, the
                l59 communication discipline);
      report  : per-language confusion counts (planted recall and false
                positives are MEASURED columns — perfect 714/714 caught
                with 0 false positives at sf0.1, but nothing is pinned)
                plus the final weight vector as columns, so the oracle
                hash-checks the ENTIRE GD trajectory, not a boolean.

    Scale shape: featurization is map-side expressions; each superstep
    communicates dim integers regardless of corpus size; scoring is one
    literal-expression map pass. At 100 TB the row scan dominates and
    the shape holds — this is the same superstep contract l59 carries.
    Ref anchor: similarity.py lloyd_kmeans_q; registry l60; SURVEY §2 L
    quality family."""
    from datafusion_cyberpolka_eda_spark.operators import ml as ML

    docs = load_table(spark, sf_dir, "documents")
    _qc_domain_check(spark, sf_dir)
    feats = _qc_train_feats(docs)
    w = _qc_weights(spark, sf_dir, feats)
    scored = ML.logreg_score_q(feats, w)
    out = (
        scored.join(
            docs.select("doc_id", "lang"),
            scored["id"] % QC_TWIN_OFFSET == F.col("doc_id"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("flagged").cast("int")).cast("bigint").alias("n_flagged"),
            F.sum("y").cast("bigint").alias("n_corrupt"),
            F.sum(((F.col("y") == 1) & F.col("flagged")).cast("int"))
            .cast("bigint")
            .alias("n_caught"),
            F.sum(((F.col("y") == 0) & F.col("flagged")).cast("int"))
            .cast("bigint")
            .alias("n_false_pos"),
        )
    )
    return out.select(
        "*",
        F.lit(int(w[0])).cast("bigint").alias("w_bias"),
        F.lit(int(w[1])).cast("bigint").alias("w_ntok"),
        F.lit(int(w[2])).cast("bigint").alias("w_ttr"),
        F.lit(int(w[3])).cast("bigint").alias("w_awl"),
    )


# ---- model-based corpus filter pipeline (l70): l64 deployed ----

def _qc_keep_expr(w: list[int]) -> F.Column:
    """The deployment keep-gate over a `text` column: z = w . x(text) < 0
    with the trained quantized weights entering as LITERALS — one
    map-side expression, no join, no shuffle. Shared by the batch filter
    (l70) and the streaming ingest filter (j21), so both surfaces score
    with byte-identical arithmetic."""
    from datafusion_cyberpolka_eda_spark.functions.litexpr import (
        sql_long_array,
    )

    z = F.aggregate(
        F.zip_with(
            _qc_x(F.col("text")),
            F.expr(sql_long_array(w)),
            lambda xv, wv: xv * wv,
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return z < 0

def _l70_oracle(iters: int = QC_ITERS) -> str:
    """Training replay (the l64 CTE body) + DEPLOYMENT: score only the
    real corpus rows (label-0), keep docs the classifier does NOT flag,
    and report per-source retention — doc counts, token mass, and keep
    rate. The weights, every score, and the aggregates are all
    hash-checked."""
    body, final = _l64_ctes(iters)
    return (
        "WITH "
        + body
        + f""",
    zf AS (SELECT fx.id, SUM(w.v * fx.v) AS z
           FROM fx JOIN {final} w USING (j) GROUP BY fx.id),
    kept AS (SELECT f.id, f.nt, zf.z < 0 AS keep
             FROM f JOIN zf ON zf.id = f.id WHERE f.y = 0)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(k.nt) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN k.keep THEN k.nt ELSE 0 END) AS BIGINT)
             AS kept_tokens,
           ROUND(CAST(SUM(CASE WHEN k.keep THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS keep_rate
    FROM kept k JOIN documents d ON d.doc_id = k.id
    GROUP BY d.source
    """
    )


@register("l70_model_filter_pipeline", _l70_oracle(QC_ITERS))
def l70_model_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-BASED corpus filtering end-to-end — the deployment shape of
    l64 (the FineWeb-Edu/DCLM pattern: train a quality classifier on
    labeled examples, then run it over the real corpus as a keep/drop
    gate): reuse the memoized trained weights (_qc_weights — train once
    per session, the persisted-model contract), score ONLY the real
    corpus rows (the planted twins exist purely as training negatives),
    and report per-source retention — doc counts, token mass kept vs
    total, and keep rate. This is the stage whose output feeds the
    mixture rebalancer (l47): dropping low-quality docs shifts source
    token masses, and the per-source report is exactly the rebalancer's
    input.

    Scale shape: scoring is one literal-weight map pass over the corpus
    (no join, no shuffle before the per-source aggregate); training
    amortizes across every deployment via the weight memo. At 100 TB
    the corpus scan dominates and nothing else grows. Ref anchor:
    l64/_qc_weights; SURVEY §2 L quality family."""
    docs = load_table(spark, sf_dir, "documents")
    w = _qc_weights(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    scored = spread(docs).select(
        "source",
        F.size(toks).cast("long").alias("nt"),
        _qc_keep_expr(w).alias("keep"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
            F.sum(F.when(F.col("keep"), F.col("nt")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
            F.round(
                F.sum(F.col("keep").cast("int")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("keep_rate"),
        )
    )


# ---- incremental classifier update (l71): warm-start continue-training ----

# Day-1 persists a MID-TRAJECTORY checkpoint (2 of the 4 supersteps a
# cold-start run would take) and day-2 resumes from it: the fully-trained
# model separates the planted twins with saturated hard-sigmoid margins
# (gradient exactly 0), so only a genuine checkpoint-resume split makes
# the warm-start observable — which is also the realistic daily shape.
QC_DAY1_ITERS = 2  # supersteps persisted to the day-1 registry
QC_CONT_ITERS = 2  # day-2 continue-training supersteps

# (session, sf_dir, data fingerprint) -> (cutoff, day-1 weight-store path).
_QC_INCR_CACHE: dict[str, tuple[int, str]] = {}


def _qc_incr_store(spark: SparkSession, sf_dir: str) -> tuple[int, str]:
    """Day-1 MODEL REGISTRY — the l31 persisted-store pattern applied to
    model weights: train QC_DAY1_ITERS supersteps on the sub-cutoff slice
    (the l31 80% day-1 convention) once per (session, data) and persist
    the quantized weight vector as a tiny (j, v) parquet, exactly the
    way a daily pipeline checkpoints its quality model between runs.
    Returns (cutoff, store_path); later calls read the registry back
    instead of replaying day-1 gradients."""
    import atexit
    import os
    import shutil
    import tempfile

    from datafusion_cyberpolka_eda_spark.operators import ml as ML

    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:"
        f"{_docs_fingerprint(sf_dir)}"
    )
    if key in _QC_INCR_CACHE:
        return _QC_INCR_CACHE[key]
    docs = load_table(spark, sf_dir, "documents")
    cutoff = int(0.8 * (_docs_max_id(spark, sf_dir) + 1))
    feats = _qc_train_feats(docs.filter(F.col("doc_id") < cutoff))
    w = ML.logreg_train_supersteps(
        feats,
        dim=4,
        iters=QC_DAY1_ITERS,
        lr_div=QC_LR_DIV,
        precond=QC_PRECOND,
    )
    out = tempfile.mkdtemp(prefix="qc_model_store_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    path = os.path.join(out, "weights.parquet")
    spark.createDataFrame(
        [(j, int(v)) for j, v in enumerate(w)], "j int, v bigint"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    _QC_INCR_CACHE[key] = (cutoff, path)
    return _QC_INCR_CACHE[key]


def _l71_oracle(
    iters: int = QC_DAY1_ITERS, cont_iters: int = QC_CONT_ITERS
) -> str:
    """Two-phase unrolled replay: day-1 cold-start training on the
    sub-cutoff slice (phase a), then WARM-START continue-training on the
    increment slice (phase b, initial weights = phase a's final CTE),
    then scoring the increment's labeled rows with the continued model.
    Both weight vectors ride as columns, so the full two-phase GD
    trajectory is hash-checked — day-1 training, the registry handoff,
    and every day-2 step."""
    gd_a, final_a = _qc_gd_ctes(iters, "a")
    gd_b, final_b = _qc_gd_ctes(cont_iters, "b", w0=final_a)
    day1 = "doc_id < (SELECT c FROM cut)"
    day2 = "doc_id >= (SELECT c FROM cut)"
    return (
        "WITH "
        + QC_T_CTE
        + """,
    cut AS (
      SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) AS c
      FROM documents
    ),"""
        + QC_PC_CTE
        + ","
        + _qc_f_ctes("a", day1)
        + ","
        + gd_a
        + ","
        + _qc_f_ctes("b", day2)
        + ","
        + gd_b
        + f""",
    zf AS (SELECT fx.id, SUM(w.v * fx.v) AS z
           FROM fxb fx JOIN {final_b} w USING (j) GROUP BY fx.id),
    scored AS (SELECT f.id, f.y, zf.z >= 0 AS flagged
               FROM fb f JOIN zf ON zf.id = f.id)
    SELECT d.lang,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN s.flagged THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(SUM(s.y) AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN s.y = 1 AND s.flagged THEN 1 ELSE 0 END)
                AS BIGINT) AS n_caught,
           CAST(SUM(CASE WHEN s.y = 0 AND s.flagged THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           (SELECT v FROM {final_a} WHERE j = 0) AS w1_bias,
           (SELECT v FROM {final_a} WHERE j = 1) AS w1_ntok,
           (SELECT v FROM {final_a} WHERE j = 2) AS w1_ttr,
           (SELECT v FROM {final_a} WHERE j = 3) AS w1_awl,
           (SELECT v FROM {final_b} WHERE j = 0) AS w2_bias,
           (SELECT v FROM {final_b} WHERE j = 1) AS w2_ntok,
           (SELECT v FROM {final_b} WHERE j = 2) AS w2_ttr,
           (SELECT v FROM {final_b} WHERE j = 3) AS w2_awl
    FROM scored s JOIN documents d ON d.doc_id = s.id % {QC_TWIN_OFFSET}
    GROUP BY d.lang
    """
    )


@register("l71_incremental_classifier_update", _l71_oracle())
def l71_incremental_classifier_update(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL model update — the missing lifecycle stage between
    training (l64) and deployment (l70): day-1's quality classifier is
    trained once and persisted to a weight registry (_qc_incr_store, the
    l31 store pattern over model parameters); when the day-2 increment
    arrives, the model WARM-STARTS from the stored weights and runs
    QC_CONT_ITERS gradient supersteps over ONLY the increment's labeled
    rows (base docs + planted repetition twins, the l64 recipe) — day-1
    text is never re-featurized and day-1 gradients are never replayed,
    the property that makes continuous retraining affordable at 100 TB.

    Output: per-language confusion of the CONTINUED model on the
    increment (planted recall / false positives are MEASURED columns)
    plus BOTH weight vectors (w1_* = day-1 registry, w2_* = continued),
    so the oracle hash-checks the entire two-phase trajectory including
    the registry handoff, not just the endpoint.

    Scale shape: day-1 cost amortizes across every update via the
    persisted registry; each day-2 superstep is one map pass over the
    increment + one O(dim) groupBy (weights enter as literals — the l59
    communication discipline); the increment filter is pushed into the
    documents scan (plan-tested). Ref anchor: similarity.py
    lloyd_kmeans_q; registry l31/_incremental_store, l64; SURVEY §2 L
    quality family."""
    from datafusion_cyberpolka_eda_spark.operators import ml as ML

    docs = load_table(spark, sf_dir, "documents")
    _qc_domain_check(spark, sf_dir)
    cutoff, store_path = _qc_incr_store(spark, sf_dir)
    wa = [
        int(r["v"])
        for r in sorted(
            spark.read.parquet(store_path).collect(), key=lambda r: r["j"]
        )
    ]
    inc = docs.filter(F.col("doc_id") >= cutoff)
    feats = _qc_train_feats(inc)
    wb = ML.logreg_train_supersteps(
        feats,
        dim=4,
        iters=QC_CONT_ITERS,
        lr_div=QC_LR_DIV,
        precond=QC_PRECOND,
        w_init=wa,
    )
    scored = ML.logreg_score_q(feats, wb)
    out = (
        scored.join(
            inc.select("doc_id", "lang"),
            scored["id"] % QC_TWIN_OFFSET == F.col("doc_id"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("flagged").cast("int"))
            .cast("bigint")
            .alias("n_flagged"),
            F.sum("y").cast("bigint").alias("n_corrupt"),
            F.sum(((F.col("y") == 1) & F.col("flagged")).cast("int"))
            .cast("bigint")
            .alias("n_caught"),
            F.sum(((F.col("y") == 0) & F.col("flagged")).cast("int"))
            .cast("bigint")
            .alias("n_false_pos"),
        )
    )
    names_a = ["w1_bias", "w1_ntok", "w1_ttr", "w1_awl"]
    names_b = ["w2_bias", "w2_ntok", "w2_ttr", "w2_awl"]
    return out.select(
        "*",
        *[
            F.lit(int(v)).cast("bigint").alias(nm)
            for v, nm in list(zip(wa, names_a)) + list(zip(wb, names_b))
        ],
    )


# ---- DSIR-style importance-weighted data selection (l72) ----

DSIR_BUCKETS = 256  # hashed bigram feature buckets
DSIR_SCALE = 1_000_000  # quantization scale for the bucket ratio scores


def _dsir_bigram_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, bkt): the DSIR featurizer — every adjacent token pair
    hashed into DSIR_BUCKETS buckets with the portable md5 hash. Pure
    map-side explode; shared by the batch selector (l72) and the
    incremental scorer (l73) so both featurize byte-identically."""
    from datafusion_cyberpolka_eda_spark.functions.hashing import md5_hash64

    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        spread(docs)
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .select(
            "doc_id",
            F.pmod(md5_hash64("bg"), F.lit(DSIR_BUCKETS).cast("long")).alias(
                "bkt"
            ),
        )
    )


def _l72_oracle() -> str:
    from datafusion_cyberpolka_eda_spark.functions.hashing import (
        md5_hash64_sql,
    )

    h = md5_hash64_sql("w[i] || ' ' || w[i+1]")
    return f"""
    WITH t AS (
      SELECT doc_id, source, lang, string_split(text, ' ') AS w
      FROM documents
    ),
    g AS MATERIALIZED (
      SELECT doc_id, {h} % {DSIR_BUCKETS} AS bkt
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(w) - 1)) AS i) s
    ),
    st AS (
      SELECT bkt, COUNT(*) AS cr,
             SUM(CASE WHEN doc_id % 11 = 3 THEN 1 ELSE 0 END) AS ct
      FROM g GROUP BY bkt
    ),
    sc AS (
      SELECT bkt,
             CAST(FLOOR(CAST((ct + 1) * {DSIR_SCALE} AS DOUBLE)
                        / (cr + 1)) AS BIGINT) AS s
      FROM st
    ),
    d AS (
      SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             SUM(sc.s) AS tot
      FROM g JOIN sc USING (bkt) GROUP BY g.doc_id
    )
    SELECT t.doc_id, t.source, t.lang, d.n_bigrams,
           CAST(FLOOR(CAST(d.tot AS DOUBLE) / d.n_bigrams) AS BIGINT)
             AS dsir_weight
    FROM d JOIN t ON t.doc_id = d.doc_id
    ORDER BY dsir_weight DESC, t.doc_id LIMIT 20
    """


@register("l72_dsir_selection", _l72_oracle())
def l72_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance-weighted data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling") —
    the remaining published selection recipe the quality stack lacked:
    score every corpus doc by how much its hashed n-gram distribution
    looks like a TARGET domain sample relative to the raw corpus, then
    take the highest-importance docs.

      features : token bigrams hashed into {DSIR_BUCKETS} buckets with
                 the portable md5 hash (functions/hashing.py), so the
                 whole feature pipeline is oracle-checkable;
      target   : docs with doc_id % 11 == 3 — the deterministic
                 stand-in for the "high-quality seed set" a real run
                 would pass in (Wikipedia/books in the paper);
      score    : per bucket, the add-one-smoothed target/raw frequency
                 ratio quantized to exact int64 at scale 1e6 — one
                 correctly-rounded IEEE division + floor (the repo's
                 cross-engine determinism recipe; the paper's log-ratio
                 is replaced by the monotone quantized ratio so the
                 result is bit-reproducible in both engines);
      weight   : per doc, floor(mean bucket score over its bigrams) —
                 length-normalized so long docs don't win by volume;
      output   : deterministic top-20 by (weight DESC, doc_id) — the
                 selection head of the importance-resampling step.

    Scale shape: ONE bigram explode feeding ONE groupBy for both corpus
    and target counts (target counts are a conditional aggregate, not a
    second scan); the {DSIR_BUCKETS}-row score table is broadcast back
    onto the exploded bigrams (map-side join); the final head is
    TakeOrdered (no global sort materialization). At 100 TB the explode
    dominates and everything downstream is bounded by the bucket count.
    Ref anchor: SURVEY §2 L quality family; l13 tfidf (contrast-scoring
    sibling), l22/l47 (the samplers this feeds)."""
    docs = load_table(spark, sf_dir, "documents")
    # the explode feeds two passes (counts, then per-doc scoring)
    bg = _dsir_bigram_buckets(docs).localCheckpoint(eager=False)
    st = bg.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum((F.col("doc_id") % 11 == 3).cast("long")).alias("ct"),
    )
    sc = st.select(
        "bkt",
        F.floor(
            ((F.col("ct") + 1) * F.lit(DSIR_SCALE)).cast("double")
            / (F.col("cr") + 1)
        )
        .cast("long")
        .alias("s"),
    )
    d = (
        bg.join(F.broadcast(sc), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("s").alias("tot"),
        )
    )
    return (
        d.join(docs.select("doc_id", "source", "lang"), "doc_id")
        .select(
            "doc_id",
            "source",
            "lang",
            "n_bigrams",
            F.floor(F.col("tot").cast("double") / F.col("n_bigrams"))
            .cast("bigint")
            .alias("dsir_weight"),
        )
        .orderBy(F.desc("dsir_weight"), F.asc("doc_id"))
        .limit(20)
    )


# ---- incremental DSIR scoring (l73): frozen day-1 importance scorer ----

# (session, sf_dir, data fingerprint) -> (cutoff, frozen score-table path).
_DSIR_STORE_CACHE: dict[str, tuple[int, str]] = {}


def _dsir_store(spark: SparkSession, sf_dir: str) -> tuple[int, str]:
    """Build ONCE per (session, data) the FROZEN DSIR bucket-score table
    from day-1 docs only (counts AND target slice both restricted below
    the l31 80% cutoff) and persist it to parquet — the importance
    scorer the DSIR recipe trains once on a fixed raw/target sample and
    then applies to every future batch. Returns (cutoff, path)."""
    import atexit
    import os
    import shutil
    import tempfile

    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:"
        f"{_docs_fingerprint(sf_dir)}"
    )
    if key in _DSIR_STORE_CACHE:
        return _DSIR_STORE_CACHE[key]
    docs = load_table(spark, sf_dir, "documents")
    cutoff = int(0.8 * (_docs_max_id(spark, sf_dir) + 1))
    bg = _dsir_bigram_buckets(docs.filter(F.col("doc_id") < cutoff))
    sc = (
        bg.groupBy("bkt")
        .agg(
            F.count(F.lit(1)).alias("cr"),
            F.sum((F.col("doc_id") % 11 == 3).cast("long")).alias("ct"),
        )
        .select(
            "bkt",
            F.floor(
                ((F.col("ct") + 1) * F.lit(DSIR_SCALE)).cast("double")
                / (F.col("cr") + 1)
            )
            .cast("long")
            .alias("s"),
        )
    )
    out = tempfile.mkdtemp(prefix="dsir_store_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    path = os.path.join(out, "scores.parquet")
    sc.coalesce(1).write.mode("overwrite").parquet(path)
    _DSIR_STORE_CACHE[key] = (cutoff, path)
    return _DSIR_STORE_CACHE[key]


def _dsir_score_batch(docs: DataFrame, sc_table: DataFrame) -> DataFrame:
    """Deploy-side half of the DSIR recipe — score a document batch
    against a FROZEN bucket-score table: featurize the batch alone
    (_dsir_bigram_buckets), left-join the broadcast frozen table (a
    bucket the scorer never saw scores 0, not the smoothed max — novel
    vocabulary cannot win by surprise), and emit per-doc
    length-normalized floor-mean weights. Shared by the one-shot
    incremental scorer (l73), the streaming scorer (j22), and the
    replay test, so every deployment surface scores byte-identically
    by construction (r10 advice: the three copies could drift)."""
    bg = _dsir_bigram_buckets(docs)
    d = (
        bg.join(F.broadcast(sc_table), "bkt", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(F.coalesce(F.col("s"), F.lit(0))).alias("tot"),
        )
    )
    return d.join(docs.select("doc_id", "source", "lang"), "doc_id").select(
        "doc_id",
        "source",
        "lang",
        "n_bigrams",
        F.floor(F.col("tot").cast("double") / F.col("n_bigrams"))
        .cast("bigint")
        .alias("dsir_weight"),
    )


def _l73_oracle() -> str:
    from datafusion_cyberpolka_eda_spark.functions.hashing import (
        md5_hash64_sql,
    )

    h = md5_hash64_sql("w[i] || ' ' || w[i+1]")
    return f"""
    WITH t AS (
      SELECT doc_id, source, lang, string_split(text, ' ') AS w
      FROM documents
    ),
    cut AS (
      SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) AS c
      FROM documents
    ),
    g AS MATERIALIZED (
      SELECT doc_id, {h} % {DSIR_BUCKETS} AS bkt
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(w) - 1)) AS i) s
    ),
    st AS (
      SELECT bkt, COUNT(*) AS cr,
             SUM(CASE WHEN doc_id % 11 = 3 THEN 1 ELSE 0 END) AS ct
      FROM g WHERE doc_id < (SELECT c FROM cut) GROUP BY bkt
    ),
    sc AS (
      SELECT bkt,
             CAST(FLOOR(CAST((ct + 1) * {DSIR_SCALE} AS DOUBLE)
                        / (cr + 1)) AS BIGINT) AS s
      FROM st
    ),
    d AS (
      SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             SUM(COALESCE(sc.s, 0)) AS tot
      FROM g LEFT JOIN sc USING (bkt)
      WHERE g.doc_id >= (SELECT c FROM cut)
      GROUP BY g.doc_id
    )
    SELECT t.doc_id, t.source, t.lang, d.n_bigrams,
           CAST(FLOOR(CAST(d.tot AS DOUBLE) / d.n_bigrams) AS BIGINT)
             AS dsir_weight
    FROM d JOIN t ON t.doc_id = d.doc_id
    ORDER BY dsir_weight DESC, t.doc_id LIMIT 10
    """


@register("l73_incremental_dsir", _l73_oracle())
def l73_incremental_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL DSIR — the l31 persisted-store pattern over the l72
    importance scorer, closing the selection family's day-2 story: the
    bucket-score table is trained ONCE on the day-1 slice (raw counts
    and target slice both frozen below the cutoff — exactly how the
    DSIR paper fixes its importance estimator before selection) and
    persisted; the day-2 increment is featurized alone (pushed doc_id
    filter, plan-tested), scored against the BROADCAST frozen table,
    and its top-10 selected. Day-1 text is never re-exploded.

    A day-2 bigram hashing to a bucket the frozen scorer never saw
    scores 0 ("no target evidence"), NOT the smoothed (0+1)/(0+1) = max
    — the coalesce is pinned in both engines so novel-vocabulary docs
    cannot win the selection by surprise.

    Scale shape: per-increment cost is one bigram explode over the new
    docs + one broadcast map-side join; the frozen table is DSIR_BUCKETS
    rows forever. Ref anchor: registry l31 (store pattern), l72 (the
    featurizer/scorer this freezes); SURVEY §2 L quality family."""
    docs = load_table(spark, sf_dir, "documents")
    cutoff, store_path = _dsir_store(spark, sf_dir)
    sc = spark.read.parquet(store_path)
    return (
        _dsir_score_batch(docs.filter(F.col("doc_id") >= cutoff), sc)
        .orderBy(F.desc("dsir_weight"), F.asc("doc_id"))
        .limit(10)
    )


# ---- duplicated-span SCRUB (l74): l43's signal turned into the edit ----

DUP_SCRUB_K = 8  # gram width (the l43 convention)
DUP_SCRUB_HMOD = 1_000_000  # checksum hash modulus (keeps int64 headroom)


def _l74_oracle(k: int = DUP_SCRUB_K) -> str:
    from datafusion_cyberpolka_eda_spark.functions.hashing import (
        md5_hash64_sql,
    )

    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(k))
    h = md5_hash64_sql("tk")
    return f"""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    tok AS MATERIALIZED (
      SELECT doc_id, i - 1 AS pos, w[i] AS tk
      FROM t, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) s
    ),
    g AS MATERIALIZED (
      SELECT doc_id, i - 1 AS gpos, {gram} AS gram
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(w) - {k - 1})) AS i) s
    ),
    dup AS (
      SELECT gram, MIN(doc_id) AS canon FROM g
      GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    rem AS (
      SELECT DISTINCT g.doc_id, g.gpos + j AS pos
      FROM g JOIN dup USING (gram),
           LATERAL (SELECT unnest(generate_series(0, {k - 1})) AS j) s2
      WHERE g.doc_id <> dup.canon
    ),
    kept AS (
      SELECT tok.doc_id, tok.pos, tok.tk
      FROM tok LEFT JOIN rem
        ON rem.doc_id = tok.doc_id AND rem.pos = tok.pos
      WHERE rem.pos IS NULL
    ),
    per AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             CAST(SUM((pos + 1) * ({h} % {DUP_SCRUB_HMOD})) AS BIGINT)
               AS checksum
      FROM kept GROUP BY doc_id
    ),
    alldocs AS (
      SELECT t.doc_id, t.source, CAST(len(t.w) AS BIGINT) AS n_tokens,
             COALESCE(p.n_kept, 0) AS n_kept,
             COALESCE(p.checksum, 0) AS checksum
      FROM t LEFT JOIN per p ON p.doc_id = t.doc_id
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tokens - n_kept) AS BIGINT) AS removed_tokens,
           CAST(SUM(n_kept) AS BIGINT) AS kept_tokens,
           ROUND(CAST(SUM(n_tokens - n_kept) AS DOUBLE) / SUM(n_tokens), 6)
             AS removal_rate,
           CAST(SUM(checksum) AS BIGINT) AS kept_checksum
    FROM alldocs GROUP BY source
    """


@register("l74_dup_span_scrub", _l74_oracle())
def l74_dup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span SCRUB — l43's measurement turned into the actual
    corpus edit (Lee et al.'s exact-substring dedup at gram granularity,
    the published step after detection): every token position covered by
    a cross-document duplicated 8-gram OCCURRENCE is removed, EXCEPT in
    the gram's canonical document (min doc_id) — one copy of every
    duplicated passage survives, which is the paper's "keep one
    occurrence" rule made deterministic.

    The per-source report carries kept/removed token masses AND an exact
    integer checksum of the surviving (position, token-hash) pairs — so
    the oracle pins WHICH tokens survived at WHICH positions, not just
    how many; a scrub that dropped the wrong copy would hash-mismatch
    even with identical counts.

    Scale shape: one token posexplode + one gram posexplode (both
    map-side slice-zips); ONE groupBy(gram) finds duplicated grams and
    their canonical docs; only non-canonical duplicated occurrences
    explode their k positions (bounded by dup volume, not corpus size);
    the kept set is an anti-join on (doc_id, pos). At 100 TB hash grams
    to 64-bit before the groupBy (the l13/l43 note) and the anti-join
    shuffles fixed-width keys. Ref anchor: registry l43
    dup_span_doc_coverage; SURVEY §2 L dedup family."""
    from datafusion_cyberpolka_eda_spark.functions.hashing import md5_hash64

    k = DUP_SCRUB_K
    docs = spread(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tk")
    )
    # the gram explode feeds BOTH the dup groupBy and the rem join; the
    # two subtrees differ (partial-agg below one exchange), so
    # ReuseExchange never fires and the corpus was shingled twice per
    # run — the cut caches the exploded grams so they compute once
    g = docs.select(
        "doc_id", F.posexplode(T.shingles("text", k)).alias("gpos", "gram")
    ).localCheckpoint(eager=False)
    dup = (
        g.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.min("doc_id").alias("canon"),
        )
        .filter(F.col("nd") >= 2)
        .select("gram", "canon")
    )
    rem = (
        g.join(dup, "gram")
        .filter(F.col("doc_id") != F.col("canon"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("gpos"), F.col("gpos") + F.lit(k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = tok.join(rem, ["doc_id", "pos"], "anti")
    per = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum(
            (F.col("pos") + 1)
            * F.pmod(md5_hash64("tk"), F.lit(DUP_SCRUB_HMOD).cast("long"))
        )
        .cast("bigint")
        .alias("checksum"),
    )
    alldocs = base.join(per, "doc_id", "left").fillna(
        0, ["n_kept", "checksum"]
    )
    return alldocs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(F.col("n_tokens") - F.col("n_kept"))
        .cast("bigint")
        .alias("removed_tokens"),
        F.sum("n_kept").cast("bigint").alias("kept_tokens"),
        F.round(
            F.sum(F.col("n_tokens") - F.col("n_kept")).cast("double")
            / F.sum("n_tokens"),
            6,
        ).alias("removal_rate"),
        F.sum("checksum").cast("bigint").alias("kept_checksum"),
    )


# ---- incremental dup-span scrub (l77): the l31 store over l74 ----

# (session, sf_dir, data fingerprint) -> (cutoff, day-1 gram-stats path).
_DUP_SCRUB_STORE_CACHE: dict[str, tuple[int, str]] = {}


def _dup_scrub_store(spark: SparkSession, sf_dir: str) -> tuple[int, str]:
    """Build ONCE per (session, data) the persisted day-1 GRAM-STATS
    store for incremental span scrubbing: per 8-gram, the distinct-doc
    count and min doc id over the sub-cutoff slice — exactly the two
    facts day-2 needs to decide duplication and canonical ownership
    without re-shingling old text. Mergeable by construction (counts
    add, mins combine) — the d20 sketch-store discipline."""
    import atexit
    import os
    import shutil
    import tempfile

    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:dupscrub:"
        f"{_docs_fingerprint(sf_dir)}"
    )
    if key in _DUP_SCRUB_STORE_CACHE:
        return _DUP_SCRUB_STORE_CACHE[key]
    docs = load_table(spark, sf_dir, "documents")
    cutoff = int(0.8 * (_docs_max_id(spark, sf_dir) + 1))
    g1 = docs.filter(F.col("doc_id") < cutoff).select(
        "doc_id",
        F.explode(T.shingles("text", DUP_SCRUB_K)).alias("gram"),
    )
    st = g1.groupBy("gram").agg(
        F.countDistinct("doc_id").cast("bigint").alias("nd1"),
        F.min("doc_id").alias("m1"),
    )
    out = tempfile.mkdtemp(prefix="dup_scrub_store_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    path = os.path.join(out, "gram_stats.parquet")
    st.write.mode("overwrite").parquet(path)
    _DUP_SCRUB_STORE_CACHE[key] = (cutoff, path)
    return _DUP_SCRUB_STORE_CACHE[key]


def _l77_oracle(k: int = DUP_SCRUB_K) -> str:
    from datafusion_cyberpolka_eda_spark.functions.hashing import (
        md5_hash64_sql,
    )

    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(k))
    h = md5_hash64_sql("tk")
    return f"""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    cut AS (
      SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) AS c
      FROM documents
    ),
    tok AS MATERIALIZED (
      SELECT doc_id, i - 1 AS pos, w[i] AS tk
      FROM t, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) s
      WHERE doc_id >= (SELECT c FROM cut)
    ),
    g AS MATERIALIZED (
      SELECT doc_id, i - 1 AS gpos, {gram} AS gram
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(w) - {k - 1})) AS i) s
    ),
    dup AS (
      SELECT gram, MIN(doc_id) AS canon FROM g
      GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    rem AS (
      SELECT DISTINCT g.doc_id, g.gpos + j AS pos
      FROM g JOIN dup USING (gram),
           LATERAL (SELECT unnest(generate_series(0, {k - 1})) AS j) s2
      WHERE g.doc_id >= (SELECT c FROM cut) AND g.doc_id <> dup.canon
    ),
    kept AS (
      SELECT tok.doc_id, tok.pos, tok.tk
      FROM tok LEFT JOIN rem
        ON rem.doc_id = tok.doc_id AND rem.pos = tok.pos
      WHERE rem.pos IS NULL
    ),
    per AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             CAST(SUM((pos + 1) * ({h} % {DUP_SCRUB_HMOD})) AS BIGINT)
               AS checksum
      FROM kept GROUP BY doc_id
    ),
    alldocs AS (
      SELECT t.doc_id, t.source, CAST(len(t.w) AS BIGINT) AS n_tokens,
             COALESCE(p.n_kept, 0) AS n_kept,
             COALESCE(p.checksum, 0) AS checksum
      FROM t LEFT JOIN per p ON p.doc_id = t.doc_id
      WHERE t.doc_id >= (SELECT c FROM cut)
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tokens - n_kept) AS BIGINT) AS removed_tokens,
           CAST(SUM(n_kept) AS BIGINT) AS kept_tokens,
           ROUND(CAST(SUM(n_tokens - n_kept) AS DOUBLE) / SUM(n_tokens), 6)
             AS removal_rate,
           CAST(SUM(checksum) AS BIGINT) AS kept_checksum
    FROM alldocs GROUP BY source
    """


@register("l77_incremental_dup_span_scrub", _l77_oracle())
def l77_incremental_dup_span_scrub(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL dup-span scrub — the l31 persisted-store pattern over
    l74's gram statistics: day-1 persists per-gram (distinct-doc count,
    min doc id) once; the day-2 increment shingles ONLY its own text
    (pushed doc_id filter), merges its gram stats with the store
    (day-1/day-2 doc sets are disjoint, so distinct counts ADD and the
    canonical owner is the min of the two mins — the mergeable-sketch
    property), and scrubs ONLY day-2 positions: a day-2 token is removed
    iff its covering gram is duplicated across the merged corpus and
    this doc is not the gram's canonical owner. Day-1 text is immutable
    (never re-scrubbed, never re-shingled) — a re-crawled passage loses
    its day-2 copies while yesterday's canonical survives, the l69
    day-1-immutability convention.

    The oracle replays the FULL-corpus gram table and restricts the
    scrub to day-2 docs — exactly what the merged store must equal — so
    the store's sufficiency (counts + mins are all you need) is
    hash-checked, not assumed.

    Scale shape: day-2 work = |increment| shingling + one gram-keyed
    join against the store (persist it bucketed by gram at 100 TB) +
    the l74 anti-join machinery over increment rows only; the store
    grows by |increment| gram rows/day via count-add/min-merge. Ref
    anchor: registry l74, l31; SURVEY §2 L dedup family."""
    from datafusion_cyberpolka_eda_spark.functions.hashing import md5_hash64

    k = DUP_SCRUB_K
    docs = load_table(spark, sf_dir, "documents")
    cutoff, store_path = _dup_scrub_store(spark, sf_dir)
    store = spark.read.parquet(store_path)
    inc = spread(docs.filter(F.col("doc_id") >= cutoff))
    base = inc.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    tok = inc.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tk")
    )
    g2 = inc.select(
        "doc_id", F.posexplode(T.shingles("text", k)).alias("gpos", "gram")
    ).localCheckpoint(eager=False)  # feeds stats merge AND occurrence scan
    stats2 = g2.groupBy("gram").agg(
        F.countDistinct("doc_id").cast("bigint").alias("nd2"),
        F.min("doc_id").alias("m2"),
    )
    merged = stats2.join(store, "gram", "left").select(
        "gram",
        (F.coalesce(F.col("nd1"), F.lit(0)) + F.col("nd2")).alias("nd"),
        F.least(
            F.coalesce(F.col("m1"), F.col("m2")), F.col("m2")
        ).alias("canon"),
    )
    dup = merged.filter(F.col("nd") >= 2).select("gram", "canon")
    rem = (
        g2.join(dup, "gram")
        .filter(F.col("doc_id") != F.col("canon"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("gpos"), F.col("gpos") + F.lit(k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = tok.join(rem, ["doc_id", "pos"], "anti")
    per = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum(
            (F.col("pos") + 1)
            * F.pmod(md5_hash64("tk"), F.lit(DUP_SCRUB_HMOD).cast("long"))
        )
        .cast("bigint")
        .alias("checksum"),
    )
    alldocs = base.join(per, "doc_id", "left").fillna(
        0, ["n_kept", "checksum"]
    )
    return alldocs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(F.col("n_tokens") - F.col("n_kept"))
        .cast("bigint")
        .alias("removed_tokens"),
        F.sum("n_kept").cast("bigint").alias("kept_tokens"),
        F.round(
            F.sum(F.col("n_tokens") - F.col("n_kept")).cast("double")
            / F.sum("n_tokens"),
            6,
        ).alias("removal_rate"),
        F.sum("checksum").cast("bigint").alias("kept_checksum"),
    )


# ---- classifier PR curve (l75): threshold sweep of the l64 model ----

# decision thresholds on z in units of LOGREG_PSCALE: the trained model
# puts planted twins around +4S while clean docs spread from about -1S
# down past -64S (z scales with doc length), so the fixed literal grid
# reaches deep into the negative range to expose the precision falloff
# (data-independent literals, so the oracle replays the grid verbatim)
QC_PR_THRESH = [-64, -32, -16, -8, -4, -1, 0, 2, 4, 8]


def _l75_oracle(iters: int = QC_ITERS) -> str:
    body, final = _l64_ctes(iters)
    s = 1_000_000
    vals = ", ".join(f"(CAST({t * s} AS BIGINT))" for t in QC_PR_THRESH)
    return (
        "WITH "
        + body
        + f""",
    zf AS (SELECT fx.id, SUM(w.v * fx.v) AS z
           FROM fx JOIN {final} w USING (j) GROUP BY fx.id),
    scored AS (SELECT f.id, f.y, zf.z
               FROM f JOIN zf ON zf.id = f.id),
    grid(thr) AS (VALUES {vals})
    SELECT g.thr,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN s.z >= g.thr THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(SUM(CASE WHEN s.y = 1 AND s.z >= g.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN s.y = 0 AND s.z >= g.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN s.y = 1 AND s.z < g.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           ROUND(CAST(SUM(CASE WHEN s.y = 1 AND s.z >= g.thr
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / GREATEST(SUM(CASE WHEN s.z >= g.thr THEN 1 ELSE 0 END),
                            1), 6) AS precision_q,
           ROUND(CAST(SUM(CASE WHEN s.y = 1 AND s.z >= g.thr
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / GREATEST(SUM(s.y), 1), 6) AS recall_q
    FROM scored s CROSS JOIN grid g GROUP BY g.thr
    """
    )


@register("l75_classifier_pr_curve", _l75_oracle())
def l75_classifier_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier PR CURVE — the threshold sweep every deployed quality
    filter needs before picking its operating point (l70/j21 ship z>=0;
    this entry shows what every other cut would have done): the trained
    l64 model scores the full labeled set ONCE, the fixed literal
    threshold grid is exploded against each row map-side, and one
    groupBy(threshold) emits confusion counts + precision/recall per
    cut. Precision at an empty flag set is pinned to 0 via the
    greatest(...,1) denominator — no NULL/NaN divergence between
    engines.

    Scale shape: one scoring map pass over the corpus, a 9x row
    amplification of (y, z) pairs only (two longs — not text), one
    bounded groupBy; output is |grid| rows forever. Ref anchor: l64
    (the model), e24/e13 (the confusion-report convention); SURVEY §2 L
    quality family."""
    from datafusion_cyberpolka_eda_spark.operators.ml import LOGREG_PSCALE

    docs = load_table(spark, sf_dir, "documents")
    _qc_domain_check(spark, sf_dir)
    w = _qc_weights(spark, sf_dir)
    feats = _qc_train_feats(docs)
    from datafusion_cyberpolka_eda_spark.functions.litexpr import (
        sql_long_array,
    )

    z = F.aggregate(
        F.zip_with(
            "x",
            F.expr(sql_long_array(w)),
            lambda xv, wv: xv * wv,
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    s = LOGREG_PSCALE
    grid = F.explode(
        F.array(*[F.lit(t * s).cast("long") for t in QC_PR_THRESH])
    )
    sweep = feats.select(F.col("y"), z.alias("z")).select(
        "y", "z", grid.alias("thr")
    )
    flagged = F.col("z") >= F.col("thr")
    tp = ((F.col("y") == 1) & flagged).cast("int")
    return sweep.groupBy("thr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(flagged.cast("int")).cast("bigint").alias("n_flagged"),
        F.sum(tp).cast("bigint").alias("tp"),
        F.sum(((F.col("y") == 0) & flagged).cast("int"))
        .cast("bigint")
        .alias("fp"),
        F.sum(((F.col("y") == 1) & ~flagged).cast("int"))
        .cast("bigint")
        .alias("fn"),
        F.round(
            F.sum(tp).cast("double")
            / F.greatest(F.sum(flagged.cast("int")), F.lit(1)),
            6,
        ).alias("precision_q"),
        F.round(
            F.sum(tp).cast("double") / F.greatest(F.sum("y"), F.lit(1)), 6
        ).alias("recall_q"),
    )


# ---- takedown over the model + selection stores (l80/l81, r11
# verdict task 5): the j17/l38 right-to-be-forgotten discipline applied
# to the r10 persisted stores — retrain-free invalidation ----


def _l80_oracle(iters: int = QC_DAY1_ITERS) -> str:
    """Replay: day-1 cold-start training (the FROZEN registry — removed
    docs' gradient contributions stay in, exactly the retrain-free
    policy), full-corpus deployment scoring, then the takedown filter
    (base doc_id % 7 == 3 drops the doc AND its planted twin) BEFORE
    the confusion rollup. Weight columns replay the registry verbatim,
    proving the model was not retrained."""
    gd_a, final_a = _qc_gd_ctes(iters, "a")
    day1 = "doc_id < (SELECT c FROM cut)"
    return (
        "WITH "
        + QC_T_CTE
        + """,
    cut AS (
      SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) AS c
      FROM documents
    ),"""
        + QC_PC_CTE
        + ","
        + _qc_f_ctes("a", day1)
        + ","
        + gd_a
        + ","
        + _qc_f_ctes("b")
        + f""",
    zf AS (SELECT fx.id, SUM(w.v * fx.v) AS z
           FROM fxb fx JOIN {final_a} w USING (j) GROUP BY fx.id),
    scored AS (SELECT f.id, f.y, zf.z >= 0 AS flagged
               FROM fb f JOIN zf ON zf.id = f.id
               WHERE (f.id % {QC_TWIN_OFFSET}) % 3 != 1)
    SELECT d.lang,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN s.flagged THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(SUM(s.y) AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN s.y = 1 AND s.flagged THEN 1 ELSE 0 END)
                AS BIGINT) AS n_caught,
           CAST(SUM(CASE WHEN s.y = 0 AND s.flagged THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           (SELECT v FROM {final_a} WHERE j = 0) AS w_bias,
           (SELECT v FROM {final_a} WHERE j = 1) AS w_ntok,
           (SELECT v FROM {final_a} WHERE j = 2) AS w_ttr,
           (SELECT v FROM {final_a} WHERE j = 3) AS w_awl
    FROM scored s JOIN documents d ON d.doc_id = s.id % {QC_TWIN_OFFSET}
    GROUP BY d.lang
    """
    )


@register("l80_classifier_takedown", _l80_oracle())
def l80_classifier_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAKEDOWN over the MODEL REGISTRY deployment (r11 verdict task 5)
    — the right-to-be-forgotten semantics a deployed quality model
    needs, the j17/l38 discipline over the r10 _qc_incr_store:

      frozen   : the day-1 weight registry is read back UNTOUCHED —
                 removed docs' gradient contributions remain baked in
                 (the standard retrain-free policy: aggregate model
                 parameters are not per-user data; the REPORT rows
                 are). The weight columns in the output replay the
                 registry verbatim, so a sneaky retrain breaks the
                 hash;
      takedown : the removal feed (base doc_id % 3 == 1 — chosen to
                 INTERSECT the twin-planting slice doc_id % 7 == 2, so
                 the twin-drop path genuinely exercises) drops every
                 derived SCORE row of a removed doc — the doc's own
                 row AND its planted twin's — before any rollup;
      report   : per-language confusion over the SURVIVORS only. The
                 oracle recomputes training + scoring from scratch
                 minus the removed set, so 'no removed doc contributes
                 to any reported count' is hash-checked, not asserted.

    Scale shape: scoring is one literal-weight map pass; the takedown
    filter is a map-side modular predicate (a real feed would
    broadcast-anti-join the request list); rollup is one bounded agg.
    Ref anchor: registry l38/j17 (takedown discipline), _qc_incr_store
    (the frozen registry), l64/l70 (the deployment this edits);
    SURVEY §2 L quality family."""
    from datafusion_cyberpolka_eda_spark.operators import ml as ML

    docs = load_table(spark, sf_dir, "documents")
    _qc_domain_check(spark, sf_dir)
    _cutoff, store_path = _qc_incr_store(spark, sf_dir)
    wa = [
        int(r["v"])
        for r in sorted(
            spark.read.parquet(store_path).collect(), key=lambda r: r["j"]
        )
    ]
    feats = _qc_train_feats(docs)
    scored = ML.logreg_score_q(feats, wa).filter(
        (F.col("id") % QC_TWIN_OFFSET) % 3 != 1
    )
    out = (
        scored.join(
            docs.select("doc_id", "lang"),
            scored["id"] % QC_TWIN_OFFSET == F.col("doc_id"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("flagged").cast("int")).cast("bigint").alias("n_flagged"),
            F.sum("y").cast("bigint").alias("n_corrupt"),
            F.sum(((F.col("y") == 1) & F.col("flagged")).cast("int"))
            .cast("bigint")
            .alias("n_caught"),
            F.sum(((F.col("y") == 0) & F.col("flagged")).cast("int"))
            .cast("bigint")
            .alias("n_false_pos"),
        )
    )
    return out.select(
        "*",
        F.lit(int(wa[0])).cast("bigint").alias("w_bias"),
        F.lit(int(wa[1])).cast("bigint").alias("w_ntok"),
        F.lit(int(wa[2])).cast("bigint").alias("w_ttr"),
        F.lit(int(wa[3])).cast("bigint").alias("w_awl"),
    )


def _l81_oracle() -> str:
    """l73's frozen-scorer replay extended with the takedown tail: the
    pre-takedown top-10 is computed first so survivors entering the
    post-takedown head carry a MEASURED resurrected flag (the l76
    resurrection rule applied to a selection head)."""
    from datafusion_cyberpolka_eda_spark.functions.hashing import (
        md5_hash64_sql,
    )

    h = md5_hash64_sql("w[i] || ' ' || w[i+1]")
    return f"""
    WITH t AS (
      SELECT doc_id, source, lang, string_split(text, ' ') AS w
      FROM documents
    ),
    cut AS (
      SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) AS c
      FROM documents
    ),
    g AS MATERIALIZED (
      SELECT doc_id, {h} % {DSIR_BUCKETS} AS bkt
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(w) - 1)) AS i) s
    ),
    st AS (
      SELECT bkt, COUNT(*) AS cr,
             SUM(CASE WHEN doc_id % 11 = 3 THEN 1 ELSE 0 END) AS ct
      FROM g WHERE doc_id < (SELECT c FROM cut) GROUP BY bkt
    ),
    sc AS (
      SELECT bkt,
             CAST(FLOOR(CAST((ct + 1) * {DSIR_SCALE} AS DOUBLE)
                        / (cr + 1)) AS BIGINT) AS s
      FROM st
    ),
    d AS (
      SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             SUM(COALESCE(sc.s, 0)) AS tot
      FROM g LEFT JOIN sc USING (bkt)
      WHERE g.doc_id >= (SELECT c FROM cut)
      GROUP BY g.doc_id
    ),
    wts AS MATERIALIZED (
      SELECT doc_id, n_bigrams,
             CAST(FLOOR(CAST(tot AS DOUBLE) / n_bigrams) AS BIGINT)
               AS dsir_weight
      FROM d
    ),
    pre AS (SELECT doc_id FROM wts
            ORDER BY dsir_weight DESC, doc_id LIMIT 10),
    surv AS (SELECT * FROM wts WHERE doc_id % 7 != 3)
    SELECT t.doc_id, t.source, t.lang, s.n_bigrams, s.dsir_weight,
           s.doc_id NOT IN (SELECT doc_id FROM pre) AS resurrected
    FROM surv s JOIN t ON t.doc_id = s.doc_id
    ORDER BY s.dsir_weight DESC, s.doc_id LIMIT 10
    """


@register("l81_dsir_takedown", _l81_oracle())
def l81_dsir_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAKEDOWN over the DSIR SELECTION store (r11 verdict task 5) —
    the j17/l38 discipline over the r10 _dsir_store, completing the
    selection family's CRUD story (batch l72, incremental l73,
    streaming j22, delete this):

      frozen   : the day-1 bucket-score table is read back UNTOUCHED —
                 removed docs' bigram counts stay in the frozen
                 estimator (retrain-free), exactly as the l80 weight
                 registry keeps its gradients;
      takedown : the removal feed (day-2 doc_id % 7 == 3) drops the
                 removed docs' SCORE rows; survivor scores are pure
                 functions of doc + frozen table, so nothing else
                 moves;
      report   : the post-takedown top-10 selection head. Each row
                 carries a MEASURED ``resurrected`` flag — TRUE for
                 docs that entered the head only because a removed doc
                 vacated a slot (the l76 resurrection rule applied to
                 a selection head), so the rank-shift semantics are
                 part of the hash surface.

    The oracle replays the frozen-store build, day-2 scoring, the
    pre-takedown head, the removal, and the final ranking — 'no
    removed doc contributes' is hash-checked end to end.

    Scale shape: one bigram explode over the increment + broadcast
    frozen table (the l73 plan); the pre/post heads are TakeOrdered
    reductions; the removal filter is map-side (broadcast-anti-join a
    real feed). Ref anchor: _dsir_store, l73, l76/l38/j17; SURVEY §2 L
    quality/selection family."""
    docs = load_table(spark, sf_dir, "documents")
    cutoff, store_path = _dsir_store(spark, sf_dir)
    sc = spark.read.parquet(store_path)
    all2 = _dsir_score_batch(
        docs.filter(F.col("doc_id") >= cutoff), sc
    ).localCheckpoint(eager=True)  # feeds the pre-head AND the survivors
    pre = (
        all2.orderBy(F.desc("dsir_weight"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", F.lit(1).alias("_pre"))
    )
    return (
        all2.filter(F.col("doc_id") % 7 != 3)
        .join(F.broadcast(pre), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "lang",
            "n_bigrams",
            "dsir_weight",
            F.col("_pre").isNull().alias("resurrected"),
        )
        .orderBy(F.desc("dsir_weight"), F.asc("doc_id"))
        .limit(10)
    )
