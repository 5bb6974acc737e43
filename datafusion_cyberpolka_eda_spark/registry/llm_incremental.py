"""L-family incremental/daily-pipeline entries: persisted-store dedup, component/survivor maintenance, mixture refresh, decontamination, takedown propagation, and PSI drift. Split from llm.py (r10)."""

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



# ---- incremental cross-snapshot dedup (l31) ----
# (session, sf_dir, data fingerprint) -> (cutoff, persisted store path).
_INCR_STORE_CACHE: dict[str, tuple[int, str]] = {}


def _incremental_store(spark: SparkSession, sf_dir: str) -> tuple[int, str]:
    """Build ONCE per (session, data) the persisted day-1 MinHash store —
    minhash_signatures_portable rows for docs below the 80% cutoff,
    written to parquet exactly the way a daily dedup job persists them —
    and return (cutoff, path). Subsequent l31 calls (and bench reps) read
    the store back instead of re-shingling the old corpus, which is the
    entire point of the incremental shape; the cutoff rides in the memo
    so steady-state calls pay zero extra aggregation jobs. Memoized with
    the same data fingerprint as the gate truth so in-session testdata
    regeneration invalidates it."""
    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:"
        f"{_docs_fingerprint(sf_dir)}"
    )
    if key in _INCR_STORE_CACHE:
        return _INCR_STORE_CACHE[key]
    import atexit
    import os
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    cutoff = int(0.8 * (max_id + 1))
    day1 = docs.filter(F.col("doc_id") < cutoff)
    sigs = D.minhash_signatures_portable(
        day1, "doc_id", "text", n=3, num_hashes=32, bands=8
    )
    out = tempfile.mkdtemp(prefix="minhash_store_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    path = os.path.join(out, "store.parquet")
    sigs.write.mode("overwrite").parquet(path)
    _INCR_STORE_CACHE[key] = (cutoff, path)
    return _INCR_STORE_CACHE[key]


def _l31_oracle() -> str:
    from datafusion_cyberpolka_eda_spark.operators.dedup import (
        minhash_banded_portable_oracle,
    )

    inner = minhash_banded_portable_oracle(
        n=3, num_hashes=32, bands=8, est_threshold=0.45
    )
    return f"""
    WITH mh AS (
      {inner}
    ),
    cut AS (
      SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) AS c FROM documents
    )
    SELECT id_a, id_b, est_jaccard,
           CASE WHEN id_a >= (SELECT c FROM cut) AND id_b >= (SELECT c FROM cut)
                THEN 'new_new' ELSE 'new_old' END AS kind
    FROM mh
    WHERE id_a >= (SELECT c FROM cut) OR id_b >= (SELECT c FROM cut)
    """


@register("l31_incremental_dedup", _l31_oracle())
def l31_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-snapshot dedup — the daily-pipeline operator
    (r6 verdict task 1): the first 80% of doc ids are "day 1" whose
    MinHash signature/band store is PERSISTED to parquet (built once per
    session — _incremental_store_dir); the remaining 20% arrive as the
    "day 2" increment. The query shingles ONLY the increment (the
    doc_id >= cutoff predicate is pushed into the documents scan; the old
    corpus enters purely via the signature store — a no-rescan plan test
    pins this), joins new bands against new+store bands, and emits every
    near-dup pair involving >= 1 new doc, tagged new_new/new_old.

    Because per-doc signatures are corpus-independent, the result equals
    the full-corpus banded pair set restricted to >= 1 new id — which is
    exactly what the DuckDB oracle computes (full portable-hash replay +
    cutoff classification), so the incremental path is value-hash-checked
    against the from-scratch semantics it must preserve.

    Scale shape: store grows by |increment| rows/day and is never
    recomputed; shuffle volume tracks increment band rows + colliding
    store rows (persist the store bucketed by band_key at 100 TB so the
    new-old join prunes to colliding buckets). The mergeable-sketch
    entries (d20/d21) are the same pattern for distinct counts."""
    docs = load_table(spark, sf_dir, "documents")
    cutoff, store_path = _incremental_store(spark, sf_dir)
    store = spark.read.parquet(store_path)
    new_docs = docs.filter(F.col("doc_id") >= cutoff)
    new_sigs = D.minhash_signatures_portable(
        new_docs, "doc_id", "text", n=3, num_hashes=32, bands=8
    ).localCheckpoint(eager=False)
    pairs = D.incremental_minhash_pairs(
        new_sigs, store, num_hashes=32, est_threshold=0.45
    )
    return pairs.select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"), "kind"
    )


# ---- incremental component maintenance (l33) ----
# (session, sf_dir, data fingerprint) -> persisted day-1 label-store path.
_INCR_CC_CACHE: dict[str, str] = {}


def _incremental_cc_store(spark: SparkSession, sf_dir: str) -> str:
    """Build ONCE per (session, data) the persisted day-1 COMPONENT-LABEL
    store: day-1 banded pairs rebuilt from the persisted signature store
    (banded_pairs_from_signatures — day-1 text is never re-shingled) and
    written as the day-1 EDGE LIST (id_a, id_b) ``edges.parquet``, then
    HashMin connected components over the read-back edges, (id, comp)
    written to ``labels.parquet`` beside it — the way a daily dedup job
    persists its cluster assignment. Returns the labels path
    (``_incremental_cc_edges`` gives the edge list's); keyed by the same
    data fingerprint as the signature store so testdata regeneration
    invalidates it.

    The day-1 pairs are computed once here: takedowns (l38, l40, j17)
    slice the edge list with ``dedup.edges_among`` instead of re-running
    the banded self-join over a signature slice, so a takedown's edge
    rebuild is one scan of the edge list probed against the affected
    members (bucket the list by id at scale so the scan prunes), and a
    j17 epoch costs |batch| + |touched day-1 components|."""
    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:"
        f"{_docs_fingerprint(sf_dir)}"
    )
    if key in _INCR_CC_CACHE:
        return _INCR_CC_CACHE[key]
    import atexit
    import os
    import shutil
    import tempfile

    _cutoff, sig_path = _incremental_store(spark, sf_dir)
    sigs = spark.read.parquet(sig_path)
    pairs = D.banded_pairs_from_signatures(
        sigs, num_hashes=32, est_threshold=0.45
    ).select("id_a", "id_b")
    out = tempfile.mkdtemp(prefix="cc_store_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    edges_path = os.path.join(out, "edges.parquet")
    pairs.write.mode("overwrite").parquet(edges_path)
    edges = spark.read.schema(pairs.schema).parquet(edges_path)
    labels = D.connected_components(edges, "id_a", "id_b")
    path = os.path.join(out, "labels.parquet")
    labels.write.mode("overwrite").parquet(path)
    _INCR_CC_CACHE[key] = path
    return path


def _incremental_cc_edges(spark: SparkSession, sf_dir: str) -> str:
    """Path of the day-1 edge list (id_a, id_b) that
    ``_incremental_cc_store`` persists beside its labels."""
    import os

    labels_path = _incremental_cc_store(spark, sf_dir)
    return os.path.join(os.path.dirname(labels_path), "edges.parquet")


def _l33_oracle() -> str:
    from datafusion_cyberpolka_eda_spark.operators.dedup import (
        minhash_banded_portable_oracle,
    )

    inner = minhash_banded_portable_oracle(
        n=3, num_hashes=32, bands=8, est_threshold=0.45
    )
    return f"""
    WITH RECURSIVE mh AS (
      {inner}
    ),
    cut AS (
      SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) AS c FROM documents
    ),
    opairs AS (
      SELECT id_a, id_b FROM mh
      WHERE id_a < (SELECT c FROM cut) AND id_b < (SELECT c FROM cut)
    ),
    oedges AS (SELECT id_a AS a, id_b AS b FROM opairs
               UNION SELECT id_b, id_a FROM opairs),
    oreach(id, r) AS (
      SELECT a, a FROM oedges
      UNION
      SELECT e.b, o.r FROM oreach o JOIN oedges e ON e.a = o.id
    ),
    olab AS (SELECT id, MIN(r) AS comp FROM oreach GROUP BY id),
    fedges AS (SELECT id_a AS a, id_b AS b FROM mh
               UNION SELECT id_b, id_a FROM mh),
    freach(id, r) AS (
      SELECT a, a FROM fedges
      UNION
      SELECT e.b, f.r FROM freach f JOIN fedges e ON e.a = f.id
    ),
    flab AS (SELECT id, MIN(r) AS comp FROM freach GROUP BY id),
    newcomp AS (
      SELECT DISTINCT comp FROM flab WHERE id >= (SELECT c FROM cut)
    ),
    aff AS (SELECT f.id, f.comp FROM flab f JOIN newcomp n ON f.comp = n.comp),
    sizes AS (SELECT comp, COUNT(*) AS n FROM aff GROUP BY comp)
    SELECT a.id AS doc_id, a.comp AS component,
           CASE WHEN a.id >= (SELECT c FROM cut) THEN 'new'
                WHEN o.comp IS NULL THEN 'first_cluster'
                WHEN o.comp <> a.comp THEN 'relabeled'
                ELSE 'unchanged' END AS status,
           s.n AS cluster_size
    FROM aff a
    LEFT JOIN olab o ON o.id = a.id
    JOIN sizes s ON s.comp = a.comp
    """


@register("l33_incremental_components", _l33_oracle())
def l33_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster-assignment maintenance — the second half of the
    daily dedup loop (l31 finds today's near-dup pairs; this merges them
    into the PERSISTED component-label store without re-running CC over
    the old corpus). Day-1 labels are built once per session from the
    persisted signature store (banded_pairs_from_signatures — no
    re-shingling) and written to parquet; the day-2 increment's pairs
    (incremental_minhash_pairs) then update only the components they
    touch via dedup.incremental_components: affected-component pull +
    star edges + bounded-subgraph HashMin CC.

    Output = the update DELTA a daily job would write back: every member
    of every affected component with its new label, a status
    (new / first_cluster / relabeled / unchanged), and the new cluster
    size. The DuckDB oracle recomputes from-scratch full-graph CC (two
    recursive CTEs: day-1-only and full) and restricts to components
    containing >= 1 new doc — the incremental path must reproduce
    from-scratch semantics exactly, statuses included.

    Scale shape: cost tracks |increment pairs| + |affected components|,
    never |corpus|; persist the label store partitioned by comp so the
    member pull is a pruned read."""
    docs = load_table(spark, sf_dir, "documents")
    cutoff, sig_path = _incremental_store(spark, sf_dir)
    labels_path = _incremental_cc_store(spark, sf_dir)
    store = spark.read.parquet(sig_path)
    old_labels = spark.read.parquet(labels_path)
    new_docs = docs.filter(F.col("doc_id") >= cutoff)
    new_sigs = D.minhash_signatures_portable(
        new_docs, "doc_id", "text", n=3, num_hashes=32, bands=8
    ).localCheckpoint(eager=False)
    new_pairs = (
        D.incremental_minhash_pairs(new_sigs, store, num_hashes=32, est_threshold=0.45)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    updated = D.incremental_components(old_labels, new_pairs, "id_a", "id_b")
    sizes = updated.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        updated.join(
            old_labels.select(
                F.col("id"), F.col("comp").alias("old_comp")
            ),
            "id",
            "left",
        )
        .join(F.broadcast(sizes), "comp")
        .select(
            F.col("id").alias("doc_id"),
            F.col("comp").alias("component"),
            F.when(F.col("id") >= cutoff, F.lit("new"))
            .when(F.col("old_comp").isNull(), F.lit("first_cluster"))
            .when(F.col("old_comp") != F.col("comp"), F.lit("relabeled"))
            .otherwise(F.lit("unchanged"))
            .alias("status"),
            "cluster_size",
        )
    )


# ---- incremental survivor maintenance (l34) ----
# (session, sf_dir, data fingerprint) -> (day-1 stats path, day-1 survivors path).
_INCR_SURV_CACHE: dict[str, tuple[str, str]] = {}


def _pick_survivors(members: DataFrame, toks: DataFrame) -> DataFrame:
    """(comp, picked_id, picked_n_tokens): longest-member policy (ties to
    lowest doc_id) over a (id, comp) membership table joined to per-doc
    token counts — the same window pick as l29, partitioned by cluster id
    so there is no global sort."""
    w = Window.partitionBy("comp").orderBy(F.desc("n_tokens"), F.asc("id"))
    return (
        members.join(toks.withColumnRenamed("doc_id", "id"), "id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "comp",
            F.col("id").alias("picked_id"),
            F.col("n_tokens").cast("bigint").alias("picked_n_tokens"),
        )
    )


def _incremental_surv_store(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build ONCE per (session, data) the remaining day-1 stores of the
    daily dedup loop: the per-doc stats store (doc_id, n_tokens — token
    counts are computed when a doc FIRST arrives and persisted, so
    survivor re-picks never re-read old text) and the day-1 survivor
    store ((comp, picked_id, picked_n_tokens) over the day-1 label
    store). Returns (stats_path, survivors_path)."""
    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:"
        f"{_docs_fingerprint(sf_dir)}"
    )
    if key in _INCR_SURV_CACHE:
        return _INCR_SURV_CACHE[key]
    import atexit
    import os
    import shutil
    import tempfile

    cutoff, _sig_path = _incremental_store(spark, sf_dir)
    labels_path = _incremental_cc_store(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    day1_stats = docs.filter(F.col("doc_id") < cutoff).select(
        "doc_id", T.token_count("text").cast("bigint").alias("n_tokens")
    )
    out = tempfile.mkdtemp(prefix="surv_store_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    stats_path = os.path.join(out, "stats.parquet")
    day1_stats.write.mode("overwrite").parquet(stats_path)

    labels = spark.read.parquet(labels_path)
    surv = _pick_survivors(labels, spark.read.parquet(stats_path))
    surv_path = os.path.join(out, "survivors.parquet")
    surv.write.mode("overwrite").parquet(surv_path)
    _INCR_SURV_CACHE[key] = (stats_path, surv_path)
    return _INCR_SURV_CACHE[key]


def _l34_oracle() -> str:
    from datafusion_cyberpolka_eda_spark.operators.dedup import (
        minhash_banded_portable_oracle,
    )

    inner = minhash_banded_portable_oracle(
        n=3, num_hashes=32, bands=8, est_threshold=0.45
    )
    return f"""
    WITH RECURSIVE mh AS (
      {inner}
    ),
    cut AS (
      SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) AS c FROM documents
    ),
    tok AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    opairs AS (
      SELECT id_a, id_b FROM mh
      WHERE id_a < (SELECT c FROM cut) AND id_b < (SELECT c FROM cut)
    ),
    oedges AS (SELECT id_a AS a, id_b AS b FROM opairs
               UNION SELECT id_b, id_a FROM opairs),
    oreach(id, r) AS (
      SELECT a, a FROM oedges
      UNION
      SELECT e.b, o.r FROM oreach o JOIN oedges e ON e.a = o.id
    ),
    olab AS (SELECT id, MIN(r) AS comp FROM oreach GROUP BY id),
    opick AS (
      SELECT l.comp, l.id, t.n_tokens,
             ROW_NUMBER() OVER (PARTITION BY l.comp
               ORDER BY t.n_tokens DESC, l.id ASC) AS rn
      FROM olab l JOIN tok t ON t.doc_id = l.id
    ),
    osurv AS (SELECT comp, id AS picked_id FROM opick WHERE rn = 1),
    fedges AS (SELECT id_a AS a, id_b AS b FROM mh
               UNION SELECT id_b, id_a FROM mh),
    freach(id, r) AS (
      SELECT a, a FROM fedges
      UNION
      SELECT e.b, f.r FROM freach f JOIN fedges e ON e.a = f.id
    ),
    flab AS (SELECT id, MIN(r) AS comp FROM freach GROUP BY id),
    newcomp AS (
      SELECT DISTINCT comp FROM flab WHERE id >= (SELECT c FROM cut)
    ),
    aff AS (SELECT f.id, f.comp FROM flab f JOIN newcomp n ON f.comp = n.comp),
    sizes AS (SELECT comp, COUNT(*) AS n FROM aff GROUP BY comp),
    fpick AS (
      SELECT a.comp, a.id, t.n_tokens,
             ROW_NUMBER() OVER (PARTITION BY a.comp
               ORDER BY t.n_tokens DESC, a.id ASC) AS rn
      FROM aff a JOIN tok t ON t.doc_id = a.id
    )
    SELECT p.comp AS component, s.n AS cluster_size,
           p.id AS picked_id, p.n_tokens AS picked_n_tokens,
           CASE WHEN o.picked_id IS NULL THEN 'new_cluster'
                WHEN o.picked_id <> p.id THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM fpick p
    JOIN sizes s ON s.comp = p.comp
    LEFT JOIN osurv o ON o.comp = p.comp
    WHERE p.rn = 1
    """


@register("l34_incremental_survivors", _l34_oracle())
def l34_incremental_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental canonical-survivor maintenance — the last step of the
    daily dedup loop (l31 pairs -> l33 cluster delta -> WHICH doc now
    survives each affected cluster). Re-picks the longest-member survivor
    (ties to lowest doc_id) for ONLY the components the day-2 increment
    touched; token counts for old members come from the persisted per-doc
    stats store (computed when each doc first arrived — old text is never
    re-read), and the previous survivor store supplies the
    new_cluster / changed / unchanged status per cluster.

    The DuckDB oracle replays everything from scratch (portable MinHash
    pairs, day-1-only + full-graph recursive CC, both window picks) and
    restricts to affected components, so the incremental path — labels,
    picks, AND status transitions — is value-hash-checked against
    from-scratch semantics.

    Scale shape: everything after the (store-bounded) l33 delta is
    proportional to affected-cluster membership; the stats store is an
    append-only ledger keyed by doc_id (bucket it by id for the member
    join); the survivor store is overwritten only on the returned rows."""
    docs = load_table(spark, sf_dir, "documents")
    cutoff, sig_path = _incremental_store(spark, sf_dir)
    labels_path = _incremental_cc_store(spark, sf_dir)
    stats_path, surv_path = _incremental_surv_store(spark, sf_dir)
    store = spark.read.parquet(sig_path)
    old_labels = spark.read.parquet(labels_path)
    new_docs = docs.filter(F.col("doc_id") >= cutoff)
    new_sigs = D.minhash_signatures_portable(
        new_docs, "doc_id", "text", n=3, num_hashes=32, bands=8
    ).localCheckpoint(eager=False)
    new_pairs = (
        D.incremental_minhash_pairs(new_sigs, store, num_hashes=32, est_threshold=0.45)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    updated = D.incremental_components(old_labels, new_pairs, "id_a", "id_b")
    toks = spark.read.parquet(stats_path).unionByName(
        new_docs.select(
            "doc_id", T.token_count("text").cast("bigint").alias("n_tokens")
        )
    )
    pick = _pick_survivors(updated, toks)
    sizes = updated.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    old_surv = spark.read.parquet(surv_path).select(
        "comp", F.col("picked_id").alias("old_picked_id")
    )
    return (
        pick.join(F.broadcast(sizes), "comp")
        .join(old_surv, "comp", "left")
        .select(
            F.col("comp").alias("component"),
            "cluster_size",
            "picked_id",
            "picked_n_tokens",
            F.when(F.col("old_picked_id").isNull(), F.lit("new_cluster"))
            .when(F.col("old_picked_id") != F.col("picked_id"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("status"),
        )
    )


# ---- incremental mixture refresh (l36) ----
# (session, sf_dir, data fingerprint) -> (cutoff, persisted ledger path).
_LEDGER_STORE_CACHE: dict[str, tuple[int, str]] = {}


def _source_ledger_store(spark: SparkSession, sf_dir: str) -> tuple[int, str]:
    """Build ONCE per (session, data) the persisted day-1 corpus LEDGER:
    per-source doc and token totals — the mergeable-exact-aggregate
    analog of d20/d21's sketches (commutative integer sums, so daily
    increments merge register-wise without re-reading old text). Returns
    (cutoff, parquet path)."""
    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:"
        f"{_docs_fingerprint(sf_dir)}"
    )
    if key in _LEDGER_STORE_CACHE:
        return _LEDGER_STORE_CACHE[key]
    import atexit
    import os
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    cutoff = int(0.8 * (max_id + 1))
    ledger = (
        docs.filter(F.col("doc_id") < cutoff)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(T.token_count("text")).cast("bigint").alias("n_tokens"),
        )
    )
    out = tempfile.mkdtemp(prefix="mixture_ledger_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    path = os.path.join(out, "ledger.parquet")
    ledger.write.mode("overwrite").parquet(path)
    _LEDGER_STORE_CACHE[key] = (cutoff, path)
    return _LEDGER_STORE_CACHE[key]


@register(
    "l36_incremental_mixture_refresh",
    """
    WITH cut AS (
      SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) AS c FROM documents
    ),
    s AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN doc_id >= (SELECT c FROM cut)
                           THEN len(string_split(text, ' ')) ELSE 0 END)
                  AS BIGINT) AS inc_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT *, POW(CAST(n_tokens AS DOUBLE), 0.7) AS raw FROM s
    )
    SELECT source, n_docs, n_tokens, inc_tokens,
           ROUND(raw / SUM(raw) OVER (), 6) AS weight,
           ROUND(raw / SUM(raw) OVER () * (SELECT SUM(n_tokens) FROM s), 1)
             AS expected_tokens
    FROM w
    """,
)
def l36_incremental_mixture_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental mixture-weight refresh — the corpus-accounting step of
    the daily loop: a real pipeline recomputes temperature-scaled source
    weights (l27) as the corpus grows, WITHOUT re-tokenizing old text.
    Per-source doc/token totals live in a persisted ledger (exact
    integer sums — the mergeable-aggregate analog of d20/d21's
    sketches); the day-2 increment aggregates only its own docs (the
    >= cutoff predicate is pushed into the scan), merges into the ledger
    with a full-outer coalesce-sum (commutative — a source first seen in
    the increment just appears), and alpha=0.7 weights are recomputed
    from the merged totals. The oracle recomputes everything from the
    full corpus with the same cutoff split, so the merged ledger math is
    value-hash-checked against from-scratch semantics."""
    docs = load_table(spark, sf_dir, "documents")
    cutoff, ledger_path = _source_ledger_store(spark, sf_dir)
    ledger = spark.read.parquet(ledger_path).select(
        "source",
        F.col("n_docs").alias("d1_docs"),
        F.col("n_tokens").alias("d1_tokens"),
    )
    inc = (
        docs.filter(F.col("doc_id") >= cutoff)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("i_docs"),
            F.sum(T.token_count("text")).cast("bigint").alias("i_tokens"),
        )
    )
    merged = (
        ledger.join(inc, "source", "full_outer")
        .select(
            "source",
            (F.coalesce("d1_docs", F.lit(0)) + F.coalesce("i_docs", F.lit(0)))
            .cast("bigint")
            .alias("n_docs"),
            (F.coalesce("d1_tokens", F.lit(0)) + F.coalesce("i_tokens", F.lit(0)))
            .cast("bigint")
            .alias("n_tokens"),
            F.coalesce("i_tokens", F.lit(0)).cast("bigint").alias("inc_tokens"),
        )
    )
    w = merged.withColumn(
        "raw", F.pow(F.col("n_tokens").cast("double"), F.lit(0.7))
    )
    win = Window.partitionBy()
    total_raw = F.sum("raw").over(win)
    total_tokens = F.sum("n_tokens").over(win)
    return w.select(
        "source",
        "n_docs",
        "n_tokens",
        "inc_tokens",
        F.round(F.col("raw") / total_raw, 6).alias("weight"),
        F.round(
            F.col("raw") / total_raw * total_tokens.cast("double"), 1
        ).alias("expected_tokens"),
    )


@register(
    "l35_cluster_safe_split",
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
    comp AS (SELECT id AS doc_id, MIN(r) AS comp FROM reach GROUP BY id),
    lab AS (
      SELECT d.doc_id, d.lang,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt,
             COALESCE(c.comp, d.doc_id) AS canonical_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    b AS (
      SELECT *,
             ('0x' || substr(md5(CAST(canonical_id AS VARCHAR)), 1, 15))::BIGINT
               % 100 AS bucket
      FROM lab
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'validation'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT canonical_id) AS n_clusters,
           CAST(SUM(nt) AS BIGINT) AS n_tokens
    FROM b GROUP BY 1, 2
    """,
)
def l35_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/validation/test split: hash-split by the
    near-dup CLUSTER's canonical id, never the document id, so two
    near-duplicate documents can never land in different splits (the
    classic train/test contamination bug dedup-aware pipelines exist to
    prevent). Docs in no cluster split by their own id; the split is a
    pure function of the portable 60-bit hash of the canonical id
    (80/10/10 by bucket), so it is deterministic, reproducible across
    engines, and stable under corpus growth for untouched clusters.

    The DuckDB oracle recomputes the exact-Jaccard closure (l11's
    recursive CTE), the same md5-derived bucket, and the per-(split,
    lang) doc/cluster/token aggregates — so the entire assignment is
    value-hash-checked, and a pytest asserts zero near-dup pairs straddle
    splits. Scale shape: one CC over (already linear) banded pairs + one
    map-side hash per doc; the aggregation is a plain partial+final
    hash agg on (split, lang)."""
    from datafusion_cyberpolka_eda_spark.functions.hashing import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    comps = D.connected_components(pairs, "id_a", "id_b")
    lab = docs.join(
        comps.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        "lang",
        T.token_count("text").cast("bigint").alias("nt"),
        F.coalesce(F.col("comp"), F.col("doc_id")).alias("canonical_id"),
    )
    bucket = F.pmod(md5_hash64(F.col("canonical_id").cast("string")), F.lit(100))
    return (
        lab.withColumn(
            "split",
            F.when(bucket < 80, F.lit("train"))
            .when(bucket < 90, F.lit("validation"))
            .otherwise(F.lit("test")),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("canonical_id").alias("n_clusters"),
            F.sum("nt").alias("n_tokens"),
        )
    )


# ---- the composed incremental daily pipeline (l37) ----


def _l37_oracle() -> str:
    from datafusion_cyberpolka_eda_spark.operators.dedup import (
        minhash_banded_portable_oracle,
    )

    inner = minhash_banded_portable_oracle(
        n=3, num_hashes=32, bands=8, est_threshold=0.45
    )
    return f"""
    WITH RECURSIVE mh AS (
      {inner}
    ),
    cut AS (
      SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) AS c FROM documents
    ),
    inc AS (SELECT * FROM documents WHERE doc_id >= (SELECT c FROM cut)),
    route AS (
      SELECT CASE WHEN len(string_split(text, ' ')) < 8 THEN 'reject_short'
                  WHEN len(list_distinct(string_split(text, ' '))) * 2
                       < len(string_split(text, ' ')) THEN 'reject_repetitive'
                  ELSE 'accept' END AS sink
      FROM inc
    ),
    npair AS (
      SELECT CASE WHEN id_a >= (SELECT c FROM cut) AND id_b >= (SELECT c FROM cut)
                  THEN 'new_new' ELSE 'new_old' END AS kind
      FROM mh
      WHERE id_a >= (SELECT c FROM cut) OR id_b >= (SELECT c FROM cut)
    ),
    tok AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    opairs AS (
      SELECT id_a, id_b FROM mh
      WHERE id_a < (SELECT c FROM cut) AND id_b < (SELECT c FROM cut)
    ),
    oedges AS (SELECT id_a AS a, id_b AS b FROM opairs
               UNION SELECT id_b, id_a FROM opairs),
    oreach(id, r) AS (
      SELECT a, a FROM oedges
      UNION
      SELECT e.b, o.r FROM oreach o JOIN oedges e ON e.a = o.id
    ),
    olab AS (SELECT id, MIN(r) AS comp FROM oreach GROUP BY id),
    opick AS (
      SELECT l.comp, l.id,
             ROW_NUMBER() OVER (PARTITION BY l.comp
               ORDER BY t.n_tokens DESC, l.id ASC) AS rn
      FROM olab l JOIN tok t ON t.doc_id = l.id
    ),
    osurv AS (SELECT comp, id AS picked_id FROM opick WHERE rn = 1),
    fedges AS (SELECT id_a AS a, id_b AS b FROM mh
               UNION SELECT id_b, id_a FROM mh),
    freach(id, r) AS (
      SELECT a, a FROM fedges
      UNION
      SELECT e.b, f.r FROM freach f JOIN fedges e ON e.a = f.id
    ),
    flab AS (SELECT id, MIN(r) AS comp FROM freach GROUP BY id),
    newcomp AS (
      SELECT DISTINCT comp FROM flab WHERE id >= (SELECT c FROM cut)
    ),
    aff AS (SELECT f.id, f.comp FROM flab f JOIN newcomp n ON f.comp = n.comp),
    member_status AS (
      SELECT a.comp,
             CASE WHEN a.id >= (SELECT c FROM cut) THEN 'new'
                  WHEN o.comp IS NULL THEN 'first_cluster'
                  WHEN o.comp <> a.comp THEN 'relabeled'
                  ELSE 'unchanged' END AS status
      FROM aff a LEFT JOIN olab o ON o.id = a.id
    ),
    fpick AS (
      SELECT a.comp, a.id,
             ROW_NUMBER() OVER (PARTITION BY a.comp
               ORDER BY t.n_tokens DESC, a.id ASC) AS rn
      FROM aff a JOIN tok t ON t.doc_id = a.id
    ),
    surv_status AS (
      SELECT CASE WHEN o.picked_id IS NULL THEN 'new_cluster'
                  WHEN o.picked_id <> p.id THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM fpick p LEFT JOIN osurv o ON o.comp = p.comp
      WHERE p.rn = 1
    )
    SELECT 'route' AS stage, sink AS metric, CAST(COUNT(*) AS BIGINT) AS value
    FROM route GROUP BY sink
    UNION ALL
    SELECT 'pairs', kind, CAST(COUNT(*) AS BIGINT) FROM npair GROUP BY kind
    UNION ALL
    SELECT 'components', status, CAST(COUNT(*) AS BIGINT)
    FROM member_status GROUP BY status
    UNION ALL
    SELECT 'components', 'affected_clusters',
           CAST(COUNT(DISTINCT comp) AS BIGINT) FROM aff
    UNION ALL
    SELECT 'survivors', status, CAST(COUNT(*) AS BIGINT)
    FROM surv_status GROUP BY status
    UNION ALL
    SELECT 'mixture', 'inc_tokens',
           CAST(SUM(CASE WHEN doc_id >= (SELECT c FROM cut)
                         THEN n_tokens ELSE 0 END) AS BIGINT) FROM tok
    UNION ALL
    SELECT 'mixture', 'total_tokens', CAST(SUM(n_tokens) AS BIGINT) FROM tok
    """


@register("l37_incremental_pipeline", _l37_oracle())
def l37_incremental_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE incremental daily pipeline in one call — the
    increment-side counterpart of l23's batch dedup pipeline: the day-2
    shard is quality-routed (j16 rules), near-dup-paired against the
    persisted signature store (l31), merged into the component-label
    store (l33), survivor-re-picked from the stats ledger (l34), and
    accounted into the mixture ledger (l36) — emitting one
    (stage, metric, value) row per per-stage outcome so the whole daily
    run is summarized in a dozen scalars. Every store is the persisted
    day-1 artifact (memoized per session); the increment's text is read
    once per stage group with the pushed >= cutoff predicate, and NO
    stage recomputes the old corpus.

    The DuckDB oracle replays all five stages from scratch in a single
    statement (portable MinHash replay + day-1-only and full recursive
    CC + both window picks + ledger sums), so the composed pipeline —
    not just each stage alone — is value-hash-checked end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    cutoff, sig_path = _incremental_store(spark, sf_dir)
    labels_path = _incremental_cc_store(spark, sf_dir)
    stats_path, surv_path = _incremental_surv_store(spark, sf_dir)
    from datafusion_cyberpolka_eda_spark.streaming.documents import (
        quality_sink_col,
    )

    inc = docs.filter(F.col("doc_id") >= cutoff)
    store = spark.read.parquet(sig_path)
    old_labels = spark.read.parquet(labels_path)

    def rows(stage: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(stage).alias("stage"),
            F.col("metric"),
            F.col("value").cast("bigint").alias("value"),
        )

    route = rows(
        "route",
        inc.select(quality_sink_col().alias("metric"))
        .groupBy("metric")
        .agg(F.count(F.lit(1)).alias("value")),
    )

    new_sigs = D.minhash_signatures_portable(
        inc, "doc_id", "text", n=3, num_hashes=32, bands=8
    ).localCheckpoint(eager=False)
    new_pairs_full = D.incremental_minhash_pairs(
        new_sigs, store, num_hashes=32, est_threshold=0.45
    ).localCheckpoint(eager=False)
    pairs = rows(
        "pairs",
        new_pairs_full.groupBy(F.col("kind").alias("metric")).agg(
            F.count(F.lit(1)).alias("value")
        ),
    )

    new_pairs = new_pairs_full.select("id_a", "id_b")
    updated = D.incremental_components(
        old_labels, new_pairs, "id_a", "id_b"
    ).localCheckpoint(eager=False)
    member_status = updated.join(
        old_labels.select("id", F.col("comp").alias("old_comp")), "id", "left"
    ).select(
        F.when(F.col("id") >= cutoff, F.lit("new"))
        .when(F.col("old_comp").isNull(), F.lit("first_cluster"))
        .when(F.col("old_comp") != F.col("comp"), F.lit("relabeled"))
        .otherwise(F.lit("unchanged"))
        .alias("metric")
    )
    components = rows(
        "components",
        member_status.groupBy("metric").agg(F.count(F.lit(1)).alias("value")),
    ).unionByName(
        rows(
            "components",
            updated.agg(
                F.countDistinct("comp").alias("value")
            ).withColumn("metric", F.lit("affected_clusters")),
        )
    )

    toks = spark.read.parquet(stats_path).unionByName(
        inc.select("doc_id", T.token_count("text").cast("bigint").alias("n_tokens"))
    )
    pick = _pick_survivors(updated, toks)
    old_surv = spark.read.parquet(surv_path).select(
        "comp", F.col("picked_id").alias("old_picked_id")
    )
    survivors = rows(
        "survivors",
        pick.join(old_surv, "comp", "left")
        .select(
            F.when(F.col("old_picked_id").isNull(), F.lit("new_cluster"))
            .when(F.col("old_picked_id") != F.col("picked_id"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("metric")
        )
        .groupBy("metric")
        .agg(F.count(F.lit(1)).alias("value")),
    )

    # totals from the SAME per-doc ledger rows the pick stage used
    # (stats store for day-1 + increment rows): one agg each, no joins
    mixture = rows(
        "mixture",
        inc.agg(F.sum(T.token_count("text")).cast("bigint").alias("value"))
        .withColumn("metric", F.lit("inc_tokens")),
    ).unionByName(
        rows(
            "mixture",
            toks.agg(F.sum("n_tokens").cast("bigint").alias("value"))
            .withColumn("metric", F.lit("total_tokens")),
        )
    )

    return (
        route.unionByName(pairs)
        .unionByName(components)
        .unionByName(survivors)
        .unionByName(mixture)
    )


# ---- incremental cross-snapshot decontamination (l32) ----
# (session, sf_dir, data fingerprint) -> (cutoff, persisted gram-store path).
_DECON_STORE_CACHE: dict[str, tuple[int, str]] = {}

# Increment = the last 40% of doc ids (vs l31's 20%): at the driver's
# sf0.01 sweep scale the 20% tail happens to contain zero contaminated
# docs, which would make the oracle check trivially all-zero; the 40%
# tail contains real hits at every sweep scale, so the incremental path
# is value-checked on nonzero contamination counts.
_L32_CUTOFF_FRAC = 0.6


def _decon_store(spark: SparkSession, sf_dir: str) -> tuple[int, str]:
    """Build ONCE per (session, data) the persisted benchmark gram store —
    the DISTINCT portable 60-bit hashes of every benchmark 5-gram
    (sources src0/src1), written to parquet the way a daily pipeline
    persists its decontamination blocklist — and return (cutoff, path).
    Unlike the dedup signature store (which grows by the daily increment,
    l31), the benchmark store is STATIC between benchmark releases: a new
    benchmark snapshot unions in and distinct-merges, daily document
    increments never touch it. Memoized with the data fingerprint so
    in-session testdata regeneration invalidates it."""
    key = (
        f"{spark.sparkContext.applicationId}:{sf_dir}:"
        f"{_docs_fingerprint(sf_dir)}"
    )
    if key in _DECON_STORE_CACHE:
        return _DECON_STORE_CACHE[key]
    import atexit
    import os
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    cutoff = int(_L32_CUTOFF_FRAC * (max_id + 1))
    bench = (
        _doc_gram_hashes(
            docs.filter(F.col("source").isin("src0", "src1")), n=5
        )
        .select("h")
        .distinct()
    )
    out = tempfile.mkdtemp(prefix="decon_store_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    path = os.path.join(out, "bench_grams.parquet")
    bench.write.mode("overwrite").parquet(path)
    _DECON_STORE_CACHE[key] = (cutoff, path)
    return _DECON_STORE_CACHE[key]


_L32_ORACLE = f"""
    WITH cut AS (
      SELECT CAST(FLOOR({_L32_CUTOFF_FRAC} * (MAX(doc_id) + 1)) AS BIGINT) AS c
      FROM documents
    ),
    d AS (
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
    inc AS (
      SELECT lang, COUNT(*) AS n_docs FROM d
      WHERE source NOT IN ('src0', 'src1')
        AND doc_id >= (SELECT c FROM cut)
      GROUP BY lang
    ),
    hit AS (
      SELECT DISTINCT g.doc_id, g.lang
      FROM g JOIN bench USING (h)
      WHERE g.source NOT IN ('src0', 'src1')
        AND g.doc_id >= (SELECT c FROM cut)
    ),
    hc AS (SELECT lang, COUNT(*) AS n_contaminated FROM hit GROUP BY lang)
    SELECT i.lang,
           CAST(i.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(hc.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           ROUND(COALESCE(hc.n_contaminated, 0) * 1.0 / i.n_docs, 6)
             AS contamination_rate
    FROM inc i LEFT JOIN hc USING (lang)
"""


@register("l32_incremental_decontamination", _L32_ORACLE)
def l32_incremental_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental decontamination — the daily-shape counterpart of l20,
    completing the incremental family (l31 dedup store, l8f IVF-PQ add,
    d20/d21 mergeable sketches): the benchmark's distinct 5-gram hash
    set is PERSISTED once (per benchmark release — _decon_store), and
    each day only the NEW document increment (doc_id >= the
    _L32_CUTOFF_FRAC snapshot cutoff) is tokenized, exploded, and
    probed against the store. The old corpus
    is never re-screened and the benchmark is never re-shingled; a plan
    test pins that every documents scan on the steady-state path carries
    the pushed increment predicate.

    Because contamination is a per-document property (shares ANY 5-gram
    with the static benchmark set), the increment screen equals the
    full-corpus screen (l20) restricted to increment docs — which is
    exactly what the DuckDB oracle computes (full tokenize/hash/contain
    replay + cutoff restriction), so the incremental path is
    value-hash-checked against the from-scratch semantics.

    100 TB design: the gram store is benchmark-sized (MBs — broadcasts),
    the daily scan is increment-sized, and the probe is the same
    all-map-side broadcast semi-join as l20; only (lang, doc) survivors
    shuffle. Steady-state daily cost tracks |increment|, independent of
    corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    cutoff, store_path = _decon_store(spark, sf_dir)
    bench = spark.read.parquet(store_path)
    inc = docs.filter(
        (F.col("doc_id") >= cutoff)
        & ~F.col("source").isin("src0", "src1")
    )
    hits = (
        _doc_gram_hashes(inc, n=5)
        .join(F.broadcast(bench), "h", "left_semi")
        .select("doc_id", "lang")
        .distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    n_docs = inc.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return n_docs.join(hits, "lang", "left").select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.coalesce("n_contaminated", F.lit(0)).cast("bigint").alias(
            "n_contaminated"
        ),
        F.round(
            F.coalesce("n_contaminated", F.lit(0)) * 1.0 / F.col("n_docs"), 6
        ).alias("contamination_rate"),
    )


# ---- takedown propagation (l38) ----


def _l38_oracle() -> str:
    from datafusion_cyberpolka_eda_spark.operators.dedup import (
        minhash_banded_portable_oracle,
    )

    inner = minhash_banded_portable_oracle(
        n=3, num_hashes=32, bands=8, est_threshold=0.45
    )
    return f"""
    WITH RECURSIVE mh AS (
      {inner}
    ),
    cut AS (
      SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) AS c FROM documents
    ),
    opairs AS MATERIALIZED (
      SELECT id_a, id_b FROM mh
      WHERE id_a < (SELECT c FROM cut) AND id_b < (SELECT c FROM cut)
    ),
    oedges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM opairs
               UNION SELECT id_b, id_a FROM opairs),
    oreach(id, r) AS (
      SELECT a, a FROM oedges
      UNION
      SELECT e.b, o.r FROM oreach o JOIN oedges e ON e.a = o.id
    ),
    olab AS MATERIALIZED (SELECT id, MIN(r) AS comp FROM oreach GROUP BY id),
    removed AS MATERIALIZED (SELECT id FROM olab WHERE id % 7 = 3),
    aff AS (SELECT DISTINCT comp FROM olab WHERE id % 7 = 3),
    members AS MATERIALIZED (
      SELECT o.id, o.comp FROM olab o JOIN aff a ON a.comp = o.comp),
    remaining AS MATERIALIZED (
      SELECT m.id, m.comp FROM members m
      WHERE m.id NOT IN (SELECT id FROM removed)
    ),
    rpairs AS (
      SELECT p.id_a, p.id_b FROM opairs p
      JOIN remaining ra ON ra.id = p.id_a
      JOIN remaining rb ON rb.id = p.id_b
    ),
    redges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM rpairs
               UNION SELECT id_b, id_a FROM rpairs),
    rreach(id, r) AS (
      SELECT a, a FROM redges
      UNION
      SELECT e.b, x.r FROM rreach x JOIN redges e ON e.a = x.id
    ),
    rlab AS MATERIALIZED (SELECT id, MIN(r) AS comp FROM rreach GROUP BY id),
    surv AS MATERIALIZED (
      SELECT m.id, m.comp AS old_comp, COALESCE(r.comp, m.id) AS new_comp
      FROM remaining m LEFT JOIN rlab r ON r.id = m.id
    ),
    sizes AS (SELECT new_comp, COUNT(*) AS n FROM surv GROUP BY new_comp)
    SELECT s.id AS doc_id, s.old_comp AS old_component,
           s.new_comp AS new_component,
           CASE WHEN s.new_comp <> s.old_comp THEN 'relabeled'
                ELSE 'unchanged' END AS status,
           z.n AS new_cluster_size
    FROM surv s JOIN sizes z ON z.new_comp = s.new_comp
    UNION ALL
    SELECT m.id, m.comp, NULL, 'removed', NULL
    FROM members m JOIN removed r ON r.id = m.id
    """


@register("l38_takedown_propagation", _l38_oracle())
def l38_takedown_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown / right-to-be-forgotten propagation — the DELETE half of
    the incremental-dedup CRUD story (l31/l33 cover inserts). A takedown
    batch (modeled as the clustered day-1 docs with doc_id % 7 == 3 — a
    deterministic stand-in for a request list) is removed from the
    persisted stores, and every cluster that contained one is re-derived
    over its remaining members via dedup.takedown_components: affected-
    component pull -> day-1 edge-list slice -> bounded CC. Deletion can
    SPLIT clusters (the removed doc may have been the only bridge) and
    retire labels (comp = min member id), so survivors carry
    relabeled/unchanged statuses and removed docs emit tombstone rows
    the store write-back turns into deletes.

    Old text is never re-read: connectivity is rebuilt purely from the
    day-1 edge list persisted beside the label store (dedup.edges_among,
    two broadcast semi-joins — a plan test pins the no-documents-scan
    shape).
    The DuckDB oracle replays from scratch: full-corpus portable MinHash,
    day-1 CC, drop the removed set, re-run CC over the remaining members
    of affected components — the incremental path must reproduce
    from-scratch delete semantics exactly, statuses and sizes included.

    Scale shape: cost tracks |request| + |affected components|, never
    |corpus| — the daily takedown job at 100 TB touches a few thousand
    clusters, not the store."""
    labels = spark.read.parquet(_incremental_cc_store(spark, sf_dir))
    edges = spark.read.parquet(_incremental_cc_edges(spark, sf_dir))
    removed = labels.filter(F.col("id") % 7 == 3).select("id")
    delta = D.takedown_components(
        labels, removed, lambda members: D.edges_among(edges, members)
    )
    sizes = (
        delta.filter(F.col("comp").isNotNull())
        .groupBy("comp")
        .agg(F.count(F.lit(1)).alias("new_cluster_size"))
    )
    return delta.join(F.broadcast(sizes), "comp", "left").select(
        F.col("id").alias("doc_id"),
        F.col("old_comp").alias("old_component"),
        F.col("comp").alias("new_component"),
        F.when(F.col("comp").isNull(), F.lit("removed"))
        .when(F.col("comp") != F.col("old_comp"), F.lit("relabeled"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        "new_cluster_size",
    )


# ---- corpus drift monitoring (l39) ----


_L39_ORACLE = """
WITH cut AS (
  SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) AS c FROM documents
),
base AS (
  SELECT doc_id < (SELECT c FROM cut) AS day1,
         lang, source,
         CAST(LEAST(n_chars // 64, 8) AS VARCHAR) AS len_band,
         CAST(LEAST(len(string_split(text, ' ')) // 16, 6) AS VARCHAR) AS tok_band
  FROM documents
),
long AS (
  SELECT 'lang' AS feature, lang AS bucket, day1 FROM base
  UNION ALL SELECT 'source', source, day1 FROM base
  UNION ALL SELECT 'len_band', len_band, day1 FROM base
  UNION ALL SELECT 'tok_band', tok_band, day1 FROM base
),
counts AS (
  SELECT feature, bucket,
         SUM(CASE WHEN day1 THEN 1 ELSE 0 END) AS day1_n,
         SUM(CASE WHEN day1 THEN 0 ELSE 1 END) AS day2_n
  FROM long GROUP BY 1, 2
),
sm AS (
  SELECT feature, bucket, day1_n, day2_n,
         (day1_n + 1.0) / (SUM(day1_n) OVER (PARTITION BY feature)
                           + COUNT(*) OVER (PARTITION BY feature)) AS p,
         (day2_n + 1.0) / (SUM(day2_n) OVER (PARTITION BY feature)
                           + COUNT(*) OVER (PARTITION BY feature)) AS q
  FROM counts
),
c2 AS (
  SELECT feature, bucket, day1_n, day2_n, (p - q) * ln(p / q) AS contrib FROM sm
)
SELECT feature, bucket,
       CAST(day1_n AS BIGINT) AS day1_n,
       CAST(day2_n AS BIGINT) AS day2_n,
       ROUND(contrib, 6) AS psi_contrib,
       ROUND(SUM(contrib) OVER (PARTITION BY feature), 6) AS psi
FROM c2
"""


def psi_feature_buckets(docs: DataFrame, *extra_cols) -> DataFrame:
    """The l39/j19 shared 4-feature unpivot: one explode turns each doc
    row into (feature, bucket) rows for lang, source, banded n_chars and
    banded token count. ``extra_cols`` (aliased Columns) ride along."""
    sel = docs.select(
        *extra_cols,
        F.explode(
            F.array(
                F.struct(
                    F.lit("lang").alias("feature"), F.col("lang").alias("bucket")
                ),
                F.struct(
                    F.lit("source").alias("feature"),
                    F.col("source").alias("bucket"),
                ),
                F.struct(
                    F.lit("len_band").alias("feature"),
                    F.least(F.floor(F.col("n_chars") / 64), F.lit(8))
                    .cast("string")
                    .alias("bucket"),
                ),
                F.struct(
                    F.lit("tok_band").alias("feature"),
                    F.least(F.floor(T.token_count("text") / 16), F.lit(6))
                    .cast("string")
                    .alias("bucket"),
                ),
            )
        ).alias("fb"),
    )
    names = [f.name for f in sel.schema.fields if f.name != "fb"]
    return sel.select(*names, "fb.feature", "fb.bucket")


def psi_from_counts(counts: DataFrame) -> DataFrame:
    """Fold (feature, bucket, day1_n, day2_n) EXACT integer counts into
    the PSI output shape (add-one smoothing over the union bucket set,
    per-bucket contributions + per-feature PSI, 6 dp). Shared by l39
    (batch) and j19 (streaming merge) — the float math runs once, on
    identical merged integers, so both paths hash identically."""
    w = Window.partitionBy("feature")
    k = F.count(F.lit(1)).over(w)
    p = (F.col("day1_n") + 1.0) / (F.sum("day1_n").over(w) + k)
    q = (F.col("day2_n") + 1.0) / (F.sum("day2_n").over(w) + k)
    contrib = (p - q) * F.log(p / q)
    return counts.withColumn("contrib", contrib).select(
        "feature",
        "bucket",
        "day1_n",
        "day2_n",
        F.round("contrib", 6).alias("psi_contrib"),
        F.round(F.sum("contrib").over(w), 6).alias("psi"),
    )


@register("l39_psi_drift", _L39_ORACLE)
def l39_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor between the day-1 corpus
    and the day-2 increment (same 80% doc_id cutoff as the incremental
    family) — the daily distribution check a training-data pipeline runs
    before admitting an increment: a shifted source mix, language mix, or
    length profile upstream shows up here before it skews the mixture
    weights (l27/l36) or quality gates.

    Four monitored features — lang and source (categorical) plus banded
    n_chars and whitespace-token counts — are unpivoted via ONE explode
    over a single documents scan, counted per (feature, bucket) in one
    shuffle, then smoothed Laplace-style (add-one over the union bucket
    set, so buckets present on only one side stay finite) and folded into
    PSI = sum (p-q)*ln(p/q) with per-bucket contributions exposed.
    Rule-of-thumb thresholds (<0.1 stable, >0.25 action) apply per
    feature row.

    Scale shape: one scan + one (feature, bucket) shuffle whose
    cardinality is buckets (tiny), not rows; window partitions are
    per-feature bucket lists — O(10) rows each. Exact integer counts;
    doubles rounded to 6 dp on both sides (registry float convention)."""
    docs = load_table(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    cutoff = int(0.8 * (max_id + 1))
    base = psi_feature_buckets(
        docs, (F.col("doc_id") < cutoff).alias("day1")
    )
    counts = base.groupBy("feature", "bucket").agg(
        F.sum(F.when(F.col("day1"), 1).otherwise(0)).alias("day1_n"),
        F.sum(F.when(~F.col("day1"), 1).otherwise(0)).alias("day2_n"),
    )
    return psi_from_counts(counts)


# ---- composed takedown pipeline (l40) ----


def _l40_oracle() -> str:
    from datafusion_cyberpolka_eda_spark.operators.dedup import (
        minhash_banded_portable_oracle,
    )

    inner = minhash_banded_portable_oracle(
        n=3, num_hashes=32, bands=8, est_threshold=0.45
    )
    return f"""
    WITH RECURSIVE mh AS (
      {inner}
    ),
    cut AS (
      SELECT CAST(FLOOR(0.8 * (MAX(doc_id) + 1)) AS BIGINT) AS c FROM documents
    ),
    tok AS MATERIALIZED (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    opairs AS MATERIALIZED (
      SELECT id_a, id_b FROM mh
      WHERE id_a < (SELECT c FROM cut) AND id_b < (SELECT c FROM cut)
    ),
    oedges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM opairs
               UNION SELECT id_b, id_a FROM opairs),
    oreach(id, r) AS (
      SELECT a, a FROM oedges
      UNION
      SELECT e.b, o.r FROM oreach o JOIN oedges e ON e.a = o.id
    ),
    olab AS MATERIALIZED (SELECT id, MIN(r) AS comp FROM oreach GROUP BY id),
    removed AS MATERIALIZED (SELECT id FROM olab WHERE id % 7 = 3),
    aff AS (SELECT DISTINCT comp FROM olab WHERE id % 7 = 3),
    members AS MATERIALIZED (SELECT o.id, o.comp FROM olab o JOIN aff a ON a.comp = o.comp),
    remaining AS MATERIALIZED (
      SELECT m.id, m.comp FROM members m
      WHERE m.id NOT IN (SELECT id FROM removed)
    ),
    rpairs AS (
      SELECT p.id_a, p.id_b FROM opairs p
      JOIN remaining ra ON ra.id = p.id_a
      JOIN remaining rb ON rb.id = p.id_b
    ),
    redges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM rpairs
               UNION SELECT id_b, id_a FROM rpairs),
    rreach(id, r) AS (
      SELECT a, a FROM redges
      UNION
      SELECT e.b, x.r FROM rreach x JOIN redges e ON e.a = x.id
    ),
    rlab AS MATERIALIZED (SELECT id, MIN(r) AS comp FROM rreach GROUP BY id),
    surv AS MATERIALIZED (
      SELECT m.id, m.comp AS old_comp, COALESCE(r.comp, m.id) AS new_comp
      FROM remaining m LEFT JOIN rlab r ON r.id = m.id
    ),
    opick AS (
      SELECT l.comp, l.id,
             ROW_NUMBER() OVER (PARTITION BY l.comp
               ORDER BY t.n_tokens DESC, l.id ASC) AS rn
      FROM olab l JOIN tok t ON t.doc_id = l.id
    ),
    osurv AS MATERIALIZED (SELECT comp, id AS picked_id FROM opick WHERE rn = 1),
    npick AS (
      SELECT s.new_comp, s.old_comp, s.id, t.n_tokens,
             ROW_NUMBER() OVER (PARTITION BY s.new_comp
               ORDER BY t.n_tokens DESC, s.id ASC) AS rn
      FROM surv s JOIN tok t ON t.doc_id = s.id
    ),
    nsurv AS MATERIALIZED (
      SELECT new_comp, old_comp, id AS picked_id, n_tokens
      FROM npick WHERE rn = 1
    ),
    remtok AS MATERIALIZED (
      SELECT r.id, t.n_tokens, d.source
      FROM removed r
      JOIN tok t ON t.doc_id = r.id
      JOIN documents d ON d.doc_id = r.id
    )
    SELECT 'request' AS stage, 'n_removed' AS metric,
           CAST((SELECT COUNT(*) FROM removed) AS BIGINT) AS value
    UNION ALL SELECT 'request', 'n_affected_clusters',
           CAST((SELECT COUNT(*) FROM aff) AS BIGINT)
    UNION ALL SELECT 'components', 'survivor_rows',
           CAST((SELECT COUNT(*) FROM surv) AS BIGINT)
    UNION ALL SELECT 'components', 'relabeled',
           CAST((SELECT COUNT(*) FROM surv WHERE new_comp <> old_comp) AS BIGINT)
    UNION ALL SELECT 'components', 'unchanged',
           CAST((SELECT COUNT(*) FROM surv WHERE new_comp = old_comp) AS BIGINT)
    UNION ALL SELECT 'components', 'clusters_after',
           CAST((SELECT COUNT(DISTINCT new_comp) FROM surv) AS BIGINT)
    UNION ALL SELECT 'survivors', 'picks',
           CAST((SELECT COUNT(*) FROM nsurv) AS BIGINT)
    UNION ALL SELECT 'survivors', 'picks_changed',
           CAST((SELECT COUNT(*) FROM nsurv n
                 JOIN osurv o ON o.comp = n.old_comp
                 WHERE n.picked_id <> o.picked_id) AS BIGINT)
    UNION ALL SELECT 'survivors', 'picked_tokens_total',
           CAST((SELECT COALESCE(SUM(n_tokens), 0) FROM nsurv) AS BIGINT)
    UNION ALL SELECT 'ledger', 'tokens_removed',
           CAST((SELECT COALESCE(SUM(n_tokens), 0) FROM remtok) AS BIGINT)
    UNION ALL SELECT 'ledger', 'sources_touched',
           CAST((SELECT COUNT(DISTINCT source) FROM remtok) AS BIGINT)
    """


def _takedown_ledger_rows(
    docs: DataFrame, removed: DataFrame, stats: DataFrame
) -> DataFrame:
    """Ledger decrement rows for a takedown batch: (doc_id, n_tokens,
    source) per removed doc. Token counts come from the persisted stats
    ledger; the ONLY documents access is a column-pruned
    (doc_id, source) broadcast side — the text column must never appear
    in the scan's ReadSchema (pinned by tests/test_takedown.py)."""
    srcs = docs.select("doc_id", "source")
    return (
        removed.withColumnRenamed("id", "doc_id")
        .join(stats, "doc_id")
        .join(F.broadcast(srcs), "doc_id")
    )


@register("l40_takedown_pipeline", _l40_oracle())
def l40_takedown_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE takedown pipeline in one call — the delete-side
    counterpart of l37's incremental daily pipeline: a removal batch
    (clustered day-1 docs with doc_id % 7 == 3, the l38 request stand-in)
    is propagated through every persisted store — component re-derivation
    over remaining members (l38), survivor re-pick for affected clusters
    from the stats ledger (the removed doc may BE the survivor), and
    corpus-ledger decrement accounting (docs/tokens/sources removed) —
    emitting one (stage, metric, value) row per outcome.

    No-rescan contract: connectivity is sliced purely from the persisted
    day-1 edge list and token counts come from the stats ledger; the
    ONLY documents access is a column-pruned (doc_id, source) read for
    the ledger stage
    — the text column is never scanned (a plan test pins the pruned
    ReadSchema).

    The DuckDB oracle replays all stages from scratch in one statement
    (portable MinHash, day-1 CC, takedown CC over remaining members, both
    window picks, ledger sums), so the composed delete flow — not just
    l38 alone — is value-hash-checked end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    stats_path, surv_path = _incremental_surv_store(spark, sf_dir)
    labels = spark.read.parquet(_incremental_cc_store(spark, sf_dir))
    edges = spark.read.parquet(_incremental_cc_edges(spark, sf_dir))
    removed = labels.filter(F.col("id") % 7 == 3).select("id")
    delta = D.takedown_components(
        labels, removed, lambda members: D.edges_among(edges, members)
    ).localCheckpoint(eager=False)
    surv = delta.filter(F.col("comp").isNotNull())

    def rows(stage: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(stage).alias("stage"),
            F.col("metric"),
            F.col("value").cast("bigint").alias("value"),
        )

    def scalar(stage: str, metric: str, agg_df: DataFrame) -> DataFrame:
        return rows(stage, agg_df.withColumn("metric", F.lit(metric)))

    request = scalar(
        "request", "n_removed", removed.agg(F.count(F.lit(1)).alias("value"))
    ).unionByName(
        scalar(
            "request",
            "n_affected_clusters",
            labels.join(F.broadcast(removed), "id")
            .agg(F.countDistinct("comp").alias("value")),
        )
    )

    components = (
        scalar("components", "survivor_rows", surv.agg(F.count(F.lit(1)).alias("value")))
        .unionByName(
            scalar(
                "components",
                "relabeled",
                surv.filter(F.col("comp") != F.col("old_comp"))
                .agg(F.count(F.lit(1)).alias("value")),
            )
        )
        .unionByName(
            scalar(
                "components",
                "unchanged",
                surv.filter(F.col("comp") == F.col("old_comp"))
                .agg(F.count(F.lit(1)).alias("value")),
            )
        )
        .unionByName(
            scalar(
                "components",
                "clusters_after",
                surv.agg(F.countDistinct("comp").alias("value")),
            )
        )
    )

    stats = spark.read.parquet(stats_path)
    picks = _pick_survivors(surv.select("id", "comp"), stats)
    parent = surv.select("comp", "old_comp").distinct()
    old_surv = spark.read.parquet(surv_path).select(
        F.col("comp").alias("old_comp"), F.col("picked_id").alias("old_picked_id")
    )
    picks_j = picks.join(F.broadcast(parent), "comp").join(
        F.broadcast(old_surv), "old_comp", "left"
    ).localCheckpoint(eager=False)
    survivors = (
        scalar("survivors", "picks", picks_j.agg(F.count(F.lit(1)).alias("value")))
        .unionByName(
            scalar(
                "survivors",
                "picks_changed",
                picks_j.filter(F.col("picked_id") != F.col("old_picked_id"))
                .agg(F.count(F.lit(1)).alias("value")),
            )
        )
        .unionByName(
            scalar(
                "survivors",
                "picked_tokens_total",
                picks_j.agg(
                    F.coalesce(F.sum("picked_n_tokens"), F.lit(0)).alias("value")
                ),
            )
        )
    )

    remtok = _takedown_ledger_rows(docs, removed, stats).localCheckpoint(
        eager=False
    )
    ledger = scalar(
        "ledger",
        "tokens_removed",
        remtok.agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("value")),
    ).unionByName(
        scalar(
            "ledger",
            "sources_touched",
            remtok.agg(F.countDistinct("source").alias("value")),
        )
    )

    return request.unionByName(components).unionByName(survivors).unionByName(ledger)
