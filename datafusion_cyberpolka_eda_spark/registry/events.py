"""Event-table queries: JSON scalar extraction (SURVEY.md §2 family I
extension — the reference uses no JSON; the driver's events.props is a JSON
string), event-time tumbling windows and sessionization (family J,
north-star extension), including a true Structured Streaming variant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.registry import _dec_sum, register
from datafusion_cyberpolka_eda_spark.registry.llm_incremental import _L39_ORACLE
from datafusion_cyberpolka_eda_spark.sources.catalog import load_table
from datafusion_cyberpolka_eda_spark.streaming.events import (
    session_stats,
    stream_tumbling_window_agg,
    tumbling_window_agg,
)


_SCRATCH_CLEANUP_REGISTERED: set[str] = set()


def _scratch_dir(spark: SparkSession, name: str, sf_dir: str) -> str:
    """Per-(session, entry, scale-factor) streaming scratch root under
    the repo .scratch/: keyed by applicationId so two concurrent
    sessions on the same checkout and SF cannot rmtree each other's
    streaming source/output dirs mid-run (r10 advice). The session's
    appId root is atexit-removed — same pattern as the tempfile store
    dirs — so repeated sessions don't leak disk unboundedly under
    .scratch (r11 advice)."""
    import atexit
    import os
    import shutil

    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    app_id = spark.sparkContext.applicationId
    root = os.path.join(repo, ".scratch", app_id)
    if app_id not in _SCRATCH_CLEANUP_REGISTERED:
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_CLEANUP_REGISTERED.add(app_id)
    sf = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    return os.path.join(root, f"{name}_{sf}")


@register(
    "i1_json_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def i1_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from a string column (family I; north-star —
    `F.get_json_object` stays JVM-side, no UDF)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


_TUMBLING_ORACLE = """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
"""


@register("j1_tumbling_window", _TUMBLING_ORACLE)
def j1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-aligned tumbling event-time window aggregation (family J).
    F.window('1 day') boundaries coincide with date_trunc('day') — the
    oracle checks that alignment. Output as strings (session-TZ-proof)."""
    e = load_table(spark, sf_dir, "events")
    return tumbling_window_agg(e, window="1 day")


@register("j2_streaming_tumbling_window", _TUMBLING_ORACLE)
def j2_streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling aggregation executed through Structured Streaming
    (readStream -> windowed agg -> complete-mode memory sink, drained
    synchronously). Must hash-match the batch oracle — streaming and batch
    share one logical plan."""
    import os

    return stream_tumbling_window_agg(
        spark, os.path.join(sf_dir, "events.parquet"), window="1 day"
    )


@register(
    "j3_sessionize",
    """
    WITH l AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                  OR LAG(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    )
    SELECT user_id,
           CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM l GROUP BY user_id
    """,
)
def j3_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) via lag + running
    sum, partitioned by user (family J; the batch analog of
    session_window). One shuffle on user_id; no global ordering."""
    e = load_table(spark, sf_dir, "events")
    return session_stats(e, gap_seconds=1800)


@register(
    "j8_watermark_append",
    """
    WITH wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= (SELECT w FROM wm)
    GROUP BY 1, 2
    """,
)
def j8_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + append-mode emission (the late-data lifecycle, family
    J): only windows the final watermark (max ts - 1 h) has closed reach
    the sink; the still-open last day stays in state. The oracle pins that
    exact closed-window set — so the watermark semantics themselves are
    hash-checked, not just the aggregation."""
    import os

    from datafusion_cyberpolka_eda_spark.streaming.events import (
        stream_windowed_append_with_watermark,
    )

    return stream_windowed_append_with_watermark(
        spark, os.path.join(sf_dir, "events.parquet"), window="1 day", delay="1 hour"
    )


@register(
    "j10_stream_static_join",
    """
    SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           c.c_mktsegment,
           COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def j10_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (the canonical streaming-ETL shape):
    the event stream joins the broadcast customer dimension per
    micro-batch, then aggregates event-time day windows per market
    segment. The file stream drains in one pass, so the emitted windows
    must equal the batch join+groupBy — the oracle. Streaming twin of the
    batch dimension joins (c1); no state beyond the windowed agg."""
    import os as _os

    from datafusion_cyberpolka_eda_spark.streaming.events import (
        stream_static_enrich_agg,
    )

    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return stream_static_enrich_agg(
        spark,
        _os.path.join(sf_dir, "events.parquet"),
        dim,
        stream_key="user_id",
        dim_key="c_custkey",
        seg_col="c_mktsegment",
        window="1 day",
    )


@register(
    "j11_foreachbatch_sink",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
)
def j11_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch custom-sink pattern: 4 forced micro-batches append
    per-epoch DECIMAL partial aggregates to a parquet target; the rollup
    of partials must equal the direct batch aggregation (the oracle) —
    proving the incremental sink loses nothing across epochs."""
    import os as _os

    from datafusion_cyberpolka_eda_spark.streaming.events import (
        stream_foreachbatch_incremental,
    )

    scratch = _scratch_dir(spark, "j11", sf_dir)
    return stream_foreachbatch_incremental(
        spark, _os.path.join(sf_dir, "events.parquet"), scratch
    )


@register(
    "j12_stream_stream_join",
    """
    SELECT v.user_id,
           COUNT(*) AS n_attributed_pairs
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    GROUP BY v.user_id
    """,
)
def j12_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (attribution: purchase within 30 min
    of a view, same user) — both sides unbounded and watermarked, the
    time-interval condition bounding join state. Sources drain in one
    pass so emitted pairs must equal the batch interval join (oracle)."""
    import os as _os

    from datafusion_cyberpolka_eda_spark.streaming.events import (
        stream_stream_interval_join,
    )

    return stream_stream_interval_join(
        spark, _os.path.join(sf_dir, "events.parquet")
    )


@register(
    "j13_stream_session_window",
    """
    WITH l AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN LAG(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - LAG(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM l
    ),
    agg AS (
      SELECT user_id, sid,
             MIN(ts) AS session_start, MAX(ts) AS last_ts,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM s GROUP BY user_id, sid
    ),
    wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT user_id,
           strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           n_events, total_value
    FROM agg WHERE last_ts + INTERVAL 30 MINUTE <= (SELECT w FROM wm)
    """,
)
def j13_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION windows (F.session_window + watermark, append
    mode) — the stateful-merge window surface: sessions extend/merge
    while events arrive within the 30-min gap and emit once when the
    watermark (max ts - 1 h) closes them. The oracle replays gap
    sessionization in batch SQL (splitting on diff > gap — an event at
    exactly last_ts + gap MERGES; the inclusive boundary is pinned by
    TestSessionWindowBoundary) and keeps exactly the closed sessions, so
    both the session semantics AND the append-mode emission rule are
    hash-checked."""
    import os as _os

    from datafusion_cyberpolka_eda_spark.streaming.events import (
        stream_session_window_agg,
    )

    return stream_session_window_agg(
        spark, _os.path.join(sf_dir, "events.parquet"), gap="30 minutes",
        delay="1 hour",
    )


@register(
    "j9_stream_dedup_watermark",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def j9_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with watermark-bounded state
    (dropDuplicatesWithinWatermark) — the streaming twin of batch exact
    dedup (l1): emits each (user_id, event_type) key once, evicts key
    state as the watermark advances. With the file source drained in one
    pass the emitted key set must equal batch DISTINCT, which is the
    oracle."""
    import os as _os

    from datafusion_cyberpolka_eda_spark.streaming.events import (
        stream_dedup_within_watermark,
    )

    return stream_dedup_within_watermark(
        spark, _os.path.join(sf_dir, "events.parquet"), delay="1 hour"
    )


@register(
    "j6_stateful_stream_rollup",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
)
def j6_stateful_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running (count, total) held in explicit group state, drained through a
    memory sink — and it must equal the batch SQL aggregate, which is the
    oracle. State keeps money as integer cents for order-proof exactness."""
    import os as _os

    from datafusion_cyberpolka_eda_spark.streaming.events import (
        stream_stateful_user_rollup,
    )

    return stream_stateful_user_rollup(
        spark, _os.path.join(sf_dir, "events.parquet")
    )


@register(
    "j14_checkpoint_recovery",
    """
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def j14_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop/restart recovery from a persistent checkpoint (streaming
    family J's operational surface): phase 1 aggregates half the events
    and stops; phase 2 restarts the SAME checkpoint over only the new
    files. The oracle is the batch aggregate over ALL events — phase 2
    can only match it if both the source offset log and the aggregation
    state store were recovered (nothing re-reads batch A)."""
    import os as _os

    from datafusion_cyberpolka_eda_spark.streaming.events import (
        stream_checkpoint_recovery_rollup,
    )

    return stream_checkpoint_recovery_rollup(
        spark, _os.path.join(sf_dir, "events.parquet")
    )


def _j15_oracle() -> str:
    # the streaming path must reproduce the batch incremental answer,
    # which equals the full-corpus banded pair set restricted to >= 1
    # new id — l31's oracle, verbatim
    from datafusion_cyberpolka_eda_spark.registry.llm_incremental import _l31_oracle

    return _l31_oracle()


@register("j15_stream_incremental_dedup", _j15_oracle())
def j15_stream_incremental_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming incremental dedup — the continuous-ingest shape of l31:
    the day-2 document increment arrives as 3 forced micro-batches; each
    epoch shingles only its batch, joins bands against the persisted
    day-1 store plus previously-streamed signatures, emits near-dup
    pairs, and appends its own signatures (store grows by the epoch's
    rows). The accumulated pair set must equal the BATCH incremental
    answer — l31's full-corpus-replay oracle, so the epoch-at-a-time
    path is value-hash-checked against from-scratch semantics."""

    from datafusion_cyberpolka_eda_spark.registry.llm_incremental import (
        _incremental_store,
    )
    from datafusion_cyberpolka_eda_spark.sources.catalog import load_table
    from datafusion_cyberpolka_eda_spark.streaming.documents import (
        stream_incremental_dedup,
    )

    cutoff, store_path = _incremental_store(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    scratch = _scratch_dir(spark, "j15", sf_dir)
    return stream_incremental_dedup(
        spark,
        docs.filter(F.col("doc_id") >= cutoff),
        store_path,
        scratch,
        cutoff,
    )


@register(
    "j16_stream_quality_routing",
    """
    WITH c AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS ndis
      FROM documents
    ),
    r AS (
      SELECT lang, ntok,
             CASE WHEN ntok < 8 THEN 'reject_short'
                  WHEN ndis * 2 < ntok THEN 'reject_repetitive'
                  ELSE 'accept' END AS sink
      FROM c
    )
    SELECT sink, lang, COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens
    FROM r GROUP BY 1, 2
    """,
)
def j16_stream_quality_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest quality gate: documents arrive as forced
    micro-batches and each epoch routes every doc to exactly one of
    three parquet sinks (accept / reject_short / reject_repetitive) with
    a JVM-side integer-exact rule set. The per-(sink, lang) rollup of
    the sinks must equal the batch classification of the whole corpus
    (the oracle) — no doc lost, duplicated, or mis-routed across
    epochs. The continuous-ingest front door of the training-data
    pipeline (the accepted sink feeds l31's incremental dedup)."""

    from datafusion_cyberpolka_eda_spark.sources.catalog import load_table
    from datafusion_cyberpolka_eda_spark.streaming.documents import (
        stream_quality_routing,
    )

    docs = load_table(spark, sf_dir, "documents")
    scratch = _scratch_dir(spark, "j16", sf_dir)
    return stream_quality_routing(spark, docs, scratch)


def _j17_oracle() -> str:
    # sequential epoch takedowns must reproduce the one-shot batch
    # answer — l38's from-scratch replay oracle, verbatim
    from datafusion_cyberpolka_eda_spark.registry.llm_incremental import _l38_oracle

    return _l38_oracle()


@register("j17_stream_takedown", _j17_oracle())
def j17_stream_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming takedown propagation — the continuous-request shape of
    l38: the removal list arrives as 3 forced micro-batches; each epoch
    re-derives only the day-1 components its requests touch (earlier
    epochs' tombstones counted as gone), slices their edges from the
    day-1 edge list persisted beside the label store, and commits one
    epoch-keyed label delta. Because deletion only splits components
    and labels are min member ids, sequential application is
    order-independent and the final store equals the one-shot batch
    takedown — so the rollup is value-hash-checked against l38's
    from-scratch DuckDB replay."""

    from datafusion_cyberpolka_eda_spark.registry.llm_incremental import (
        _incremental_cc_edges,
        _incremental_cc_store,
    )
    from datafusion_cyberpolka_eda_spark.streaming.documents import (
        stream_takedown,
    )

    labels_path = _incremental_cc_store(spark, sf_dir)
    requests = (
        spark.read.parquet(labels_path)
        .filter(F.col("id") % 7 == 3)
        .select("id")
    )
    scratch = _scratch_dir(spark, "j17", sf_dir)
    return stream_takedown(
        spark, requests, labels_path, _incremental_cc_edges(spark, sf_dir),
        scratch,
    )


def _j18_oracle() -> str:
    # streamed chunk accumulation must equal the batch chunking of the
    # whole corpus — l45's oracle, verbatim
    from datafusion_cyberpolka_eda_spark import registry as _r

    return _r.oracle_sql()["l45_doc_chunking"]


@register("j18_stream_chunking", _j18_oracle())
def j18_stream_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming context-window chunking — the continuous shape of l45:
    each forced micro-batch is chunked by the same map-side
    sequence+posexplode chunker and appended to the chunk sink; the
    per-lang rollup (exact integer boundary checksum included) must
    equal batch chunking of the whole corpus, proving exactly-once
    chunk emission across epochs. The ingest stage between the quality
    gate (j16) and sequence packing (l19) in the streaming pipeline."""

    from datafusion_cyberpolka_eda_spark.sources.catalog import load_table
    from datafusion_cyberpolka_eda_spark.streaming.documents import (
        stream_chunking,
    )

    docs = load_table(spark, sf_dir, "documents")
    scratch = _scratch_dir(spark, "j18", sf_dir)
    return stream_chunking(spark, docs, scratch)


@register("j19_stream_psi_drift", _L39_ORACLE)
def j19_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift monitor — l39's distribution check fed by the
    ingest queue: day-1 reference counts computed once, the day-2
    increment streamed in forced micro-batches, per-epoch bounded count
    deltas committed replay-safe (epoch-keyed overwrite), PSI folded from
    the MERGED exact integer counts through the same math as l39. The
    streamed answer must equal the batch answer bit-for-bit (integer
    merges commute), so l39's from-scratch DuckDB replay is the oracle —
    the monitoring leg of the streaming pipeline (j16 gate -> j15 dedup
    -> j19 drift) done continuously."""

    from datafusion_cyberpolka_eda_spark.sources.catalog import load_table
    from datafusion_cyberpolka_eda_spark.streaming.documents import (
        stream_psi_drift,
    )

    docs = load_table(spark, sf_dir, "documents")
    scratch = _scratch_dir(spark, "j19", sf_dir)
    return stream_psi_drift(spark, docs, scratch)


def _j20_oracle() -> str:
    # the streaming asset path must reproduce the batch incremental
    # answer, which equals the full-corpus banded pair set restricted
    # to >= 1 new asset — l66's oracle, verbatim
    from datafusion_cyberpolka_eda_spark.registry.llm_multimodal import (
        _L58_CTES,
        _mm_incremental_oracle,
    )

    return _mm_incremental_oracle(_L58_CTES)


@register("j20_stream_asset_ingest_dedup", _j20_oracle())
def j20_stream_asset_ingest_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming asset-ingest dedup — the continuous shape of l66 and
    the binary-asset counterpart of j15 (r9 verdict task 4b): the day-2
    document increment arrives as 3 forced micro-batches; each epoch
    synthesizes+DECODES only its batch's image payloads,
    aHash-fingerprints them map-side, band-joins against the persisted
    day-1 fingerprint store plus previously-streamed fingerprints,
    emits near-pairs, and appends its own fingerprints. The accumulated
    pair set must equal the BATCH incremental answer — l66's
    full-corpus-replay oracle — so the epoch-at-a-time decode+dedup
    path is value-hash-checked against from-scratch semantics."""

    from datafusion_cyberpolka_eda_spark.registry.llm_multimodal import _mm_fp_store
    from datafusion_cyberpolka_eda_spark.sources.catalog import load_table
    from datafusion_cyberpolka_eda_spark.streaming.documents import (
        stream_incremental_fingerprint_dedup,
    )

    cutoff, store_path = _mm_fp_store(spark, sf_dir, "image")
    docs = load_table(spark, sf_dir, "documents")
    scratch = _scratch_dir(spark, "j20", sf_dir)
    return stream_incremental_fingerprint_dedup(
        spark,
        docs.filter(F.col("doc_id") >= cutoff),
        store_path,
        scratch,
        cutoff,
    )


def _j21_oracle() -> str:
    # streaming epochs with the frozen model must reproduce the one-shot
    # batch deployment — l70's training-replay + scoring oracle, verbatim
    from datafusion_cyberpolka_eda_spark.registry.llm import _l70_oracle

    return _l70_oracle()


@register("j21_stream_model_filter", _j21_oracle())
def j21_stream_model_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MODEL-BASED quality filter — j16's rule gate upgraded to
    the trained classifier a modern pipeline deploys at the front door:
    documents arrive as 3 forced micro-batches and each epoch scores its
    batch with the FROZEN l64 weights (one literal-weight JVM expression
    — the same _qc_keep_expr the batch filter l70 compiles, so both
    surfaces score byte-identically), appending per-doc keep decisions
    epoch-keyed. The per-source retention rollup is value-hash-checked
    against l70's oracle: training replay + batch deployment over the
    whole corpus — no doc lost, duplicated, or mis-scored across epochs.

    Scale shape: per-epoch cost is one map pass over the batch; the
    model trains once per session (weight memo) and never retrains in
    the hot path."""

    from datafusion_cyberpolka_eda_spark.registry.llm import (
        _qc_keep_expr,
        _qc_weights,
    )
    from datafusion_cyberpolka_eda_spark.sources.catalog import load_table
    from datafusion_cyberpolka_eda_spark.streaming.documents import (
        stream_model_filter,
    )

    w = _qc_weights(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    scratch = _scratch_dir(spark, "j21", sf_dir)
    return stream_model_filter(spark, docs, _qc_keep_expr(w), scratch)


def _j22_oracle() -> str:
    # streaming epochs with the frozen scorer must reproduce the one-shot
    # incremental selection — l73's frozen-day-1 replay oracle, verbatim
    from datafusion_cyberpolka_eda_spark.registry.llm import _l73_oracle

    return _l73_oracle()


@register("j22_stream_dsir_selection", _j22_oracle())
def j22_stream_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DSIR selection — the frozen day-1 importance scorer
    (l73's persisted bucket-score table) applied per micro-batch at the
    ingest front door, completing the selection family's surface matrix
    (batch l72, incremental l73, streaming this): each epoch featurizes
    and scores ONLY its own docs via a broadcast join against the frozen
    table (per-doc importance is a pure function of the doc and the
    table, so epochs never interact), appends scores epoch-keyed, and
    the running union's top-10 head is value-hash-checked against l73's
    one-shot incremental selection."""

    from datafusion_cyberpolka_eda_spark.registry.llm import (
        _dsir_score_batch,
        _dsir_store,
    )
    from datafusion_cyberpolka_eda_spark.sources.catalog import load_table
    from datafusion_cyberpolka_eda_spark.streaming.documents import (
        stream_dsir_scoring,
    )

    docs = load_table(spark, sf_dir, "documents")
    cutoff, store_path = _dsir_store(spark, sf_dir)
    sc_table = spark.read.parquet(store_path)

    def score_doc(batch_df: DataFrame) -> DataFrame:
        return _dsir_score_batch(batch_df, sc_table)

    scratch = _scratch_dir(spark, "j22", sf_dir)
    return stream_dsir_scoring(
        spark, docs.filter(F.col("doc_id") >= cutoff), score_doc, scratch
    )


def _j23_oracle() -> str:
    # the accumulated streamed state must reproduce the one-shot
    # incremental SemDeDup — l69's frozen-quantizer replay, verbatim
    from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
        _l69_oracle,
    )

    return _l69_oracle()


@register("j23_stream_semdedup", _j23_oracle())
def j23_stream_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SemDeDup ingest — FROZEN-QUANTIZER ORACLE TWIN (r11;
    since r12 the production streaming surface is j23b, which streams
    against the adaptive sqrt-n store — this entry keeps the pinned k=8
    integer-quantized store precisely because that store is exactly
    DuckDB-replayable, so the streamed accumulation can be HASH-matched
    against l69's one-shot incremental answer, the strongest
    correctness signal the streaming surface has; its measured 16x
    growth shape is the quadratic baseline in SCALE.md, not a
    deployment recommendation). Completes the semantic-dedup surface
    matrix (batch l65 / adaptive l65b / incremental l69 /
    takedown l76 / streaming this): the day-2 increment (natural
    arrivals plus planted epsilon-twins of bases from both days, the
    l69 construction) arrives as micro-batches; each epoch assigns
    only its batch against the FROZEN day-1 Lloyd centroids, pair-scans
    it against the day-1 store + previously-streamed rows + itself
    within clusters, and appends assignment + prune-candidate rows
    epoch-keyed. Keep decisions derive at read-back from the MONOTONE
    accumulated prune set, so the answer is arrival-order-independent
    and must hash-match l69's one-shot incremental result — l69's
    from-scratch DuckDB replay is the oracle."""
    from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
        SEMDEDUP_TWIN_OFFSET,
        _semdedup_increment,
        _semdedup_store,
    )
    from datafusion_cyberpolka_eda_spark.sources.catalog import load_table
    from datafusion_cyberpolka_eda_spark.streaming.documents import (
        stream_semdedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cutoff, cent, day1_path = _semdedup_store(spark, sf_dir)
    newq = _semdedup_increment(emb, spark.read.parquet(day1_path), cutoff)
    scratch = _scratch_dir(spark, "j23", sf_dir)
    return stream_semdedup(
        spark, newq, cent, day1_path, scratch, SEMDEDUP_TWIN_OFFSET
    )


def _j23b_oracle() -> str:
    from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
        _l69b_gate_oracle,
    )

    return _l69b_gate_oracle(extra_cols=",\n           TRUE AS multi_epoch")


@register("j23b_stream_semdedup_adaptive", _j23b_oracle())
def j23b_stream_semdedup_adaptive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION streaming SemDeDup — the adaptive-store wiring of the
    streaming ingest surface (r12; the r11 verdict's top directive: j23
    streamed against the pinned k=8 store whose warm growth the r11
    harness measured at 61.9x over 16x data — the shape a continuous-
    ingest deployment would have inherited all day). The day-2
    increment (naturals + planted float epsilon-twins of bases from
    both days — the l69b construction, bit-identical via the shared
    builder) arrives as micro-batches; each epoch assigns ONLY its
    batch against the FROZEN sqrt-n sampled-Lloyd quantizer from
    _semdedup_adaptive_store (~2x measured warm growth at 16x), pair-
    scans it within cells against the day-1 store + earlier epochs +
    itself, and appends assignment + prune-candidate rows epoch-keyed
    and idempotent. Keep decisions derive at read-back from the
    MONOTONE accumulated prune set, so the answer is arrival-order-
    independent and equals l69b's one-shot incremental answer (a
    pytest asserts prune-set equality).

    The sampled quantizer is data-dependent, so — the l69b gate recipe,
    shared row builder — DuckDB recounts day/twin populations and
    replays the sqrt-n rule while the semantics are measured columns
    (twin recall, day-1 immunity, candidate ratio/balance), plus
    multi_epoch: the stream must actually have micro-batched (>= 2
    epochs), or this entry would silently measure a batch run.

    Scale shape: per-epoch cost = |batch| assign map passes + one
    cell-key equi-join against the store view with ~n/k occupancy under
    the sqrt-n rule; the store grows by |epoch| rows and training never
    re-runs until a drift trigger (l57) fires. Ref anchor:
    streaming/documents.stream_semdedup_adaptive; registry l69b (the
    one-shot contract), j23 (frozen oracle twin)."""
    from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
        SEMDEDUP_TWIN_OFFSET,
        _adaptive_increment_unit,
        _adaptive_semdedup_gate_row,
        _semdedup_adaptive_store,
    )
    from datafusion_cyberpolka_eda_spark.streaming.documents import (
        stream_semdedup_adaptive,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    mx = emb.agg(F.max("vec_id")).first()[0]
    if mx >= SEMDEDUP_TWIN_OFFSET:
        raise ValueError(
            f"max vec_id {mx} >= twin offset {SEMDEDUP_TWIN_OFFSET}: planted "
            "twin ids would collide with corpus ids"
        )
    cutoff, k1, centers, day1_path = _semdedup_adaptive_store(spark, sf_dir)
    inc_unit = _adaptive_increment_unit(emb, cutoff)
    scratch = _scratch_dir(spark, "j23b", sf_dir)
    cells_new, pruned, n_epochs = stream_semdedup_adaptive(
        spark, inc_unit, centers, k1, day1_path, scratch
    )
    cells_new = cells_new.localCheckpoint(eager=False)
    pruned = pruned.localCheckpoint(eager=False)
    day1 = spark.read.parquet(day1_path)
    return _adaptive_semdedup_gate_row(
        spark,
        emb,
        cutoff,
        k1,
        day1,
        cells_new,
        pruned,
        extra_vals=(n_epochs >= 2,),
        extra_schema=", multi_epoch boolean",
    )

def _j24_oracle() -> str:
    # the accumulated streamed edge set must reproduce the batch
    # incremental answer — l78b's dual closed-form replay, verbatim
    from datafusion_cyberpolka_eda_spark.registry.llm_multimodal import (
        _l78b_oracle,
    )

    return _l78b_oracle()


@register("j24_stream_crossmodal_dedup", _j24_oracle())
def j24_stream_crossmodal_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming CROSS-MODAL paired-document dedup — the continuous
    shape of l78b, completing the cross-modal family's lifecycle matrix
    (batch l78 / incremental l78b / takedown l78c / streaming this; the
    LAION-ingest topology): the day-2 paired increment arrives as 3
    forced micro-batches; each epoch derives its batch's paired corpus
    (base docs + gray/perturbed twins), shingles captions and
    decodes+hashes images strictly inside the epoch, band-joins EACH
    modality against its persisted day-1 store plus previously-streamed
    rows, and commits the tagged text-OR-image edge union plus both
    store appends epoch-keyed (idempotent under foreachBatch replay).

    Signatures and fingerprints are pure per-item functions and both
    stores grow by the same documents each epoch, so a pair's text and
    image edges land in the SAME epoch (its later side's arrival) and
    every pair is emitted exactly once — the accumulated edge set must
    equal l78b's one-shot incremental answer, and l78b's dual
    closed-form replay (MinHash signatures/bands + pixels/fingerprints
    + cutoff kinds) is the oracle, verbatim.

    Scale shape: per-epoch cost is the batch's shingle+decode map
    passes plus two banded equi-joins pruned to colliding buckets;
    both stores and the edge sink commit through the manifest log
    (one listing per store view, not O(epochs)). Ref anchor:
    streaming/documents.stream_crossmodal_dedup; registry llm_multimodal
    l78/l78b/l78c."""
    from datafusion_cyberpolka_eda_spark.registry.llm_multimodal import (
        _mm_fp_store,
        _xm_text_store,
    )
    from datafusion_cyberpolka_eda_spark.sources.catalog import load_table
    from datafusion_cyberpolka_eda_spark.streaming.documents import (
        stream_crossmodal_dedup,
    )

    cutoff, sig_path = _xm_text_store(spark, sf_dir)
    icutoff, fp_path = _mm_fp_store(spark, sf_dir, "image")
    if icutoff != cutoff:
        raise ValueError(
            f"store cutoffs diverged: text {cutoff} vs image {icutoff}"
        )
    docs = load_table(spark, sf_dir, "documents")
    scratch = _scratch_dir(spark, "j24", sf_dir)
    return stream_crossmodal_dedup(
        spark,
        docs.filter(F.col("doc_id") >= cutoff),
        sig_path,
        fp_path,
        scratch,
        cutoff,
    )

def _j25_oracle() -> str:
    # the streamed re-balance must reproduce the one-shot incremental
    # mixture — l79c's exact replay oracle, verbatim
    from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
        _l79c_oracle,
    )

    return _l79c_oracle(8, 3)


@register("j25_stream_domain_mixture", _j25_oracle())
def j25_stream_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DOMAIN-MIXTURE re-balance — the continuous shape of
    l79c, completing the mixture family's lifecycle matrix (batch
    l79/l79b / incremental l79c / takedown l79d / streaming this): the
    day-2 increment arrives as 3 forced micro-batches; each epoch
    assigns ONLY its batch against the frozen day-1 centroids and
    commits its keyed rows plus per-(cluster, bucket) aggregate deltas
    epoch-keyed through the manifest log (idempotent under replay).
    The read-back re-balance — merged aggregates, l79 temperature
    budgets, boundary-bucket-only enacted selection — is the l79c
    machinery verbatim; exact integer aggregate merges commute, so the
    streamed answer is arrival-order-independent and must equal l79c's
    one-shot result. l79c's exact oracle (frozen day-1 Lloyd unroll +
    merged arithmetic + naive rank window) replays it end-to-end.

    Scale shape: per-epoch cost = |batch| assign/key map passes + a
    bounded aggregate-delta commit; the re-balance report is
    O(k*4096 + k*boundary) at any corpus size and could run per-epoch
    (the mixture dashboard a continuously-ingesting pipeline watches).
    Ref anchor: streaming/documents.stream_domain_mixture; registry
    llm_similarity l79c."""
    from datafusion_cyberpolka_eda_spark.functions import text as T
    from datafusion_cyberpolka_eda_spark.registry.llm_similarity import (
        _mixture_store,
    )
    from datafusion_cyberpolka_eda_spark.sources.catalog import load_table
    from datafusion_cyberpolka_eda_spark.streaming.documents import (
        stream_domain_mixture,
    )

    cutoff, cent, rows_path, aggs_path = _mixture_store(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    inc = emb.filter(F.col("vec_id") >= cutoff).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    ).join(
        docs.filter(F.col("doc_id") >= cutoff).select(
            "doc_id", T.token_count("text").cast("bigint").alias("nt")
        ),
        "doc_id",
    )
    scratch = _scratch_dir(spark, "j25", sf_dir)
    return stream_domain_mixture(
        spark, inc, cent, rows_path, aggs_path, scratch
    )
