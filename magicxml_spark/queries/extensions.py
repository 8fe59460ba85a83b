"""Extension queries: Structured Streaming twin, dedup clustering,
dynamic pivot, sessionization, ML vectors (SURVEY §2.7/§2.8 +
BASELINE.json LLM-pipeline operators)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from magicxml_spark.analytics.clusters import dedup_clusters
from magicxml_spark.analytics.ml import pca_project, tfidf_vectors
from magicxml_spark.operators.dedup import lsh_candidate_pairs
from magicxml_spark.queries import ORACLE, query
from magicxml_spark.queries.analytics import _WORDS_SQL, _minhash_sig_ctes
from magicxml_spark.streaming.events import run_stream_to_memory
from magicxml_spark.tables import table


# --- Structured Streaming twin of q_events_windowed -------------------------
# The stream is driven to completion with availableNow + memory sink —
# deterministic, so the BATCH SQL is a valid oracle for the STREAMING
# result (same logical plan, same answer).
@query("q_events_stream_windowed", oracle=ORACLE["q_events_windowed"])
def q_events_stream_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_memory(spark, sf_dir)


# --- Streaming HLL distinct users per window --------------------------------
# The streaming state is the (window, register) max-rho table — bounded
# at windows x 1024 rows regardless of user cardinality — and max()
# merges monotonically across micro-batches, so the drained register
# table equals the batch computation exactly and the BATCH HLL SQL is
# an exact oracle for the streamed estimate.
def _stream_hll_oracle() -> str:
    from magicxml_spark.operators.sketches import hll_oracle_sql

    return hll_oracle_sql(
        "(SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') "
        " AS window_start, user_id FROM events)",
        "window_start",
        "CAST(user_id AS VARCHAR)",
    )


@query("q_stream_hll_users", oracle=_stream_hll_oracle())
def q_stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.streaming.events import run_stream_hll_to_memory

    return run_stream_hll_to_memory(spark, sf_dir)


# --- Streaming Count-Min per-window event-type frequencies -------------------
# The additive dual of the HLL twin: count cells sum-merge across
# micro-batches, state caps at windows x d x w, and the batch sketch
# SQL over the same rows is an exact oracle. Candidates (distinct
# event types) probe the drained sketch; the HAVING keeps a value that
# never touched a window from reading foreign cells as its count.
def _stream_cm_oracle() -> str:
    from magicxml_spark.operators.sketches import CM_DEPTH, cm_cell_sql

    cells = " ".join(
        f"WHEN {j} THEN {cm_cell_sql(j, 'val')}" for j in range(CM_DEPTH)
    )
    return f"""
    WITH tok AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                        AS window_start,
                        CAST(event_type AS VARCHAR) AS val
                 FROM events),
    sk AS (SELECT window_start, j.j, CASE j.j {cells} END AS cell,
                  count(*) AS cell_count
           FROM tok, (SELECT unnest(range(0, {CM_DEPTH})) AS j) j
           GROUP BY 1, 2, 3),
    cand AS (SELECT DISTINCT CAST(event_type AS VARCHAR) AS val FROM events),
    probe AS (SELECT c.val, j.j, CASE j.j {cells} END AS cell
              FROM cand c, (SELECT unnest(range(0, {CM_DEPTH})) AS j) j)
    SELECT s.window_start, p.val AS event_type, min(s.cell_count) AS cm_estimate
    FROM probe p JOIN sk s ON s.j = p.j AND s.cell = p.cell
    GROUP BY 1, 2 HAVING count(*) = {CM_DEPTH}
    """


@query("q_stream_cm_events", oracle=_stream_cm_oracle())
def q_stream_cm_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.streaming.events import run_stream_cm_to_memory

    return run_stream_cm_to_memory(spark, sf_dir)


# --- Stream-stream interval join (click -> purchase within 10 min) ----------
# Inner stream-stream joins emit on match (the watermark bounds state,
# not emission), and availableNow drains the source, so the batch
# interval join over the same table is an exact oracle. ms_after is
# integer microsecond arithmetic on both engines — no float epoch.
@query(
    "q_stream_interval_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 1000 AS ms_after
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
    """,
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.streaming.events import run_interval_join_to_memory

    return run_interval_join_to_memory(spark, sf_dir)


# Left-semi twin: WHICH clicks converted (one row per click with >=1
# purchase in the bound). Semi joins emit eagerly too — first match
# releases the left row, join state remembers it emitted — so the
# batch EXISTS predicate is an exact oracle.
@query(
    "q_stream_interval_semi",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM events c
    WHERE c.event_type = 'click' AND EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE)
    """,
)
def q_stream_interval_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.streaming.events import run_interval_join_to_memory

    return run_interval_join_to_memory(spark, sf_dir, how="left_semi")


# Left-OUTER twin: every click, with its purchases where they exist and
# NULLs where they don't — the conversion-funnel shape. Outer emission
# is watermark-gated, so the runner stages the feed with a far-future
# sentinel batch that pushes the final watermark past every real
# click's bound before the source drains (run_interval_join_outer_to_
# memory docstring has the full protocol); the engine's closing
# no-data batch then flushes the unmatched-click state, making the
# batch LEFT JOIN an exact oracle — this closes the round-3 TODO that
# documented outer interval joins as availableNow-infeasible.
@query(
    "q_stream_interval_outer",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 1000 AS ms_after
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
    """,
)
def q_stream_interval_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.streaming.events import run_interval_join_outer_to_memory

    return run_interval_join_outer_to_memory(spark, sf_dir)


# --- Streaming sessionization (session_window on a stream) ------------------
# Same determinism argument: availableNow drives the stream to
# completion, complete mode emits the final merged sessions, so the
# batch session_window SQL (see q_session_window) is a valid oracle.
@query(
    "q_events_stream_sessionize",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_no
    """,
)
def q_events_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.streaming.events import run_sessionize_to_memory

    return run_sessionize_to_memory(spark, sf_dir)


# --- Streaming exact dedup (dropDuplicatesWithinWatermark) -------------------
# First-occurrence-wins on the key set; output carries only the keys,
# so the result is the exact distinct key set and the batch DISTINCT
# is its oracle (see streaming/dedup.py for the determinism argument).
@query(
    "q_events_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.streaming.dedup import run_stream_dedup_to_memory

    return run_stream_dedup_to_memory(spark, sf_dir)


# --- Streaming minhash candidate emission (applyInPandasWithState) -----------
# The state store remembers each (band, signature) bucket's members;
# arriving docs emit pairs against remembered members only. The output
# is the pair MULTISET (one row per shared band), so the oracle is the
# batch band self-join WITHOUT DISTINCT — same signature convention as
# q_minhash_lsh_pairs.
@query(
    "q_stream_minhash_pairs",
    oracle=f"""
    WITH {_minhash_sig_ctes("documents")}
    SELECT a.doc_id AS id_a, b2.doc_id AS id_b
    FROM sig a JOIN sig b2
      ON a.band = b2.band AND a.signature = b2.signature AND a.doc_id < b2.doc_id
    """,
)
def q_stream_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.streaming.dedup import run_stream_minhash_to_memory

    # explicit uncapped pin: the oracle is the exact batch-join multiset
    return run_stream_minhash_to_memory(spark, sf_dir, max_bucket_size=None)


# --- Streaming winnow candidate emission --------------------------------------
# Same stateful bucket emitter keyed by winnow fingerprint; the oracle
# is the batch fingerprint self-join as a MULTISET (one row per shared
# fingerprint, no distinct/min_shared — a consumer aggregates
# multiplicity downstream exactly like batch winnow_pairs does).
def _stream_winnow_oracle() -> str:
    from magicxml_spark.queries.analytics import _WINNOW_FPS_SQL

    return f"""
    WITH {_WINNOW_FPS_SQL},
    long AS (SELECT doc_id, unnest(fps) AS fp FROM f)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM long a JOIN long b ON a.fp = b.fp AND a.doc_id < b.doc_id
    """


@query("q_stream_winnow_pairs", oracle=_stream_winnow_oracle())
def q_stream_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.streaming.dedup import run_stream_winnow_to_memory

    # explicit uncapped pin: the oracle is the exact batch-join multiset
    return run_stream_winnow_to_memory(spark, sf_dir, max_bucket_size=None)


# --- Dedup clustering: connected components over LSH candidate pairs --------
@query(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_minhash_sig_ctes("documents")},
    pairs AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
              FROM sig a JOIN sig b2
                ON a.band = b2.band AND a.signature = b2.signature
               AND a.doc_id < b2.doc_id),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs, "doc_id", "text", n_bands=4, shingle_k=3, max_bucket_size=None
    )  # oracle = exact all-pairs semantics
    nodes = docs.select(F.col("doc_id").alias("id"))
    return dedup_clusters(nodes, pairs)


# --- P14 relational shape: dynamic pivot (groupBy().pivot()) ----------------
@query(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O",
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F"
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


# --- Sessionization (lag-gap windows; guide 'Common OLAP patterns') ---------
@query(
    "q_sessionize",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, event_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked)
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_no
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    # full-precision gap: the oracle's epoch() is fractional seconds, so
    # casting to whole seconds would evaluate the 1800s boundary at a
    # different precision (compare microseconds on both sides)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(lag_ts)
    marked = ev.withColumn(
        "new_sess",
        F.when(lag_ts.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_no",
        F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("bigint"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.count("*").alias("n_events"),
    )


# --- A1/A2: TF-IDF + PCA via Spark ML -----------------------------------------
# PCA scores are basis/sign-indeterminate floats, so raw projections
# can't hash-match any SQL oracle. Instead the query RETURNS the
# mathematical invariants a correct PCA must satisfy, rounded so float
# noise vanishes — and DuckDB asserts them as constants (plus the
# data-dependent doc count). A broken projection (wrong basis, missing
# centering in the fit, unordered components, NaNs) flips at least one
# metric. Per-doc projections remain covered by test_tfidf_pca_shapes.
@query(
    "q_tfidf_pca",
    oracle="""
    SELECT 'max_abs_score_corr_offdiag' AS metric, 0.0::DOUBLE AS value
    UNION ALL SELECT 'n_docs_projected', count(*)::DOUBLE FROM documents
    UNION ALL SELECT 'n_nonfinite_scores', 0.0
    UNION ALL SELECT 'pca_dims', 3.0
    UNION ALL SELECT 'variance_ordered', 1.0
    ORDER BY metric
    """,
)
def q_tfidf_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # 256 hash features: PCA's dense SVD is O(d^2) memory — 4096 dims
    # OOMs a default-1g driver session (the corpus vocabulary is far
    # smaller than 256 anyway, so the projection loses nothing)
    vecs = pca_project(tfidf_vectors(docs, num_features=256), k=3)
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array("pca")
    scores = vecs.select(
        F.size(arr).alias("dims"),
        F.try_element_at(arr, F.lit(1)).alias("pc1"),
        F.try_element_at(arr, F.lit(2)).alias("pc2"),
        F.try_element_at(arr, F.lit(3)).alias("pc3"),
    )
    nonfinite = sum(
        F.sum(F.when(F.isnan(cn) | F.col(cn).isNull(), 1).otherwise(0))
        for cn in ("pc1", "pc2", "pc3")
    )
    agg = scores.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.max("dims").cast("double").alias("dims"),
        nonfinite.cast("double").alias("nonfinite"),
        F.var_pop("pc1").alias("v1"),
        F.var_pop("pc2").alias("v2"),
        F.var_pop("pc3").alias("v3"),
        F.corr("pc1", "pc2").alias("c12"),
        F.corr("pc1", "pc3").alias("c13"),
        F.corr("pc2", "pc3").alias("c23"),
    )
    m = agg.select(
        F.round(
            F.greatest(F.abs("c12"), F.abs("c13"), F.abs("c23")), 4
        ).alias("max_abs_score_corr_offdiag"),
        F.col("n_docs").alias("n_docs_projected"),
        F.col("nonfinite").alias("n_nonfinite_scores"),
        F.col("dims").alias("pca_dims"),
        F.when(
            (F.col("v1") >= F.col("v2")) & (F.col("v2") >= F.col("v3")), 1.0
        ).otherwise(0.0).alias("variance_ordered"),
    )
    unpivot = F.expr(
        "stack(5, 'max_abs_score_corr_offdiag', max_abs_score_corr_offdiag, "
        "'n_docs_projected', n_docs_projected, "
        "'n_nonfinite_scores', n_nonfinite_scores, "
        "'pca_dims', pca_dims, "
        "'variance_ordered', variance_ordered) AS (metric, value)"
    )
    return m.select(unpivot).orderBy("metric")


# --- Range join: bucketized non-equi join (guide 'as-of / range join') ------
# Small tier dimension -> broadcast range join; at scale, bucketize the
# range key and equi-join on bucket + residual filter.
@query(
    "q_range_join",
    oracle="""
    WITH tiers(tier, lo, hi) AS (
      VALUES ('low', 0.0, 25.0), ('mid', 25.0, 75.0), ('high', 75.0, 1e18))
    SELECT t.tier, count(*) AS n_events, round(sum(e.value), 2) AS total_value
    FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
    GROUP BY t.tier
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small disjoint interval dimension -> compiled lookup
    (operators.asof.interval_lookup_join): the broadcast non-equi join
    plans as BroadcastNestedLoopJoin evaluating every tier's predicates
    per event row; compiling the known-at-plan-time dimension into one
    CASE keeps the scan a single codegen pass — 2.6x at sf1 forced,
    hash-identical (BASELINE.md round-5 residue table)."""
    from magicxml_spark.operators.asof import interval_lookup_join

    ev = table(spark, sf_dir, "events")
    tiers = [
        {"tier": "low", "lo": 0.0, "hi": 25.0},
        {"tier": "mid", "lo": 25.0, "hi": 75.0},
        {"tier": "high", "lo": 75.0, "hi": 1e18},
    ]
    return (
        interval_lookup_join(ev, tiers, "value")
        .groupBy("tier")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )


# --- As-of join: latest prior purchase per event (window spelling) ----------
@query(
    "q_asof_prev_purchase",
    oracle="""
    SELECT event_id, user_id,
           strftime(max(CASE WHEN event_type = 'purchase' THEN ts END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    '%Y-%m-%d %H:%M:%S') AS prev_purchase_ts
    FROM events
    """,
)
def q_asof_prev_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev = F.max(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.date_format(prev, "yyyy-MM-dd HH:mm:ss").alias("prev_purchase_ts"),
    )


# --- Skew-safe two-phase aggregation (salting; SURVEY 'Optimize' notes) -----
# Hot grouping keys are salted so the first partial aggregation spreads
# over salt_factor reducers; the second, tiny aggregation removes the
# salt. Result is EXACTLY the plain groupBy (the oracle proves it).
@query(
    "q_salted_agg",
    oracle="""
    SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    salt_factor = 16
    # xxhash64 on the native bigint: crc32 needs a per-row string cast
    # (6.1M UTF8 allocations at sf1 — measured 0.69 vs 0.58 s forced,
    # hash-identical; BASELINE.md round-6 residues). Any deterministic
    # spread works — the unsalting agg makes the result exactly the
    # plain groupBy either way.
    salted = li.withColumn(
        "_salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(salt_factor))
    )
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        F.count("*").alias("_n"), F.sum("l_quantity").alias("_s")
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("_n").alias("n_items"), F.round(F.sum("_s"), 2).alias("sum_qty")
    )


# --- IVF approximate top-k (KMeans cells; recall-gated) ---------------------
# Same contract as q_cosine_topk_lsh: run the real IVF search (seeded
# KMeans -> deterministic), score recall@5 against blocked exact, emit
# the pinned floor row. Random 64-d embeddings are near-orthogonal (the
# hard case) so the probe-2/16-cell recall is modest (0.4676 at sf0.01)
# but reproducible: 0.4676 at sf0.01, 0.4065 at sf0.1 (seeded
# KMeans -> exact per SF). Floor 0.40 holds at both driver SFs.
@query(
    "q_cosine_topk_ivf",
    oracle="""
    SELECT 'ivf' AS algo,
           CAST((SELECT count(DISTINCT vec_id) FROM embeddings) AS BIGINT) AS n_queries,
           CAST(5 AS INTEGER) AS k,
           CAST(1 AS INTEGER) AS meets_recall_floor
    """,
)
def q_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.similarity import (
        cosine_topk_blocked,
        cosine_topk_ivf,
        topk_recall,
    )

    emb = table(spark, sf_dir, "embeddings")
    approx = cosine_topk_ivf(emb, "vec_id", "embedding", k=5, n_cells=16, n_probe=2)
    exact = cosine_topk_blocked(emb, "vec_id", "embedding", k=5)
    return topk_recall(approx, exact).select(
        F.lit("ivf").alias("algo"),
        F.col("n_queries").cast("long").alias("n_queries"),
        F.lit(5).cast("int").alias("k"),
        (F.col("recall") >= 0.40).cast("int").alias("meets_recall_floor"),
    )


# --- Native session_window (batch twin of streaming sessionization) ---------
# Spark's session_window extends a session while the next event starts
# strictly before last_ts + gap, i.e. a new session begins when the
# inter-event gap is >= the window gap — the oracle mirrors that
# boundary exactly (>= 1800, vs q_sessionize's manual > 1800). The
# streaming twin answers the same question, so they share one oracle.
@query("q_session_window", oracle=ORACLE["q_events_stream_sessionize"])
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


# --- Join-key skew profile (the measurement behind the salting decision) -----
# Top-10 heaviest event keys with share and skew ratio — what an
# operator runs BEFORE q_salted_agg-style mitigation to see whether a
# key's share justifies it. Distributed top-k (TakeOrdered), never a
# global sort/window over the distinct-key table.
@query(
    "q_key_skew",
    oracle="""
    WITH c AS (SELECT user_id AS key, count(*) AS n_rows FROM events GROUP BY user_id),
    t AS (SELECT sum(n_rows) AS total, count(*) AS n_keys FROM c),
    ranked AS (SELECT key, n_rows,
                      CAST(row_number() OVER (ORDER BY n_rows DESC, key) AS INTEGER) AS rank
               FROM c)
    SELECT key, n_rows, rank,
           round(n_rows * 100.0 / total, 4) AS pct_of_total,
           round(CAST(n_rows AS DOUBLE) * n_keys / total, 4) AS skew_ratio
    FROM ranked, t
    WHERE rank <= 10
    """,
)
def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.operators.profiling import key_skew_profile

    return key_skew_profile(table(spark, sf_dir, "events"), "user_id", top_n=10)


# --- Streaming paragraph dedup (the Dolma pass as a stream) ------------------
# First-seen-wins on the paragraph key; the output is the exact
# distinct key SET (per-key surviving doc/pos is processing-order
# noise, so only keys are emitted — the q_events_stream_dedup
# contract), bucketed by the key's first hex char so the oracle hashes
# 16 value-bearing rows instead of one scalar.
@query(
    "q_stream_paragraph_dedup",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    lines AS (
      SELECT list_transform(range(1, CAST(ceil(len(w) / 3.0) AS BIGINT) + 1),
                            i -> array_to_string(w[(i-1)*3+1 : (i-1)*3+3], ' ')) AS ls
      FROM w WHERE len(w) > 0),
    keys AS (SELECT DISTINCT md5(l) AS k
             FROM (SELECT unnest(ls) AS l FROM lines))
    SELECT substr(k, 1, 1) AS bucket, count(*) AS n_keys
    FROM keys GROUP BY 1
    """,
)
def q_stream_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from magicxml_spark.streaming.dedup import run_stream_paragraph_dedup_to_memory

    kept = run_stream_paragraph_dedup_to_memory(spark, sf_dir)
    return kept.groupBy(F.substring("para_key", 1, 1).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_keys")
    )
