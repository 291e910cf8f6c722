"""Event/corpus analytics operators: cohort retention, funnels,
histograms, tf-idf top terms, embedding centroids, Pareto revenue.

These are the standing analytics a CDP-style event pipeline feeds
(the reference's own examples aggregate event windows into exactly
these shapes — counts per cohort/step/bucket; src/api.ts pipelines
ending in send-* sinks), expressed as whole-stage-codegen DataFrame
plans sized for the 100 TB tier:

- one logical shuffle per aggregation key, partial aggregation
  map-side everywhere (groupBy on keyed columns only);
- window passes share a single exchange per partitioning key
  (funnel stage times stack on one ``partitionBy(user_id)`` sort);
- global orderings only ever happen AFTER reduction to a bounded
  row set (Pareto takes a TopK limit before its cumulative window);
- float outputs ride the decimal(28,6) order-stable fold from
  ``__spark_entry__`` twins so results are bit-stable cross-engine.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    IntegralType,
    StructField,
    StructType,
)


def _stable_avg(col: Column, scale: int = 4) -> Column:
    """Order-stable rounded mean (exact decimal fold, one double
    division): partition-order independent, so equal on any engine."""
    return F.round(
        F.sum(col.cast("decimal(28,6)")).cast("double") / F.count(col), scale
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: users bucketed by the week of their
    first event; for each (cohort week, week offset) the count of
    distinct users active that week.

    Scale shape: the cohort week is a ``min() OVER (PARTITION BY
    user)`` window — it reuses the single hash exchange on the user
    key instead of a groupBy + self-join (which would shuffle the
    events table twice).  The distinct + final count aggregate on
    (cohort, offset) with map-side partials.
    """
    week = F.date_trunc("week", F.col(ts_col))
    with_cohort = events.select(
        F.col(user_col).alias("user"),
        week.alias("wk"),
    ).withColumn("cohort_week", F.min("wk").over(Window.partitionBy("user")))
    return (
        with_cohort.select(
            F.to_date("cohort_week").alias("cohort_week"),
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
            F.col("user"),
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel: for each step k, the number of users whose
    first step-k event occurs AFTER their qualifying step-(k-1) event
    (strict event-order semantics, not mere presence).

    Scale shape: every stage time is a conditional ``min() OVER
    (PARTITION BY user)``; Catalyst stacks all the Window operators on
    ONE exchange + sort of the events table, then the per-user stage
    vector collapses via distinct + a tiny global aggregate whose
    input is one row per user.
    """
    w = Window.partitionBy(user_col)
    df = events.select(user_col, type_col, ts_col)
    prev: Column | None = None
    stage_cols = []
    for i, step in enumerate(steps):
        cond = F.col(type_col) == step
        if prev is not None:
            cond = cond & (F.col(ts_col) > prev)
        c = F.min(F.when(cond, F.col(ts_col))).over(w)
        name = f"_t{i}"
        df = df.withColumn(name, c)
        prev = F.col(name)
        stage_cols.append(name)
    per_user = df.select(user_col, *stage_cols).distinct()
    counts = per_user.agg(
        *[
            F.count(F.col(c)).alias(f"n{i}")
            for i, c in enumerate(stage_cols)
        ]
    )
    # unpivot the single row of stage counts into (step, n_users)
    stack = ", ".join(
        f"'{i + 1}:{step}', n{i}" for i, step in enumerate(steps)
    )
    return counts.selectExpr(
        f"stack({len(steps)}, {stack}) AS (step, n_users)"
    )


def value_histogram(
    events: DataFrame,
    value_col: str = "value",
    width: float = 25.0,
) -> DataFrame:
    """Fixed-width histogram of a numeric column: one row per occupied
    bin with count and exact min/max.  Single map-side-partial
    aggregation; bin id is codegen arithmetic, no shuffle beyond the
    groupBy."""
    bin_id = F.floor(F.col(value_col) / F.lit(width)).cast("long")
    return (
        events.where(F.col(value_col).isNotNull())
        .groupBy(bin_id.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
        .select(
            (F.col("bin") * F.lit(width)).cast("double").alias("bin_start"),
            "n_events",
            "min_value",
            "max_value",
        )
    )


def top_terms_per_doc(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms per document, scored by tf × (N/df)
    — tf-idf with a rational idf (N/df instead of ln(N/df)): the
    ranking is identical (ln is monotone) and the score is pure
    integer arithmetic in doubles, hence bit-stable across engines
    (libm ln() is not guaranteed identically rounded).

    Scale shape: ONE explode + tf aggregate (shuffle on (doc, term));
    df is a window count over the tf frame partitioned by term — a
    groupBy + join-back would evaluate the whole explode subplan twice
    (Catalyst does not reuse that exchange) and shuffle once more.  N
    folds in as a broadcast scalar, top-k via row_number over the doc
    key (WindowGroupLimit prunes to k per partition before the
    exchange).  Stop-word df skew lands in a window aggregate, not a
    join, so AQE's skew handling is not needed.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
        ).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.where(F.length(F.trim(text_col)) > 0).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.col("n_docs") / F.col("df"), 4
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("doc").alias(id_col),
            "term",
            "tf",
            "score",
            "rank",
        )
    )


def _round_half_up(col: Column, digits: int) -> Column:
    """floor(x*10^d + 0.5)/10^d — pure IEEE ops on identical operands
    in both engines, unlike engine-native round() (Spark rounds the
    shortest decimal repr, DuckDB the binary double)."""
    scale = F.lit(float(10**digits))
    return F.floor(col * scale + F.lit(0.5)) / scale


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 document ranking for a fixed query term list — the
    standard lexical-retrieval baseline next to tf-idf:

        score(d) = Σ_t  idf(t) · tf(t,d)·(k1+1)
                        / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
        idf(t)   = ln((N − df(t) + 0.5)/(df(t) + 0.5) + 1)

    Scale shape: ONE explode feeds both the document-length aggregate
    and the query-term tf aggregate; df and the (N, avgdl) scalars are
    tiny aggregates that enter the plan as broadcasts (a handful of
    terms and one scalar row), so the only data-sized shuffles are the
    two aggregates on (doc) and (doc, term).  The query-term filter is
    applied BEFORE the tf shuffle — only matching tokens move.

    Determinism (oracle discipline): idf and the tf part are each
    rounded half-up to 9 digits before multiplying, per-term scores
    fold in DECIMAL(28,12) (order-independent), and the final score
    rounds half-up to 4 — all via floor(x·10^d + 0.5)/10^d, never
    engine round() (Spark rounds the shortest-decimal repr, DuckDB
    the binary double).  ln() is libm on both engines; the round-9
    absorbs last-ulp differences (the dsir_logratio precedent).

    Output: top-k (doc_id, n_matched, bm25) by score desc, id asc;
    documents matching no query term are not scored.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")).alias("term"),
    ).where(F.col("term") != "")
    doclen = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("dl"))
    scalars = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    tf = (
        toks.where(F.col("term").isin(list(terms)))
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return bm25_score_tail(tf, dfc, doclen, scalars, k, k1, b, id_col)


def bm25_score_tail(
    tf: DataFrame,
    dfc: DataFrame,
    doclen: DataFrame,
    scalars: DataFrame,
    k: int,
    k1: float,
    b: float,
    id_col: str,
) -> DataFrame:
    """The BM25 scoring tail shared by :func:`bm25_topk` and the
    persisted-index query (retrieval_index.bm25_index_topk): same
    expressions, same rounding discipline, so index-served scores are
    bit-identical to scan-computed ones by construction.  Inputs:
    tf (doc, term, tf) restricted to query terms, dfc (term, df),
    doclen (doc, dl), scalars one row (n_docs, avgdl)."""
    idf = _round_half_up(
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ),
        9,
    )
    tf_part = _round_half_up(
        F.col("tf") * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
        ),
        9,
    )
    term_score = _round_half_up(idf * tf_part, 9)
    scored = (
        tf.join(F.broadcast(dfc), "term")
        .join(doclen, "doc")
        .crossJoin(F.broadcast(scalars))
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            _round_half_up(
                F.sum(term_score.cast("decimal(28,12)")).cast("double"), 4
            ).alias("bm25"),
        )
    )
    return (
        scored.orderBy(F.col("bm25").desc(), F.col("doc").asc())
        .limit(k)
        .select(F.col("doc").alias(id_col), "n_matched", "bm25")
    )


def bm25_topk_queries(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
) -> DataFrame:
    """Okapi BM25 top-``k`` documents for EVERY query in a query
    TABLE, scored in one pass (VERDICT r7 #5) — the retrieval shape a
    corpus-curation pipeline needs when mining eval-adjacent documents
    per benchmark prompt: hundreds of queries against one corpus,
    without re-scanning the corpus per query.

    ``queries``: (query_id, terms array<string>).  Duplicate terms
    within a query are deduplicated (each distinct term contributes
    once, the standard set-of-terms formulation).

    Same scoring math and rounding discipline as :func:`bm25_topk`
    (per-factor floor-half-up round-9, DECIMAL(28,12) fold, final
    round-4); df(t) and idf(t) are corpus properties, shared across
    queries.

    Scale shape: the corpus is tokenized ONCE; tf is computed once
    over the UNION of all query terms (broadcast semi-join filter
    BEFORE the (doc, term) shuffle — only matching tokens move); the
    (query_id, term) map and the df counts are broadcast into the
    per-(query, doc) score aggregate, so adding queries adds
    broadcast rows, not corpus scans.  Top-k per query is a
    WindowGroupLimit (rank pushdown prunes map-side), never a global
    sort.

    Output: (query_id, doc_id, n_matched, bm25), top-k per query by
    score desc, doc id asc.
    """
    qterms = (
        queries.select(
            F.col(query_id_col).alias("qid"),
            F.explode(F.col(terms_col)).alias("term"),
        )
        .distinct()
    )
    all_terms = qterms.select("term").distinct()
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")).alias("term"),
    ).where(F.col("term") != "")
    doclen = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("dl"))
    scalars = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    tf = (
        toks.join(F.broadcast(all_terms), "term", "left_semi")
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = _round_half_up(
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ),
        9,
    )
    tf_part = _round_half_up(
        F.col("tf") * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
        ),
        9,
    )
    term_score = _round_half_up(idf * tf_part, 9)
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfc), "term")
        .join(doclen, "doc")
        .crossJoin(F.broadcast(scalars))
        .groupBy("qid", "doc")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            _round_half_up(
                F.sum(term_score.cast("decimal(28,12)")).cast("double"), 4
            ).alias("bm25"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("bm25").desc(), F.col("doc").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("doc").alias(id_col),
            "n_matched",
            "bm25",
        )
    )


def embedding_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid of an embedding column, one row per (label,
    dimension) with the order-stable mean — the reduce step of
    k-means / IVF training expressed as a plain aggregate.

    Scale shape: posexplode multiplies rows by the dimension count but
    every value lands in a map-side partial sum; the single shuffle
    carries only (label, dim, partial) — the same shape as
    ``vector_dim_stats``, proven at the 100 TB tier by bucketing on
    the (small) label space.
    """
    exploded = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("dim0", "x"),
    ).select(
        "label",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.col("x").cast("double").alias("x"),
    )
    return exploded.groupBy("label", "dim").agg(
        _stable_avg(F.col("x"), 6).alias("avg_x"),
        F.count(F.lit(1)).alias("n"),
    )


def rolling_active_users(
    events: DataFrame,
    days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """N-day rolling distinct active users per day — the sliding
    COUNT(DISTINCT) that naive window functions cannot do at scale
    (count_distinct over a RANGE frame keeps every row in state).

    Contribution-explode shape: collapse to distinct (user, day)
    first (the small frame — one shuffle over activity, heavily
    combined map-side), then each activity day contributes to the N
    report days that include it (explode ×N of the SMALL frame, not
    the event log), distinct again, count per day.  Total shuffle
    volume is N × distinct-activity, independent of raw event count.
    Report days with no window activity are absent (standard
    semantics; left-join a calendar to densify)."""
    activity = (
        events.select(
            F.col(user_col).alias("user"),
            F.to_date(ts_col).alias("day"),
        )
        .where(F.col("day").isNotNull())
        .distinct()
    )
    contributions = activity.select(
        "user",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), days - 1),
            )
        ).alias("report_day"),
    )
    # a user active on several days inside one window must count once
    return (
        contributions.distinct()
        .groupBy("report_day")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int,
) -> DataFrame:
    """Regular-grid resampling with forward fill (LOCF) per key — the
    time-series gap-fill every TSDB ships (TimescaleDB
    ``time_bucket_gapfill`` + ``locf``, InfluxDB ``fill(previous)``),
    expressed Spark-first:

    1. observations collapse to one row per (key, ts) — ``max`` of
       the value, so ties are deterministic;
    2. each key's grid is generated IN-PLAN with ``sequence()`` from
       its epoch-aligned floor(min ts) to floor(max ts) — no driver
       loop, no calendar table to maintain;
    3. LOCF is ONE window pass: grid points union with observations,
       sort by (ts, grid-flag) so an observation AT a grid instant
       wins, and ``last(value, ignorenulls=True)`` carries the prior
       observation forward.  No per-grid-point join anywhere.

    A leading grid point before the key's first observation is
    returned with a NULL value (honest LOCF).  Scale shape: one
    shuffle on the key for the window; grid length is bounded by
    (key's time span / step), so output = keys x span/step regardless
    of raw event volume."""
    step = int(step_seconds)
    obs = df.groupBy(
        F.col(key_col).alias("_k"), F.col(ts_col).alias("_t")
    ).agg(F.max(value_col).alias("_v"))
    grid = (
        obs.groupBy("_k")
        .agg(F.min("_t").alias("_mn"), F.max("_t").alias("_mx"))
        .select(
            "_k",
            F.explode(
                F.sequence(
                    F.timestamp_seconds(
                        F.floor(F.unix_timestamp("_mn") / step) * step
                    ),
                    F.timestamp_seconds(
                        F.floor(F.unix_timestamp("_mx") / step) * step
                    ),
                    F.expr(f"interval {step} seconds"),
                )
            ).alias("_t"),
        )
    )
    u = obs.select("_k", "_t", "_v", F.lit(0).alias("_g")).unionByName(
        grid.select(
            "_k", "_t", F.lit(None).cast("double").alias("_v"),
            F.lit(1).alias("_g"),
        )
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_t", "_g")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        u.withColumn("_f", F.last("_v", ignorenulls=True).over(w))
        .filter(F.col("_g") == 1)
        .select(
            F.col("_k").alias(key_col),
            F.col("_t").alias("grid_ts"),
            F.col("_f").alias("v_ffill"),
        )
    )


def resample_interp(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int,
) -> DataFrame:
    """Regular-grid resampling with LINEAR INTERPOLATION per key —
    the gap-fill sibling of :func:`resample_ffill` (TimescaleDB
    ``time_bucket_gapfill`` + ``interpolate``): each grid point takes
    the value linearly interpolated between the last observation
    at-or-before it and the first observation after it.  A grid
    instant carrying an exact observation returns that observation;
    a grid point before the key's first observation is honestly NULL
    (nothing to anchor the left end).

    Same shape as ffill: one collapsed observation frame, the grid
    generated in-plan with ``sequence()``, grid+observations union,
    and TWO window passes over one (key)-partitioned sort — the
    carried-forward (ts, value) struct and the first-following one —
    never a per-grid-point join.  Interpolation arithmetic is written
    as ``pv + (nv - pv) * ((t - pt) / (nt - pt))`` over microsecond
    doubles, the exact expression the DuckDB oracle replays."""
    step = int(step_seconds)
    obs = df.groupBy(
        F.col(key_col).alias("_k"), F.col(ts_col).alias("_t")
    ).agg(F.max(value_col).alias("_v"))
    grid = (
        obs.groupBy("_k")
        .agg(F.min("_t").alias("_mn"), F.max("_t").alias("_mx"))
        .select(
            "_k",
            F.explode(
                F.sequence(
                    F.timestamp_seconds(
                        F.floor(F.unix_timestamp("_mn") / step) * step
                    ),
                    F.timestamp_seconds(
                        F.floor(F.unix_timestamp("_mx") / step) * step
                    ),
                    F.expr(f"interval {step} seconds"),
                )
            ).alias("_t"),
        )
    )
    u = obs.select("_k", "_t", "_v", F.lit(0).alias("_g")).unionByName(
        grid.select(
            "_k", "_t", F.lit(None).cast("double").alias("_v"),
            F.lit(1).alias("_g"),
        )
    )
    # observation rows sort BEFORE the grid row at the same instant,
    # so "previous" includes an exact-instant observation and "next"
    # never does — an exact hit resolves through the previous struct
    # with pt == t, where the interpolation fraction is 0.
    wp = (
        Window.partitionBy("_k")
        .orderBy("_t", "_g")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("_k")
        .orderBy("_t", "_g")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    ob_struct = F.when(
        F.col("_g") == 0, F.struct(F.col("_t").alias("t"), F.col("_v").alias("v"))
    )
    filled = (
        u.withColumn("_p", F.last(ob_struct, ignorenulls=True).over(wp))
        .withColumn("_n", F.first(ob_struct, ignorenulls=True).over(wn))
        .filter(F.col("_g") == 1)
    )
    tu = F.unix_micros("_t").cast("double")
    pu = F.unix_micros("_p.t").cast("double")
    nu = F.unix_micros("_n.t").cast("double")
    interp = F.when(pu == tu, F.col("_p.v")).otherwise(
        F.col("_p.v")
        + (F.col("_n.v") - F.col("_p.v")) * ((tu - pu) / (nu - pu))
    )
    return filled.select(
        F.col("_k").alias(key_col),
        F.col("_t").alias("grid_ts"),
        F.when(
            F.col("_p").isNotNull(), F.round(interp, 6)
        ).alias("v_interp"),
    )


class _Recurrence(NamedTuple):
    """A sequential per-key recurrence over one value column.
    ``step(xs, carry) -> (outs, carry)`` consumes one key's run of
    values (Python floats, in order) starting from the key's carry
    (``None`` before the key's first row) and returns one list per
    ``out_cols`` name plus the key's new carry; ``carry_type`` is the
    Spark type a carry is stored as in streaming state."""

    out_cols: tuple
    step: Callable
    carry_type: DataType


def _recur_key_runs(pdf, key_col, value_col, int_key, carries, rec):
    """Run ``rec`` over a key-sorted pandas frame: walk its contiguous
    key runs, continue each from its carry in ``carries`` (updated in
    place) and write ``rec.out_cols`` into ``pdf``.  Returns the last
    run's key.

    Null keys share one slot, ``carries[None]`` — a nullable numeric
    key arrives as float64 with NaN, and NaN != NaN must not split the
    null rows into one-row runs (ADVICE r16).  An integral key that
    pandas coerced to float64 (a batch holding nulls) goes back to
    ``int``, so it finds the carry stored under its exact value."""
    kser = pdf[key_col]
    isna = kser.isna().to_numpy()
    keys = kser.to_numpy()
    new_run = np.ones(len(keys), dtype=bool)
    new_run[1:] = (isna[1:] != isna[:-1]) | (
        ~isna[1:] & (keys[1:] != keys[:-1])
    )
    starts = np.flatnonzero(new_run).tolist()
    heads = kser.iloc[starts].tolist()
    xs = pdf[value_col].to_numpy(dtype=np.float64).tolist()
    outs = [[] for _ in rec.out_cols]
    k = None
    for s, e, head in zip(starts, starts[1:] + [len(xs)], heads):
        k = None if isna[s] else int(head) if int_key else head
        run_outs, carries[k] = rec.step(xs[s:e], carries.get(k))
        for out, run_out in zip(outs, run_outs):
            out.extend(run_out)
    for c, out in zip(rec.out_cols, outs):
        pdf[c] = out
    return k


def _map_key_runs(df, key_col, order_cols, value_col, rec) -> DataFrame:
    """Batch driver of ``rec``: one shuffle on the key, one key-sorted
    ``mapInPandas`` pass per partition (one Python call per Arrow
    batch, not per key — the per-group applyInPandas path paid
    ~3.4 ms x 1500 keys at sf0.1, optimization r16).  The input is
    key-sorted, so an earlier key never comes back: between Arrow
    batches only the last key's carry is kept, one carry per task."""
    schema = StructType(
        list(df.schema.fields)
        + [StructField(c, DoubleType()) for c in rec.out_cols]
    )
    cols = list(df.columns) + list(rec.out_cols)
    int_key = isinstance(df.schema[key_col].dataType, IntegralType)

    def _fn(batches):
        carries = {}
        for pdf in batches:
            last = _recur_key_runs(
                pdf, key_col, value_col, int_key, carries, rec
            )
            if len(pdf):
                carries = {last: carries[last]}
            yield pdf[cols]

    part = df.repartition(F.col(key_col)).sortWithinPartitions(
        key_col, *order_cols
    )
    return part.mapInPandas(_fn, schema)


def _ewma_recurrence(alpha: float, out_col: str = "ewma") -> _Recurrence:
    """``y_0 = x_0``, ``y_i = alpha*x_i + (1-alpha)*y_{i-1}``; the
    carry is the last ``y``."""
    a = float(alpha)
    one_minus = 1.0 - a

    def step(xs, prev):
        ys = []
        for x in xs:
            prev = x if prev is None else a * x + one_minus * prev
            ys.append(prev)
        return (ys,), prev

    return _Recurrence((out_col,), step, DoubleType())


def _holt_recurrence(alpha: float, beta: float) -> _Recurrence:
    """Holt's (level, trend) recurrence; the carry is the last
    ``[level, trend]``."""
    a = float(alpha)
    one_minus_a = 1.0 - a
    be = float(beta)
    one_minus_b = 1.0 - be

    def step(xs, carry):
        seen = carry is not None
        l_prev, b_prev = carry if seen else (0.0, 0.0)
        lev, tre = [], []
        for x in xs:
            if not seen:
                l_new = x
                b_new = 0.0
                seen = True
            else:
                l_new = a * x + one_minus_a * (l_prev + b_prev)
                b_new = be * (l_new - l_prev) + one_minus_b * b_prev
            lev.append(l_new)
            tre.append(b_new)
            l_prev, b_prev = l_new, b_new
        return (lev, tre), [l_prev, b_prev]

    return _Recurrence(
        ("level", "trend"), step, ArrayType(DoubleType())
    )


def ewma(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-key exponentially weighted moving average over the
    ``order_cols`` sequence: ``y_0 = x_0``,
    ``y_i = alpha * x_i + (1 - alpha) * y_{i-1}`` — metrics smoothing
    / anomaly baselines, the standard streaming-telemetry recurrence.

    This is a genuinely SEQUENTIAL per-key recurrence — no window
    function expresses it without numeric blowup (the closed form
    needs (1-alpha)^(-i) factors that overflow beyond ~1e3 rows) — so
    it crosses the Python boundary: one shuffle on the key, one
    key-sorted ``mapInPandas`` pass per partition (one Python call
    per Arrow batch, not per key; :func:`_map_key_runs`).  State per
    task is one carry, never corpus-sized.

    The recurrence is written EXPLICITLY as
    ``alpha * x + (1 - alpha) * y`` rather than via pandas'
    ``ewm(adjust=False)`` — pandas computes an algebraically equal
    but floating-point DIFFERENT expression (a normalizing division
    per step), which drifts a ulp per step and flips round-6 digits
    against an engine running the textbook recurrence (measured:
    2 of 10,000 rows at sf0.01).  With an ``alpha`` whose (1 - alpha)
    is exactly representable (0.5, 0.25, 0.75) this form is
    bitwise-reproducible against any IEEE engine.

    ``order_cols`` must be a TOTAL order within each key (e.g.
    ``(ts, event_id)``): ``sortWithinPartitions`` is not a stable
    sort, so rows tied on every order col may come back in either
    order and the recurrence result would be nondeterministic."""
    return _map_key_runs(
        df, key_col, order_cols, value_col, _ewma_recurrence(alpha, out_col)
    )


def hopping_window_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Overlapping (hopping) event-time windows: each event lands in
    window/slide buckets (``F.window`` with a slide duration — Spark
    expands the window list per row inside codegen, no UDF).  One
    aggregate with map-side partials; the row multiplication factor is
    window/slide (2 here), constant per event at any scale."""
    return (
        events.where(F.col(ts_col).isNotNull())
        .groupBy(F.window(F.col(ts_col), window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col(value_col).cast("decimal(28,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def pareto_top_customers(
    orders: DataFrame,
    top: int = 100,
    cust_col: str = "o_custkey",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """Revenue concentration: the top-N customers by exact total
    spend, with each customer's cumulative share of GLOBAL revenue.

    Scale shape: orders collapse to one row per customer (shuffle with
    map-side partials), then a TopK ``orderBy().limit(top)`` — Spark
    plans TakeOrderedAndProject, never a full global sort — and only
    the bounded top-N rows pass through the single-partition
    cumulative window.  The grand total rides along as a broadcast
    scalar."""
    by_cust = orders.groupBy(F.col(cust_col).alias("custkey")).agg(
        F.sum(F.col(amount_col).cast("decimal(28,6)")).alias("rev")
    )
    total = orders.agg(
        F.sum(F.col(amount_col).cast("decimal(28,6)")).alias("total_rev")
    )
    topn = by_cust.orderBy(F.col("rev").desc(), F.col("custkey")).limit(top)
    w = (
        Window.orderBy(F.col("rev").desc(), F.col("custkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        topn.crossJoin(F.broadcast(total))
        .withColumn("cum_rev", F.sum("rev").over(w))
        .select(
            "custkey",
            F.round("rev", 2).cast("double").alias("revenue"),
            F.round(
                F.col("cum_rev").cast("double")
                / F.col("total_rev").cast("double"),
                6,
            ).alias("cum_share"),
        )
    )


def association_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_item_count: int = 2,
    min_pair_count: int = 2,
) -> DataFrame:
    """Market-basket association rules over (basket, item) pairs:
    for every unordered item pair co-occurring in >= min_pair_count
    baskets, emit counts plus support / directional confidence /
    lift — the a-priori frequent-pairs mine (Agrawal & Srikant,
    VLDB'94) that a curation pipeline uses for co-occurrence
    structure (reference parity: the closest the reference gets is
    jq-side group counting, src/api.ts window reducers; this is the
    relational superset).

    Scale shape: pass 1 counts singletons (one shuffle, map-side
    partials) and keeps items with count >= min_item_count — the
    a-priori prune: a pair can only reach min_pair_count if both
    members reach it alone, so pruned items never enter the
    self-join.  The frequent-item set under any sane support
    threshold is orders of magnitude smaller than the basket table
    (bounded by distinct-item cardinality, not row count), so it
    rides a broadcast hash join with NO extra shuffle.  Pass 2
    self-joins the pruned baskets on the basket key — both sides
    hash-partition on the SAME key so AQE plans one exchange per
    side — and the per-basket pair blowup is bounded by the max
    basket size squared (TPC-H: 13^2), constant per basket at any
    scale.  The basket total rides along as a broadcast scalar
    (collect-free).  All ratios are integer-count divisions done in
    double with one rounding site, so results are order- and
    engine-stable.
    """
    d = baskets.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    n_baskets = d.agg(F.countDistinct("b").alias("n_baskets"))
    item_counts = d.groupBy("i").agg(F.count("*").alias("n_i"))
    frequent = item_counts.where(F.col("n_i") >= int(min_item_count))
    pruned = d.join(F.broadcast(frequent.select("i")), "i")
    left = pruned.select(F.col("b"), F.col("i").alias("ia"))
    right = pruned.select(F.col("b"), F.col("i").alias("ib"))
    pair_counts = (
        left.join(right, "b")
        .where(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("pair_n"))
        .where(F.col("pair_n") >= int(min_pair_count))
    )
    with_counts = (
        pair_counts.join(
            F.broadcast(frequent.select(F.col("i").alias("ia"),
                                        F.col("n_i").alias("n_a"))),
            "ia",
        )
        .join(
            F.broadcast(frequent.select(F.col("i").alias("ib"),
                                        F.col("n_i").alias("n_b"))),
            "ib",
        )
        .crossJoin(F.broadcast(n_baskets))
    )
    nb = F.col("n_baskets").cast("double")
    return with_counts.select(
        F.col("ia").alias("item_a"),
        F.col("ib").alias("item_b"),
        "pair_n",
        "n_a",
        "n_b",
        "n_baskets",
        F.round(F.col("pair_n").cast("double") / nb, 6).alias("support"),
        F.round(
            F.col("pair_n").cast("double") / F.col("n_a").cast("double"), 6
        ).alias("conf_ab"),
        F.round(
            F.col("pair_n").cast("double") / F.col("n_b").cast("double"), 6
        ).alias("conf_ba"),
        F.round(
            (F.col("pair_n").cast("double") * F.col("n_baskets"))
            / (F.col("n_a").cast("double") * F.col("n_b")),
            6,
        ).alias("lift"),
    )


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    attr_col: str,
    ts_col: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension (type 2) compaction: collapse a
    change log into validity intervals — one row per RUN of equal
    ``attr_col`` per key, with ``valid_from`` (first order value of
    the run), ``valid_to`` (the next run's start, NULL while
    current), ``n_events`` in the run, and ``is_current`` — the CDC
    dimension-history build every warehouse does on its mutation
    feeds.

    Scale shape: classic gaps-and-islands — two ``row_number``
    windows over the SAME (key)-partitioned sort (Spark plans one
    exchange + one sort, both windows ride it), their difference
    labels the run; one groupBy on (key, attr, run) with map-side
    partials; then ``lead`` over the per-key RUN rows (already
    reduced — bounded by change count, not event count).  No joins,
    no second shuffle of the raw events.
    """
    ts_col = ts_col or order_cols[0]
    order = [F.col(c) for c in order_cols]
    w_all = Window.partitionBy(key_col).orderBy(*order)
    w_attr = Window.partitionBy(key_col, attr_col).orderBy(*order)
    labeled = df.select(
        F.col(key_col).alias("k"),
        F.col(attr_col).alias("attr"),
        F.col(ts_col).alias("_ts"),
        F.row_number().over(w_all).alias("rn_all"),
        (F.row_number().over(w_all) - F.row_number().over(w_attr)).alias(
            "run"
        ),
    )
    runs = labeled.groupBy("k", "attr", "run").agg(
        F.min("_ts").alias("valid_from"),
        # run ordering key: the run's first GLOBAL row number — unlike
        # valid_from it can never tie (two runs may share a start
        # timestamp when the boundary events carry equal ts), so the
        # lead() below is deterministic.
        F.min("rn_all").alias("start_rn"),
        F.count("*").alias("n_events"),
    )
    w_runs = Window.partitionBy("k").orderBy("start_rn")
    return runs.select(
        F.col("k").alias(key_col),
        F.col("attr").alias(attr_col),
        "valid_from",
        F.lead("valid_from").over(w_runs).alias("valid_to"),
        "n_events",
    ).withColumn("is_current", F.col("valid_to").isNull())


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    threshold: float = 3.5,
) -> DataFrame:
    """Robust per-group outliers by modified z-score (Iglewicz &
    Hoaglin): flag rows where
    ``|0.6745 * (x - median) / MAD| > threshold`` with MAD the
    median absolute deviation — the outlier rule that survives the
    heavy tails that wreck plain z-scores (the ``zscore_outliers``
    twin's failure mode on power-law values).

    Scale shape: two aggregation passes (median, then MAD around it)
    — exact ``percentile`` per group, which Spark computes with a
    per-group sorted fold; the group count is bounded (event types /
    categories), never corpus-cardinality, so the exact quantile
    state stays small even when rows per group are huge.  Both
    per-group stat frames are broadcast back onto the events —
    stats rows == n_groups, always tiny — so the detail table is
    never shuffled at all: scan -> broadcast join -> filter, one
    stage.  Groups whose MAD is zero (constant-majority values)
    yield no outliers by definition, not a divide-by-zero.
    """
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    deviations = df.join(F.broadcast(med), group_col).withColumn(
        "_absdev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = deviations.groupBy(group_col).agg(
        F.expr("percentile(_absdev, 0.5)").alias("mad")
    )
    scored = (
        df.join(F.broadcast(med), group_col)
        .join(F.broadcast(mad), group_col)
        .where(F.col("mad") > 0)
        .withColumn(
            "mod_z",
            F.lit(0.6745) * (F.col(value_col) - F.col("med")) / F.col("mad"),
        )
    )
    return scored.where(F.abs(F.col("mod_z")) > float(threshold))


def holt(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.5,
) -> DataFrame:
    """Per-key Holt double exponential smoothing (level + linear
    trend): ``l_1 = x_1, b_1 = 0``;
    ``l_i = alpha*x_i + (1-alpha)*(l_{i-1} + b_{i-1})``,
    ``b_i = beta*(l_i - l_{i-1}) + (1-beta)*b_{i-1}`` — the
    trend-aware forecasting recurrence one step up from [[ewma]]
    (which a ramping series always lags).

    Like ``ewma`` this is a genuinely sequential two-state per-key
    recurrence — no closed form survives floating point beyond ~1e3
    rows — so it crosses the Python boundary the same way: one
    shuffle on the key, one key-sorted ``mapInPandas`` pass (one
    Python call per Arrow batch, not per key), a (level, trend)
    carry per task.  The arithmetic is written EXACTLY as the
    textbook expressions above (same parenthesisation as the oracle
    CTE), so with alpha/beta whose complements are exactly
    representable (0.5, 0.25, 0.75) the doubles are bitwise equal on
    any IEEE engine.  Emits raw ``level`` and ``trend`` doubles —
    rounding is the comparer's job (engine round() rules disagree on
    exact .5-boundary doubles; see ewma's note).

    ``order_cols`` must be a TOTAL order within each key — see
    ewma's note on ``sortWithinPartitions`` instability under ties.
    """
    return _map_key_runs(
        df, key_col, order_cols, value_col, _holt_recurrence(alpha, beta)
    )


def ntile_profile(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    n_tiles: int = 10,
) -> DataFrame:
    """Equal-frequency binning profile: NTILE(n) over the value
    (deterministic tie order via ``tiebreak_cols``), then per-bin
    count / min / max / mean — the quantile-bucket feature profile
    (equal-POPULATION bins, where [[value-histogram]] is
    equal-WIDTH).

    Scale shape: a naive ``ntile().over(Window.orderBy(...))`` moves
    the WHOLE table into one partition (Spark's unpartitioned-window
    plan) — the classic global-rank trap.  This operator computes the
    exact global rank the distributed way instead, with DRIVER-FROZEN
    bucket boundaries so every pass sees the identical partitioning
    (``repartitionByRange`` re-SAMPLES split points per action, which
    desynchronized the count pass from the rank pass — measured, 11
    tiles from 10): one ``approxQuantile`` pass picks ~equi-depth cut
    values, frozen as plan literals; a deterministic bucket id
    (`count of cuts < value`, a JVM-side lambda over a literal
    array) keys both the per-bucket count aggregate (metadata-sized,
    prefix-summed on the driver) and one ``applyInPandas`` pass that
    sorts each bucket and adds ``offset + position``.  Bucket
    placement only affects BALANCE — buckets are contiguous value
    ranges, so the rank is exact whatever the cuts — and each bucket
    holds ~N/P rows, the same memory envelope as a range-sort
    partition.  The ANSI NTILE bucket arithmetic (first ``N mod n``
    buckets take the extra row) is then pure column math, and the
    per-bin aggregate reduces with map-side partials.  The detail
    rows shuffle exactly ONCE (the bucket exchange), regardless of
    scale.
    """
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    order_cols = [value_col] + list(tiebreak_cols)
    base = df.where(F.col(value_col).isNotNull()).select(*order_cols)
    n_buckets = base.sparkSession.sparkContext.defaultParallelism
    cuts = sorted(
        set(
            base.approxQuantile(
                value_col,
                [i / n_buckets for i in range(1, n_buckets)],
                0.001,
            )
        )
    )
    if cuts:
        cuts_arr = F.array(*[F.lit(float(c)) for c in cuts])
        bucket = F.size(
            F.filter(cuts_arr, lambda c: c < F.col(value_col))
        ).alias("_bkt")
    else:
        bucket = F.lit(0).alias("_bkt")
    bucketed = base.select("*", bucket)
    sizes = {
        r["_bkt"]: r["cnt"]
        for r in bucketed.groupBy("_bkt")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    total = sum(sizes.values())
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(sizes):
        offsets[b] = acc
        acc += sizes[b]

    schema = StructType(
        [f for f in base.schema.fields]
        + [StructField("rank", LongType())]
    )

    def _rank(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        pos = offsets[int(pdf["_bkt"].iloc[0])]
        pdf = pdf.drop(columns=["_bkt"])
        pdf["rank"] = np.arange(pos + 1, pos + 1 + len(pdf), dtype="int64")
        return pdf

    ranked = bucketed.groupBy("_bkt").applyInPandas(_rank, schema)
    n = int(n_tiles)
    q, r = divmod(total, n) if total else (0, 0)
    big_sz = q + 1
    k0 = F.col("rank") - 1  # 0-based rank
    cutoff = r * big_sz  # rows living in the (q+1)-sized buckets
    tile = F.when(
        k0 < cutoff, F.floor(k0 / F.lit(big_sz)) + 1
    ).otherwise(
        F.lit(r) + F.floor((k0 - cutoff) / F.lit(max(q, 1))) + 1
    )
    return (
        ranked.withColumn("tile", tile.cast("int"))
        .groupBy("tile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min(value_col), 6).alias("min_v"),
            F.round(F.max(value_col), 6).alias("max_v"),
            _stable_avg(F.col(value_col)).alias("avg_v"),
        )
    )


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    top_k: int = 5,
) -> DataFrame:
    """Join/groupBy-key skew diagnostics: per-key row counts reduced
    to the distribution stats that predict shuffle behaviour —
    n_keys, mean/max rows per key, exact p50/p99 of the count
    distribution, max/mean skew ratio — plus the top-K heavy keys,
    each stat row carrying the globals.  This is the profile you run
    BEFORE a 100 TB join to decide broadcast vs shuffle vs salting
    (the engine's own salted_join_revenue / AQE skew handling are the
    consumers of exactly this signal).

    Scale shape: one shuffle to per-key counts (map-side partials
    collapse the detail rows, so the shuffle carries one record per
    key); the stats aggregate over counts is a single reduction whose
    input is key-cardinality-sized; the heavy-key TopK is
    TakeOrderedAndProject (no global sort); globals ride a broadcast
    cross join.  Percentiles over per-key counts are exact
    ``percentile`` — the count frame is already reduced, so exact is
    affordable at any detail scale.
    """
    counts = df.where(F.col(key_col).isNotNull()).groupBy(
        F.col(key_col).alias("key")
    ).agg(F.count("*").alias("n_rows"))
    stats = counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("n_rows").alias("total_rows"),
        F.max("n_rows").alias("max_rows"),
        F.expr("percentile(n_rows, 0.5)").alias("p50_rows"),
        F.expr("percentile(n_rows, 0.99)").alias("p99_rows"),
    ).select(
        "n_keys",
        "total_rows",
        "max_rows",
        F.round("p50_rows", 4).alias("p50_rows"),
        F.round("p99_rows", 4).alias("p99_rows"),
        F.round(
            F.col("max_rows")
            / (F.col("total_rows").cast("double") / F.col("n_keys")),
            4,
        ).alias("skew_ratio"),
    )
    top = (
        counts.orderBy(F.col("n_rows").desc(), F.col("key"))
        .limit(int(top_k))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("n_rows").desc(), F.col("key"))
            ),
        )
    )
    return top.crossJoin(F.broadcast(stats)).select(
        "rank", "key", "n_rows", "n_keys", "total_rows", "max_rows",
        "p50_rows", "p99_rows", "skew_ratio",
    )
