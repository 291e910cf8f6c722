"""Round-14 operator contracts: the IVF-PQ exact-refine stage and
quality-aware near-dedup survivorship.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cdp_spark.datapipe import dedup as ddp
from cdp_spark.datapipe import similarity as sim
from cdp_spark.session import load_table
from tests.oracles import cosine_topk

SF = "/root/testdata/sf0.001"


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_pq_refine_restores_exact_ranking_over_candidates(spark):
    """The refine stage's whole point: within the candidate set the
    ranking is EXACT cosine — so with candidates covering everything
    (n_probe = all lists, n_candidates = corpus) the top-k equals the
    brute-force exact scan, which plain ADC ranking does not."""
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    refined = sim.ivf_pq_refine_topk(
        emb, qv, k=10, n_candidates=n, n_centroids=16, n_probe=16,
        round_digits=4,
    ).select("vec_id", "cosine_sim")
    exact = cosine_topk(emb, qv, k=10, round_digits=4)
    assert _rows(refined) == _rows(exact)


def test_pq_refine_candidates_come_from_adc_stage(spark):
    """With a tight candidate budget the result is exactly the exact-
    cosine re-rank OF the ADC top-R — never of anything outside it."""
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    r = 25
    cands = {
        row["vec_id"]
        for row in sim.ivf_pq_topk(
            emb, qv, k=r, n_centroids=16, n_probe=4
        ).collect()
    }
    refined = sim.ivf_pq_refine_topk(
        emb, qv, k=10, n_candidates=r, n_centroids=16, n_probe=4,
        round_digits=4,
    )
    got = _rows(refined.select("vec_id", "cosine_sim"))
    assert {v for v, _ in got} <= cands
    # and the order within the candidate set is exact cosine
    manual = sorted(
        _rows(
            cosine_topk(
                emb.filter(F.col("vec_id").isin(*cands)), qv,
                k=10, round_digits=4,
            )
        )
    )
    assert sorted(got) == manual


def test_pq_refine_join_broadcasts(spark):
    """The refine join must broadcast the R candidate ids — a shuffle
    join over the corpus would defeat the stage's purpose at scale."""
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    out = sim.ivf_pq_refine_topk(emb, qv, k=10, n_candidates=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_keep_best_survivorship_policy(spark):
    """Per cluster: the longest member survives (ties to lowest id);
    singletons pass through as their own component with n_members=1;
    the surviving set covers every component exactly once."""
    docs = load_table(spark, SF, "documents")
    # components from the same blocking graph the query uses
    from __spark_entry__ import q_dup_clusters

    comp = q_dup_clusters(spark, SF).withColumnRenamed("doc_id", "id")
    out = ddp.near_dedup_best_survivors(docs, "doc_id", comp, "n_chars")
    rows = out.select(
        "doc_id", "n_chars", "component", "n_members"
    ).collect()
    comp_map = {r["id"]: r["component"] for r in comp.collect()}
    chars = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    # group ALL docs by effective component
    groups: dict[int, list[int]] = {}
    for d in chars:
        groups.setdefault(comp_map.get(d, d), []).append(d)
    assert len(rows) == len(groups)
    for r in rows:
        members = groups[r["component"]]
        assert r["n_members"] == len(members)
        best = sorted(members, key=lambda d: (-chars[d], d))[0]
        assert r["doc_id"] == best
    # exactly one survivor per component
    assert len({r["component"] for r in rows}) == len(rows)


def test_resample_ffill_locf_semantics(spark):
    """Hand-built series pin the gap-fill contract: epoch-aligned
    grid per key's own span, last observation carried forward, an
    observation AT a grid instant wins, a leading grid point before
    the first observation is NULL, and keys never leak into each
    other."""
    from cdp_spark.datapipe.analytics import resample_ffill

    rows = [
        # key 1: obs at 100s (v=1.0), 250s (v=2.0); step 100 ->
        # grid 100, 200: 100 has an exact obs, 200 carries 1.0
        (1, 100, 1.0),
        (1, 250, 2.0),
        # key 2: obs at 150s, 399s; grid 100 (before first obs ->
        # NULL), 200, 300 (carry 5.0)
        (2, 150, 5.0),
        (2, 399, 7.0),
    ]
    df = spark.createDataFrame(
        rows, "k int, s long, value double"
    ).select("k", F.timestamp_seconds("s").alias("ts"), "value")
    out = {
        (r["k"], int(r["grid_ts"].timestamp())): r["v_ffill"]
        for r in resample_ffill(df, "k", "ts", "value", 100).collect()
    }
    assert out == {
        (1, 100): 1.0,
        (1, 200): 1.0,
        (2, 100): None,
        (2, 200): 5.0,
        (2, 300): 5.0,
    }


def test_resample_ffill_single_window_pass(spark):
    """The LOCF must be ONE window pass over the union — no
    per-grid-point join (a join against observations per grid point
    is the scale anti-pattern this operator exists to avoid)."""
    from cdp_spark.datapipe.analytics import resample_ffill

    ev = load_table(spark, SF, "events")
    out = resample_ffill(ev, "user_id", "ts", "value", 21600)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    import re

    # unions and aggregates only — LOCF itself introduces no join
    assert not re.search(r"(BroadcastHash|SortMerge|ShuffledHash)Join",
                         plan), plan[:2000]


def test_containment_asymmetry_and_bounds(spark):
    """The asymmetric contract Jaccard cannot express: a document
    embedded whole inside a larger one scores 1.0 in the contained
    direction and < 1 the other way; identical docs score 1.0 both
    ways; disjoint docs 0.0; empty docs 0.0 (not NaN)."""
    rows = [
        (1, "a b c d e"),
        (2, "x y a b c d e z w q r s t u v"),  # contains doc 1's grams
        (3, "a b c d e"),
        (4, "p q r"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    t = {r[0]: r[1] for r in rows}

    def cont(x, y):
        return df.selectExpr("1").limit(1).select(
            F.round(ddp.containment(F.lit(t[x]), F.lit(t[y])), 4)
            .alias("c")
        ).first()["c"]

    assert cont(1, 2) == 1.0          # 1 embedded in 2
    assert cont(2, 1) < 1.0           # 2 not contained in 1
    assert cont(1, 3) == 1.0 == cont(3, 1)  # identical
    assert cont(1, 4) == 0.0          # disjoint
    assert cont(5, 1) == 0.0          # empty numerator side


def test_minhash_band_plan_s_curve_properties(spark):
    """The planner's output obeys the S-curve's analytic facts: fp
    falls and fn rises as rows grow at fixed num_perm (more rows =
    stricter bands), exactly one chosen row, the chosen row minimizes
    the weighted error, and the classic 128-perm/0.5-threshold
    planning picks a mid-granularity banding (neither 1 band nor 128
    bands — the degenerate ends are dominated)."""
    out = ddp.minhash_band_plan(
        spark, num_perm=128, threshold=0.5, grid=100
    ).collect()
    by_rows = sorted(out, key=lambda r: r["rows"])
    fns = [r["fn"] for r in by_rows]
    fps = [r["fp"] for r in by_rows]
    assert all(a <= b + 1e-9 for a, b in zip(fns, fns[1:]))
    assert all(a >= b - 1e-9 for a, b in zip(fps, fps[1:]))
    chosen = [r for r in out if r["chosen"]]
    assert len(chosen) == 1
    assert chosen[0]["error"] == min(r["error"] for r in out)
    assert 1 < chosen[0]["bands"] < 128


def test_keep_best_broadcasts_components(spark):
    """The component map is a near-dup-density fraction of the corpus
    — the survivorship joins must broadcast it, never shuffle the
    corpus for it.  VERDICT r14 #2 pin: the ONLY hash exchange in the
    plan is the window's repartition of the LINKED SUBSET (keyed by
    component, downstream of the inner broadcast join); the corpus
    branch (the anti-join that passes singletons through) has no
    exchange at all, so the plan carries exactly one
    `Exchange hashpartitioning` total — the r14 bug was a SECOND full
    -corpus one."""
    docs = load_table(spark, SF, "documents")
    comp = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") - F.col("doc_id") % 2).alias("component"),
    ).limit(50)
    out = ddp.near_dedup_best_survivors(docs, "doc_id", comp, "n_chars")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 1, plan[:4000]
    assert "component" in exchanges[0], exchanges[0]
