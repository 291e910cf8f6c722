"""Optimization r17: the winnowing window-min Arrow kernel
(attach_winnow_fingerprints) must be BIT-IDENTICAL to the Catalyst
Column fold (winnow_fingerprints) — same minima, same first-occurrence
distinct order, same null/empty semantics; plus the ADVICE r16 fixes
(null-key ewma/holt grouping) and the stream-partition invariance pin
(VERDICT r16 next #8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdp_spark.datapipe import dedup as ddp
from cdp_spark.session import load_table

SF = "/root/testdata/sf0.001"


def _edge_rows(spark):
    return spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "short"),                       # shorter than k -> no grams
            (5, "exactly twenty chars"),        # == k -> one gram
            (6, "a" * 25),                      # < k + w - 1 grams -> one window
            (7, "abcdefghij" * 20),             # repeating -> duplicate minima
            (8, "x" * 500),                     # constant grams -> one distinct fp
        ],
        "doc_id long, text string",
    )


def _docs(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    return docs.unionByName(_edge_rows(spark))


@pytest.mark.parametrize(
    "k,w,hash_fn",
    [(20, 8, ddp.md5_hash60), (30, 12, ddp.md5_hash60), (20, 8, None)],
)
def test_winnow_kernel_matches_column_fold(spark, k, w, hash_fn):
    docs = _docs(spark)
    new = ddp.attach_winnow_fingerprints(
        docs, ["doc_id"], "text", k=k, w=w, hash_fn=hash_fn, out="fps"
    )
    old = docs.select(
        "doc_id",
        ddp.winnow_fingerprints(
            F.col("text"), k=k, w=w, hash_fn=hash_fn
        ).alias("fps"),
    )
    got = {r.doc_id: r.fps for r in new.collect()}
    want = {r.doc_id: r.fps for r in old.collect()}
    assert got and got == want


def test_winnow_kernel_explode_join_shape_runs(spark):
    """The consumers explode the kernel output and join on fp (batch
    AND streaming flag paths) — prove the mapInPandas node composes
    under Generate + join, the shape that blocked the r16 scalar-UDF
    prototype."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    pairs = ddp.exact_substring_pairs(
        docs, "doc_id", "text", k=20, w=8, hash_fn=ddp.md5_hash60
    )
    assert pairs.count() > 0


def _sq_dists_to(vec_col, cents):
    """Array of squared-L2 distances from a vector column to each
    centroid literal, each summed per dimension in sequence."""
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    vec_col,
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in cents
        ]
    )


def _legacy_sq_argmin(vec_col, cents):
    dists = _sq_dists_to(vec_col, cents)
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("long")


def _legacy_dot_argmax(vec_col, anchors):
    from cdp_spark.datapipe.similarity import dot

    anchors_col = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("i"),
                F.array(*[F.lit(x) for x in a]).alias("a"),
            )
            for i, a in enumerate(anchors)
        ]
    )
    scores = F.transform(
        anchors_col,
        lambda s: F.struct(dot(vec_col, s["a"]).alias("s"), s["i"].alias("i")),
    )
    return F.array_max(scores)["i"]


def test_centroid_argmin_kernel_matches_column_fold(spark):
    """kmeans_fit/_ivf_meta_assign assignment: the Arrow argmin kernel
    must equal the interpreted _sq_dists_to fold row-for-row on real
    embeddings PLUS exact-tie rows (duplicate centroids, a vector
    equal to a centroid) — the sequential-summation + first-minimum
    contract the oracle replay pins."""
    from cdp_spark.datapipe.similarity import _anchor_set, kmeans_fit

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    cents, assigned = kmeans_fit(emb, 64, k=8, iters=2, seed=7)
    # duplicate a centroid so some distances tie exactly, and add a
    # vector AT a centroid (distance 0 twice)
    cents_tie = [list(c) for c in cents]
    cents_tie[5] = list(cents_tie[2])
    tie_rows = spark.createDataFrame(
        [
            (100001, [float(x) for x in cents_tie[2]]),
            (100002, None),  # NULL embedding
            (100003, [1.0, 2.0]),  # shorter than the model's dim
        ],
        "vec_id long, embedding array<float>",
    )
    docs = emb.unionByName(tie_rows)
    old = docs.select(
        "vec_id", _legacy_sq_argmin(F.col("embedding"), cents_tie).alias("cid")
    )
    from cdp_spark.datapipe._kernels import (
        attach_kernel_column_batch,
        centroid_argmin_fn,
    )
    from pyspark.sql.types import LongType, StructField

    new = attach_kernel_column_batch(
        docs,
        ["vec_id"],
        F.col("embedding"),
        StructField("cid", LongType()),
        centroid_argmin_fn(cents_tie),
    )
    got = {r.vec_id: r.cid for r in new.collect()}
    want = {r.vec_id: r.cid for r in old.collect()}
    assert got and got == want
    # final kmeans_fit assignment itself matches the legacy fold
    got_fit = {r[0]: r[2] for r in assigned.collect()}
    want_fit = {
        r.vec_id: r.cid
        for r in emb.select(
            "vec_id", _legacy_sq_argmin(F.col("embedding"), cents).alias("cid")
        ).collect()
    }
    assert got_fit == want_fit
    # embedding_outliers computes only the assigned centroid's
    # distance; it must equal that entry of the full distance array
    from cdp_spark.datapipe.similarity import embedding_outliers

    out = embedding_outliers(emb, 64, k=8, top_k=3, prefit=(cents, assigned))
    got_d = {(r.vec_id, r.cid): r.dist for r in out.collect()}
    dists = _sq_dists_to(F.col("_v"), cents)
    want_d = {
        (r.vec_id, r.cid): r.dist
        for r in assigned.select(
            "vec_id",
            "cid",
            F.round(
                F.sqrt(F.element_at(dists, F.col("cid").cast("int") + 1)), 6
            ).alias("dist"),
        ).collect()
    }
    assert got_d and all(want_d[key] == d for key, d in got_d.items())


def test_anchor_argmax_kernel_matches_column_fold(spark):
    """ivf_assign: the Arrow dot-argmax kernel must equal the
    transform + array_max(struct) fold — including the
    ties-to-the-HIGHEST-index rule (duplicate anchors) and the
    zero-vector all-tie case."""
    from cdp_spark.datapipe.similarity import _anchor_set, ivf_assign

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    extra = spark.createDataFrame(
        [
            (100001, [0.0] * 64),
            (100002, None),  # NULL embedding
            (100003, [1.0, 2.0]),  # shorter than the model's dim
        ],
        "vec_id long, embedding array<float>",
    )
    docs = emb.unionByName(extra)
    anchors = _anchor_set(64, 16, 7)
    anchors[9] = list(anchors[4])  # exact score ties -> highest index
    old = docs.select(
        "vec_id",
        _legacy_dot_argmax(F.col("embedding"), anchors).alias("centroid"),
    )
    from cdp_spark.datapipe._kernels import (
        anchor_argmax_fn,
        attach_kernel_column_batch,
    )
    from pyspark.sql.types import LongType, StructField

    new = attach_kernel_column_batch(
        docs,
        ["vec_id"],
        F.col("embedding"),
        StructField("centroid", LongType()),
        anchor_argmax_fn(anchors),
    )
    got = {r.vec_id: r.centroid for r in new.collect()}
    want = {r.vec_id: r.centroid for r in old.collect()}
    assert got and got == want
    # the shipped ivf_assign (un-doctored anchors) also agrees with
    # the legacy fold end-to-end
    got2 = {
        r.vec_id: r.centroid
        for r in ivf_assign(emb, 64, 16, "vec_id", "embedding", 7).collect()
    }
    want2 = {
        r.vec_id: r.centroid
        for r in emb.select(
            "vec_id",
            _legacy_dot_argmax(
                F.col("embedding"), _anchor_set(64, 16, 7)
            ).alias("centroid"),
        ).collect()
    }
    assert got2 == want2


def test_ewma_holt_null_keys_form_one_group(spark):
    """ADVICE r16: a nullable numeric key arrives in pandas as float64
    with NaN, and NaN != NaN would reset the recurrence on every
    null-key row.  All null keys must chain as ONE group, exactly like
    the old groupBy().applyInPandas path treated them."""
    from cdp_spark.datapipe.analytics import ewma, holt

    rows = [
        (None, 1, 4.0),
        (None, 2, 8.0),
        (None, 3, 2.0),
        (7, 1, 1.0),
        (7, 2, 5.0),
    ]
    df = spark.createDataFrame(rows, "k long, i long, x double")
    got = {(r.k, r.i): r.ewma for r in ewma(df, "k", ["i"], "x", 0.5).collect()}
    # null-key chain: 4.0, then .5*8+.5*4=6.0, then .5*2+.5*6=4.0
    assert got[(None, 1)] == 4.0
    assert got[(None, 2)] == 6.0
    assert got[(None, 3)] == 4.0
    assert got[(7, 1)] == 1.0 and got[(7, 2)] == 3.0
    got_h = {
        (r.k, r.i): (r.level, r.trend)
        for r in holt(df, "k", ["i"], "x", 0.5, 0.5).collect()
    }
    # null-key chain: l1=4 b1=0; l2=.5*8+.5*4=6 b2=.5*2+0=1;
    # l3=.5*2+.5*7=4.5 b3=.5*(4.5-6)+.5*1=-0.25
    assert got_h[(None, 1)] == (4.0, 0.0)
    assert got_h[(None, 2)] == (6.0, 1.0)
    assert got_h[(None, 3)] == (4.5, -0.25)
    assert got_h[(7, 1)] == (1.0, 0.0)


def test_stream_results_invariant_to_shuffle_partitions(spark, tmp_path):
    """VERDICT r16 next #8: the whole stream-partition sizing change
    (_stream_shuffle_conf) rests on keyed state being hash-partitioned
    by key, hence partition-count-invariant.  Pin it: the same keyed
    streaming aggregation at 2 and at 16 shuffle partitions must
    produce identical results."""
    import json

    from cdp_spark.streaming.analytics import stream_time_window_agg

    src = tmp_path / "src"
    src.mkdir(parents=True)
    rows = [
        {"user_id": i % 7, "ts": f"2024-01-01 0{i % 9}:00:00", "value": float(i)}
        for i in range(60)
    ]
    rows.append({"user_id": 99, "ts": "2024-01-02 00:00:00", "value": 0.0})
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    results = {}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in (2, 16):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            stream = (
                spark.readStream.schema(
                    "user_id long, ts timestamp, value double"
                ).json(str(src))
            )
            out = stream_time_window_agg(
                stream, window="1 hour", watermark="10 minutes",
                keys=["user_id"],
            )
            name = f"sp_inv_{n}"
            q = (
                out.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / f"ck{n}"))
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(240), q.status
            results[n] = sorted(
                (str(r["window_start"]), r["user_id"], r["n_events"],
                 r["sum_value"])
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert results[2] == results[16] and len(results[2]) > 0


@pytest.mark.parametrize("op", ["ewma", "holt"])
def test_bucketed_stream_state_equals_per_key(spark, tmp_path, monkeypatch, op):
    """stream_ewma/stream_holt group state by pmod(xxhash64(key), K)
    and run the per-key recurrence inside the bucket: on rows that
    arrive in order, the stream must be BIT-IDENTICAL to the batch
    operator, including null keys (carried in the map-less slot) and
    cross-batch state carry — at the shipped K and at K = 1, where
    every key, null included, shares one bucket."""
    import json
    import os

    from cdp_spark.datapipe.analytics import ewma, holt
    from cdp_spark.streaming import analytics as sa

    src = tmp_path / "src"
    src.mkdir(parents=True)
    mt = [1_700_000_000]
    for b in range(3):  # 3 micro-batches -> state carries across triggers
        rows = [
            {
                "event_id": b * 100 + i,
                "user_id": (None if i % 11 == 0 else i % 7),
                "value": float((b * 100 + i) % 13) / 3.0,
            }
            for i in range(40)
        ]
        p = src / f"b{b}.json"
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        mt[0] += 10
        os.utime(p, (mt[0], mt[0]))
    schema = "event_id long, user_id long, value double"

    def run(name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        if op == "ewma":
            out = sa.stream_ewma(
                stream, "user_id", ["event_id"], "value", alpha=0.5
            )
        else:
            out = sa.stream_holt(
                stream, "user_id", ["event_id"], "value", alpha=0.5, beta=0.5
            )
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / ("ck_" + name)))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240), q.status
        return sorted(map(tuple, spark.sql(f"SELECT * FROM {name}").collect()))

    rows = spark.read.schema(schema).json(str(src))
    if op == "ewma":
        batch = ewma(rows, "user_id", ["event_id"], "value", 0.5)
    else:
        batch = holt(rows, "user_id", ["event_id"], "value", 0.5, 0.5)
    want = sorted(map(tuple, batch.collect()))
    assert len(want) == 120
    assert run(f"bk_{op}_default") == want
    monkeypatch.setattr(sa, "STATE_BUCKETS", 1)
    assert run(f"bk_{op}_1") == want
