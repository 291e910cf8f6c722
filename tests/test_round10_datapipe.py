"""Model tests for the round-10 operators: each checks the Spark
implementation against an independent pure-Python reference on one
batched DataFrame (the Spark-friendly property-test shape — see
test_round9_properties.py).

- gopher_signals against a from-the-definition Python model (Counter
  arithmetic + Decimal HALF_UP rounding, mirroring Spark's round()).
- edit_distance_near_dups: planted lightly-edited duplicates must
  surface with the exact Levenshtein distance; non-colliding
  documents must not (candidate-bounded verification).
- hard_negatives against numpy brute-force (set equality per anchor,
  similarity tolerance for the float tail).
- temperature_mix against a Python replay of the integer-exact
  weight derivation and md5 bucket test.
- perplexity_buckets: structural properties (per-language ntile
  balance, head <= middle <= tail perplexity ordering).
"""

from __future__ import annotations

import hashlib
import math
import random
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import functions as F

from cdp_spark.datapipe import dedup as ddp
from cdp_spark.datapipe.quality_rules import (
    GOPHER_STOPWORDS,
    gopher_filter,
    gopher_signals,
)
from cdp_spark.datapipe.sampling import temperature_mix
from cdp_spark.datapipe.similarity import hard_negatives
from cdp_spark.datapipe.text import perplexity_buckets


def _r(x: float, digits: int = 6) -> float:
    """Spark's round(): HALF_UP on the exact binary double."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))


def _frac(a, b, digits: int = 6) -> float:
    return _r(a / b, digits) if b > 0 else 0.0


def _py_gopher(text: str) -> dict:
    import re

    # mirror cdp_spark.datapipe.text.tokens exactly: Spark's trim
    # removes SPACES only, and split(limit=-1) keeps leading/trailing
    # empty tokens (so does DuckDB's string_split_regex — the pinned
    # corpus-wide convention)
    t = text.strip(" ")
    words = re.split(r"\s+", t) if t else []
    lines = [l.strip(" ") for l in text.split("\n")]
    lines = [l for l in lines if l]
    nonspace = len(re.sub(r"\s", "", text))
    n_words = len(words)
    sig: dict = {"n_words": n_words, "n_lines": len(lines)}
    sig["mean_word_len"] = _frac(sum(len(w) for w in words), n_words)
    hash_chars = text.count("#")
    ellipsis_occ = 0
    rest = text
    while "..." in rest:  # non-overlapping left-to-right, like replace()
        rest = rest.replace("...", "", 1)
        ellipsis_occ += 1
    sig["symbol_word_ratio"] = _frac(hash_chars + ellipsis_occ, n_words)
    sig["alpha_word_frac"] = _frac(
        sum(1 for w in words if any(c.isalpha() and c.isascii() for c in w)), n_words
    )
    lowered = {w.lower() for w in words}
    sig["stop_hits"] = sum(1 for s in GOPHER_STOPWORDS if s in lowered)
    n_lines = len(lines)
    sig["bullet_line_frac"] = _frac(
        sum(1 for l in lines if l[:1] in ("-", "*", "•")), n_lines
    )
    sig["ellipsis_line_frac"] = _frac(
        sum(1 for l in lines if l.endswith("...") or l.endswith("…")), n_lines
    )
    lc = Counter(lines)
    sig["dup_line_frac"] = _frac(sum(c - 1 for c in lc.values()), n_lines)
    sig["dup_line_char_frac"] = _frac(
        sum((c - 1) * len(l) for l, c in lc.items()),
        sum(len(l) for l in lines),
    )

    def grams(n):
        if len(words) < n:
            return []
        return [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]

    for n in (2, 3, 4):
        c = Counter(grams(n))
        if c:
            maxc = max(c.values())
            item = min(g for g, v in c.items() if v == maxc)
            mass = maxc * len(item.replace(" ", "")) if maxc >= 2 else 0
        else:
            mass = 0
        sig[f"top_{n}gram_char_frac"] = _frac(mass, nonspace)
    for n in (5, 10):
        c = Counter(grams(n))
        mass = sum(v * len(g.replace(" ", "")) for g, v in c.items() if v >= 2)
        sig[f"dup_{n}gram_char_frac"] = _frac(mass, nonspace)
    return sig


def _random_doc(rnd: random.Random) -> str:
    vocab = ["the", "of", "and", "alpha", "beta", "gamma", "x1", "##", "...", "—"]
    lines = []
    for _ in range(rnd.randint(1, 6)):
        n = rnd.randint(0, 12)
        toks = [rnd.choice(vocab) for _ in range(n)]
        if rnd.random() < 0.3 and toks:
            toks = toks + toks[: rnd.randint(1, len(toks))]  # plant repetition
        line = " ".join(toks)
        if rnd.random() < 0.2:
            line = "- " + line
        if rnd.random() < 0.2:
            line = line + "..."
        lines.append(line)
    if rnd.random() < 0.3 and lines:
        lines.append(rnd.choice(lines))  # duplicate line
    return "\n".join(lines)


def test_gopher_signals_match_python_model(spark):
    rnd = random.Random(1007)
    docs = [(i, _random_doc(rnd)) for i in range(80)]
    docs = [(i, t) for i, t in docs if t.strip()]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = (
        df.select("doc_id", "text", gopher_signals(F.col("text")).alias("g"))
        .select("doc_id", "text", "g.*")
        .collect()
    )
    assert len(rows) == len(docs)
    for row in rows:
        want = _py_gopher(row["text"])
        for k, v in want.items():
            got = row[k]
            assert got == v, (
                f"doc {row['doc_id']} field {k}: spark={got} python={v}\n"
                f"text={row['text']!r}"
            )


def test_gopher_filter_thresholds(spark):
    # >= 50 words, >= 2 stopwords, mean word length in [3, 10], no
    # repeated n-grams (every filler word distinct)
    good = "the cat sat with a dog and " + " ".join(
        f"word{i}x" for i in range(60)
    )
    bad_short = "tiny doc"
    bad_symbols = "the be to of and that have with " + "# " * 40 + " ".join(
        f"u{i}" for i in range(30)
    )
    df = spark.createDataFrame(
        [(0, good), (1, bad_short), (2, bad_symbols)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["p"]
        for r in df.select(
            "doc_id", gopher_filter(gopher_signals(F.col("text"))).alias("p")
        ).collect()
    }
    assert out[0] is True
    assert out[1] is False  # under min_words
    assert out[2] is False  # symbol ratio


def test_edit_distance_near_dups_planted(spark):
    rnd = random.Random(4242)
    vocab = [f"tok{i}" for i in range(400)]
    base = [
        " ".join(rnd.choice(vocab) for _ in range(30)) for _ in range(40)
    ]
    docs = [(i, t) for i, t in enumerate(base)]
    # planted near-dups: one token swapped — high shingle overlap,
    # tiny edit distance
    planted = []
    for j in range(5):
        toks = base[j].split()
        toks[7] = "EDITED"
        planted.append((100 + j, " ".join(toks)))
    df = spark.createDataFrame(docs + planted, ["doc_id", "text"])
    out = ddp.edit_distance_near_dups(
        df, "doc_id", "text", max_ratio=0.2, num_perm=32, bands=8
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["edit_distance"] for r in out}
    for j in range(5):
        key = (j, 100 + j)
        assert key in got, f"planted pair {key} not found: {sorted(got)}"
        # exact distance: replacing tok[7] with EDITED
        a, b = base[j], dict(planted)[100 + j]
        assert got[key] == _py_levenshtein(a, b)
    # every reported pair respects the ratio bound
    for r in out:
        assert r["edit_ratio"] <= 0.2


def _py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_hard_negatives_match_numpy(spark):
    rng = np.random.default_rng(77)
    vecs = rng.standard_normal((60, 8)).round(1).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    anchors = df.filter(F.col("vec_id") % 20 == 0)  # 0, 20, 40
    out = hard_negatives(df, anchors, k=4, max_sim=0.9).collect()
    by_anchor: dict[int, list] = {}
    for r in out:
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    v = vecs.astype(np.float64)
    norms = np.linalg.norm(v, axis=1)
    for aid in (0, 20, 40):
        sims = (v @ v[aid]) / (norms * norms[aid])
        sims = np.round(sims, 4)
        cand = [
            (i, s)
            for i, s in enumerate(sims)
            if i != aid and s < 0.9
        ]
        cand.sort(key=lambda t: (-t[1], t[0]))
        want = cand[:4]
        got = sorted(by_anchor[aid], key=lambda r: (-r["cosine_sim"], r["vec_id"]))
        assert [r["vec_id"] for r in got] == [i for i, _ in want]
        for r, (_, s) in zip(got, want):
            assert abs(r["cosine_sim"] - s) < 1e-3


def test_temperature_mix_matches_python_model(spark):
    rnd = random.Random(9)
    strata = ["big"] * 300 + ["mid"] * 80 + ["small"] * 20
    rnd.shuffle(strata)
    rows = [(i, s) for i, s in enumerate(strata)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = temperature_mix(df, "doc_id", "lang", alpha=0.5).collect()
    got = Counter((r["doc_id"], r["lang"], r["epoch"]) for r in out)
    assert all(v == 1 for v in got.values())

    counts = Counter(strata)
    sn = {
        k: int(Decimal(math.pow(n, 0.5)).quantize(Decimal(1), ROUND_HALF_UP))
        for k, n in counts.items()
    }
    tot, stot = sum(counts.values()), sum(sn.values())
    want = Counter()
    for i, s in rows:
        raw = (sn[s] * tot) / (stot * counts[s])
        whole = math.floor(raw)
        thr = math.floor((raw - whole) * 65536)
        bi = int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16)
        ne = whole + (1 if bi < thr else 0)
        for e in range(1, ne + 1):
            want[(i, s, e)] = 1
    assert got == want
    # temperature upsamples the minority stratum hardest
    per = Counter(r["lang"] for r in out)
    assert per["small"] / counts["small"] > per["big"] / counts["big"]


def test_temperature_mix_alpha_one_is_identity(spark):
    rows = [(i, "a" if i % 3 else "b") for i in range(90)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = temperature_mix(df, "doc_id", "lang", alpha=1.0).collect()
    assert sorted((r["doc_id"], r["epoch"]) for r in out) == [
        (i, 1) for i in range(90)
    ]


def test_perplexity_buckets_properties(spark):
    rnd = random.Random(5)
    vocab = ["aa", "bb", "cc", "dd", "ee", "rare1", "rare2", "rare3"]
    rows = []
    for i in range(90):
        lang = "l1" if i % 2 else "l2"
        # even ids lean common-vocab, odd lean rare — spread of scores
        pool = vocab[:5] if rnd.random() < 0.7 else vocab
        rows.append((i, lang, " ".join(rnd.choice(pool) for _ in range(12))))
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = perplexity_buckets(df).collect()
    assert len(out) == 90
    by = {}
    for r in out:
        by.setdefault((r["lang"], r["bucket"]), []).append(r)
    for lang in ("l1", "l2"):
        sizes = [len(by.get((lang, b), [])) for b in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1, sizes  # ntile balance
        # head has the lowest perplexity (highest avg_logprob)
        h = max(r["perplexity"] for r in by[(lang, "head")])
        t = min(r["perplexity"] for r in by[(lang, "tail")])
        assert h <= t or abs(h - t) < 1e-9
    for r in out:
        assert abs(r["perplexity"] - _r(math.exp(-r["avg_logprob"]), 4)) < 1e-9


def _py_c4(text: str, min_words: int = 5) -> dict:
    import re

    lines = [l.strip(" ") for l in text.split("\n")]
    lines = [l for l in lines if l]
    kept = [
        l
        for l in lines
        if l[-1:] in (".", "!", "?", '"') and len(re.split(r"\s+", l)) >= min_words
    ]
    kt = "\n".join(kept)
    return {
        "n_lines": len(lines),
        "n_kept_lines": len(kept),
        "n_sentences": sum(kt.count(c) for c in ".!?"),
        "has_brace": "{" in text,
        "has_lorem": "lorem ipsum" in text.lower(),
    }


def test_c4_signals_match_python_model(spark):
    from cdp_spark.datapipe.quality_rules import c4_page_filter, c4_signals

    rnd = random.Random(31337)
    docs = [(i, _random_doc(rnd)) for i in range(60)]
    docs += [
        (100, "This page has code { inside }. And a sentence here too."),
        (101, "Lorem Ipsum dolor sit amet consectetur adipiscing elit."),
        (102, "One good sentence with enough words here.\nshort.\nAnother full sentence with many words follows!\nAnd a third full sentence rounds it out?"),
    ]
    docs = [(i, t) for i, t in docs if t.strip()]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = (
        df.select(
            "doc_id",
            "text",
            c4_signals(F.col("text")).alias("c"),
        )
        .select("doc_id", "text", "c.*", c4_page_filter(F.col("c")).alias("keeps"))
        .collect()
    )
    for row in rows:
        want = _py_c4(row["text"])
        for k, v in want.items():
            assert row[k] == v, f"doc {row['doc_id']} {k}: {row[k]} != {v}"
        want_keep = (
            want["n_sentences"] >= 3
            and not want["has_brace"]
            and not want["has_lorem"]
        )
        assert row["keeps"] == want_keep
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[100]["keeps"] is False  # brace
    assert by_id[101]["keeps"] is False  # lorem ipsum
    assert by_id[102]["keeps"] is True
    assert by_id[102]["n_kept_lines"] == 3  # 'short.' fails min_words


def test_dedup_lines_keeps_first_occurrence_in_order(spark):
    from cdp_spark.datapipe.quality_rules import dedup_lines

    text = "alpha\nbeta\nalpha\ngamma\nbeta\n  \ndelta\nalpha"
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    out = df.select(dedup_lines(F.col("text")).alias("d")).collect()[0]["d"]
    assert out == "alpha\nbeta\ngamma\ndelta"


def test_hard_negatives_vectorized_equals_column_path(spark):
    rng = np.random.default_rng(123)
    vecs = rng.standard_normal((80, 12)).round(2).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(80)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    anchors = df.filter(F.col("vec_id") % 25 == 0)
    fast = sorted(
        map(tuple, hard_negatives(df, anchors, k=6, max_sim=0.9).collect())
    )
    # oracle: the pure-Column broadcast join over the same rounding
    from pyspark.sql import Window

    from cdp_spark.datapipe.similarity import cosine

    a = anchors.select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("_avec")
    )
    sim = F.round(cosine(F.col("embedding"), F.col("_avec")), 4)
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    slow = sorted(
        map(
            tuple,
            df.join(F.broadcast(a), F.col("vec_id") != F.col("anchor_id"))
            .select("anchor_id", "vec_id", sim.alias("cosine_sim"))
            .filter(F.col("cosine_sim") < 0.9)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= 6)
            .drop("_rn")
            .collect(),
        )
    )
    assert fast == slow
