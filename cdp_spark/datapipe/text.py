"""Text analysis: tokenization, quality scoring, language ID,
fingerprinting.

All pure Column expressions — at 100 TB these run inside whole-stage
codegen directly over the parquet scan, no shuffle, no Python.
Each operator has an exact ANSI-SQL twin used by the DuckDB oracle
(__spark_entry__.oracle_sql), so semantics are pinned by tests.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small marker-word lists for the language-ID heuristic.  Ordered:
# ties resolve to the earlier language (deterministic).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization; empty text gives an empty array."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def avg_token_length(col: Column) -> Column:
    tk = tokens(col)
    total = F.aggregate(tk, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    return F.when(F.size(tk) > 0, total.cast("double") / F.size(tk)).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    words = stopwords if stopwords is not None else LANG_MARKERS["en"]
    tk = tokens(col)
    hits = F.size(F.filter(tk, lambda t: t.isin(*words)))
    return F.when(F.size(tk) > 0, hits.cast("double") / F.size(tk)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: enough tokens, sane average
    word length, some (but not too many) stopwords — the standard
    cheap pre-filters applied before expensive pipeline stages."""
    tk_n = token_count(col).cast("double")
    len_score = F.least(tk_n / F.lit(50.0), F.lit(1.0))
    awl = avg_token_length(col)
    awl_score = F.when((awl >= 3.0) & (awl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    sw = stopword_ratio(col)
    sw_score = F.when((sw > 0.0) & (sw < 0.5), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((len_score + awl_score + sw_score) / F.lit(3.0), 6)


def lang_scores(col: Column) -> dict[str, Column]:
    tk = tokens(col)
    return {
        lang: F.size(F.filter(tk, lambda t: t.isin(*words)))
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(col: Column) -> Column:
    """Marker-word language ID; 'und' when no marker hits.  Ties go to
    the earlier language in LANG_MARKERS (deterministic)."""
    scores = lang_scores(col)
    best = F.lit("und")
    best_score = F.lit(0)
    # Iterate in reverse so earlier languages win ties.
    for lang in reversed(list(scores)):
        s = scores[lang]
        best = F.when(s >= best_score, F.lit(lang)).otherwise(best)
        best_score = F.greatest(s, best_score)
    return F.when(best_score > 0, best).otherwise(F.lit("und"))


def fingerprint(col: Column) -> Column:
    """Stable document fingerprint (hex md5 — same value DuckDB's
    md5() produces, so it doubles as a cross-engine key)."""
    return F.md5(col)


def unigram_logprob(df, text_col: str = "text", id_col: str = "doc_id",
                    round_digits: int = 4):
    """Corpus self-scored unigram LM quality — the cheap perplexity
    proxy training-data pipelines use before any neural scorer: build
    the corpus unigram distribution in ONE aggregation, then score
    every document by its mean token log-probability.  Gibberish and
    rare-vocabulary documents surface at the bottom; boilerplate
    floats to the top.

    Scale shape: tokenize twice (JVM split, no UDF) — once to count
    the vocabulary, once for the scoring join (token-keyed equi-join;
    the vocabulary is Zipf-small relative to the corpus, and AQE
    broadcast-converts it when it fits) — then one grouped mean per
    document.  The corpus token TOTAL is one scalar: computed at
    build time from a `sum(size(tokens))` scan (no explode) and
    embedded as a literal, the same driver-side-model-state pattern
    as the k-means centroids — NOT a third pass over the exploded
    tokens, and never a global window.

    Output: (doc_id, n_tokens, avg_logprob) — documents with no
    tokens are absent (nothing to score).
    """
    from pyspark.sql import functions as F  # local alias for clarity

    total = float(
        df.agg(F.sum(F.size(tokens(F.lower(F.col(text_col)))))).first()[0] or 0
    )
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
    )
    freqs = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        toks.join(freqs, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("c") / F.lit(total))), round_digits
            ).alias("avg_logprob"),
        )
    )


def perplexity_buckets(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    n_buckets: int = 3,
    round_digits: int = 4,
):
    """CCNet-style perplexity bucketing (Wenzek et al. 2019, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): score every document under a unigram LM, then split each
    language into equal-count head / middle / tail buckets by
    perplexity rank — the standard quality axis a pretraining mix
    samples from ("head+middle only", "downweight tail").

    CCNet uses an external KenLM per language; here the LM is the
    corpus's own unigram distribution (:func:`unigram_logprob`), which
    keeps the operator self-contained — swap in any (doc_id,
    avg_logprob) frame for an external scorer.

    Scale shape: the LM pass is unigram_logprob's (one vocab
    aggregate + one token-keyed join); the bucketing is ONE window
    per language partition — ntile over (avg_logprob DESC, id), both
    rounded/total-ordered so engines tie-break identically.  The
    window shuffles only (id, lang, score) — never the text.

    Output: (id, lang, avg_logprob, perplexity, bucket) with bucket in
    {'head','middle','tail'} for n_buckets=3 (else 'b<k>').
    """
    from pyspark.sql import Window

    lp = unigram_logprob(df, text_col, id_col, round_digits)
    scored = lp.join(df.select(F.col(id_col), F.col(lang_col)), id_col)
    w = Window.partitionBy(lang_col).orderBy(
        F.col("avg_logprob").desc(), F.col(id_col)
    )
    tile = F.ntile(n_buckets).over(w)
    if n_buckets == 3:
        bucket = (
            F.when(tile == 1, F.lit("head"))
            .when(tile == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    else:
        bucket = F.concat(F.lit("b"), tile.cast("string"))
    return scored.select(
        F.col(id_col),
        F.col(lang_col),
        F.col("avg_logprob"),
        F.round(F.exp(-F.col("avg_logprob")), round_digits).alias("perplexity"),
        bucket.alias("bucket"),
    )


def dsir_logratio(df, target_col, text_col: str = "text", id_col: str = "doc_id"):
    """DSIR-style importance scores (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every POOL
    document by its mean token log-likelihood ratio between a TARGET
    unigram model and the pool unigram model,

        score(d) = mean_tok [ ln p_T(tok) - ln p_R(tok) ]

    with add-one smoothing over the shared vocabulary.  High scores
    mean "looks like the target distribution" — feed them to
    :func:`cdp_spark.datapipe.sampling.gumbel_topk` to resample the
    pool toward the target (the full DSIR loop).

    ``target_col`` is a boolean Column: True rows define the target
    distribution, False rows are the pool being scored.

    Scale shape (r8, VERDICT r7 #2): the corpus text is tokenized
    EXACTLY ONCE.  The explode feeds one map-side-combined shuffle
    into a per-(doc, token) count frame — Zipf-compressed far below
    the raw token stream — which is materialized once
    (``session.iter_checkpoint``, stats-safe eager localCheckpoint)
    and then consumed by BOTH the corpus-count aggregate and the
    scoring join; occurrence counts re-enter the math as exact
    integer weights, so no downstream pass ever touches the raw
    tokens again.  The corpus scalars (token totals + vocabulary
    size) enter the plan as ONE broadcast row — no collect; the
    per-token join is Zipf-small and AQE broadcast-converts it.

    Determinism: ln(c_T+1)-ln(c_R+1) is rounded to 9 digits per
    token, weighted by the exact integer per-doc occurrence count,
    folded in DECIMAL (order-independent), and the corpus constant
    ln((N_R+V)/(N_T+V)) is rounded to 9 before the final round-6 sum
    — identical to summing the per-occurrence terms one at a time,
    so engines (and the pre-r8 shape) agree bit-for-bit.

    Output: (id, n_tokens, logratio) for pool documents only.
    """
    from ..session import iter_checkpoint

    doctok = iter_checkpoint(
        df.select(
            F.col(id_col),
            target_col.alias("_is_target"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
        )
        .groupBy(id_col, "_is_target", "tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    counts = doctok.groupBy("tok").agg(
        F.sum(F.when(F.col("_is_target"), F.col("_c")).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("_is_target"), 0).otherwise(F.col("_c"))).alias("cr"),
    )
    scalars = counts.agg(
        F.sum("ct").alias("nt"),
        F.sum("cr").alias("nr"),
        F.count(F.lit(1)).alias("v"),
    )
    term = F.round(
        F.log(F.col("ct").cast("double") + 1.0)
        - F.log(F.col("cr").cast("double") + 1.0),
        9,
    )
    scored = (
        doctok.where(~F.col("_is_target"))
        .join(counts, "tok")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_tokens"),
            (
                F.sum(
                    term.cast("decimal(28,12)")
                    * F.col("_c").cast("decimal(10,0)")
                ).cast("double")
                / F.sum("_c")
            ).alias("_mean_term"),
        )
    )
    const = F.round(
        F.log(
            (F.col("nr").cast("double") + F.col("v"))
            / (F.col("nt").cast("double") + F.col("v"))
        ),
        9,
    )
    return scored.crossJoin(F.broadcast(scalars)).select(
        F.col(id_col),
        "n_tokens",
        F.round(F.col("_mean_term") + const, 6).alias("logratio"),
    )


def oov_rate(df, text_col: str = "text", id_col: str = "doc_id",
             top_k: int = 1000, round_digits: int = 6):
    """Out-of-vocabulary rate per document against the corpus's own
    top-``top_k`` vocabulary — the tokenizer-coverage triage that
    decides whether a corpus needs vocab retraining (high OOV mass)
    or is mostly boilerplate (near-zero OOV everywhere).

    Scale shape: the token explode is consumed twice (vocabulary
    count + scoring pass — the tokenize-twice trade shared with
    unigram_logprob/dsir_logratio; cache the exploded frame when the
    corpus scan dominates); the vocabulary is a top-k aggregate
    (TakeOrdered, k rows) broadcast against the token stream; per-doc
    flags aggregate map-side.

    Output: (id, n_tokens, n_oov, oov_rate).
    """
    from pyspark.sql import functions as F

    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(top_k)
        .select("tok", F.lit(True).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens"), round_digits
            ).alias("oov_rate"),
        )
    )


def token_kl_drift(
    df,
    group_col: str = "source",
    text_col: str = "text",
    top_v: int = 1000,
):
    """Unigram-distribution drift per group: KL(P_group || P_corpus)
    over the corpus's top-``top_v`` vocabulary with add-one smoothing
    — the dataset-monitoring primitive that catches a source whose
    token distribution has shifted (scraper drift, language mix
    change, template contamination) before it pollutes a training
    mix.

        KL(s) = Σ_t p_s(t) · (ln p_s(t) − ln p_c(t)),
        p_x(t) = (c_x(t) + 1) / (N_x + V)

    Vocabulary restriction keeps the per-group state bounded (V rows
    per group regardless of corpus size; an unbounded vocab would
    grow the grid with every typo).  Counts and totals are computed
    over the restricted vocab so both distributions normalize on the
    same support.

    Scale shape: one token explode feeds the corpus count (top-V via
    TakeOrdered, broadcast back) and the per-(group, token) count —
    the only data-sized shuffles; the (group × vocab) grid the KL
    folds over is |groups|·V rows of small integers, never
    corpus-sized.  Determinism: each ln rounds half-up to 9, the
    per-token term to 12, the fold is DECIMAL(28,15), the final KL
    rounds to 6 — all floor-half-up, matching the repo's oracle
    discipline (dsir_logratio precedent for ln ulp absorption).

    Output: (group, n_tokens, kl) — one row per group, KL in nats.
    """
    from pyspark.sql import functions as F

    def _rhu(col, digits: int):
        s = F.lit(float(10**digits))
        return F.floor(col * s + F.lit(0.5)) / s

    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_c"))
        .orderBy(F.col("c_c").desc(), "tok")
        .limit(top_v)
    )
    v_scalar = vocab.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("c_c").alias("n_c"),
    )
    grp_counts = (
        toks.join(F.broadcast(vocab.select("tok")), "tok")
        .groupBy("grp", "tok")
        .agg(F.count(F.lit(1)).alias("c_s"))
    )
    n_s = grp_counts.groupBy("grp").agg(F.sum("c_s").alias("n_s"))
    grid = (
        n_s.crossJoin(F.broadcast(vocab))
        .join(grp_counts, ["grp", "tok"], "left")
        .crossJoin(F.broadcast(v_scalar))
        .select(
            "grp",
            "n_s",
            (
                (F.coalesce("c_s", F.lit(0)).cast("double") + 1.0)
                / (F.col("n_s") + F.col("v")).cast("double")
            ).alias("p_s"),
            (
                (F.col("c_c").cast("double") + 1.0)
                / (F.col("n_c") + F.col("v")).cast("double")
            ).alias("p_c"),
        )
    )
    term = _rhu(
        F.col("p_s") * (_rhu(F.log("p_s"), 9) - _rhu(F.log("p_c"), 9)), 12
    )
    return (
        grid.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.max("n_s").alias("n_tokens"),
            _rhu(F.sum(term.cast("decimal(28,15)")).cast("double"), 6).alias(
                "kl"
            ),
        )
    )


def bigrams(col: Column) -> Column:
    """Adjacent token pairs as 'w1 w2' strings (order preserved,
    duplicates kept — these are OCCURRENCES, not a set).  Documents
    with fewer than two tokens give an empty array.  The token array
    is let-bound (the shingles() lesson: a plain expression tree
    would re-split per position)."""

    def build(tk: Column) -> Column:
        n = F.size(tk)
        starts = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            starts, lambda i: F.concat_ws(" ", F.slice(tk, i, 2))
        )

    return F.element_at(F.transform(F.array(tokens(col)), build), 1)


def pmi_collocations(
    df,
    text_col: str = "text",
    top_k: int = 20,
    min_count: int = 5,
):
    """Top-``top_k`` bigram collocations by pointwise mutual
    information — the phrase-mining primitive tokenizer/vocabulary
    pipelines run before merging multiword units:

        pmi(a, b) = ln( p(ab) / (p(a) p(b)) )
                  = ln( (c_ab/N_bi) / ((c_a/N_uni) (c_b/N_uni)) )

    ``min_count`` drops rare pairs (classic PMI degeneracy: a pair
    seen once between two hapaxes maxes the score).

    Determinism: the probability ratio is built from exact integer
    counts with a FIXED operation order (both engines execute the
    identical IEEE divisions/multiplications), and the single ln()
    is rounded half-up to 6 — libm last-ulp drift absorbed, the bm25
    precedent.

    Scale shape: one token explode feeds the unigram aggregate, one
    bigram explode the pair aggregate (both map-side combined); the
    unigram counts join the pair table twice — UNHINTED, so AQE
    broadcast-converts when the runtime vocabulary fits and falls
    back to a shuffle join when a 100 TB corpus's vocabulary does
    not (pinning F.broadcast here would bypass AQE's size check and
    OOM executors — the dsir_logratio precedent); the corpus totals
    enter as ONE broadcast row (provably bounded, hint kept); top-k
    is a TakeOrdered, never a global sort.

    Output: (w1, w2, n_pair, pmi), pmi desc then (w1, w2) asc.
    """
    bi = df.select(F.explode(bigrams(F.col(text_col))).alias("bg")).select(
        F.split(F.col("bg"), " ")[0].alias("w1"),
        F.split(F.col("bg"), " ")[1].alias("w2"),
    )
    uni = df.select(F.explode(tokens(F.col(text_col))).alias("w"))
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    totals = bc.agg(F.sum("c_ab").alias("nb")).crossJoin(
        uc.agg(F.sum("c_w").alias("nu"))
    )
    ratio = (
        F.col("c_ab").cast("double") / F.col("nb")
    ) / (
        (F.col("ca").cast("double") / F.col("nu"))
        * (F.col("cb").cast("double") / F.col("nu"))
    )
    pmi = F.floor(F.log(ratio) * F.lit(1000000.0) + F.lit(0.5)) / F.lit(
        1000000.0
    )
    return (
        bc.where(F.col("c_ab") >= min_count)
        .join(
            uc.select(F.col("w").alias("w1"), F.col("c_w").alias("ca")),
            "w1",
        )
        .join(
            uc.select(F.col("w").alias("w2"), F.col("c_w").alias("cb")),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("c_ab").alias("n_pair"),
            pmi.alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(top_k)
    )


def bigram_logprob(
    df, text_col: str = "text", id_col: str = "doc_id", round_digits: int = 4
):
    """Corpus self-scored BIGRAM LM quality — the second-order
    companion to :func:`unigram_logprob`: score every document by its
    mean conditional bigram log-probability with add-one smoothing
    over the unigram vocabulary,

        score(d) = mean_{(a,b) in d} ln( (c(ab) + 1) / (c(a) + V) )

    Repetitive/boilerplate text scores high, token-salad low — a
    sharper signal than unigram frequency alone because it prices the
    TRANSITIONS.

    Single-tokenize discipline (the r8 dsir recipe): one bigram
    explode feeds a per-(doc, bigram) count frame, materialized once
    (``iter_checkpoint``); the corpus bigram counts derive from it by
    re-aggregation, so the text is never scanned twice.  The unigram
    counts and V come from one extra token-explode aggregate (a
    different explode, unavoidable: bigram occurrences undercount the
    final token).

    Join strategy (ADVICE r8): the bigram-count and unigram-count
    joins are UNHINTED — at 100 TB the bigram vocabulary is far
    beyond broadcast size, so a pinned F.broadcast would bypass AQE's
    size check and OOM executors; AQE broadcast-converts at small SF
    anyway.  Only the single-row V frame keeps its hint (provably
    bounded).

    Determinism: per-bigram term = round9(ln((c_ab+1)/(c_a+V))),
    weighted by the exact integer per-doc occurrence count, folded in
    DECIMAL, final mean rounded half-up to ``round_digits``.

    Output: (id, n_bigrams, avg_logprob) for docs with >= 1 bigram.
    """
    from ..session import iter_checkpoint

    docbi = iter_checkpoint(
        df.select(
            F.col(id_col), F.explode(bigrams(F.col(text_col))).alias("bg")
        )
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    bcounts = docbi.groupBy("bg").agg(F.sum("_c").alias("c_ab"))
    uc = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    vrow = uc.agg(F.count(F.lit(1)).alias("v"))
    term = F.floor(
        F.log(
            (F.col("c_ab").cast("double") + 1.0)
            / (F.col("c_w").cast("double") + F.col("v"))
        )
        * F.lit(1000000000.0)
        + F.lit(0.5)
    ) / F.lit(1000000000.0)
    scale = F.lit(float(10 ** round_digits))
    return (
        docbi.join(bcounts, "bg")
        .withColumn("w1", F.split(F.col("bg"), " ")[0])
        .join(uc.select(F.col("w").alias("w1"), "c_w"), "w1")
        .crossJoin(F.broadcast(vrow))
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_bigrams"),
            (
                F.floor(
                    F.sum(
                        term.cast("decimal(28,12)")
                        * F.col("_c").cast("decimal(10,0)")
                    ).cast("double")
                    / F.sum("_c")
                    * scale
                    + F.lit(0.5)
                )
                / scale
            ).alias("avg_logprob"),
        )
    )


def char_ngrams(col: Column, n: int = 3) -> Column:
    """All character n-gram OCCURRENCES of the lowercased text
    (positions 1..len-n+1, spaces included — the Cavnar-Trenkle
    convention keeps word-boundary grams like 'e t').  Shorter texts
    give an empty array.  Let-bound (the shingles() lesson)."""

    def build(s: Column) -> Column:
        ln = F.length(s)
        starts = F.when(ln >= n, F.sequence(F.lit(1), ln - n + 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(starts, lambda i: F.substring(s, i, n))

    return F.element_at(F.transform(F.array(F.lower(col)), build), 1)


def langid_ngram(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    n: int = 3,
    profile_k: int = 40,
    doc_k: int = 20,
):
    """Cavnar-Trenkle (1994) n-gram rank-profile language ID, trained
    on the corpus's own labels — the classic trainable upgrade over
    the marker-word heuristic (:func:`lang_id`): per language, the
    top-``profile_k`` character ``n``-grams ranked by frequency; per
    document, its top-``doc_k`` grams; distance = the out-of-place
    measure Σ |rank_doc − rank_lang| with a ``profile_k`` penalty for
    grams absent from a language's profile; predict the
    minimum-distance language (ties break to the lexicographically
    first — deterministic).

    All rank assignments are row_number over (count DESC, gram ASC) —
    total orders, so both engines agree exactly.

    Scale shape (the r8 single-tokenize discipline): the char-gram
    explode runs ONCE into a checkpointed per-(doc, lang, gram) count
    frame; the document profiles read it directly and the language
    profiles derive by re-aggregation — the corpus text is never
    scanned twice.  The language profiles are (n_langs × profile_k)
    rows — broadcast; the scoring frame is (doc_k × n_langs) rows per
    doc, summed map-side.  Docs shorter than ``n`` chars are absent.

    Output: (id, pred_lang, distance) per document.
    """
    from pyspark.sql import Window

    from ..session import iter_checkpoint

    from .dedup import _ensure_parallelism

    gramc = iter_checkpoint(
        _ensure_parallelism(
            df.select(F.col(id_col), F.col(lang_col), F.col(text_col))
        )
        .select(
            F.col(id_col),
            F.col(lang_col).alias("_lang"),
            F.explode(char_ngrams(F.col(text_col), n)).alias("g"),
        )
        .groupBy(id_col, "_lang", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    docg = gramc.select(id_col, "g", "c")
    wd = Window.partitionBy(id_col).orderBy(F.col("c").desc(), F.col("g"))
    docp = (
        docg.withColumn("rd", F.row_number().over(wd))
        .where(F.col("rd") <= doc_k)
        .select(id_col, "g", "rd")
    )
    langg = gramc.groupBy("_lang", "g").agg(F.sum("c").alias("c"))
    wl = Window.partitionBy("_lang").orderBy(F.col("c").desc(), F.col("g"))
    prof = (
        langg.withColumn("rl", F.row_number().over(wl))
        .where(F.col("rl") <= profile_k)
        .select("_lang", "g", "rl")
    )
    # Candidate languages come from the LABELED DOCUMENTS, not from
    # gramc (ADVICE r8): a language whose every document is shorter
    # than n chars has no grams but still exists as a max-penalty
    # profile in the oracle's DISTINCT-lang CTE — deriving from gramc
    # would drop it and shift predictions/tie-breaks.
    langs = df.select(F.col(lang_col).alias("_lang")).distinct()
    scored = (
        docp.crossJoin(F.broadcast(langs))
        .join(F.broadcast(prof), ["_lang", "g"], "left")
        .groupBy(id_col, "_lang")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("rd") - F.col("rl")), F.lit(profile_k)
                )
            ).alias("dist")
        )
    )
    best = F.min(F.struct(F.col("dist"), F.col("_lang"))).alias("_best")
    return (
        scored.groupBy(id_col)
        .agg(best)
        .select(
            id_col,
            F.col("_best._lang").alias("pred_lang"),
            F.col("_best.dist").cast("long").alias("distance"),
        )
    )
