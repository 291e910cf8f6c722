"""Gopher-style document quality rules (Rae et al. 2021, "Scaling
Language Models: Methods, Analysis & Insights from Training Gopher",
appendix A1.1) — the canonical repetition + formatting filter set a
pretraining pipeline applies before anything expensive sees the text.

Everything here is pure ``pyspark.sql.functions`` Column algebra: per
document the signals cost one pass over its sorted token n-grams /
lines (``array_sort`` + a single ``F.aggregate`` run-length fold), so
the whole operator is a narrow map — no shuffle, no UDF, stays inside
whole-stage codegen, and scales embarrassingly at 100 TB.

Documented divergences from the paper (shared by the Spark
implementation, the DuckDB oracle, and the pure-Python test model, so
they are pinned rather than accidental):

- "fraction of characters in duplicate n-grams" counts the n-grams'
  character mass (occurrences x non-space gram length over total
  non-space characters) instead of the paper's positional union of
  covered character spans; overlapping grams are therefore counted
  once per occurrence, not once per character position.
- the top-n-gram fraction is 0 when the most frequent n-gram occurs
  only once (a gram seen once is not repetition).
- lines are ``\\n``-split and trimmed; blank lines are dropped before
  any line statistic (otherwise empty lines dominate the duplicate
  counts).

No analog in the reference (its quality filtering is per-event
``keep-when`` predicates, src/step-functions/keep-when.ts); this is
part of the LLM-curation surface the brief adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .curate import _let, _word_ngrams_zip
from .text import tokens

# The eight "stop words" Gopher requires at least two of (A1.1).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

BULLET_PREFIXES = ("-", "*", "•")
ELLIPSIS_SUFFIXES = ("...", "…")


_RUN_STAT_FIELDS = (
    "max_cnt",
    "max_item",
    "dup_extra_count",
    "dup_extra_chars",
    "dup_total_chars",
)


def _run_stats(
    sorted_arr: Column,
    char_len,
    stats: tuple[str, ...] = _RUN_STAT_FIELDS,
) -> Column:
    """Run-length statistics over a SORTED string array in one linear
    ``F.aggregate`` fold (the sort is the only super-linear step —
    O(n log n) per document, all JVM-side):

    - ``max_cnt`` / ``max_item``: the highest occurrence count and,
      among ties, the lexicographically smallest item reaching it
      (ascending sort + strict improvement = first argmax wins).
    - ``dup_extra_count``: sum of (count - 1) over repeated items —
      occurrences beyond each first.
    - ``dup_extra_chars``: same, weighted by ``char_len(item)``.
    - ``dup_total_chars``: sum of count * char_len(item) over items
      with count >= 2 (the full character mass of repeated items).

    ``char_len`` maps an item Column to its character-length Column
    (lines count all characters; word n-grams exclude the joining
    spaces).

    ``stats`` selects which statistics to ACCUMULATE: the fold runs
    interpreted (higher-order functions are CodegenFallback), so each
    accumulator field costs a per-element when-tree evaluation plus a
    struct slot — the top-gram signals need only ``max_cnt``/
    ``max_item`` and the dup-gram signals only ``dup_total_chars``;
    carrying all five was ~1.7x the per-element work of the slices
    each caller reads."""
    wanted = tuple(s for s in _RUN_STAT_FIELDS if s in stats)
    if "max_item" in wanted and "max_cnt" not in wanted:
        raise ValueError("max_item requires max_cnt (its argmax counter)")

    def stat_init() -> list[Column]:
        out = []
        for s in wanted:
            if s == "max_item":
                out.append(F.lit(None).cast("string").alias(s))
            else:
                out.append(F.lit(0).cast("long").alias(s))
        return out

    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        *stat_init(),
    )

    def closed_stat(acc: Column, s: str) -> Column:
        """The stat's value after folding the open run in."""
        run, prev = acc["run"], acc["prev"]
        is_dup = run >= 2
        if s == "max_cnt":
            return F.when(run > acc["max_cnt"], run).otherwise(acc["max_cnt"])
        if s == "max_item":
            return F.when(run > acc["max_cnt"], prev).otherwise(
                acc["max_item"]
            )
        plen = char_len(prev).cast("long")
        if s == "dup_extra_count":
            add = F.when(is_dup, run - 1).otherwise(F.lit(0))
        elif s == "dup_extra_chars":
            add = F.when(is_dup, (run - 1) * plen).otherwise(F.lit(0))
        else:  # dup_total_chars
            add = F.when(is_dup, run * plen).otherwise(F.lit(0))
        return (acc[s] + add).cast("long")

    def merge(acc: Column, x: Column) -> Column:
        same = (acc["run"] > 0) & acc["prev"].eqNullSafe(x)
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            *[
                F.when(same, acc[s]).otherwise(closed_stat(acc, s)).alias(s)
                for s in wanted
            ],
        )

    def finish(acc: Column) -> Column:
        return F.struct(
            *[
                F.when(acc["run"] > 0, closed_stat(acc, s))
                .otherwise(acc[s])
                .alias(s)
                for s in wanted
            ]
        )

    return F.aggregate(sorted_arr, init, merge, finish)


def _gram_nospace_len(g: Column) -> Column:
    return F.length(F.replace(g, F.lit(" "), F.lit("")))


def _frac(num: Column, den: Column, digits: int = 6) -> Column:
    return F.when(
        den > 0, F.round(num.cast("double") / den.cast("double"), digits)
    ).otherwise(F.lit(0.0))


def gopher_signals(
    col: Column,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
) -> Column:
    """All Gopher A1.1 quality signals for one text column as a struct
    (fractions rounded to 6 digits; thresholds stay caller policy —
    see :func:`gopher_filter`):

    n_words, mean_word_len, symbol_word_ratio, alpha_word_frac,
    stop_hits, n_lines, bullet_line_frac, ellipsis_line_frac,
    dup_line_frac, dup_line_char_frac, top_{n}gram_char_frac for n in
    ``top_ns``, dup_{n}gram_char_frac for n in ``dup_ns``.
    """

    nonspace = F.length(F.regexp_replace(col, r"\s", "")).cast("long")
    hash_chars = F.length(col) - F.length(F.replace(col, F.lit("#"), F.lit("")))
    ellipsis_occurrences = (
        F.length(col) - F.length(F.replace(col, F.lit("..."), F.lit("")))
    ) / F.lit(3)

    def ngrams_of(tk: Column, n: int) -> Column:
        """word_ngrams over an already-bound token array — the text is
        tokenized ONCE for all five gram orders (the unbound form
        would re-split per order).  Built by ``n-1`` zip_with passes
        over shifted views instead of per-position slice+array_join:
        the slice form allocates an n-element array and runs the
        join machinery PER POSITION (measured 2.1-2.4 s/order at
        sf0.1 — the whole battery's hot spot), the zip_with form is
        a plain string concat per position per pass (0.4-1.3 s/order,
        identical output strings)."""
        return _word_ngrams_zip(tk, n)

    def build(packed: Column) -> Column:
        words, lines, ns = packed["toks"], packed["lines"], packed["ns"]
        n_words = F.size(words).cast("long")
        word_chars = F.aggregate(
            words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        )
        alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
        lowered = F.transform(words, F.lower)
        stop_hits = F.size(
            F.filter(
                F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
                lambda s: F.array_contains(lowered, s),
            )
        ).cast("long")
        n_lines = F.size(lines).cast("long")
        line_chars = F.aggregate(
            lines, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
        )
        bullets = F.size(
            F.filter(lines, lambda l: F.substring(l, 1, 1).isin(*BULLET_PREFIXES))
        )
        ellipses = F.size(
            F.filter(
                lines,
                lambda l: F.endswith(l, F.lit(ELLIPSIS_SUFFIXES[0]))
                | F.endswith(l, F.lit(ELLIPSIS_SUFFIXES[1])),
            )
        )
        # Bind every multi-field _run_stats struct ONCE (_let): each
        # field access on a shared aggregate subtree re-runs the WHOLE
        # fold in the interpreted higher-order path (no common-
        # subexpression elimination there — measured ~2x per extra
        # field on the line stats and ~3x on the top-gram signals,
        # which read max_cnt twice plus max_item).  Single-field reads
        # (the dup_ns path) need no binding.
        def finish(lrs: Column) -> Column:
            fields = [
                n_words.alias("n_words"),
                _frac(word_chars, n_words).alias("mean_word_len"),
                _frac(
                    (hash_chars + ellipsis_occurrences).cast("double"), n_words
                ).alias("symbol_word_ratio"),
                _frac(alpha_words.cast("long"), n_words).alias("alpha_word_frac"),
                stop_hits.alias("stop_hits"),
                n_lines.alias("n_lines"),
                _frac(bullets.cast("long"), n_lines).alias("bullet_line_frac"),
                _frac(ellipses.cast("long"), n_lines).alias("ellipsis_line_frac"),
                _frac(lrs["dup_extra_count"], n_lines).alias("dup_line_frac"),
                _frac(lrs["dup_extra_chars"], line_chars).alias(
                    "dup_line_char_frac"
                ),
            ]
            for n in top_ns:
                def top_frac(rs: Column) -> Column:
                    top_mass = F.when(
                        rs["max_cnt"] >= 2,
                        rs["max_cnt"]
                        * _gram_nospace_len(rs["max_item"]).cast("long"),
                    ).otherwise(F.lit(0).cast("long"))
                    return _frac(top_mass, ns)

                fields.append(
                    _let(
                        _run_stats(
                            F.array_sort(ngrams_of(words, n)),
                            _gram_nospace_len,
                            stats=("max_cnt", "max_item"),
                        ),
                        top_frac,
                    ).alias(f"top_{n}gram_char_frac")
                )
            for n in dup_ns:
                rs = _run_stats(
                    F.array_sort(ngrams_of(words, n)),
                    _gram_nospace_len,
                    stats=("dup_total_chars",),
                )
                fields.append(
                    _frac(rs["dup_total_chars"], ns).alias(
                        f"dup_{n}gram_char_frac"
                    )
                )
            return F.struct(*fields)

        return _let(
            _run_stats(
                F.array_sort(lines),
                F.length,
                stats=("dup_extra_count", "dup_extra_chars"),
            ),
            finish,
        )

    return _let(
        F.struct(
            tokens(col).alias("toks"),
            _trimmed_lines(col).alias("lines"),
            nonspace.alias("ns"),
        ),
        build,
    )


# --- C4 cleaning rules (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning...", §2.2) -----------------------------------------
#
# Documented simplifications (shared with the oracle and the Python
# test model): "sentences" are counted as terminal-punctuation
# occurrences ([.!?]) in the KEPT text rather than via a sentence
# tokenizer, and the bad-word list is out of scope (licensing).

C4_TERMINAL_SUFFIXES = (".", "!", "?", '"')
C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3


def _trimmed_lines(col: Column) -> Column:
    """Non-blank, space-trimmed lines — the shared line view.
    NB: F.transform(arr, F.trim) silently no-ops (trim's optional
    second parameter captures the lambda variable) — the explicit
    lambda is load-bearing."""
    return F.filter(
        F.transform(F.split(col, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )


def c4_kept_lines(col: Column, min_words: int = C4_MIN_LINE_WORDS) -> Column:
    """Lines surviving C4's line rules: terminal punctuation at the
    end AND at least ``min_words`` whitespace words."""
    def keep(l: Column) -> Column:
        last = F.substring(l, -1, 1)
        return last.isin(*C4_TERMINAL_SUFFIXES) & (
            F.size(F.split(l, r"\s+")) >= min_words
        )

    return F.filter(_trimmed_lines(col), keep)


def c4_signals(col: Column, min_words: int = C4_MIN_LINE_WORDS) -> Column:
    """C4 page-level signals as a struct: n_lines, n_kept_lines,
    n_sentences (terminal-punct occurrences in the kept text),
    has_brace ('{' anywhere — C4 drops code-ish pages), has_lorem
    ('lorem ipsum', case-insensitive)."""

    def build(packed: Column) -> Column:
        lines, kept = packed["lines"], packed["kept"]
        kt = F.array_join(kept, "\n")
        return F.struct(
            F.size(lines).cast("long").alias("n_lines"),
            F.size(kept).cast("long").alias("n_kept_lines"),
            (
                F.length(kt) - F.length(F.regexp_replace(kt, r"[.!?]", ""))
            ).cast("long").alias("n_sentences"),
            F.contains(col, F.lit("{")).alias("has_brace"),
            F.contains(F.lower(col), F.lit("lorem ipsum")).alias("has_lorem"),
        )

    return _let(
        F.struct(
            _trimmed_lines(col).alias("lines"),
            c4_kept_lines(col, min_words).alias("kept"),
        ),
        build,
    )


def c4_page_filter(
    signals: Column, min_sentences: int = C4_MIN_SENTENCES
) -> Column:
    """C4's page verdict over :func:`c4_signals`: at least
    ``min_sentences`` sentences in the kept text, no '{', no 'lorem
    ipsum'."""
    return (
        (signals["n_sentences"] >= int(min_sentences))
        & ~signals["has_brace"]
        & ~signals["has_lorem"]
    )


def dedup_lines_array(col: Column) -> Column:
    """The kept-line ARRAY of :func:`dedup_lines` — exposed so callers
    needing both the deduped text and its line count (or any other
    derived stat) bind the array once instead of re-splitting the
    joined string, which miscounts the empty document
    (``F.size(F.split("", "\\n")) == 1``, not 0 — ADVICE r10)."""
    return _let(
        _trimmed_lines(col),
        lambda l: F.filter(l, lambda x, i: F.array_position(l, x) == i + 1),
    )


def dedup_lines(col: Column) -> Column:
    """Within-document line deduplication (the CCNet/C4 cleaning pass
    that strips repeated headers / boilerplate lines): keep the FIRST
    occurrence of every line, preserve order, re-join with newlines.
    Pure Column algebra — array_position finds the first index, the
    indexed filter keeps it; O(lines^2) per document in the worst
    case, bounded by document size, no shuffle."""
    return F.array_join(dedup_lines_array(col), "\n")


# Canonical Gopher thresholds (A1.1).  Keys match gopher_signals fields.
GOPHER_DEFAULTS: dict[str, float] = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_alpha_word_frac": 0.8,
    "min_stop_hits": 2,
    "max_dup_line_frac": 0.3,
    "max_dup_line_char_frac": 0.2,
    "max_top_2gram_char_frac": 0.2,
    "max_top_3gram_char_frac": 0.18,
    "max_top_4gram_char_frac": 0.16,
    "max_dup_5gram_char_frac": 0.15,
    "max_dup_10gram_char_frac": 0.10,
}


def gopher_filter(signals: Column, **overrides: float) -> Column:
    """Boolean pass/fail from a :func:`gopher_signals` struct under
    the canonical Gopher thresholds (override any by keyword).
    Thresholds apply to the struct's rounded fractions so both
    engines decide identically at the boundaries."""
    unknown = set(overrides) - set(GOPHER_DEFAULTS)
    if unknown:
        raise ValueError(f"unknown gopher_filter thresholds: {sorted(unknown)}")
    t = {**GOPHER_DEFAULTS, **overrides}
    return (
        (signals["n_words"] >= F.lit(int(t["min_words"])))
        & (signals["n_words"] <= F.lit(int(t["max_words"])))
        & (signals["mean_word_len"] >= F.lit(float(t["min_mean_word_len"])))
        & (signals["mean_word_len"] <= F.lit(float(t["max_mean_word_len"])))
        & (signals["symbol_word_ratio"] <= F.lit(float(t["max_symbol_word_ratio"])))
        & (signals["bullet_line_frac"] <= F.lit(float(t["max_bullet_line_frac"])))
        & (signals["ellipsis_line_frac"] <= F.lit(float(t["max_ellipsis_line_frac"])))
        & (signals["alpha_word_frac"] >= F.lit(float(t["min_alpha_word_frac"])))
        & (signals["stop_hits"] >= F.lit(int(t["min_stop_hits"])))
        & (signals["dup_line_frac"] <= F.lit(float(t["max_dup_line_frac"])))
        & (signals["dup_line_char_frac"] <= F.lit(float(t["max_dup_line_char_frac"])))
        & (signals["top_2gram_char_frac"] <= F.lit(float(t["max_top_2gram_char_frac"])))
        & (signals["top_3gram_char_frac"] <= F.lit(float(t["max_top_3gram_char_frac"])))
        & (signals["top_4gram_char_frac"] <= F.lit(float(t["max_top_4gram_char_frac"])))
        & (signals["dup_5gram_char_frac"] <= F.lit(float(t["max_dup_5gram_char_frac"])))
        & (
            signals["dup_10gram_char_frac"]
            <= F.lit(float(t["max_dup_10gram_char_frac"]))
        )
    )
