"""Vectorized Arrow kernels for the hash-fold primitives
(optimization r16).  The original formulations folded a num_perm-wide
(resp. 64-wide) lambda through Catalyst higher-order functions:
aggregate/zip_with bodies are evaluated INTERPRETED per array element,
allocating a fresh accumulator array per step — O(elements x width)
interpreted expression evaluations per document, measured as the
dominant cost of every minhash/simhash operator (guide §4.2: hand
whole batches to vectorized native kernels instead).  String hashing
stays JVM-side (md5/xxhash64, codegen); only the wide arithmetic fold
crosses to Arrow+numpy, as exact int64 math — results are
bit-identical to the Column folds (tests/test_round16_kernels.py).

The kernels run through ``mapInPandas`` (``attach_kernel_column``), a
plan NODE, deliberately NOT through scalar pandas UDF expressions:
Spark 4.1.2's ExtractPythonUDFs intermittently fails to extract a
scalar Python UDF whose projection sits above another operator
(Repartition/Union/cache) with a Generate downstream — execution dies
with "Cannot evaluate expression: PythonUDF", and the outcome is
in-session order-dependent (measured: the same query passes alone and
fails after other queries ran).  A mapInPandas node needs no
extraction, composes under Generate/explode, and works identically in
batch and streaming plans.

NOTE: no ``from __future__ import annotations`` here — mapInPandas
infers the eval type from REAL type hints.
"""

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql.types import StructField, StructType

_MERSENNE = (1 << 31) - 1

_SIG_ROW_FNS: dict = {}
_SIMHASH_ROW_FN: list = []
_WINNOW_ROW_FNS: dict = {}


def attach_kernel_column(df, carry, input_expr, out_field: StructField, row_fn):
    """``df.select(*carry, row_fn(input_expr) AS out_field.name)`` with
    the row function evaluated in ONE mapInPandas pass: ``input_expr``
    is computed JVM-side into a temp column, only ``carry`` +- that
    input cross the Arrow boundary (guide §4.1: pass the columns the
    function needs, nothing else), and the output schema is
    ``carry + [out_field]``."""
    # A carry column named __kernel_in would make pdf["__kernel_in"]
    # ambiguous / pick the wrong column (ADVICE r16) — reject loudly.
    assert "__kernel_in" not in carry, "carry collides with temp column"
    src = df.select(*carry, input_expr.alias("__kernel_in"))
    carry_fields = [src.schema[c] for c in carry]
    schema = StructType(carry_fields + [out_field])
    out_name = out_field.name

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[list(carry)].copy()
            out[out_name] = [row_fn(v) for v in pdf["__kernel_in"]]
            yield out

    return src.mapInPandas(run, schema)


def attach_kernel_column_batch(
    df, carry, input_expr, out_field: StructField, batch_fn
):
    """:func:`attach_kernel_column` with a BATCH-level kernel:
    ``batch_fn`` receives the whole input pandas Series and returns a
    same-length sequence/ndarray — for kernels whose per-row work is
    a handful of numpy ops (vector argmin/argmax), where a per-row
    Python call would dominate the arithmetic."""
    assert "__kernel_in" not in carry, "carry collides with temp column"
    src = df.select(*carry, input_expr.alias("__kernel_in"))
    carry_fields = [src.schema[c] for c in carry]
    schema = StructType(carry_fields + [out_field])
    out_name = out_field.name

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[list(carry)].copy()
            out[out_name] = batch_fn(pdf["__kernel_in"])
            yield out

    return src.mapInPandas(run, schema)


def _on_rows_of_len(col: pd.Series, dim: int, kernel, fill):
    """Run ``kernel`` (an (m, dim) float64 matrix -> m int64 ids) on
    the rows of ``col`` holding a vector of length ``dim``; every other
    row (NULL, shorter, longer) gets ``fill`` (None = NULL) — what the
    Column fold yields for it, where ``zip_with`` pads the shorter side
    with NULLs so every distance/score is NULL.  Stacking such rows
    into one matrix would raise and kill the task (ADVICE r17)."""
    ok = np.fromiter(
        (v is not None and len(v) == dim for v in col),
        dtype=bool,
        count=len(col),
    )
    ids = np.empty(0, dtype=np.int64)
    if ok.any():
        V = np.array([np.asarray(v, dtype=np.float64) for v in col[ok]])
        ids = kernel(V)
    if ok.all():
        return ids
    out = pd.array([fill] * len(col), dtype="Int64")
    out[ok] = ids
    return out


def centroid_argmin_fn(cents):
    """Batch kernel: embedding column -> squared-L2 argmin centroid id
    (int64), ties to the LOWEST id — the exact twin of the Column
    fold ``array_position(dists, array_min(dists)) - 1`` over the
    squared-L2 distance array (tests/test_round17_kernels.py keeps that
    fold as its oracle).  The accumulation is per-dimension SEQUENTIAL
    (``acc += (v_d - c_d)^2`` in dimension order), reproducing the
    Catalyst fold's left-to-right double summation bit-for-bit, so
    ulp-level distance ties resolve identically (guide §4.2; the
    interpreted fold evaluates k x dim x 2 lambda steps per row)."""
    C = np.asarray(cents, dtype=np.float64)
    k, dim = C.shape

    def argmin(V: np.ndarray) -> np.ndarray:
        n = len(V)
        D = np.zeros((n, k), dtype=np.float64)
        for j in range(k):
            acc = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                t = V[:, d] - C[j, d]
                acc += t * t
            D[:, j] = acc
        return np.argmin(D, axis=1).astype(np.int64)

    return lambda col: _on_rows_of_len(col, dim, argmin, None)


def anchor_argmax_fn(anchors):
    """Batch kernel: embedding column -> dot-product argmax anchor id
    (int64), ties to the HIGHEST id — the exact twin of
    ``array_max(transform(anchors, struct(dot, i)))["i"]`` (struct max
    compares score first, then index, so equal scores pick the larger
    index).  Sequential per-dimension accumulation, as above."""
    A = np.asarray(anchors, dtype=np.float64)
    k, dim = A.shape

    def argmax(V: np.ndarray) -> np.ndarray:
        n = len(V)
        S = np.zeros((n, k), dtype=np.float64)
        for j in range(k):
            acc = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                acc += V[:, d] * A[j, d]
            S[:, j] = acc
        # first max over reversed columns == last max == highest id
        return (k - 1 - np.argmax(S[:, ::-1], axis=1)).astype(np.int64)

    # a NULL or wrong-length row scores NULL against every anchor, and
    # the fold's struct max over (NULL, i) picks the highest index
    return lambda col: _on_rows_of_len(col, dim, argmax, k - 1)


def minhash_sig_row_fn(num_perm: int, seed: int, permutation_params):
    """Cached row kernel: list of shingle hashes (already mod p) ->
    int64 signature array = per-permutation min of (a*x + b) mod p.
    Exact int64 arithmetic: a, x < 2^31 so a*x + b < 2^62.  None ->
    None, empty -> [p]*num_perm (the Column fold's semantics)."""
    key = (num_perm, seed)
    fn = _SIG_ROW_FNS.get(key)
    if fn is None:
        params = permutation_params(num_perm, seed)
        A = np.array([a for a, _ in params], dtype=np.int64)
        B = np.array([b for _, b in params], dtype=np.int64)
        empty_sig = np.full(num_perm, _MERSENNE, dtype=np.int64)

        def fn(h):
            if h is None:
                return None
            if len(h) == 0:
                return empty_sig
            hh = np.asarray(h, dtype=np.int64)
            return ((hh[:, None] * A[None, :] + B[None, :]) % _MERSENNE).min(
                axis=0
            )

        _SIG_ROW_FNS[key] = fn
    return fn


def winnow_row_fn(w: int):
    """Cached row kernel: array of k-gram hashes -> the winnowing
    fingerprint array (distinct minimum of every window of ``w``
    consecutive gram hashes, first-occurrence order).  Exact twin of
    the Column fold in ``dedup.winnow_fingerprints``'s select_mins:
    fewer than ``w`` grams yield ONE fingerprint (the whole-doc
    minimum — slice clamps at the boundary), zero grams yield an
    empty array, None yields None.  Exact int64 arithmetic
    (optimization r17, guide §4.2: the per-window slice+array_min
    fold is O(grams x w) INTERPRETED expression evaluations per doc)."""
    key = int(w)
    fn = _WINNOW_ROW_FNS.get(key)
    if fn is None:
        width = int(w)
        empty = np.empty(0, dtype=np.int64)

        def fn(h):
            if h is None:
                return None
            m = len(h)
            if m == 0:
                return empty
            hh = np.asarray(h, dtype=np.int64)
            if m <= width:
                mins = hh.min()[None]
            else:
                mins = np.lib.stride_tricks.sliding_window_view(
                    hh, width
                ).min(axis=1)
            # array_distinct parity: first-occurrence order
            _, idx = np.unique(mins, return_index=True)
            idx.sort()
            return mins[idx]

        _WINNOW_ROW_FNS[key] = fn
    return fn


def simhash_row_fn():
    """Cached row kernel: list of token hashes -> int64 SimHash
    fingerprint.  Exact twin of the original 64-wide aggregate/zip_with
    Column fold (votes = +1/-1 per bit per token, sign -> bit), i.e.
    bit b is set iff strictly more than half the token hashes have bit
    b set; an empty token list yields 0, None yields None."""
    if not _SIMHASH_ROW_FN:
        shifts = np.arange(64, dtype=np.uint64)

        def fn(h):
            if h is None:
                return None
            n = len(h)
            if n == 0:
                return 0
            hh = np.asarray(h, dtype=np.int64).astype(np.uint64)
            bits = (hh[:, None] >> shifts[None, :]) & np.uint64(1)
            votes = 2 * bits.sum(axis=0).astype(np.int64) - n
            word = np.uint64(0)
            for b in np.nonzero(votes > 0)[0]:
                word |= np.uint64(1) << np.uint64(b)
            return int(word.astype(np.int64))

        _SIMHASH_ROW_FN.append(fn)
    return _SIMHASH_ROW_FN[0]
