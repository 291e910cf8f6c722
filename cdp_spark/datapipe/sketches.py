"""Distributed sketching, cross-engine reproducible: HyperLogLog
(cardinality), count-min (frequency / heavy hitters), and Bloom
filters (membership / join pruning).

Spark ships approx_count_distinct (HLL++), but its sketch internals
are engine-specific, so the result cannot be verified by an
independent engine.  This module builds the classic Flajolet et al.
HyperLogLog from deterministic primitives BOTH Spark and DuckDB
implement identically, which makes the *approximate* answer exactly
oracle-checkable:

- the 60-bit md5-based hash (`ddp.md5_hash60` — DuckDB computes the
  identical value via ``CAST('0x' || substr(md5(s),1,15) AS BIGINT)``),
- register index = low ``p`` hash bits, rank from the remaining
  ``60-p`` bits via ``length(bin(x))`` (integer-exact on both engines,
  unlike floating ``log2``),
- the harmonic sum accumulated in DECIMAL(38,30): ranks are clamped to
  24 so every ``2^-rank`` term is exact in 30 fractional digits and
  the sum is order-insensitive — no float-summation nondeterminism.

Scale shape: one partial-aggregated groupBy over ``2^p`` registers
(map-side combine reduces each partition to <=2^p rows before the
exchange), then a single-row reduction — the same shape at 100 TB.
Mergeability across shards is register-wise MAX, so pre-sharded
sketches union for free (group the register frame by register).

Reference: the CDP reference has NO sketches (SURVEY §2.6 — windows
+ exact per-window dedup only); this is a declared superset
capability, like joins.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_hash60

# Clamp ranks so 2^-rank stays exact in DECIMAL(38,30); rank 24 caps
# the per-register contribution error far below HLL's intrinsic
# ~1.04/sqrt(m) noise for any cardinality this engine will meet
# (rank > 24 needs ~2^24 values landing in ONE register).
_RANK_CLAMP = 24


def _alpha(m: int) -> float:
    """Bias-correction constant (Flajolet et al. 2007, fig. 3)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def hll_registers_by(
    df: DataFrame, group_cols: list[str], col: str, p: int = 8
) -> DataFrame:
    """Per-group sketch state: (group..., register, max_rank) — one
    row per non-empty register per group (empty ``group_cols`` gives
    the global sketch).  State is O(groups × 2^p) regardless of input
    volume; the shuffle carries only partial register maxima
    (map-side combined).

    Hash = md5_hash60 of the value as a string; register = hash mod
    2^p; rank = leading-zero count of the remaining 60-p bits plus
    one, computed as ``61-p - length(bin(rest))`` — spelled with
    bin() so it is integer-exact on both engines."""
    m = 1 << p
    h = md5_hash60(F.col(col).cast("string"))
    rest = F.shiftright(h, p)
    width = 60 - p
    rank = (
        F.when(rest > 0, F.lit(width + 1) - F.length(F.bin(rest)))
        .otherwise(F.lit(width + 1))
        .cast("int")
    )
    return (
        df.where(F.col(col).isNotNull())
        .select(*group_cols, (h % m).alias("register"), rank.alias("rank"))
        .groupBy(*group_cols, "register")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_registers(df: DataFrame, col: str, p: int = 8) -> DataFrame:
    """Global (register, max_rank) sketch state — the ungrouped
    special case of :func:`hll_registers_by`."""
    return hll_registers_by(df, [], col, p)


def hll_estimate_by(
    df: DataFrame, group_cols: list[str], col: str, p: int = 8
) -> DataFrame:
    """Per-group HLL cardinality — the "distinct users per segment
    over 100 TB in one pass" query.  Same estimator as
    :func:`hll_estimate_from_registers` (delegated, grouped), applied
    over :func:`hll_registers_by` state."""
    return hll_estimate_from_registers(
        hll_registers_by(df, group_cols, col, p), p, group_cols=group_cols
    )


def hll_by_oracle_sql(table: str, group_col: str, col: str, p: int = 8) -> str:
    """DuckDB twin of :func:`hll_estimate_by` for a single group
    column — the grouped variant of :func:`hll_oracle_sql` (same
    shared template)."""
    return _hll_sql(table, col, p, group_col=group_col)


def hll_estimate(df: DataFrame, col: str, p: int = 8) -> DataFrame:
    """One-row DataFrame ``(n_registers, hll_estimate)`` — the HLL
    cardinality estimate with the standard small-range correction
    (linear counting when E <= 2.5m and empty registers remain)."""
    return hll_estimate_from_registers(hll_registers(df, col, p), p)


def hll_estimate_from_registers(
    registers: DataFrame, p: int = 8, group_cols: list[str] | None = None
) -> DataFrame:
    """Finish an estimate from a ``(register, max_rank)`` frame — the
    merge-then-estimate path: registers can come from :func:`
    hll_registers`, a union of shard sketches, or a STREAMING
    aggregation (register-max is order-insensitive, so the sketch
    streams natively in complete/update mode).  With ``group_cols``
    the frame carries per-group state and one estimate row per group
    comes back."""
    group_cols = group_cols or []
    m = 1 << p
    alpha = _alpha(m)
    regs = registers.select(
        *group_cols,
        "register",
        F.least(F.col("max_rank"), F.lit(_RANK_CLAMP)).alias("rank_c"),
    )
    agg = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("nreg"),
        F.sum(F.pow(F.lit(2.0), -F.col("rank_c")).cast("decimal(38,30)")).alias(
            "z_present"
        ),
    )
    # coalesce: an empty input has no register rows -> sum is NULL,
    # and the correct answer is the all-empty-registers estimate
    z = F.coalesce(F.col("z_present").cast("double"), F.lit(0.0)) + (
        F.lit(m) - F.col("nreg")
    ).cast("double")
    e_raw = F.lit(alpha * m * m) / z
    v = F.lit(m) - F.col("nreg")  # empty registers
    estimate = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(e_raw)
    return agg.select(
        *group_cols,
        F.col("nreg").cast("long").alias("n_registers"),
        F.round(estimate, 2).cast("double").alias("hll_estimate"),
    )


def _hll_sql(table: str, col: str, p: int, group_col: str | None) -> str:
    """One SQL template for both the global and grouped DuckDB twins
    — same hash, same integer-exact rank, same decimal harmonic sum,
    same small-range correction as the DataFrame estimator.  Kept
    next to the operator so the formulations evolve together."""
    m = 1 << p
    alpha = _alpha(m)
    width1 = 60 - p + 1
    gsel = f"{group_col} AS grp," if group_col else ""
    gout = "grp," if group_col else ""
    gby_regs = "GROUP BY grp, register" if group_col else "GROUP BY register"
    gby_agg = "GROUP BY grp" if group_col else ""
    return f"""
        WITH hashed AS (
          SELECT {gsel}
                 CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15) AS BIGINT) AS h
          FROM {table} WHERE {col} IS NOT NULL
        ),
        ranked AS (
          SELECT {gout} h % {m} AS register,
                 CASE WHEN h // {m} > 0
                      THEN {width1} - length(bin(h // {m}))
                      ELSE {width1} END AS rank
          FROM hashed
        ),
        regs AS (
          SELECT {gout} register, least(max(rank), {_RANK_CLAMP}) AS rank_c
          FROM ranked {gby_regs}
        ),
        agg AS (
          SELECT {gout} count(*) AS nreg,
                 sum(CAST(pow(2.0, -rank_c) AS DECIMAL(38,30))) AS z_present
          FROM regs {gby_agg}
        )
        SELECT {gout} CAST(nreg AS BIGINT) AS n_registers,
               CAST(round(
                 CASE WHEN {alpha * m * m!r} / (CAST(z_present AS DOUBLE) + ({m} - nreg))
                           <= {2.5 * m!r}
                       AND ({m} - nreg) > 0
                      THEN {float(m)!r} * ln({float(m)!r} / ({m} - nreg))
                      ELSE {alpha * m * m!r} / (CAST(z_present AS DOUBLE) + ({m} - nreg))
                 END, 2) AS DOUBLE) AS hll_estimate
        FROM agg
    """


def hll_oracle_sql(table: str, col: str, p: int = 8) -> str:
    """The DuckDB twin of :func:`hll_estimate` (global sketch)."""
    return _hll_sql(table, col, p, group_col=None)


# ---------------------------------------------------------------------------
# Count-min sketch — heavy hitters with fixed-size mergeable state


def _cms_salt(j: int) -> str:
    return f"s{j}:"


def cms_sketch(
    df: DataFrame, col: str, depth: int = 3, width: int = 256
) -> DataFrame:
    """Count-min sketch of a column: ``(row, bucket, cnt)`` counters,
    ``depth`` independent md5-salted hash rows of ``width`` buckets.
    The sketch is FIXED SIZE (depth*width counters) regardless of
    input cardinality — the property that matters at 100 TB — and
    merges across shards by adding counters (group by (row, bucket),
    sum).  All arithmetic is integer, so estimates are bit-identical
    on any engine with the same md5 primitive.

    Plan: one explode to depth rows per value (the only amplification)
    and one map-side-combined groupBy over <= depth*width keys."""
    probes = [
        F.struct(
            F.lit(j).alias("row"),
            (
                md5_hash60(F.concat(F.lit(_cms_salt(j)), F.col(col).cast("string")))
                % width
            ).alias("bucket"),
        )
        for j in range(depth)
    ]
    return (
        df.where(F.col(col).isNotNull())
        .select(F.explode(F.array(*probes)).alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimates(
    sketch: DataFrame, items: DataFrame, col: str, depth: int = 3, width: int = 256
) -> DataFrame:
    """Point estimates for ``items[col]``: min over the sketch rows of
    the item's counter (the classic CMS upper bound — overestimates
    only, never under).  The sketch side is depth*width rows at most,
    so the probe join broadcasts."""
    probes = [
        F.struct(
            F.lit(j).alias("row"),
            (
                md5_hash60(F.concat(F.lit(_cms_salt(j)), F.col(col).cast("string")))
                % width
            ).alias("bucket"),
        )
        for j in range(depth)
    ]
    probe_df = items.select(col, F.explode(F.array(*probes)).alias("rb")).select(
        col, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    )
    joined = probe_df.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return joined.groupBy(col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count")
    )


def cms_oracle_sql(
    table: str, col: str, depth: int = 3, width: int = 256
) -> str:
    """DuckDB twin of cms_sketch + cms_estimates over the distinct
    values of ``col`` — same salts, same md5-derived buckets, same
    min-of-counters, all integer-exact."""
    salted = " UNION ALL ".join(
        f"SELECT v, {j} AS row, "
        f"CAST('0x' || substr(md5('{_cms_salt(j)}' || v), 1, 15) AS BIGINT) % {width} AS bucket "
        f"FROM vals"
        for j in range(depth)
    )
    return f"""
        WITH vals AS (
          SELECT DISTINCT CAST({col} AS VARCHAR) AS v
          FROM {table} WHERE {col} IS NOT NULL
        ),
        allrows AS (
          SELECT CAST({col} AS VARCHAR) AS v
          FROM {table} WHERE {col} IS NOT NULL
        ),
        probes AS ({salted.replace("FROM vals", "FROM allrows", depth)}),
        sketch AS (
          SELECT row, bucket, count(*) AS cnt FROM probes GROUP BY row, bucket
        ),
        item_probes AS ({salted}),
        est AS (
          SELECT p.v, min(coalesce(s.cnt, 0)) AS est_count
          FROM item_probes p LEFT JOIN sketch s
            ON s.row = p.row AND s.bucket = p.bucket
          GROUP BY p.v
        )
        SELECT v, CAST(est_count AS BIGINT) AS est_count FROM est
    """


# ---------------------------------------------------------------------------
# Bloom filter — set membership with bounded false positives


def _bloom_salt(j: int) -> str:
    return f"b{j}:"


def bloom_positions(
    df: DataFrame, col: str, n_bits: int = 131072, k: int = 3
) -> DataFrame:
    """Bloom filter of a column as its SET-BIT POSITIONS — the sparse
    relational encoding of the bitmap (one ``pos`` row per set bit,
    <= n_bits rows total regardless of input size).  Filters merge by
    union+distinct; k md5-salted hashes per value, all integer, so
    membership verdicts are bit-identical on the DuckDB oracle.

    The classic use at 100 TB is join pruning: build over the small
    side's keys, broadcast (<= n_bits longs), and pre-filter the big
    side's scan before the real join."""
    probes = [
        (
            md5_hash60(F.concat(F.lit(_bloom_salt(j)), F.col(col).cast("string")))
            % n_bits
        ).alias(f"p{j}")
        for j in range(k)
    ]
    return (
        df.where(F.col(col).isNotNull())
        .select(F.explode(F.array(*probes)).alias("pos"))
        .distinct()
    )


def bloom_contains(
    positions: DataFrame, items: DataFrame, col: str, n_bits: int = 131072, k: int = 3
) -> DataFrame:
    """``(col, might_contain)`` for each item: true iff ALL of the
    item's hash positions are set (no false negatives; false positives
    bounded by the standard (1-e^(-kn/m))^k).  The positions side
    broadcasts."""
    probes = [
        (
            md5_hash60(F.concat(F.lit(_bloom_salt(j)), F.col(col).cast("string")))
            % n_bits
        ).alias(f"p{j}")
        for j in range(k)
    ]
    probe_df = (
        items.select(col, F.explode(F.array(*probes)).alias("pos"))
        .distinct()  # salt collisions: an item may map to < k positions
    )
    hit = probe_df.join(
        F.broadcast(positions.withColumn("_set", F.lit(1))), "pos", "left"
    )
    return hit.groupBy(col).agg(
        (F.min(F.coalesce(F.col("_set"), F.lit(0))) == 1).alias("might_contain")
    )


def bloom_oracle_sql(
    build_table: str,
    build_col: str,
    probe_table: str,
    probe_col: str,
    n_bits: int = 131072,
    k: int = 3,
) -> str:
    """DuckDB twin of bloom_positions + bloom_contains: per probe
    value, ``(v, might_contain)``."""
    def salted(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT v, CAST('0x' || substr(md5('{_bloom_salt(j)}' || v), 1, 15) AS BIGINT) % {n_bits} AS pos "
            f"FROM {src}"
            for j in range(k)
        )

    return f"""
        WITH build_vals AS (
          SELECT DISTINCT CAST({build_col} AS VARCHAR) AS v
          FROM {build_table} WHERE {build_col} IS NOT NULL
        ),
        probe_vals AS (
          SELECT DISTINCT CAST({probe_col} AS VARCHAR) AS v
          FROM {probe_table} WHERE {probe_col} IS NOT NULL
        ),
        positions AS (
          SELECT DISTINCT pos FROM ({salted('build_vals')})
        ),
        probes AS (
          SELECT DISTINCT v, pos FROM ({salted('probe_vals')})
        )
        SELECT p.v,
               min(CASE WHEN s.pos IS NULL THEN 0 ELSE 1 END) = 1 AS might_contain
        FROM probes p LEFT JOIN positions s ON s.pos = p.pos
        GROUP BY p.v
    """


# ---------------------------------------------------------------------------
# Histogram sketch — approximate quantiles in one data pass


def histogram_sketch(
    df: DataFrame, col: str, bins: int = 1000
) -> DataFrame:
    """Equi-width histogram of a column as ``(bin, cnt)`` counters —
    the quantile sketch: fixed ``bins`` rows of integer state
    regardless of input size, mergeable by adding counters.  Bounds
    come from a broadcast (lo, hi) scalar aggregate, so the whole
    thing is declarative (no driver collect) and the bin arithmetic
    is deterministic: ``least(bins-1, floor((v-lo)/width))``.

    Plan: one scalar agg (broadcast), one map-side-combined groupBy
    over <= bins keys."""
    c = F.col(col)
    bounds = df.agg(
        F.min(c).cast("double").alias("lo"), F.max(c).cast("double").alias("hi")
    )
    binned = (
        df.where(c.isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            F.when(
                F.col("hi") > F.col("lo"),
                F.least(
                    F.lit(bins - 1),
                    F.floor(
                        (c.cast("double") - F.col("lo"))
                        / ((F.col("hi") - F.col("lo")) / bins)
                    ),
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("bin"),
            "lo",
            "hi",
        )
    )
    return binned.groupBy("bin", "lo", "hi").agg(F.count(F.lit(1)).alias("cnt"))


def histogram_quantiles(
    df: DataFrame, col: str, bins: int = 1000, quantiles=(0.5, 0.95, 0.99)
) -> DataFrame:
    """Approximate quantiles from the histogram sketch: for each q,
    the first bin whose cumulative count reaches ``ceil(q*N)``,
    interpolated linearly inside the bin.  Error is bounded by one
    bin width ((hi-lo)/bins).  The cumulative window runs over <=
    ``bins`` rows — bounded state, not a data-sized sort.  All
    arithmetic is a fixed formula over integer counts and the two
    broadcast bounds, so results round-trip the DuckDB oracle
    exactly."""
    from pyspark.sql import Window as W

    hist = histogram_sketch(df, col, bins)
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    full = W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = hist.select(
        "bin",
        "lo",
        "hi",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(full).alias("n"),
    )
    # ONE pass for all quantiles: the hit bin for q is the unique row
    # with cum >= target > cum - cnt, so exploding the q list against
    # the (<= bins rows) cumulative frame needs no per-quantile
    # subplans (which would re-evaluate the histogram per q).
    width = (F.col("hi") - F.col("lo")) / bins
    target = F.ceil(F.col("q") * F.col("n"))
    return (
        cum.select(
            "bin",
            "lo",
            "hi",
            "cnt",
            "cum",
            "n",
            F.explode(
                F.array(*[F.lit(float(q)) for q in quantiles])
            ).alias("q"),
        )
        .where((F.col("cum") >= target) & ((F.col("cum") - F.col("cnt")) < target))
        .select(
            "q",
            _round_half_up(
                F.col("lo")
                + width
                * (
                    F.col("bin").cast("double")
                    + (
                        (target - (F.col("cum") - F.col("cnt"))).cast("double")
                        / F.col("cnt")
                    )
                ),
                4,
            ).alias("estimate"),
        )
    )


def _round_half_up(col: Column, digits: int) -> Column:
    """Cross-engine DETERMINISTIC rounding: floor(x·10^d + 0.5)/10^d —
    pure IEEE ops on identical operands give identical results on any
    engine.  Spark's round() goes through the double's SHORTEST
    DECIMAL REPR half-up (BigDecimal.valueOf) while DuckDB rounds the
    binary value; when the shortest repr terminates exactly at the
    half digit (33.92905 at d=4) they disagree, and no decimal-
    truncation mimic is exact in both directions.  SQL twin:
    ``floor(x * 1e{d} + 0.5) / 1e{d}``.  (Half rounds toward +inf for
    negatives — consistent cross-engine, which is what matters.)"""
    s = float(10**digits)
    return F.floor(col * s + F.lit(0.5)).cast("double") / F.lit(s)


def histogram_quantiles_by(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    bins: int = 1000,
    quantiles=(0.5, 0.95, 0.99),
) -> DataFrame:
    """Per-group approximate quantiles from per-group histogram
    sketches — the sketch path for HIGH-cardinality grouping, where
    the exact sort-based ``percentile`` aggregate (fine for a handful
    of groups) stops scaling: state is O(groups × bins) integer
    counters, every aggregate map-side combined, per-group bounds
    join back as a broadcast, and the cumulative window runs over
    <= bins rows per group — never a data-sized sort."""
    from pyspark.sql import Window as W

    c = F.col(col)
    bounds = (
        df.where(c.isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.min(c).cast("double").alias("lo"),
            F.max(c).cast("double").alias("hi"),
        )
    )
    binned = (
        df.where(c.isNotNull())
        .join(F.broadcast(bounds), list(group_cols))
        .select(
            *group_cols,
            F.when(
                F.col("hi") > F.col("lo"),
                F.least(
                    F.lit(bins - 1),
                    F.floor(
                        (c.cast("double") - F.col("lo"))
                        / ((F.col("hi") - F.col("lo")) / bins)
                    ),
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("bin"),
            "lo",
            "hi",
        )
    )
    hist = binned.groupBy(*group_cols, "bin", "lo", "hi").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = W.partitionBy(*group_cols).orderBy("bin").rowsBetween(
        W.unboundedPreceding, 0
    )
    full = W.partitionBy(*group_cols)
    cum = hist.select(
        *group_cols,
        "bin",
        "lo",
        "hi",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(full).alias("n"),
    )
    width = (F.col("hi") - F.col("lo")) / bins
    target = F.ceil(F.col("q") * F.col("n"))
    return (
        cum.select(
            *group_cols,
            "bin",
            "lo",
            "hi",
            "cnt",
            "cum",
            "n",
            F.explode(
                F.array(*[F.lit(float(q)) for q in quantiles])
            ).alias("q"),
        )
        .where((F.col("cum") >= target) & ((F.col("cum") - F.col("cnt")) < target))
        .select(
            *group_cols,
            "q",
            _round_half_up(
                F.col("lo")
                + width
                * (
                    F.col("bin").cast("double")
                    + (
                        (target - (F.col("cum") - F.col("cnt"))).cast("double")
                        / F.col("cnt")
                    )
                ),
                4,
            ).alias("estimate"),
        )
    )


def histogram_quantiles_by_oracle_sql(
    table: str,
    group_col: str,
    col: str,
    bins: int = 1000,
    quantiles=(0.5, 0.95, 0.99),
) -> str:
    """DuckDB twin of :func:`histogram_quantiles_by` for one group
    column — same per-group bounds, bins, cumulative rule, and
    interpolation.  Final rounding uses the shared half-up rule
    ``floor(x * 10^d + 0.5) / 10^d`` (``_round_half_up`` — pure IEEE
    ops on identical operands in both engines), NOT engine-native
    ``round()``: Spark rounds the shortest DECIMAL repr half-up
    (BigDecimal.valueOf) while DuckDB rounds the binary double, and no
    decimal-truncation mimic is exact in both directions (33.92905 at
    d=4 flips one way, 253.95275 the other)."""
    qs_rows = ", ".join(f"(CAST({float(q)!r} AS DOUBLE))" for q in quantiles)
    return f"""
        WITH bounds AS (
          SELECT {group_col} AS grp,
                 CAST(min({col}) AS DOUBLE) AS lo,
                 CAST(max({col}) AS DOUBLE) AS hi
          FROM {table} WHERE {col} IS NOT NULL GROUP BY {group_col}
        ),
        binned AS (
          SELECT b.grp, b.lo, b.hi,
                 CASE WHEN b.hi > b.lo
                      THEN least({bins - 1},
                                 CAST(floor((CAST({col} AS DOUBLE) - b.lo)
                                            / ((b.hi - b.lo) / {bins})) AS BIGINT))
                      ELSE 0 END AS bin
          FROM {table} t JOIN bounds b ON t.{group_col} = b.grp
          WHERE {col} IS NOT NULL
        ),
        hist AS (
          SELECT grp, bin, lo, hi, count(*) AS cnt
          FROM binned GROUP BY grp, bin, lo, hi
        ),
        cum AS (
          SELECT grp, bin, lo, hi, cnt,
                 sum(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum,
                 sum(cnt) OVER (PARTITION BY grp) AS n
          FROM hist
        ),
        qs(q) AS (VALUES {qs_rows})
        SELECT grp, q,
               floor((lo + ((hi - lo) / {bins})
                      * (CAST(bin AS DOUBLE)
                         + CAST(ceil(q * n) - (cum - cnt) AS DOUBLE) / cnt))
                     * 10000.0 + 0.5) / 10000.0 AS estimate
        FROM qs, cum
        WHERE cum >= ceil(q * n) AND (cum - cnt) < ceil(q * n)
    """


def histogram_quantiles_oracle_sql(
    table: str, col: str, bins: int = 1000, quantiles=(0.5, 0.95, 0.99)
) -> str:
    """DuckDB twin of histogram_quantiles — same bins, same cumulative
    rule, same interpolation."""
    # CAST: a bare VALUES literal types q as DECIMAL in DuckDB, which
    # would schema-mismatch Spark's double q column
    qs_rows = ", ".join(f"(CAST({float(q)!r} AS DOUBLE))" for q in quantiles)
    return f"""
        WITH bounds AS (
          SELECT CAST(min({col}) AS DOUBLE) AS lo, CAST(max({col}) AS DOUBLE) AS hi
          FROM {table}
        ),
        binned AS (
          SELECT CASE WHEN b.hi > b.lo
                      THEN least({bins - 1},
                                 CAST(floor((CAST({col} AS DOUBLE) - b.lo)
                                            / ((b.hi - b.lo) / {bins})) AS BIGINT))
                      ELSE 0 END AS bin, b.lo, b.hi
          FROM {table}, bounds b WHERE {col} IS NOT NULL
        ),
        hist AS (
          SELECT bin, lo, hi, count(*) AS cnt FROM binned GROUP BY bin, lo, hi
        ),
        cum AS (
          SELECT bin, lo, hi, cnt,
                 sum(cnt) OVER (ORDER BY bin) AS cum,
                 sum(cnt) OVER () AS n
          FROM hist
        ),
        qs(q) AS (VALUES {qs_rows})
        SELECT q,
               floor((lo + ((hi - lo) / {bins})
                      * (CAST(bin AS DOUBLE)
                         + CAST(ceil(q * n) - (cum - cnt) AS DOUBLE) / cnt))
                     * 10000.0 + 0.5) / 10000.0 AS estimate
        FROM qs, cum
        WHERE cum >= ceil(q * n) AND (cum - cnt) < ceil(q * n)
    """


def hll_intersection_estimate(
    reg_a: DataFrame, reg_b: DataFrame, p: int = 8
) -> DataFrame:
    """Segment-OVERLAP estimate from two HLL register frames via
    inclusion-exclusion:

        |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B)

    — the audience-overlap / cross-dataset-contamination question
    answered from sketch state alone (each side can be a per-shard
    union of persisted sketches; the data is never re-read).  The
    union estimate comes from the register-wise max merge, so all
    three terms share one estimator and the arithmetic is exact
    double ops on round-2 estimates — deterministic cross-engine,
    final value clamped at 0 (inclusion-exclusion can go slightly
    negative on near-disjoint sets) and rounded half-up to 2 via the
    shared floor idiom.

    Error: the absolute error of the difference stacks the three
    estimates' errors, so SMALL overlaps of LARGE sets are noisy —
    the standard HLL-intersection caveat; raise ``p`` when the
    overlap matters at small relative size.

    Output: one row (est_a, est_b, est_union, est_intersection).
    """
    est_a = hll_estimate_from_registers(reg_a, p).select(
        F.col("hll_estimate").alias("est_a")
    )
    est_b = hll_estimate_from_registers(reg_b, p).select(
        F.col("hll_estimate").alias("est_b")
    )
    merged = (
        reg_a.unionByName(reg_b)
        .groupBy("register")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    est_u = hll_estimate_from_registers(merged, p).select(
        F.col("hll_estimate").alias("est_union")
    )
    inter = F.greatest(
        F.col("est_a") + F.col("est_b") - F.col("est_union"), F.lit(0.0)
    )
    return (
        est_a.crossJoin(est_b)
        .crossJoin(est_u)
        .select(
            "est_a",
            "est_b",
            "est_union",
            (F.floor(inter * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)).alias(
                "est_intersection"
            ),
        )
    )
