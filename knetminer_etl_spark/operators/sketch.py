"""Mergeable, deterministic cardinality / frequency sketches.

At 100 TB you cannot afford ``COUNT(DISTINCT x)`` per dashboard tile or
an exact token-frequency table per corpus snapshot; the standard answer
is sketches whose *state* is tiny, mergeable, and streamable:

* **HyperLogLog** (Flajolet et al. 2007): ``m = 2^p`` registers, each
  the max leading-zero rank of hashes landing in it. Registers merge
  with ``max`` — a distributive aggregate, so Spark computes them with
  map-side partial aggregation (one shuffle of at most ``m`` rows per
  group), and the same register table is a valid *streaming* aggregate
  state (see tests: batch registers == merged micro-batch registers).
* **Count-min** (Cormode & Muthukrishnan 2005): ``d × w`` counters;
  point estimate = min over rows. Counters merge with ``sum`` —
  likewise map-side combinable, one bounded shuffle.

Unlike Spark's built-in ``approx_count_distinct`` (whose HLL++ register
layout is not reproducible outside the JVM), everything here hashes
with the md5-derived 60-bit integer
(:func:`~knetminer_etl_spark.operators.dedup.md5_hash60`) that ANSI SQL
reproduces bit-for-bit, so sketch queries are oracle-checked EXACTLY:
the DuckDB twin computes the identical registers / counters and the
identical estimate — not "close enough", equal.

Estimate arithmetic is kept bit-reproducible across engines by scaling
the harmonic sum to an exact BIGINT (``sum(1 << (RHO_MAX - r))``) and
doing exactly one double multiply + divide on top — IEEE-deterministic
given equal inputs, unlike a float ``sum(pow(2, -r))`` whose result
depends on accumulation order.

The reference has no sketches (SURVEY.md §2 — its aggregations are
exact); this is a north-star extension for the training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_hash60

#: md5_hash60 yields 15 hex digits → 60 uniform bits.
HASH_BITS = 60


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


def hll_alpha(m: int) -> float:
    """Bias-correction constant for ``m >= 128`` registers."""
    if m < 128:
        raise ValueError("p < 7 registers need small-m alpha constants")
    return 0.7213 / (1.0 + 1.079 / m)


def hll_idx_rho(key: Column, seed: str = "hll", p: int = 8) -> tuple[Column, Column]:
    """(register index, leading-zero rank) for one key.

    The low ``p`` hash bits pick the register (bit ops, not ``%`` —
    60-bit values are exact in BIGINT but not in a double division);
    the remaining ``HASH_BITS - p`` bits feed the rank
    ``rho = (bits - bitlen(w)) + 1``, computed via the binary-string
    length (``bin()`` exists in both Spark and DuckDB and is
    integer-exact, unlike ``floor(log2(w))`` whose libm rounding could
    disagree across engines at power-of-two boundaries).
    """
    h = md5_hash60(F.concat(F.lit(f"{seed}:"), key.cast("string")))
    m = 1 << p
    idx = h.bitwiseAND(F.lit(m - 1))
    w = F.shiftright(h, p)
    wbits = HASH_BITS - p
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(w))
    )
    return idx, rho.cast("int")


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    seed: str = "hll",
    p: int = 8,
) -> DataFrame:
    """Per-group HLL register table: (group..., reg_idx, reg_rho).

    This IS the sketch state: at most ``2^p`` rows per group, merged
    with ``max`` — reruns over more data, unions of partial sketches,
    and streaming micro-batches all combine by the same aggregate.
    One map-side-combined shuffle; absent registers mean rank 0.
    """
    idx, rho = hll_idx_rho(F.col(key_col), seed, p)
    keys = list(group_cols or [])
    return (
        df.select(*keys, idx.alias("reg_idx"), rho.alias("reg_rho"))
        .groupBy(*keys, "reg_idx")
        .agg(F.max("reg_rho").alias("reg_rho"))
    )


def _ln_lookup(m: int) -> list[float]:
    """``ln(m / V)`` for V in 1..m, computed ONCE in Python and inlined
    as identical literals on both engines — the linear-counting
    correction needs ``ln``, whose last-ulp behavior is libm-specific;
    shipping the 256 possible values as shared literals removes the
    engine's libm from the equation entirely (``repr`` round-trips
    doubles exactly)."""
    import math

    return [math.log(m / v) for v in range(1, m + 1)]


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str] | None = None,
    p: int = 8,
    est_col: str = "hll_est",
) -> DataFrame:
    """Collapse a register table to one estimate row per group.

    ``E = alpha_m * m^2 / (sum(2^-rho) + zeros)`` with the harmonic sum
    scaled by ``2^RHO_MAX`` into an exact BIGINT (max ``m * 2^53 = 2^61``
    at p=8, no overflow), then a single double multiply/divide —
    bit-reproducible. In the small-range regime (``E <= 2.5m`` with
    empty registers — where the raw estimator's bias approaches
    ``alpha*m`` regardless of the true count) the standard
    linear-counting correction ``m * ln(m / V)`` applies, with the
    ``ln`` values drawn from a shared literal table
    (:func:`_ln_lookup`) so the choice stays bit-reproducible.
    """
    m = 1 << p
    rho_max = HASH_BITS - p + 1
    keys = list(group_cols or [])
    # shiftleft with a *column* shift amount is SQL-only (the Python
    # helper pins numBits to an int literal).
    scaled = F.expr(f"shiftleft(CAST(1 AS BIGINT), {rho_max} - reg_rho)")
    agg = registers.groupBy(*keys).agg(
        F.sum(scaled).alias("_z_present"),
        F.count("*").alias("_n_present"),
    )
    zeros = (F.lit(m) - F.col("_n_present")).cast("int")
    zs = F.col("_z_present") + zeros.cast("long") * F.lit(1 << rho_max).cast(
        "long"
    )
    raw = F.lit(hll_alpha(m) * m * m * float(1 << rho_max)) / zs.cast("double")
    lut = F.array(*[F.lit(v) for v in _ln_lookup(m)])
    linear = F.lit(float(m)) * F.element_at(lut, zeros)
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > 0), linear).otherwise(raw)
    return agg.select(
        *keys,
        F.floor(est + F.lit(0.5)).cast("long").alias(est_col),
        zeros.alias("n_zero_reg"),
    )


def hll_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    seed: str = "hll",
    p: int = 8,
    est_col: str = "hll_est",
) -> DataFrame:
    """Approximate COUNT(DISTINCT key) per group — registers + estimate.

    Two bounded shuffles: rows → at most ``2^p`` register rows per
    group → 1 estimate row per group. Standard error ≈ 1.04/sqrt(m)
    (~6.5% at p=8); raise ``p`` for tighter bounds.
    """
    return hll_estimate(
        hll_registers(df, key_col, group_cols, seed, p), group_cols, p, est_col
    )


# -- SQL twins (DuckDB) ------------------------------------------------------


def hash60_sql(expr: str, seed: str) -> str:
    """The md5-derived 60-bit hash, ANSI-SQL side."""
    return f"('0x' || substr(md5('{seed}:' || ({expr})), 1, 15))::BIGINT"


def hll_idx_rho_sql(expr: str, seed: str = "hll", p: int = 8) -> tuple[str, str]:
    """(idx, rho) SQL expressions mirroring :func:`hll_idx_rho`."""
    h = hash60_sql(expr, seed)
    wbits = HASH_BITS - p
    idx = f"({h} & {(1 << p) - 1})"
    w = f"({h} >> {p})"
    rho = (
        f"(CASE WHEN {w} = 0 THEN {wbits + 1} "
        f"ELSE {wbits + 1} - length(bin({w})) END)"
    )
    return idx, rho


def hll_estimate_sql(m: int, rho_max: int) -> str:
    """Estimate over a register CTE with columns (_z_present, _n_present)
    — mirrors :func:`hll_estimate` including the linear-counting branch
    (same literal ``ln`` table, so both engines pick the same branch and
    the same value)."""
    alpha = hll_alpha(m)
    raw = (
        f"({alpha!r} * {float(m * m * (1 << rho_max))!r} / "
        f"(_z_present + ({m} - _n_present) * (1::BIGINT << {rho_max}))::DOUBLE)"
    )
    lut = "[" + ", ".join(repr(v) for v in _ln_lookup(m)) + "]"
    linear = f"({float(m)!r} * ({lut})[{m} - _n_present])"
    return (
        f"CAST(floor(CASE WHEN {raw} <= {2.5 * m!r} AND {m} - _n_present > 0 "
        f"THEN {linear} ELSE {raw} END + 0.5) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------


def cms_table(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: str = "cms",
    weight_col: str | None = None,
) -> DataFrame:
    """The ``d × w`` counter table: (cms_row, cms_bucket, cms_count).

    Each item lands in one bucket per hash row (seeded independently);
    counters are sums, so the whole sketch is ONE map-side-combined
    shuffle of at most ``d*w`` distinct keys — at 100 TB the shuffle
    carries the sketch, never the corpus. ``width`` must be a power of
    two (bucket = low bits, exact in BIGINT).
    """
    if width & (width - 1):
        raise ValueError("width must be a power of two")
    item = F.col(item_col).cast("string")
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("cms_row"),
                    md5_hash60(F.concat(F.lit(f"{seed}:{j}:"), item))
                    .bitwiseAND(F.lit(width - 1))
                    .alias("cms_bucket"),
                )
                for j in range(depth)
            ]
        )
    )
    w = F.col(weight_col) if weight_col else F.lit(1)
    return (
        df.select(rows.alias("_r"), w.cast("long").alias("_w"))
        .select("_r.cms_row", "_r.cms_bucket", "_w")
        .groupBy("cms_row", "cms_bucket")
        .agg(F.sum("_w").alias("cms_count"))
    )


def cms_lookup(
    sketch: DataFrame,
    probes: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: str = "cms",
    est_col: str = "cms_est",
) -> DataFrame:
    """Point-frequency estimates for a probe set.

    Re-derives each probe's ``d`` buckets and left-joins the
    **broadcast sketch** (bounded at d×w rows — the broadcastable side;
    a left join's left side cannot be broadcast), then takes the min
    counter. The estimate never undercounts; overcount ≤ 2N/w with
    prob ≥ 1−2^−d. Probes can therefore be arbitrarily many — they
    never shuffle for the lookup, only for the per-item min.
    """
    item = F.col(item_col).cast("string")
    pr = probes.select(
        item.alias(item_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("cms_row"),
                        md5_hash60(F.concat(F.lit(f"{seed}:{j}:"), item))
                        .bitwiseAND(F.lit(width - 1))
                        .alias("cms_bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("_r"),
    ).select(item_col, "_r.cms_row", "_r.cms_bucket")
    return (
        pr.join(F.broadcast(sketch), ["cms_row", "cms_bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce("cms_count", F.lit(0))).alias(est_col))
    )


# ---------------------------------------------------------------------------
# Histogram quantile sketch
# ---------------------------------------------------------------------------


def hist_bin(col: Column, lo: float, hi: float, n_bins: int) -> Column:
    """Equal-width bin index in [0, n_bins): plain IEEE arithmetic
    (deterministic cross-engine), values outside [lo, hi] clamp into
    the edge bins."""
    raw = F.floor((col.cast("double") - F.lit(lo)) * n_bins / F.lit(hi - lo))
    return F.least(F.lit(n_bins - 1), F.greatest(F.lit(0), raw)).cast("int")


def histogram_counts(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group..., bin, n): the quantile sketch — ``n_bins`` counters per
    group, sum-merge (map-side combined, valid partial-union and
    streaming state, like the CMS counters). NULL values are excluded.
    Completes the sketch family: HLL = distinct, CMS = frequency,
    histogram = quantiles; all with bounded, mergeable state."""
    keys = list(group_cols or [])
    return (
        df.filter(F.col(col).isNotNull())
        .select(*keys, hist_bin(F.col(col), lo, hi, n_bins).alias("bin"))
        .groupBy(*keys, "bin")
        .agg(F.count("*").alias("n"))
    )


def hist_quantile(
    bins: list[tuple[int, int]], lo: float, hi: float, n_bins: int, q: float
) -> float | None:
    """Interpolated quantile from a (bin, count) list — driver-side over
    the bounded sketch (the centroid/broadcast-parameter shape).
    Estimate error is bounded by the bin width. Exactly reproducible in
    SQL: cumulative integer counts, one float multiply for the rank,
    linear interpolation inside the covering bin."""
    counts = dict(bins)
    total = sum(counts.values())
    if not total:
        return None
    rank = q * total  # double * exact int — deterministic
    width = (hi - lo) / n_bins
    cum = 0
    for b in range(n_bins):
        nb = counts.get(b, 0)
        if nb and cum + nb >= rank:
            frac = (rank - cum) / nb
            return lo + (b + frac) * width
        cum += nb
    return hi



def heavy_hitters(
    df: DataFrame, item_col: str, k: int = 20, weight_col: str | None = None
) -> DataFrame:
    """Exact global top-k items with a deterministic tie-break
    (count desc, item asc). ``orderBy().limit()`` plans as a
    TakeOrdered — per-partition top-k merged on the driver, so the
    full frequency table is aggregated (one shuffle) but never
    globally sorted."""
    w = F.col(weight_col) if weight_col else F.lit(1)
    return (
        df.groupBy(F.col(item_col).cast("string").alias(item_col))
        .agg(F.sum(w).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc(item_col))
        .limit(k)
    )


def hll_pairwise_jaccard(
    df: DataFrame,
    key_col: str,
    set_col: str,
    seed: str = "hll",
    p: int = 8,
) -> DataFrame:
    """Estimated Jaccard similarity between every pair of sets (one set
    per distinct ``set_col`` value, elements from ``key_col``) — the
    sketch-ALGEBRA composition HLL exists for: per-set register tables
    are max-merged into pairwise UNION sketches, and

        J(A,B) ≈ (|A| + |B| − |A∪B|) / |A∪B|

    by inclusion-exclusion over the three estimates. No raw element ever
    leaves its aggregate: the pairwise join is over register tables
    (≤ 2^p rows per set), so comparing S sets costs S²·2^p sketch rows
    however large the sets — the 100 TB shape for similarity matrices
    over user populations. Estimates are bit-reproducible (exact-integer
    register algebra + the shared literal ln table), so an oracle
    replays them exactly. Output: (set_a, set_b, est_a, est_b,
    est_union, jaccard_est) for set_a < set_b, jaccard in floor-rounded
    6 dp.
    """
    regs = hll_registers(df, key_col, [set_col], seed, p)
    a = regs.select(
        F.col(set_col).alias("set_a"), "reg_idx", F.col("reg_rho").alias("_ra")
    )
    b = regs.select(
        F.col(set_col).alias("set_b"), "reg_idx", F.col("reg_rho").alias("_rb")
    )
    # full outer per pair: a register present in only one sketch keeps
    # its rank in the union (max-merge with an absent register = itself);
    # build the pair frame from the distinct set ids so empty overlap
    # still yields every pair
    sets = regs.select(F.col(set_col).alias("s")).distinct()
    pairs = (
        sets.select(F.col("s").alias("set_a"))
        .crossJoin(sets.select(F.col("s").alias("set_b")))
        .filter(F.col("set_a") < F.col("set_b"))
    )
    # pair × register union via union-of-sides + max-merge (an absent
    # register keeps the other side's rank — exactly HLL union algebra)
    ua = pairs.join(a, on="set_a").select(
        "set_a", "set_b", "reg_idx", F.col("_ra").alias("reg_rho")
    )
    ub = pairs.join(b, on="set_b").select(
        "set_a", "set_b", "reg_idx", F.col("_rb").alias("reg_rho")
    )
    merged = (
        ua.unionByName(ub)
        .groupBy("set_a", "set_b", "reg_idx")
        .agg(F.max("reg_rho").alias("reg_rho"))
    )
    eu = hll_estimate(merged, ["set_a", "set_b"], p, "est_union").select(
        "set_a", "set_b", "est_union"
    )
    singles = hll_estimate(regs, [set_col], p, "est").select(
        F.col(set_col).alias("s"), "est"
    )
    j = (
        (F.col("est_a") + F.col("est_b") - F.col("est_union"))
        / F.col("est_union")
    )
    return (
        eu.join(singles.select(F.col("s").alias("set_a"), F.col("est").alias("est_a")), on="set_a")
        .join(singles.select(F.col("s").alias("set_b"), F.col("est").alias("est_b")), on="set_b")
        .select(
            "set_a",
            "set_b",
            "est_a",
            "est_b",
            "est_union",
            (F.floor(j * 1e6 + F.lit(0.5)) / 1e6).alias("jaccard_est"),
        )
    )
