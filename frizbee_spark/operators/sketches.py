"""Cardinality sketches with EXACTLY-checkable cross-engine semantics.

``hll_distinct`` is HyperLogLog (Flajolet et al. 2007; Heule et al.
2013's linear-counting small-range correction) rebuilt on a PORTABLE
fixed hash instead of an engine-private one: Spark's built-in
``approx_count_distinct`` (HLL++) and DuckDB's ``approx_count_distinct``
use different hashes and register encodings, so their estimates can
never be compared bit-for-bit. Here every step is engine-neutral
arithmetic on the repo's portable md5 long (the `doc_fingerprint`
idiom):

- 60-bit value ``v`` = first 15 md5 hex chars; bucket = ``v % m``;
  rho window ``w`` = next 40 bits; rho = 41 - length(bin(w)) (string
  length of the binary rendering — EXACT leading-zero count, no
  floating log), 41 when the window is all zeros.
- registers = max(rho) per bucket — a map-side-combinable aggregate:
  each task ships at most m rows however many billions it scanned.
  ONE shuffle of <= m * n_tasks tiny rows per profiled column.
- the harmonic-mean sum is kept as the INTEGER ``sum(1 << (41 - M))``
  (every term a power of two, total <= m * 2^41 << 2^63) — an
  order-independent exact BIGINT, where the textbook ``sum(2^-M)``
  would accumulate float rounding in shuffle order.
- the estimate is one double expression over those exact integers;
  the only transcendental (linear-counting ``ln``) is rounded to 4
  decimals, same cross-engine discipline as media_stats' entropy.

Why it matters at 10^12 docs: exact ``count(DISTINCT url)`` is a full
shuffle of every distinct value; the sketch reads the same scan and
ships kilobytes. The optional exact column in the profile output exists
to SHOW the sketch's error on small fixtures — a production run turns
it off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_RHO_BITS = 41  # 40-bit zero-run window + 1


def _hll_one(df: DataFrame, col: str, p: int, include_exact: bool):
    m = 1 << p
    v = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15),
               16, 10).cast("long")
    base = df.select(v.alias("v")).filter(F.col("v").isNotNull())
    bw = base.select(
        (F.col("v") % m).alias("bucket"),
        F.expr(f"(v DIV {m}) % {1 << 40}").alias("w"),
    )
    rho = (F.when(F.col("w") == 0, F.lit(_RHO_BITS))
           .otherwise(F.lit(_RHO_BITS) - F.length(F.bin("w"))))
    regs = (bw.select("bucket", rho.alias("M"))
            .groupBy("bucket").agg(F.max("M").alias("M")))
    aggd = regs.agg(
        F.count("*").cast("long").alias("n_filled"),
        F.coalesce(
            F.sum(F.expr(
                f"shiftleft(CAST(1 AS BIGINT), {_RHO_BITS} - M)")),
            F.lit(0).cast("long")).alias("s_filled"),
    )
    # empty buckets carry M=0 -> each contributes 2^41 to the scaled sum
    scaled = (F.col("s_filled")
              + (m - F.col("n_filled"))
              * F.lit(1 << _RHO_BITS).cast("long"))
    alpha_num = hll_alpha_numerator(p)  # Python double, shared verbatim
    raw = F.lit(alpha_num) / scaled.cast("double")
    zeros = (m - F.col("n_filled")).cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("n_filled") < m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    method = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("n_filled") < m),
        F.lit("linear")).otherwise(F.lit("raw"))
    row = aggd.select(
        F.lit(col).alias("col_name"),
        F.lit(m).cast("long").alias("m"),
        F.col("n_filled"),
        scaled.alias("scaled_sum"),
        F.round(est, 4).alias("distinct_est"),
        method.alias("method"),
    )
    if include_exact:
        exact = df.agg(
            F.count_distinct(F.col(col)).cast("long").alias("exact_distinct"))
        row = row.crossJoin(exact)
    return row


def hll_alpha_numerator(p: int) -> float:
    """alpha_m * m^2 * 2^41 as one Python double — computed ONCE here
    and injected verbatim into both the Spark plan and the DuckDB
    oracle, so no cross-engine float-evaluation-order question exists."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(1 << _RHO_BITS)


def hll_distinct(
    df: DataFrame,
    cols: list,
    p: int = 10,
    include_exact: bool = False,
) -> DataFrame:
    """Distinct-count profile of ``cols`` via the portable-hash HLL:
    one row per column — (col_name, m, n_filled, scaled_sum,
    distinct_est, method[, exact_distinct]). ``p`` register bits
    (m = 2^p buckets; standard error ~1.04/sqrt(m) ≈ 3.3% at p=10).
    ``include_exact=True`` adds the true distinct count per column for
    error reporting — a full distinct aggregate, fixture-only; leave
    off at scale."""
    if not cols:
        raise ValueError("hll_distinct needs at least one column")
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    out = None
    for c in cols:
        row = _hll_one(df, c, p, include_exact)
        out = row if out is None else out.unionByName(row)
    return out


# -- Count-Min frequency sketch ---------------------------------------------

def cm_sketch(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 2048,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) of the frequency
    distribution of ``col`` — (row, cell, cnt), depth x width integer
    cells. Point-frequency estimates (:func:`cm_estimate`) never
    underestimate, and overestimate by more than 2N/width with
    probability at most (1/2)^depth.

    Same portability discipline as :func:`hll_distinct`: cells are
    addressed by the engine-neutral md5 long of ``'cm<row>:' || value``
    and counts are plain integer sums — order-independent, so the
    sketch TABLE itself is exactly reproducible by any engine, where
    comparable sketches (Misra-Gries/SpaceSaving) depend on merge order
    and never are.

    Scale: the aggregate is map-side combinable to <= depth*width cells
    per task regardless of input rows; ONE shuffle of at most
    depth*width tiny rows total. At 10^12 tokens this is the only way
    to ask "how often does X occur" without materializing the
    vocabulary. ``weight_col`` sums that column instead of counting
    rows (e.g. pre-aggregated (token, cnt) input)."""
    if not 1 <= depth <= 16:
        raise ValueError(f"depth must be in [1, 16], got {depth}")
    if width < 16:
        raise ValueError(f"width must be >= 16, got {width}")
    w = (F.col(weight_col).cast("long") if weight_col
         else F.lit(1).cast("long"))
    # all depth cell addresses in one projection, exploded: one input scan
    cells = F.array(*[
        F.struct(F.lit(r).cast("long").alias("row"), (F.conv(F.substring(F.md5(
            F.concat(F.lit(f"cm{r}:"), F.col(col).cast("string"))),
            1, 15), 16, 10).cast("long") % width).alias("cell"))
        for r in range(depth)])
    return (
        df.filter(F.col(col).isNotNull())
        .select(F.inline(cells), w.alias("w"))
        .groupBy("row", "cell").agg(F.sum("w").alias("cnt"))
    )


def cm_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    probe_col: str = "token",
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Point-frequency estimates for ``probes`` from a :func:`cm_sketch`
    table: est = min over rows of the addressed cell (the classic CM
    upper bound; missing cells read 0). ``depth``/``width`` must match
    the sketch's build parameters (passed, not inferred — inferring
    depth would force the sketch subtree to compute once for the probe
    and again for the join). The probe side re-derives the same md5
    cell addresses and joins the (small, <= depth*width rows) sketch —
    broadcast. Output: (probe_col, est)."""
    keyed = []
    for r in range(depth):
        cell = (F.conv(F.substring(F.md5(
            F.concat(F.lit(f"cm{r}:"), F.col(probe_col).cast("string"))),
            1, 15), 16, 10).cast("long") % width)
        keyed.append(probes.select(
            F.col(probe_col),
            F.lit(r).cast("long").alias("row"), cell.alias("cell")))
    un = keyed[0]
    for x in keyed[1:]:
        un = un.unionByName(x)
    joined = un.join(F.broadcast(sketch), ["row", "cell"], "left")
    return (joined.groupBy(probe_col)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long")))
                 .alias("est")))
