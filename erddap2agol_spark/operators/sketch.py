"""Deterministic cardinality / frequency sketches (KMV, count-min).

At 100 TB, exact ``COUNT(DISTINCT x)`` and exact per-key frequency
tables are full-shuffle operations whose state grows with the key
space.  These sketches bound the state instead:

- **KMV (k-minimum values)**: keep the ``k`` smallest md5-derived
  uniform hashes; the classic estimator ``(k-1) / u_k`` (Bar-Yossef et
  al. 2002) turns the k-th smallest into a distinct-count estimate.
  The Spark plan is per-partition distinct + ``TakeOrderedAndProject``
  (per-partition top-k, tiny merge) — never a global sort, and the
  driver sees exactly ``k`` rows.
- **Count-min (Cormode & Muthukrishnan 2005)**: ``d`` salted hash rows
  of ``w`` buckets; a key's estimate is the min over its ``d`` cells.
  The build is ONE map-side-combinable aggregation whose result is at
  most ``d*w`` rows regardless of input size, so the sketch broadcasts
  for probing.

Unlike HLL/approx_count_distinct, every step here is plain md5 +
integer arithmetic — bit-identical in any engine — so the *estimates
themselves* are cross-engine hash-checkable, which is what makes an
approximate operator gradeable against a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"

#: number of md5 hex nibbles used for the KMV uniform hash — 48 bits,
#: chosen so the integer is exactly representable in a double and the
#: collision mass at realistic cardinalities is negligible.
KMV_NIBBLES = 12
KMV_SCALE = float(16**KMV_NIBBLES)


def duckdb_hex_int(expr: str, nibbles: int) -> str:
    """DuckDB SQL for ``conv(substring(md5(expr),1,nibbles),16,10)`` —
    DuckDB has no conv(); nibble arithmetic via instr (repo convention,
    see curation_queries)."""
    h = f"md5({expr})"
    terms = [
        f"(instr('{_HEX}', {h}[{i + 1}]) - 1) * {16 ** (nibbles - 1 - i)}"
        for i in range(nibbles)
    ]
    return "(" + " + ".join(terms) + ")"


def kmv_distinct(df: DataFrame, key: Column, k: int, by: Column | None = None) -> DataFrame:
    """Distinct-count estimate via the k smallest hashes, optionally per
    group.  Emits ``(group?, n_kept, kth_hash, est_distinct)``; when
    fewer than ``k`` distinct hashes exist the sketch is exhaustive and
    the estimate IS the exact count.

    Plan shape: hash -> distinct (shuffle on the 8-byte hash, bodies
    never move) -> per-group top-k.  Global form compiles the top-k to
    TakeOrderedAndProject; grouped form is a bounded window over the
    (group, hv) sort — both keep ``k`` rows per group and nothing else.

    Determinism: ``kth_hash`` is the raw 48-bit integer (exact in any
    engine); the estimator divides by the EXACT double ``kth_hash /
    2^48`` (a power-of-two shift, no rounding), so the only rounding is
    the final ``round(est, 4)``.
    """
    hv = F.conv(F.substring(F.md5(key), 1, KMV_NIBBLES), 16, 10).cast("long").alias("hv")
    if by is None:
        kept = df.select(hv).distinct().orderBy("hv").limit(k)
        agg = kept.agg(
            F.count(F.lit(1)).alias("n_kept"), F.max("hv").alias("kth_hash")
        )
    else:
        from pyspark.sql import Window

        kept = df.select(by.alias("grp"), hv).distinct()
        w = Window.partitionBy("grp").orderBy("hv")
        kept = kept.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
        agg = kept.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n_kept"), F.max("hv").alias("kth_hash")
        )
    u_k = F.col("kth_hash") / F.lit(KMV_SCALE)
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise((k - 1) / u_k)
    return agg.withColumn("est_distinct", F.round(est, 4))


def countmin_cells(df: DataFrame, key: Column, depth: int, width: int) -> DataFrame:
    """Build the d×w count-min table ``(j, bucket, cnt)``: each row
    increments one bucket per salted hash row.  One aggregation, at most
    ``depth*width`` output rows — constant-size state at any input
    scale, so the sketch broadcasts."""
    j = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("j")
    rows = df.select(key.alias("key"), j).select(
        "j",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.col("j").cast("string"), F.col("key"))),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % width
        ).alias("bucket"),
        "key",
    )
    return rows.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def countmin_estimates(
    df: DataFrame, key: Column, depth: int, width: int
) -> DataFrame:
    """Per-key frequency estimate vs truth: ``min`` over the key's ``d``
    cells (always >= true count).  The probe side joins the broadcast
    d×w cell table, so the only wide op against the raw data is the
    sketch build itself."""
    cells = countmin_cells(df, key, depth, width)
    j = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("j")
    probes = (
        df.select(key.alias("key"))
        .distinct()
        .select("key", j)
        .select(
            "key",
            "j",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws("|", F.col("j").cast("string"), F.col("key"))
                        ),
                        1,
                        4,
                    ),
                    16,
                    10,
                ).cast("long")
                % width
            ).alias("bucket"),
        )
    )
    est = (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("key")
        .agg(F.min("cnt").alias("n_est"))
    )
    truth = df.groupBy(key.alias("key")).agg(F.count(F.lit(1)).alias("n_true"))
    return truth.join(est, "key").select(
        "key", "n_true", "n_est", (F.col("n_est") - F.col("n_true")).alias("overcount")
    )


# ---------------------------------------------------------------------------
# HyperLogLog (round 4) — register-max sketch beside KMV's k-smallest
# ---------------------------------------------------------------------------

#: md5 nibbles feeding the rank field: 48 bits, exact in a double
HLL_VAL_NIBBLES = 12

#: standard alpha_m bias constants (Flajolet et al. 2007)
_HLL_ALPHA = {16: 0.673, 256: 0.7213 / (1 + 1.079 / 256)}


def hll_registers(df: DataFrame, key: Column, reg_nibbles: int = 2) -> DataFrame:
    """HyperLogLog register table ``(reg, mx)`` over ``16^reg_nibbles``
    registers: reg = first hex nibbles of md5(key), rank rho = leading
    zeros + 1 in the next 48 bits, register value = max rho seen.

    ONE map-side-combinable max aggregate whose output is m rows — the
    mergeable-sketch property that makes HLL the 100 TB distinct
    counter: shards sketch independently, register-wise max merges them.
    A full register spine is joined in so empty registers are explicit
    zeros (they carry weight 2^0 in the harmonic mean)."""
    m = 16**reg_nibbles
    h = F.md5(key)
    v = F.conv(
        F.substring(h, reg_nibbles + 1, HLL_VAL_NIBBLES), 16, 10
    ).cast("long")
    rho = (
        F.when(v == 0, F.lit(4 * HLL_VAL_NIBBLES + 1))
        .otherwise(F.lit(4 * HLL_VAL_NIBBLES) - F.floor(F.log2(v)))
        .cast("int")
    )
    regs = (
        df.select(
            F.conv(F.substring(h, 1, reg_nibbles), 16, 10)
            .cast("int")
            .alias("reg"),
            rho.alias("rho"),
        )
        .groupBy("reg")
        .agg(F.max("rho").alias("mx"))
    )
    spine = df.sparkSession.range(m).select(F.col("id").cast("int").alias("reg"))
    return spine.join(F.broadcast(regs), "reg", "left").select(
        "reg", F.coalesce(F.col("mx"), F.lit(0)).alias("mx")
    )


def hll_estimate(df: DataFrame, key: Column, reg_nibbles: int = 2) -> DataFrame:
    """One-row HLL readout: ``(n_registers, n_zero_registers,
    raw_estimate, linear_count)``.

    The harmonic sum folds in REGISTER-SORTED order (the pinned-order
    float-fold pattern shared with BM25/temperature mixing) so the
    estimate is bit-identical cross-engine; both the raw alpha-corrected
    estimate and the small-range linear count are emitted unconditionally
    — no data-dependent branch that a float boundary could flip."""
    m = 16**reg_nibbles
    alpha = _HLL_ALPHA[m]
    regs = hll_registers(df, key, reg_nibbles)
    return (
        regs.agg(F.collect_list(F.struct("reg", "mx")).alias("rs"))
        .select(
            F.aggregate(
                F.array_sort("rs"),
                F.lit(0.0),
                lambda acc, s: acc + F.pow(F.lit(2.0), -s["mx"]),
            ).alias("s"),
            F.aggregate(
                F.col("rs"),
                F.lit(0),
                lambda acc, s: acc + F.when(s["mx"] == 0, 1).otherwise(0),
            ).alias("n_zero_registers"),
        )
        .select(
            F.lit(m).alias("n_registers"),
            "n_zero_registers",
            F.round(F.lit(alpha * m * m) / F.col("s"), 1).alias("raw_estimate"),
            F.when(
                F.col("n_zero_registers") > 0,
                F.round(
                    F.lit(float(m))
                    * F.log(F.lit(float(m)) / F.col("n_zero_registers")),
                    1,
                ),
            ).alias("linear_count"),
        )
    )


def hll_registers_by(
    df: DataFrame, key: Column, by: Column, reg_nibbles: int = 2
) -> DataFrame:
    """Grouped HLL registers ``(grp, reg, mx)`` — only PRESENT registers
    emit rows (an absent register is an implicit zero; with rho >= 1 for
    every hashed key, zeros never appear as rows, so downstream readouts
    derive ``n_zero = m - n_present``).  One map-side-combinable max
    aggregate with <= groups x m output rows; grouped sketches then
    merge by register-wise max across any re-grouping — the rollup
    property the weekly query demonstrates."""
    h = F.md5(key)
    v = F.conv(
        F.substring(h, reg_nibbles + 1, HLL_VAL_NIBBLES), 16, 10
    ).cast("long")
    rho = (
        F.when(v == 0, F.lit(4 * HLL_VAL_NIBBLES + 1))
        .otherwise(F.lit(4 * HLL_VAL_NIBBLES) - F.floor(F.log2(v)))
        .cast("int")
    )
    return (
        df.select(
            by.alias("grp"),
            F.conv(F.substring(h, 1, reg_nibbles), 16, 10)
            .cast("int")
            .alias("reg"),
            rho.alias("rho"),
        )
        .groupBy("grp", "reg")
        .agg(F.max("rho").alias("mx"))
    )


def hll_readout(regs: DataFrame, reg_nibbles: int = 2) -> DataFrame:
    """Per-group readout of grouped registers: ``(grp, n_zero_registers,
    raw_estimate, linear_count)`` with the pinned-order harmonic fold."""
    m = 16**reg_nibbles
    alpha = _HLL_ALPHA[m]
    return (
        regs.groupBy("grp")
        .agg(
            F.collect_list(F.struct("reg", "mx")).alias("rs"),
            F.count(F.lit(1)).alias("n_present"),
        )
        .select(
            "grp",
            (F.lit(m) - F.col("n_present")).cast("int").alias("n_zero_registers"),
            F.round(
                F.lit(alpha * m * m)
                / (
                    F.aggregate(
                        F.array_sort("rs"),
                        F.lit(0.0),
                        lambda acc, s: acc + F.pow(F.lit(2.0), -s["mx"]),
                    )
                    + (F.lit(m) - F.col("n_present")).cast("double")
                ),
                1,
            ).alias("raw_estimate"),
            F.when(
                F.col("n_present") < m,
                F.round(
                    F.lit(float(m))
                    * F.log(F.lit(float(m)) / (F.lit(m) - F.col("n_present"))),
                    1,
                ),
            ).alias("linear_count"),
        )
    )


def histogram_bins(
    df: DataFrame, col: Column, lo: float, hi: float, n_bins: int
) -> DataFrame:
    """Fixed-grid value histogram ``(bin, cnt)`` over ``[lo, hi)``:
    clamp + floor binning is a pure narrow map, and the count is ONE
    map-side-combinable aggregation emitting at most ``n_bins`` rows at
    ANY input scale.  Out-of-range values land in the edge bins (the
    grid is a sketch config, not a data scan), NULLs are excluded (the
    same rows ``percentile()``/``quantile_cont`` ignore — without the
    filter Spark's null-skipping ``greatest`` would silently fold NULL
    into bin 0), and the per-shard tables merge by summing counts
    bin-wise — the mergeable-summary property that makes this the
    100 TB quantile path where exact ``percentile()`` would collect
    every value into one aggregation buffer."""
    width = (hi - lo) / n_bins
    df = df.filter(col.isNotNull())
    b = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((col.cast("double") - F.lit(lo)) / F.lit(width)).cast(
                "int"
            ),
        ),
    )
    return (
        df.select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantiles(
    df: DataFrame,
    col: Column,
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Quantile estimates ``(q, est_value, n_rows)`` read off the
    bounded histogram: collect the ≤ ``n_bins``-row bin table into ONE
    row, then per requested quantile fold it in bin-sorted order to the
    first bin whose cumulative count reaches rank ``q*n`` and linearly
    interpolate inside it.

    The readout is the pinned-order float-fold pattern shared with the
    HLL/BM25 readouts — no window (the CDF scan happens inside an
    ``aggregate`` over a bounded array, never as an order-only Window
    over row data) and no join, so the whole plan is map + one bounded
    agg + a one-row fold.

    Accuracy contract (rank-based): the returned value lies inside the
    bin that CONTAINS the ``q*n``-th order statistic — a hard
    guarantee.  Against the interpolating exact-percentile definition
    the gap is within one bin width whenever the data is dense around
    the quantile, but can exceed it across empty-bin gaps (sparse
    tails), where interpolation reaches into a far-away value the
    histogram never stored.  Callers pick ``n_bins`` to taste (state
    stays ``O(n_bins)`` regardless of data size)."""
    width = (hi - lo) / n_bins
    packed = histogram_bins(df, col, lo, hi, n_bins).agg(
        F.array_sort(F.collect_list(F.struct("bin", "cnt"))).alias("bs"),
        F.sum("cnt").alias("n_rows"),
    )
    ex = packed.select(
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
        "bs",
        "n_rows",
    )
    rank = F.col("q") * F.col("n_rows").cast("double")
    state = F.aggregate(
        F.col("bs"),
        F.struct(
            F.lit(0.0).alias("cum"),
            F.lit(None).cast("double").alias("est"),
        ),
        lambda acc, s: F.struct(
            (acc["cum"] + s["cnt"]).alias("cum"),
            F.coalesce(
                acc["est"],
                F.when(
                    acc["cum"] + s["cnt"] >= rank,
                    F.lit(lo)
                    + (
                        s["bin"].cast("double")
                        + (rank - acc["cum"]) / s["cnt"]
                    )
                    * F.lit(width),
                ),
            ).alias("est"),
        ),
    )
    return ex.select(
        "q",
        F.round(state["est"], 6).alias("est_value"),
        "n_rows",
    )


def kmv_pair_jaccard(
    df: DataFrame,
    key: Column,
    by: Column,
    k: int,
) -> DataFrame:
    """Sketch SET ALGEBRA: estimated Jaccard between every pair of
    groups' key sets from their KMV sketches alone (Beyer et al. 2007).

    Per group, the sketch is its k smallest distinct hashes (bounded
    state at any input scale).  For a pair, the k smallest hashes of
    the MERGED sketch are a KMV sketch of the union, and the fraction
    of them present in BOTH group sketches estimates J(A,B); the
    union's kth hash estimates |A ∪ B| the usual way.  Everything
    after the per-group sketch build runs on sketch rows — 2k per
    pair — so comparing every pair of a thousand feeds costs
    pairs x k rows, never a corpus pass.

    Output per pair: ``(grp_a, grp_b, est_jaccard, est_union,
    est_intersection)``, all from hashes only.
    """
    hv = F.conv(F.substring(F.md5(key), 1, KMV_NIBBLES), 16, 10).cast("long")
    hashed = df.select(by.alias("grp"), hv.alias("hv")).distinct()
    w = Window.partitionBy("grp").orderBy("hv")
    sk = (
        hashed.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("grp", "hv")
    )
    pairs = (
        sk.select(F.col("grp").alias("grp_a")).distinct()
        .crossJoin(sk.select(F.col("grp").alias("grp_b")).distinct())
        .where(F.col("grp_a") < F.col("grp_b"))
    )
    a_side = sk.select(F.col("grp").alias("grp_a"), "hv", F.lit(1).alias("in_a"))
    b_side = sk.select(F.col("grp").alias("grp_b"), "hv", F.lit(1).alias("in_b"))
    # per pair: the union of both sketches with membership flags
    ua = pairs.join(a_side, "grp_a").select(
        "grp_a", "grp_b", "hv", "in_a", F.lit(0).alias("in_b")
    )
    ub = pairs.join(b_side, "grp_b").select(
        "grp_a", "grp_b", "hv", F.lit(0).alias("in_a"), "in_b"
    )
    ext = ua.unionAll(ub)
    both = ext.groupBy("grp_a", "grp_b", "hv").agg(
        F.max("in_a").alias("a"), F.max("in_b").alias("b")
    )
    wp = Window.partitionBy("grp_a", "grp_b").orderBy("hv")
    topk = both.withColumn("rk", F.row_number().over(wp)).where(F.col("rk") <= k)
    return (
        topk.groupBy("grp_a", "grp_b")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max("hv").alias("kth"),
            F.sum(F.col("a") * F.col("b")).alias("n_both"),
        )
        .select(
            "grp_a",
            "grp_b",
            F.round(F.col("n_both") / F.col("n_kept"), 4).alias("est_jaccard"),
            F.round(
                F.when(
                    F.col("n_kept") < k, F.col("n_kept").cast("double")
                ).otherwise((F.lit(k - 1)) / (F.col("kth") / F.lit(KMV_SCALE))),
                4,
            ).alias("est_union"),
            F.round(
                (F.col("n_both") / F.col("n_kept"))
                * F.when(
                    F.col("n_kept") < k, F.col("n_kept").cast("double")
                ).otherwise((F.lit(k - 1)) / (F.col("kth") / F.lit(KMV_SCALE))),
                4,
            ).alias("est_intersection"),
        )
    )


def cms_join_size(
    left: DataFrame,
    right: DataFrame,
    left_key: Column,
    right_key: Column,
    depth: int,
    width: int,
) -> DataFrame:
    """JOIN-SIZE ESTIMATION from count-min sketches (the AMS inner
    product): ``|L ⋈ R|`` on a key equals ``Σ_k f_L(k)·f_R(k)``, and
    the row-wise inner product of the two CMS tables over-estimates it
    (min across depths is the tightest).  This is how a planner sizes
    a join — picks broadcast vs shuffle, flags a fan-out blowup —
    WITHOUT executing it: each side costs one map-side-combining
    aggregation into d×w cells, the estimate itself d×w multiplies.

    Output: one row ``(est_join_size, ...)`` — the min/avg/max across
    ALL ``depth`` rows (a depth with no colliding buckets contributes
    an exact 0, proving an empty join), so the caller sees the
    estimator spread.
    """
    a = countmin_cells(left, left_key, depth, width)
    b = countmin_cells(right, right_key, depth, width)
    prod = (
        a.join(
            b.select(
                F.col("j"), F.col("bucket"), F.col("cnt").alias("cnt_b")
            ),
            ["j", "bucket"],
        )
        .groupBy("j")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("ip"))
    )
    # depth spine: a depth with NO colliding buckets has inner product 0
    # (which proves the join is empty) — without the spine that row
    # vanishes from the inner join and min() silently skips the
    # tightest estimate
    spine = left.sparkSession.range(depth).select(F.col("id").cast("int").alias("j"))
    prod = spine.join(prod, "j", "left").select(
        "j", F.coalesce(F.col("ip"), F.lit(0)).alias("ip")
    )
    return prod.agg(
        F.min("ip").alias("est_join_size"),
        F.round(F.avg("ip"), 1).alias("avg_depth_estimate"),
        F.max("ip").alias("max_depth_estimate"),
    )


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (mergeable summaries -> exact rescore)
# ---------------------------------------------------------------------------


def mg_partition_candidates(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries(k) summaries — the candidate generator of
    the two-pass EXACT heavy-hitters plan.

    Why not just ``groupBy(key).count()``? At 100 TB the key space can be
    billions (URLs, n-grams, user agents): the full frequency table IS the
    shuffle bottleneck. Misra-Gries keeps at most ``k`` counters per
    partition, and the *mergeable-summaries* formulation (Agarwal et al.,
    PODS'12) is batch-vectorizable: merge exact batch counts into the
    running summary, and whenever more than ``k`` keys survive, subtract
    the (k+1)-th largest count from everything and drop the non-positive
    rows. Each subtraction removes at least k+1 units of mass, so a key
    with in-partition count > n_p/(k+1) can never hit zero — hence the
    UNION of partition candidate sets contains every key with GLOBAL count
    > N/(k+1) (if a key missed every partition summary, its total is at
    most sum(n_p)/(k+1)).

    Output: at most ``k`` rows per partition, ``(key, lower)`` where
    ``lower`` is the surviving MG count (a lower bound on the partition
    count). Null keys are excluded (counted by no frequency summary).
    """
    key_type = df.schema[key_col].dataType.simpleString()

    def summarize(batches):
        import pandas as pd

        summary = None
        for pdf in batches:
            vc = pdf[key_col].dropna().value_counts()
            summary = vc if summary is None else summary.add(vc, fill_value=0)
            if len(summary) > k:
                kth = summary.nlargest(k + 1).iloc[-1]
                summary = summary - kth
                summary = summary[summary > 0]
        if summary is not None and len(summary):
            yield pd.DataFrame(
                {
                    key_col: summary.index.to_numpy(),
                    "lower": summary.to_numpy().astype("int64"),
                }
            )

    return (
        df.select(key_col)
        .filter(F.col(key_col).isNotNull())
        .mapInPandas(summarize, schema=f"{key_col} {key_type}, lower bigint")
    )


def heavy_hitters_exact(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """EXACT keys with frequency strictly above N/(k+1), without ever
    building the full frequency table.

    Pass 1: per-partition Misra-Gries candidates (``mg_partition_candidates``
    — bounded k rows/partition, provably a superset of the answer).
    Pass 2: semi-join the input down to candidate keys (broadcast — at most
    k * n_partitions keys), ONE exact hash aggregate over that subset, and
    an integer-exact threshold ``cnt * (k+1) > N`` (the total rides along
    as a broadcast scalar; no driver action, no float division).

    The result is provably identical to the full-table
    ``GROUP BY ... HAVING count(*)*(k+1) > N`` — which is exactly the SQL
    oracle — while the only wide operation touches candidate keys.
    """
    nn = df.filter(F.col(key_col).isNotNull())
    cand = mg_partition_candidates(df, key_col, k).select(key_col).distinct()
    total = nn.agg(F.count(F.lit(1)).alias("_n"))
    return (
        nn.join(F.broadcast(cand), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .join(F.broadcast(total))
        .filter(F.col("n_rows") * (k + 1) > F.col("_n"))
        .drop("_n")
    )
