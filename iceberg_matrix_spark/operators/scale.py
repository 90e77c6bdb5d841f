"""Skew and co-location primitives for the 100 TB tier.

Two techniques the build brief calls out explicitly:

- **Salting**: a skewed aggregation key (one tenant owning half the rows)
  pins its whole key on one reducer. ``salted_aggregate`` splits every
  key across N salt buckets for the first (heavy) aggregation and
  combines the N partials in a second (tiny) one — identical results,
  bounded per-reducer load. AQE's skew-join handling covers joins at
  runtime; salting covers aggregations and pre-AQE plans.
- **Bucketing**: ``write_bucketed`` persists a table hash-bucketed (and
  sorted) by its join key; two tables bucketed the same way equi-join
  with NO shuffle on either side — the co-located join for repeated
  fact-fact joins. Verified by plan shape in tests/test_scale.py.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iceberg_matrix_spark.queries.registry import register
from iceberg_matrix_spark.sources.testdata import load_table

_COMBINE = {
    "sum": F.sum,
    "count": F.sum,  # counts combine by summing partials
    "min": F.min,
    "max": F.max,
}
_PARTIAL = {
    "sum": F.sum,
    "count": lambda c: F.count(F.lit(1)),
    "min": F.min,
    "max": F.max,
}


def ensure_compute_parallelism(df: DataFrame) -> DataFrame:
    """Guarantee a compute-bound narrow stage gets ≥ defaultParallelism
    input splits.

    At 100 TB a parquet scan yields thousands of maxPartitionBytes splits
    and this is a NO-OP (planned partitions already ≥ cores). The case it
    fixes is the inverse: a small file (one row group) under a per-row
    CPU-heavy projection (md5-per-gram winnowing, shingle hashing) plans
    as ONE task and serializes all that work onto a single core. The
    round-robin repartition it inserts moves only the slim projection's
    bytes — negligible next to the per-row compute it parallelizes — and
    is excluded from the data-shuffle plan budget
    (plans/inspect.py:data_shuffle_count).

    Call it AFTER projecting down to the columns the stage needs, so the
    exchange carries nothing extra.

    The check estimates planned scan splits from input-file sizes vs
    ``spark.sql.files.maxPartitionBytes`` — no ``df.rdd`` conversion,
    which would force a full plan analysis + RDD materialization per
    call. Non-file-backed frames (in-memory relations) fall back to the
    physical-partition probe, the rare path.
    """
    import math  # noqa: PLC0415
    import os  # noqa: PLC0415

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        # Mirror FilePartition planning (FilePartition.maxSplitBytes):
        #   maxSplit = min(maxPartitionBytes, max(openCost, bytesPerCore))
        #   partitions ≈ ceil(Σ(size + openCost) / maxSplit)   (bin-packed)
        # A bare ceil(size/maxPartitionBytes) estimate diverges BOTH ways:
        # it under-counts when bytesPerCore shrinks maxSplit (large files
        # on many cores → Spark splits finer → a repartition here would
        # add a pointless full shuffle) and over-counts nothing for many
        # tiny files that Spark bin-packs into few partitions.
        max_bytes = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        open_cost = _parse_bytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
        )
        total = 0
        for uri in files:
            path = uri[5:] if uri.startswith("file:") else uri
            try:
                total += os.path.getsize(path) + open_cost
            except OSError:
                total += open_cost
        bytes_per_core = total / max(1, target)
        max_split = min(max_bytes, max(open_cost, bytes_per_core)) or 1
        est_partitions = math.ceil(total / max_split) if total else 1
        return df.repartition(target) if est_partitions < target else df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def gather_futures(*futures):
    """Resolve a set of overlapped-job futures, losing no failure.

    ``f1.result(), f2.result()`` propagates only the FIRST future's
    exception — if the second job also failed, its error is silently
    dropped (ADVICE r11). Wait for every future, then re-raise the first
    failure with the others attached as context. Returns the results in
    submission order when all succeed."""
    results, errors = [], []
    for f in futures:
        try:
            results.append(f.result())
        except Exception as ex:  # noqa: BLE001 — re-raised below
            errors.append(ex)
    if errors:
        first = errors[0]
        for extra in errors[1:]:
            first.add_note(f"concurrent job also failed: {extra!r}")
        raise first
    return results


def persisted_small_hint(
    df: DataFrame, prefix: str, cutoff_bytes: int = 64 * 1024 * 1024
) -> DataFrame:
    """Persist a derived frame to parquet, then decide its JOIN STRATEGY
    off the MATERIALIZED size: under the cutoff, return the re-scan with
    an explicit broadcast hint (map-side joins, no exchange of the big
    side); over it, return the plain re-scan and let the planner pick a
    shuffle join. The point: Catalyst's compile-time estimate of a
    derived subtree is its SOURCE scan size (e.g. the full text column
    for a keys-only projection), so small build sides silently plan as
    sort-merge joins that re-shuffle the probe side — measured in round
    11 as the difference between −28% and +58% shuffle on the dedup
    pair join. Persist-and-rescan gives the planner true stats; the
    explicit hint covers frames sitting between the 10 MB session
    default and the cutoff. At corpus scale the frame exceeds the
    cutoff and the planner's shuffle join is the right call."""
    import os  # noqa: PLC0415

    from iceberg_matrix_spark.storage import scratch_dir  # noqa: PLC0415

    path = scratch_dir(prefix) + "/frame.parquet"
    df.write.parquet(path)
    out = df.sparkSession.read.parquet(path)
    size = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    from pyspark.sql.functions import broadcast  # noqa: PLC0415

    return broadcast(out) if size < cutoff_bytes else out


def _parse_bytes(conf_val: str) -> int:
    """Spark size-conf string → bytes ('134217728b', '128m', '1g')."""
    m = re.match(r"(\d+)\s*([a-zA-Z]*)", conf_val.strip())
    if not m:
        return 128 * 1024 * 1024
    num, unit = int(m.group(1)), m.group(2).lower()
    mult = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
            "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30}.get(unit, 1)
    return num * mult


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage skew-proof aggregation.

    ``aggs`` maps output column → (fn, input column) with fn in
    {sum, count, min, max} (the self-combining aggregates; avg = sum/count
    at the call site). Stage 1 groups by (keys, salt) — the heavy shuffle,
    now spread over ``salt_buckets`` reducers per key; stage 2 combines
    the ≤ |keys|·buckets partial rows.
    """
    # any salt assignment works (stage 2 combines every bucket); this one
    # is cheap and spreads rows evenly without a rand() non-determinism
    salted = df.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    )
    partial = salted.groupBy(*keys, "__salt").agg(
        *[_PARTIAL[fn](col).alias(out) for out, (fn, col) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[_COMBINE[fn](out).alias(out) for out, (fn, col) in aggs.items()]
    )


def write_bucketed(
    df: DataFrame, name: str, key: str, buckets: int = 8, path: str | None = None
) -> None:
    """Persist hash-bucketed + sorted by the join key (saveAsTable — the
    bucket metadata lives in the session catalog; ``path`` makes the
    table external so tests keep data out of spark-warehouse)."""
    w = df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key).format("parquet")
    if path:
        w = w.option("path", path)
    w.saveAsTable(name)


def bucketed_equijoin(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key: with matching
    bucket specs Spark plans a shuffle-free sort-merge join. The merge
    hint pins the strategy fact-fact joins get at scale anyway (at test
    sizes Catalyst would otherwise broadcast)."""
    return spark.table(left_table).hint("merge").join(spark.table(right_table), key)


# ---------------------------------------------------------------------------
# Registered query: salted aggregation over the (skewed) returnflag key
# ---------------------------------------------------------------------------


@register(
    "q_skew_salted_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof aggregation on l_returnflag (3 heavy keys): identical
    results to a plain groupBy, load spread across 16 salt buckets."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "__qty_dec", F.col("l_quantity").cast("decimal(12,4)")
    )
    out = salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "n_rows": ("count", "l_returnflag"),
            "sum_qty_dec": ("sum", "__qty_dec"),
            "max_price": ("max", "l_extendedprice"),
        },
    )
    return out.select(
        "l_returnflag",
        "n_rows",
        F.col("sum_qty_dec").cast("string").cast("double").alias("sum_qty"),
        "max_price",
    )


# ---------------------------------------------------------------------------
# KMV distinct-count sketch (deterministic, mergeable, oracle-able)
# ---------------------------------------------------------------------------

KMV_K = 64

# 60-bit md5 prefix (stable across engines) normalized into (0, 1]
_KMV_SPACE = float(1 << 60)


def kmv_distinct_sketch(
    df: DataFrame, group_col: str, value_col: str, k: int = KMV_K
) -> DataFrame:
    """K-minimum-values distinct-count estimate per group.

    The KMV sketch (Bar-Yossef et al., RANDOM'02) keeps the k smallest
    hash values of a set; the estimator is (k-1)/h_(k) with h in (0,1].
    Unlike HLL (whose register layout differs per engine), KMV over an
    md5-derived hash is a pure function of the data — DuckDB computes the
    exact same sketch AND estimate, so an approximate-cardinality
    operator gets an EXACT oracle.

    Plan: hash each value (JVM md5), then a real two-stage sketch merge —
    stage 1 builds a capped k-smallest set per (group, input partition),
    stage 2 merges the per-partition sketches (KMV of a union = KMV of
    merged KMVs: the k smallest of the union are contained in the union
    of per-part k-smallest sets). The shuffle carries at most k hashes
    per group per partition, never the full distinct set — that is the
    sketch's point at 100 TB. The result is partitioning-invariant.
    Groups with < k distinct values report the exact count.
    """
    h = (
        F.conv(F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
    )
    per_part = (
        df.select(F.col(group_col), h.alias("__h"))
        .withColumn("__pid", F.spark_partition_id())
        .groupBy(group_col, "__pid")
        .agg(F.slice(F.array_sort(F.collect_set("__h")), 1, k).alias("__m"))
    )
    sk = (
        per_part.select(group_col, F.explode("__m").alias("__h"))
        .groupBy(group_col)
        .agg(F.slice(F.array_sort(F.collect_set("__h")), 1, k).alias("__mins"))
    )
    n = F.size("__mins")
    kth = F.element_at("__mins", k).cast("double") / F.lit(_KMV_SPACE)
    return sk.select(
        group_col,
        F.when(n < k, n.cast("double"))
        .otherwise((F.lit(float(k - 1))) / kth)
        .alias("distinct_est"),
        n.alias("sketch_size"),
    )


@register(
    "q_kmv_distinct_sketch",
    oracle=f"""
    WITH hashed AS (
      SELECT l_returnflag,
             ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM lineitem
    ),
    mins AS (
      SELECT l_returnflag, h,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rk,
             COUNT(DISTINCT h) OVER (PARTITION BY l_returnflag) AS nd
      FROM (SELECT DISTINCT l_returnflag, h FROM hashed)
    )
    SELECT l_returnflag,
           CASE WHEN MAX(nd) < {KMV_K} THEN CAST(MAX(nd) AS DOUBLE)
                ELSE {KMV_K - 1}.0 / (CAST(MAX(CASE WHEN rk = {KMV_K} THEN h END) AS DOUBLE)
                                      / {float(1 << 60)})
           END AS distinct_est,
           CAST(LEAST(MAX(nd), {KMV_K}) AS INT) AS sketch_size
    FROM mins WHERE rk <= {KMV_K}
    GROUP BY l_returnflag
    """,
)
def q_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct parts per return flag via the KMV sketch — approximate
    cardinality with an exact cross-engine oracle (see
    kmv_distinct_sketch docstring)."""
    li = load_table(spark, sf_dir, "lineitem")
    return kmv_distinct_sketch(li, "l_returnflag", "l_partkey")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-proof equi-join: a hot join key (one orderkey owning a large
    fraction of rows) pins its entire fan-out on one reducer in a plain
    shuffle join. Salting splits each left key across N sub-partitions —
    left rows get a deterministic content-hash salt, the (smaller) right
    side is replicated N ways — so the hot key's work spreads over N
    reducers. Results are identical to the unsalted join for ANY salt
    assignment (the salt only routes rows), which is what the registered
    oracle checks.

    This is the pre-AQE / deterministic complement to AQE's runtime skew
    splitting (which stays on as a backstop); the cost is N× the right
    side's shuffle volume, so use it when right ≪ left — the usual
    hot-fact ⨝ dimension shape.
    """
    # Row-local salt, NOT a content hash: duplicate rows of the hot key
    # would all content-hash to one bucket, leaving the skew unmitigated.
    # monotonically_increasing_id is (partition, row-position)-derived, so
    # duplicates spread evenly; any routing yields identical join results
    # (asserted by the registered query's plain-join oracle), and the id
    # is stable under task retry for deterministic scan order.
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    l_salted = left.withColumn("__salt", salt.cast("int"))
    r_salted = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return l_salted.join(r_salted, [*on, "__salt"]).drop("__salt")


@register(
    "q_skew_salted_join",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_lines,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join through the salting path, aggregated per order
    status — the oracle is the PLAIN join, proving salt-routing never
    changes results."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "k"),
        orders.withColumnRenamed("o_orderkey", "k"),
        on=["k"],
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (deterministic register layout)
# ---------------------------------------------------------------------------

HLL_P = 8                    # 2^8 = 256 registers per group
HLL_M = 1 << HLL_P
_HLL_RHO_CAP = 40            # register ceiling: keeps the integer
#                              harmonic numerator ≤ 256·2^40 < 2^63
# alpha_256 · m² · 2^40 — all literals, constant-folded identically by
# both engines (left-associated IEEE ops over identically-parsed
# literals), so the final division is the sketch's ONLY runtime float op.
# The Spark spelling needs D suffixes: a bare `0.7213` parses as
# DECIMAL(5,4) there (decimal division rounds differently), as DOUBLE in
# DuckDB.
_HLL_EST_NUM = "(0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 1099511627776.0"
_HLL_EST_NUM_SPARK = (
    "(0.7213D / (1.0D + 1.079D / 256.0D)) * 65536.0D * 1099511627776.0D"
)


def hll_bucket_rho(value_col: str) -> tuple[F.Column, F.Column]:
    """(bucket, rho) columns of the deterministic register layout —
    shared by the batch sketch and the streaming register aggregation so
    the layout cannot drift between them."""
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    bucket = h % HLL_M
    # h ÷ 256 as a SHIFT: h is 60-bit, a double division would round the
    # 53-bit mantissa and corrupt low bits (h ≥ 0, so shift = floor-div)
    rest = F.shiftright(h, HLL_P)
    rho = F.least(
        F.bit_count((rest.bitwiseAND(-rest)) - F.lit(1)) + F.lit(1),
        F.lit(_HLL_RHO_CAP),
    )
    return bucket, rho


def hll_fold(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Fold (group..., __b, __rho) register rows into the per-group
    integer harmonic numerator + used-register count (see
    hll_distinct_sketch for the determinism argument)."""
    return regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("int").alias("n_used_registers"),
        (
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_RHO_CAP} - __rho AS INT))"
                )
            )
            + (F.lit(HLL_M).cast("long") - F.count(F.lit(1)))
            * F.lit(1 << _HLL_RHO_CAP).cast("long")
        ).alias("harmonic_num"),
    )


def hll_distinct_sketch(
    df: DataFrame, group_col: str, value_col: str, corrected: bool = False
) -> DataFrame:
    """Per-group HyperLogLog cardinality estimate (Flajolet et al. 2007)
    with a DETERMINISTIC register layout, so — unlike engine-native
    ``approx_count_distinct`` whose register encoding is private — the
    whole sketch carries an exact cross-engine oracle.

    Layout: h = 60-bit md5 prefix of the value (the KMV family's hash);
    bucket = h mod 256; rho = trailing-zero count of h÷256, plus 1,
    capped at 40 (tz via ``bit_count((x & -x) - 1)`` — pure integer, and
    x=0 falls out as bit_count(-1)+1 = 65 → cap). The estimate's
    harmonic sum is kept INTEGER — Σ 2^(40−rho) as BIGINT with absent
    registers contributing 2^40 — so it is summation-order-independent;
    the only float op is the final constant/H division.

    Scale contract (why HLL next to KMV): registers are a CONSTANT
    256 bytes per group and merge by per-bucket MAX — the partial
    aggregate combines map-side, and shard sketches union without
    re-reading data (KMV must keep k hash values and re-merge them).
    The shuffle is ≤ groups × 256 register rows regardless of row count.

    Returns (group, n_used_registers, harmonic_num, distinct_est) —
    ``distinct_est`` is the raw estimator by default (exact oracle);
    ``corrected=True`` applies the small-range linear-counting fix
    (m·ln(m/V) — accurate for n ≪ m but ln is not bit-stable across
    engines, so it is pytest-pinned rather than oracle-checked).
    """
    bucket, rho = hll_bucket_rho(value_col)
    regs = (
        df.select(F.col(group_col), bucket.alias("__b"), rho.alias("__rho"))
        .groupBy(group_col, "__b")
        .agg(F.max("__rho").alias("__rho"))
    )
    per_group = hll_fold(regs, [group_col])
    raw = F.expr(_HLL_EST_NUM_SPARK) / F.col("harmonic_num").cast("double")
    if corrected:
        # Flajolet small-range (linear-counting) correction: with V > 0
        # empty registers and a raw estimate ≤ 2.5m, E = m·ln(m/V).
        # ln is NOT bit-stable across engines, so the registered query
        # exposes the raw estimator (exact oracle) and production callers
        # opt in here; accuracy is pinned by pytest instead.
        v = F.lit(HLL_M) - F.col("n_used_registers")
        raw = F.when(
            (raw <= F.lit(2.5 * HLL_M)) & (v > 0),
            F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
        ).otherwise(raw)
    return per_group.select(
        group_col,
        "n_used_registers",
        "harmonic_num",
        raw.alias("distinct_est"),
    )


@register(
    "q_hll_distinct_sketch",
    oracle=f"""
    WITH hashed AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events
    ),
    rows_ AS (
      SELECT event_type, h % {HLL_M} AS b,
             LEAST(bit_count(((h // {HLL_M}) & -(h // {HLL_M})) - 1) + 1,
                   {_HLL_RHO_CAP}) AS rho
      FROM hashed
    ),
    regs AS (
      SELECT event_type, b, MAX(rho) AS rho FROM rows_ GROUP BY event_type, b
    )
    SELECT event_type,
           CAST(COUNT(*) AS INT) AS n_used_registers,
           CAST(SUM(1::BIGINT << CAST({_HLL_RHO_CAP} - rho AS INT))
                + ({HLL_M} - COUNT(*)) * {1 << _HLL_RHO_CAP} AS BIGINT)
             AS harmonic_num,
           ({_HLL_EST_NUM}) / CAST(CAST(SUM(1::BIGINT << CAST({_HLL_RHO_CAP} - rho AS INT))
                + ({HLL_M} - COUNT(*)) * {1 << _HLL_RHO_CAP} AS BIGINT) AS DOUBLE)
             AS distinct_est
    FROM regs
    GROUP BY event_type
    """,
)
def q_hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via deterministic-layout HLL
    (256 registers; constant-size mergeable state — see
    hll_distinct_sketch)."""
    ev = load_table(spark, sf_dir, "events")
    return hll_distinct_sketch(ev, "event_type", "user_id")


# ---------------------------------------------------------------------------
# Count-min sketch (bounded-memory token frequency estimates)
# ---------------------------------------------------------------------------

CMS_WIDTH = 1024   # counters per hash row
CMS_DEPTH = 3      # independent md5-derived hash rows
# probe set for the registered query: common tokens, a rare one, and one
# absent from the corpus (the absent token pins the pure-collision case)
_CMS_PROBES = ("data", "vector", "the", "merge", "batch", "zz_absent_zz")


def _cms_pos_cols(tok: F.Column) -> list[F.Column]:
    """``CMS_DEPTH`` counter positions for a token: disjoint 32-bit md5
    words mod the width (the Bloom family's cross-engine hash recipe,
    operators/pipeline.py:_bloom_positions)."""
    h = F.md5(tok)
    return [
        F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long") % CMS_WIDTH
        for i in range(CMS_DEPTH)
    ]


def cms_token_estimates(
    docs: DataFrame, probes: tuple[str, ...], text_col: str = "text"
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over the corpus'
    whitespace tokens, queried for ``probes``: per probe token the
    estimate ``min_i counters[i][pos_i(t)]`` next to the exact count
    (the CMS guarantee ``est ≥ exact`` is pinned by pytest AND visible
    in the output as ``overcount``).

    Why a sketch when q_vocab_topk computes exact counts? Memory: exact
    per-token counts shuffle one state row per DISTINCT token (open
    vocabulary — unbounded at 100 TB); the CMS state is a CONSTANT
    depth×width = 3×1024 grid of longs regardless of vocabulary, and the
    grid aggregate combines map-side (sums commute), so heavy-hitter
    screens run in fixed memory. Everything is integer arithmetic over
    md5-derived positions — exactly reproducible in SQL.

    Plan: one explode (∝ corpus tokens) → ``CMS_DEPTH`` (row, pos)
    entries per token via a 3-element inline array → groupBy the ≤3·1024
    live grid cells. Probe positions are a ≤|probes|·depth literal-sized
    broadcast joined against the grid; per-probe MIN folds the depth.
    """
    from iceberg_matrix_spark.functions.text import tokens

    toks = docs.select(F.explode(tokens(text_col)).alias("tok"))
    pos = _cms_pos_cols(F.col("tok"))
    cells = (
        toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("row"), pos[i].alias("pos")
                        )
                        for i in range(CMS_DEPTH)
                    ]
                )
            ).alias("c")
        )
        .select(F.col("c.row").alias("row"), F.col("c.pos").alias("pos"))
        .groupBy("row", "pos")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    probe_rows = []
    for t in probes:
        probe_rows.append((t,))
    spark = docs.sparkSession
    pdf = spark.createDataFrame(probe_rows, ["token"])
    ppos = pdf.select(
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _cms_pos_cols(F.col("token"))[i].alias("pos"),
                    )
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("c"),
    ).select("token", F.col("c.row").alias("row"), F.col("c.pos").alias("pos"))
    # canonical count-min: a probe cell ABSENT from the live grid is a
    # zero counter and must drive the MIN to 0 (proving the token never
    # occurred) — an inner join would silently min over non-empty cells
    # only, overstating rare/absent probes (ADVICE r7 #2). The grid is
    # ≤ depth·width rows post-agg (constant in the corpus), so
    # broadcasting the preserved-probe left join is free.
    est = (
        ppos.join(F.broadcast(cells), ["row", "pos"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce("n", F.lit(0))).alias("cms_est"))
    )
    exact = (
        toks.filter(F.col("tok").isin(*probes))
        .groupBy(F.col("tok").alias("token"))
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    return (
        pdf.join(est, "token", "left")
        .join(exact, "token", "left")
        .select(
            "token",
            F.coalesce("cms_est", F.lit(0)).cast("bigint").alias("cms_est"),
            F.coalesce("exact_n", F.lit(0)).cast("bigint").alias("exact_n"),
            (F.coalesce("cms_est", F.lit(0)) - F.coalesce("exact_n", F.lit(0)))
            .cast("bigint")
            .alias("overcount"),
        )
    )


def _cms_pos_sql(expr: str, i: int) -> str:
    return f"(CAST('0x' || substr(md5({expr}), {1 + 8 * i}, 8) AS BIGINT) % {CMS_WIDTH})"


@register(
    "q_cms_token_counts",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS tok
      FROM documents
    ),
    cells AS (
      SELECT row_i AS row, pos, COUNT(*) AS n FROM (
        {" UNION ALL ".join(f"SELECT {i} AS row_i, {_cms_pos_sql('tok', i)} AS pos FROM toks" for i in range(CMS_DEPTH))}
      ) GROUP BY row_i, pos
    ),
    probes AS (
      SELECT unnest([{", ".join(repr(t) for t in _CMS_PROBES)}]) AS token
    ),
    ppos AS (
      SELECT token, row_i AS row, pos FROM (
        {" UNION ALL ".join(f"SELECT token, {i} AS row_i, {_cms_pos_sql('token', i)} AS pos FROM probes" for i in range(CMS_DEPTH))}
      )
    ),
    est AS (
      SELECT token, MIN(COALESCE(n, 0)) AS cms_est
      FROM ppos LEFT JOIN cells USING (row, pos) GROUP BY token
    ),
    exact AS (
      SELECT tok AS token, COUNT(*) AS exact_n FROM toks
      WHERE tok IN ({", ".join(repr(t) for t in _CMS_PROBES)}) GROUP BY tok
    )
    SELECT p.token,
           CAST(COALESCE(e.cms_est, 0) AS BIGINT) AS cms_est,
           CAST(COALESCE(x.exact_n, 0) AS BIGINT) AS exact_n,
           CAST(COALESCE(e.cms_est, 0) - COALESCE(x.exact_n, 0) AS BIGINT) AS overcount
    FROM probes p
    LEFT JOIN est e USING (token)
    LEFT JOIN exact x USING (token)
    """,
)
def q_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch estimates vs exact counts for 6 probe tokens
    (3×1024 constant-memory grid — see cms_token_estimates)."""
    docs = load_table(spark, sf_dir, "documents")
    return cms_token_estimates(docs, _CMS_PROBES)
