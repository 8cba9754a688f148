"""Deterministic distributed sketches: HyperLogLog, KMV (k-minimum
values) and Count-Min — the cardinality / frequency summaries a 100 TB
corpus pipeline keeps per source instead of exact state.

Spark ships `approx_count_distinct` (HLL++), but its hash is
JVM-internal, so its estimates cannot be cross-checked by another
engine. These sketches derive every register from md5 — portable to any
SQL engine — which makes the whole sketch (not just the estimate)
hash-gateable against the DuckDB oracle, and mergeable across
partitions/engines by construction.

Scale design:
- Register extraction is a projection (md5 + integer bit ops, all
  whole-stage codegen); the only shuffles are the tiny fixed-width
  aggregations — (group, register_idx) for HLL (m=1024 rows per group),
  (group, row, cell) for Count-Min (d*w rows per group), top-k hashes
  for KMV. Document text never shuffles.
- All register math is INTEGER-exact: HLL's sum of 2^-M_j is scaled by
  2^51 so it is an exact bigint on every engine (rank <= 51, m = 1024
  -> sum <= 2^61 < 2^63); the estimate is then ONE double division of
  two exact numbers, which IEEE-754 makes bit-identical across engines.
  No float accumulation anywhere.
- Sketches are unions-of-registers, so incremental maintenance at 100 TB
  is `groupBy(idx).max(rank)` / `min(hash)` / `sum(count)` over the
  stored register table plus the new batch — never a rescan.

Reference parity: photon keeps only exact per-stream counters
(streams.clj:290-303); these sketches are the north-star extension the
task brief calls for (novel sketch operators for corpus analytics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from photon_spark.functions.text import tokens

# ----------------------------------------------------------------- params

HLL_P = 10                  #: 2^p registers
HLL_M = 1 << HLL_P          #: 1024 registers
HLL_REST_BITS = 60 - HLL_P  #: rank field width (md5 prefix gives 60 bits)
HLL_SCALE = 1 << (HLL_REST_BITS + 1)  #: 2^51 — exact-integer term scale
#: alpha_m * m^2 * 2^51 for m=1024 (single literal on both engines)
HLL_ALPHA_M = 0.7213 / (1.0 + 1.079 / HLL_M)
HLL_EST_NUM = HLL_ALPHA_M * HLL_M * HLL_M * float(HLL_SCALE)

KMV_K = 256                 #: sketch size (k minimum hash values)
KMV_DOMAIN = float(1 << 60)  #: md5 60-bit prefix hash domain

CM_D = 4                    #: count-min rows (independent hash funcs)
CM_W = 1024                 #: count-min cells per row


def _h60(item: Column) -> Column:
    """60-bit integer hash: first 15 hex chars of md5. Portable — DuckDB
    mirrors it as ('0x' || substr(md5(x), 1, 15))::BIGINT."""
    return F.conv(F.substring(F.md5(item), 1, 15), 16, 10).cast("long")


def sql_h60(expr: str) -> str:
    """DuckDB twin of :func:`_h60`."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


# ------------------------------------------------------------ HyperLogLog

def hll_registers(df: DataFrame, group_col: str, item: Column) -> DataFrame:
    """→ DataFrame[group, idx, rank]: the m=1024 HLL registers per group.

    idx = top p bits of the 60-bit hash; rank = 1 + leading zeros of the
    remaining 50-bit field (rank = 51 when the field is 0). The
    leading-zero count uses the binary-string length (`conv(x,10,2)` /
    DuckDB `bin(x)`) — identical on both engines including bitlen(0)=1,
    which the rank formula sidesteps with an explicit rest=0 branch.
    Only (group, idx, rank) shuffles — ≤1024 rows per group survive.
    """
    h = _h60(item)
    idx = F.shiftrightunsigned(h, HLL_REST_BITS)
    rest = h.bitwiseAND(F.lit((1 << HLL_REST_BITS) - 1))
    bitlen = F.length(F.conv(rest, 10, 2))
    rank = (F.when(rest == 0, F.lit(HLL_REST_BITS + 1))
             .otherwise(F.lit(HLL_REST_BITS + 1) - bitlen)).cast("int")
    return (df.select(F.col(group_col).alias("grp"), idx.alias("idx"),
                      rank.alias("rank"))
              .groupBy("grp", "idx").agg(F.max("rank").alias("rank")))


def hll_estimate(df: DataFrame, group_col: str, item: Column) -> DataFrame:
    """Per-group HLL cardinality estimate with exact integer evidence.

    → [group, register_sum, n_zero_regs, est_distinct]. register_sum is
    the exact bigint sum over all 1024 registers of 2^(51 - M_j)
    (M_j = 0 for never-hit registers), so the estimate is the raw HLL
    bias-corrected form alpha_m * m^2 / sum(2^-M_j) computed as ONE
    division of exact operands — bit-identical on any IEEE engine. The
    small-range (linear-counting) correction is deliberately NOT folded
    in here: it needs ln(), whose last ulp is libm-specific; callers who
    want it apply it on the returned exact (n_zero_regs, register_sum).
    """
    regs = hll_registers(df, group_col, item)
    hit = (regs.groupBy("grp")
               .agg(F.sum(F.expr(f"shiftleft(1L, {HLL_REST_BITS + 1} - rank)"))
                     .alias("hit_sum"),
                    F.count(F.lit(1)).alias("n_hit")))
    zero_regs = F.lit(HLL_M) - F.col("n_hit")
    reg_sum = (F.col("hit_sum")
               + zero_regs * F.lit(HLL_SCALE).cast("long"))
    return hit.select(
        F.col("grp").alias(group_col),
        reg_sum.alias("register_sum"),
        zero_regs.cast("long").alias("n_zero_regs"),
        F.round(F.lit(HLL_EST_NUM) / reg_sum.cast("double"), 2)
         .alias("est_distinct"))


def sql_hll_estimate(table_sql: str, group_col: str, item_expr: str) -> str:
    """DuckDB oracle for :func:`hll_estimate` over a (group, item) query."""
    rest_bits, scale = HLL_REST_BITS, HLL_SCALE
    return f"""
WITH items AS ({table_sql}),
h AS (
  SELECT {group_col} AS grp, {sql_h60(item_expr)} AS h60 FROM items
),
reg AS (
  SELECT grp, (h60 >> {rest_bits}) AS idx,
         max(CASE WHEN (h60 & {(1 << rest_bits) - 1}) = 0
                  THEN {rest_bits + 1}
                  ELSE {rest_bits + 1}
                       - length(bin(h60 & {(1 << rest_bits) - 1})) END)
           AS rank
  FROM h GROUP BY 1, 2
),
agg AS (
  SELECT grp, sum((1::BIGINT << ({rest_bits + 1} - rank))) AS hit_sum,
         count(*) AS n_hit
  FROM reg GROUP BY 1
)
SELECT grp AS {group_col},
       CAST(hit_sum + ({HLL_M} - n_hit) * {scale}::BIGINT
            AS BIGINT) AS register_sum,
       ({HLL_M} - n_hit)::BIGINT AS n_zero_regs,
       round({HLL_EST_NUM!r} /
             (hit_sum + ({HLL_M} - n_hit) * {scale}::BIGINT)::DOUBLE, 2)
         AS est_distinct
FROM agg
"""


# -------------------------------------------------------------------- KMV

def kmv_estimate(df: DataFrame, group_col: str, item: Column,
                 k: int = KMV_K) -> DataFrame:
    """Per-group KMV distinct estimate: keep the k smallest DISTINCT
    60-bit hashes; est = (k-1) * 2^60 / kth_min. When a group holds
    fewer than k distinct values the sketch IS the exact distinct set,
    so the estimate equals the exact count.

    → [group, n_kept, kth_hash, est_distinct]. Shuffle carries distinct
    (group, hash) pairs once, then per-group top-k (sort bounded by k
    via the rank filter — at scale the partial aggregation has already
    collapsed duplicates map-side).
    """
    from pyspark.sql import Window
    h = (df.select(F.col(group_col).alias("grp"),
                   _h60(item).alias("h60"))
           .distinct())
    w = Window.partitionBy("grp").orderBy("h60")
    kept = (h.withColumn("rn", F.row_number().over(w))
             .where(F.col("rn") <= k))
    agg = kept.groupBy("grp").agg(F.count(F.lit(1)).alias("n_kept"),
                                  F.max("h60").alias("kth_hash"))
    est = (F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
            .otherwise(F.lit(float(k - 1) * KMV_DOMAIN)
                       / F.col("kth_hash").cast("double")))
    return agg.select(F.col("grp").alias(group_col), "n_kept", "kth_hash",
                      F.round(est, 2).alias("est_distinct"))


def sql_kmv_estimate(table_sql: str, group_col: str, item_expr: str,
                     k: int = KMV_K) -> str:
    """DuckDB oracle for :func:`kmv_estimate`."""
    return f"""
WITH items AS ({table_sql}),
h AS (
  SELECT DISTINCT {group_col} AS grp, {sql_h60(item_expr)} AS h60 FROM items
),
ranked AS (
  SELECT grp, h60, row_number() OVER (PARTITION BY grp ORDER BY h60) AS rn
  FROM h
),
agg AS (
  SELECT grp, count(*) AS n_kept, max(h60) AS kth_hash
  FROM ranked WHERE rn <= {k} GROUP BY 1
)
SELECT grp AS {group_col}, n_kept, kth_hash,
       round(CASE WHEN n_kept < {k} THEN n_kept::DOUBLE
                  ELSE {float(k - 1) * KMV_DOMAIN!r} / kth_hash::DOUBLE END,
             2) AS est_distinct
FROM agg
"""


# -------------------------------------------------------------- Count-Min

def _cm_cell(item: Column, r: int) -> Column:
    """Cell index for count-min row r: md5('cm{r}:' || item) % w, via the
    first 8 hex chars (32 bits — enough above w=1024 for uniformity)."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"cm{r}:"), item)), 1, 8),
               16, 10).cast("long")
    return h % CM_W


def sql_cm_cell(expr: str, r: int) -> str:
    return (f"(('0x' || substr(md5('cm{r}:' || {expr}), 1, 8))::BIGINT"
            f" % {CM_W})")


def countmin_table(items: DataFrame, item_col: str = "item",
                   weight_col: str | None = None) -> DataFrame:
    """Build the d×w count-min table from an item (optionally weighted)
    relation. → [r, cell, total].

    Aggregate per distinct item FIRST (the natural heavy-hitter shuffle,
    map-side combinable), then scatter each item's count into its d
    cells — so the d× explode amplifies the distinct-item relation, not
    the corpus. The sketch itself is d*w = 4096 rows: broadcastable,
    mergeable by cell-wise sum.
    """
    w = (F.col(weight_col) if weight_col
         else F.lit(1).cast("long")).alias("wt")
    per_item = (items.select(F.col(item_col).alias("it"), w)
                      .groupBy("it").agg(F.sum("wt").alias("c")))
    cells = F.array(*[F.struct(F.lit(r).alias("r"),
                               _cm_cell(F.col("it"), r).alias("cell"))
                      for r in range(CM_D)])
    return (per_item.select(F.explode(cells).alias("rc"), "c")
                    .groupBy(F.col("rc.r").alias("r"),
                             F.col("rc.cell").alias("cell"))
                    .agg(F.sum("c").alias("total")))


def countmin_point_estimates(items: DataFrame, queries: DataFrame,
                             item_col: str = "item",
                             query_col: str = "item") -> DataFrame:
    """Estimate each query item's frequency from the count-min table:
    est = min over the d rows of the item's cell totals. The sketch
    (4096 rows) broadcasts to the query side — the 100 TB shape, where
    the corpus is summarized once and point queries never rescan it.

    → [item, est_count]; est >= true count always (only over-counts).
    """
    cm = countmin_table(items, item_col)
    q = queries.select(F.col(query_col).alias("it"))
    est = None
    for r in range(CM_D):
        side = (cm.where(F.col("r") == r)
                  .select(F.col("cell").alias(f"cell{r}"),
                          F.col("total").alias(f"t{r}")))
        q = q.withColumn(f"cell{r}", _cm_cell(F.col("it"), r))
        q = q.join(F.broadcast(side), f"cell{r}", "left")
        t = F.coalesce(F.col(f"t{r}"), F.lit(0))
        est = t if est is None else F.least(est, t)
    return q.select(F.col("it").alias(item_col),
                    est.cast("long").alias("est_count"))


# ------------------------------------------------- histogram quantiles

HIST_BINS = 1024


def histogram_registers(df: DataFrame, group_col: str, value: Column,
                        n_bins: int = HIST_BINS) -> DataFrame:
    """Fixed-bin histogram sketch over a [0, 1) value → [grp, bin, cnt].
    bin = floor(value * n_bins) clamped to the top bin (value == 1.0).
    The 100 TB quantile path: the corpus collapses map-side to ≤ n_bins
    rows per group; histograms merge by cell-wise SUM (same contract as
    the other sketches), so quantiles of a growing corpus never rescan —
    unlike exact rank quantiles, which need a per-group sort. The exact
    form (queries_pipeline.q_quality_quantiles_by_lang) is this sketch's
    small-scale truth; estimate error is bounded by bin width 1/n_bins."""
    b = F.least(F.lit(n_bins - 1),
                F.floor(value * n_bins)).cast("int")
    return (df.select(F.col(group_col).alias("grp"), b.alias("bin"))
              .groupBy("grp", "bin").agg(F.count(F.lit(1)).alias("cnt")))


def histogram_quantiles(df: DataFrame, group_col: str, value: Column,
                        pcts: tuple = (50, 90, 99),
                        n_bins: int = HIST_BINS) -> DataFrame:
    """Per-group quantile estimates from the histogram sketch:
    p-th percentile ≈ midpoint of the smallest bin whose cumulative count
    reaches ceil(p·n/100) (the percentile_disc rank, pure integers).
    → [group, n, est_p{p}...]; every output value is either an exact
    integer or one literal division — engine-portable."""
    from pyspark.sql import Window
    regs = histogram_registers(df, group_col, value, n_bins)
    w = (Window.partitionBy("grp").orderBy("bin")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    n_w = Window.partitionBy("grp")
    r = (regs.withColumn("cum", F.sum("cnt").over(w))
             .withColumn("n", F.sum("cnt").over(n_w)))
    aggs = [F.first("n").alias("n")]
    for p in pcts:
        rank = F.expr(f"(n * {p} + 99) div 100")
        hit = F.when(F.col("cum") >= rank, F.col("bin"))
        aggs.append(F.round((F.min(hit) + 0.5) / n_bins, 6)
                     .alias(f"est_p{p}"))
    return (r.groupBy("grp").agg(*aggs)
             .select(F.col("grp").alias(group_col), "n",
                     *[f"est_p{p}" for p in pcts]))


def sql_histogram_quantiles(table_sql: str, group_col: str, value_expr: str,
                            pcts: tuple = (50, 90, 99),
                            n_bins: int = HIST_BINS) -> str:
    """DuckDB oracle for :func:`histogram_quantiles`."""
    est = ", ".join(
        f"round((min(CASE WHEN cum >= (n * {p} + 99) // 100 THEN bin END)"
        f" + 0.5) / {n_bins}, 6) AS est_p{p}" for p in pcts)
    return f"""
WITH vals AS ({table_sql}),
regs AS (
  SELECT grp, least({n_bins - 1},
                    CAST(floor(v * {n_bins}) AS INT)) AS bin,
         count(*) AS cnt
  FROM (SELECT {group_col} AS grp, {value_expr} AS v FROM vals)
  GROUP BY 1, 2
),
c AS (
  SELECT grp, bin, cnt,
         sum(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY grp) AS n
  FROM regs
)
SELECT grp AS {group_col}, CAST(any_value(n) AS BIGINT) AS n, {est}
FROM c GROUP BY grp
"""
