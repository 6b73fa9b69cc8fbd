package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew- and shuffle-management helpers for 100 TB operation.
  *
  * These don't add query semantics — they re-shape *where* data moves.
  * Context: plain sum/count aggregations don't need skew help (Spark's
  * partial aggregation combines map-side, so a hot key arrives at its
  * reducer as one row per map task). The aggregations that DO blow up on a
  * hot key are the ones whose partial state is proportional to the data —
  * count-distinct, collect_list/set — and joins on a skewed key (AQE's
  * skew-join split handles those at runtime).
  */
object Scale {

  /** Skew-safe exact count-distinct per key. A direct
    * `groupBy(key).agg(countDistinct(value))` ships every (key, value) pair
    * of a hot key to one reducer and builds a giant distinct set there.
    * This two-stage form first reduces to distinct (key, value) pairs —
    * shuffled on BOTH columns, so a hot key spreads over the whole cluster —
    * then counts per key, where each key is now at most |distinct values|
    * rows of plain partial counts. Identical results, bounded reducers.
    */
  def skewSafeCountDistinct(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.select(col(keyCol), col(valueCol))
      .distinct() // shuffle on (key, value): hot keys spread uniformly
      .groupBy(col(keyCol))
      .agg(count(col(valueCol)).as("n_distinct"))

  /** Salted equi-join for skewed keys: the big side gets a per-row salt in
    * [0, salts) (xxhash64 of all its columns — the salt VALUE never affects
    * the result, only which of the `salts` reducers a row lands on, so no
    * cross-engine hash contract is needed); the small side is replicated
    * once per salt; the join key becomes (key, salt). A hot key's rows,
    * which a plain shuffle would pile onto one reducer, spread across
    * `salts` reducers. Result ≡ the unsalted join for any key multiplicity
    * (each small-side duplicate is present at every salt).
    *
    * The merge hint pins the shuffle plan: at test scale Catalyst would
    * broadcast the small side (making salting a no-op); at 100 TB the dim
    * side exceeds the broadcast threshold and SMJ-on-(key, salt) is
    * exactly the plan this helper exists to shape. AQE's skew-join split
    * is the runtime alternative; explicit salting is the static guarantee
    * (works for first-stage shuffles AQE can't re-plan, and composes with
    * bucketing).
    *
    * Choosing `salts` (measured, docs/PLANS.md r11 salted-join row): the
    * hot key's max-task record share divides by `salts` only up to
    * hash-collision granularity — the `salts` (key, salt) combos hash
    * into `spark.sql.shuffle.partitions` reducers, so with salts ≪
    * partitions some reducers draw 2+ combos (salts=8 over 32 partitions
    * measured ÷4, not ÷8). salts ≈ the reducer count gives the fullest
    * spread; beyond that only the dim-side replication cost grows.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts >= 1, s"salts must be positive, got $salts")
    val b = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col): _*)), lit(salts.toLong)).cast("int"))
    val sm = small.withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    b.hint("merge").join(sm, Seq(key, "__salt")).drop("__salt")
  }

  /** Write a DataFrame as a bucketed, sorted table in the session catalog
    * (bucketing requires saveAsTable). Joins between tables bucketed on the
    * same key with the same bucket count skip the shuffle entirely —
    * SortMergeJoin with no Exchange on either side (asserted in ScaleSpec;
    * plan-asserted on the b37 query). At 100 TB this converts every
    * fact-fact join on the bucket key from a full shuffle into a local
    * merge. With `path` the table is external (files at `path`, metadata in
    * the session catalog) — the form [[graft.sources.Formats.bucketedTable]]
    * uses for scratch-rooted layouts; without it the files land in the
    * session warehouse directory.
    */
  /** 32-bit Morton (z-order) key from the low 16 bits of two dimensions —
    * the multi-dimensional at-rest clustering key: writing files sorted by
    * z-key gives every file a tight min/max envelope in BOTH dimensions, so
    * a 2-D range predicate skips most files where a single-column sort only
    * prunes along its one axis. Built from builtin bitwise expressions (the
    * standard spread-bits ladder), so it stays inside whole-stage codegen
    * and is bit-identical in any engine (pure integer & | <<).
    */
  def zOrderKey(x: Column, y: Column): Column = {
    def spread(c: Column): Column = {
      var v = c.cast("long").bitwiseAND(lit(0xFFFFL))
      v = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FFL))
      v = v.bitwiseOR(shiftleft(v, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      v = v.bitwiseOR(shiftleft(v, 2)).bitwiseAND(lit(0x33333333L))
      v.bitwiseOR(shiftleft(v, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(x).bitwiseOR(shiftleft(spread(y), 1))
  }

  /** Hilbert-curve key from the low 16 bits of two dimensions — the
    * [[zOrderKey]] alternative whose rotations remove Morton's diagonal
    * jumps: every curve step is a unit grid step, so consecutive key
    * ranges are tighter rectangles and sorted-file min/max envelopes
    * cover less dead area on 2-D box predicates (docs/PLANS.md, section
    * "b60/b61 — SCD2 + z-order clustering key", records both curves'
    * skip rates on the same layout). A 16-round rotate/reflect state machine can't unroll as a
    * column-expression ladder without exponential tree growth, so this
    * is a codegen `Expression`
    * ([[graft.plans.SpatialExpressions.HilbertKey]]); the b92 oracle
    * mirrors the identical per-plane algebra as a CTE ladder. */
  def hilbertKey(x: Column, y: Column): Column =
    graft.plans.SpatialExpressions.hilbertKey(x.cast("long"), y.cast("long"))

  /** Exact equi-depth histogram (the optimizer-statistics artifact: `bins`
    * buckets with ~equal row counts, each with its value bounds) computed
    * WITHOUT a global sort of the rows.
    *
    * The naive form — `ntile(bins)` over a partitionless window — ships
    * every row through one reducer: a scale-killer. This form reduces to
    * per-(range-bucket, value) counts and a bucket-partitioned running
    * window on ONE shared range-bucket exchange, with the cross-bucket
    * offsets broadcast back from the tiny bucket table
    * ([[valueCumSums]]; r18 — the previous "window over the
    * distinct-value frame" still single-tasked a values-universe sort,
    * which on continuous-ish domains IS the row count: 583k of 600k at
    * sf0.1). Bucket of a value: `((cum−1)·bins) div N`
    * over the inclusive running count — pure BIGINT, so boundaries are
    * bit-identical in any engine; ties (equal values) land in one bucket by
    * construction, which is why bucket counts are only ~equal (the exact
    * equi-depth property up to tie granularity, as in any value-based
    * histogram).
    *
    * Contract (r18): `value` must canonicalize to an INTEGRAL column
    * (cents, epoch days, ids — enforced at the kernel edge), and NULL
    * values are excluded from the histogram (they cannot rank in a
    * value order; pre-r18 a null group was counted, shifting every
    * boundary — callers with meaningful nulls must bucket them
    * separately).
    */
  def equiDepthHistogram(df: DataFrame, value: Column, bins: Int,
                         bucketWidth: Long = 1L << 16): DataFrame = {
    require(bins >= 1, s"bins must be positive, got $bins")
    valueCumSums(df.select(value.as("v"), lit(1L).as("w")), bucketWidth)
      .withColumn("bin", expr(s"((cum - 1) * $bins) div tot"))
      .groupBy(col("bin"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        sum(col("w")).as("n_rows"))
  }

  /** Shared kernel of [[equiDepthHistogram]] / [[weightedPercentiles]]:
    * per distinct value v, the summed weight `w`, the GLOBAL running
    * weight `cum` (inclusive, in v order) and the grand total `tot` —
    * WITHOUT the global single-partition window the pre-r18 shapes paid
    * (the value universe barely compacts on continuous-ish domains:
    * lineitem price cents at sf0.1 is 583k distinct over 600k rows, so
    * "window over the compacted table" was a 583k-row one-task sort —
    * the 199/200-straggler of guide §2.5 at 100 TB).
    *
    * Two-level cumsum (the contiguousIds discipline): raw (v, w) rows
    * take ONE numbered exchange keyed by the range bucket v div
    * `bucketWidth` — the bucket is aliased in a projection above the
    * repartition, so the per-(bucket, value) dedup, the within-bucket
    * running window and the per-bucket totals ALL ride that single
    * exchange (alias-aware partitioning propagation); the cross-bucket
    * offsets cumulate on the bucket table only (≤ domain/bucketWidth
    * non-empty rows — the only single-partition window left) and come
    * back as a broadcast. Exact integer arithmetic throughout; the
    * result is engine- and parallelism-independent.
    *
    * `bucketWidth` bounds the per-task window at `bucketWidth` distinct
    * values and the broadcast at domain/bucketWidth rows — size it off
    * the value domain (the 2^16 default gives ~160 buckets on the cents
    * fixtures); skewed value ranges skew buckets, same caveat as
    * [[contiguousIds]].
    *
    * Precondition: `vw` must be deterministic — the same rows on every
    * evaluation. The kernel reads it twice (the per-value leg and the
    * bucket-total leg), so a nondeterministic input (rand-based sample,
    * unordered limit) can give `cum` and `tot` from different rows;
    * persist or checkpoint such an input first. */
  private[graft] def valueCumSums(vw: DataFrame, bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be positive, got $bucketWidth")
    // the range bucket is an integral division — fail at the API edge
    // with the real precondition, not deep inside with an
    // IntegralDivide AnalysisException (r18 review: pre-r18 any
    // orderable type happened to work; the kernel contract is integral)
    val vt = vw.schema("v").dataType
    require(Seq("long", "integer", "short", "byte").contains(vt.typeName),
      s"value column must be integral (canonicalize first — cents, epoch days, ids); got $vt")
    val parts = vw.sparkSession.sessionState.conf.numShufflePartitions
    // null v rows cannot rank in a value order; they are dropped — made
    // EXPLICIT here (the bucket join below would silently drop them
    // anyway via its null-rejecting key, so this only makes the
    // contract visible and keeps the bucket-total leg's partial
    // aggregate free of a null group).
    val nn = vw.where(col("v").isNotNull)
    val raw = nn
      .repartition(parts, expr(s"v div $bucketWidth"))
      .withColumn("bkt", expr(s"v div $bucketWidth"))
    val vc = raw.groupBy(col("bkt"), col("v")).agg(sum(col("w")).as("w"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val inb = vc.withColumn("bcum", sum(col("w")).over(wIn))
    // Bucket totals take their OWN partial-aggregated leg off the source
    // (map-side combine collapses it to ≤ buckets·scan-tasks rows, a
    // KB-scale exchange) instead of re-reading the big repartition
    // exchange as a second consumer: measured on b84, the re-read was
    // +90% shuffle read for a 160-row result — a columnar re-scan of
    // the value column is the cheaper side of that trade at any scale
    // (guide §2.3: the shuffle is the scarce resource, the scan is not).
    val bt = nn.groupBy(expr(s"v div $bucketWidth").as("bkt"))
      .agg(sum(col("w")).as("btot"))
    val wOff = org.apache.spark.sql.expressions.Window.orderBy(col("bkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.orderBy(col("bkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val off = bt
      .withColumn("off", sum(col("btot")).over(wOff) - col("btot"))
      .withColumn("tot", sum(col("btot")).over(wAll))
      .select(col("bkt"), col("off"), col("tot"))
    inb.join(broadcast(off), Seq("bkt"))
      .select(col("v"), col("w"), (col("bcum") + col("off")).as("cum"), col("tot"))
  }

  /** Key-skew profile — the diagnostic a planner reads BEFORE choosing
    * [[saltedJoin]] (static salting) vs AQE skew split vs nothing, and the
    * distributional companion to the c79 join-size estimate: one row of
    * integer-exact skew statistics for a key column.
    *
    *   skew_milli = 1000·max_cnt·n_keys div n_rows   (max/mean ratio; 1000 = uniform)
    *   gini_milli = 1000·(2·Σ i·cᵢ − (m+1)·Σcᵢ) div (m·Σcᵢ)   (counts sorted asc)
    *
    * Both are pure-integer (one floor division at the end) and
    * tie-insensitive: permuting ranks among equal counts leaves Σ i·cᵢ
    * unchanged, so the result is deterministic on any engine at any
    * parallelism. Plan: one partial-aggregated groupBy compacts the rows
    * to the KEY DISTRIBUTION (m rows, one per distinct key), then a global
    * rank over that compacted table feeds a single-row aggregate. The
    * global sort is inherent to Gini and runs on m rows, not n — for a
    * key universe too large even for that, cap with a count-range
    * histogram ([[equiDepthHistogram]] over cnt) instead. */
  def keySkewProfile(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("c"), col("k"))
    counts.withColumn("i", row_number().over(w))
      .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
        max(col("c")).as("max_cnt"), sum(col("i") * col("c")).as("s1"))
      .select(col("n_keys"), col("n_rows"), col("max_cnt"),
        expr("(1000 * max_cnt * n_keys) div n_rows").as("skew_milli"),
        expr("(1000 * (2 * s1 - (n_keys + 1) * n_rows)) div (n_keys * n_rows)")
          .as("gini_milli"))
  }

  /** ANALYZE-style per-column statistics in ONE pass — the catalog-stats
    * builder feeding cost-based optimization (row counts, NDVs, min/max
    * envelopes are exactly what join reordering and broadcast decisions
    * consume; [[keySkewProfile]] and the c79/c81 sketch estimates cover
    * what these can't). Columns are supplied as (name, canonical BIGINT
    * expression) so min/max avoid cross-engine collation/float traps —
    * money as cents, dates as epoch days, keys as-is.
    *
    * Plan: one aggregate over the table; the multi-column exact
    * `count_distinct` plans as Spark's Expand (one duplicated stream per
    * NDV — the standard one-pass ANALYZE cost, ×(cols+1) map-side rows,
    * still a single shuffle of partial states). For columns where
    * approximate NDV suffices at 100 TB, swap `approx_count_distinct`
    * (HLL, b18) — same shape, no Expand. The stats-to-rows unpivot
    * happens on the single result row. */
  def analyzeStats(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val canon = df.select(cols.zipWithIndex.map { case ((_, c), i) =>
      c.cast("long").as(s"c$i") }: _*)
    val aggs = count(lit(1)).as("n_rows") +: cols.indices.flatMap(i => Seq(
      count(col(s"c$i")).as(s"nn$i"), countDistinct(col(s"c$i")).as(s"nd$i"),
      min(col(s"c$i")).as(s"mn$i"), max(col(s"c$i")).as(s"mx$i")))
    canon.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(name).as("col_name"), col("n_rows"),
          col(s"nn$i").as("n_non_null"), col(s"nd$i").as("ndv"),
          col(s"mn$i").as("min_v"), col(s"mx$i").as("max_v")) }: _*)).as("s"))
      .select(col("s.*"))
  }

  /** Exact weighted discrete percentiles: for each p in `pcts`, the
    * smallest value v with cumWeight(v)·100 ≥ p·totalWeight — the
    * aggregate behind token-weighted medians and spend-weighted price
    * points that plain percentile_disc (b25) cannot express. Pure
    * integers throughout (supply value/weight pre-canonicalized, cents
    * etc.), so exact on any engine at any parallelism. Contract (r18):
    * `value` must be INTEGRAL (kernel-enforced) and NULL values are
    * excluded — see [[equiDepthHistogram]].
    *
    * Plan: the [[valueCumSums]] two-level bucket cumsum (r18 — shared
    * with [[equiDepthHistogram]]; one range-bucket exchange, no
    * single-partition values-universe window); the percentile picks are
    * a values×|pcts| explode feeding a |pcts|-row aggregate. */
  def weightedPercentiles(df: DataFrame, value: Column, weight: Column,
                          pcts: Seq[Int], bucketWidth: Long = 1L << 16): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100), s"bad pcts $pcts")
    valueCumSums(df.select(value.as("v"), weight.as("w")), bucketWidth)
      .select(col("cum").as("cw"), col("tot"), col("v"),
        explode(array(pcts.map(p => lit(p)): _*)).as("pct"))
      .groupBy(col("pct"))
      .agg(min(when(col("cw") * 100 >= col("pct") * col("tot"), col("v")))
          .as("value_v"),
        max(col("tot")).as("total_w"))
  }

  /** Grouped discrete median WITHOUT per-group buffering: exactly
    * `percentile_disc(0.5)`'s semantics (smallest v with cdf ≥ 0.5,
    * lower-middle on even counts — cw·2 ≥ tot in integers) computed via
    * per-(group, value) counts and a cumulative window PARTITIONED BY
    * GROUP — the b71/b84 shape. percentile_disc buffers every group's
    * rows on one reducer; this holds one running sum per (group, value)
    * pair, so a 100 TB grouped median is bounded by the value universe
    * per group, not the row count. */
  def groupedMedianDisc(df: DataFrame, gCol: String, vCol: String): DataFrame = {
    val counts = df.select(col(gCol).as("g"), col(vCol).as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val cum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    counts.withColumn("cw", sum(col("c")).over(cum))
      .withColumn("tot", sum(col("c")).over(all))
      .where(col("cw") * 2 >= col("tot"))
      .groupBy(col("g")).agg(min(col("v")).as("med"))
      .select(col("g").as(gCol), col("med"))
  }

  /** Contiguous global enumeration 0..n−1 in `keyCol` order WITHOUT the
    * single-partition global window trap: rows bucket by key range
    * (`keyCol div bucketWidth`), per-bucket counts cumulative-sum on the
    * TINY bucket table only, offsets broadcast back, and each row's seq =
    * bucket offset + within-bucket rank. The full-table window is
    * partitioned by bucket — parallel — and the only unpartitioned window
    * runs over |buckets| rows. This is how a 100 TB shard writer assigns
    * stable contiguous sample ids; `keyCol` must be unique (the order is
    * total). Skewed key ranges skew buckets — size `bucketWidth` off
    * [[keySkewProfile]] / [[equiDepthHistogram]] when keys are not
    * near-uniform. */
  def contiguousIds(df: DataFrame, keyCol: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be positive, got $bucketWidth")
    val b = df.select(col(keyCol), expr(s"$keyCol div $bucketWidth").as("bkt"))
    val counts = b.groupBy(col("bkt")).agg(count(lit(1)).as("c"))
    val cum = org.apache.spark.sql.expressions.Window.orderBy(col("bkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val offs = counts.withColumn("off", sum(col("c")).over(cum) - col("c")).drop("c")
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col(keyCol))
    b.join(broadcast(offs), "bkt")
      .select(col(keyCol), (col("off") + row_number().over(wb) - 1).as("seq"))
  }

  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                    path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }
}
