package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Testdata table access (TESTDATA.md / FIXTURES.md).
  *
  * Reads are plain parquet scans so Spark's vectorized reader, predicate
  * pushdown, column pruning and (for nested outputs) nested-schema pruning
  * all apply — the Spark-native equivalent of oamap's lazy per-column
  * backend fetch (`oamap/generator.py::Cache`, public repo — see SURVEY.md
  * provenance notice).
  */
object Tables {

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // Historically events.ts was parquet TIMESTAMP(NANOS), which Spark's
      // vectorized reader rejects (PARQUET_TYPE_ILLEGAL) — read as raw
      // nanos and rebuild. Newer testdata generations carry TIMESTAMP
      // (MICROS, isAdjustedToUTC=false) which Spark infers as
      // TIMESTAMP_NTZ. Normalize both to session TimestampType so every
      // downstream query (and the DuckDB oracle, which reads the same
      // naive micros) sees identical instants — session tz is pinned UTC.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventsTs(spark.read.parquet(s"$sfDir/$name.parquet"))
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }

  /** Normalize the events `ts` column to TimestampType regardless of the
    * physical parquet layout: BIGINT = legacy nanos-as-long (rebuild with
    * integer `DIV` — 2024-epoch nanos exceed double's 2^53 exact range;
    * the data is µs-precision so this is lossless); TIMESTAMP_NTZ = naive
    * micros (cast reinterprets in the session tz, pinned UTC). Shared by
    * the batch reader above and the file-source streaming path. */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** lineitem regrouped as one row per order with a sorted array-of-struct
    * `items` column — the canonical "List(Record)" nested fixture used by
    * the §2A operator queries (events-containing-particles shape).
    *
    * Element order inside `items` is made deterministic by sorting on the
    * full element struct ((l_orderkey, l_linenumber) alone is not unique in
    * the testdata). One shuffle on l_orderkey; at 100 TB this is the same
    * shuffle any per-order pipeline needs and partitions by a dense,
    * well-distributed key.
    *
    * A [[Shared]] intermediate, persisted and memoized per (session,
    * sfDir) — nine §2A queries derive from this one frame, so it's the
    * materialized-view case: pay the shuffle once per session, not per
    * query.
    */
  def orderItems(spark: SparkSession, sfDir: String): DataFrame =
    orderItemsShared(spark, sfDir)

  private val orderItemsShared = Shared("orderItems") { (spark, sfDir) =>
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber").as("ln"),
        col("l_quantity").as("qty"),
        col("l_extendedprice").as("price"),
        col("l_discount").as("disc")))).as("items"))
  }
}
