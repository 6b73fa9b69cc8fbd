package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One shared intermediate, built at most once per (session, sfDir) and
  * read by every query that needs it — the Spark form of oamap's shared
  * column cache (`oamap/generator.py::Cache`, see SURVEY.md). Callers read
  * it as `name(spark, sfDir)`.
  *
  * The value is held in a [[Memo]] of 8 (session, sfDir) entries; an
  * evicted or cleared entry has every frame in it unpersisted. Declare
  * through [[SharedRegistry]] (the app-wide one is the companion object),
  * which also lists the declaration for
  * `SparkEntry.warmSharedIntermediates`. The memo assumes the tables read
  * are immutable for the app's life; after an in-place rewrite call
  * [[clear]].
  */
private[graft] final class Shared[T] private[sources] (
    val name: String,
    build: (SparkSession, String) => T,
    frames: T => Seq[DataFrame]) {

  private val memo = new Memo[T](8, v => frames(v).foreach(_.unpersist()))

  def apply(spark: SparkSession, sfDir: String): T =
    memo.getOrElseUpdate((spark, sfDir))(build(spark, sfDir))

  /** Build the value for (spark, sfDir) if needed and run one action on
    * each of its frames, so later reads find them materialized. */
  def warm(spark: SparkSession, sfDir: String): Unit =
    frames(apply(spark, sfDir)).foreach(_.count())

  def clear(): Unit = memo.clear()
}

/** Declared [[Shared]] intermediates, in declaration order, under unique
  * names. A second declaration of a name fails when it is made. */
private[graft] class SharedRegistry {
  private val declared = scala.collection.mutable.LinkedHashMap.empty[String, Shared[_]]

  /** A frame persisted MEMORY_AND_DISK (spill-backed, so it degrades
    * rather than failing when it outgrows executor memory). */
  def apply(name: String)(build: (SparkSession, String) => DataFrame): Shared[DataFrame] =
    register(new Shared[DataFrame](name,
      (s, d) => build(s, d).persist(StorageLevel.MEMORY_AND_DISK), df => Seq(df)))

  /** Two frames from one build whose plans already read checkpoint
    * blocks: both legs are memoized, evicted and warmed together, so they
    * always come from the same build, and nothing is persisted on top. */
  def checkpointedPair(name: String)(
      build: (SparkSession, String) => (DataFrame, DataFrame)): Shared[(DataFrame, DataFrame)] =
    register(new Shared[(DataFrame, DataFrame)](name, build, p => Seq(p._1, p._2)))

  private def register[T](sh: Shared[T]): Shared[T] = declared.synchronized {
    require(!declared.contains(sh.name), s"shared intermediate '${sh.name}' is declared twice")
    declared(sh.name) = sh
    sh
  }

  /** Every declaration so far, in order. Declarations register as their
    * declaring object initializes, so a caller that needs the complete set
    * passes the declaring objects: evaluating the arguments loads them. */
  def all(declaringObjects: AnyRef*): Seq[Shared[_]] =
    declared.synchronized(declared.values.toList)
}

/** The app-wide registry. */
private[graft] object Shared extends SharedRegistry
