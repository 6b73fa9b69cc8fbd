package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** What [[Shared]] and its [[Memo]] promise: a frame built once per
  * (session, sfDir) and persisted, at most 8 contexts held with the
  * evicted frame unpersisted, unique names checked at declaration, and a
  * checkpointed pair that is built, held and dropped as one entry. Fresh
  * registries keep these fixtures out of the app-wide warm list. */
class SharedSpec extends SparkSpec {

  /** Each "sfDir" is a row count, so every context has its own plan. */
  private def counted(reg: SharedRegistry, name: String): (Shared[DataFrame], () => Int) = {
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val sh = reg(name) { (s: SparkSession, d: String) =>
      builds.incrementAndGet(); s.range(d.toLong).toDF("id")
    }
    (sh, () => builds.get)
  }

  test("a frame is built once per context, persisted, and evicted past 8 contexts with its storage released") {
    val (sh, builds) = counted(new SharedRegistry, "ranges")
    val dirs = (1 to 9).map(i => (7000000 + i).toString)
    val first = sh(spark, dirs.head)
    assert(first.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(first.count() == 7000001L)
    assert(sh(spark, dirs.head) eq first, "a repeat read must be the memoized frame")
    dirs.tail.take(7).foreach(sh(spark, _))
    assert(builds() == 8)
    assert(first.storageLevel == StorageLevel.MEMORY_AND_DISK, "8 contexts fit")
    sh(spark, dirs.last)
    assert(first.storageLevel == StorageLevel.NONE, "the oldest frame must be unpersisted")
    assert(sh(spark, dirs.last).storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(builds() == 9)
    assert(!(sh(spark, dirs.head) eq first), "an evicted context is rebuilt")
    assert(builds() == 10)
    sh.clear()
    dirs.foreach(d => assert(spark.range(d.toLong).toDF("id").storageLevel == StorageLevel.NONE))
  }

  test("a duplicate name fails when it is declared") {
    val reg = new SharedRegistry
    counted(reg, "dup")
    val e = intercept[IllegalArgumentException](counted(reg, "dup"))
    assert(e.getMessage.contains("'dup' is declared twice"))
    assert(reg.all().map(_.name) == Seq("dup"))
    // the app-wide registry; passing Tables loads it, declaring orderItems
    assert(Shared.all(Tables).count(_.name == "orderItems") == 1)
    intercept[IllegalArgumentException] {
      Shared("orderItems")((s: SparkSession, _: String) => s.range(1).toDF("id"))
    }
  }

  test("a checkpointed pair is built once for both legs, not persisted, and dropped together") {
    val reg = new SharedRegistry
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val pair = reg.checkpointedPair("pair") { (s: SparkSession, d: String) =>
      builds.incrementAndGet()
      (s.range(d.toLong).toDF("a"), s.range(d.toLong).toDF("b"))
    }
    val corpus = pair(spark, "5")._2
    val merges = pair(spark, "5")._1
    assert(builds.get == 1)
    assert(merges.storageLevel == StorageLevel.NONE && corpus.storageLevel == StorageLevel.NONE)
    (1 to 8).foreach(i => pair(spark, (100 + i).toString))
    assert(builds.get == 9)
    val (m2, c2) = pair(spark, "5")
    assert(builds.get == 10, "eviction drops both legs; one build restores both")
    assert(!(m2 eq merges) && !(c2 eq corpus))
    assert(reg.all().map(_.name) == Seq("pair"))
  }
}
