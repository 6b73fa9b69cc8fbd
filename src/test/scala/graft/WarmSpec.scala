package graft

/** `SparkEntry.warmSharedIntermediates`, the untimed pass Bench runs before
  * timing: every shared intermediate and one-time-build query must warm
  * without failure (a stale query name or a build that throws shows up in the
  * returned list), and a second pass must find everything memoized. */
class WarmSpec extends SparkSpec {

  // The warm pass persists and materializes frames in the session every
  // suite shares. Reading sf0.001 (the tables SparkEntry.entry's smoke
  // query reads) through a private symlink keys those caches by other
  // paths, so the sf0.001 plans other suites assert on never pick them up.
  private lazy val sf = {
    val tables = java.nio.file.Paths.get(
      new java.net.URI(SparkEntry.entry(spark).inputFiles.head)).getParent
    assert(tables.getFileName.toString == "sf0.001")
    val link = tempDir("warm-sf").resolve("sf0.001")
    java.nio.file.Files.createSymbolicLink(link, tables)
    link.toString
  }

  test("the warm pass fails nothing, and a second pass persists nothing new") {
    val t0 = System.nanoTime()
    assert(SparkEntry.warmSharedIntermediates(spark, sf) == Seq.empty)
    info(f"first warm pass at sf0.001: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(SparkEntry.warmSharedIntermediates(spark, sf) == Seq.empty)
    val added = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !persisted(id) }
    assert(added.isEmpty, "a shared intermediate or one-time build stopped memoizing: " +
      added.values.map(_.toString).mkString("; "))
  }

  test("both k=3 BPE legs of one context are the halves of one chain build") {
    EntryShared.bpeK3.clear()
    val corpus = EntryShared.bpeK3Corpus(spark, sf)
    val merges = EntryShared.bpeK3Merges(spark, sf)
    val (m, c) = EntryShared.bpeK3(spark, sf)
    assert((m eq merges) && (c eq corpus))
    assert(merges.count() == 3L)
  }
}
