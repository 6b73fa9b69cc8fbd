package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bounded memoizer for per-session values keyed by (session, string):
  * the shared per-(session, sfDir) intermediates ([[Shared]]) and the
  * plan-keyed advisor caches (Pipeline.bloomAdvisor, CountMin.joinOrderAdvisor).
  *
  * An unbounded ConcurrentHashMap would pin cached blocks and SparkSession
  * references for the life of the JVM; this LRU evicts beyond `maxEntries`
  * and passes the evicted value to `release` (for frames: unpersist) so its
  * storage is released. Sized for the realistic working set (a handful of
  * (session, scale-factor) combinations), not as a general cache.
  */
private[graft] final class Memo[V](maxEntries: Int, release: V => Unit) {
  private type K = (SparkSession, String)

  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      if (size() > maxEntries) { releaseQuietly(e.getValue); true } else false
  }

  private def releaseQuietly(v: V): Unit =
    try release(v) catch { case _: Exception => () }

  def getOrElseUpdate(k: K)(f: => V): V = m.synchronized {
    val v = m.get(k)
    if (v != null) v
    else {
      val nv = f
      m.put(k, nv)
      nv
    }
  }

  /** Explicit invalidation hook: release and drop every cached entry.
    * Callers whose underlying data changed in-place (same path, rewritten
    * files — the one case a plan-derived key cannot see) must call this
    * before reusing a memoized builder. */
  def clear(): Unit = m.synchronized {
    m.values.forEach(v => releaseQuietly(v))
    m.clear()
  }
}

private[graft] object Memo {
  /** A memo of persisted frames: evicted and cleared entries are unpersisted. */
  def apply(maxEntries: Int): Memo[DataFrame] =
    new Memo[DataFrame](maxEntries, _.unpersist())

  /** md5 hex of a string — the one shared digest helper for memo keys
    * (one definition, so a keying fix can never apply to half the
    * call sites). */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Collision-resistant key component for a DataFrame's plan. Built from
    * the ANALYZED plan — the unresolved `logical` plan's toString omits
    * exactly the identity that matters (a raw parquet read stringifies to
    * a constant `UnresolvedDataSource … paths: 1 provided` with no path,
    * and toString truncates projections at `maxToStringFields`), so
    * hashing it collides across tables and scale factors. The key
    * concatenates (a) the analyzed canonicalized plan's semanticHash —
    * resolved structure, (b) the full output schema JSON — untruncated
    * column identity, and (c) every file-relation's root paths collected
    * from the plan — the table identity toString drops; the md5 of that
    * is 128-bit. The key still identifies the PLAN, not the data:
    * memoized entries assume the scanned input is immutable for the
    * app's life (the at-rest-layout write-once convention); in-place
    * rewrites require [[Memo#clear]]. */
  def planKey(df: DataFrame): String = {
    val analyzed = df.queryExecution.analyzed
    val paths = analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }.mkString(";")
    md5Hex(s"${analyzed.canonicalized.semanticHash()}|${analyzed.schema.json}|$paths")
  }
}
