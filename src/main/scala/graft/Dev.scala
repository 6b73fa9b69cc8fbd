package graft
import org.apache.spark.sql.SparkSession

/** Developer tool over [[SparkEntry.queries]], on a session shaped like
  * [[Bench]]'s (`local[$SPARK_GRAFT_CPUS]`, default 32, with as many
  * shuffle partitions):
  *
  *   runMain graft.Dev time <sfDir> <query>...
  *   runMain graft.Dev explain <sfDir> [<query>...]   (no names = all)
  *
  * `time` runs each query twice with `count()`, Bench's timing mode: cold
  * (first build+run in this session — JIT, file index and any
  * memoized-intermediate builds) and warm (the repeat — the steady-state
  * cost the suite's min-of-two approximates), because attribution
  * disputes are usually exactly this split (e.g. c95's 16 BPE rounds:
  * ~0.55 s/round cold, 3.5 s suite-min with warm checkpoint reuse). Each
  * run also reports its shuffle KB read/written and its job count.
  * `explain` prints each query's formatted physical plan.
  */
object Dev {
  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: names if names.nonEmpty =>
      withSession(time(_, sfDir, names))
    case "explain" :: sfDir :: names =>
      withSession(explain(_, sfDir,
        if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted))
    case _ =>
      System.err.println(
        "usage: graft.Dev time <sfDir> <query>... | graft.Dev explain <sfDir> [<query>...]")
      sys.exit(2)
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark) finally spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Same shuffle attribution as Bench: per-run byte deltas are the
    // host-noise-immune signal, and the jobs delta makes per-round action
    // counts observable for the iterative class (c95/c75).
    val acc = new Bench.TaskMetricsAcc
    spark.sparkContext.addSparkListener(acc)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def run(name: String): (Long, Double, Long, Long, Long) = {
      acc.mark(); val j0 = jobs.get()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val (r, w, _, _) = acc.delta()
      (n, sec, r >> 10, w >> 10, jobs.get() - j0)
    }
    names.foreach { name =>
      val (n, cold, cr, cw, cj) = run(name)
      val (n2, warm, wr, ww, wj) = run(name)
      require(n == n2, s"$name row count changed between runs: $n vs $n2")
      println(f"[dev time] $name cold=$cold%.3f s warm=$warm%.3f s ($n rows) " +
        f"cold_kb_rw=$cr,$cw warm_kb_rw=$wr,$ww jobs=$cj%d/$wj%d")
    }
  }

  private def explain(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
}
