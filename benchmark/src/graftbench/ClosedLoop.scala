package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.graftbench.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.sources.Tables

/** One run of a closed-loop workload, as configured by `run.py`.
  *
  * A single client submits graft query keys one at a time through
  * `SparkEntry.queries(key)(spark, sfDir)` and times each execution from the
  * builder call to the end of a full `collect()`. After the timer stops, the
  * collected rows are checked against the key's committed oracle answer.
  * Set-up (session start, shared-intermediate builds, the untimed warm
  * pass) ends when the first timed execution starts. Timed passes repeat
  * until `seconds` have elapsed; the pass in flight completes.
  *
  * Usage: `ClosedLoop run <config.json>` or `ClosedLoop oracles <out.json>`.
  */
object ClosedLoop {

  final case class Config(
      workload: String, sfDir: String, answers: String, cores: Int,
      seconds: Double, trace: Boolean, launchMs: Double,
      sharedBuild: String, warmSfDir: String, passes: Seq[Seq[String]],
      singleTaskRows: Long,
      result: String, traceOut: String, countsFile: String)

  object Config {
    def load(path: String): Config = {
      val n = new ObjectMapper().readTree(new java.io.File(path))
      def s(k: String) = n.get(k).asText
      Config(s("workload"), s("sf_dir"), s("answers"), n.get("cores").asInt,
        n.get("seconds").asDouble, n.get("trace").asBoolean, n.get("launch_ms").asDouble,
        s("shared_build"), s("warm_sf_dir"),
        n.get("passes").elements().asScala.map(_.elements().asScala.map(_.asText).toSeq).toSeq,
        n.get("single_task_rows").asLong,
        s("result"), s("trace_out"), s("counts_file"))
    }
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "oracles" :: out :: Nil => dumpOracles(out)
    case "run" :: config :: Nil => run(Config.load(config))
    case _ =>
      System.err.println("usage: ClosedLoop run <config.json> | ClosedLoop oracles <out.json>")
      sys.exit(2)
  }

  /** Every query key with its DuckDB oracle SQL, for `make_answers.py`. */
  def dumpOracles(out: String): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    val sql = SparkEntry.oracleSql
    SparkEntry.queries.keys.toSeq.sorted.foreach(k => root.put(k, sql.getOrElse(k, "")))
    m.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(out), root)
  }

  private val MB = 1024.0 * 1024.0

  def run(c: Config): Unit = {
    val queries = SparkEntry.queries
    val answers = Answers.load(c.answers)
    val unknown = c.passes.flatten.distinct.filterNot(k => queries.contains(k) && answers.contains(k))
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] keys without a query or an answer: ${unknown.mkString(",")}")
      sys.exit(3)
    }
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val rec = new Recorder(c.trace)
    sc.addSparkListener(rec)
    if (c.trace) spark.listenerManager.register(rec)

    val epoch0 = System.currentTimeMillis().toDouble
    val nano0 = System.nanoTime()
    def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    var seq = 0
    var cachedB = 0L
    def execute(key: String, pass: Int, sfDir: String = c.sfDir): Exec = {
      seq += 1
      val id = seq.toString
      sc.setLocalProperty(Recorder.Prop, id)
      val (n0, c0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      val t0 = now
      var tb, t1 = t0
      var result: Option[(StructType, Array[Row])] = None
      val failure =
        try {
          val df = queries(key)(spark, sfDir)
          tb = now
          val rows = df.collect()
          t1 = now
          result = Some((df.schema, rows))
          None
        } catch { case NonFatal(e) => t1 = now; Some(s"failed: $e") }
      sc.setLocalProperty(Recorder.Prop, null)
      cachedB = math.max(cachedB, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      val error = failure.orElse(result.filter(_ => sfDir == c.sfDir).flatMap { case (schema, rows) =>
        Answers.render(schema, rows).mismatch(answers(key)).map("wrong answer: " + _)
      })
      error.foreach(m => System.err.println(s"[bench] $key (pass $pass): $m"))
      Exec(id, key, pass, t0, tb, t1,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0, CodeGenerator.compileTime - c0, error)
    }

    // ---- set-up ----
    sc.setLocalProperty(Recorder.Prop, "setup")
    val sharedT0 = System.nanoTime()
    if (c.sharedBuild == "orderItems") Tables.orderItems(spark, c.sfDir).count()
    val sharedBuildS = (System.nanoTime() - sharedT0) / 1e9
    // The warm pass compiles and JIT-compiles the workload's plans on a
    // smaller scale factor; its answers are not checked.
    val warm = if (c.warmSfDir.nonEmpty) c.passes.head.map(execute(_, 0, c.warmSfDir)) else Nil
    val timedPasses = if (c.warmSfDir.nonEmpty) c.passes.tail else c.passes

    // ---- timed loop ----
    val firstTimed = now
    val timed = mutable.ArrayBuffer.empty[Exec]
    var passes = 0
    while (passes < timedPasses.size &&
      (passes == 0 || now - firstTimed < c.seconds * 1e3)) {
      timedPasses(passes).foreach(k => timed += execute(k, passes + 1))
      passes += 1
    }
    Bus.drain(sc)

    // ---- end-to-end ----
    val setupS = (firstTimed - c.launchMs) / 1e3
    val timedS = timed.map(_.seconds).sum
    val okCount = timed.count(_.ok)
    val badWarm = warm.filterNot(_.ok).map(_.key)
    val shuffleB = timed.map(x => rec.countsOf(x.id).shuffleB).sum
    println(f"[bench] ${c.workload}: ${timed.size} timed executions in $passes pass(es), " +
      f"$timedS%.2f s timed of ${(timed.last.t1 - firstTimed) / 1e3}%.2f s in the loop, " +
      f"set-up $setupS%.2f s (shared builds $sharedBuildS%.2f s)")
    println("[bench] seconds by key: " + timed.groupBy(_.key).toSeq.sortBy(_._1)
      .map { case (k, xs) => k.takeWhile(_ != '_') + " " + xs.map(x => f"${x.seconds}%.3f").mkString("/") }
      .mkString(", "))
    // No latency percentile is reported: a run affords 21-27 executions of
    // keys whose costs differ by 10x, and on the cold workload a key's time
    // moves with JIT and first-use costs from run to run, so per-execution
    // quantiles spread 20-38% between runs where totals spread 5%.
    val endToEnd = Seq(
      ("throughput_qps", okCount / timedS, "1/s"),
      ("setup_s", setupS, "s"),
      ("answers_ok_frac", okCount.toDouble / timed.size, "frac"),
      ("shuffle_mb", shuffleB / MB / passes, "MB"),
      ("cached_mb", cachedB / MB, "MB"))

    // ---- exact counts that must repeat ----
    val drift = countDrift(c, timed.toSeq, rec)

    val metrics =
      if (!c.trace) endToEnd
      else perLayer(c, timed.toSeq, passes, rec, sharedBuildS, drift.size)
    metrics.foreach { case (n, v, u) => println(f"[bench]   $n%-32s $v%14.6f $u") }
    if (badWarm.nonEmpty) System.err.println(s"[bench] warm pass failures: ${badWarm.mkString(",")}")
    writeResult(c.result, correct = okCount == timed.size && badWarm.isEmpty,
      attempted = timed.size, failed = timed.size - okCount, metrics)
    spark.stop()
  }

  /** Jobs, tasks and shuffled records of a key are properties of its plan
    * and data, so they must repeat exactly: across the timed passes of a
    * run, and across runs that share a counts file. Shuffle bytes repeat only
    * to within [[ByteTolerance]]: a range-partitioned sort samples its
    * bounds with a seed derived from the RDD id, which moves rows between
    * compressed blocks. Returns the drifting keys, each printed by name with
    * the values seen. */
  def countDrift(c: Config, timed: Seq[Exec], rec: Recorder): Seq[String] = {
    def sig(x: Exec): Seq[Long] = {
      val k = rec.countsOf(x.id)
      Seq(k.jobs, k.tasks, k.readRecords + k.writeRecords, k.shuffleB)
    }
    val byKey = timed.groupBy(_.key).map { case (k, xs) => k -> xs.sortBy(_.pass).map(sig) }
    val file = new java.io.File(c.countsFile)
    val mapper = new ObjectMapper()
    val before: Map[String, Seq[Long]] =
      if (file.isFile) {
        val n = mapper.readTree(file)
        n.fieldNames().asScala.map(k => k -> n.get(k).elements().asScala.map(_.asLong).toSeq).toMap
      } else {
        val root = mapper.createObjectNode()
        byKey.toSeq.sortBy(_._1).foreach { case (k, sigs) =>
          val a = root.putArray(k); sigs.head.foreach(v => a.add(v))
        }
        file.getParentFile.mkdirs()
        mapper.writeValue(file, root)
        Map.empty
      }
    val drifting = byKey.toSeq.sortBy(_._1).flatMap { case (k, sigs) =>
      val seen = before.get(k).toSeq ++ sigs
      val exact = seen.map(_.take(3)).distinct
      val bytes = seen.map(_(3))
      val byteDrift = bytes.max > 0 && (bytes.max - bytes.min).toDouble / bytes.max > ByteTolerance
      if (exact.size > 1)
        println(s"[bench] count drift: $k (jobs, tasks, shuffled records) took " +
          exact.map(_.mkString("(", ", ", ")")).mkString(" and "))
      if (byteDrift)
        println(s"[bench] byte drift: $k shuffled ${bytes.min} to ${bytes.max} bytes")
      if (exact.size > 1 || byteDrift) Some(k) else None
    }
    if (drifting.isEmpty)
      println(s"[bench] counts repeat for ${byKey.size} keys" +
        (if (before.nonEmpty) " and match the earlier run" else ""))
    drifting
  }

  val ByteTolerance = 0.01

  def perLayer(c: Config, timed: Seq[Exec], passes: Int, rec: Recorder,
               sharedBuildS: Double, driftKeys: Int): Seq[(String, Double, String)] = {
    val per = 1.0 / passes
    val counts = timed.map(x => rec.countsOf(x.id))
    def sum(f: Counts => Long): Double = counts.map(f).sum.toDouble
    val wallS = timed.map(_.seconds).sum
    val stages = timed.map(x => x -> rec.stagesOf(x.id))
    val phases = timed.flatMap(x => rec.phasesWithin(math.floor(x.t0).toLong, math.ceil(x.t1).toLong))
    def phaseS(name: String) = phases.filter(_.name == name).map(p => p.end - p.start).sum / 1e3
    val buildJobs = timed.map(x => rec.jobsOf(x.id).count(j => j.start <= x.tb)).sum
    // widest stage of each execution: its largest task's share of the stage's task time
    val maxShares = stages.flatMap { case (_, ss) =>
      ss.filter(_.durationMs > 0).sortBy(-_.numTasks).headOption
        .map(s => s.maxTaskMs.toDouble / s.durationMs)
    }
    val singles = stages.flatMap { case (x, ss) => ss.filter(_.numTasks == 1).map(x -> _) }
    val flagged = singles.filter(_._2.rows > c.singleTaskRows)
    flagged.foreach { case (x, s) =>
      println(s"[bench] FLAG single-task stage: ${x.key} stage ${s.id} ran one task over " +
        s"${s.rows} rows (limit ${c.singleTaskRows})")
    }
    val self = new Array[Double](Layers.names.size)
    timed.foreach(x => Layers.selfTimes(x, rec).zipWithIndex.foreach { case (v, i) => self(i) += v })
    println(f"[bench] self time per pass by layer (of ${wallS * per}%.3f s timed wall):")
    Layers.names.zip(self).foreach { case (n, v) =>
      println(f"[bench]   $n%-14s ${v * per}%9.3f s ${100 * v / wallS}%5.1f%%")
    }
    val writeT0 = System.nanoTime()
    writeTrace(c.traceOut, timed, rec)
    val recordS = rec.traceSeconds + (System.nanoTime() - writeT0) / 1e9
    Seq(
      ("entry.build_s", timed.map(x => x.tb - x.t0).sum / 1e3 * per, "s"),
      ("entry.build_jobs", buildJobs * per, "count"),
      ("plans.analysis_s", phaseS("analysis") * per, "s"),
      ("plans.optimizer_s", phaseS("optimization") * per, "s"),
      ("plans.planning_s", phaseS("planning") * per, "s"),
      ("plans.codegen_compiles", timed.map(_.compiles).sum * per, "count"),
      ("plans.codegen_compile_s", timed.map(_.compileNs).sum / 1e9 * per, "s"),
      ("spark.sched.jobs", sum(_.jobs) * per, "count"),
      ("spark.sched.stages", sum(_.stages) * per, "count"),
      ("spark.sched.tasks", sum(_.tasks) * per, "count"),
      ("spark.sched.busy_frac", sum(_.runMs) / 1e3 / (wallS * c.cores), "frac"),
      ("spark.sched.task_overhead_s", (sum(_.durationMs) - sum(_.runMs)) / 1e3 * per, "s"),
      ("operators.run_s", sum(_.runMs) / 1e3 * per, "s"),
      ("operators.cpu_s", sum(_.cpuNs) / 1e9 * per, "s"),
      ("operators.gc_s", sum(_.gcMs) / 1e3 * per, "s"),
      ("spark.shuffle.read_mb", sum(_.readB) / MB * per, "MB"),
      ("spark.shuffle.write_mb", sum(_.writeB) / MB * per, "MB"),
      ("spark.shuffle.write_s", sum(_.writeNs) / 1e9 * per, "s"),
      ("spark.shuffle.fetch_wait_s", sum(_.fetchMs) / 1e3 * per, "s"),
      ("spark.shuffle.spill_mb", sum(_.spillB) / MB * per, "MB"),
      ("spark.stage.max_task_share", if (maxShares.isEmpty) 0.0 else maxShares.sum / maxShares.size, "frac"),
      ("spark.stage.single_task_stages", singles.size * per, "count"),
      ("spark.stage.flagged_single_task", flagged.size * per, "count"),
      ("sources.input_mb", sum(_.inputB) / MB * per, "MB"),
      ("sources.records_read", sum(_.records) * per, "count"),
      ("sources.shared_build_s", sharedBuildS, "s"),
      ("repeat.drift_keys", driftKeys.toDouble, "count"),
      // tracing overhead: trace.timed_s less the timed seconds per pass of
      // an untraced run (executions per pass / throughput_qps)
      ("trace.timed_s", wallS * per, "s"),
      ("trace.record_s", recordS, "s")) ++
      Layers.names.zip(self).map { case (n, v) => (s"self.${n}_s", v * per, "s") }
  }

  /** The spans of every timed execution, one JSON object per line. */
  def writeTrace(path: String, timed: Seq[Exec], rec: Recorder): Unit = {
    val m = new ObjectMapper()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try timed.foreach { x =>
      val n = m.createObjectNode()
      n.put("exec", x.id).put("key", x.key).put("pass", x.pass)
        .put("start_ms", x.t0).put("built_ms", x.tb).put("end_ms", x.t1)
        .put("ok", x.ok).put("codegen_compile_ns", x.compileNs)
      val ph = n.putArray("phases")
      rec.phasesWithin(math.floor(x.t0).toLong, math.ceil(x.t1).toLong).foreach { p =>
        ph.addObject().put("name", p.name).put("start_ms", p.start).put("end_ms", p.end)
      }
      val js = n.putArray("jobs")
      rec.jobsOf(x.id).foreach(j => js.addObject().put("id", j.id).put("start_ms", j.start).put("end_ms", j.end))
      val ss = n.putArray("stages")
      rec.stagesOf(x.id).foreach { s =>
        ss.addObject().put("id", s.id).put("attempt", s.attempt).put("start_ms", s.start)
          .put("end_ms", s.end).put("tasks", s.numTasks).put("task_ms", s.durationMs)
          .put("max_task_ms", s.maxTaskMs).put("run_ms", s.runMs).put("rows", s.rows)
      }
      w.println(m.writeValueAsString(n))
    } finally w.close()
  }

  def writeResult(path: String, correct: Boolean, attempted: Int, failed: Int,
                  metrics: Seq[(String, Double, String)]): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("correct", correct).put("attempted", attempted).put("failed", failed)
    val ms = root.putObject("metrics")
    metrics.foreach { case (n, v, u) => ms.putObject(n).put("value", v).put("unit", u) }
    m.writeValue(new java.io.File(path), root)
  }
}
