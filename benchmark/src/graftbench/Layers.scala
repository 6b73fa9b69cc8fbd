package graftbench

/** One timed execution: wall-clock instants in epoch milliseconds for the
  * builder call (`t0`), the end of the builder call (`tb`) and the end of
  * `collect()` (`t1`), plus the Janino compile time it caused. */
final case class Exec(
    id: String, key: String, pass: Int,
    t0: Double, tb: Double, t1: Double,
    compiles: Long, compileNs: Long,
    error: Option[String]) {
  def seconds: Double = (t1 - t0) / 1e3
  def ok: Boolean = error.isEmpty
}

/** Splits an execution's wall time into non-overlapping layer self times.
  *
  * Each instant of the execution goes to the innermost span covering it:
  * a running stage, else a job (scheduling between stages), else a planning
  * phase, else the builder call (`entry`), else the driver side of the
  * action, which stays unattributed. Stage time is split between operators,
  * shuffle I/O and scheduling in the proportions of its tasks' time (run
  * time less shuffle write and fetch wait; shuffle write and fetch wait;
  * duration less run time). Janino compiles run on the driver outside any
  * phase, so the compile time the execution caused moves from the
  * unattributed remainder to `plans`.
  */
object Layers {
  val names: Seq[String] = Seq("entry", "plans", "sched", "operators", "shuffle", "unattributed")

  def selfTimes(x: Exec, rec: Recorder): Array[Double] = {
    val out = new Array[Double](names.size)
    val (entry, plans, sched, ops, shuffle, rest) = (0, 1, 2, 3, 4, 5)
    def clip(a: Double, b: Double): Option[(Double, Double)] = {
      val (lo, hi) = (math.max(a, x.t0), math.min(b, x.t1))
      if (hi > lo) Some((lo, hi)) else None
    }
    val stages = rec.stagesOf(x.id).filter(_.end >= 0)
      .flatMap(s => clip(s.start, s.end).map(iv => (iv, s.mix)))
    val jobs = rec.jobsOf(x.id).flatMap(j => clip(j.start, if (j.end >= 0) j.end else x.t1))
    val phases = rec.phasesWithin(math.floor(x.t0).toLong, math.ceil(x.t1).toLong)
      .flatMap(p => clip(p.start, p.end))
    val cuts = (Seq(x.t0, x.t1, x.tb) ++ (stages.map(_._1) ++ jobs ++ phases)
      .flatMap { case (a, b) => Seq(a, b) }).filter(t => t >= x.t0 && t <= x.t1).distinct.sorted
    def covers(iv: (Double, Double), t: Double) = iv._1 <= t && t < iv._2
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = (a + b) / 2
        val len = (b - a) / 1e3
        val running = stages.filter(s => covers(s._1, mid))
        if (running.nonEmpty) running.foreach { case (_, (o, sh, sc)) =>
          val w = len / running.size
          out(ops) += w * o; out(shuffle) += w * sh; out(sched) += w * sc
        }
        else if (jobs.exists(covers(_, mid))) out(sched) += len
        else if (phases.exists(covers(_, mid))) out(plans) += len
        else if (mid < x.tb) out(entry) += len
        else out(rest) += len
      case _ =>
    }
    val compile = math.min(x.compileNs / 1e9, out(rest))
    out(rest) -= compile
    out(plans) += compile
    out
  }
}
