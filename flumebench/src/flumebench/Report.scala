package flumebench

import scala.collection.mutable

/** A workload: set-up, one closed-loop cycle, and final checks. */
trait Workload {
  def setup(): Unit
  def cycle(c: Int): Unit
  /** Final checks and teardown. */
  def finish(): Unit
  /** Bytes on disk under the log and the durable views per live log row. */
  def storedBytesPerRow: Double
  def logFiles: Long
  /** Op kinds whose rows per second is the workload's throughput. */
  def rateKinds: Set[String]
  def minCycles: Int = 1
  /** Known defects the run probed: (op kind, error class). */
  def defects: Seq[(String, String)] = Nil
}

final case class Metric(name: String, value: Double, unit: String)

/** Turns a finished run into metrics: end-to-end ones from the untraced
  * cycles, per-layer ones from the traced cycles' listener records. */
final class Report(run: Run, w: Workload, cpus: Int) {
  private val ops = run.ops.toSeq
  private def secs(xs: Seq[Double]) = xs.map(_ / 1000.0)

  /** Median over cycles of the mean latency of the cycle's ops of `role`:
    * every op type of the role weighs in, and one slow op in a run moves
    * the figure less than it would a pooled median of few samples. */
  private def perCycle(role: String): Double = {
    val means = ops.filter(o => o.role == role && o.cycle > 0 && !o.traced).groupBy(_.cycle).values
      .map(os => os.map(_.ms).sum / os.size).toSeq
    med(means)
  }
  /** The median, or NaN (an unusable result) when there are no samples. */
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)

  def endToEnd: Seq[Metric] = {
    val rate = ops.filter(o => o.cycle > 0 && !o.traced && w.rateKinds(o.kind))
    Seq(
      Metric("setup_s", med(run.setups.toSeq), "s"),
      Metric("cycle_s_p50", med(secs(run.cycles.filter(!_.traced).map(_.ms).toSeq)), "s"),
      Metric("write_ms", perCycle("write"), "ms"),
      Metric("read_ms", perCycle("read"), "ms"),
      Metric("rows_per_s", rate.map(_.rows).sum * 1000.0 / rate.map(_.ms).sum, "rows/s"),
      Metric("stored_bytes_per_row", w.storedBytesPerRow, "B/row"))
  }

  /** Latency summary per op kind over the untraced cycles: count, median
    * and tail (percentile, value). */
  def kinds: Seq[(String, Int, Double, Option[(Double, Double)])] =
    ops.filter(o => o.cycle > 0 && !o.traced).groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      val ms = os.map(_.ms)
      (k, ms.size, Stats.median(ms), Stats.tail(ms))
    }

  // ---- the traced cycles ------------------------------------------------

  private val t = run.tracer
  private lazy val jobs = t.synchronized(t.jobs.toSeq)
  private lazy val tasksByJob: Map[Int, Seq[TaskRec]] = {
    val stageJob = jobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
    t.synchronized(t.tasks.toSeq).groupBy(tk => stageJob.getOrElse(tk.stage, -1))
  }
  private lazy val traced = ops.filter(_.traced)
  private val slack = 2.0 // ms: Spark stamps events with whole milliseconds

  /** Jobs of an op: those carrying its id, and those with no op id (the
    * stream thread's) that started inside its window — only one op is in
    * flight at a time. */
  private lazy val opJobs: Map[Int, Seq[JobRec]] = traced.map { o =>
    o.id -> jobs.filter(j => j.prop.contains(o.id.toString) ||
      (j.prop.isEmpty && j.start >= o.start - slack && j.start <= o.end + slack))
  }.toMap

  /** Splits the part of an op's window that some job covers among the
    * jobs' keys: each instant goes to the earliest-started job running
    * then, so jobs that overlap (a broadcast inside a query) are counted
    * once and the parts sum to at most the op's wall time. */
  private def exclusive(o: Op, js: Seq[JobRec], key: JobRec => String): Map[String, Double] = {
    val iv = js.map(j => (math.max(j.start.toDouble, o.start), math.min(j.end.toDouble, o.end), j))
      .filter(x => x._2 > x._1)
    val cuts = iv.flatMap(x => Seq(x._1, x._2)).distinct.sorted
    val out = mutable.HashMap.empty[String, Double]
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val running = iv.filter(x => x._1 <= a && x._2 >= b)
      if (running.nonEmpty) {
        val k = key(running.minBy(x => (x._3.start, x._3.id))._3)
        out(k) = out.getOrElse(k, 0.0) + (b - a)
      }
    }
    out.toMap
  }

  private final case class OpTrace(op: Op, jobs: Int, tasks: Int, busyMs: Double, driverMs: Double,
      planMs: Double, shuffle: Double, spill: Double, records: Double,
      layerMs: Map[String, Double], viewMs: Map[String, Double], batches: Seq[BatchRec])

  private lazy val opTraces: Seq[OpTrace] = {
    val plans = t.synchronized(t.plans.toSeq)
    val batches = t.synchronized(t.batches.toSeq)
    traced.map { o =>
      val js = opJobs(o.id)
      val tks = js.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
      val layerMs = exclusive(o, js, _.layer)
      OpTrace(o, js.size, tks.size,
        tks.map(tk => (tk.finish - tk.launch).toDouble).sum,
        o.ms - layerMs.values.sum,
        plans.filter(p => p.start >= o.start - slack && p.start <= o.end + slack).map(_.ms.toDouble).sum,
        tks.map(_.shuffleWrite.toDouble).sum, tks.map(_.spill.toDouble).sum, tks.map(_.recordsRead.toDouble).sum,
        layerMs,
        exclusive(o, js, j => if (j.layer == "views") j.view else "-"),
        batches.filter(b => b.inputRows > 0 && b.start >= o.start - slack && b.start <= o.end + slack))
    }
  }

  def perLayer: Seq[Metric] = {
    val out = mutable.ArrayBuffer.empty[Metric]
    for (role <- Seq("write", "read")) {
      val os = opTraces.filter(_.op.role == role)
      def m(name: String, unit: String)(f: OpTrace => Double): Unit =
        out += Metric(s"$role.$name", med(os.map(f)), unit)
      m("jobs", "count")(_.jobs.toDouble)
      m("tasks", "count")(_.tasks.toDouble)
      m("busy_ms", "ms")(_.busyMs)
      m("driver_ms", "ms")(_.driverMs)
      m("plan_ms", "ms")(_.planMs)
      m("slot_util", "share")(x => x.busyMs / (cpus * x.op.ms))
      m("shuffle_bytes", "B")(_.shuffle)
      m("spill_bytes", "B")(_.spill)
      m("records_per_row", "count")(x => x.records / math.max(1L, x.op.rows))
    }
    val writes = opTraces.filter(_.op.role == "write")
    val wall = writes.map(_.op.ms).sum
    def pct(x: Double) = if (wall > 0) 100.0 * x / wall else 0.0
    Tracer.Layers.foreach(l => out += Metric(s"write.pct.$l", pct(writes.map(_.layerMs.getOrElse(l, 0.0)).sum), "%"))
    out += Metric("write.pct.driver", pct(writes.map(_.driverMs).sum), "%")
    Seq("idx", "ht", "sum", "bloom", "search", "sigtable").foreach(v =>
      out += Metric(s"write.pct.view.$v", pct(writes.map(_.viewMs.getOrElse(v, 0.0)).sum), "%"))
    val bs = writes.flatMap(_.batches)
    out += Metric("streaming.batches_per_write", if (writes.isEmpty) 0.0 else bs.size.toDouble / writes.size, "count")
    out += Metric("streaming.trigger_pct", pct(bs.map(_.triggerMs.toDouble).sum), "%")
    out += Metric("streaming.overhead_pct", pct(bs.map(b => (b.triggerMs - b.addBatchMs).toDouble).sum), "%")
    // wait: from the raw append's return to the first trigger that sees it
    val waits = writes.flatMap { x =>
      val ret = run.spans.find(s => s.op == x.op.id && s.name == "core.log.append").map(_.end)
      (ret, x.batches.headOption) match {
        case (Some(r), Some(b)) => Some(math.max(0.0, b.start - r))
        case _ => None
      }
    }
    out += Metric("streaming.wait_pct", pct(waits.sum), "%")
    out += Metric("core.log.files", w.logFiles.toDouble, "count")
    val (on, off) = run.cycles.toSeq.partition(_.traced)
    out += Metric("trace.overhead_share",
      if (on.isEmpty || off.isEmpty) 0.0 else med(on.map(_.ms)) / med(off.map(_.ms)) - 1.0, "share")
    out += Metric("known_defect.retract_inmem_failures", w.defects.count(_._1 == "retract_inmem").toDouble, "count")
    out.toSeq
  }

  /** Reconciliation of the traced run: each op's stamped child spans fit
    * inside its wall time, no job is parented to two ops, every job seen
    * ended, and within one listener window job ids are consecutive, so
    * the listener missed none. Returns the problems found. */
  def reconcile(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val tol = (o: Op) => slack + 0.01 * o.ms
    opTraces.foreach { x =>
      val o = x.op
      val spanSum = run.spans.filter(_.op == o.id).map(_.ms).sum
      if (spanSum > o.ms + tol(o)) bad += f"op ${o.id} ${o.kind}: child spans ${spanSum}%.1f ms > wall ${o.ms}%.1f ms"
    }
    val parented = opJobs.values.flatten.toSeq.map(_.id)
    if (parented.distinct.size != parented.size) bad += "a job is parented to two ops"
    val open = jobs.filter(_.end < 0)
    if (open.nonEmpty) bad += s"${open.size} jobs never ended"
    val all = t.synchronized(t.windows.toSeq)
    all.groupBy(_._2).foreach { case (win, ids) =>
      val s = ids.map(_._1).sorted
      if (s.nonEmpty && s.last - s.head + 1 != s.size) bad += s"window $win: ${s.size} jobs over ids ${s.head}..${s.last}"
    }
    bad.toSeq
  }

  def jobCount: Int = jobs.size
  def parentedJobCount: Int = opJobs.values.map(_.size).sum

  /** Spans as JSON lines: each traced op, its stamped children, and its
    * Spark jobs by layer. */
  def spanLines: Seq[String] = opTraces.flatMap { x =>
    val o = x.op
    def line(name: String, s: Double, e: Double, parent: Option[Int]) = Json.obj(Seq(
      "name" -> Json.str(name), "start" -> Json.num(s), "end" -> Json.num(e),
      "parent" -> parent.map(_.toString).getOrElse("null"), "op" -> o.id.toString))
    line(s"op.${o.kind}", o.start, o.end, None) +:
      (run.spans.filter(_.op == o.id).map(s => line(s.name, s.start, s.end, Some(o.id))) ++
        opJobs(o.id).map(j => line(s"job.${j.layer}" + (if (j.layer == "views") s".${j.view}" else ""),
          j.start.toDouble, j.end.toDouble, Some(o.id))))
  }
}
