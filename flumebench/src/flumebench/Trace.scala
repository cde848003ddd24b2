package flumebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One timed call into the engine. Times are epoch milliseconds with a
  * fractional part, taken from one clock, so they compare directly with
  * the timestamps Spark puts on its listener events. */
final case class Op(id: Int, kind: String, role: String, cycle: Int,
    start: Double, end: Double, rows: Long, traced: Boolean) {
  def ms: Double = end - start
}

/** A child interval of an op: a layer's share measured from outside. */
final case class Span(name: String, start: Double, end: Double, op: Int) {
  def ms: Double = end - start
}

object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** What the engine's layers did during one op, read from Spark's public
  * listeners. */
final case class JobRec(id: Int, start: Long, var end: Long, frames: Seq[String],
    stages: Seq[Int], prop: Option[String], window: Int) {
  def layer: String = Tracer.layerOf(frames)
  def view: String = Tracer.viewOf(frames)
}
final case class TaskRec(stage: Int, launch: Long, finish: Long, recordsRead: Long,
    shuffleWrite: Long, spill: Long)
final case class PlanRec(start: Long, ms: Long)
final case class BatchRec(start: Long, inputRows: Long, triggerMs: Long, addBatchMs: Long)

/** The public Spark listeners a traced run attaches: jobs (with the
  * layer their call site lies in), tasks, Catalyst phase times and
  * streaming progress. Events arrive on Spark's listener threads, so
  * every buffer is guarded by this object's monitor. */
final class Tracer(spark: SparkSession) {
  /** The thread that runs the ops. */
  private val client = Thread.currentThread()
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val plans = ArrayBuffer.empty[PlanRec]
  val batches = ArrayBuffer.empty[BatchRec]
  private val fenceJobs = scala.collection.mutable.Set.empty[Int]
  private val fenceDone = scala.collection.mutable.Set.empty[Int]
  /** Every job id seen, fence jobs too, with the attach window it was
    * seen in: ids within one window are consecutive unless the listener
    * dropped events. */
  val windows = ArrayBuffer.empty[(Int, Int)]
  private var window = 0

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      windows += ((e.jobId, window))
      if (prop(Tracer.FenceProp).isDefined) fenceJobs += e.jobId
      else {
        // A job's call site names the frames that submitted it, except
        // for jobs Spark submits from its own pools (adaptive query
        // stages, broadcasts) and for a streaming query's jobs, whose call
        // site is pinned to where the query started. For those, the live
        // stack of the thread that waits on the job is sampled instead: it
        // is still blocked inside the action that caused the job.
        val site = Tracer.callSiteFrames(e.stageInfos.headOption.map(_.details).getOrElse(""))
        val frames = prop("sql.streaming.queryId") match {
          case Some(q) => streamThread(q).map(Tracer.stack).getOrElse(Nil)
          case None if !site.exists(Tracer.isUser) => Tracer.stack(client)
          case None => site
        }
        jobs += JobRec(e.jobId, e.time, -1L, frames, e.stageIds, prop(Tracer.OpProp), window)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      if (fenceJobs(e.jobId)) fenceDone += e.jobId
      else jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (e.taskInfo != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        if (m == null) 0L else m.inputMetrics.recordsRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) Tracer.this.synchronized {
        plans += PlanRec(ph.map(_.startTimeMs).min, ph.map(p => p.endTimeMs - p.startTimeMs).sum)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      Tracer.this.synchronized {
        batches += BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.numInputRows, d("triggerExecution"), d("addBatch"))
      }
    }
  }

  private val streamThreads = scala.collection.mutable.HashMap.empty[String, Thread]
  private def streamThread(queryId: String): Option[Thread] =
    streamThreads.get(queryId).filter(_.isAlive).orElse {
      val t = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
        .find(t => t.getName.startsWith("stream execution thread") && t.getName.contains(queryId))
      t.foreach(streamThreads(queryId) = _)
      t
    }

  @volatile var attached = false
  def attach(): Unit = if (!attached) {
    synchronized(window += 1)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Wait until every event posted so far has reached the listeners: run
    * a marker job and wait for its end event, which Spark delivers after
    * all earlier events on the same queue. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val n = synchronized(fenceDone.size)
    sc.setLocalProperty(Tracer.FenceProp, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Tracer.FenceProp, null)
    val deadline = System.currentTimeMillis() + 10000
    while (synchronized(fenceDone.size == n) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    // the plan and stream listeners ride other queues: give them a beat
    Thread.sleep(100)
  }
}

object Tracer {
  val OpProp = "flumebench.op"
  val FenceProp = "flumebench.fence"
  val Layers: Seq[String] = Seq("core_log", "core_db", "views", "streaming", "ops", "client")

  def isUser(cls: String): Boolean = cls.startsWith("graft.") || cls.startsWith("flumebench.")
  def stack(t: Thread): Seq[String] = t.getStackTrace.toSeq.map(_.getClassName)

  /** Class names of a call site's user frames, innermost first (line 0
    * of Spark's long form is the last Spark method). */
  def callSiteFrames(callSite: String): Seq[String] =
    callSite.split("\n").toSeq.drop(1).map { l =>
      val f = l.trim.takeWhile(_ != '(')
      val cls = f.substring(f.lastIndexOf('/') + 1)
      cls.take(math.max(0, cls.lastIndexOf('.')))
    }

  /** The layer of a job: its innermost `graft` frame. Actions the
    * benchmark triggers itself on a frame a view or the log returned, and
    * jobs Spark runs on its own threads (broadcasts), are `client`. */
  def layerOf(frames: Seq[String]): String =
    frames.collectFirst {
      case s if s.startsWith("graft.core.FlumeDb") => "core_db"
      case s if s.startsWith("graft.core.") => "core_log"
      case s if s.startsWith("graft.views.") => "views"
      case s if s.startsWith("graft.streaming.") => "streaming"
      case s if s.startsWith("graft.ops.") || s.startsWith("graft.functions.") => "ops"
      case s if s.startsWith("flumebench.") => "client"
    }.getOrElse("client")

  private val viewClasses = Seq(
    "graft.views.PersistentIndexView" -> "idx", "graft.views.PersistentHashtableView" -> "ht",
    "graft.views.PersistentReduceView" -> "sum", "graft.views.PersistentBloomView" -> "bloom",
    "graft.views.SearchView" -> "search", "graft.views.FrameView" -> "search",
    "graft.views.SignatureTableView" -> "sigtable")

  /** The mounted view a views-layer job serves: the innermost frame of a
    * known view class (trait frames such as the delta protocol are
    * skipped to reach the class that mixes them in). */
  def viewOf(frames: Seq[String]): String =
    frames.iterator.flatMap(f => viewClasses.collectFirst { case (c, v) if f == c || f.startsWith(c + "$") => v })
      .nextOption().getOrElse("other")
}
