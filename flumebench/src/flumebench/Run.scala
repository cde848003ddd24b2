package flumebench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** One closed-loop cycle's wall time. */
final case class Cycle(n: Int, ms: Double, traced: Boolean)

/** A correctness check failed: the engine returned a wrong answer. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** The state of one benchmark run: the ops timed so far, the spans the
  * traced run attributes to layers, and the attempted/failed counts. */
final class Run(val spark: SparkSession, val work: Path, val seed: Long, val traced: Boolean,
    val warmup: Boolean = false) {
  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  val cycles = ArrayBuffer.empty[Cycle]
  val setups = ArrayBuffer.empty[Double]
  val tracer = new Tracer(spark)
  var cycle = 0
  var attempted = 0L
  var failed = 0L
  /** Whether the current cycle runs with listeners attached. A traced
    * run alternates, so it can also report what tracing costs. */
  def tracing: Boolean = tracer.attached

  def dir(name: String): Path = { val p = work.resolve(name); Files.createDirectories(p); p }

  def check(problem: Option[String]): Unit =
    problem.foreach(p => throw new CheckFailed(p))

  /** Time one call into the engine. `rows` is the number of rows the op
    * produced or processed. While tracing, the op id rides a Spark local
    * property so jobs of this thread can be parented to it. */
  def op[A](kind: String, role: String, rows: A => Long = (_: A) => 0L)(f: => A): A = {
    val id = ops.size
    val sc = spark.sparkContext
    if (tracing) sc.setLocalProperty(Tracer.OpProp, id.toString)
    attempted += 1
    val t0 = Clock.now()
    try {
      val a = f
      ops += Op(id, kind, role, cycle, t0, Clock.now(), rows(a), tracing)
      a
    } catch {
      case e: Throwable => failed += 1; throw e
    } finally if (tracing) sc.setLocalProperty(Tracer.OpProp, null)
  }

  /** A child interval of the op timed last. */
  def span(name: String, start: Double, end: Double): Unit =
    spans += Span(name, start, end, ops.last.id)

  /** Run the workload's set-up three times and keep the last state (once
    * in a warm-up run). */
  def setup(build: Int => Unit): Unit =
    (1 to (if (warmup) 1 else 3)).foreach { i =>
      val t0 = Clock.now()
      build(i)
      setups += (Clock.now() - t0) / 1000.0
    }

  /** Closed loop: one cycle after another until `seconds` have passed,
    * and at least `minCycles`. A traced run attaches its listeners on
    * every other cycle. */
  def loop(seconds: Double, minCycles: Int)(body: Int => Unit): Unit = {
    val t0 = Clock.now()
    while (cycle < minCycles || Clock.now() - t0 < seconds * 1000) {
      cycle += 1
      if (traced && cycle % 2 == 0) tracer.attach()
      val c0 = Clock.now()
      body(cycle)
      cycles += Cycle(cycle, Clock.now() - c0, tracing)
      if (tracing) tracer.detach()
    }
  }
}

object Disk {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  def countFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).count() finally s.close()
    }
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_)) finally s.close()
  }
  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally s.close()
  }
}
