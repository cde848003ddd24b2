package flumebench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Runs one workload for a fixed time and prints its metrics; the last
  * line of standard output is the one-line JSON result.
  *
  * Args: --workload serve|takedown|curate --seed N --seconds S --trace 0|1
  *       --work DIR --cpus N [--detail FILE] [--spans FILE] */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val cpus = arg("cpus").toInt
    val work = Paths.get(arg("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"flumebench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def workload(r: Run): Workload = name match {
      case "serve" => new Serve(r)
      case "takedown" => new Takedown(r)
      case "curate" => new Curate(r)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val run = new Run(spark, work, seed, trace)
    val w = workload(run)
    var error: Option[Throwable] = None
    var warmupS = Double.NaN
    try {
      // Warm-up: the same workload at a fraction of its size, untimed and
      // discarded, so the JIT and Spark's code-generation cache are warm
      // and the timed set-ups and cycles measure the engine, not class
      // loading and compilation. Users pay that once per process.
      val t0 = Clock.now()
      val warm = new Run(spark, work.resolve("warmup"), seed, traced = false, warmup = true)
      val ww = workload(warm)
      ww.setup()
      warm.loop(0, 1)(ww.cycle)
      ww.finish()
      warmupS = (Clock.now() - t0) / 1000
      w.setup()
      // a traced run needs an untraced and a traced cycle at least
      run.loop(seconds, if (trace) math.max(2, w.minCycles) else w.minCycles)(w.cycle)
      w.finish()
    } catch { case e: Throwable => error = Some(e) }

    val report = new Report(run, w, cpus)
    val e2e = report.endToEnd
    val layers = if (trace && error.isEmpty) report.perLayer else Nil
    val problems = if (trace && error.isEmpty) report.reconcile() else Nil
    error.foreach { e =>
      println(s"[flumebench] FAILED: ${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace(System.err)
    }
    problems.foreach(p => println(s"[flumebench] trace reconciliation: $p"))
    val correct = error.isEmpty && problems.isEmpty

    def show(m: Metric) = println(f"[flumebench] ${m.name}%-40s ${m.value}%14.4f ${m.unit}")
    println(s"[flumebench] workload=$name seed=$seed trace=${if (trace) 1 else 0} cpus=$cpus " +
      s"cycles=${run.cycles.size} attempted=${run.attempted} failed=${run.failed}")
    report.kinds.foreach { case (k, n, p50, tail) =>
      println(f"[flumebench] op $k%-16s n=$n%4d p50=$p50%10.1f ms" +
        tail.map { case (p, v) => f" p$p%s=$v%.1f ms" }.getOrElse(" tail=n/a (under 11 samples)"))
    }
    w.defects.foreach { case (k, cls) => println(s"[flumebench] known defect: $k failed with $cls") }
    e2e.foreach(show)
    layers.foreach(show)
    if (trace) println(s"[flumebench] trace: ${report.jobCount} jobs seen, ${report.parentedJobCount} parented to ops")

    val metrics = if (trace) layers else e2e
    def metricJson(ms: Seq[Metric]) =
      Json.obj(ms.map(m => m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))
    a.get("detail").foreach { f =>
      val detail = Json.obj(Seq(
        "end_to_end" -> metricJson(e2e),
        "per_layer" -> metricJson(layers),
        "ops" -> Json.obj(report.kinds.map { case (k, n, p50, tail) =>
          k -> Json.obj(Seq("n" -> n.toString, "p50_ms" -> Json.num(p50),
            "tail_pct" -> tail.map(x => Json.num(x._1)).getOrElse("null"),
            "tail_ms" -> tail.map(x => Json.num(x._2)).getOrElse("null")))
        }),
        "warmup_s" -> Json.num(warmupS),
        "setups_s" -> Json.arr(run.setups.toSeq.map(Json.num)),
        "cycles_s" -> Json.arr(run.cycles.toSeq.map(c => Json.num(c.ms / 1000))),
        "known_defects" -> Json.arr(w.defects.map { case (k, c) => Json.obj(Seq("op" -> Json.str(k), "error" -> Json.str(c))) }),
        "reconciliation" -> Json.arr(problems.map(Json.str)),
        "error" -> error.map(e => Json.str(s"${e.getClass.getName}: ${e.getMessage}")).getOrElse("null")))
      Files.writeString(Paths.get(f), detail + "\n")
    }
    a.get("spans").filter(_ => trace).foreach(f => Files.writeString(Paths.get(f), report.spanLines.mkString("", "\n", "\n")))
    // the result must have every metric as a finite number to be usable
    val usable = correct && metrics.nonEmpty && metrics.forall(m => !m.value.isNaN && !m.value.isInfinite)
    println(Json.obj(Seq(
      "correct" -> usable.toString,
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "metrics" -> metricJson(metrics))))
    System.out.flush()
    spark.stop()
    System.exit(if (usable) 0 else 1)
  }
}
