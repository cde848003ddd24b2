package graft.tools

import graft.core.ParquetLog
import org.apache.spark.sql.functions._

/** Stage-level timing of the template-cloned lifecycle queries (r19):
  * times template build (once), then per rep: clone copy, log mount
  * (cursor/stats recovery), the real expire/retract, and the survivor
  * aggregate — so a fat bench line can be attributed to a stage instead
  * of guessed at. Args: sfDir [reps] (default 3). */
object LifecycleProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus)

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[lcprof] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }

    val ev = graft.EntryHelpers.t(spark, dir, "events").orderBy("event_id")
      .select("user_id", "event_type", "value")

    // q_expire shape
    val tpl = java.nio.file.Files.createTempDirectory("lcprof-tpl").toString
    time("template build (append 512-bucket log)") {
      new ParquetLog(spark, s"$tpl/log", ev.schema, bucketSize = 512L).append(ev)
    }
    (1 to reps).foreach { rep =>
      println(s"=== rep $rep (q_expire shape) ===")
      val root = time("clone copy")(graft.EntryHelpers.clonedFixtureLazy("lcprof", dir) { d =>
        graft.EntryHelpers.copyTree(tpl, d)
      })
      val log = time("log mount (recovery)")(
        new ParquetLog(spark, s"$root/log", ev.schema, bucketSize = 512L))
      val horizon = ((log.since + 1L) * 2L) / 5L
      time("expire (truncate + boundary rewrite)")(log.expire(horizon))
      time("survivor agg (noop sink)") {
        log.read.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          round(sum("value"), 4).as("sum_value"),
          min("seq").as("min_seq"))
          .orderBy("event_type")
          .write.format("noop").mode("overwrite").save()
      }
    }
    graft.EntryHelpers.deleteTree(tpl)
    spark.stop()
  }
}
