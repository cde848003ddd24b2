package graft.tools

import graft.SparkEntry

import java.nio.file.{Files, Paths}

/** Writes one `<outDir>/<query><suffix>.txt` per named query holding its
  * `.explain("formatted")` output — the per-round before/after plan
  * evidence (`plans/rNN/`). Args: outDir suffix query [query ...]; the
  * data dir defaults to sf0.001 (override with SPARK_GRAFT_SF_DIR).
  * Queries that build-and-destroy fixtures run for real; ones that
  * localCheckpoint their result dump as `Scan ExistingRDD` (recorded in
  * PLANS.md — the operator plans inside those lifecycles are pinned by
  * PlanSpec and the probe tools). */
object DumpPlanFiles {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.GraftSession.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val plan =
        try {
          // lifecycle queries checkpoint their result to decouple async
          // fixture teardown; they register the PRE-checkpoint frame so
          // the dump shows the real operators, not `Scan ExistingRDD`
          val (df, noted) = graft.EntryHelpers.capturePlan(SparkEntry.queries(name)(spark, dir))
          noted.getOrElse(df)
            .queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"ERROR dumping $name: ${e.getMessage}" }
      Files.writeString(Paths.get(outDir, s"$name$suffix.txt"), plan)
      println(s"[plans] $name$suffix")
    }
    spark.stop()
  }
}
