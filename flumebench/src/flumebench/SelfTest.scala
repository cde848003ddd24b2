package flumebench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

/** The benchmark's own tests: seeded inputs are reproducible, every
  * correctness check rejects a corrupted result, and a traced run's
  * spans and job counts reconcile. Exits non-zero on any failure.
  *
  * Args: --work DIR --cpus N */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  private def rejects(problem: Option[String], what: String): Unit =
    expect(problem.isDefined, s"$what was accepted")
  private def accepts(problem: Option[String], what: String): Unit =
    expect(problem.isEmpty, s"$what was rejected: ${problem.getOrElse("")}")

  /** Everything the generators hand the engine for one seed, as bytes. */
  private def inputs(seed: Long): Array[Byte] = {
    val b = new StringBuilder
    new EventGen(seed).batch(3000).foreach(e => b ++= e.row.mkString("\u0001") += '\n')
    val docs = new DocGen(seed)
    Seq(300, 500, 2000).foreach(n => docs.batch(n).foreach(d => b ++= s"${d.id}\u0001${d.text}\n"))
    MessageDigest.getInstance("SHA-256").digest(b.result().getBytes("UTF-8"))
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val cpus = a.getOrElse("cpus", "2").toInt

    test("the same seed gives byte-identical inputs") {
      expect(inputs(7).sameElements(inputs(7)), "two generations of seed 7 differ")
    }
    test("a different seed gives different inputs") {
      expect(!inputs(7).sameElements(inputs(8)), "seeds 7 and 8 generate the same inputs")
    }

    val e = Event(42L, "click", 3.0, "the kako of")
    test("ht_get check rejects a wrong row and a retracted key still present") {
      accepts(Checks.htGet(42L, Seq((9L, "click", 3.0, "the kako of")), Some((9L, e))), "the right row")
      rejects(Checks.htGet(42L, Seq((9L, "click", 4.0, "the kako of")), Some((9L, e))), "a wrong value")
      rejects(Checks.htGet(42L, Seq((8L, "click", 3.0, "the kako of")), Some((9L, e))), "a stale version")
      rejects(Checks.htGet(42L, Nil, Some((9L, e))), "a missing key (read-your-writes)")
      rejects(Checks.htGet(42L, Seq((9L, "click", 3.0, "the kako of")), None), "a retracted key")
    }
    test("index and search checks reject a missing, an extra and a reordered seq") {
      accepts(Checks.seqs("idx", Seq(1L, 5L, 9L), Seq(1L, 5L, 9L)), "the right seqs")
      rejects(Checks.seqs("idx", Seq(1L, 9L), Seq(1L, 5L, 9L)), "a missing seq")
      rejects(Checks.seqs("idx", Seq(1L, 5L, 9L, 10L), Seq(1L, 5L, 9L)), "an extra seq")
      rejects(Checks.seqs("idx", Seq(5L, 1L, 9L), Seq(1L, 5L, 9L)), "a reordered result")
    }
    test("sum check rejects a wrong sum and a wrong count") {
      accepts(Checks.sum(Some((10.0, 3L)), 10.0, 3L), "the right sum")
      rejects(Checks.sum(Some((11.0, 3L)), 10.0, 3L), "a wrong sum")
      rejects(Checks.sum(Some((10.0, 2L)), 10.0, 3L), "a wrong count")
      rejects(Checks.sum(None, 10.0, 3L), "an empty view")
    }
    test("bloom check rejects a false negative") {
      accepts(Checks.bloom(42L, hit = true), "a hit")
      rejects(Checks.bloom(42L, hit = false), "a false negative")
    }
    test("log_get check rejects a wrong row and a removed row still present") {
      accepts(Checks.logGet(3L, Seq((42L, "the kako of", 3.0)), Some(e)), "the right row")
      rejects(Checks.logGet(3L, Seq((43L, "the kako of", 3.0)), Some(e)), "a wrong row")
      rejects(Checks.logGet(3L, Seq((42L, "the kako of", 3.0)), None), "a removed row")
    }
    test("takedown checks reject a wrong removal count and a takedown that matched nothing") {
      accepts(Checks.removed("retract", 7L, 7L), "the right count")
      rejects(Checks.removed("retract", 6L, 7L), "too few removed")
      rejects(Checks.removed("retract", 0L, 0L), "a takedown with nothing to remove")
      rejects(Checks.equal("log_count", (10L, 5L), (10L, 6L)), "a row at or below the expire horizon")
    }
    test("curate check rejects a kept exact copy, a dropped original and any set off the reference") {
      val g = new DocGen(5)
      val batches = Seq(g.batch(300), g.batch(500), g.batch(2000))
      val all = batches.flatten
      val ref = CurateReference.kept(batches)
      expect(Checks.curated(ref, batches).isEmpty, "the reference itself was rejected")
      val exact = all.find(_.kind == Doc.Exact).get.id
      val orig = all.find(_.kind == Doc.Original).get.id
      val near = all.find(_.kind == Doc.Near).get.id
      expect(Checks.curated(ref + exact, batches).nonEmpty, "a kept exact copy was accepted")
      expect(Checks.curated(ref - orig, batches).nonEmpty, "a dropped original was accepted")
      expect(Checks.curated(ref + near, batches).nonEmpty, "a kept near copy was accepted")
      expect(all.filter(_.kind == Doc.Near).forall(d => !ref(d.id)), "the reference keeps a planted near copy")
    }
    test("the reference's Jaccard and quality match hand-computed values") {
      expect(CurateReference.jaccard(Set("a b c", "b c d"), Set("b c d", "c d e")) == 0.3333, "jaccard")
      expect(CurateReference.quality("#$%&*@!? #$%&*@!?") == 0.0, "garbage quality")
      expect(CurateReference.shingles("a b") == Set("a", "b"), "short doc shingles")
    }

    val spark = SparkSession.builder().master(s"local[$cpus]").appName("flumebench-selftest")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    test("traced run: child spans fit their op, every job is parented once and the listener missed none") {
      Files.createDirectories(work)
      val run = new Run(spark, work, 11L, traced = true)
      val serve = new Serve(run)
      serve.setup()
      // an independent listener attached for exactly the traced windows
      @volatile var seen = 0
      val counter = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).forall(_.getProperty(Tracer.FenceProp) == null)) seen += 1
      }
      (1 to 2).foreach { c =>
        run.cycle = c
        spark.sparkContext.addSparkListener(counter)
        run.tracer.attach()
        serve.cycle(c)
        run.tracer.detach()
        spark.sparkContext.removeSparkListener(counter)
      }
      serve.finish()
      val report = new Report(run, serve, cpus)
      val problems = report.reconcile()
      expect(problems.isEmpty, problems.mkString("; "))
      expect(report.jobCount > 0, "no jobs traced")
      expect(report.jobCount == seen, s"tracer saw ${report.jobCount} jobs, an independent listener $seen")
      expect(report.parentedJobCount == report.jobCount,
        s"${report.jobCount - report.parentedJobCount} jobs ran outside any timed op")
      val pct = report.perLayer.filter(m => m.name.startsWith("write.pct.") && !m.name.startsWith("write.pct.view."))
      expect(math.abs(pct.map(_.value).sum - 100.0) < 0.01, s"layer shares sum to ${pct.map(_.value).sum} %")
    }
    spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
