package graft.views

import graft.SparkSpec
import graft.core._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Point reads of the durable views: frames and gets build without a
  * Spark job (the deltas are read with the schema the view wrote), a
  * hashtable get is one top-1 job, and an index get is the three jobs
  * of its global sort. */
class PointReadSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("tag", StringType), StructField("score", IntegerType)))

  private def rows(rs: (Long, String, Int)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs.map { case (u, t, s) => Row(u, t, s) }, 2), schema)

  /** Spark jobs `body` launched, counted by its job group once a later
    * marker job shows the listener bus has caught up. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"point-read-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "point read")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains(s"$group-marker") && System.nanoTime() < deadline) Thread.sleep(20)
      (out, jobs.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  private def batchDirs(viewDir: String): Seq[String] =
    FsLists.children(java.nio.file.Paths.get(viewDir))
      .filter(_.getFileName.toString.startsWith("batch=")).map(_.toString).sorted

  private def inferred(viewDir: String): StructType =
    spark.read.parquet(batchDirs(viewDir): _*).schema

  /** A db over a fresh log with a hashtable on `user_id` and an index on
    * `tag`, after three appends that update users 1 and 2. */
  private def servedDb(): (FlumeDb, String) = {
    val viewDir = Files.createTempDirectory("graft-point-views").toString
    val db = new FlumeDb(new ParquetLog(spark, Files.createTempDirectory("graft-point-log").toString, schema))
    db.use("ht", PersistentHashtableView(viewDir, "user_id"))
    db.use("idx", PersistentIndexView(viewDir, array(col("tag"))))
    db.append(rows((1L, "a", 10), (2L, "b", 20), (3L, "a", 30)))
    db.append(rows((1L, "b", 11), (4L, "c", 40)))
    db.append(rows((2L, "a", 21), (1L, "c", 12)))
    (db, viewDir)
  }

  private def ht(db: FlumeDb) = db.view("ht").view.asInstanceOf[PersistentHashtableView]
  private def idx(db: FlumeDb) = db.view("idx").view.asInstanceOf[PersistentIndexView]

  test("building a frame or a get of ht, idx and a media feature table launches no job") {
    val (db, viewDir) = servedDb()
    val phDir = Files.createTempDirectory("graft-point-ph").toString + "/ph"
    val ph = new PhashTableView(spark, phDir, 1)
    import spark.implicits._
    Seq(0L -> 3L, 1L -> 7L, 2L -> 9L).foreach { case (id, upto) =>
      ph.absorbHashes(Seq((id, id * 31L)).toDF("media_id", "phash"), upto)
    }
    val (_, n) = jobsOf {
      ht(db).frame; ht(db).get(1L); idx(db).frame; idx(db).get("a"); ph.hashes
    }
    assert(n === 0, "frames and gets of the mounted views")
    val (_, reopened) = jobsOf {
      val h = new PersistentHashtableView(spark, s"$viewDir/ht", 1, "user_id", "seq")
      val i = new PersistentIndexView(spark, s"$viewDir/idx", 1, array(col("tag")), "seq")
      h.frame; h.get(1L); i.frame; i.get("a"); new PhashTableView(spark, phDir, 1).hashes
    }
    assert(reopened === 0, "fresh instances over the stores read one footer each, on the driver")
    db.close()
  }

  test("frame.schema is the inferred schema: fresh instance, after absorb, after destroy and rebuild") {
    val (db, viewDir) = servedDb()
    def check(h: PersistentHashtableView, i: PersistentIndexView, when: String): Unit = {
      assert(h.frame.schema === inferred(s"$viewDir/ht"), s"ht frame, $when")
      assert(h.get(1L).schema === inferred(s"$viewDir/ht"), s"ht get, $when")
      assert(i.frame.schema === inferred(s"$viewDir/idx"), s"idx frame, $when")
    }
    check(ht(db), idx(db), "after absorb")
    check(new PersistentHashtableView(spark, s"$viewDir/ht", 1, "user_id", "seq"),
      new PersistentIndexView(spark, s"$viewDir/idx", 1, array(col("tag")), "seq"), "fresh instance")
    db.rebuild()
    check(ht(db), idx(db), "after destroy and rebuild")
    db.close()
  }

  test("ht.get(k) holds the rows of ht.frame where key = k, through retract and compact") {
    val (db, _) = servedDb()
    val h = ht(db)
    def same(when: String): Unit = Seq(1L, 2L, 3L, 4L, 99L).foreach { k =>
      assert(h.get(k).collect().toSeq === h.frame.where(col("user_id") === k).collect().toSeq,
        s"key $k, $when")
    }
    same("across deltas")
    assert(h.get(1L).collect().map(_.getAs[String]("tag")).toSeq === Seq("c"))
    assert(h.get(99L).isEmpty)
    assert(db.retract(col("user_id") === 1L && col("score") === 12) === 1L)
    same("after a keyed retract")
    assert(h.get(1L).collect().map(_.getAs[String]("tag")).toSeq === Seq("b"), "the older version resurfaces")
    h.compact()
    same("after compact")
    db.close()
  }

  test("ht.get(k).collect() runs one job, idx.get(k).collect() three") {
    val (db, _) = servedDb()
    val (h, nh) = jobsOf(ht(db).get(2L).collect())
    assert(h.map(_.getAs[Int]("score")).toSeq === Seq(21))
    assert(nh === 1, "a top-1 sort over the key's rows")
    val (i, ni) = jobsOf(idx(db).get("a").collect())
    assert(i.map(_.getAs[Long]("seq")).toSeq === Seq(0L, 2L, 5L))
    assert(ni === 3, "the global sort: range sample, shuffle, result")
    db.close()
  }

  test("a long-keyed index keeps its frame schema when the first delta lands") {
    val viewDir = Files.createTempDirectory("graft-point-long").toString
    val db = new FlumeDb(new ParquetLog(spark, Files.createTempDirectory("graft-point-llog").toString, schema))
    db.use("idx", PersistentIndexView(viewDir, array(col("user_id"))))
    val i = idx(db)
    val before = i.frame.schema
    assert(before("key").dataType === LongType && i.frame.isEmpty)
    db.append(rows((7L, "a", 1), (8L, "b", 2)))
    assert(i.frame.schema === before)
    assert(i.frame.schema === inferred(s"$viewDir/idx"))
    assert(i.frame.where(col("key") === 8L).collect().map(_.getLong(1)).toSeq === Seq(1L))
    db.close()
  }
}
