package graft

/** Driver-contract self-checks: these failing means the t1/t2 gates fail
  * regardless of engine correctness. */
class EntrySpec extends SparkSpec {

  test("flagship entry returns rows at sf0.001 (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query (t2 gate consistency)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("query names are stable and well-formed") {
    SparkEntry.queries.keys.foreach { k =>
      assert(k.matches("q_[a-z0-9_]+"), s"bad query name: $k")
    }
    assert(SparkEntry.queries.size >= 75)
    assert(SparkEntry.oracleSql.size >= 71)
  }

  test("every query output is sortable scalars (driver compare sorts+hashes rows)") {
    // The driver's pandas compare sorts every column; whitelist the atomic
    // types known to sort/hash cleanly there — anything else (array, map,
    // struct, interval, ...) voids the whole query's check.
    import org.apache.spark.sql.types._
    val sortable: Set[DataType] = Set(
      BooleanType, ByteType, ShortType, IntegerType, LongType,
      FloatType, DoubleType, StringType, BinaryType, DateType, TimestampType)
    val dir = "/root/testdata/sf0.001"
    // Accumulate across queries: a single bad query (or one that fails
    // analysis) reports by name instead of aborting the sweep at the first
    // exception. DataContractSpec owns the analyzes-at-all check.
    val problems = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, dir).schema.fields.collect {
          case f if !sortable.contains(f.dataType) && !f.dataType.isInstanceOf[DecimalType] =>
            s"$name column '${f.name}' is not a known-sortable scalar: ${f.dataType.simpleString}"
        }
      } catch { case e: Exception =>
        Seq(s"$name fails analysis: ${e.getMessage.linesIterator.take(1).mkString}")
      }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("template-cloned lifecycle queries are rep-stable (bench reps 2+ hash identically)") {
    // Bench runs each lambda 3×; every lifecycle query below runs each
    // rep on a fresh byte-level CLONE of a once-built immutable template
    // (r19 — the r18 verdict's item 2: the zero-match live caches are
    // gone, every rep performs the REAL expire/retract/curate), so the
    // contract is value identity of the COLLECTED result across reps —
    // pin it query by query.
    val dir = "/root/testdata/sf0.001"
    // the stream_curate rows double as template-IMMUTABILITY pins: a
    // rep that wrote back into the template (instead of its clone)
    // would poison the next rep's clone and diverge here
    Seq("q_expire", "q_expire_by_time", "q_retract_pruned",
      "q_retract_pruned_str", "q_db_retract", "q_db_retract_keyed",
      "q_retract_reingest", "q_retract_clip_reingest",
      "q_stream_curate", "q_stream_curate_retract",
      "q_stream_curate_media", "q_stream_curate_embed").foreach { name =>
      val fn = SparkEntry.queries(name)
      val first = fn(spark, dir).collect().map(_.toString).sorted.toSeq
      val second = fn(spark, dir).collect().map(_.toString).sorted.toSeq
      assert(first == second, s"$name drifted between reps")
      assert(first.nonEmpty, s"$name returned no rows")
    }
  }

  test("clonedFixtureLazy hands out fresh clones and sweeps the previous one") {
    // the deferred sweep is what lets a lifecycle query return a LAZY
    // frame over its clone (the bench's noop sink materializes it after
    // the lambda returns): the next rep reclaims the prior clone, the
    // exit hook reclaims the last
    val dir = "/tmp/entryspec-clone-src"
    val c1 = EntryHelpers.clonedFixtureLazy("graftspec", dir) { tpl =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(tpl, "x"), "1")
    }
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(c1, "x")))
    val c2 = EntryHelpers.clonedFixtureLazy("graftspec", dir) { tpl =>
      fail("template must build exactly once")
    }
    assert(c1 != c2)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(c2, "x")),
      "clone must carry the template bytes")
    // the async sweep reclaims the PREVIOUS clone
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (java.nio.file.Files.exists(java.nio.file.Paths.get(c1)) &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(c1)),
      "previous clone must be swept when the next rep clones")
  }

  test("notePlan outside a capture keeps nothing for a later capture") {
    EntryHelpers.notePlan(spark.range(1).toDF())
    val (r, noted) = EntryHelpers.capturePlan(42)
    assert(r == 42)
    assert(noted.isEmpty, "a frame noted outside any capture must not be held")
  }

  test("concurrent plan captures each get the frame their own build noted") {
    // both builds note a frame, then wait for each other inside their
    // captures: a single process-wide slot would hand one of them the
    // other's plan
    val bothNoted = new java.util.concurrent.CountDownLatch(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val captures = Seq(5L, 7L).map { n =>
        pool.submit(new java.util.concurrent.Callable[(org.apache.spark.sql.DataFrame, Option[org.apache.spark.sql.DataFrame])] {
          override def call() = EntryHelpers.capturePlan {
            val df = EntryHelpers.notePlan(spark.range(n).toDF())
            bothNoted.countDown()
            bothNoted.await()
            df
          }
        })
      }.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      captures.foreach { case (df, noted) => assert(noted.exists(_ eq df)) }
    } finally pool.shutdownNow()
  }
}
