package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The fixture registry behind every catalog cache: one build per key
  * under contention, session-scoped eviction that releases the stale
  * entry, session-free shared entries, and keys that include the name. */
class FixturesSpec extends SparkSpec {

  // a fake data dir per test: no two tests share a registry key
  private def dir(test: String): String = s"/fixtures-spec/$test"

  test("racing callers of one key build it once and all get the same value") {
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map(_ => pool.submit(new Callable[AnyRef] {
        override def call(): AnyRef = {
          start.await()
          Fixtures.perSession("race", dir("race"), spark) {
            builds.incrementAndGet()
            Thread.sleep(200) // keep the build open while the others arrive
            new Object
          }(_ => ())
        }
      }))
      start.countDown()
      val values = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1, "every racing caller must wait on the one build")
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow()
  }

  test("a call from another session releases the stale entry and rebuilds") {
    val d = dir("session")
    val first = Fixtures.tmpDir("graftspec", d, spark) { tmp =>
      Files.writeString(Paths.get(tmp, "x"), "1")
    }
    assert(Fixtures.tmpDir("graftspec", d, spark)(_ => fail("same session must reuse")) == first)
    val second = Fixtures.tmpDir("graftspec", d, spark.newSession()) { tmp =>
      Files.writeString(Paths.get(tmp, "x"), "2")
    }
    assert(second != first)
    assert(!Files.exists(Paths.get(first)), "the stale entry's temp dir must be deleted")
    assert(Files.readString(Paths.get(second, "x")) == "2")
  }

  test("a shared entry is built once and returned to every session") {
    val d = dir("shared")
    val builds = new AtomicInteger
    def lookup(s: org.apache.spark.sql.SparkSession): AnyRef =
      Fixtures.shared("probe", d) {
        builds.incrementAndGet()
        assert(s.range(3).count() == 3L)
        new Object
      }(_ => ())
    val a = lookup(spark)
    val b = lookup(spark.newSession())
    assert(a eq b)
    assert(builds.get == 1)
  }

  test("two names on one data dir are separate entries") {
    val d = dir("names")
    val released = new AtomicInteger
    val a = Fixtures.perSession("name-a", d, spark)("a")(_ => released.incrementAndGet())
    val b = Fixtures.perSession("name-b", d, spark)("b")(_ => released.incrementAndGet())
    assert(a == "a" && b == "b")
    assert(Fixtures.perSession[String]("name-a", d, spark)(fail("name-a was cached"))(_ => ()) == "a")
    assert(Fixtures.perSession[String]("name-b", d, spark)(fail("name-b was cached"))(_ => ()) == "b")
    assert(released.get == 0, "neither entry may evict the other")
  }
}
