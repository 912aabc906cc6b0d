package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.acl.AclCaches
import graft.io.MiniDelta
import graft.util.TtlCache

/** T5: TTL/LRU cache semantics mirroring the reference's moka caches
  * (src/main.rs:82-93) and `cached` LRU macro (src/database.rs:28-32). */
class TtlCacheSpec extends AnyFunSuite {

  test("computes once within the TTL, recomputes after expiry") {
    var now = 0L
    var calls = 0
    val c = new TtlCache[String, Int](10, 120000L, () => now)
    def f = { calls += 1; calls }
    assert(c.getOrElseUpdate("k")(f) == 1)
    now = 119999L
    assert(c.getOrElseUpdate("k")(f) == 1) // still fresh
    now = 120000L
    assert(c.getOrElseUpdate("k")(f) == 2) // ttl is from insert
    assert(calls == 2)
  }

  test("reads do not refresh the TTL (moka time-to-live, not idle)") {
    var now = 0L
    var calls = 0
    val c = new TtlCache[String, Int](10, 100L, () => now)
    def f = { calls += 1; calls }
    c.getOrElseUpdate("k")(f)
    now = 60L
    c.getOrElseUpdate("k")(f) // read at 60 must not extend life
    now = 100L
    assert(c.getOrElseUpdate("k")(f) == 2)
  }

  test("capacity evicts the least-recently-accessed entry") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[Int]
    val c = new TtlCache[String, Int](2, 0L, onEvict = evicted += _)
    c.getOrElseUpdate("a")(1)
    c.getOrElseUpdate("b")(2)
    c.getOrElseUpdate("a")(99) // access refreshes a's recency (hit: stays 1)
    c.getOrElseUpdate("c")(3)  // evicts b, the LRU entry
    assert(evicted.toSeq == Seq(2))
    assert(c.get("b").isEmpty)
    assert(c.get("a").contains(1) && c.get("c").contains(3))
    assert(c.size == 2)
  }

  test("ttl <= 0 means pure LRU, no expiry (DB-perms flavor)") {
    var now = 0L
    val c = new TtlCache[String, Int](10, 0L, () => now)
    c.getOrElseUpdate("k")(7)
    now = Long.MaxValue / 2
    assert(c.get("k").contains(7))
  }

  test("invalidate evicts immediately and fires onEvict") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[Int]
    val c = new TtlCache[String, Int](10, 0L, onEvict = evicted += _)
    c.getOrElseUpdate("k")(5)
    c.invalidate("k")
    assert(evicted.toSeq == Seq(5) && c.get("k").isEmpty)
  }

  test("misses count the computes: a hit runs none, a raced duplicate " +
      "runs one") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[Int]
    val c = new TtlCache[String, Int](10, 0L, onEvict = evicted += _)
    c.getOrElseUpdate("k")(1) // miss
    c.getOrElseUpdate("k")(2) // hit
    assert(c.misses == 1)
    // a second miss on "r" publishes while the first still computes:
    // both computed, the first published value wins, the loser evicts
    val got = c.getOrElseUpdate("r") { c.getOrElseUpdate("r")(3); 4 }
    assert(got == 3 && c.get("r").contains(3) && evicted.toSeq == Seq(4))
    assert(c.misses == 3)
    // a compute that throws publishes nothing
    intercept[IllegalStateException](
      c.getOrElseUpdate("x")(throw new IllegalStateException("boom")))
    assert(c.get("x").isEmpty && c.misses == 4)
  }

  test("invalidateIf drops every matching entry through onEvict") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[Int]
    val c = new TtlCache[(String, Long), Int](10, 0L, onEvict = evicted += _)
    c.getOrElseUpdate(("a", 1L))(1)
    c.getOrElseUpdate(("b", 1L))(2)
    c.getOrElseUpdate(("a", 2L))(3)
    c.invalidateIf(_._1 == "a")
    assert(evicted.sorted.toSeq == Seq(1, 3))
    assert(c.size == 1 && c.get(("b", 1L)).contains(2))
  }

  test("AclCaches memoize file lists and perms under user:table keys") {
    AclCaches.clearAll()
    val spark = TestSpark.spark
    import spark.implicits._
    var resolves = 0
    def resolve = {
      resolves += 1
      Seq("f1.parquet", "f2.parquet").toDF("path")
    }
    val first = AclCaches.allowedFilesFor("alice", "trades")(resolve)
    val second = AclCaches.allowedFilesFor("alice", "trades")(resolve)
    assert(first == Seq("f1.parquet", "f2.parquet") && second == first)
    assert(resolves == 1) // F13 key hit
    var lookups = 0
    def lookup = { lookups += 1; Seq(Map("mic" -> "XLON")) }
    AclCaches.permsFor("alice", "trades")(lookup)
    val p = AclCaches.permsFor("alice", "trades")(lookup)
    assert(p == Seq(Map("mic" -> "XLON")) && lookups == 1)
    AclCaches.clearAll()
  }

  test("authFor memoizes auth checks per access key (insert-on-miss)") {
    AclCaches.clearAll()
    var checks = 0
    def check = { checks += 1; true }
    assert(AclCaches.authFor("AKIA123")(check))
    assert(AclCaches.authFor("AKIA123")(check))
    assert(checks == 1)
    AclCaches.clearAll()
  }

  test("snapshot cache serves the pre-append snapshot until invalidated") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snapcache").toString
    val table = s"$dir/t"
    MiniDelta.append(spark, Seq((1L, "x")).toDF("id", "v"), table, Seq("v"))
    assert(MiniDelta.snapshotFilesCached(spark, table).count() == 1)
    MiniDelta.append(spark, Seq((2L, "y")).toDF("id", "v"), table, Seq("v"))
    // stale within the TTL, exactly like the reference's moka cache
    assert(MiniDelta.snapshotFilesCached(spark, table).count() == 1)
    MiniDelta.invalidateSnapshot(table)
    assert(MiniDelta.snapshotFilesCached(spark, table).count() == 2)
    MiniDelta.invalidateSnapshot(table)
  }
}
