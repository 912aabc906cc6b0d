package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.listing.ObjectListing

/** Mirrors the reference's listing unit tests (src/main.rs:1175-1397):
  * prefix mapping, start-after, max-keys, key rewrite, HEAD. */
class ListingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val files = ObjectListing.filesDF(spark, TestSpark.sfTiny).cache()

  test("listing is lexicographically ordered and prefix-filtered") {
    val page = ObjectListing.list(files, "lineitem/l_returnflag=A/", None, 50)
      .collect()
    assert(page.length == 50)
    val keys = page.map(_.getString(0))
    assert(keys.forall(_.startsWith("lineitem/l_returnflag=A/")))
    assert(keys.sameElements(keys.sorted))
  }

  test("start-after is strict (S3 semantics)") {
    val all = ObjectListing.list(files, "lineitem/", None, 10)
      .collect().map(_.getString(0))
    val after = ObjectListing.list(files, "lineitem/", Some(all(4)), 10)
      .collect().map(_.getString(0))
    assert(after.head == all(5))
    assert(!after.contains(all(4)))
  }

  test("max-keys caps the page") {
    assert(ObjectListing.list(files, "lineitem/", None, 7).count() == 7)
  }

  test("common prefixes = delimiter grouping") {
    val cps = ObjectListing.commonPrefixes(files, "lineitem/")
      .collect().map(_.getString(0))
    assert(cps.toSet == Set("lineitem/l_returnflag=A/",
      "lineitem/l_returnflag=N/", "lineitem/l_returnflag=R/"))
  }

  test("logical <-> physical key rewrite round-trips") {
    val base = "warehouse/uuid1/"
    val phys = files.select("key").limit(20)
      .withColumn("key", concat(lit(base), col("key")))
    val logical = ObjectListing.toLogical(phys, base, "trades")
    assert(logical.collect().forall(_.getString(0).startsWith("trades/")))
    val back = ObjectListing.toPhysical(logical, base, "trades")
    assert(back.collect().forall(_.getString(0).startsWith(base)))
  }

  test("HEAD projects metadata for exactly one key") {
    val k = files.orderBy("key").limit(1).collect()(0).getString(0)
    val head = ObjectListing.head(files, k).collect()
    assert(head.length == 1)
    assert(head(0).getAs[String]("storage_class") == "STANDARD")
  }

  test("pagination page 2 continues exactly after page 1") {
    val p1 = ObjectListing.page(files, 25, 1).collect().map(_.getString(0))
    val p2 = ObjectListing.page(files, 25, 2).collect().map(_.getString(0))
    val all = ObjectListing.list(files, "", None, 50).collect()
      .map(_.getString(0))
    assert((p1 ++ p2).sameElements(all))
  }

  test("listing cache obeys the configured capacity (config knob wired)") {
    import graft.catalog.CacheConfig
    ObjectListing.configureFilesCache(CacheConfig(1, 0L)) // LRU of 1
    try {
      val a = ObjectListing.filesDF(spark, TestSpark.sfTiny)
      assert(ObjectListing.filesDF(spark, TestSpark.sfTiny) eq a) // warm hit
      // a second key overflows capacity 1 and evicts the first entry
      ObjectListing.filesDF(spark, "/root/testdata/sf0.01")
      assert(!(ObjectListing.filesDF(spark, TestSpark.sfTiny) eq a))
    } finally ObjectListing.configureFilesCache(CacheConfig(100, 120000L))
  }

  test("GlobalRowNumber == single-partition window row_number, distributed") {
    import org.apache.spark.sql.expressions.Window
    val numbered = graft.operators.GlobalRowNumber(
      files.select("key", "size"), Seq(col("key")), numPartitions = 7)
    // actually distributed: rows span multiple range partitions
    assert(numbered.select(spark_partition_id()).distinct().count() > 1)
    val got = numbered.orderBy("rn").collect()
      .map(r => (r.getString(0), r.getLong(2)))
    val ref = files.select(col("key"),
        row_number().over(Window.orderBy("key")).cast("long").as("rn"))
      .orderBy("rn").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.sameElements(ref))
  }

  /** A driver-rows listing with edge-case keys: a supplementary
    * character (U+10000) and U+FFFD, which UTF-8 and UTF-16 order
    * differently, and a null key. */
  private lazy val edgeListing = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("key", StringType),
      StructField("size", LongType), StructField("etag", StringType),
      StructField("last_modified", TimestampType),
      StructField("storage_class", StringType)))
    val keys = Seq("a/\uD800\uDC00/x.bin", "a/\uFFFD/y.bin", "a/b/z.bin",
      "a/top.bin", null, "b/c/d.bin", "a/\uD800\uDC00/w.bin",
      "a/\uD800\uDC00/q/r.bin")
    val rows = keys.zipWithIndex.map { case (k, i) =>
      Row(k, i.toLong, s"e$i", new java.sql.Timestamp(1000L * i), "STANDARD") }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("list/commonPrefixes/page: driver and distributed arms agree") {
    val local = edgeListing
    val dist = edgeListing.repartition(3)
    def same(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val (l, d) = (f(local), f(dist))
      assert(isLocal(l) && !isLocal(d))
      val (lr, dr) = (l.collect().toSeq, d.collect().toSeq)
      assert(lr == dr)
      lr
    }
    val all = same(ObjectListing.list(_, "", None, 100)).map(_.getString(0))
    // UTF-8 binary order: U+FFFD sorts before the supplementary character
    assert(all == Seq("a/b/z.bin", "a/top.bin", "a/\uFFFD/y.bin",
      "a/\uD800\uDC00/q/r.bin", "a/\uD800\uDC00/w.bin", "a/\uD800\uDC00/x.bin", "b/c/d.bin"))
    same(ObjectListing.list(_, "a/", Some("a/\uFFFD/y.bin"), 2))
    same(ObjectListing.list(_, "a/\uD800\uDC00/", None, 10))
    assert(same(ObjectListing.list(_, "", Some("z"), 10)).isEmpty)
    assert(same(ObjectListing.list(_, "a/", None, 0)).isEmpty)
    assert(same(ObjectListing.commonPrefixes(_, "a/")).map(_.getString(0)) ==
      Seq("a/b/", "a/\uFFFD/", "a/\uD800\uDC00/"))
    assert(same(ObjectListing.commonPrefixes(_, "")).map(_.getString(0)) ==
      Seq("a/", "b/"))
    // the prefix is cut by characters, not UTF-16 units
    assert(same(ObjectListing.commonPrefixes(_, "a/\uD800\uDC00/"))
      .map(_.getString(0)) == Seq("a/\uD800\uDC00/q/"))
    // page numbers the null key first, as the ascending sort does
    for (p <- 1 to 3) same(ObjectListing.page(_, 3, p))
    assert(same(ObjectListing.page(_, 3, 1)).head.isNullAt(0))
    for (in <- Seq(local, dist))
      assert(intercept[IllegalArgumentException](
        ObjectListing.list(in, "", None, -1)).getMessage.contains("maxKeys"))
    // the driver arm runs no Spark job
    val (_, jobs) = TestSpark.jobsDuring(
      ObjectListing.list(local, "a/", None, 3).collect())
    assert(jobs.isEmpty, jobs)
  }
}
