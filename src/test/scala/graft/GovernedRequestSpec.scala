package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.acl.PartitionAcl
import graft.io.{MiniDelta, RawBytes}
import graft.listing.ObjectListing

/** The metadata steps of one governed request over a driver-scale table
  * (an allowed-file memo miss, one listing page, its authorization and
  * a footer fetch) read driver rows and run no Spark job: the request's
  * only Spark work is its scan. */
class GovernedRequestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("prune, list page, authorize and ranged footer read run no Spark job") {
    val t = Files.createTempDirectory("governed").toString + "/t"
    MiniDelta.append(spark, (1L to 16L)
      .map(i => (i, s"r${i % 2}", s"d${i / 2 % 4}")).toDF("id", "region", "day")
      .repartition(col("region"), col("day")), t, Seq("region", "day"))
    MiniDelta.invalidateSnapshot(t)
    val snap = MiniDelta.snapshotFilesCached(spark, t)
    // the object listing a proxy serves: the snapshot's files by key,
    // materialized once as driver rows
    val listing = {
      val l = snap.select(col("path").as("key"), col("size"),
        md5(col("path")).as("etag"),
        (col("modificationTime") / 1000).cast("timestamp").as("last_modified"),
        lit("STANDARD").as("storage_class"))
      spark.createDataFrame(java.util.Arrays.asList(l.collect(): _*), l.schema)
    }
    val ((allowed, page, authorized, footer), jobs) = TestSpark.jobsDuring {
      val allowed = MiniDelta.filesForFilters(snap, Seq(Map("region" -> "r1")))
        .select("path").collect().map(_.getString(0)).toSeq
      val page = ObjectListing.list(listing, "region=r1/", None, 20).collect()
      val authorized = PartitionAcl.authorize(
        page.map(_.getString(0)).toSeq.toDF("key"), allowed.toDF("key"))
        .collect()
      val file = new java.io.File(s"$t/${page.head.getString(0)}")
      val footer = RawBytes.ranged(
        RawBytes.read(spark, file.getParent, file.getName),
        page.head.getLong(1) - 8, 8)
        .select("range_content").collect().head.getAs[Array[Byte]](0)
      (allowed, page, authorized, footer)
    }
    assert(jobs.isEmpty, jobs)
    assert(allowed.size == 4 && page.length == 4 && authorized.length == 4)
    assert(new String(footer.takeRight(4), "US-ASCII") == "PAR1")
  }
}
