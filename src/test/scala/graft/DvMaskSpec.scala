package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.MiniDelta

/** The deletion-vector mask step of DV DELETE/UPDATE/MERGE: one mask
  * aggregation per DML (new-row count, old ∪ new mask, cardinality per
  * touched file), full-file removal decided from the manifest's live
  * rows or, for files without stats, a count of just those files — and
  * the Spark job count of each DV DML, pinned. */
class DvMaskSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("dvmask").toString + "/t"

  private val Schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def dvTable(cdf: Boolean = true): String = {
    val t = freshTable()
    MiniDelta.createTable(spark, t, Schema, properties =
      Map("delta.enableDeletionVectors" -> "true") ++
        (if (cdf) Map("delta.enableChangeDataFeed" -> "true") else Map.empty))
    t
  }

  /** One data file holding `ks`. */
  private def appendFile(t: String, ks: Seq[Long]): Unit = {
    MiniDelta.append(spark, ks.map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1), t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
  }

  private def rows(t: String): Set[(Long, String)] = {
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.readFiltered(spark, t, Seq.empty).select("k", "v")
      .as[(Long, String)].collect().toSet
  }

  /** The change feed of commit `v` alone. */
  private def feed(t: String, v: Long): Set[(Long, String, String)] =
    MiniDelta.readCdf(spark, t, v - 1, v).select("k", "v", "_change_type")
      .as[(Long, String, String)].collect().toSet

  private def bins(t: String): Set[String] =
    new java.io.File(t).listFiles().map(_.getName)
      .filter(n => n.startsWith("deletion_vector_") && n.endsWith(".bin"))
      .toSet

  private def commitLines(t: String, v: Long): Seq[String] =
    scala.io.Source.fromFile(f"$t/_delta_log/$v%020d.json").getLines()
      .toSeq

  test("a second DV DELETE that empties a masked file is a plain remove") {
    val t = dvTable()
    appendFile(t, 1L to 4L) // v1
    appendFile(t, Seq(5L, 6L)) // v2
    MiniDelta.delete(spark, t, col("k").isin(1L, 2L), Seq.empty) // v3
    val binsAfterFirst = bins(t)
    assert(binsAfterFirst.size == 1, binsAfterFirst)
    val masked = MiniDelta.snapshotFiles(spark, t)
      .where(col("dv_path").isNotNull).select("path", "dv_card")
      .as[(String, Long)].collect().toSeq
    assert(masked.map(_._2) == Seq(2L), masked)
    MiniDelta.delete(spark, t, col("k").isin(3L, 4L), Seq.empty) // v4
    // the masked file lost its last live rows: removed, never re-added
    // with an all-rows mask, and no new bin was written
    assert(bins(t) == binsAfterFirst)
    val v4 = commitLines(t, 4L)
    assert(v4.count(_.startsWith("{\"remove\"")) == 1, v4)
    assert(!v4.exists(_.startsWith("{\"add\"")), v4)
    assert(v4.exists(l => l.startsWith("{\"remove\"") &&
      l.contains(masked.head._1)), v4)
    MiniDelta.invalidateSnapshot(t)
    assert(!MiniDelta.snapshotFiles(spark, t).select("path").as[String]
      .collect().contains(masked.head._1))
    assert(rows(t) == Set((5L, "v5"), (6L, "v6")))
    assert(feed(t, 3L) == Set((1L, "v1", "delete"), (2L, "v2", "delete")))
    assert(feed(t, 4L) == Set((3L, "v3", "delete"), (4L, "v4", "delete")))
  }

  test("a DV DELETE over a file with stats and one without counts only " +
      "the stats-less file") {
    val t = dvTable()
    appendFile(t, 1L to 3L) // v1: stats carry numRecords
    MiniDelta.setTableProperties(spark, t,
      Map("delta.dataSkippingNumIndexedCols" -> "0")) // v2
    appendFile(t, 4L to 6L) // v3: no stats
    val statsOf = MiniDelta.snapshotFiles(spark, t).select("stats")
      .as[String].collect().toSeq
    assert(statsOf.count(s => s != null && s.contains("numRecords")) == 1,
      statsOf)
    // file 1 keeps k=2,3 under a mask; the stats-less file loses every
    // row (its counted live rows equal its matches) and is removed
    MiniDelta.delete(spark, t, col("k").isin(1L, 4L, 5L, 6L), Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val snap = MiniDelta.snapshotFiles(spark, t).select("dv_card")
      .as[Option[Long]].collect().toSeq
    assert(snap == Seq(Some(1L)), snap)
    assert(rows(t) == Set((2L, "v2"), (3L, "v3")))
    assert(feed(t, 4L) == Set((1L, "v1", "delete"), (4L, "v4", "delete"),
      (5L, "v5", "delete"), (6L, "v6", "delete")))
    // a later delete unions the old mask with the new row
    MiniDelta.delete(spark, t, col("k") === 2L, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.snapshotFiles(spark, t).select("dv_card")
      .as[Long].collect().toSeq == Seq(2L))
    assert(rows(t) == Set((3L, "v3")))
  }

  test("a DV MERGE from driver rows equals the same MERGE from a " +
      "distributed source") {
    def run(src: DataFrame => DataFrame): (Set[(Long, String)],
        Set[(Long, String, String)]) = {
      val t = dvTable()
      appendFile(t, 1L to 4L)
      appendFile(t, 5L to 8L)
      MiniDelta.delete(spark, t, col("k") === 2L, Seq.empty) // v3: a mask
      val source = Seq((1L, "n1"), (3L, "n3"), (6L, "n6"), (9L, "n9"))
        .toDF("k", "v")
      MiniDelta.merge(spark, t, src(source), Seq("k"), Seq.empty) // v4
      (rows(t), feed(t, 4L))
    }
    val local = run(identity)
    val distributed = run(_.repartition(2))
    assert(local == distributed)
    assert(local._1 == Set((1L, "n1"), (3L, "n3"), (4L, "v4"), (5L, "v5"),
      (6L, "n6"), (7L, "v7"), (8L, "v8"), (9L, "n9")), local._1)
    assert(local._2 == Set(
      (1L, "v1", "update_preimage"), (1L, "n1", "update_postimage"),
      (3L, "v3", "update_preimage"), (3L, "n3", "update_postimage"),
      (6L, "v6", "update_preimage"), (6L, "n6", "update_postimage"),
      (9L, "n9", "insert")), local._2)
  }

  /** The Spark jobs one DV DML runs on a fresh two-file table whose
    * first file already carries a mask. */
  private def dmlJobs(op: String => Unit): Seq[TestSpark.CensusJob] = {
    val t = dvTable()
    appendFile(t, 1L to 8L)
    appendFile(t, 9L to 16L)
    MiniDelta.delete(spark, t, col("k") === 1L, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    rows(t) // warm the snapshot the op reads
    TestSpark.jobsDuring(op(t))._2
  }

  test("DV DELETE, UPDATE and MERGE job counts are pinned") {
    val delete = dmlJobs(t =>
      MiniDelta.delete(spark, t, col("k").isin(2L, 3L, 10L), Seq.empty))
    val update = dmlJobs(t =>
      MiniDelta.update(spark, t, col("k").isin(2L, 3L, 10L),
        Map("v" -> lit("u")), Seq.empty))
    val merge = dmlJobs(t =>
      MiniDelta.merge(spark, t,
        Seq((2L, "m"), (10L, "m"), (20L, "m")).toDF("k", "v"),
        Seq("k"), Seq.empty))
    // a failing pin names the call site of every job each op ran
    val census = Seq("delete" -> delete, "update" -> update, "merge" -> merge)
    assert(census.map(c => c._1 -> c._2.size) ==
      Seq("delete" -> 5, "update" -> 6, "merge" -> 9),
      census.map { case (op, jobs) => s"$op:\n  ${jobs.mkString("\n  ")}" }
        .mkString("\n"))
  }
}
