package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.MiniDelta

/** The driver's one commit-file reader: every driver read of a
  * `_delta_log/<v>.json` parses every line (a torn line refuses by
  * name, whichever reader meets it first) and each commit is opened
  * once per process, however many readers consult it. */
class CommitReaderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("commitreader").toString + "/t"

  private def commitFile(t: String, v: Long) =
    Paths.get(f"$t%s/_delta_log/$v%020d.json")

  private def rawCommit(t: String, v: Long, lines: Seq[String]): Unit =
    Files.write(commitFile(t, v), lines.mkString("\n").getBytes("UTF-8"))

  /** A commit a writer died in the middle of: a whole commitInfo line,
    * then an add line cut short. */
  private def tornCommit(t: String, v: Long): Unit =
    rawCommit(t, v, Seq(
      s"""{"commitInfo":{"operation":"WRITE","version":$v,"timestamp":1}}""",
      """{"add":{"path":"part-torn.parquet","size":1234,"partitionValu"""))

  private def refusesByName(t: String, v: Long)(read: => Any): Unit = {
    val e = intercept[MiniDelta.MalformedCommitException](read)
    assert(e.getMessage.contains(s"$t: commit $v "), e.getMessage)
  }

  private def ictOf(t: String, v: Long): Long =
    """"inCommitTimestamp":(\d+)""".r
      .findFirstMatchIn(Files.readString(commitFile(t, v)))
      .getOrElse(sys.error(s"no inCommitTimestamp in $t v$v")).group(1).toLong

  test("a torn tail line refuses every log reader by name") {
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("a", LongType), StructField("v", StringType))),
      clusterBy = Seq("a"))
    MiniDelta.append(spark, Seq((1L, "x")).toDF("a", "v"), t, Seq.empty)
    assert(MiniDelta.clusteringColumns(spark, t) == Seq("a"))
    tornCommit(t, 2L)
    MiniDelta.invalidateSnapshot(t)
    refusesByName(t, 2L)(MiniDelta.latestSchema(spark, t))
    refusesByName(t, 2L)(MiniDelta.tableConfig(spark, t))
    refusesByName(t, 2L)(MiniDelta.clusteringColumns(spark, t))
    refusesByName(t, 2L)(MiniDelta.commitAddBytes(spark, t, 2L))
  }

  test("a torn tail line refuses an append to a row-tracking table") {
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      properties = Map("delta.enableRowTracking" -> "true"))
    MiniDelta.append(spark, Seq((1L, "a")).toDF("id", "v"), t, Seq.empty,
      statsCols = Seq("id"))
    tornCommit(t, 2L)
    MiniDelta.invalidateSnapshot(t)
    refusesByName(t, 2L)(MiniDelta.append(spark,
      Seq((2L, "b")).toDF("id", "v"), t, Seq.empty, statsCols = Seq("id")))
  }

  test("a rebasing DELETE whose winner is torn refuses by name") {
    val t = freshTable()
    MiniDelta.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t,
      Seq.empty)
    MiniDelta.readFiltered(spark, t, Seq.empty).collect()
    MiniDelta.beforeDmlCommitHook = () => {
      MiniDelta.beforeDmlCommitHook = () => ()
      tornCommit(t, 1L)
    }
    try refusesByName(t, 1L)(
      MiniDelta.delete(spark, t, col("id") === 1L, Seq.empty))
    finally MiniDelta.beforeDmlCommitHook = () => ()
  }

  test("DROP FEATURE's history trace refuses a torn pre-checkpoint line") {
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    MiniDelta.append(spark, Seq((1L, "a")).toDF("id", "v"), t, Seq.empty)
    MiniDelta.writeCheckpoint(spark, t, 1L)
    // only the history trace reads below the checkpoint
    Files.write(commitFile(t, 0L),
      "\n{\"commitInfo\":{\"operat".getBytes("UTF-8"),
      StandardOpenOption.APPEND)
    MiniDelta.invalidateSnapshot(t)
    refusesByName(t, 0L)(MiniDelta.dropFeature(spark, t, "deletionVectors"))
  }

  test("an engine commit's in-commit timestamp follows a foreign " +
      "commit's future clock") {
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      properties = Map("delta.enableInCommitTimestamps" -> "true"))
    MiniDelta.append(spark, Seq((1L, "a")).toDF("id", "v"), t, Seq.empty)
    // another writer's v2, its clock an hour ahead of this one's
    val future = System.currentTimeMillis() + 3600L * 1000L
    rawCommit(t, 2L, Seq(s"""{"commitInfo":{"operation":"WRITE",""" +
      s""""version":2,"timestamp":$future,"inCommitTimestamp":$future}}"""))
    MiniDelta.append(spark, Seq((2L, "b")).toDF("id", "v"), t, Seq.empty)
    assert(ictOf(t, 3L) > ictOf(t, 2L),
      s"ICT(v3) ${ictOf(t, 3L)} <= ICT(v2) ${ictOf(t, 2L)}")
  }

  test("each new commit file is opened once, however many readers " +
      "consult it") {
    val t = freshTable()
    MiniDelta.append(spark, Seq((1L, "a")).toDF("id", "v"), t, Seq.empty)
    MiniDelta.readFiltered(spark, t, Seq.empty).collect()
    val before = MiniDelta.commitNodesMemo.misses
    MiniDelta.append(spark, Seq((2L, "b")).toDF("id", "v"), t, Seq.empty)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 2L)
    assert(MiniDelta.latestSchema(spark, t).exists(_.fieldNames.contains("v")))
    MiniDelta.tableConfig(spark, t)
    assert(MiniDelta.commitNodesMemo.misses - before == 1L)
    MiniDelta.append(spark, Seq((3L, "c")).toDF("id", "v"), t, Seq.empty)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 3L)
    assert(MiniDelta.latestSchema(spark, t).isDefined)
    assert(MiniDelta.commitNodesMemo.misses - before == 2L)
  }
}
