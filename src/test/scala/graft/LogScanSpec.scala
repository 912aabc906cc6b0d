package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.MiniDelta

/** The one log scan behind every log consumer: its driver arm (a window
  * under `spark.graft.snapshot.localReplayMaxBytes`, folded over the
  * memoized commit nodes) and its executor arm (forced with the cap at
  * 0) run the same projection, so every consumer gives equal answers on
  * either arm. The arm that ran is read off
  * `MiniDelta.driverLogScans`/`distributedLogScans`. */
class LogScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val MaxBytes = "spark.graft.snapshot.localReplayMaxBytes"
  private val MaxCpRows = "spark.graft.snapshot.localReplayMaxCpRows"

  private def freshTable(): String =
    Files.createTempDirectory("logscan").toString + "/t"

  /** `body` on one arm, asserting through the counters that it ran:
    * forced (byte cap 0), the executor arm serves at least one scan;
    * under the default caps, none. */
  private def onArm[T](distributed: Boolean, tables: String*)
                      (body: => T): T = {
    val old = Seq(MaxBytes, MaxCpRows).map(k => k -> spark.conf.getOption(k))
    if (distributed) spark.conf.set(MaxBytes, "0")
    else old.foreach(kv => spark.conf.unset(kv._1))
    tables.foreach(MiniDelta.invalidateSnapshot)
    val before = MiniDelta.distributedLogScans.get()
    try {
      val out = body
      val ran = MiniDelta.distributedLogScans.get() - before
      assert(if (distributed) ran > 0 else ran == 0, s"executor scans: $ran")
      out
    } finally old.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def commitFile(t: String, v: Long): Path =
    Paths.get(f"$t%s/_delta_log/$v%020d.json")

  /** A commit adding `path` (an existing data file of `t`) twice, with
    * different stats: the second line is the path's newest add. */
  private def doubleAdd(t: String, v: Long, path: String): Unit = {
    val size = Files.size(Paths.get(s"$t/$path"))
    def add(n: Int) =
      s"""{"add":{"path":"$path","partitionValues":{},"size":$size,""" +
        s""""modificationTime":$n,"dataChange":false,""" +
        s""""stats":"{\\"numRecords\\":$n}"}}"""
    Files.write(commitFile(t, v), Seq(
      s"""{"commitInfo":{"timestamp":${System.currentTimeMillis()},""" +
        s""""operation":"WRITE"}}""", add(1), add(2))
      .mkString("\n").getBytes("UTF-8"))
    MiniDelta.invalidateSnapshot(t)
  }

  private def show(rows: Iterable[Row]): Seq[String] =
    rows.map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private val Schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def appendKeys(t: String, ks: Seq[Long],
                         txn: Option[(String, Long)] = None): Unit = {
    MiniDelta.append(spark, ks.map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1), t, Seq.empty, txn = txn)
    MiniDelta.invalidateSnapshot(t)
  }

  /** v0 create (DV + CDF, checkpoint every 5 commits); v1-v2 appends;
    * v3 a DV delete (remove + re-add of one path); v4 an append, then
    * the checkpoint at v4; the JSON tail: v5 a delete that removes a
    * whole file, v6 a second DV swap, v7 an append, v8 a hand-written
    * commit adding v7's file twice. Appends record `txn` ("app", n). */
  private def table(): String = {
    val t = freshTable()
    MiniDelta.createTable(spark, t, Schema, properties = Map(
      "delta.enableDeletionVectors" -> "true",
      "delta.enableChangeDataFeed" -> "true",
      "delta.checkpointInterval" -> "5"))
    appendKeys(t, 1L to 4L, Some(("app", 1L))) // v1
    appendKeys(t, Seq(5L, 6L), Some(("app", 2L))) // v2
    MiniDelta.delete(spark, t, col("k") === 1L, Seq.empty) // v3
    appendKeys(t, Seq(7L, 8L), Some(("app", 3L))) // v4
    assert(new java.io.File(
      f"$t/_delta_log/${4}%020d.checkpoint.parquet").exists())
    MiniDelta.delete(spark, t, col("k").isin(5L, 6L), Seq.empty) // v5
    MiniDelta.delete(spark, t, col("k") === 2L, Seq.empty) // v6
    appendKeys(t, Seq(9L), Some(("app", 4L))) // v7
    val v7File = MiniDelta.snapshotFiles(spark, t)
      .where(col("stats").contains("\"numRecords\":1,"))
      .select("path").as[String].collect()
    assert(v7File.length == 1, v7File.toSeq)
    doubleAdd(t, 8L, v7File.head) // v8
    t
  }

  private def copyOf(t: String): String = {
    val to = freshTable()
    val src = Paths.get(t)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      Files.copy(p, Paths.get(to).resolve(src.relativize(p).toString),
        StandardCopyOption.COPY_ATTRIBUTES)
      ()
    } finally walk.close()
    to
  }

  test("every log consumer answers alike on the driver and executor arms") {
    val t = table()
    val future = System.currentTimeMillis() + 30L * 86400000
    def answers(distributed: Boolean): Map[String, Any] =
      onArm(distributed, t) {
        val ts5 = MiniDelta.commitTimestamps(spark, t, 5L, 5L)(5L)
        def versions(cdf: Boolean): Seq[Long] = {
          val dir = Files.createTempDirectory("logscanfeed").toString
          val seen = Seq.newBuilder[Long]
          if (cdf) MiniDelta.processCdf(spark, t, dir)((_, v) => seen += v)
          else MiniDelta.processChanges(spark, t, dir)((_, v) => seen += v)
          seen.result()
        }
        Map(
          "snapshot" -> show(MiniDelta.snapshotFilesAt(spark, t, 8L)
            .collect()),
          "snapshot@6" -> show(MiniDelta.snapshotFilesAt(spark, t, 6L)
            .collect()),
          "snapshot, no checkpoint" -> show(MiniDelta.snapshotFilesAt(
            spark, t, 8L, useCheckpoint = false).collect()),
          "history" -> MiniDelta.history(spark, t).collect().toSeq
            .map(_.toSeq),
          "commitTimestamps" -> MiniDelta.commitTimestamps(spark, t, 0L, 8L),
          "versionAtTimestamp" ->
            MiniDelta.versionAtTimestamp(spark, t, ts5),
          "lastTxnVersion" -> MiniDelta.lastTxnVersion(spark, t, "app"),
          "readAppends" -> show(MiniDelta.readAppends(spark, t, 6L, 8L)
            .collect()),
          "readAppends, skipping changes" -> show(MiniDelta.readAppends(
            spark, t, 0L, 8L, skipChangeCommits = true).collect()),
          "readCdf" -> show(MiniDelta.readCdf(spark, t, 0L, 8L).collect()),
          "readChanges" -> show(MiniDelta.readChanges(spark, t, 0L, 8L)
            .collect()),
          "processChanges" -> versions(cdf = false),
          "processCdf" -> versions(cdf = true),
          "vacuum dry run" -> MiniDelta.vacuum(spark, t, nowMs = () => future,
            dryRun = true).sorted,
          "vacuum lite dry run" -> MiniDelta.vacuum(spark, t,
            nowMs = () => future, dryRun = true, lite = true).sorted)
      }
    val driver = answers(distributed = false)
    val executors = answers(distributed = true)
    driver.keys.foreach(k => assert(driver(k) == executors(k), k))
    // the answers are the table's, not two equal wrong ones
    assert(driver("lastTxnVersion") == 4L)
    // the DV'd v1 file, v4's and v7's; v2's file is removed
    assert(driver("snapshot").asInstanceOf[Seq[String]].size == 3)
    assert(driver("history").asInstanceOf[Seq[Seq[Any]]].head.head == 8L)
    val woken = driver("processChanges").asInstanceOf[Seq[Long]]
    assert(Seq(1L, 2L, 4L, 7L).forall(woken.contains) && !woken.contains(8L))
    assert(driver("processCdf").asInstanceOf[Seq[Long]].contains(5L))
    assert(driver("readAppends") == Seq("9|v9"))
    assert(driver("vacuum lite dry run").asInstanceOf[Seq[String]].nonEmpty)
  }

  test("a checkpoint carries the same tombstones and txns on either arm") {
    val (a, b) = { val t = table(); (copyOf(t), copyOf(t)) }
    def carried(t: String, distributed: Boolean): (Seq[String], Seq[String]) =
      onArm(distributed, t) {
        MiniDelta.writeCheckpoint(spark, t, 8L)
        val cp = spark.read.parquet(
          f"$t/_delta_log/${8}%020d.checkpoint.parquet")
        (show(cp.where(col("remove").isNotNull)
          .select("remove.path", "remove.deletionTimestamp").collect()),
          show(cp.where(col("txn").isNotNull)
            .select("txn.appId", "txn.version").collect()))
      }
    val (driverRemoves, driverTxns) = carried(a, distributed = false)
    assert(driverRemoves.nonEmpty)
    assert(driverTxns == Seq("app|4"))
    assert(carried(b, distributed = true) == ((driverRemoves, driverTxns)))
  }

  test("a commit that adds one path twice replays to its last line on " +
      "either arm") {
    val t = freshTable()
    MiniDelta.createTable(spark, t, Schema)
    appendKeys(t, Seq(1L, 2L)) // v1
    val path = MiniDelta.snapshotFiles(spark, t).select("path").as[String]
      .collect().head
    doubleAdd(t, 2L, path)
    def manifest(distributed: Boolean): Seq[(String, Long, String)] =
      onArm(distributed, t) {
        MiniDelta.snapshotFiles(spark, t)
          .select("path", "modificationTime", "stats")
          .as[(String, Long, String)].collect().toSeq
      }
    val last = Seq((path, 2L, """{"numRecords":2}"""))
    assert(manifest(distributed = false) == last)
    assert(manifest(distributed = true) == last)
  }

  test("a torn line refuses the log consumers by name on the executor arm") {
    val t = freshTable()
    MiniDelta.createTable(spark, t, Schema)
    appendKeys(t, Seq(1L)) // v1
    Files.write(commitFile(t, 2L), Seq(
      s"""{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
      """{"remove":{"path":"part-x.parquet","dataCha""")
      .mkString("\n").getBytes("UTF-8"))
    MiniDelta.invalidateSnapshot(t)
    def refused(read: => Any): Unit = {
      val e = intercept[MiniDelta.MalformedCommitException](read)
      assert(e.getMessage.contains(s"$t: commit 2 "), e.getMessage)
    }
    onArm(distributed = true, t) {
      refused(MiniDelta.history(spark, t))
      refused(MiniDelta.commitTimestamps(spark, t, 0L, 2L))
      refused(MiniDelta.lastTxnVersion(spark, t, "app"))
      refused(MiniDelta.versionAtTimestamp(spark, t, Long.MaxValue))
    }
  }

  test("the commit reader streams: each line parses as the reader reaches " +
      "it") {
    val t = freshTable()
    MiniDelta.createTable(spark, t, Schema)
    Files.write(commitFile(t, 1L), Seq(
      """{"commitInfo":{"timestamp":1,"operation":"WRITE"}}""",
      """{"txn":{"appId":"app","version":1}}""",
      """{"remove":{"path":"part-x.parquet","dataCha""")
      .mkString("\n").getBytes("UTF-8"))
    val p = commitFile(t, 1L).toString
    val in = Files.newInputStream(commitFile(t, 1L))
    try {
      val lines = MiniDelta.commitLines(in,
        new com.fasterxml.jackson.databind.ObjectMapper(), p)
      // the torn last line is not read before the lines ahead of it
      assert(lines.next().has("commitInfo"))
      assert(lines.next().has("txn"))
      val e = intercept[MiniDelta.MalformedCommitException](lines.next())
      assert(e.getMessage.contains(s"$t: commit 1 "), e.getMessage)
    } finally in.close()
  }

  test("a many-line commit answers alike on the driver and executor arms") {
    val t = freshTable()
    MiniDelta.createTable(spark, t, Schema)
    appendKeys(t, Seq(1L, 2L), Some(("app", 1L))) // v1
    val v1File = MiniDelta.snapshotFiles(spark, t).select("path").as[String]
      .collect().head
    // v2: one commit of 40,000 adds (a few MB, under the default cap)
    // that also removes v1's file
    val n = 40000
    Files.write(commitFile(t, 2L), (Iterator(
      s"""{"commitInfo":{"timestamp":${System.currentTimeMillis()},""" +
        s""""operation":"WRITE"}}""",
      s"""{"remove":{"path":"$v1File","deletionTimestamp":1,""" +
        s""""dataChange":true}}""",
      s"""{"txn":{"appId":"app","version":2}}""") ++
      Iterator.tabulate(n)(i =>
        s"""{"add":{"path":"part-$i.parquet","partitionValues":{},""" +
          s""""size":$i,"modificationTime":$i,"dataChange":true}}"""))
      .mkString("\n").getBytes("UTF-8"))
    MiniDelta.invalidateSnapshot(t)
    val future = System.currentTimeMillis() + 30L * 86400000
    def answers(distributed: Boolean): Map[String, Any] =
      onArm(distributed, t) {
        Map(
          "snapshot" -> MiniDelta.snapshotFiles(spark, t)
            .select("path", "size").as[(String, Long)].collect().toSet,
          "history" -> MiniDelta.history(spark, t).collect().toSeq
            .map(_.toSeq),
          "commitTimestamps" -> MiniDelta.commitTimestamps(spark, t, 0L, 2L),
          "lastTxnVersion" -> MiniDelta.lastTxnVersion(spark, t, "app"),
          "vacuum dry run" -> MiniDelta.vacuum(spark, t, nowMs = () => future,
            dryRun = true).sorted)
      }
    val driver = answers(distributed = false)
    val executors = answers(distributed = true)
    driver.keys.foreach(k => assert(driver(k) == executors(k), k))
    assert(driver("snapshot") ==
      (0 until n).map(i => (s"part-$i.parquet", i.toLong)).toSet)
    assert(driver("history").asInstanceOf[Seq[Seq[Any]]].head ==
      Seq(2L, "WRITE", n.toLong, 1L))
    assert(driver("lastTxnVersion") == 2L)
    assert(driver("vacuum dry run").asInstanceOf[Seq[String]]
      .exists(_.endsWith(v1File)))
    // the raw log frame reads the same commit
    assert(MiniDelta.logDF(spark, t).where(col("add").isNotNull)
      .count() == n + 1)
  }
}
