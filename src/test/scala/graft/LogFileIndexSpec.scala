package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.MiniDelta
import graft.plans.{GovernedTables, GraftSqlTables}

/** The log-backed file index: every table-data read plans from the
  * snapshot's own rows (path, size, modificationTime, partitionValues)
  * instead of re-listing the paths. Each case compares the log-backed
  * read with the path-based reader it replaced
  * (`spark.read.option("basePath", root).schema(declared).parquet(files)`)
  * or, where the two must differ, pins the log's answer. */
class LogFileIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("logindex").toString + "/t"

  private def jsonStr(s: String): String =
    com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .writeValueAsString(s)

  private def rawCommit(t: String, v: Long, lines: Seq[String]): Unit = {
    new java.io.File(s"$t/_delta_log").mkdirs()
    Files.write(java.nio.file.Paths.get(f"$t%s/_delta_log/$v%020d.json"),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  /** The snapshot's files, resolved against the table root. */
  private def liveFiles(t: String): Seq[String] =
    MiniDelta.snapshotFiles(spark, t).select("path").as[String].collect()
      .map(p => if (p.startsWith("/")) p else s"$t/$p").toSeq

  /** The path-based reader the index replaced, over the same files. */
  private def pathRead(t: String, files: Seq[String]): DataFrame = {
    val declared = MiniDelta.latestSchema(spark, t).get
    val df = spark.read.option("basePath", t).schema(declared)
      .parquet(files: _*)
    df.select(declared.fieldNames.map(col).toIndexedSeq: _*)
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def relations(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case r: LogicalRelation => r }.size

  private def withSessionConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("null and path-escaped partition values read as the path reader " +
      "does; the log records the unescaped value") {
    val t = freshTable()
    MiniDelta.append(spark, Seq((1L, "a/b"), (2L, "a b"), (3L, null),
        (4L, "plain"), (5L, "100%")).toDF("id", "k"), t, Seq("k"))
    MiniDelta.invalidateSnapshot(t)
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(relations(got) == 1)
    assert(rowsOf(got) == rowsOf(pathRead(t, liveFiles(t))))
    assert(got.where(col("k").isNull).select("id").as[Long].collect()
      .toSeq == Seq(3L))
    val pvs = MiniDelta.snapshotFiles(spark, t)
      .select(element_at(col("partitionValues"), "k")).as[String]
      .collect().toSet
    assert(pvs == Set("a/b", "a b", "__HIVE_DEFAULT_PARTITION__", "plain",
      "100%"), pvs)
    // the ACL/pruning path matches on the same unescaped value
    assert(MiniDelta.readFiltered(spark, t, Seq(Map("k" -> "a/b")))
      .select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("a log that records escaped directory values (this engine's " +
      "earlier writer) reads as the path reader does") {
    withSessionConf("spark.sql.session.timeZone", "America/Los_Angeles") {
      val t = freshTable()
      val df = Seq((1L, "a/b", "2024-03-01 01:30:00"),
          (2L, "plain", "2024-03-02 00:00:00"))
        .toDF("id", "s", "ts")
        .select(col("id"), col("s"), to_timestamp(col("ts")).as("ts"))
      df.coalesce(1).write.partitionBy("s", "ts").parquet(t)
      val root = new java.io.File(t).toPath
      val files = Files.walk(root).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
      // that writer logged each k=v directory segment verbatim
      val adds = files.map { f =>
        val rel = root.relativize(f).toString
        val pv = rel.split("/").dropRight(1).map { seg =>
          val Array(k, v) = seg.split("=", 2)
          s"${jsonStr(k)}:${jsonStr(v)}"
        }.mkString(",")
        s"""{"add":{"path":${jsonStr(rel)},"partitionValues":{$pv},""" +
          s""""size":${f.toFile.length},"dataChange":true}}"""
      }
      rawCommit(t, 0L, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"t","schemaString":${jsonStr(df.schema.json)},""" +
          """"partitionColumns":["s","ts"],"configuration":{}}}""") ++ adds)
      val logged = MiniDelta.snapshotFiles(spark, t)
        .select(explode(map_values(col("partitionValues")))).as[String]
        .collect().toSet
      assert(logged.contains("a%2Fb") &&
        logged.contains("2024-03-01 01%3A30%3A00"), logged)
      val got = MiniDelta.readFiltered(spark, t, Seq.empty)
      assert(rowsOf(got) == rowsOf(pathRead(t, liveFiles(t))))
      assert(got.where(col("s") === "a/b")
        .select(col("id"), col("ts").cast("string")).as[(Long, String)]
        .collect().toSeq == Seq((1L, "2024-03-01 01:30:00")))
    }
    // a value that only looks escaped keeps its text: its directory,
    // escaped once more, differs from it
    val t2 = freshTable()
    MiniDelta.append(spark, Seq((1L, "a%2Fb")).toDF("id", "s"), t2, Seq("s"))
    assert(MiniDelta.readFiltered(spark, t2, Seq.empty).select("s")
      .as[String].collect().toSeq == Seq("a%2Fb"))
  }

  test("date and timestamp partitions under a non-UTC session time zone") {
    withSessionConf("spark.sql.session.timeZone", "America/Los_Angeles") {
      val t = freshTable()
      MiniDelta.append(spark, Seq(
          (1L, "2024-03-01", "2024-03-01 01:30:00"),
          (2L, "2024-03-10", "2024-03-10 23:59:59.123456"),
          (3L, "1999-12-31", "1999-12-31 12:00:00"))
        .toDF("id", "d", "ts")
        .select(col("id"), to_date(col("d")).as("d"),
          to_timestamp(col("ts")).as("ts")),
        t, Seq("d", "ts"))
      MiniDelta.invalidateSnapshot(t)
      val got = MiniDelta.readFiltered(spark, t, Seq.empty)
      assert(rowsOf(got) == rowsOf(pathRead(t, liveFiles(t))))
      assert(got.where(col("ts") === to_timestamp(
          lit("2024-03-10 23:59:59.123456"))).select("id").as[Long]
        .collect().toSeq == Seq(2L))
      assert(got.where(col("d") === to_date(lit("1999-12-31")))
        .count() == 1)
    }
  }

  test("a file whose directory does not encode its value reads the " +
      "log's value") {
    val t = freshTable()
    def land(dir: String, ids: Seq[Long]): (String, Long) = {
      val out = Files.createTempDirectory("land").toString + "/o"
      ids.toDF("id").coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(s"$t/$dir/${part.getName}")
      dest.getParentFile.mkdirs()
      Files.move(part.toPath, dest.toPath)
      (s"$dir/${part.getName}", dest.length())
    }
    val (f1, s1) = land("elsewhere", Seq(1L, 2L))
    val (f2, s2) = land("p=y", Seq(3L))
    val schema = Seq((1L, "x")).toDF("id", "p").schema.json
    rawCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","schemaString":${jsonStr(schema)},""" +
        """"partitionColumns":["p"],"configuration":{}}}""",
      s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{"p":"x"},""" +
        s""""size":$s1,"dataChange":true}}""",
      s"""{"add":{"path":${jsonStr(f2)},"partitionValues":{"p":"z"},""" +
        s""""size":$s2,"dataChange":true}}"""))
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "x"), (2L, "x"), (3L, "z")))
    // partition pruning prunes on the log's value too
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .where(col("p") === "z").select("id").as[Long].collect().toSeq ==
      Seq(3L))
  }

  test("a shallow clone mixing two roots reads as one relation") {
    val src = freshTable()
    MiniDelta.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "k"),
      src, Seq("k"))
    val clone = freshTable()
    MiniDelta.cloneShallow(spark, src, clone)
    MiniDelta.append(spark, Seq((3L, "a"), (4L, "c")).toDF("id", "k"),
      clone, Seq("k"))
    MiniDelta.invalidateSnapshot(clone)
    val files = liveFiles(clone)
    assert(files.exists(_.startsWith(src)) && files.exists(_.startsWith(clone)))
    val got = MiniDelta.readFiltered(spark, clone, Seq.empty)
    assert(relations(got) == 1)
    // the path reader needs one basePath per root
    val (fromSrc, own) = files.partition(_.startsWith(src))
    val before = pathRead(src, fromSrc).unionByName(pathRead(clone, own))
    assert(rowsOf(got) == rowsOf(before))
    assert(rowsOf(got) == Seq("1|a", "2|b", "3|a", "4|c"))
  }

  test("a DV'd table masks rows through _metadata.row_index") {
    val t = freshTable()
    MiniDelta.createTable(spark, t,
      Seq((1L, "a")).toDF("id", "k").schema, partitionBy = Seq("k"),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    MiniDelta.append(spark, (1L to 40L).map(i => (i, if (i % 2 == 0) "a"
      else "b")).toDF("id", "k"), t, Seq("k"))
    MiniDelta.delete(spark, t, col("id") % 5 === 0, Seq("k"))
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.snapshotFiles(spark, t).where(col("dv_path").isNotNull)
      .count() > 0)
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(got.select("id").as[Long].collect().sorted.toSeq ==
      (1L to 40L).filterNot(_ % 5 == 0))
    assert(got.where(col("k") === "a").count() == 16)
  }

  test("an id-mode column-mapped table reads by footer field id") {
    val t = freshTable()
    import org.apache.spark.sql.types._
    MiniDelta.createTable(spark, t, StructType(Seq(
        StructField("id", LongType), StructField("part", StringType),
        StructField("qty", LongType))),
      partitionBy = Seq("part"),
      properties = Map("delta.columnMapping.mode" -> "id"))
    MiniDelta.append(spark, Seq((1L, "p1", 10L), (2L, "p2", 20L),
      (3L, "p1", 30L)).toDF("id", "part", "qty"), t, Seq("part"))
    MiniDelta.renameColumn(spark, t, "qty", "amount")
    MiniDelta.invalidateSnapshot(t)
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(got.columns.toSeq == Seq("id", "part", "amount"))
    assert(got.orderBy("id").as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "p1", 10L), (2L, "p2", 20L), (3L, "p1", 30L)))
    assert(MiniDelta.readFiltered(spark, t, Seq(Map("part" -> "p1")))
      .agg(sum("amount")).head().getLong(0) == 40L)
  }

  test("governed spark.sql reads are still rewritten by the ACL rule") {
    val t = freshTable()
    MiniDelta.append(spark, (1L to 12L).map(i =>
        (i, Seq("XLON", "XPAR", "XMIL")((i % 3).toInt))).toDF("id", "mic"),
      t, Seq("mic"))
    MiniDelta.invalidateSnapshot(t)
    GraftSqlTables.register("lfi_gov", t)
    try {
      GovernedTables.govern(t, Seq(Map("mic" -> "XLON")))
      val mics = spark.sql("SELECT DISTINCT mic FROM graft.lfi_gov")
        .as[String].collect().toSet
      assert(mics == Set("XLON"))
      // an unmatched key fails closed: nothing is allowed
      GovernedTables.govern(t, Seq(Map("no_such_col" -> "XLON")))
      assert(spark.sql("SELECT * FROM graft.lfi_gov").count() == 0)
    } finally { GovernedTables.clear(); GraftSqlTables.clear() }
  }

  test("a log naming a file missing on disk fails loudly by path") {
    val t = freshTable()
    MiniDelta.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "k"),
      t, Seq("k"))
    MiniDelta.invalidateSnapshot(t)
    val gone = liveFiles(t).head
    new java.io.File(gone).delete()
    val e = intercept[Exception] {
      MiniDelta.readFiltered(spark, t, Seq.empty).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).mkString
    assert(msgs.contains(new java.io.File(gone).getName), msgs)
  }

  test("a read over more than 32 files runs no listing job") {
    val t = freshTable()
    MiniDelta.append(spark, (1L to 40L).map(i => (i, s"p$i")).toDF("id", "k"),
      t, Seq("k"))
    MiniDelta.invalidateSnapshot(t)
    assert(liveFiles(t).size == 40)
    val (total, jobs) = TestSpark.jobsDuring(
      MiniDelta.readFiltered(spark, t, Seq.empty)
        .agg(sum("id")).head().getLong(0))
    assert(total == 820L)
    assert(jobs.nonEmpty &&
      !jobs.exists(_.description.startsWith("Listing leaf files")),
      jobs)
  }

  /** v0 writes two files, v1 appends; v2 is a torn commit whose only
    * line is a truncated `remove` of the first file. */
  private def tornRemoveTable(): (String, String) = {
    val t = freshTable()
    MiniDelta.append(spark, Seq(1L, 2L).toDF("id"), t, Seq.empty)
    MiniDelta.append(spark, Seq(3L).toDF("id"), t, Seq.empty)
    val first = MiniDelta.snapshotFilesAt(spark, t, 0L).select("path")
      .as[String].head()
    rawCommit(t, 2L, Seq(
      s"""{"remove":{"path":${jsonStr(first)},"dataChange":true,"dele"""))
    MiniDelta.invalidateSnapshot(t)
    (t, first)
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("a truncated remove line fails the driver replay by name") {
    val (t, _) = tornRemoveTable()
    val e = intercept[MiniDelta.MalformedCommitException] {
      MiniDelta.readFiltered(spark, t, Seq.empty).collect()
    }
    assert(e.getMessage.contains(s"$t: commit 2 "), e.getMessage)
  }

  test("a truncated remove line fails the distributed replay by name") {
    val (t, _) = tornRemoveTable()
    withSessionConf("spark.graft.snapshot.localReplayMaxBytes", "0") {
      val e = intercept[Exception] {
        MiniDelta.snapshotFiles(spark, t).collect()
      }
      val named = causes(e).collect {
        case m: MiniDelta.MalformedCommitException => m }
      assert(named.nonEmpty, causes(e).map(_.toString).mkString("\n"))
      assert(named.head.getMessage.contains(s"$t: commit 2 "),
        named.head.getMessage)
      // the full-log frame fails the same way, also where a read
      // selects one action column or none
      def refused(read: => Any): Boolean = causes(intercept[Exception](
        read)).exists(_.isInstanceOf[MiniDelta.MalformedCommitException])
      assert(refused(MiniDelta.logDF(spark, t).collect()))
      assert(refused(MiniDelta.logDF(spark, t).count()))
      assert(refused(MiniDelta.lastTxnVersion(spark, t, "app")))
    }
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("readFiltered/filesForFilters: driver and distributed replay arms agree") {
    // null partition values and a deletion-vectored file
    val t = freshTable()
    MiniDelta.append(spark, Seq[(Long, String, String)]((1L, "a", "x"),
      (2L, "b", null), (3L, "c", "x"), (4L, "d", "y")).toDF("id", "v", "p")
      .coalesce(1), t, Seq("p"))
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    MiniDelta.delete(spark, t, col("id") === 3L, Seq("p"))
    MiniDelta.invalidateSnapshot(t)
    // a name-mapped table: partitionValues are keyed by physical names,
    // the filters by logical ones
    val m = freshTable()
    MiniDelta.createTable(spark, m, org.apache.spark.sql.types.StructType
      .fromDDL("id BIGINT, p STRING"), partitionBy = Seq("p"),
      properties = Map("delta.columnMapping.mode" -> "name"))
    MiniDelta.append(spark, Seq[(Long, String)]((1L, "x"), (2L, null),
      (3L, "y")).toDF("id", "p"), m, Seq("p"))
    MiniDelta.invalidateSnapshot(m)
    val filterSets: Seq[Seq[Map[String, String]]] = Seq(Seq.empty,
      Seq(Map("p" -> "x")), Seq(Map("nope" -> "x")),
      Seq(Map("nope" -> "x"), Map("p" -> "y")), Seq(Map("p" -> null)),
      Seq(Map("p" -> "x", "nope" -> "x")), Seq(Map.empty, Map("p" -> "y")))
    def answers(): Seq[Seq[String]] = for (tbl <- Seq(t, m);
                                           fs <- filterSets) yield
      rowsOf(MiniDelta.readFiltered(spark, tbl, fs).select("id"))
    def files(): Seq[Seq[String]] = filterSets.map(fs => rowsOf(
      MiniDelta.filesForFilters(MiniDelta.snapshotFiles(spark, t), fs)
        .select("path", "dv_path", "partitionValues")))
    // the driver half pins both replay caps at their defaults, so it
    // runs the driver arm whatever caps the session was started with
    val (driver, driverFiles) =
      withSessionConf("spark.graft.snapshot.localReplayMaxBytes",
          (8L * 1024 * 1024).toString) {
        withSessionConf("spark.graft.snapshot.localReplayMaxCpRows",
            "100000") {
          Seq(t, m).foreach(MiniDelta.invalidateSnapshot)
          val snap = MiniDelta.snapshotFiles(spark, t)
          assert(isLocal(snap) &&
            isLocal(MiniDelta.filesForFilters(snap, Seq(Map("p" -> "x")))))
          (answers(), files())
        }
      }
    val (dist, distFiles) =
      withSessionConf("spark.graft.snapshot.localReplayMaxBytes", "0") {
        assert(!isLocal(MiniDelta.snapshotFiles(spark, t)))
        (answers(), files())
      }
    assert(driver == dist)
    assert(driverFiles == distFiles)
    assert(driver.take(filterSets.size) == Seq(Seq("1", "2", "4"), Seq("1"),
      Seq(), Seq("4"), Seq(), Seq(), Seq("4")))
    assert(driver.drop(filterSets.size) == Seq(Seq("1", "2", "3"), Seq("1"),
      Seq(), Seq("3"), Seq(), Seq(), Seq("3")))
    // the deletion-vectored file keeps its ref through the prune
    assert(driverFiles(1).size == 1 && !driverFiles(1).head.contains("|null|"))
  }
}
