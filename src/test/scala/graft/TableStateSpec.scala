package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.MiniDelta

/** The table's metadata state (protocol, metaData fields, live domains)
  * is one fold per version, `MiniDelta.tableState`, read by every gate
  * and metadata reader: the fold from a checkpoint equals the fold from
  * v0, a version folds once however many readers ask, every spelling
  * of a table's root reads and clears the same memo entries, a domain
  * tombstone retires its domain, a checkpoint carries every live
  * domain, and a protocol action missing a version fails by name on
  * reads and writes. */
class TableStateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("tablestate").toString + "/t"

  /** Hand-write commit `v` of `t` from its action lines. */
  private def commit(t: String, v: Long, actions: String*): Unit =
    Files.write(Paths.get(f"$t%s/_delta_log/$v%020d.json"),
      ((s"""{"commitInfo":{"timestamp":${System.currentTimeMillis()},""" +
        s""""operation":"MANUAL UPDATE"}}""") +: actions)
        .mkString("\n").getBytes("UTF-8"))

  private def esc(json: String): String = json.replace("\"", "\\\"")

  test("the state folded from a checkpoint equals the fold from v0 at " +
      "every version") {
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("a", LongType), StructField("b", StringType))),
      properties = Map("delta.enableRowTracking" -> "true"),
      clusterBy = Seq("a"))                                          // v0
    def rows(lo: Long) = (lo until lo + 6L).map(i => (i, s"b$i"))
      .toDF("a", "b").coalesce(1)
    MiniDelta.append(spark, rows(0L), t, Seq.empty)                  // v1
    MiniDelta.setTableProperties(spark, t, Map("app.owner" -> "x"))  // v2
    MiniDelta.append(spark, rows(10L), t, Seq.empty)                 // v3
    MiniDelta.writeCheckpoint(spark, t, 3L)
    MiniDelta.addColumns(spark, t, Seq(StructField("c", StringType))) // v4
    MiniDelta.unsetTableProperties(spark, t, Seq("app.owner"))      // v5
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))                  // v6
    MiniDelta.delete(spark, t, col("a") === 1L, Seq.empty)           // v7
    MiniDelta.writeCheckpoint(spark, t, 7L)
    MiniDelta.append(spark, Seq((20L, "b20", "c20")).toDF("a", "b", "c"),
      t, Seq.empty)                                                  // v8
    MiniDelta.setClusterBy(spark, t, Seq("a", "b"))                  // v9
    val latest = MiniDelta.latestVersion(spark, t)
    assert(latest == 9L)
    // newest first, so each checkpoint is folded from its own rows: one
    // checkpoint read is one Spark job
    MiniDelta.invalidateSnapshot(t)
    val (top, jobs) = TestSpark.jobsDuring(MiniDelta.tableState(spark, t, 9L))
    assert(jobs.size == 1, jobs.mkString("; "))
    val fromCp = (latest to 0L by -1L).map(MiniDelta.tableState(spark, t, _))
      .reverse
    MiniDelta.invalidateSnapshot(t)
    val fromV0 = (0L to latest).map(MiniDelta.tableState(spark, t, _,
      cpAtMost = -1L))
    (0 to latest.toInt).foreach(v =>
      assert(fromCp(v) == fromV0(v), s"state at v$v"))
    assert(fromCp(9) == top)
    // the fold saw every change the table went through
    assert(fromV0(2).config.get("app.owner").contains("x"))
    assert(!fromV0(5).config.contains("app.owner"))
    assert(fromV0(3).schema.get.fieldNames.toSeq == Seq("a", "b"))
    assert(fromV0(4).schema.get.fieldNames.toSeq == Seq("a", "b", "c"))
    assert(!fromV0(5).proto.readerFeats.contains("deletionVectors"))
    assert(fromV0(6).proto.readerFeats.contains("deletionVectors"))
    assert(fromV0(9).domains.keySet ==
      Set("delta.clustering", "delta.rowTracking"))
    assert(fromV0(8).domains("delta.clustering") !=
      fromV0(9).domains("delta.clustering"))
    assert(MiniDelta.clusteringColumns(spark, t) == Seq("a", "b"))
  }

  test("a new version folds once, however many readers ask") {
    val t = freshTable()
    MiniDelta.append(spark, Seq((1L, "x")).toDF("id", "v"), t, Seq.empty)
    MiniDelta.append(spark, Seq((2L, "y")).toDF("id", "v"), t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    def readers(): Unit = {
      MiniDelta.latestSchema(spark, t)
      MiniDelta.tableConfig(spark, t)
      MiniDelta.detail(spark, t).collect()
      MiniDelta.readFiltered(spark, t, Seq.empty).collect()
      MiniDelta.clusteringColumns(spark, t)
      MiniDelta.latestSchema(spark, t)
    }
    val before = MiniDelta.tableStates.misses
    readers()
    assert(MiniDelta.tableStates.misses - before == 1)
    // the append's writer gate reads the state it was planned at, and
    // the new version folds once for every reader after it
    val mid = MiniDelta.tableStates.misses
    MiniDelta.append(spark, Seq((3L, "z")).toDF("id", "v"), t, Seq.empty)
    readers()
    assert(MiniDelta.tableStates.misses - mid == 1)
    readers()
    assert(MiniDelta.tableStates.misses - mid == 1)
  }

  test("a table replaced at its path reads fresh under either spelling, " +
      "invalidated by either spelling") {
    for (invalidateAs <- Seq[String => String](identity, "file:" + _)) {
      val t = freshTable()
      val spellings = Seq(t, "file:" + t)
      def seen(s: String) = (
        MiniDelta.latestSchema(spark, s).map(_.fieldNames.toSeq),
        MiniDelta.tableConfig(spark, s).get("k"),
        MiniDelta.partitionColumns(spark, s),
        MiniDelta.snapshotFiles(spark, s).count(),
        MiniDelta.readFiltered(spark, s, Seq.empty).collect()
          .map(r => String.valueOf(r.get(0))).toSeq)
      MiniDelta.createTable(spark, t, StructType(Seq(
        StructField("a", LongType), StructField("p", StringType))),
        partitionBy = Seq("p"), properties = Map("k" -> "old"))
      MiniDelta.append(spark, Seq((1L, "x")).toDF("a", "p").coalesce(1), t,
        Seq("p"))
      spellings.foreach(s => assert(seen(s) == (Some(Seq("a", "p")),
        Some("old"), Seq("p"), 1L, Seq("1")), s"before, read as $s"))
      // replaced out of band: wiped, invalidated, re-created
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))
      MiniDelta.invalidateSnapshot(invalidateAs(t))
      MiniDelta.createTable(spark, t,
        StructType(Seq(StructField("b", StringType))),
        properties = Map("k" -> "new"))
      MiniDelta.append(spark, Seq("y").toDF("b").coalesce(1), t, Seq.empty)
      spellings.foreach(s => assert(seen(s) == (Some(Seq("b")), Some("new"),
        Seq.empty, 1L, Seq("y")),
        s"after, read as $s, invalidated as ${invalidateAs(t)}"))
    }
  }

  test("a version folds once and a commit opens once, whichever " +
      "spelling reads it") {
    val t = freshTable()
    val spellings = Seq(t, "file:" + t)
    MiniDelta.append(spark, Seq((1L, "a")).toDF("id", "v"), t, Seq.empty)
    spellings.foreach(MiniDelta.readFiltered(spark, _, Seq.empty).collect())
    val folds = MiniDelta.tableStates.misses
    val opens = MiniDelta.commitNodesMemo.misses
    MiniDelta.append(spark, Seq((2L, "b")).toDF("id", "v"), t, Seq.empty)
    spellings.foreach { s =>
      assert(MiniDelta.readFiltered(spark, s, Seq.empty).count() == 2L)
      assert(MiniDelta.latestSchema(spark, s).isDefined)
      MiniDelta.tableConfig(spark, s)
    }
    assert(MiniDelta.tableStates.misses - folds == 1)
    assert(MiniDelta.commitNodesMemo.misses - opens == 1)
  }

  test("a removed domain is retired: a tombstoned clustering layout " +
      "no longer governs OPTIMIZE") {
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("a", LongType), StructField("b", LongType),
      StructField("v", StringType))), clusterBy = Seq("a", "b"))    // v0
    val rows = (0L until 400L).map(i => (i % 20, i / 20, s"v$i"))
    MiniDelta.append(spark, rows.toDF("a", "b", "v"), t, Seq.empty)  // v1
    assert(MiniDelta.clusteringColumns(spark, t) == Seq("a", "b"))
    val layout = esc("""{"clusteringColumns":[["a"],["b"]]}""")
    commit(t, 2L, s"""{"domainMetadata":{"domain":"delta.clustering",""" +
      s""""configuration":"$layout","removed":true}}""")
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.clusteringColumns(spark, t).isEmpty)
    val dRow = MiniDelta.detail(spark, t).head()
    assert(dRow.getSeq[String](dRow.fieldIndex("clusteringColumns")).isEmpty)
    // a bare OPTIMIZE bin-packs: without the clustering sort every
    // rewritten file spans the whole `a` range, so a point range on `a`
    // skips none of them
    MiniDelta.compact(spark, t, Seq.empty, maxRecordsPerFile = 100L)
    MiniDelta.invalidateSnapshot(t)
    val snap = MiniDelta.snapshotFiles(spark, t)
    assert(snap.count() >= 4)
    assert(MiniDelta.filesForRange(snap, "a", 0.0, 0.0).count() ==
      snap.count())
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 400)
  }

  test("a checkpoint carries every live domain through log cleanup") {
    val t = freshTable()
    MiniDelta.append(spark, Seq((1L, "x")).toDF("id", "v"), t, Seq.empty) // v0
    val tag = esc("""{"owner":"team-a"}""")
    commit(t, 1L, s"""{"domainMetadata":{"domain":"myapp.tag",""" +
      s""""configuration":"$tag","removed":false}}""")
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.append(spark, Seq((2L, "y")).toDF("id", "v"), t, Seq.empty) // v2
    MiniDelta.writeCheckpoint(spark, t, 2L)
    val cpRows = spark.read
      .parquet(f"$t%s/_delta_log/${2L}%020d.checkpoint.parquet")
      .where(col("domainMetadata").isNotNull)
      .select("domainMetadata.domain", "domainMetadata.configuration")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cpRows == Map("myapp.tag" -> """{"owner":"team-a"}"""))
    val dead = MiniDelta.cleanupLogs(spark, t, retainMs = Some(0L),
      nowMs = () => System.currentTimeMillis() + 3600000L)
    assert(dead.count(_.endsWith(".json")) == 2, dead)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.tableState(spark, t, 2L).domains ==
      Map("myapp.tag" -> """{"owner":"team-a"}"""))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 2)
  }

  test("a protocol action missing a version fails by name on reads and " +
      "writes") {
    for (proto <- Seq("""{"minWriterVersion":2}""",
                      """{"minReaderVersion":1}""")) {
      val t = freshTable()
      MiniDelta.append(spark, Seq((1L, "x")).toDF("id", "v"), t, Seq.empty)
      commit(t, 1L, s"""{"protocol":$proto}""")
      MiniDelta.invalidateSnapshot(t)
      val r = intercept[MiniDelta.MalformedCommitException] {
        MiniDelta.readFiltered(spark, t, Seq.empty).collect()
      }
      assert(r.getMessage.contains(s"$t: commit 1 "), r.getMessage)
      MiniDelta.invalidateSnapshot(t)
      val w = intercept[MiniDelta.MalformedCommitException] {
        MiniDelta.append(spark, Seq((2L, "y")).toDF("id", "v"), t, Seq.empty)
      }
      assert(w.getMessage.contains(s"$t: commit 1 "), w.getMessage)
      assert(MiniDelta.latestVersion(spark, t) == 1L)
    }
  }
}
