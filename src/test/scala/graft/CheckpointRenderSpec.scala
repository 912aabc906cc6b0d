package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.MiniDelta

/** Distributed checkpoint render (r15 late): past
  * `checkpointRenderThreshold` actions the classic checkpoint's bulk
  * renders as a cluster job (manifest rows → add-action JSON → parquet
  * parts) instead of collecting the manifest onto the driver — the
  * last O(table) driver-memory stage in the write path. The two
  * renders share the per-row mapping, so these specs pin that they
  * produce byte-equivalent ACTION SETS, that multi-part naming and the
  * pointer stay correct, and that tombstones survive. */
class CheckpointRenderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("cprender").toString + "/t"

  private def build(t: String): Unit = {
    MiniDelta.append(spark, (1 to 12).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(4), t, Seq.empty)
    MiniDelta.append(spark, (13 to 20).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(3), t, Seq.empty)
    // a CoW delete plants remove tombstones the checkpoint must carry
    MiniDelta.delete(spark, t, col("id") === 3L, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
  }

  private def cpActions(t: String): (Set[String], Set[String], Long) = {
    // canonical view of the checkpoint's content: live add paths,
    // remove paths, and the total action count from _last_checkpoint
    val dir = new java.io.File(s"$t/_delta_log")
    val parts = dir.listFiles().map(_.getName)
      .filter(n => n.contains(".checkpoint.") && n.endsWith(".parquet"))
      .map(n => s"$t/_delta_log/$n").sorted
    assert(parts.nonEmpty, s"no checkpoint under $t")
    val df = spark.read.parquet(parts.toIndexedSeq: _*)
    val adds = df.where(col("add").isNotNull)
      .select(col("add.path")).collect().map(_.getString(0)).toSet
    val removes =
      if (!df.columns.contains("remove")) Set.empty[String]
      else df.where(col("remove").isNotNull)
        .select(col("remove.path")).collect().map(_.getString(0)).toSet
    val size = "\"size\":(\\d+)".r.findFirstMatchIn(
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"$t/_delta_log/_last_checkpoint"))).get.group(1).toLong
    (adds, removes, size)
  }

  test("empty-snapshot render at an OLD version carries the partition " +
      "columns declared AT that version, not HEAD's re-declaration") {
    // the layout fallback resolves metaData.partitionColumns AT the
    // rendered version (r17): a checkpoint for v_empty of a table
    // whose partitioning was later re-declared must not stamp HEAD's
    // layout into an older snapshot's metaData
    val t = freshTable()
    MiniDelta.append(spark,
      Seq((1L, "x"), (2L, "y")).toDF("id", "p"), t, Seq("p"))
    MiniDelta.delete(spark, t, lit(true), Seq("p"))
    MiniDelta.invalidateSnapshot(t)
    val vEmpty = MiniDelta.latestVersion(spark, t)
    // HEAD re-declares the table UNPARTITIONED
    import org.apache.spark.sql.types._
    MiniDelta.replaceTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("p", StringType))))
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.writeCheckpoint(spark, t, vEmpty)
    val cp = spark.read.parquet(
      f"$t/_delta_log/$vEmpty%020d.checkpoint.parquet")
    val parts = cp.where(col("metaData").isNotNull)
      .select("metaData.partitionColumns").collect()
      .map(_.getSeq[String](0)).head
    assert(parts == Seq("p"),
      s"checkpoint at v$vEmpty must declare the layout of ITS version " +
        s"(p), got $parts")
  }

  test("distributed render equals the driver render, action for action") {
    val a = freshTable(); build(a)
    val base = new java.io.File(a).getParent
    val b = s"$base/u"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(a), new java.io.File(b))
    MiniDelta.invalidateSnapshot(b)
    val v = MiniDelta.latestVersion(spark, a)
    val saved = MiniDelta.checkpointRenderThreshold
    val before = MiniDelta.distributedCheckpointRenders.get()
    try {
      MiniDelta.checkpointRenderThreshold = 3 // force the cluster path
      MiniDelta.writeCheckpoint(spark, a, v)
      assert(MiniDelta.distributedCheckpointRenders.get() == before + 1)
      MiniDelta.checkpointRenderThreshold = 1000000 // force driver path
      MiniDelta.writeCheckpoint(spark, b, v)
      assert(MiniDelta.distributedCheckpointRenders.get() == before + 1)
    } finally MiniDelta.checkpointRenderThreshold = saved
    val (addsA, rmA, sizeA) = cpActions(a)
    val (addsB, rmB, sizeB) = cpActions(b)
    assert(addsA == addsB && rmA == rmB && sizeA == sizeB,
      s"renders diverged: $sizeA/$sizeB adds ${addsA.size}/${addsB.size}")
    assert(rmA.nonEmpty, "the delete's tombstone must ride the checkpoint")
    // both tables replay from their checkpoints identically
    MiniDelta.invalidateSnapshot(a); MiniDelta.invalidateSnapshot(b)
    val ra = MiniDelta.readFiltered(spark, a, Seq.empty)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val rb = MiniDelta.readFiltered(spark, b, Seq.empty)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(ra == rb && ra.size == 19)
  }

  test("v2-policy distributed render: sidecars equal the driver's") {
    val a = freshTable()
    MiniDelta.append(spark, (1 to 5).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v"), a, Seq.empty)
    MiniDelta.setTableProperties(spark, a,
      Map("delta.checkpointPolicy" -> "v2"))
    MiniDelta.invalidateSnapshot(a)
    build(a)
    val base = new java.io.File(a).getParent
    val b = s"$base/u"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(a), new java.io.File(b))
    MiniDelta.invalidateSnapshot(b)
    val v = MiniDelta.latestVersion(spark, a)
    val saved = MiniDelta.checkpointRenderThreshold
    val before = MiniDelta.distributedCheckpointRenders.get()
    try {
      MiniDelta.checkpointRenderThreshold = 3
      MiniDelta.writeCheckpoint(spark, a, v)
      assert(MiniDelta.distributedCheckpointRenders.get() == before + 1)
      MiniDelta.checkpointRenderThreshold = 1000000
      MiniDelta.writeCheckpoint(spark, b, v)
      assert(MiniDelta.distributedCheckpointRenders.get() == before + 1)
    } finally MiniDelta.checkpointRenderThreshold = saved
    def sidecarActions(t: String): (Set[String], Set[String]) = {
      val sc = new java.io.File(s"$t/_delta_log/_sidecars")
      assert(sc.isDirectory, s"no sidecars under $t")
      val df = spark.read.parquet(s"$t/_delta_log/_sidecars")
      (df.where(col("add").isNotNull).select(col("add.path"))
        .collect().map(_.getString(0)).toSet,
       df.where(col("remove").isNotNull).select(col("remove.path"))
         .collect().map(_.getString(0)).toSet)
    }
    val (addsA, rmA) = sidecarActions(a)
    val (addsB, rmB) = sidecarActions(b)
    assert(addsA == addsB && rmA == rmB && rmA.nonEmpty)
    // both replay from their v2 checkpoints identically after cleanup
    for (t <- Seq(a, b)) {
      MiniDelta.cleanupLogs(spark, t, retainMs = Some(0L),
        nowMs = () => System.currentTimeMillis() + 3600000L)
      MiniDelta.invalidateSnapshot(t)
      // 5 seed + 20 built − the delete's TWO id=3 rows (seed + built)
      assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 23)
    }
  }

  test("distributed render splits into a complete multi-part set") {
    val t = freshTable(); build(t)
    val v = MiniDelta.latestVersion(spark, t)
    val saved = MiniDelta.checkpointRenderThreshold
    try {
      MiniDelta.checkpointRenderThreshold = 3
      MiniDelta.writeCheckpoint(spark, t, v, maxActionsPerPart = 4)
    } finally MiniDelta.checkpointRenderThreshold = saved
    val names = new java.io.File(s"$t/_delta_log").listFiles()
      .map(_.getName).filter(_.contains(".checkpoint.")).sorted
    assert(names.length >= 2, s"expected multi-part, got ${names.toSeq}")
    // every part declares the same total, and the set is complete 1..n
    val partRe = """\d{20}\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
    val idx = names.collect { case partRe(i, n) => (i.toInt, n.toInt) }
    assert(idx.map(_._2).distinct.length == 1)
    assert(idx.map(_._1).sorted.toSeq == (1 to idx.head._2).toSeq)
    // the pointer carries the parts field and replay works
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$t/_delta_log/_last_checkpoint")).contains("\"parts\""))
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 19)
    // replay survives JSON-tail cleanup: the checkpoint is authoritative
    MiniDelta.cleanupLogs(spark, t, retainMs = Some(0L),
      nowMs = () => System.currentTimeMillis() + 3600000L)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 19)
  }

  test("mixed partition-key layouts refuse the render instead of " +
      "mis-describing the table") {
    // a healthy Hive-layout table plus post-CONVERT-style debris whose
    // add action carries a DIFFERENT partitionValues key set: the r15
    // renderer derived partitionColumns from ONE sampled row, so the
    // checkpoint's declared layout depended on which row a limit(1)
    // returned — the r16 derivation aggregates the whole manifest and
    // fails loudly on non-uniformity
    val t = freshTable()
    MiniDelta.append(spark,
      Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "p", "v"),
      t, Seq("p"))
    val v = MiniDelta.writeCommit(spark, t,
      MiniDelta.latestVersion(spark, t) + 1,
      Seq("""{"add":{"path":"debris.parquet","partitionValues":""" +
        """{"q":"1"},"size":1,"modificationTime":0,""" +
        """"dataChange":true}}"""),
      "WRITE")
    MiniDelta.invalidateSnapshot(t)
    val e = intercept[IllegalArgumentException](
      MiniDelta.writeCheckpoint(spark, t, v))
    assert(e.getMessage.contains("distinct partition-key sets"),
      e.getMessage)
  }

  test("pathless layout (action-carried partitionValues only) derives " +
      "the declared columns from the aggregated keys") {
    // no file path encodes p=...: the Hive-path derivation yields
    // nothing and the render must fall back to the partitionValues
    // keys aggregated across the manifest (ordered by the log's
    // declared metaData.partitionColumns)
    val t = freshTable()
    import org.apache.spark.sql.types._
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("p", StringType))),
      partitionBy = Seq("p"))
    val v = MiniDelta.writeCommit(spark, t,
      MiniDelta.latestVersion(spark, t) + 1,
      Seq("""{"add":{"path":"f1.parquet","partitionValues":{"p":"x"},""" +
          """"size":1,"modificationTime":0,"dataChange":true}}""",
        """{"add":{"path":"f2.parquet","partitionValues":{"p":"y"},""" +
          """"size":1,"modificationTime":0,"dataChange":true}}"""),
      "WRITE")
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.writeCheckpoint(spark, t, v)
    val parts = new java.io.File(s"$t/_delta_log").listFiles()
      .map(_.getName)
      .filter(n => n.contains(".checkpoint.") && n.endsWith(".parquet"))
      .map(n => s"$t/_delta_log/$n").sorted
    assert(parts.nonEmpty)
    val declaredParts = spark.read.parquet(parts.toIndexedSeq: _*)
      .where(col("metaData").isNotNull)
      .select("metaData.partitionColumns")
      .collect().head.getSeq[String](0)
    assert(declaredParts == Seq("p"),
      s"expected partitionColumns [p], got $declaredParts")
  }

  test("checkpoint reads take the footer schema: no inference job") {
    for (cap <- Seq(1000000, 2)) { // a single file, then a multi-part set
      val t = freshTable()
      build(t)
      val v = MiniDelta.latestVersion(spark, t)
      MiniDelta.writeCheckpoint(spark, t, v, maxActionsPerPart = cap)
      val parts = new java.io.File(s"$t/_delta_log").listFiles()
        .map(_.getName)
        .filter(n => n.contains(".checkpoint.") && n.endsWith(".parquet"))
        .filterNot(_.startsWith("."))
        .map(n => s"$t/_delta_log/$n").sorted.toSeq
      assert(if (cap == 2) parts.size >= 2 else parts.size == 1, parts)
      assert(MiniDelta.checkpointSchema(spark, parts.head) ==
        spark.read.parquet(parts: _*).schema)
      val (df, jobs) = TestSpark.jobsDuring(
        MiniDelta.checkpointActionDF(spark, t, v))
      assert(jobs.isEmpty, jobs)
      assert(df.where(col("add").isNotNull).count() ==
        spark.read.parquet(parts: _*).where(col("add").isNotNull).count())
    }
  }
}
