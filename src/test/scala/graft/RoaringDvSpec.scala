package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{MiniDelta, RoaringDv}

/** Real Delta deletion vectors: the roaring codec itself, and masked
  * reads of real-format tables carrying inline ('i') and file-backed
  * ('u') descriptors. */
class RoaringDvSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("portable RoaringBitmapArray round-trips across container types") {
    // array container (sparse), bitmap container (>4096 per 16-bit
    // block), and a second 32-bit key (row index >= 2^32)
    val sparse = Seq(0L, 1L, 5L, 65534L, 65536L, 1000000L)
    val dense = (0L until 5000L).map(_ * 2) // 5000 entries, one block
    val highKey = Seq((1L << 32) | 7L, (1L << 32) | 65540L)
    for (vs <- Seq(sparse, dense, highKey, sparse ++ dense ++ highKey)) {
      val got = RoaringDv.decode(RoaringDv.encode(vs)).toSeq
      assert(got == vs.distinct.sorted, s"round-trip failed for $vs")
    }
    // empty bitmap array
    assert(RoaringDv.decode(RoaringDv.encode(Seq.empty)).isEmpty)
  }

  test("run containers and the run-cookie header decode per spec") {
    // hand-build a single bitmap with ONE run container holding
    // values 10..14 and 20..21 (cookie 12347, n=1, run bitset 0x01,
    // no offset header because n < 4)
    val bos = new java.io.ByteArrayOutputStream()
    def i32(v: Int): Unit = (0 to 3).foreach(i => bos.write((v >>> (8 * i)) & 0xff))
    def i16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >>> 8) & 0xff) }
    i32(RoaringDv.Magic)
    i32(1); i32(0) // one bitmap (i64 LE)
    i32(0)         // key 0
    i32(12347)     // run cookie, containers = (0 << 16) + 1
    bos.write(0x01) // run bitset: container 0 is a run
    i16(0); i16(7 - 1) // descriptive header: key 0, cardinality 7
    i16(2)             // two runs
    i16(10); i16(4)    // 10 + 0..4
    i16(20); i16(1)    // 20..21
    val got = RoaringDv.decode(bos.toByteArray).toSeq
    assert(got == Seq(10L, 11L, 12L, 13L, 14L, 20L, 21L))
  }

  test("Z85 round-trips and rejects bad input") {
    val bytes = Array.tabulate(16)(i => (i * 17 + 3).toByte)
    assert(RoaringDv.z85ToBytes(RoaringDv.bytesToZ85(bytes)).toSeq ==
      bytes.toSeq)
    intercept[RoaringDv.DvFormatException] { RoaringDv.z85ToBytes("abc") }
    intercept[RoaringDv.DvFormatException] { RoaringDv.z85ToBytes("~~~~~") }
  }

  private def jsonStr(s: String): String =
    com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .writeValueAsString(s)

  /** A landed file's length: the `size` a writer logs for it (scans
    * plan their splits from it). */
  private def sizeOf(t: String, rel: String): Long = {
    val f = new java.io.File(rel)
    (if (f.isAbsolute) f else new java.io.File(t, rel)).length()
  }

  /** A real-format table: one 10-row parquet file + raw JSON commits. */
  private def realTable(): (String, String, String) = {
    val t = Files.createTempDirectory("realdv").toString + "/t"
    val df = (0L until 10L).map(i => (i, s"p$i")).toDF("id", "payload")
    df.coalesce(1).write.parquet(t)
    val f1 = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    (t, f1, jsonStr(df.schema.json))
  }

  test("MiniDelta DV writes emit REAL descriptors a foreign reader can consume") {
    val t = Files.createTempDirectory("dvinterop").toString + "/t"
    MiniDelta.append(spark,
      (0L until 10L).map(i => (i, s"p$i")).toDF("id", "payload")
        .coalesce(1), t, Seq.empty)
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    MiniDelta.delete(spark, t, col("id") === 2 || col("id") === 5, Seq.empty)
    // the log carries what a real reader REQUIRES: a v0 protocol
    // action, metaData with id/format, and a protocol UPGRADE on DV
    // enablement (table features 3/7 + deletionVectors)
    def commitTxt(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$t%s/_delta_log/$v%020d.json")), "UTF-8")
    val v0 = commitTxt(0L)
    assert(v0.contains(""""protocol":{"minReaderVersion":1"""), v0)
    assert(v0.contains(""""format":{"provider":"parquet""""), v0)
    assert(v0.contains(""""id":"""), v0)
    val v1 = commitTxt(1L)
    assert(v1.contains(""""minReaderVersion":3""") &&
      v1.contains(""""readerFeatures":["deletionVectors"]"""), v1)
    // the commit carries the PROTOCOL's deletionVector descriptor, not
    // a custom field
    val commit = commitTxt(2L)
    assert(commit.contains("\"deletionVector\""), commit)
    assert(commit.contains("\"storageType\":\"u\""), commit)
    assert(!commit.contains("\"dv\":{"), commit)
    // a FOREIGN reader's view: parse the descriptor from the raw JSON
    // and decode the bitmap with nothing but the codec — the masked
    // row indexes must be exactly the deleted rows'
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val dvNode = commit.linesIterator.map(om.readTree)
      .flatMap(n => Option(n.get("add")))
      .flatMap(a => Option(a.get("deletionVector")))
      .filterNot(_.isNull).toSeq.head
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val bytes = RoaringDv.fetch(f, t,
      dvNode.get("storageType").asText(),
      dvNode.get("pathOrInlineDv").asText(),
      dvNode.get("offset").asInt(),
      dvNode.get("sizeInBytes").asInt())
    assert(RoaringDv.decode(bytes).toSeq == Seq(2L, 5L))
    assert(dvNode.get("cardinality").asLong() == 2L)
    // engine read agrees, of course
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L))
    // a shallow clone rebases the 'u' mask to an absolute 'p' marker:
    // the clone masks the same rows while its data stays at the source
    val fork = Files.createTempDirectory("dvfork").toString + "/t"
    MiniDelta.cloneShallow(spark, t, fork)
    assert(MiniDelta.readFiltered(spark, fork, Seq.empty)
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L))
    // the clone's OWN v0 must carry the DV protocol requirement — a
    // real reader honoring a default (1,2) would ignore the cloned
    // descriptors and resurrect the masked rows
    val forkV0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$fork%s/_delta_log/${0L}%020d.json")),
      "UTF-8")
    assert(forkV0.contains(""""minReaderVersion":3""") &&
      forkV0.contains(""""readerFeatures":["deletionVectors"]"""), forkV0)
  }

  test("own checkpoints are real-shape single files; legacy dirs are ignored") {
    import org.apache.spark.sql.functions.{col => c}
    val t = Files.createTempDirectory("realcpown").toString + "/t"
    MiniDelta.append(spark,
      (0L until 6L).map(i => (i, s"p$i")).toDF("id", "payload")
        .coalesce(1), t, Seq.empty)
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    MiniDelta.delete(spark, t, c("id") === 1, Seq.empty)
    MiniDelta.writeCheckpoint(spark, t, 2L)
    val cpPath = new java.io.File(
      f"$t%s/_delta_log/${2L}%020d.checkpoint.parquet")
    // ONE parquet FILE (not a directory manifest), action columns, a
    // protocol row with the DV feature, a metaData row carrying the
    // config, and the DV descriptor inline on its add — everything a
    // real reader needs, zero sidecars
    assert(cpPath.isFile)
    val cp = spark.read.parquet(cpPath.toString)
    assert(Seq("add", "metaData", "protocol")
      .forall(cp.columns.contains), cp.columns.toSeq)
    assert(cp.where(c("protocol.minReaderVersion") === 3).count() == 1)
    assert(cp.where(c("metaData.schemaString").isNotNull).count() == 1)
    assert(cp.where(c("add.deletionVector.storageType") === "u")
      .count() == 1)
    assert(!new java.io.File(
      f"$t%s/_delta_log/${2L}%020d.checkpoint.schema.json").exists())
    // replay THROUGH the checkpoint: mask still applied
    assert(MiniDelta.snapshotFilesAt(spark, t, 2L, useCheckpoint = true)
      .count() == 1)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 2L, 3L, 4L, 5L))
    // a leftover DIRECTORY manifest (the pre-r6 shape) at a LATER
    // version, with its schema sidecar and the pointer moved to it, is
    // not a checkpoint: rows and schema come from the checkpoint at
    // version 2 + the JSON tail. Its contents are deliberately stale (the v0
    // snapshot, a one-column schema), so reading either would show.
    MiniDelta.append(spark,
      Seq((6L, "p6")).toDF("id", "payload"), t, Seq.empty) // v3
    val legacyDir = f"$t%s/_delta_log/${3L}%020d.checkpoint.parquet"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(legacyDir))
    MiniDelta.snapshotFilesAt(spark, t, 0L, useCheckpoint = false)
      .write.parquet(legacyDir)
    assert(new java.io.File(legacyDir, "_SUCCESS").exists())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        f"$t%s/_delta_log/${3L}%020d.checkpoint.schema.json"),
      Seq((0L, 0)).toDF("id", "x").select("id").schema.json
        .getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_delta_log/_last_checkpoint"),
      """{"version":3}""".getBytes("UTF-8"))
    MiniDelta.invalidateSnapshot(t)
    def paths(df: org.apache.spark.sql.DataFrame) =
      df.select("path", "dv_path").collect().map(_.toString).sorted.toSeq
    assert(paths(MiniDelta.snapshotFiles(spark, t)) ==
      paths(MiniDelta.snapshotFilesAt(spark, t, 3L, useCheckpoint = false)))
    assert(MiniDelta.latestSchema(spark, t).get.fieldNames.toSeq ==
      Seq("id", "payload"))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 2L, 3L, 4L, 5L, 6L))
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  /** Every file under `t`, relative, with its length. */
  private def tree(t: String): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(t)
    val w = java.nio.file.Files.walk(root)
    try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => (root.relativize(p).toString, p.toFile.length())).toSeq.sorted
    finally w.close()
  }

  /** A legacy parquet-sidecar mask of `rel`'s row 1 under
    * `_delta_log/_dv/`, and the add field that references it. */
  private def legacyDvField(t: String, rel: String): String = {
    val dvRel = "_delta_log/_dv/" + java.util.UUID.randomUUID()
    Seq((rel, 1L)).toDF("fname", "row_index").coalesce(1)
      .write.parquet(s"$t/$dvRel")
    s""""dv":{"path":${jsonStr(dvRel)},"cardinality":1}"""
  }

  test("a legacy dv add in the JSON tail is refused by name; vacuum deletes nothing") {
    val t = Files.createTempDirectory("legacydvtail").toString + "/t"
    val rows = (0L until 6L).map(i => (i, s"p$i")).toDF("id", "payload")
    MiniDelta.append(spark, rows.coalesce(1), t, Seq.empty)            // v0
    MiniDelta.append(spark, rows.coalesce(1), t, Seq.empty)            // v1
    MiniDelta.compact(spark, t, Seq.empty)                             // v2
    val live = MiniDelta.snapshotFiles(spark, t)
      .select("path", "size").collect().head
    val rel = live.getString(0)
    // an early engine's DV delete: remove + re-add carrying `dv`
    java.nio.file.Files.write(
      java.nio.file.Paths.get(f"$t%s/_delta_log/${3L}%020d.json"),
      Seq(s"""{"commitInfo":{"operation":"DELETE","version":3,"timestamp":1}}""",
        s"""{"remove":{"path":${jsonStr(rel)},"dataChange":true,"deletionTimestamp":1}}""",
        s"""{"add":{"path":${jsonStr(rel)},"partitionValues":{},"size":${live.getLong(1)},"dataChange":true,${legacyDvField(t, rel)}}}""")
        .mkString("\n").getBytes("UTF-8"))
    MiniDelta.invalidateSnapshot(t)
    val e = intercept[MiniDelta.UnsupportedTableFeatureException] {
      MiniDelta.readFiltered(spark, t, Seq.empty).collect()
    }
    assert(e.getMessage.contains(t) && e.getMessage.contains("add.dv"),
      e.getMessage)
    // the two compacted-away files are past any horizon, yet vacuum
    // refuses before it deletes anything
    val before = tree(t)
    val future = System.currentTimeMillis() + 30L * 86400000
    val ve = intercept[MiniDelta.UnsupportedTableFeatureException] {
      MiniDelta.vacuum(spark, t, nowMs = () => future)
    }
    assert(ve.getMessage.contains(t), ve.getMessage)
    assert(tree(t) == before)
    // the change feeds refuse too, on the driver and the distributed arm
    def refused(read: => Any): Boolean = causes(intercept[Exception](read))
      .exists(_.isInstanceOf[MiniDelta.UnsupportedTableFeatureException])
    assert(refused(MiniDelta.readChanges(spark, t, 2L).collect()))
    spark.conf.set("spark.graft.snapshot.localReplayMaxBytes", "0")
    try {
      assert(refused(MiniDelta.readChanges(spark, t, 2L).collect()))
      assert(refused(MiniDelta.logDF(spark, t).count()))
    } finally spark.conf.unset("spark.graft.snapshot.localReplayMaxBytes")
  }

  test("a checkpoint add with a legacy dv path is refused by name") {
    import org.apache.spark.sql.types._
    val t = Files.createTempDirectory("legacydvcp").toString + "/t"
    MiniDelta.append(spark,
      (0L until 6L).map(i => (i, s"p$i")).toDF("id", "payload")
        .coalesce(1), t, Seq.empty)                                    // v0
    val v0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$t%s/_delta_log/${0L}%020d.json")), "UTF-8")
    val rel = MiniDelta.snapshotFiles(spark, t).select("path").head.getString(0)
    // an early engine's single-file checkpoint: its add rows carry the
    // `dv` struct, here non-null
    val lines = v0.linesIterator.filterNot(_.contains("\"commitInfo\""))
      .map(l => if (!l.startsWith("{\"add\"")) l
        else l.replace("\"dataChange\":true",
          "\"dataChange\":false," + legacyDvField(t, rel))).toSeq
    val addT = MiniDelta.logSchema("add").dataType.asInstanceOf[StructType]
      .add("dv", StructType(Seq(StructField("path", StringType),
        StructField("cardinality", LongType))))
    val cpSchema = StructType(MiniDelta.logSchema.map(f =>
      if (f.name == "add") f.copy(dataType = addT) else f))
    val tmp = Files.createTempDirectory("legacydvcpbuild").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/cp.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    spark.read.schema(cpSchema).json(s"$tmp/cp.json").drop("commitInfo")
      .coalesce(1).write.parquet(s"$tmp/out")
    val pf = new java.io.File(s"$tmp/out").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$tmp/out/$pf"),
      java.nio.file.Paths.get(f"$t%s/_delta_log/${0L}%020d.checkpoint.parquet"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_delta_log/_last_checkpoint"),
      """{"version":0}""".getBytes("UTF-8"))
    MiniDelta.invalidateSnapshot(t)
    val e = intercept[MiniDelta.UnsupportedTableFeatureException] {
      MiniDelta.readFiltered(spark, t, Seq.empty).collect()
    }
    assert(e.getMessage.contains(t) && e.getMessage.contains("add.dv"),
      e.getMessage)
    val before = tree(t)
    val future = System.currentTimeMillis() + 30L * 86400000
    val ve = intercept[MiniDelta.UnsupportedTableFeatureException] {
      MiniDelta.vacuum(spark, t, nowMs = () => future)
    }
    assert(ve.getMessage.contains(t), ve.getMessage)
    assert(tree(t) == before)
  }

  test("inline ('i') deletion vector masks rows on read") {
    val (t, f1, schemaJson) = realTable()
    // rows are written by ONE task in id order, so row_index == id
    val payload = RoaringDv.encode(Seq(1L, 3L, 7L))
    // Z85 needs 4-byte alignment; Delta pads inline payloads the same
    // way via its codec — decode() reads only the declared structure,
    // so trailing pad bytes are inert
    val padded = payload ++ Array.fill((4 - payload.length % 4) % 4)(0.toByte)
    val inline = RoaringDv.bytesToZ85(padded)
    new java.io.File(s"$t/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(f"$t%s/_delta_log/${0L}%020d.json"),
      (s"""{"metaData":{"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""" + "\n" +
        s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{},"size":${sizeOf(t, f1)},"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":${jsonStr(inline)},"sizeInBytes":${padded.length},"cardinality":3}}}""")
        .getBytes("UTF-8"))
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(0L, 2L, 4L, 5L, 6L, 8L, 9L))
    // the snapshot carries the descriptor's cardinality
    assert(MiniDelta.snapshotFiles(spark, t)
      .select("dv_card").as[Long].head() == 3L)
  }

  test("file-backed ('u') deletion vector masks rows; corruption throws") {
    val (t, f1, schemaJson) = realTable()
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val payload = RoaringDv.encode(Seq(0L, 9L))
    val (id, offset, size) = RoaringDv.writeDvFile(f, t, payload)
    new java.io.File(s"$t/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(f"$t%s/_delta_log/${0L}%020d.json"),
      (s"""{"metaData":{"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""" + "\n" +
        s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{},"size":${sizeOf(t, f1)},"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":${jsonStr(id)},"offset":$offset,"sizeInBytes":$size,"cardinality":2}}}""")
        .getBytes("UTF-8"))
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (1L to 8L))
    // a size mismatch between frame and descriptor is a torn DV: throw,
    // never unmask
    val bad = Files.createTempDirectory("realdvbad").toString + "/t"
    val df2 = (0L until 4L).map(i => (i, s"p$i")).toDF("id", "payload")
    df2.coalesce(1).write.parquet(bad)
    val f2 = new java.io.File(bad).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    val (id2, off2, size2) = RoaringDv.writeDvFile(f, bad, payload)
    new java.io.File(s"$bad/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(f"$bad%s/_delta_log/${0L}%020d.json"),
      (s"""{"metaData":{"schemaString":${jsonStr(df2.schema.json)},"partitionColumns":[],"configuration":{}}}""" + "\n" +
        s"""{"add":{"path":${jsonStr(f2)},"partitionValues":{},"size":${sizeOf(bad, f2)},"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":${jsonStr(id2)},"offset":$off2,"sizeInBytes":${size2 + 1},"cardinality":2}}}""")
        .getBytes("UTF-8"))
    val e = intercept[Exception] {
      MiniDelta.readFiltered(spark, bad, Seq.empty).collect()
    }
    assert(e.getMessage.contains("sizeInBytes"), e.getMessage)
  }
}
