package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.MiniDelta

/** CDC (change data feed) WRITE support: DML on a
  * `delta.enableChangeDataFeed=true` table lands REAL Delta cdc files
  * (`_change_data/…` parquet holding data columns + `_change_type`)
  * plus `cdc` actions in the commit, and the protocol carries the
  * `changeDataFeed` writer feature from enablement on. These specs
  * assert the wire shape (cdc actions, file layout) AND that
  * [[MiniDelta.readCdf]] — which serves cdc-bearing commits
  * exclusively from their cdc files, the spec's rule — returns exactly
  * the written change set. Before this landed, data-changing commits
  * on CDF tables refused outright. */
class CdcWriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("cdcwrite").toString + "/t"

  private def commitText(t: String, v: Long): String =
    new String(Files.readAllBytes(
      Paths.get(f"$t%s/_delta_log/$v%020d.json")), "UTF-8")

  private def cdcParquets(t: String): Seq[String] =
    Option(new java.io.File(s"$t/_change_data").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.getName)

  private def feed(t: String, from: Long, to: Long)
      : Set[(Long, String, String, Long)] =
    MiniDelta.readCdf(spark, t, from, to)
      .select("id", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet

  test("CoW DELETE on a CDF table writes cdc files; feed is exact") {
    val t = freshTable()
    MiniDelta.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), t, Seq.empty)
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    // the enablement commit carries the changeDataFeed writer feature
    assert(commitText(t, 1L).contains("\"changeDataFeed\""))
    MiniDelta.delete(spark, t, col("id") === 2L, Seq.empty)
    val c2 = commitText(t, 2L)
    assert(c2.contains("\"cdc\":") && c2.contains("_change_data/"), c2)
    assert(cdcParquets(t).nonEmpty)
    // the feed for the DELETE commit = exactly the deleted row — the
    // touched file's SURVIVORS must not appear (they would, under the
    // add/remove derivation this cdc file replaces)
    assert(feed(t, 1, 2) == Set((2L, "b", "delete", 2L)))
    // table reads ignore cdc files entirely
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (3L, "c")))
  }

  test("CoW UPDATE and MERGE feeds carry exact pre/post/insert splits") {
    val t = freshTable()
    MiniDelta.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), t, Seq.empty)
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    MiniDelta.update(spark, t, col("id") === 1L,
      Map("v" -> lit("A")), Seq.empty)
    assert(feed(t, 1, 2) == Set(
      (1L, "a", "update_preimage", 2L),
      (1L, "A", "update_postimage", 2L)))
    // MERGE: id=2 replaced, id=9 inserted
    MiniDelta.merge(spark, t,
      Seq((2L, "B"), (9L, "z")).toDF("id", "v"), Seq("id"), Seq.empty)
    assert(feed(t, 2, 3) == Set(
      (2L, "b", "update_preimage", 3L),
      (2L, "B", "update_postimage", 3L),
      (9L, "z", "insert", 3L)))
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "A"), (2L, "B"), (3L, "c"), (9L, "z")))
  }

  test("DV DELETE and DV UPDATE on a CDF table write cdc too") {
    val t = freshTable()
    // one multi-row file, so the DELETE masks instead of removing it
    MiniDelta.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1),
      t, Seq.empty)
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    MiniDelta.delete(spark, t, col("id") === 3L, Seq.empty)
    val c2 = commitText(t, 2L)
    assert(c2.contains("\"cdc\":") && c2.contains("deletionVector"), c2)
    assert(feed(t, 1, 2) == Set((3L, "c", "delete", 2L)))
    MiniDelta.update(spark, t, col("id") === 2L,
      Map("v" -> lit("B")), Seq.empty)
    assert(feed(t, 2, 3) == Set(
      (2L, "b", "update_preimage", 3L),
      (2L, "B", "update_postimage", 3L)))
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B")))
  }

  test("TRUNCATE on a CDF table derives its feed from removes (no cdc)") {
    val t = freshTable()
    MiniDelta.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      t, Seq.empty)
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    MiniDelta.truncate(spark, t) // refused before this round
    val c2 = commitText(t, 2L)
    assert(!c2.contains("\"cdc\":") && c2.contains("\"remove\""), c2)
    // remove-only commit: every row of every removed file deleted
    assert(feed(t, 1, 2) == Set(
      (1L, "a", "delete", 2L), (2L, "b", "delete", 2L)))
  }

  test("partitioned CDF tables: cdc files land Hive-partitioned, feed exact") {
    // partition columns live in the cdc action's partitionValues (the
    // files are written partitionBy, so the columns are DIRECTORY
    // segments, not file columns) — readCdf fills them back per the
    // action, the same contract the foreign-written fixture pins
    val t = freshTable()
    MiniDelta.append(spark,
      Seq((1L, "a", "2023"), (2L, "b", "2023"), (3L, "c", "2024"))
        .toDF("id", "v", "year"), t, Seq("year"))
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    MiniDelta.delete(spark, t, col("id") === 2L, Seq("year"))
    // the cdc parquet sits under a year=2023 partition directory
    val cdcDir = new java.io.File(s"$t/_change_data")
    val partDirs = Option(cdcDir.listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName)
    assert(partDirs.contains("year=2023"), partDirs)
    assert(commitText(t, 2L).contains("\"year\":\"2023\""))
    val got = MiniDelta.readCdf(spark, t, 1, 2)
      .select("id", "v", "year", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    assert(got == Set((2L, "b", "2023", "delete")))
    // partition-scoped UPDATE: images stay inside their partition
    MiniDelta.update(spark, t, col("id") === 3L,
      Map("v" -> lit("C")), Seq("year"))
    val got2 = MiniDelta.readCdf(spark, t, 2, 3)
      .select("id", "v", "year", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    assert(got2 == Set(
      (3L, "c", "2024", "update_preimage"),
      (3L, "C", "2024", "update_postimage")))
  }

  test("vacuum ages cdc files like tombstones; vacuumed feeds fail loudly") {
    val t = freshTable()
    MiniDelta.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), t, Seq.empty)
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    MiniDelta.delete(spark, t, col("id") === 2L, Seq.empty)
    // within retention the cdc files survive and the feed serves
    MiniDelta.vacuum(spark, t, retainMs = 3600000L)
    assert(cdcParquets(t).nonEmpty)
    assert(feed(t, 1, 2) == Set((2L, "b", "delete", 2L)))
    // past the horizon they age out with the tombstoned data files,
    // and a consumer whose checkpoint predates retention fails LOUDLY
    MiniDelta.vacuum(spark, t)
    assert(cdcParquets(t).isEmpty, cdcParquets(t))
    intercept[IllegalStateException](feed(t, 1, 2))
  }

  test("graft-delta CDF stream serves cdc-bearing commits from their files") {
    // the streaming change feed rides readCdf, so commits that carry
    // cdc actions deliver the writer-computed images to the stream —
    // asserted by draining a real StreamingQuery over a CDF-enabled
    // table whose DML commits all landed cdc files
    val t = freshTable()
    val cp = Files.createTempDirectory("cdcstream").toString
    MiniDelta.append(spark,
      (1L to 5L).map(i => (i, s"p$i")).toDF("id", "v"), t, Seq.empty)
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    MiniDelta.update(spark, t, col("id") <= 2L,
      Map("v" -> lit("edited")), Seq.empty)
    MiniDelta.delete(spark, t, col("id") === 5L, Seq.empty)
    assert(commitText(t, 2L).contains("\"cdc\":") &&
      commitText(t, 3L).contains("\"cdc\":"))
    val buf = scala.collection.mutable.Set
      .empty[(Long, String, String, Long)]
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").load(t)
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => {
        buf ++= b.select("id", "v", "_change_type", "_commit_version")
          .collect().map(r => (r.getLong(0), r.getString(1),
            r.getString(2), r.getLong(3)))
        ()
      }).start()
    try {
      q.processAllAvailable()
      assert(buf.toSet == Set(
        (1L, "p1", "insert", 0L), (2L, "p2", "insert", 0L),
        (3L, "p3", "insert", 0L), (4L, "p4", "insert", 0L),
        (5L, "p5", "insert", 0L),
        (1L, "p1", "update_preimage", 2L),
        (1L, "edited", "update_postimage", 2L),
        (2L, "p2", "update_preimage", 2L),
        (2L, "edited", "update_postimage", 2L),
        (5L, "p5", "delete", 3L)))
    } finally q.stop()
  }

  test("RESTORE on a CDF table derives its feed from the file swap") {
    // RESTORE is whole-file-semantics: the rolled-back files re-add
    // (all rows inserts) and the rolled-off files remove (all rows
    // deletes) — the add/remove derivation is the correct feed, no cdc
    // needed (the same exemption TRUNCATE/REPLACE ride)
    val t = freshTable()
    MiniDelta.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      t, Seq.empty)
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    MiniDelta.delete(spark, t, col("id") === 2L, Seq.empty) // v2, cdc
    MiniDelta.restore(spark, t, 0L) // refused before this round
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    val c3 = commitText(t, 3L)
    assert(!c3.contains("\"cdc\":"), c3)
    // the restore version's feed: the pre-delete file's rows return as
    // inserts, the post-delete rewrite's rows leave as deletes
    val got = feed(t, 2, 3)
    assert(got.contains((2L, "b", "insert", 3L)), got)
  }

  test("OVERWRITE and REPLACE on CDF tables derive (whole-file contract)") {
    // the last two cdfDerivableOps: INSERT OVERWRITE's contract
    // replaces the scoped rows (removed files all-deleted, new files
    // all-inserted) and REPLACE TABLE swaps eras — both feeds are the
    // add/remove derivation, no cdc files written
    val t = freshTable()
    MiniDelta.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      t, Seq.empty)
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    MiniDelta.overwrite(spark, Seq((7L, "z")).toDF("id", "v"), t,
      Seq.empty) // refused before this round
    assert(!commitText(t, 2L).contains("\"cdc\":"))
    assert(feed(t, 1, 2) == Set(
      (1L, "a", "delete", 2L), (2L, "b", "delete", 2L),
      (7L, "z", "insert", 2L)))
    import org.apache.spark.sql.types._
    MiniDelta.replaceTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    assert(!commitText(t, 3L).contains("\"cdc\":"))
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 0)
  }

  // ——— column-mapped CDF tables: cdc files follow the PHYSICAL schema
  // exactly like data files ([[MiniDelta.writeCdcFiles]] relabels,
  // [[MiniDelta.readCdf]] relabels back). Before round 13 this
  // combination refused in every direction.

  private def cdcParquetPaths(t: String): Seq[String] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) walk(f) else Seq(f))
    walk(new java.io.File(s"$t/_change_data"))
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
  }

  /** (name -> footer field id) of a parquet file's top-level columns. */
  private def footerIds(file: String): Map[String, Option[Int]] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      r.getFooter.getFileMetaData.getSchema.getFields.asScala.map(f =>
        f.getName -> Option(f.getId).map(_.intValue())).toMap
    } finally r.close()
  }

  test("name-mapped CDF: cdc files store physical names, feed spans a rename") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      properties = Map("delta.columnMapping.mode" -> "name",
        "delta.enableChangeDataFeed" -> "true"))
    MiniDelta.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.delete(spark, t, col("id") === 1L, Seq.empty) // v2: cdc
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.renameColumn(spark, t, "v", "label") // v3: metadata only
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.update(spark, t, col("id") === 2L,
      Map("label" -> lit("B")), Seq.empty) // v4: cdc under NEW logical
    MiniDelta.invalidateSnapshot(t)
    assert(commitText(t, 2L).contains("\"cdc\":"))
    assert(commitText(t, 4L).contains("\"cdc\":"))
    // the files on disk store the PHYSICAL name ('v' — stable across
    // the rename, the point of mapping) and never the logical 'label'
    val cols = cdcParquetPaths(t).map(p =>
      spark.read.parquet(p).columns.toSet)
    assert(cols.nonEmpty && cols.forall(c =>
      c("v") && c("_change_type") && !c("label")), cols)
    // one feed spans BOTH eras under the current logical name
    val got = MiniDelta.readCdf(spark, t, 1L, 4L)
      .select("id", "label", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got == Set(
      (1L, "a", "delete", 2L),
      (2L, "b", "update_preimage", 4L),
      (2L, "B", "update_postimage", 4L)))
  }

  test("id-mode CDF: cdc files carry footer field_ids; feed exact") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      properties = Map("delta.columnMapping.mode" -> "id",
        "delta.enableChangeDataFeed" -> "true"))
    MiniDelta.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.delete(spark, t, col("id") === 2L, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    // data columns carry the mapping's footer ids; _change_type is not
    // a schema column — literal name, no id
    val ids = cdcParquetPaths(t).map(footerIds)
    assert(ids.nonEmpty)
    ids.foreach { m =>
      assert(m.get("id").flatten.contains(1), m)
      assert(m.get("v").flatten.contains(2), m)
      assert(m.get("_change_type").flatten.isEmpty, m)
    }
    assert(feed(t, 1L, 2L) == Set((2L, "b", "delete", 2L)))
  }

  test("mapping upgrade on a CDF table keeps the pre-upgrade feed readable") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    MiniDelta.append(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.delete(spark, t, col("id") === 1L, Seq.empty) // v2: logical-named cdc
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.setTableProperties(spark, t,
      Map("delta.columnMapping.mode" -> "name")) // v3: upgrade
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.renameColumn(spark, t, "v", "label") // v4
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.update(spark, t, col("id") === 2L,
      Map("label" -> lit("B")), Seq.empty) // v5: physical-named cdc
    MiniDelta.invalidateSnapshot(t)
    // upgrade semantics pin physicalName = the name at upgrade ('v'),
    // so the v2 (pre-upgrade, logical-named) cdc files read under the
    // SAME physical schema as the v5 ones — one feed, both eras
    val got = MiniDelta.readCdf(spark, t, 1L, 5L)
      .select("id", "label", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got == Set(
      (1L, "a", "delete", 2L),
      (2L, "b", "update_preimage", 5L),
      (2L, "B", "update_postimage", 5L)))
  }

  test("evolving merge on a mapped CDF table: cdc speaks the fresh physical name") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      properties = Map("delta.columnMapping.mode" -> "name",
        "delta.enableChangeDataFeed" -> "true"))
    MiniDelta.append(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    // v2: an EVOLVING merge (score is new) on the mapped CDF table —
    // the cdc files must land the new column under its fresh PHYSICAL
    // name, exactly like the data files
    MiniDelta.merge(spark, t,
      Seq((2L, "B", 1.5), (3L, "c", 2.5)).toDF("id", "v", "score"),
      Seq("id"), Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val phys = MiniDelta.latestSchema(spark, t).get("score")
      .metadata.getString("delta.columnMapping.physicalName")
    assert(phys.startsWith("col_3_"), phys)
    val cols = cdcParquetPaths(t).map(p =>
      spark.read.parquet(p).columns.toSet)
    assert(cols.nonEmpty && cols.forall(c =>
      c(phys) && !c("score") && c("_change_type")), cols)
    val got = MiniDelta.readCdf(spark, t, 1L, 2L)
      .select("id", "v", "score", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2), r.getString(3)))
      .toSet
    assert(got == Set(
      (2L, "b", -1.0, "update_preimage"),
      (2L, "B", 1.5, "update_postimage"),
      (3L, "c", 2.5, "insert")), got)
  }

  test("partitioned mapped CDF: physical partition dirs, pv-filled feed") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("p", StringType))),
      partitionBy = Seq("p"),
      properties = Map("delta.columnMapping.mode" -> "name",
        "delta.enableChangeDataFeed" -> "true"))
    MiniDelta.append(spark,
      Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y"))
        .toDF("id", "v", "p"), t, Seq("p"))
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.delete(spark, t, col("id") =!= 3L, Seq("p")) // v2: cdc in both parts
    MiniDelta.invalidateSnapshot(t)
    // cdc files land Hive-partitioned under the PHYSICAL partition key
    assert(cdcParquetPaths(t).nonEmpty &&
      cdcParquetPaths(t).forall(_.contains("/p=")))
    // partition column resolves from the action's partitionValues
    val got = MiniDelta.readCdf(spark, t, 1L, 2L)
      .select("id", "v", "p", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    assert(got == Set(
      (1L, "a", "x", "delete"), (2L, "b", "x", "delete")))
  }

  // ——— cdc-served versions read through the log-backed file index:
  // partition values are typed from the declared column and a null
  // one (logged as __HIVE_DEFAULT_PARTITION__) reads as null

  /** The feed of an UPDATE of the row in the null partition of a
    * `region`-partitioned CDF table, as (id, v, region, change type). */
  private def nullPartitionFeed(t: String, region: String)
      : Set[(Long, String, Option[Any], String)] = {
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.update(spark, t, col("id") === 2L, Map("v" -> lit("B")),
      Seq(region))
    val last = MiniDelta.latestVersion(spark, t)
    assert(commitText(t, last).contains("\"cdc\":"))
    MiniDelta.readCdf(spark, t, last - 1, last)
      .select("id", "v", region, "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)),
        r.getString(3))).toSet
  }

  test("cdc feed: a null string partition value reads as null") {
    val t = freshTable()
    MiniDelta.append(spark, Seq[(Long, String, String)]((1L, "a", "r1"),
      (2L, "b", null)).toDF("id", "v", "region"), t, Seq("region"))
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    assert(nullPartitionFeed(t, "region") == Set(
      (2L, "b", None, "update_preimage"),
      (2L, "B", None, "update_postimage")))
  }

  test("cdc feed: a null int partition value reads as null, typed") {
    val t = freshTable()
    MiniDelta.append(spark, Seq[(Long, String, Option[Int])]((1L, "a",
      Some(1)), (2L, "b", None)).toDF("id", "v", "region"), t,
      Seq("region"))
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    assert(nullPartitionFeed(t, "region") == Set(
      (2L, "b", None, "update_preimage"),
      (2L, "B", None, "update_postimage")))
    // the non-null partition keeps its declared int type
    MiniDelta.update(spark, t, col("id") === 1L, Map("v" -> lit("A")),
      Seq("region"))
    val last = MiniDelta.latestVersion(spark, t)
    val feed = MiniDelta.readCdf(spark, t, last - 1, last)
    assert(feed.schema("region").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(feed.select("region").distinct().collect().map(_.getInt(0))
      .toSeq == Seq(1))
  }

  test("cdc feed on a name-mapped table: null partition value reads as null") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("region", StringType))), partitionBy = Seq("region"),
      properties = Map("delta.columnMapping.mode" -> "name",
        "delta.enableChangeDataFeed" -> "true"))
    MiniDelta.append(spark, Seq[(Long, String, String)]((1L, "a", "r1"),
      (2L, "b", null)).toDF("id", "v", "region"), t, Seq("region"))
    assert(nullPartitionFeed(t, "region") == Set(
      (2L, "b", None, "update_preimage"),
      (2L, "B", None, "update_postimage")))
  }
}
