package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.MiniDelta

/** Log-driven snapshot + pruning (S4/S5/P5) and the guarded write path
  * (S9/P9) over a scratch table in /tmp. */
class MiniDeltaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("minidelta").toString + "/t"

  private def sample(year: String, n: Int) =
    (1 to n).map(i => (i.toLong, year, s"v$i")).toDF("id", "year", "payload")

  test("column mapping write lifecycle: enable, rename, append, DML, drop") {
    val t = freshTable()
    MiniDelta.append(spark,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("id", "tag", "price"), t, Seq.empty)
    // enable name-mode mapping: metadata upgrade, nothing rewritten
    MiniDelta.setTableProperties(spark, t,
      Map("delta.columnMapping.mode" -> "name"))
    val cfg = MiniDelta.tableConfig(spark, t)
    assert(cfg("delta.columnMapping.mode") == "name")
    assert(cfg("delta.columnMapping.maxColumnId") == "3")
    MiniDelta.invalidateSnapshot(t)
    // pre-upgrade files keep reading (physicalName == their old names)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 3)
    // rename is metadata-only: logical name changes, data survives
    MiniDelta.renameColumn(spark, t, "price", "px")
    MiniDelta.invalidateSnapshot(t)
    val renamed = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(renamed.columns.toSeq == Seq("id", "tag", "px"))
    assert(renamed.agg(sum(col("px"))).head().getDouble(0) == 60.0)
    // append AFTER the rename: the new file stores the PHYSICAL name
    // ('price'), not the logical 'px' — a mapped reader resolves both
    MiniDelta.append(spark,
      Seq((4L, "d", 40.0)).toDF("id", "tag", "px"), t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .agg(sum(col("px"))).head().getDouble(0) == 100.0)
    // the parquet on disk must carry physical names only
    val raw = spark.read.parquet(t)
    assert(raw.columns.contains("price") && !raw.columns.contains("px"))
    // copy-on-write DML under mapping (rewrite lands physical names)
    MiniDelta.delete(spark, t, col("px") === 20.0, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .agg(sum(col("px"))).head().getDouble(0) == 80.0)
    // OPTIMIZE compacts mapped files and keeps them readable
    MiniDelta.compact(spark, t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 3)
    // evolution via append COMPOSES since late r13 (the blind-append
    // refusal is gone): the new column gets the same fresh-physical-
    // name + ratcheted-id assignment ALTER ADD COLUMNS uses, under a
    // pinned commit — see ColumnMappingWriteSpec for the full matrix
    MiniDelta.append(spark,
      Seq((9L, "z", 1.0, "x")).toDF("id", "tag", "px", "extra"),
      t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.tableConfig(spark, t)(
      "delta.columnMapping.maxColumnId") == "4")
    val evolved = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(evolved.where(col("extra") === "x").count() == 1)
    // drop a column: metadata-only, later reads omit it; re-adding the
    // name yields NULLs, never the dropped bytes (fresh physical name)
    MiniDelta.dropColumn(spark, t, "tag")
    MiniDelta.invalidateSnapshot(t)
    assert(!MiniDelta.readFiltered(spark, t, Seq.empty)
      .columns.contains("tag"))
    MiniDelta.addColumns(spark, t, Seq(
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType)))
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .where(col("tag").isNotNull).count() == 0)
    // time travel BEFORE the rename still shows the old logical name
    val v1 = MiniDelta.readFiltered(spark, t, Seq.empty,
      versionAsOf = Some(1L))
    assert(v1.columns.contains("price") && !v1.columns.contains("px"))
    // governance: partitioned tables UPGRADE too (physicalName = the
    // current name, so the partition dirs on disk are already the
    // physical names — see ColumnMappingWriteSpec for the full
    // lifecycle); id mode and un-enabling still refuse
    val p = freshTable()
    MiniDelta.append(spark, sample("2023", 2), p, Seq("year"))
    MiniDelta.setTableProperties(spark, p,
      Map("delta.columnMapping.mode" -> "name"))
    MiniDelta.invalidateSnapshot(p)
    assert(MiniDelta.tableConfig(spark, p)
      .get("delta.columnMapping.mode").contains("name"))
    assert(MiniDelta.readFiltered(spark, p, Seq.empty).count() == 2)
    intercept[IllegalArgumentException](MiniDelta.setTableProperties(
      spark, t, Map("delta.columnMapping.mode" -> "id")))
    intercept[IllegalArgumentException](
      MiniDelta.unsetTableProperties(spark, t,
        Seq("delta.columnMapping.mode")))
    // rename without mapping refuses with the enable hint
    val un = freshTable()
    MiniDelta.append(spark, Seq((1L, 1.0)).toDF("id", "v"), un, Seq.empty)
    val re = intercept[IllegalArgumentException](
      MiniDelta.renameColumn(spark, un, "v", "w"))
    assert(re.getMessage.contains("delta.columnMapping.mode"))
    // merge WITHOUT evolution works under mapping (upsert px of id=1)
    MiniDelta.merge(spark, t, Seq((1L, 99.0)).toDF("id", "px"),
      Seq("id"), Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .where(col("id") === 1L).select("px").head().getDouble(0) == 99.0)
    // merge evolution COMPOSES on mapped tables since late r13: the
    // source-only column gets fresh mapping metadata, the ratchet moves
    val idBefore = MiniDelta.tableConfig(spark, t)(
      "delta.columnMapping.maxColumnId").toLong
    MiniDelta.merge(spark, t,
      Seq((1L, 2.0, "s")).toDF("id", "px", "surprise"), Seq("id"),
      Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val sf2 = MiniDelta.latestSchema(spark, t).get("surprise")
    assert(sf2.metadata.getLong("delta.columnMapping.id") == idBefore + 1)
    assert(sf2.metadata.getString("delta.columnMapping.physicalName")
      .startsWith(s"col_${idBefore + 1}_"))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .where(col("surprise") === "s").count() == 1)
    // overwriteSchema swap: same-name fields KEEP their physical name
    // (id's mapping survives the swap), the new field ratchets again
    val idPhys = MiniDelta.latestSchema(spark, t).get("id")
      .metadata.getString("delta.columnMapping.physicalName")
    MiniDelta.overwrite(spark, Seq((1L, 2.0)).toDF("id", "other"), t,
      Seq.empty, overwriteSchema = true)
    MiniDelta.invalidateSnapshot(t)
    val swapped = MiniDelta.latestSchema(spark, t).get
    assert(swapped.fieldNames.toSeq == Seq("id", "other"))
    assert(swapped("id").metadata.getString(
      "delta.columnMapping.physicalName") == idPhys)
    assert(swapped("other").metadata.getLong(
      "delta.columnMapping.id") == idBefore + 2)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id", "other").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 2.0)))
  }

  test("generated columns: compute on omit, validate on provide, recompute on UPDATE") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    def genMeta(e: String) = new MetadataBuilder()
      .putString("delta.generationExpression", e).build()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType),
      StructField("ts", LongType),
      StructField("day", LongType, nullable = true, genMeta("ts % 7")))))
    // the v0 protocol declares legacy writer 4 (generatedColumns)
    val v0 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$t/_delta_log/${"0" * 20}.json"))
    assert(v0.contains("\"minWriterVersion\":4"))
    // append OMITTING the generated column computes it
    MiniDelta.append(spark, Seq((1L, 10L), (2L, 13L)).toDF("id", "ts"),
      t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    def dayOf(id: Long): Long = MiniDelta.readFiltered(spark, t, Seq.empty)
      .where(col("id") === id).select("day").head().getLong(0)
    assert(dayOf(1L) == 3L && dayOf(2L) == 6L)
    // providing the CORRECT value passes; a wrong one refuses
    MiniDelta.append(spark, Seq((3L, 20L, 6L)).toDF("id", "ts", "day"),
      t, Seq.empty)
    val bad = intercept[IllegalArgumentException](MiniDelta.append(spark,
      Seq((4L, 21L, 5L)).toDF("id", "ts", "day"), t, Seq.empty))
    assert(bad.getMessage.contains("generated column day"))
    // UPDATE of a referenced base column RECOMPUTES the generated one
    MiniDelta.update(spark, t, col("id") === 1L,
      Map("ts" -> lit(15L)), Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    assert(dayOf(1L) == 1L)
    // direct SET of a generated column refuses
    val setGen = intercept[IllegalArgumentException](MiniDelta.update(
      spark, t, col("id") === 1L, Map("day" -> lit(0L)), Seq.empty))
    assert(setGen.getMessage.contains("generated"))
    // MERGE with a source omitting the column computes it on the upsert
    MiniDelta.merge(spark, t, Seq((2L, 22L)).toDF("id", "ts"),
      Seq("id"), Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    assert(dayOf(2L) == 1L)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 3)
  }

  test("identity columns: chain assignment past the mark, pinned commits") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    def idMeta(start: Long, step: Long, explicit: Boolean = false) = {
      val b = new MetadataBuilder()
        .putLong("delta.identity.start", start)
        .putLong("delta.identity.step", step)
      if (explicit) b.putBoolean("delta.identity.allowExplicitInsert", true)
      b.build()
    }
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType, nullable = true, idMeta(10L, 2L)),
      StructField("v", StringType))))
    // v0 declares legacy writer 6 (identityColumns)
    val v0 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$t/_delta_log/${"0" * 20}.json"))
    assert(v0.contains("\"minWriterVersion\":6"))
    // two omitted-column appends: values walk the chain 10, 12, 14, ...
    MiniDelta.append(spark, Seq("a", "b", "c").toDF("v"), t, Seq.empty)
    MiniDelta.append(spark, Seq("d", "e").toDF("v"), t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val ids = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(10L, 12L, 14L, 16L, 18L), ids)
    // GENERATED ALWAYS: explicit values refuse — at append, SET, and a
    // MERGE whose source provides the column (merge itself composes
    // with identity since late r13; see the dedicated merge test)
    val ex = intercept[IllegalArgumentException](MiniDelta.append(spark,
      Seq((99L, "z")).toDF("id", "v"), t, Seq.empty))
    assert(ex.getMessage.contains("GENERATED ALWAYS"))
    intercept[IllegalArgumentException](MiniDelta.update(spark, t,
      col("v") === "a", Map("id" -> lit(0L)), Seq.empty))
    val me0 = intercept[IllegalArgumentException](MiniDelta.merge(spark, t,
      Seq((10L, "x")).toDF("id", "v"), Seq("id"), Seq.empty))
    assert(me0.getMessage.contains("GENERATED ALWAYS"))
    // a concurrent commit between the mark read and the pin conflicts
    // (no silent overlapping assignment) — injected via the DML hook
    val prevHook = MiniDelta.beforeDmlCommitHook
    MiniDelta.beforeDmlCommitHook = () => {
      MiniDelta.beforeDmlCommitHook = prevHook // fire once
      rawCommit(t, MiniDelta.latestVersion(spark, t) + 1,
        Seq("""{"add":{"path":"nope.parquet","partitionValues":{},""" +
          """"size":1,"dataChange":true}}"""))
      ()
    }
    try intercept[MiniDelta.ConcurrentCommitException](MiniDelta.append(
      spark, Seq("f").toDF("v"), t, Seq.empty))
    finally MiniDelta.beforeDmlCommitHook = prevHook
    // schema evolution through an identity append COMPOSES since r16
    // (the metaData line carries the appended column AND the mark) —
    // the full matrix lives in IdentityEvolutionSpec. The raw-commit
    // injection above planted a nonexistent add, so assert on the LOG
    // (schema + advanced mark), not a table read.
    MiniDelta.append(spark, Seq(("g", 1.0)).toDF("v", "extra"), t,
      Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val evSch = MiniDelta.latestSchema(spark, t,
      MiniDelta.latestVersion(spark, t)).get
    assert(evSch.fieldNames.contains("extra"))
    assert(evSch("id").metadata
      .getLong("delta.identity.highWaterMark") == 20L)
    // BY DEFAULT: provided values accepted, the mark syncs past them
    val t2 = freshTable()
    MiniDelta.createTable(spark, t2, StructType(Seq(
      StructField("id", LongType, nullable = true,
        idMeta(1L, 1L, explicit = true)),
      StructField("v", StringType))))
    MiniDelta.append(spark, Seq((100L, "a")).toDF("id", "v"), t2, Seq.empty)
    MiniDelta.append(spark, Seq("b").toDF("v"), t2, Seq.empty)
    MiniDelta.invalidateSnapshot(t2)
    val ids2 = MiniDelta.readFiltered(spark, t2, Seq.empty)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids2 == Seq(100L, 101L), ids2)
  }

  test("identity append survives empty trailing partitions") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    val idm = new MetadataBuilder()
      .putLong("delta.identity.start", 1L)
      .putLong("delta.identity.step", 1L).build()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType, nullable = true, idm),
      StructField("v", LongType))))
    // a repartitioned-then-filtered frame leaves EMPTY partitions past
    // the last populated pid — the per-partition count map has no row
    // for them, and indexing the offsets array there used to throw
    val df = spark.range(0, 40).select(col("id").as("v"))
      .repartition(16, col("v")).where(col("v") < 3)
    assert(df.rdd.getNumPartitions == 16)
    MiniDelta.append(spark, df, t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id", "v").collect()
    assert(got.length == 3)
    assert(got.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L),
      got.map(_.getLong(0)).toSeq)
  }

  test("identity MERGE: matched keep ids, inserts extend the chain") {
    import org.apache.spark.sql.types._
    val idm = new MetadataBuilder()
      .putLong("delta.identity.start", 100L)
      .putLong("delta.identity.step", 2L).build()
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("rid", LongType, nullable = true, idm),
      StructField("k", LongType), StructField("v", StringType))))
    MiniDelta.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val before = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("k", "rid").collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap // {100,102,104} distributed over k=1..3
    assert(before.values.toSeq.sorted == Seq(100L, 102L, 104L))
    // upsert: k=2 matched (new v, KEEPS its id), k=4/k=5 inserted
    // (fresh chain values past the mark: 106, 108)
    MiniDelta.merge(spark, t,
      Seq((2L, "B"), (4L, "d"), (5L, "e")).toDF("k", "v"),
      Seq("k"), Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val after = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("k", "rid", "v").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(after(2L) == ((before(2L), "B")), after) // target id survives
    assert(after(1L) == ((before(1L), "a")))
    assert(after(3L) == ((before(3L), "c")))
    assert(Set(after(4L)._1, after(5L)._1) == Set(106L, 108L), after)
    // the same commit advanced the mark: a later append walks past 108
    MiniDelta.append(spark, Seq((6L, "f")).toDF("k", "v"), t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val last = MiniDelta.readFiltered(spark, t, Seq.empty)
      .where(col("k") === 6L).select("rid").head().getLong(0)
    assert(last == 110L, last)
    // evolution through an identity merge COMPOSES since r16 (ONE
    // metaData line carries the appended column and the advanced
    // mark) — the full matrix lives in IdentityEvolutionSpec; here
    // just pin that the evolving insert continues the chain
    MiniDelta.merge(spark, t,
      Seq((7L, "g", 1.0)).toDF("k", "v", "extra"), Seq("k"), Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val evolved = MiniDelta.readFiltered(spark, t, Seq.empty)
      .where(col("k") === 7L).select("rid", "extra").head()
    assert(evolved.getLong(0) == 112L, evolved)
    assert(evolved.getDouble(1) == 1.0)
  }

  test("identity MERGE: BY DEFAULT inserts sync the mark; DV+CDF form") {
    import org.apache.spark.sql.types._
    val idm = new MetadataBuilder()
      .putLong("delta.identity.start", 1L)
      .putLong("delta.identity.step", 1L)
      .putBoolean("delta.identity.allowExplicitInsert", true).build()
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("rid", LongType, nullable = true, idm),
      StructField("k", LongType), StructField("v", StringType))),
      properties = Map("delta.enableDeletionVectors" -> "true",
        "delta.enableChangeDataFeed" -> "true"))
    MiniDelta.append(spark,
      Seq((10L, 1L, "a"), (11L, 2L, "b")).toDF("rid", "k", "v"),
      t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    // provided id for the INSERT (k=3) is kept verbatim and syncs the
    // mark; the matched row's provided id (999) is DISCARDED — identity
    // never updates, the target's 10 survives
    MiniDelta.merge(spark, t,
      Seq((999L, 1L, "A"), (500L, 3L, "c")).toDF("rid", "k", "v"),
      Seq("k"), Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val rows = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("k", "rid", "v").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(rows == Map(1L -> ((10L, "A")), 2L -> ((11L, "b")),
      3L -> ((500L, "c"))), rows)
    // mark synced past 500: an omitted-column append assigns 501
    MiniDelta.append(spark, Seq((4L, "d")).toDF("k", "v"), t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .where(col("k") === 4L).select("rid").head().getLong(0) == 501L)
    // the DV merge's CDF carries the RESOLVED ids (postimage keeps the
    // target's 10, the insert shows 500)
    val feed = MiniDelta.readCdf(spark, t, 1L, 2L)
      .select("k", "rid", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(feed == Set((1L, 10L, "update_preimage"),
      (1L, 10L, "update_postimage"), (3L, 500L, "insert")), feed)
  }

  test("mergeDelete: keyed anti-delete, CoW and DV forms, exact CDF") {
    import org.apache.spark.sql.types._
    // CoW form on a CDF table: only matched-and-condition rows go
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))),
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    MiniDelta.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v"),
      t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    // duplicate source keys are fine (a delete cannot be ambiguous)
    val src = Seq(1L, 2L, 2L, 9L).toDF("k")
    MiniDelta.mergeDelete(spark, t, src, Seq("k"), Seq.empty,
      cond = Some(col("v") =!= "a"))
    MiniDelta.invalidateSnapshot(t)
    // k=1 matched but failed the condition; k=2 deleted; k=9 unmatched
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("k").as[Long].collect().toSet == Set(1L, 3L, 4L))
    assert(MiniDelta.readCdf(spark, t, 1L, 2L)
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((2L, "delete")))
    // an unmatched source is a no-op: no commit lands
    val vBefore = MiniDelta.latestVersion(spark, t)
    MiniDelta.mergeDelete(spark, t, Seq(99L).toDF("k"), Seq("k"),
      Seq.empty)
    assert(MiniDelta.latestVersion(spark, t) == vBefore)
    // DV form: matched rows are MASKED (or their files plainly removed
    // when every live row matched) — never a rewrite, so no NEW file
    // can appear
    val t2 = freshTable()
    MiniDelta.createTable(spark, t2, StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))),
      properties = Map("delta.enableDeletionVectors" -> "true",
        "delta.enableChangeDataFeed" -> "true"))
    MiniDelta.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), t2, Seq.empty)
    MiniDelta.invalidateSnapshot(t2)
    val filesBefore = MiniDelta.snapshotFiles(spark, t2)
      .select("path").collect().map(_.getString(0)).toSet
    MiniDelta.mergeDelete(spark, t2, Seq(1L, 3L).toDF("k"), Seq("k"),
      Seq.empty)
    MiniDelta.invalidateSnapshot(t2)
    assert(MiniDelta.snapshotFiles(spark, t2)
      .select("path").collect().map(_.getString(0)).toSet
      .subsetOf(filesBefore))
    assert(MiniDelta.readFiltered(spark, t2, Seq.empty)
      .select("k").as[Long].collect().toSeq == Seq(2L))
    assert(MiniDelta.readCdf(spark, t2, 1L, 2L)
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "delete"), (3L, "delete")))
    // NOT MATCHED BY SOURCE form (the sync-delete): target rows whose
    // keys appear in NO source row go — t still holds {1, 3, 4}; a
    // source of {1, 4} sweeps the stale 3
    MiniDelta.mergeDelete(spark, t, Seq(1L, 4L).toDF("k"), Seq("k"),
      Seq.empty, bySource = true)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("k").as[Long].collect().toSet == Set(1L, 4L))
    assert(MiniDelta.readCdf(spark, t, 2L, 3L)
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((3L, "delete")))
    // conditional by-source: only stale rows satisfying cond go
    MiniDelta.append(spark, Seq((5L, "e"), (6L, "f")).toDF("k", "v"),
      t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.mergeDelete(spark, t, Seq(1L).toDF("k"), Seq("k"),
      Seq.empty, cond = Some(col("v") === "e"), bySource = true)
    MiniDelta.invalidateSnapshot(t)
    // 4 and 6 are stale but fail the condition; 5 is stale and goes
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("k").as[Long].collect().toSet == Set(1L, 4L, 6L))
  }

  test("identity OVERWRITE: fresh assignment past the mark, no reset") {
    import org.apache.spark.sql.types._
    val idm = new MetadataBuilder()
      .putLong("delta.identity.start", 10L)
      .putLong("delta.identity.step", 5L).build()
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("rid", LongType, nullable = true, idm),
      StructField("v", StringType))))
    MiniDelta.append(spark, Seq("a", "b").toDF("v"), t, Seq.empty)
    MiniDelta.invalidateSnapshot(t) // ids 10, 15 — mark at 15
    // OVERWRITE with the column omitted: the swap's rows are ASSIGNED
    // past the surviving mark (never reset — a restore of v1 must not
    // collide with these), and the same commit advances it
    MiniDelta.overwrite(spark, Seq("c", "d", "e").toDF("v"), t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val ids = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("rid").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(20L, 25L, 30L), ids)
    MiniDelta.append(spark, Seq("f").toDF("v"), t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .where(col("v") === "f").select("rid").head().getLong(0) == 35L)
    // GENERATED ALWAYS refuses provided values; merge-EVOLUTION
    // composes since r16 (one metaData line carries column + mark —
    // IdentityEvolutionSpec pins the matrix), while the
    // overwriteSchema SWAP still refuses (it would drop the metadata)
    val pe = intercept[IllegalArgumentException](MiniDelta.overwrite(
      spark, Seq((99L, "z")).toDF("rid", "v"), t, Seq.empty))
    assert(pe.getMessage.contains("GENERATED ALWAYS"))
    MiniDelta.overwrite(spark, Seq(("z", 1.0)).toDF("v", "extra"), t,
      Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val evolvedRow = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("rid", "v", "extra").head()
    assert(evolvedRow.getLong(0) == 40L, evolvedRow)
    assert(evolvedRow.getDouble(2) == 1.0)
    val se = intercept[IllegalArgumentException](MiniDelta.overwrite(
      spark, Seq(("y", 2.0)).toDF("v", "w"), t, Seq.empty,
      overwriteSchema = true))
    assert(se.getMessage.contains("overwriteSchema"))
    // BY DEFAULT: provided values are kept and the mark syncs past them
    val t2 = freshTable()
    val idm2 = new MetadataBuilder()
      .putLong("delta.identity.start", 1L)
      .putLong("delta.identity.step", 1L)
      .putBoolean("delta.identity.allowExplicitInsert", true).build()
    MiniDelta.createTable(spark, t2, StructType(Seq(
      StructField("rid", LongType, nullable = true, idm2),
      StructField("v", StringType))))
    MiniDelta.append(spark, Seq("a").toDF("v"), t2, Seq.empty)
    MiniDelta.invalidateSnapshot(t2)
    MiniDelta.overwrite(spark, Seq((200L, "b")).toDF("rid", "v"), t2,
      Seq.empty)
    MiniDelta.invalidateSnapshot(t2)
    MiniDelta.append(spark, Seq("c").toDF("v"), t2, Seq.empty)
    MiniDelta.invalidateSnapshot(t2)
    val got = MiniDelta.readFiltered(spark, t2, Seq.empty)
      .select("v", "rid").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("b" -> 200L, "c" -> 201L), got)
  }

  test("DESCRIBE DETAIL reports zeros on a freshly created empty table") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    val row = MiniDelta.detail(spark, t).head()
    assert(row.getAs[Long]("numFiles") == 0L)
    assert(row.getAs[Long]("sizeInBytes") == 0L)
    assert(row.getAs[Long]("numRows") == 0L)
  }

  test("row tracking: fresh ids, DV preservation, checkpoint, backfill, clone") {
    import org.apache.spark.sql.types._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // (path, baseRowId, defaultRowCommitVersion, numRecords) per add of
    // one commit, straight from the log JSON
    def addsOf(t: String, v: Long): Seq[(String, Long, Long, Long)] =
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        f"$t%s/_delta_log/$v%020d.json")).linesIterator.toSeq
        .filter(_.startsWith("{\"add\""))
        .map { l =>
          val a = om.readTree(l).get("add")
          assert(a.has("baseRowId") && a.has("defaultRowCommitVersion"),
            s"add without row ids in $t v$v: $l")
          val recs = Option(a.get("stats")).filterNot(_.isNull)
            .map(_.asText)
            .flatMap(s => """"numRecords"\s*:\s*(\d+)""".r
              .findFirstMatchIn(s).map(_.group(1).toLong)).getOrElse(-1L)
          (a.get("path").asText, a.get("baseRowId").asLong,
            a.get("defaultRowCommitVersion").asLong, recs)
        }
    def hwmOf(t: String, v: Long): Long =
      """"rowIdHighWaterMark\\?"\s*:\s*(-?\d+)""".r.findFirstMatchIn(
        java.nio.file.Files.readString(java.nio.file.Paths.get(
          f"$t%s/_delta_log/$v%020d.json"))).map(_.group(1).toLong)
        .getOrElse(sys.error(s"no rowTracking mark in $t v$v"))
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))),
      properties = Map("delta.enableRowTracking" -> "true"))
    // v0 protocol declares rowTracking + its domainMetadata prerequisite
    val v0 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$t/_delta_log/${"0" * 20}.json"))
    assert(v0.contains("\"rowTracking\"") && v0.contains("\"domainMetadata\""))
    // appends assign fresh, disjoint ranges; the mark walks the total
    MiniDelta.append(spark, (1L to 5L).map(i => (i, s"a$i")).toDF("id", "v")
      .repartition(2), t, Seq.empty, statsCols = Seq("id"))
    MiniDelta.append(spark, (6L to 8L).map(i => (i, s"b$i")).toDF("id", "v"),
      t, Seq.empty, statsCols = Seq("id"))
    val a1 = addsOf(t, 1L)
    val a2 = addsOf(t, 2L)
    assert(a1.forall(_._3 == 1L) && a2.forall(_._3 == 2L))
    val ranges = (a1 ++ a2).map(a => (a._2, a._2 + a._4 - 1)).sortBy(_._1)
    assert(ranges.head._1 == 0L, ranges)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo2, _)) => lo2 > hi
      case _ => true
    }, s"overlapping row-id ranges: $ranges")
    assert(hwmOf(t, 1L) == 4L && hwmOf(t, 2L) == 7L)
    // a DV swap re-adds the SAME path: its ids are PRESERVED, the mark
    // does not move
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    MiniDelta.delete(spark, t, col("id") === 2L, Seq.empty)
    val v4 = MiniDelta.latestVersion(spark, t)
    val reAdds = addsOf(t, v4)
    assert(reAdds.nonEmpty)
    val orig = (a1 ++ a2).map(a => a._1 -> (a._2, a._3)).toMap
    reAdds.foreach { case (p, b, d, _) =>
      assert(orig(p) == ((b, d)), s"DV re-add of $p changed ids") }
    assert(hwmOf(t, v4) == 7L)
    // checkpoint: ids and the mark survive folding; replay through the
    // checkpoint matches the raw-JSON replay
    MiniDelta.writeCheckpoint(spark, t, v4)
    def idMap(useCp: Boolean) = MiniDelta.snapshotFilesAt(spark, t, v4,
        useCheckpoint = useCp)
      .select("path", "base_row_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idMap(useCp = true) == idMap(useCp = false))
    // post-checkpoint append continues past the mark
    MiniDelta.append(spark, Seq((9L, "c")).toDF("id", "v"), t, Seq.empty,
      statsCols = Seq("id"))
    val v5 = MiniDelta.latestVersion(spark, t)
    assert(addsOf(t, v5).head._2 == 8L)
    assert(hwmOf(t, v5) == 8L)
    // OPTIMIZE rewrites take FRESH ids (no materialized stable ids) —
    // still disjoint from every live range, mark advances
    MiniDelta.compact(spark, t, Seq.empty)
    val v6 = MiniDelta.latestVersion(spark, t)
    val opt = addsOf(t, v6)
    assert(opt.forall(_._2 > 8L), opt)
    assert(hwmOf(t, v6) > 8L)
    // ALTER enablement on an EXISTING table backfills every live file
    val t2 = freshTable()
    MiniDelta.append(spark, (1L to 4L).map(i => (i, s"x$i")).toDF("id", "v")
      .repartition(2), t2, Seq.empty, statsCols = Seq("id"))
    MiniDelta.setTableProperties(spark, t2,
      Map("delta.enableRowTracking" -> "true"))
    MiniDelta.invalidateSnapshot(t2)
    val backfilled = MiniDelta.snapshotFiles(spark, t2)
      .select("base_row_id").collect()
    assert(backfilled.forall(!_.isNullAt(0)))
    assert(hwmOf(t2, MiniDelta.latestVersion(spark, t2)) == 3L)
    MiniDelta.append(spark, Seq((5L, "y")).toDF("id", "v"), t2, Seq.empty,
      statsCols = Seq("id"))
    assert(addsOf(t2, MiniDelta.latestVersion(spark, t2)).head._2 == 4L)
    // a shallow clone carries the ids AND the mark — its first append
    // cannot overlap the cloned files
    val t3 = freshTable()
    MiniDelta.cloneShallow(spark, t2, t3)
    MiniDelta.append(spark, Seq((6L, "z")).toDF("id", "v"), t3, Seq.empty,
      statsCols = Seq("id"))
    val cloneAdd = addsOf(t3, MiniDelta.latestVersion(spark, t3)).head
    assert(cloneAdd._2 == 5L, cloneAdd)
    MiniDelta.invalidateSnapshot(t3)
    val cloneIds = MiniDelta.snapshotFiles(spark, t3)
      .select("base_row_id").collect().map(_.getLong(0)).sorted
    assert(cloneIds.distinct.length == cloneIds.length)
  }

  test("field invariants enforce on append, UPDATE and merge writes") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    val inv = new MetadataBuilder().putString("delta.invariants",
      """{"expression":{"expression":"qty > 0"}}""").build()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType),
      StructField("qty", LongType, nullable = true, inv))))
    MiniDelta.append(spark, Seq((1L, 5L), (2L, 7L)).toDF("id", "qty"),
      t, Seq.empty)
    // violating append refuses with the invariant named
    val e = intercept[MiniDelta.ConstraintViolationException](
      MiniDelta.append(spark, Seq((3L, 0L)).toDF("id", "qty"), t, Seq.empty))
    assert(e.getMessage.contains("invariant(qty)"))
    // an UPDATE driving a row out of the invariant refuses too
    intercept[MiniDelta.ConstraintViolationException](MiniDelta.update(
      spark, t, col("id") === 1L, Map("qty" -> lit(-2L)), Seq.empty))
    // a conforming merge upsert passes; a violating one refuses
    MiniDelta.merge(spark, t, Seq((2L, 9L)).toDF("id", "qty"),
      Seq("id"), Seq.empty)
    intercept[MiniDelta.ConstraintViolationException](MiniDelta.merge(
      spark, t, Seq((2L, -1L)).toDF("id", "qty"), Seq("id"), Seq.empty))
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .agg(sum(col("qty"))).head().getLong(0) == 14L)
  }

  test("in-commit timestamps: enablement stamps a monotonic in-log clock") {
    val t = freshTable()
    MiniDelta.append(spark, Seq((1L, "a")).toDF("id", "v"), t, Seq.empty)
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableInCommitTimestamps" -> "true"))
    MiniDelta.append(spark, Seq((2L, "b")).toDF("id", "v"), t, Seq.empty)
    MiniDelta.append(spark, Seq((3L, "c")).toDF("id", "v"), t, Seq.empty)
    def commitJson(v: Long): String =
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        f"$t%s/_delta_log/$v%020d.json"))
    // pre-enablement commits carry no ICT; v1 (enablement) onward do
    assert(!commitJson(0L).contains("inCommitTimestamp\":"))
    assert(commitJson(1L).contains("\"inCommitTimestamp\":"))
    assert(commitJson(2L).contains("\"inCommitTimestamp\":"))
    // the protocol carries the writer feature; provenance properties
    // point at the enablement version
    assert(commitJson(1L).contains("\"inCommitTimestamp\""))
    val cfg = MiniDelta.tableConfig(spark, t)
    assert(cfg("delta.inCommitTimestampEnablementVersion") == "1")
    // the spec requires the enablement timestamp property to EQUAL the
    // enablement commit's own inCommitTimestamp — a mismatch skews a
    // real reader's time-travel cutover by one version
    val enablementIct =
      """"inCommitTimestamp":(\d+)""".r.findFirstMatchIn(commitJson(1L))
        .get.group(1).toLong
    assert(cfg("delta.inCommitTimestampEnablementTimestamp").toLong ==
      enablementIct)
    // strict monotonicity even under a frozen wall clock
    val prev = MiniDelta.commitClock
    MiniDelta.commitClock = () => 1000L // far in the past
    try {
      MiniDelta.append(spark, Seq((4L, "d")).toDF("id", "v"), t, Seq.empty)
      MiniDelta.append(spark, Seq((5L, "e")).toDF("id", "v"), t, Seq.empty)
    } finally MiniDelta.commitClock = prev
    val icts = (1L to 4L).map(v =>
      """"inCommitTimestamp":(\d+)""".r.findFirstMatchIn(commitJson(v))
        .get.group(1).toLong)
    assert(icts == icts.sorted && icts.distinct == icts,
      s"not strictly monotonic: $icts")
    // TIMESTAMP AS OF prefers the in-log clock (the read side landed
    // in r7; this proves the WRITE side feeds it)
    assert(MiniDelta.versionAtTimestamp(spark, t, icts.last) >= 4L)
  }

  test("append writes versioned commits; snapshot sees all live files") {
    val t = freshTable()
    assert(MiniDelta.append(spark, sample("2023", 3), t, Seq("year")) == 0L)
    assert(MiniDelta.append(spark, sample("2024", 2), t, Seq("year")) == 1L)
    val snap = MiniDelta.snapshotFiles(spark, t)
    assert(snap.count() > 0)
    // every file carries its Hive partition value in the log metadata
    val years = snap.select(element_at(col("partitionValues"), "year"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(years == Set("2023", "2024"))
  }

  test("partition filters resolve to the exact file subset, metadata-only") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    MiniDelta.append(spark, sample("2024", 2), t, Seq("year"))
    val snap = MiniDelta.snapshotFiles(spark, t)
    val pruned = MiniDelta.filesForFilters(snap, Seq(Map("year" -> "2023")))
    assert(pruned.count() < snap.count())
    assert(pruned.select(element_at(col("partitionValues"), "year"))
      .distinct().collect().map(_.getString(0)).toSet == Set("2023"))
    // empty filters / empty maps = allow all (P7)
    assert(MiniDelta.filesForFilters(snap, Seq.empty).count() == snap.count())
    assert(MiniDelta.filesForFilters(snap, Seq(Map.empty)).count() ==
      snap.count())
  }

  test("readFiltered scans only allowed rows (authorize-then-fetch)") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    MiniDelta.append(spark, sample("2024", 2), t, Seq("year"))
    val got = MiniDelta.readFiltered(spark, t, Seq(Map("year" -> "2023")))
    assert(got.count() == 3)
    // denied partition never read: XPAR analogue
    assert(MiniDelta.readFiltered(spark, t, Seq(Map("year" -> "1999")))
      .count() == 0)
  }

  test("read-only gate rejects writes (405 semantics)") {
    val t = freshTable()
    intercept[MiniDelta.ReadOnlyTableException] {
      MiniDelta.append(spark, sample("2023", 1), t, Seq("year"),
        readOnly = true)
    }
  }

  test("compaction rewrites the snapshot; data identical; removes replayed") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    MiniDelta.append(spark, sample("2023", 2), t, Seq("year"))
    MiniDelta.append(spark, sample("2024", 2), t, Seq("year"))
    val beforeFiles = MiniDelta.snapshotFiles(spark, t).count()
    val beforeData = MiniDelta.readFiltered(spark, t, Seq.empty)
      .orderBy("id", "year").collect().map(_.toSeq).toSeq
    val v = MiniDelta.compact(spark, t, Seq("year"))
    assert(v == 3L)
    val afterSnap = MiniDelta.snapshotFiles(spark, t)
    assert(afterSnap.count() == 2) // one file per year partition
    assert(afterSnap.count() < beforeFiles)
    val afterData = MiniDelta.readFiltered(spark, t, Seq.empty)
      .orderBy("id", "year").collect().map(_.toSeq).toSeq
    assert(afterData == beforeData)
    // pruning still resolves exactly after compaction
    assert(MiniDelta.readFiltered(spark, t, Seq(Map("year" -> "2023")))
      .count() == 5)
  }

  test("time travel: snapshotFilesAt replays only up to a version") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    MiniDelta.append(spark, sample("2024", 2), t, Seq("year"))
    MiniDelta.compact(spark, t, Seq("year"))
    val v0 = MiniDelta.snapshotFilesAt(spark, t, 0)
    val v1 = MiniDelta.snapshotFilesAt(spark, t, 1)
    val v2 = MiniDelta.snapshotFilesAt(spark, t, 2)
    assert(v0.select(element_at(col("partitionValues"), "year")).distinct()
      .collect().map(_.getString(0)).toSet == Set("2023"))
    assert(v1.count() > v0.count())
    assert(v2.count() == 2) // post-compaction: one file per partition
    // v1's files are disjoint from v2's rewritten files for old data
    assert(v2.join(v1, Seq("path"), "left_semi").count() == 0)
  }

  test("vacuum deletes only unreferenced files; reads stay correct") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    MiniDelta.append(spark, sample("2024", 2), t, Seq("year"))
    MiniDelta.compact(spark, t, Seq("year"))
    val before = MiniDelta.readFiltered(spark, t, Seq.empty)
      .orderBy("id", "year").collect().map(_.toSeq).toSeq
    val deleted = MiniDelta.vacuum(spark, t)
    assert(deleted.nonEmpty) // the pre-compaction files
    val after = MiniDelta.readFiltered(spark, t, Seq.empty)
      .orderBy("id", "year").collect().map(_.toSeq).toSeq
    assert(after == before)
    // idempotent
    assert(MiniDelta.vacuum(spark, t).isEmpty)
    // read-only gate applies
    intercept[MiniDelta.ReadOnlyTableException] {
      MiniDelta.vacuum(spark, t, readOnly = true)
    }
  }

  test("compaction binpacks partition directories in parallel tasks") {
    val t = freshTable()
    // 4 partition values, 2 small files each
    for (y <- Seq("2021", "2022", "2023", "2024"); _ <- 1 to 2)
      MiniDelta.append(spark, sample(y, 2), t, Seq("year"))
    MiniDelta.compact(spark, t, Seq("year"))
    val paths = MiniDelta.snapshotFiles(spark, t)
      .select("path").collect().map(_.getString(0))
    assert(paths.length == 4) // one file per partition directory
    // the rewrite ran as multiple tasks, not a coalesce(1) funnel:
    // parquet part files carry their writing task's index in the name
    val taskIds = paths.map(p =>
      "part-(\\d+)-".r.findFirstMatchIn(p.split("/").last).get.group(1))
    assert(taskIds.distinct.length > 1,
      s"all compacted files written by one task: ${paths.mkString(", ")}")
  }

  test("checkpoint replay equals full-JSON replay; auto-checkpoint fires") {
    val t = freshTable()
    for (i <- 1 to 20)
      MiniDelta.append(spark, sample((2000 + i % 3).toString, 1), t,
        Seq("year"))
    // auto-checkpoints at versions 9 and 19 (every 10th commit)
    val logFiles = new java.io.File(s"$t/_delta_log").list().toSet
    assert(logFiles.contains(f"${9L}%020d.checkpoint.parquet"))
    assert(logFiles.contains(f"${19L}%020d.checkpoint.parquet"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("path"), element_at(col("partitionValues"), "year"),
        col("size")).collect().map(_.toSeq).toSet
    // current snapshot: checkpoint(19) + empty tail == all 20 JSON commits
    assert(rows(MiniDelta.snapshotFilesAt(spark, t, Long.MaxValue)) ==
      rows(MiniDelta.snapshotFilesAt(spark, t, Long.MaxValue,
        useCheckpoint = false)))
    // mid-history: checkpoint(9) + tail commits 10..14
    assert(rows(MiniDelta.snapshotFilesAt(spark, t, 14)) ==
      rows(MiniDelta.snapshotFilesAt(spark, t, 14, useCheckpoint = false)))
    // before any checkpoint: pure JSON replay still works
    assert(rows(MiniDelta.snapshotFilesAt(spark, t, 5)) ==
      rows(MiniDelta.snapshotFilesAt(spark, t, 5, useCheckpoint = false)))
    // and checkpoints fold removes: compact, checkpoint, snapshot matches
    MiniDelta.compact(spark, t, Seq("year")) // version 20
    MiniDelta.writeCheckpoint(spark, t, 20)
    assert(rows(MiniDelta.snapshotFiles(spark, t)) ==
      rows(MiniDelta.snapshotFilesAt(spark, t, Long.MaxValue,
        useCheckpoint = false)))
  }

  test("min/max stats skip non-overlapping files; exact on top; survive checkpoint") {
    val t = freshTable()
    def batch(lo: Long, hi: Long, year: String) =
      (lo to hi).map(i => (i, year, s"v$i")).toDF("id", "year", "payload")
    // two commits with disjoint id ranges -> per-file stats discriminate
    MiniDelta.append(spark, batch(1, 10, "2023"), t, Seq("year"),
      statsCols = Seq("id"))
    MiniDelta.append(spark, batch(100, 110, "2023"), t, Seq("year"),
      statsCols = Seq("id"))
    val snap = MiniDelta.snapshotFiles(spark, t)
    val pruned = MiniDelta.filesForRange(snap, "id", 100, 105)
    assert(pruned.count() < snap.count()) // commit-1 files skipped
    // the read is exact: skipping + row filter == full scan + row filter
    val got = MiniDelta.readRange(spark, t, "id", 100, 105)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == (100L to 105L).toSet)
    // a range nothing overlaps resolves to zero files, empty result
    assert(MiniDelta.readRange(spark, t, "id", 50, 60).isEmpty)
    // stats ride through parquet checkpoints (replay = checkpoint + tail)
    MiniDelta.writeCheckpoint(spark, t, 1)
    val viaCp = MiniDelta.filesForRange(
      MiniDelta.snapshotFilesAt(spark, t, Long.MaxValue), "id", 100, 105)
    assert(viaCp.count() == pruned.count())
    // files without stats are kept, not dropped. Since r14 an empty
    // statsCols DEFAULTS to the first delta.dataSkippingNumIndexedCols
    // columns (Delta's contract), so a genuinely stat-less add needs
    // the property set to 0 first.
    MiniDelta.setTableProperties(spark, t,
      Map("delta.dataSkippingNumIndexedCols" -> "0"))
    val before = MiniDelta.snapshotFiles(spark, t).count()
    MiniDelta.append(spark, batch(200, 201, "2023"), t, Seq("year"))
    val snap2 = MiniDelta.snapshotFiles(spark, t)
    val statless = snap2.count() - before
    assert(statless >= 1)
    val kept = MiniDelta.filesForRange(snap2, "id", 100, 105)
    assert(kept.count() == pruned.count() + statless) // all survive
  }

  test("delta.checkpointInterval drives the auto-checkpoint cadence") {
    val t = freshTable()
    MiniDelta.createTable(spark, t, org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))),
      properties = Map("delta.checkpointInterval" -> "3"))
    def cpExists(v: Long): Boolean = new java.io.File(
      f"$t/_delta_log/$v%020d.checkpoint.parquet").exists()
    (1L to 5L).foreach { i =>
      MiniDelta.append(spark, Seq(Tuple1(i)).toDF("id"), t, Seq.empty)
    }
    // commits v0(create)..v5: (v+1)%3==0 → checkpoints at v2 and v5
    assert(cpExists(2L) && cpExists(5L))
    assert(!cpExists(3L) && !cpExists(4L))
    // the default cadence (10) stays for unconfigured tables
    val t2 = freshTable()
    (0 until 3).foreach { i =>
      MiniDelta.append(spark,
        Seq(Tuple1(i.toLong)).toDF("id"), t2, Seq.empty)
    }
    assert(!new java.io.File(s"$t2/_delta_log").listFiles()
      .exists(_.getName.contains(".checkpoint.")))
  }

  test("stats default to the first indexed data columns (Delta's rule)") {
    // r14: an EMPTY statsCols defaults to the first
    // delta.dataSkippingNumIndexedCols (32) min/max-able data columns —
    // without it every SQL INSERT/DML landed stat-less adds and the
    // table lost data skipping entirely. Partition columns never
    // appear (their exact values ride partitionValues).
    val t = freshTable()
    MiniDelta.append(spark,
      (1L to 10L).map(i => (i, "2023", s"v$i")).toDF(
        "id", "year", "payload"), t, Seq("year")) // NO statsCols
    val stats = MiniDelta.snapshotFiles(spark, t)
      .select("stats").collect().map(_.getString(0))
    assert(stats.nonEmpty && stats.forall(_ != null))
    assert(stats.forall(s => s.contains("\"id\"") &&
      s.contains("\"payload\"") && !s.contains("\"year\"")), stats.head)
    // ...and the defaulted stats actually skip
    val snap = MiniDelta.snapshotFiles(spark, t)
    assert(MiniDelta.filesForRange(snap, "id", 999, 1000).count() == 0)
    // the property bounds the list: 1 → only the first eligible column
    MiniDelta.setTableProperties(spark, t,
      Map("delta.dataSkippingNumIndexedCols" -> "1"))
    MiniDelta.append(spark, Seq((11L, "2023", "v11")).toDF(
      "id", "year", "payload"), t, Seq("year"))
    MiniDelta.invalidateSnapshot(t)
    val last = MiniDelta.snapshotFiles(spark, t)
      .select("stats").collect().map(_.getString(0))
      .filter(s => s != null && s.contains("11"))
    assert(last.exists(s => s.contains("\"id\"") &&
      !s.contains("\"payload\"")), last.toSeq)
  }

  test("clustered compaction makes stats skipping discriminate") {
    val t = freshTable()
    // hash-scatter ids across writer tasks: every pre-compaction file
    // spans (nearly) the whole id range, so min/max stats prune nothing
    val rows = (1L to 400L).map(i => (i, "2023", s"v$i")).toDF(
      "id", "year", "payload").repartition(4, col("payload"))
    MiniDelta.append(spark, rows.where(col("id") % 2 === 0), t,
      Seq("year"), statsCols = Seq("id"))
    MiniDelta.append(spark, rows.where(col("id") % 2 === 1), t,
      Seq("year"), statsCols = Seq("id"))
    val before = MiniDelta.snapshotFiles(spark, t)
    assert(MiniDelta.filesForRange(before, "id", 10, 20).count() ==
      before.count()) // every file overlaps: nothing skippable
    // cluster by id while binpacking: files now cover disjoint id ranges
    MiniDelta.compact(spark, t, Seq("year"), maxRecordsPerFile = 100,
      statsCols = Seq("id"), clusterBy = Seq("id"))
    val after = MiniDelta.snapshotFiles(spark, t)
    assert(after.count() >= 4) // 400 rows / 100 per file
    val hit = MiniDelta.filesForRange(after, "id", 10, 20)
    assert(hit.count() < after.count(), "clustered files must prune")
    // and the clustered read is still exact
    val got = MiniDelta.readRange(spark, t, "id", 10, 20)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == (10L to 20L).toSet)
  }

  test("schema evolution: appended column reads as null for old files") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year")) // v0: no score
    MiniDelta.append(spark,
      (4 to 5).map(i => (i.toLong, "2023", s"v$i", i * 10.0))
        .toDF("id", "year", "payload", "score"),
      t, Seq("year")) // v1: + score
    // declared schema = old fields, new column APPENDED
    assert(MiniDelta.latestSchema(spark, t).get.fieldNames.toSeq ==
      Seq("id", "year", "payload", "score"))
    val df = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(df.schema.fieldNames.toSeq == Seq("id", "year", "payload", "score"))
    val byId = df.collect().map(r => r.getLong(0) -> r).toMap
    assert((1 to 3).forall(i => byId(i.toLong).isNullAt(3))) // old files: null
    assert(byId(4L).getDouble(3) == 40.0 && byId(5L).getDouble(3) == 50.0)
    // time travel reads under the schema AS OF v0 — no score column
    assert(MiniDelta.readFiltered(spark, t, Seq.empty, versionAsOf = Some(0L))
      .schema.fieldNames.toSeq == Seq("id", "year", "payload"))
    // compaction materializes the evolved schema into every file
    MiniDelta.compact(spark, t, Seq("year"))
    val post = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(post.schema.fieldNames.toSeq == Seq("id", "year", "payload", "score"))
    assert(post.count() == 5 &&
      post.where(col("score").isNull).count() == 3)
  }

  test("delete rewrites only files containing matches (copy-on-write)") {
    val t = freshTable()
    def paths() = MiniDelta.snapshotFiles(spark, t)
      .select("path").collect().map(_.getString(0)).toSet
    MiniDelta.append(spark, sample("2023", 2), t, Seq("year")) // ids 1-2
    val lowFiles = paths() // the files that will hold matching rows
    MiniDelta.append(spark,
      (3 to 4).map(i => (i.toLong, "2023", s"v$i"))
        .toDF("id", "year", "payload"), t, Seq("year"))
    MiniDelta.append(spark, sample("2024", 3), t, Seq("year"))
    val before = paths()
    MiniDelta.delete(spark, t,
      col("year") === "2023" && col("id") <= 2, Seq("year"))
    val after = paths()
    // files holding matches are de-referenced (all their rows matched,
    // so nothing was rewritten for them)
    assert(lowFiles.intersect(after).isEmpty)
    // every other file is untouched: same physical paths stay referenced
    assert((before -- lowFiles).subsetOf(after))
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("year", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("2023", 3L), ("2023", 4L),
      ("2024", 1L), ("2024", 2L), ("2024", 3L)))
    // a delete that matches nothing commits nothing
    val v = MiniDelta.delete(spark, t, col("id") === 999L, Seq("year"))
    assert(MiniDelta.delete(spark, t, col("id") === 999L, Seq("year")) == v)
  }

  test("update rewrites matching rows in place") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    MiniDelta.update(spark, t, col("id") === 2L,
      Map("payload" -> lit("patched")), Seq("year"))
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "v1"), (2L, "patched"), (3L, "v3")))
  }

  test("update SET expressions all see the PRE-update row") {
    val t = freshTable()
    (1 to 2).map(i => (i.toLong, "2023", s"a$i", s"b$i"))
      .toDF("id", "year", "a", "b")
      .write.mode("overwrite").partitionBy("year").parquet(t)
    // build through the log so the table is MiniDelta-managed
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    MiniDelta.append(spark,
      (1 to 2).map(i => (i.toLong, "2023", s"a$i", s"b$i"))
        .toDF("id", "year", "a", "b"), t, Seq("year"))
    // swap a and b where id = 1: both RHS must resolve pre-update
    MiniDelta.update(spark, t, col("id") === 1L,
      Map("a" -> col("b"), "b" -> col("a")), Seq("year"))
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id", "a", "b").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "b1", "a1"), (2L, "a2", "b2")))
  }

  test("DML on a not-yet-created table: delete/update no-op, merge creates") {
    val t = freshTable()
    assert(MiniDelta.delete(spark, t, col("id") === 1L, Seq("year")) == -1L)
    assert(MiniDelta.update(spark, t, col("id") === 1L,
      Map("payload" -> lit("x")), Seq("year")) == -1L)
    // merge into nothing = create-table insert (all rows whenNotMatched)
    MiniDelta.merge(spark, t, sample("2023", 2), Seq("id"), Seq("year"))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 2)
  }

  test("merge aligns schemas both ways: null-fill and evolution") {
    val t = freshTable()
    MiniDelta.append(spark,
      (1 to 2).map(i => (i.toLong, "2023", s"v$i", i * 1.0))
        .toDF("id", "year", "payload", "score"), t, Seq("year"))
    // source LACKS score (null-filled on insert/replace) and BRINGS a
    // new column extra (appended to the declared schema)
    val src = Seq((2L, "2023", "upd", "E2"), (9L, "2023", "new", "E9"))
      .toDF("id", "year", "payload", "extra")
    MiniDelta.merge(spark, t, src, Seq("id"), Seq("year"))
    assert(MiniDelta.latestSchema(spark, t).get.fieldNames.toSeq ==
      Seq("id", "year", "payload", "score", "extra"))
    val rows = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id", "payload", "score", "extra").collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(rows(1L) == (("v1", Some(1.0), None)))    // untouched + null extra
    assert(rows(2L) == (("upd", None, Some("E2"))))  // replaced: score nulled
    assert(rows(9L) == (("new", None, Some("E9"))))  // inserted
  }

  test("append rejects retyping an existing column") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 1), t, Seq("year"))
    val retyped = Seq((7, "2023", 42)) // payload: Int instead of String
      .toDF("id", "year", "payload")
    intercept[IllegalArgumentException] {
      MiniDelta.append(spark, retyped, t, Seq("year"))
    }
    // nothing was written: validation precedes the data write
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 1)
  }

  test("a partial checkpoint (no _SUCCESS) is never selected") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 2), t, Seq("year"))
    MiniDelta.append(spark, sample("2024", 1), t, Seq("year"))
    val full = MiniDelta.snapshotFiles(spark, t).count()
    // simulate a crashed checkpoint job at v1: directory without marker
    val partial = new java.io.File(
      s"$t/_delta_log/${"%020d".format(1)}.checkpoint.parquet")
    partial.mkdirs()
    val fw = new java.io.FileWriter(new java.io.File(partial, "part-0.parquet"))
    fw.write("not parquet"); fw.close()
    assert(MiniDelta.snapshotFiles(spark, t).count() == full) // ignored
  }

  test("a leftover directory manifest and its sidecars are ignored") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 2), t, Seq("year"))   // v0
    MiniDelta.addConstraint(spark, t, "id_pos", "id > 0")         // v1
    MiniDelta.append(spark, sample("2024", 1), t, Seq("year"))   // v2
    // the pre-r6 checkpoint shape at v2, complete by its old rule
    // (_SUCCESS), with stale contents: the v0 manifest, a one-column
    // schema sidecar and an empty config sidecar
    val dir = f"$t%s/_delta_log/${2L}%020d.checkpoint.parquet"
    MiniDelta.snapshotFilesAt(spark, t, 0L, useCheckpoint = false)
      .write.parquet(dir)
    assert(new java.io.File(dir, "_SUCCESS").exists())
    def put(name: String, txt: String): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(
        f"$t%s/_delta_log/${2L}%020d.$name"), txt.getBytes("UTF-8"))
      ()
    }
    put("checkpoint.schema.json", sample("2023", 1).select("id").schema.json)
    put("checkpoint.config.json", "{}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_delta_log/_last_checkpoint"),
      """{"version":2}""".getBytes("UTF-8"))
    MiniDelta.invalidateSnapshot(t)
    // the answer is the pure JSON replay's
    def paths(df: org.apache.spark.sql.DataFrame) =
      df.select("path").as[String].collect().sorted.toSeq
    assert(paths(MiniDelta.snapshotFiles(spark, t)) ==
      paths(MiniDelta.snapshotFilesAt(spark, t, 2L, useCheckpoint = false)))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 3)
    assert(MiniDelta.latestSchema(spark, t).get.fieldNames.toSeq ==
      Seq("id", "year", "payload"))
    assert(MiniDelta.constraintsOf(MiniDelta.tableConfig(spark, t)) ==
      Map("id_pos" -> "id > 0"))
    intercept[MiniDelta.ConstraintViolationException] {
      MiniDelta.append(spark,
        Seq((-1L, "2023", "bad")).toDF("id", "year", "payload"),
        t, Seq("year"))
    }
  }

  test("a checkpoint without a protocol row is refused by name") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 2), t, Seq("year"))   // v0
    MiniDelta.writeCheckpoint(spark, t, 0L)
    // rewrite the checkpoint without its protocol row
    val cp = f"$t%s/_delta_log/${0L}%020d.checkpoint.parquet"
    val tmp = Files.createTempDirectory("noproto").toString
    spark.read.parquet(cp).where(col("protocol").isNull)
      .coalesce(1).write.parquet(s"$tmp/out")
    val pf = new java.io.File(s"$tmp/out").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    new java.io.File(f"$t%s/_delta_log/.${0L}%020d.checkpoint.parquet.crc")
      .delete()
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$tmp/out/$pf"),
      java.nio.file.Paths.get(cp),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    MiniDelta.invalidateSnapshot(t)
    val e = intercept[MiniDelta.MalformedCheckpointException] {
      MiniDelta.readFiltered(spark, t, Seq.empty).collect()
    }
    assert(e.getMessage.contains(s"$t: checkpoint 0 "), e.getMessage)
    intercept[MiniDelta.MalformedCheckpointException] {
      MiniDelta.append(spark, sample("2024", 1), t, Seq("year"))
    }
  }

  test("snapshot cache honors configured capacity") {
    import graft.catalog.CacheConfig
    MiniDelta.configureSnapshotCache(CacheConfig(1, 0L)) // LRU of 1
    try {
      val t1 = freshTable(); MiniDelta.append(spark, sample("2023", 1), t1, Seq("year"))
      val t2 = freshTable(); MiniDelta.append(spark, sample("2023", 1), t2, Seq("year"))
      val a = MiniDelta.snapshotFilesCached(spark, t1)
      assert(MiniDelta.snapshotFilesCached(spark, t1) eq a) // warm hit
      MiniDelta.snapshotFilesCached(spark, t2) // capacity 1: evicts t1
      assert(!(MiniDelta.snapshotFilesCached(spark, t1) eq a))
    } finally MiniDelta.configureSnapshotCache(CacheConfig(20, 120000L))
  }

  test("merge upserts: matched rows replaced, unmatched inserted") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    val src = Seq((2L, "2023", "updated"), (9L, "2024", "new"))
      .toDF("id", "year", "payload")
    MiniDelta.merge(spark, t, src, Seq("id"), Seq("year"))
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "v1"), (2L, "updated"), (3L, "v3"),
      (9L, "new")))
    // duplicate source keys are ambiguous -> rejected (Delta MERGE rule)
    val dup = Seq((5L, "2023", "a"), (5L, "2023", "b"))
      .toDF("id", "year", "payload")
    intercept[IllegalArgumentException] {
      MiniDelta.merge(spark, t, dup, Seq("id"), Seq("year"))
    }
  }

  test("z-order compaction: stats discriminate on BOTH dimensions") {
    val t = freshTable()
    // 32x32 grid scattered by an unrelated hash: every pre-compaction
    // file spans (nearly) the full range of x AND y
    val rows = (for (x <- 0 until 32; y <- 0 until 32)
      yield (x.toLong, y.toLong, s"p$x-$y")).toDF("x", "y", "payload")
      .repartition(8, col("payload"))
    MiniDelta.append(spark, rows, t, Seq.empty, statsCols = Seq("x", "y"))
    val before = MiniDelta.snapshotFiles(spark, t)
    assert(MiniDelta.filesForRange(before, "x", 4, 8).count() ==
      before.count()) // nothing skippable pre-compaction
    MiniDelta.compact(spark, t, Seq.empty, maxRecordsPerFile = 64,
      statsCols = Seq("x", "y"), zOrderBy = Seq("x", "y"))
    val after = MiniDelta.snapshotFiles(spark, t)
    assert(after.count() >= 16) // 1024 rows / 64 per file
    // a narrow range on EITHER dimension prunes most files — the
    // 1-D clusterBy form can only ever discriminate on its leading key
    val hitX = MiniDelta.filesForRange(after, "x", 4, 8).count()
    val hitY = MiniDelta.filesForRange(after, "y", 4, 8).count()
    assert(hitX <= after.count() / 2, s"x-range kept $hitX of ${after.count()}")
    assert(hitY <= after.count() / 2, s"y-range kept $hitY of ${after.count()}")
    // reads through skipping stay exact, and __z never leaks to disk
    val got = MiniDelta.readRange(spark, t, "y", 4.0, 8.0)
    assert(!got.columns.contains("__z"))
    assert(got.count() == 32 * 5)
    // the UNPARTITIONED z-sort rewrite ran as multiple tasks — not the
    // round-4 coalesce(1) funnel that z-sorted the whole table in one
    val taskIds = after.select("path").collect().map(_.getString(0)).map(p =>
      "part-(\\d+)-".r.findFirstMatchIn(p.split("/").last).get.group(1))
    assert(taskIds.distinct.length > 1,
      s"unpartitioned z-order rewrite ran in one task")
  }

  test("readChanges: append feed with OPTIMIZE rewrites invisible") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 2), t, Seq("year")) // v0
    MiniDelta.append(spark, sample("2024", 3), t, Seq("year")) // v1
    MiniDelta.compact(spark, t, Seq("year"))                   // v2: rewrite
    MiniDelta.append(spark,
      (6 to 7).map(i => (i.toLong, "2025", s"v$i"))
        .toDF("id", "year", "payload"), t, Seq("year"))        // v3
    // full feed = every appended row ONCE: the OPTIMIZE re-adds carry
    // dataChange=false and never double-count
    assert(MiniDelta.readChanges(spark, t, -1).count() == 7)
    val after0 = MiniDelta.readChanges(spark, t, 0)
    assert(after0.count() == 5) // v1 (3 rows) + v3 (2 rows)
    assert(after0.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // bounded window
    assert(MiniDelta.readChanges(spark, t, 0, 1).count() == 3)
    // empty window keeps the declared schema
    val none = MiniDelta.readChanges(spark, t, 3)
    assert(none.count() == 0 &&
      none.columns.toSeq ==
        Seq("id", "year", "payload", "_commit_version"))
  }

  test("processChanges: exactly-once delivery, crash replay, resume") {
    val t = freshTable()
    val cp = Files.createTempDirectory("cp").toString
    MiniDelta.append(spark, sample("2023", 2), t, Seq("year")) // v0
    MiniDelta.append(spark, sample("2024", 3), t, Seq("year")) // v1
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    MiniDelta.processChanges(spark, t, cp) { (df, v) =>
      seen += ((v, df.count()))
    }
    assert(seen.toSeq == Seq((0L, 2L), (1L, 3L)))
    // nothing redelivered on a second run
    MiniDelta.processChanges(spark, t, cp) { (_, _) => fail("redelivery") }
    // an OPTIMIZE commit delivers nothing — the handler is never woken
    // with an empty batch; new appends after it deliver incrementally
    MiniDelta.compact(spark, t, Seq("year"))                   // v2
    MiniDelta.append(spark, sample("2025", 1), t, Seq("year")) // v3
    seen.clear()
    MiniDelta.processChanges(spark, t, cp) { (df, v) =>
      seen += ((v, df.count()))
    }
    assert(seen.toSeq == Seq((3L, 1L)))
    // crash BETWEEN handler and marker: the commit replays next run
    MiniDelta.append(spark, sample("2026", 2), t, Seq("year")) // v4
    intercept[RuntimeException] {
      MiniDelta.processChanges(spark, t, cp) { (_, _) =>
        throw new RuntimeException("sink crash")
      }
    }
    seen.clear()
    MiniDelta.processChanges(spark, t, cp) { (df, v) =>
      seen += ((v, df.count()))
    }
    assert(seen.toSeq == Seq((4L, 2L))) // replayed exactly once
  }

  test("readChanges fails loudly when the window was vacuumed") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 2), t, Seq("year")) // v0
    MiniDelta.append(spark, sample("2024", 1), t, Seq("year")) // v1
    MiniDelta.compact(spark, t, Seq("year"))                   // v2
    MiniDelta.vacuum(spark, t) // physically deletes v0/v1 files
    val e = intercept[IllegalStateException] {
      MiniDelta.readChanges(spark, t, -1, 1).count()
    }
    assert(e.getMessage.contains("vacuumed"))
    // a consumer starting after the horizon is fine (nothing to read
    // in (2, ...]; the compacted files are dataChange=false)
    assert(MiniDelta.readChanges(spark, t, 2).count() == 0)
  }

  test("z-order on four columns auto-sizes bits and stays exact") {
    val t = freshTable()
    val rows = (for (a <- 0 until 6; b <- 0 until 6; c <- 0 until 6;
                     dd <- 0 until 2)
      yield (a.toLong, b.toLong, c.toLong, dd.toLong,
        s"p$a-$b-$c-$dd")).toDF("a", "b", "c", "d", "payload")
      .repartition(4, col("payload"))
    MiniDelta.append(spark, rows, t, Seq.empty,
      statsCols = Seq("a", "b", "c", "d"))
    // 4 cols * 16 bits would overflow a long; auto-sizing (63/4 = 15
    // bits) must make this succeed
    MiniDelta.compact(spark, t, Seq.empty, maxRecordsPerFile = 72,
      statsCols = Seq("a", "b", "c", "d"),
      zOrderBy = Seq("a", "b", "c", "d"))
    val got = MiniDelta.readRange(spark, t, "c", 2.0, 3.0)
    assert(got.count() == 6 * 6 * 2 * 2)
  }

  test("optimistic commit: losing appender rebases and retries") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 1), t, Seq("year")) // version 0
    // two writers race for version 1 — blind adds, so the loser must
    // land at version 2, not fail
    val v1 = MiniDelta.writeCommit(spark, t, 1,
      Seq("""{"add":{"path":"year=2023/a.parquet","partitionValues":{"year":"2023"},"size":1,"dataChange":true}}"""),
      "WRITE", retry = true)
    val v2 = MiniDelta.writeCommit(spark, t, 1,
      Seq("""{"add":{"path":"year=2023/b.parquet","partitionValues":{"year":"2023"},"size":1,"dataChange":true}}"""),
      "WRITE", retry = true)
    assert(Set(v1, v2) == Set(1L, 2L))
    // both commits are in the snapshot
    val paths = MiniDelta.snapshotFiles(spark, t)
      .select("path").collect().map(_.getString(0)).toSet
    assert(paths.contains("year=2023/a.parquet"))
    assert(paths.contains("year=2023/b.parquet"))
    // a snapshot-dependent commit (OPTIMIZE semantics) must NOT retry:
    // its removes were computed against a stale snapshot
    intercept[MiniDelta.ConcurrentCommitException] {
      MiniDelta.writeCommit(spark, t, 2, Seq.empty, "OPTIMIZE")
    }
  }

  test("log discovery is pointer-driven: no _delta_log listing after a checkpoint") {
    val t = freshTable()
    for (i <- 1 to 25) // auto-checkpoints at v9 and v19
      MiniDelta.append(spark, sample((2000 + i % 3).toString, 1), t,
        Seq("year"))
    // the Delta-protocol pointer names the newest checkpoint
    val ptr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/_last_checkpoint")), "UTF-8")
    assert(ptr.contains("\"version\":19"), ptr)
    val before = MiniDelta.logListings.get()
    // steady-state operations: snapshot replay, schema resolution,
    // another commit, a change-feed read — all bounded, none may fall
    // back to the O(history) directory listing
    assert(MiniDelta.snapshotFiles(spark, t).count() == 25)
    assert(MiniDelta.latestSchema(spark, t).nonEmpty)
    assert(MiniDelta.append(spark, sample("2024", 1), t, Seq("year")) == 25L)
    assert(MiniDelta.readChanges(spark, t, 24).count() == 1) // v25 only
    assert(MiniDelta.logListings.get() == before,
      "steady-state log discovery listed _delta_log")
    // time travel BELOW the pointer still resolves (listing fallback)
    assert(MiniDelta.snapshotFilesAt(spark, t, 5).count() == 6)
  }

  test("commits never list the table root: O(new files) write capture") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    val before = MiniDelta.dataListings.get()
    // every write-lifecycle commit captures its files from the staging
    // dir — at a 10⁷-file table a single root listing per commit would
    // dominate the job, so the counter must stay FLAT across all of them
    MiniDelta.append(spark, sample("2024", 2), t, Seq("year"))
    MiniDelta.compact(spark, t, Seq("year"))
    MiniDelta.delete(spark, t, col("id") === 1, Seq("year"))
    MiniDelta.update(spark, t, col("id") === 2,
      Map("payload" -> lit("patched")), Seq("year"))
    MiniDelta.merge(spark, t,
      Seq((99L, "2024", "new")).toDF("id", "year", "payload"),
      Seq("id"), Seq("year"))
    MiniDelta.overwrite(spark, sample("2023", 1), t, Seq("year"),
      replaceWhere = Seq(Map("year" -> "2023")))
    assert(MiniDelta.dataListings.get() == before,
      "a commit path listed the table's data directory")
    // the staged-rename capture committed the right files: contents and
    // the staging debris both check out
    val rows = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id", "year", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((1L, "2023", "v1"),
      (2L, "2024", "patched"), (99L, "2024", "new")), rows)
    val debris = java.nio.file.Files.list(java.nio.file.Paths.get(t))
      .toArray.map(_.toString).filter(_.contains("_staging_"))
    assert(debris.isEmpty, s"staging dirs left behind: ${debris.toSeq}")
    // vacuum's dead-file discovery is the sanctioned listing
    MiniDelta.vacuum(spark, t)
    assert(MiniDelta.dataListings.get() > before)
  }

  test("vacuum honors the retention horizon") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    MiniDelta.append(spark, sample("2023", 2), t, Seq("year"))
    MiniDelta.compact(spark, t, Seq("year"))
    // a 1-hour horizon right after the compact: the tombstoned files are
    // too young — NOTHING may be deleted (concurrent readers of the
    // pre-compact snapshot are still inside the window)
    assert(MiniDelta.vacuum(spark, t, retainMs = 3600 * 1000L).isEmpty)
    // time travel within the window still resolves
    assert(MiniDelta.snapshotFilesAt(spark, t, 0).count() > 0)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty,
      versionAsOf = Some(0L)).count() == 3)
    // once the horizon elapses (clock injected), the same call deletes
    val later = System.currentTimeMillis() + 2 * 3600 * 1000L
    val deleted = MiniDelta.vacuum(spark, t, retainMs = 3600 * 1000L,
      nowMs = () => later)
    assert(deleted.nonEmpty)
    // live data unaffected
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 5)
  }

  test("DML commits validate their read set against intervening commits") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    // a concurrent writer lands BETWEEN the delete's snapshot read and
    // its commit, and its added file MAY hold a matching row (the
    // sample's id stats include 1): Delta's ConcurrentAppend rule —
    // the delete must conflict, not silently commit a stale result
    MiniDelta.beforeDmlCommitHook = () =>
      MiniDelta.append(spark, sample("2024", 1), t, Seq("year"))
    try {
      intercept[MiniDelta.ConcurrentCommitException] {
        MiniDelta.delete(spark, t, col("id") === 1L, Seq("year"))
      }
    } finally MiniDelta.beforeDmlCommitHook = () => ()
    // nothing from the failed delete is visible; re-run succeeds
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 4)
    MiniDelta.delete(spark, t, col("id") === 1L && col("year") === "2023",
      Seq("year"))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 3)
  }

  test("predicate DML rebases over provably-disjoint concurrent commits") {
    // r15: Delta's conflict RESOLUTION — a lost race re-examines the
    // winners and rebases when they are logically disjoint, using the
    // SAME file-level condition discovery pruned with
    // (dmlFileCondition). WriteSerializable semantics: the surviving
    // history is DML-before-winner.
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    // (1) concurrent append to a DISJOINT partition: the year='2023'
    // delete proves the 2025 add holds no match and lands anyway
    MiniDelta.beforeDmlCommitHook = () => {
      MiniDelta.beforeDmlCommitHook = () => () // fire once
      MiniDelta.append(spark, sample("2025", 2), t, Seq("year"))
      ()
    }
    try {
      val v = MiniDelta.delete(spark, t, col("year") === "2023",
        Seq("year"))
      assert(v == MiniDelta.latestVersion(spark, t))
    } finally MiniDelta.beforeDmlCommitHook = () => ()
    // BOTH effects present: 2023 gone, the concurrent 2025 rows intact
    val years = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("year").as[String].collect().toSeq
    assert(years.sorted == Seq("2025", "2025"), years)
    // (2) data-column predicate: concurrent add whose id STATS exclude
    // the sought key resolves too (stats-screened ConcurrentAppend)
    MiniDelta.append(spark, sample("2026", 3), t, Seq("year"))
    MiniDelta.beforeDmlCommitHook = () => {
      MiniDelta.beforeDmlCommitHook = () => ()
      MiniDelta.append(spark,
        Seq((100L, "2026", "w")).toDF("id", "year", "payload"), t,
        Seq("year"))
      ()
    }
    try {
      MiniDelta.update(spark, t, col("id") === 2L,
        Map("payload" -> lit("upd")), Seq("year"))
    } finally MiniDelta.beforeDmlCommitHook = () => ()
    val rows = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id", "payload").as[(Long, String)].collect().toSet
    assert(rows.contains((2L, "upd")) && rows.contains((100L, "w")), rows)
    // (3) a concurrent METADATA change always conflicts (Delta's
    // MetadataChanged), even with a disjoint-partition predicate
    MiniDelta.beforeDmlCommitHook = () => {
      MiniDelta.beforeDmlCommitHook = () => ()
      MiniDelta.setTableProperties(spark, t, Map("spec.k" -> "1"))
      ()
    }
    try intercept[MiniDelta.ConcurrentCommitException] {
      MiniDelta.delete(spark, t, col("year") === "2025", Seq("year"))
    } finally MiniDelta.beforeDmlCommitHook = () => ()
    // (4) a concurrent REMOVE of a file this DML rewrites conflicts
    // (ConcurrentDeleteDelete): both target year=2026
    MiniDelta.beforeDmlCommitHook = () => {
      MiniDelta.beforeDmlCommitHook = () => ()
      MiniDelta.delete(spark, t, col("year") === "2026", Seq("year"))
      ()
    }
    try intercept[MiniDelta.ConcurrentCommitException] {
      MiniDelta.delete(spark, t,
        col("year") === "2026" && col("id") <= 1L, Seq("year"))
    } finally MiniDelta.beforeDmlCommitHook = () => ()
  }

  test("OPTIMIZE rebases past concurrent ingest; conflicts on its inputs") {
    // r15: a pure rewrite's outcome cannot depend on files it never
    // read, so compaction lands under continuous ingest instead of
    // losing every race — while a concurrent DELETE of one of its
    // INPUT files still conflicts (the rewrite would resurrect rows)
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3).repartition(3), t,
      Seq("year"))
    MiniDelta.beforeDmlCommitHook = () => {
      MiniDelta.beforeDmlCommitHook = () => () // fire once
      MiniDelta.append(spark, sample("2024", 1), t, Seq("year"))
      ()
    }
    try {
      val v = MiniDelta.compact(spark, t, Seq("year"))
      assert(v == MiniDelta.latestVersion(spark, t),
        "the rebased OPTIMIZE must land after the concurrent append")
    } finally MiniDelta.beforeDmlCommitHook = () => ()
    MiniDelta.invalidateSnapshot(t)
    // both effects present: compaction landed AND the ingest survived
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 4)
    assert(MiniDelta.snapshotFiles(spark, t)
      .where(element_at(col("partitionValues"), "year") === "2023")
      .count() == 1, "2023 must be compacted to one file")
    // the conflict side: a concurrent DELETE removes one of the
    // compaction's inputs
    MiniDelta.append(spark, sample("2025", 2).repartition(2), t,
      Seq("year"))
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.beforeDmlCommitHook = () => {
      MiniDelta.beforeDmlCommitHook = () => ()
      MiniDelta.delete(spark, t, col("year") === "2025", Seq("year"))
      ()
    }
    try intercept[MiniDelta.ConcurrentCommitException](
      MiniDelta.compact(spark, t, Seq("year")))
    finally MiniDelta.beforeDmlCommitHook = () => ()
  }

  test("UPDATE SET with an unknown column fails instead of no-opping") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 2), t, Seq("year"))
    val e = intercept[IllegalArgumentException] {
      MiniDelta.update(spark, t, col("id") === 1L,
        Map("payloadd" -> lit("typo")), Seq("year"))
    }
    assert(e.getMessage.contains("payloadd"))
  }

  test("control characters in stats strings survive the log round-trip") {
    val t = freshTable()
    val rows = Seq((1L, "2023", "a\nmulti\tline"),
      (2L, "2023", "zz\"quoted\\back")).toDF("id", "year", "payload")
    MiniDelta.append(spark, rows, t, Seq("year"),
      statsCols = Seq("payload")) // min/max carry the control chars
    // one action per line: every log line parses, nothing split
    val snap = MiniDelta.snapshotFiles(spark, t)
    assert(snap.count() > 0)
    val log = MiniDelta.logDF(spark, t)
    assert(log.where(col("add").isNull && col("remove").isNull &&
      col("commitInfo").isNull && col("metaData").isNull &&
      col("protocol").isNull).count() == 0,
      "log contains unparseable action lines")
    // and the data itself reads back exactly
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("payload").collect().map(_.getString(0)).toSet
    assert(got == Set("a\nmulti\tline", "zz\"quoted\\back"))
  }

  test("writeCheckpoint at an already-checkpointed version is idempotent") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 2), t, Seq("year"))
    MiniDelta.append(spark, sample("2024", 1), t, Seq("year"))
    MiniDelta.writeCheckpoint(spark, t, 1)
    // re-checkpointing the same version must fold from BELOW it, not
    // read the path it is about to overwrite
    MiniDelta.writeCheckpoint(spark, t, 1)
    assert(MiniDelta.snapshotFiles(spark, t).count() ==
      MiniDelta.snapshotFilesAt(spark, t, Long.MaxValue,
        useCheckpoint = false).count())
  }

  test("hand-cleaned pre-checkpoint history degrades gracefully") {
    val t = freshTable()
    for (i <- 1 to 12) // auto-checkpoint at v9
      MiniDelta.append(spark, sample((2000 + i % 3).toString, 1), t,
        Seq("year"))
    val full = MiniDelta.snapshotFiles(spark, t).count()
    // log-retention hygiene: drop the first two pre-checkpoint commits
    for (v <- 0 to 1)
      assert(new java.io.File(s"$t/_delta_log/${"%020d".format(v)}.json")
        .delete())
    // snapshot replay (checkpoint + tail) is untouched by the gap
    assert(MiniDelta.snapshotFiles(spark, t).count() == full)
    // full-log reads skip the missing files instead of crashing
    assert(MiniDelta.logDF(spark, t).where(col("add").isNotNull)
      .count() == 10)
    // vacuum (which reads the full log for tombstones) still works
    MiniDelta.compact(spark, t, Seq("year"))
    assert(MiniDelta.vacuum(spark, t).nonEmpty)
  }

  test("readCdf reconstructs row-level before/after images") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))     // v0
    MiniDelta.update(spark, t, col("id") === 2L,
      Map("payload" -> lit("patched")), Seq("year"))               // v1
    MiniDelta.delete(spark, t, col("id") === 3L, Seq("year"))      // v2
    MiniDelta.compact(spark, t, Seq("year"))                       // v3
    val cdf = MiniDelta.readCdf(spark, t, fromVersion = -1)
      .select("id", "payload", "_change_type", "_commit_version")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(cdf == Set(
      (1L, "v1", "insert", 0L), (2L, "v2", "insert", 0L),
      (3L, "v3", "insert", 0L),
      // v1: ONLY the changed row, as pre+post image — the copy-on-write
      // survivors (id 1, 3 rewritten in the same file) must all cancel
      (2L, "v2", "update_preimage", 1L),
      (2L, "patched", "update_postimage", 1L),
      // v2: the deleted row; v3 OPTIMIZE contributes nothing
      (3L, "v3", "delete", 2L)))
    // windowed: only the update commit
    assert(MiniDelta.readCdf(spark, t, 0, 1)
      .select("_change_type").distinct().collect().map(_.getString(0))
      .toSet == Set("update_preimage", "update_postimage"))
    // empty window keeps schema
    val none = MiniDelta.readCdf(spark, t, 3)
    assert(none.count() == 0 && none.columns.toSeq ==
      Seq("id", "year", "payload", "_change_type", "_commit_version"))
    // a vacuumed window fails loudly, like readChanges
    MiniDelta.vacuum(spark, t)
    val e = intercept[IllegalStateException] {
      MiniDelta.readCdf(spark, t, -1, 1).count()
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("the log itself reads as data (S5 passthrough)") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 2), t, Seq("year"))
    val log = MiniDelta.logDF(spark, t)
    assert(log.where(col("add").isNotNull).count() > 0)
    assert(log.where(col("commitInfo").isNotNull).count() == 1)
  }

  test("deletion vectors: mask instead of rewrite; reads, travel, CDF, " +
      "compact, restore all agree") {
    val t = freshTable()
    // coalesce(1): multi-row files, so a partial delete MASKS instead
    // of degrading to a full-file removal
    MiniDelta.append(spark, sample("2023", 4).coalesce(1), t, Seq("year")) // v0
    MiniDelta.append(spark, sample("2024", 3).coalesce(1), t, Seq("year")) // v1
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))                 // v2
    val pathsBefore = MiniDelta.snapshotFiles(spark, t)
      .select("path").as[String].collect().toSet
    MiniDelta.delete(spark, t,
      col("id") === 2 && col("year") === "2023", Seq("year"))       // v3, DV
    // no data file was added or removed — the row is MASKED
    val snap = MiniDelta.snapshotFiles(spark, t).collect()
    assert(snap.map(_.getString(0)).toSet == pathsBefore)
    assert(snap.exists(r => !r.isNullAt(r.fieldIndex("dv_path"))))
    val read1 = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(read1.count() == 6)
    assert(read1.where(col("id") === 2 && col("year") === "2023")
      .count() == 0)
    // a second DV delete UNIONS into the mask
    MiniDelta.delete(spark, t,
      col("id") === 1 && col("year") === "2023", Seq("year"))       // v4
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 5)
    // time travel BEFORE the deletes sees everything
    assert(MiniDelta.readFiltered(spark, t, Seq.empty,
      versionAsOf = Some(2L)).count() == 7)
    // CDF: v4 delivers exactly the one newly-masked row as a delete
    val cdf = MiniDelta.readCdf(spark, t, 3, 4)
    assert(cdf.count() == 1)
    assert(cdf.select("_change_type").as[String].head() == "delete")
    assert(cdf.select("id").as[Long].head() == 1L)
    // DV UPDATE: mask the old row, APPEND the updated image — no file
    // rewritten; CDF diffs the commit to a pre/post image pair
    MiniDelta.update(spark, t, col("id") === 3 && col("year") === "2024",
      Map("payload" -> lit("updated")), Seq("year"))                 // v5
    val afterU = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(afterU.count() == 5)
    assert(afterU.where(col("payload") === "updated").count() == 1)
    val ucdf = MiniDelta.readCdf(spark, t, 4, 5)
    assert(ucdf.where(col("_change_type") === "update_preimage")
      .select("payload").as[String].head() == "v3")
    assert(ucdf.where(col("_change_type") === "update_postimage")
      .select("payload").as[String].head() == "updated")
    assert(ucdf.count() == 2)
    // DV MERGE: matched target rows masked, the whole source appended —
    // an upsert that rewrites no target file
    MiniDelta.merge(spark, t,
      Seq((1L, "2024", "merged"), (9L, "2024", "new"))
        .toDF("id", "year", "payload"),
      Seq("id", "year"), Seq("year"))                               // v6
    val afterM = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(afterM.count() == 6)
    assert(afterM.where(col("id") === 1 && col("year") === "2024")
      .select("payload").as[String].head() == "merged")
    assert(afterM.where(col("id") === 9).count() == 1)
    // deleting every remaining 2023 row drops its files entirely
    MiniDelta.delete(spark, t, col("year") === "2023", Seq("year")) // v7
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 4)
    assert(MiniDelta.snapshotFiles(spark, t)
      .where(element_at(col("partitionValues"), "year") === "2023")
      .count() == 0)
    // OPTIMIZE materializes: masks purged, data identical
    MiniDelta.compact(spark, t, Seq("year"))
    val snap2 = MiniDelta.snapshotFiles(spark, t).collect()
    assert(snap2.forall(r => r.isNullAt(r.fieldIndex("dv_path"))))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 4)
    // RESTORE to the one-mask state brings the DV back into force
    MiniDelta.restore(spark, t, toVersion = 3)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 6)
    // vacuum cleans ORPHANED masks only: the restored v3 mask is
    // live and survives; later versions' masks are orphaned and go
    // (masks are real-format deletion_vector_*.bin files since r6)
    val deleted = MiniDelta.vacuum(spark, t)
    assert(deleted.exists(_.startsWith("deletion_vector_")), deleted)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 6)
    // a restore needing a vacuumed sidecar fails loudly (v4's mask died)
    val e = intercept[IllegalStateException] {
      MiniDelta.restore(spark, t, toVersion = 4)
    }
    assert(e.getMessage.contains("vacuum"))
  }

  test("overwrite: full replace, replaceWhere scope, schema swap") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    MiniDelta.append(spark, sample("2024", 2), t, Seq("year"))
    // replaceWhere: reload ONLY 2023 with one row; 2024 untouched
    val before2024 = MiniDelta.snapshotFiles(spark, t)
      .where(element_at(col("partitionValues"), "year") === "2024")
      .select("path").as[String].collect().toSet
    MiniDelta.overwrite(spark,
      Seq((10L, "2023", "reloaded")).toDF("id", "year", "payload"),
      t, Seq("year"), replaceWhere = Seq(Map("year" -> "2023")))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 3)
    assert(MiniDelta.readFiltered(spark, t, Seq(Map("year" -> "2023")))
      .select("id").as[Long].collect().toSeq == Seq(10L))
    assert(MiniDelta.snapshotFiles(spark, t)
      .where(element_at(col("partitionValues"), "year") === "2024")
      .select("path").as[String].collect().toSet == before2024)
    // rows OUTSIDE the replaced scope are rejected before any commit
    intercept[IllegalArgumentException] {
      MiniDelta.overwrite(spark,
        Seq((11L, "2025", "stray")).toDF("id", "year", "payload"),
        t, Seq("year"), replaceWhere = Seq(Map("year" -> "2023")))
    }
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 3)
    // full overwrite with a SWAPPED schema (column dropped)
    MiniDelta.overwrite(spark,
      Seq((1L, "2024")).toDF("id", "year"), t, Seq("year"),
      overwriteSchema = true)
    val now = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(now.columns.toSeq == Seq("id", "year") && now.count() == 1)
    // history records the operation
    assert(MiniDelta.history(spark, t)
      .select("operation").as[String].collect().count(_ == "OVERWRITE") == 2)
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

  /** Write `lines` as a raw real-format commit (no commitInfo shim). */
  private def rawCommit(t: String, v: Long, lines: Seq[String]): Unit = {
    val dir = new java.io.File(s"$t/_delta_log")
    dir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(f"$t%s/_delta_log/$v%020d.json"),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  test("reads a hand-built REAL-format Delta log end to end") {
    val t = freshTable()
    // data files the way a real writer lands them: plain parquet parts
    def landParquet(rows: Seq[(Long, String)]): String = {
      val before = Option(new java.io.File(t).listFiles()).toSeq.flatten
        .map(_.getName).toSet
      rows.toDF("id", "v").coalesce(1).write.mode("append").parquet(t)
      new java.io.File(t).listFiles()
        .map(_.getName).filter(n => n.endsWith(".parquet") && !before(n))
        .head
    }
    val schemaJson = jsonStr(Seq((1L, "a")).toDF("id", "v").schema.json)
    val f1 = landParquet(Seq((1L, "a"), (2L, "b")))
    rawCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{},"size":${sizeOf(t, f1)},"dataChange":true}}"""))
    val f2 = landParquet(Seq((3L, "c"), (4L, "d"), (5L, "e")))
    rawCommit(t, 1L, Seq(
      s"""{"add":{"path":${jsonStr(f2)},"partitionValues":{},"size":${sizeOf(t, f2)},"dataChange":true}}""",
      s"""{"remove":{"path":${jsonStr(f1)},"dataChange":true,"deletionTimestamp":1}}"""))
    // REAL-shape checkpoint at v1: protocol/metaData/add as COLUMNS of a
    // SINGLE parquet file (no sidecars, no directory manifest)
    val cpTmp = Files.createTempDirectory("realcp").toString
    val cpLines = Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"k":"v"}}}""",
      s"""{"add":{"path":${jsonStr(f2)},"partitionValues":{},"size":${sizeOf(t, f2)},"dataChange":true}}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$cpTmp/cp.json"),
      cpLines.mkString("\n").getBytes("UTF-8"))
    spark.read.schema(MiniDelta.logSchema).json(s"$cpTmp/cp.json")
      .drop("commitInfo").coalesce(1)
      .write.parquet(s"$cpTmp/out")
    val part = new java.io.File(s"$cpTmp/out").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$cpTmp/out/$part"),
      java.nio.file.Paths.get(f"$t%s/_delta_log/${1L}%020d.checkpoint.parquet"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_delta_log/_last_checkpoint"),
      """{"version":1}""".getBytes("UTF-8"))
    // a JSON tail commit AFTER the checkpoint
    val f3 = landParquet(Seq((6L, "f")))
    rawCommit(t, 2L, Seq(
      s"""{"add":{"path":${jsonStr(f3)},"partitionValues":{},"size":${sizeOf(t, f3)},"dataChange":true}}"""))
    // snapshot = checkpoint adds + tail adds; f1 stays dead
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(got.columns.toSeq == Seq("id", "v"))
    assert(got.select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L, 5L, 6L))
    // schema + config resolve from the checkpoint's metaData ROW
    assert(MiniDelta.latestSchema(spark, t).map(_.fieldNames.toSeq)
      .contains(Seq("id", "v")))
    assert(MiniDelta.tableConfig(spark, t) == Map("k" -> "v"))
    // time travel below the checkpoint replays raw JSON
    assert(MiniDelta.readFiltered(spark, t, Seq.empty, versionAsOf = Some(0L))
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("protocol gate: unsupported reader demands throw named errors") {
    def mk(lines: Seq[String]): String = {
      val t = freshTable()
      Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(t)
      val f1 = new java.io.File(t).listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).head
      val schemaJson = jsonStr(Seq((1L, "a")).toDF("id", "v").schema.json)
      rawCommit(t, 0L, lines ++ Seq(
        s"""{"metaData":{"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""",
        s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{},"size":${sizeOf(t, f1)},"dataChange":true}}"""))
      t
    }
    // supported: v3 with features this engine honors
    val ok = mk(Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","timestampNtz"],"writerFeatures":["deletionVectors"]}}"""))
    assert(MiniDelta.readFiltered(spark, ok, Seq.empty).count() == 1)
    // v3 with a feature this engine lacks (v2Checkpoint and
    // typeWidening ARE read now — their own tests; a genuinely unknown
    // feature would silently mis-read)
    val e1 = intercept[MiniDelta.UnsupportedTableFeatureException] {
      MiniDelta.readFiltered(spark, mk(Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["collations-preview"],"writerFeatures":[]}}""")),
        Seq.empty).count()
    }
    assert(e1.getMessage.contains("collations-preview"))
    // reader version beyond the protocol this engine speaks
    intercept[MiniDelta.UnsupportedTableFeatureException] {
      MiniDelta.readFiltered(spark, mk(Seq(
        """{"protocol":{"minReaderVersion":4,"minWriterVersion":7}}""")),
        Seq.empty).count()
    }
    // id-mode column mapping flagged from metaData configuration
    // (name mode reads via logical relabeling — its own test below)
    val cm = freshTable()
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(cm)
    val cmF = new java.io.File(cm).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    val cmSchema = jsonStr(Seq((1L, "a")).toDF("id", "v").schema.json)
    rawCommit(cm, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"schemaString":$cmSchema,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"}}}""",
      s"""{"add":{"path":${jsonStr(cmF)},"partitionValues":{},"size":${sizeOf(cm, cmF)},"dataChange":true}}"""))
    intercept[MiniDelta.ColumnMappingUnsupportedException] {
      MiniDelta.readFiltered(spark, cm, Seq.empty).count()
    }
    // a DV whose storage form this engine cannot DECODE: refuse loudly,
    // never resurrect (supported u/i/p forms are read — RoaringDvSpec)
    val dvT = mk(Seq.empty)
    val dvF = new java.io.File(dvT).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    rawCommit(dvT, 1L, Seq(
      s"""{"add":{"path":${jsonStr(dvF)},"partitionValues":{},"size":${sizeOf(dvT, dvF)},"dataChange":true,"deletionVector":{"storageType":"x","pathOrInlineDv":"whoknows","offset":1,"sizeInBytes":36,"cardinality":2}}}"""))
    val e2 = intercept[MiniDelta.UnsupportedTableFeatureException] {
      MiniDelta.readFiltered(spark, dvT, Seq.empty).count()
    }
    assert(e2.getMessage.contains("storageType"))
    // a multi-part _last_checkpoint pointer whose part files are GONE
    // degrades to the JSON replay instead of trusting a phantom set
    val mp = mk(Seq.empty)
    assert(MiniDelta.readFiltered(spark, mp, Seq.empty).count() == 1)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$mp/_delta_log/_last_checkpoint"),
      """{"version":0,"parts":3}""".getBytes("UTF-8"))
    assert(MiniDelta.snapshotFiles(spark, mp).count() == 1)
  }

  test("overwrite replaceWhere guards the FIRST write too") {
    // Delta rejects out-of-scope rows even when the overwrite creates
    // the table — the not-yet-created early return must not skip the
    // scope guard
    val t = freshTable()
    intercept[IllegalArgumentException] {
      MiniDelta.overwrite(spark,
        Seq((1L, "2023", "in"), (2L, "2025", "stray"))
          .toDF("id", "year", "payload"),
        t, Seq("year"), replaceWhere = Seq(Map("year" -> "2023")))
    }
    assert(!MiniDelta.tableExists(spark, t)) // nothing landed
    // fully in-scope first write creates the table
    MiniDelta.overwrite(spark,
      Seq((1L, "2023", "in")).toDF("id", "year", "payload"),
      t, Seq("year"), replaceWhere = Seq(Map("year" -> "2023")))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 1)
  }

  test("legacy metaData without configuration does not disarm constraints") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    MiniDelta.addConstraint(spark, t, "id_pos", "id > 0")
    // a legacy-format commit whose metaData carries NO configuration
    // key (deserializes as null) — "not stated", not "explicitly empty"
    val schemaJson = sample("2023", 1).schema.json
    val legacy = """{"metaData":{"schemaString":""" +
      com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .writeValueAsString(schemaJson) +
      ""","partitionColumns":["year"]}}"""
    MiniDelta.writeCommit(spark, t, 3L, Seq(legacy), "LEGACY")
    assert(MiniDelta.tableConfig(spark, t)
      .contains("delta.constraints.id_pos"))
    intercept[MiniDelta.ConstraintViolationException] {
      MiniDelta.append(spark,
        Seq((-1L, "2023", "bad")).toDF("id", "year", "payload"),
        t, Seq("year"))
    }
    // an EXPLICIT empty configuration still overrides (drops the
    // constraint): {} deserializes as an empty map, not null
    val reset = """{"metaData":{"schemaString":""" +
      com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .writeValueAsString(schemaJson) +
      ""","partitionColumns":["year"],"configuration":{}}}"""
    MiniDelta.writeCommit(spark, t, 4L, Seq(reset), "RESET")
    assert(MiniDelta.tableConfig(spark, t).isEmpty)
  }

  test("clone add paths under an '='-bearing root leak no partition values") {
    val root = Files.createTempDirectory("cloneroot").toString + "/run=5/src"
    MiniDelta.append(spark, sample("2023", 2), root, Seq("year"))
    val target = freshTable()
    MiniDelta.cloneShallow(spark, root, target)
    // only the contiguous k=v SUFFIX is partition structure: the
    // absolute source paths carry .../run=5/src/year=.../file — run=5
    // must not surface as a partition value on the cloned adds
    val pvKeys = MiniDelta.snapshotFiles(spark, target)
      .select(explode(map_keys(col("partitionValues"))))
      .distinct().collect().map(_.getString(0)).toSet
    assert(pvKeys == Set("year"))
    assert(MiniDelta.readFiltered(spark, target,
      Seq(Map("year" -> "2023"))).count() == 2)
  }

  test("CoW DML applies deletion vectors in the rewrite (no compact needed)") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3).coalesce(1), t, Seq("year"))
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    MiniDelta.delete(spark, t, col("id") === 2, Seq("year")) // masked
    MiniDelta.update(spark, t, col("id") === 1,
      Map("payload" -> lit("x")), Seq("year")) // mask + appended image
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "false"))
    // copy-on-write over the DV-bearing snapshot: the rewrite reads
    // UNDER the masks — the masked ids 1 and 2 must not resurrect, and
    // no OPTIMIZE is required first (the old behavior refused here)
    MiniDelta.update(spark, t, col("id") === 3,
      Map("payload" -> lit("y")), Seq("year"))
    val rows = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "x"), (3L, "y")), rows)
    // the rewritten adds materialized their masks: no DV references
    // survive on the touched files
    val stillMasked = MiniDelta.snapshotFiles(spark, t)
      .where(col("dv_path").isNotNull).count()
    assert(stillMasked == 0, s"$stillMasked files still carry masks")
    // CoW DELETE over a (new) masked file behaves the same way
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    MiniDelta.delete(spark, t, col("id") === 1, Seq("year")) // mask image
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "false"))
    MiniDelta.delete(spark, t, col("id") === 3, Seq("year"))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 0)
  }

  test("DML manifest discovery prunes by partition values and stats") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"),
      statsCols = Seq("id"))
    MiniDelta.append(spark, sample("2023", 2), t, Seq("year"),
      statsCols = Seq("id"))
    MiniDelta.append(spark, sample("2024", 2), t, Seq("year"),
      statsCols = Seq("id"))
    val snap = MiniDelta.snapshotFiles(spark, t)
    val total = snap.count()
    val in2023 = MiniDelta.filesForFilters(snap,
      Seq(Map("year" -> "2023"))).count()
    assert(in2023 < total)
    // partition-scoped DELETE: only 2023's manifest rows may reach the
    // driver — the k-files-not-N guarantee that matters at 10⁷ files
    val before = MiniDelta.dmlManifestRows.get()
    MiniDelta.delete(spark, t, col("year") === "2023", Seq("year"))
    assert(MiniDelta.dmlManifestRows.get() - before == in2023,
      s"collected ${MiniDelta.dmlManifestRows.get() - before} manifest " +
        s"rows, expected the $in2023 files of the scoped partition")
    // stats-scoped UPDATE: id=999 is outside every file's [min,max] —
    // nothing may be collected OR rewritten
    val before2 = MiniDelta.dmlManifestRows.get()
    val v = MiniDelta.latestVersion(spark, t)
    MiniDelta.update(spark, t, col("id") === 999L,
      Map("payload" -> lit("never")), Seq("year"))
    assert(MiniDelta.dmlManifestRows.get() == before2)
    assert(MiniDelta.latestVersion(spark, t) == v) // no-op, no commit
  }

  test("DV keys survive a table root containing '='") {
    // the mask key is the partition-relative path tail — a '=' in the
    // table's OWN root must not inflate the build- or read-side depth
    val root = Files.createTempDirectory("dvroot").toString + "/run=5/t"
    MiniDelta.append(spark, sample("2023", 3).coalesce(1), root, Seq("year"))
    MiniDelta.setTableProperties(spark, root,
      Map("delta.enableDeletionVectors" -> "true"))
    MiniDelta.delete(spark, root, col("id") === 2, Seq("year"))
    val got = MiniDelta.readFiltered(spark, root, Seq.empty)
    assert(got.count() == 2)
    assert(got.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("OPTIMIZE WHERE compacts only the selected partitions") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    MiniDelta.append(spark, sample("2023", 2), t, Seq("year"))
    MiniDelta.append(spark, sample("2024", 2), t, Seq("year"))
    def paths(year: String) = MiniDelta.snapshotFiles(spark, t)
      .where(element_at(col("partitionValues"), "year") === year)
      .select("path").as[String].collect().toSet
    val before2024 = paths("2024")
    assert(paths("2023").size >= 2)
    MiniDelta.compact(spark, t, Seq("year"),
      where = Seq(Map("year" -> "2023")))
    // 2023 collapsed; 2024's live files are EXACTLY the ones from before
    assert(paths("2023").size == 1)
    assert(paths("2024") == before2024)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 7)
    // a scope that matches nothing commits nothing
    val v = MiniDelta.compact(spark, t, Seq("year"),
      where = Seq(Map("year" -> "1999")))
    assert(MiniDelta.history(spark, t).collect()
      .head.getLong(0) == v)
  }

  test("TIMESTAMP AS OF resolves the latest commit at or before the time") {
    val t = freshTable()
    val clock0 = MiniDelta.commitClock
    try {
      MiniDelta.commitClock = () => 1000L
      MiniDelta.append(spark, sample("2023", 2), t, Seq("year"))   // v0 @1000
      MiniDelta.commitClock = () => 2000L
      MiniDelta.append(spark, sample("2024", 3), t, Seq("year"))   // v1 @2000
      MiniDelta.commitClock = () => 3000L
      MiniDelta.delete(spark, t, col("year") === "2023", Seq("year")) // v2 @3000
      assert(MiniDelta.versionAtTimestamp(spark, t, 1000L) == 0L)
      assert(MiniDelta.versionAtTimestamp(spark, t, 1500L) == 0L)
      assert(MiniDelta.versionAtTimestamp(spark, t, 2999L) == 1L)
      assert(MiniDelta.versionAtTimestamp(spark, t, 9999L) == 2L)
      assert(MiniDelta.readAtTimestamp(spark, t, 2500L).count() == 5)
      assert(MiniDelta.readAtTimestamp(spark, t, 9999L).count() == 3)
      val e = intercept[IllegalArgumentException] {
        MiniDelta.versionAtTimestamp(spark, t, 999L)
      }
      assert(e.getMessage.contains("no commit"))
    } finally MiniDelta.commitClock = clock0
  }

  test("history lists commits newest first with add/remove counts") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    MiniDelta.delete(spark, t, col("id") === 1, Seq("year"))
    MiniDelta.compact(spark, t, Seq("year"))
    val h = MiniDelta.history(spark, t).collect()
    assert(h.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "OPTIMIZE"), (1L, "DELETE"), (0L, "WRITE")))
    val v0 = h.find(_.getLong(0) == 0L).get
    assert(v0.getLong(2) > 0 && v0.getLong(3) == 0L)
    val v2 = h.find(_.getLong(0) == 2L).get
    assert(v2.getLong(2) > 0 && v2.getLong(3) > 0L)
  }

  test("CHECK constraints: enforced on append and DML, survive " +
      "checkpoints, restore rolls them back") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))        // v0
    // adding a constraint the existing data violates is rejected
    val pre = intercept[MiniDelta.ConstraintViolationException] {
      MiniDelta.addConstraint(spark, t, "big_ids", "id > 1")
    }
    assert(pre.getMessage.contains("big_ids"))
    assert(MiniDelta.addConstraint(spark, t, "pos_ids", "id > 0") == 1L)
    assert(MiniDelta.constraintsOf(MiniDelta.tableConfig(spark, t)) ==
      Map("pos_ids" -> "id > 0"))
    // a violating append fails BEFORE any commit; table is unchanged
    val e = intercept[MiniDelta.ConstraintViolationException] {
      MiniDelta.append(spark,
        Seq((0L, "2023", "bad")).toDF("id", "year", "payload"), t, Seq("year"))
    }
    assert(e.getMessage.contains("pos_ids"))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 3)
    // a violating UPDATE fails too (null SET passes SQL CHECK, 0 fails)
    intercept[MiniDelta.ConstraintViolationException] {
      MiniDelta.update(spark, t, col("id") === 2,
        Map("id" -> lit(0L)), Seq("year"))
    }
    // valid writes proceed
    MiniDelta.append(spark, sample("2024", 2), t, Seq("year"))        // v2
    // drive past the checkpoint interval so resolution must go through
    // the checkpoint's metaData row, then enforce again
    (1 to MiniDelta.checkpointInterval).foreach { i =>
      MiniDelta.append(spark,
        Seq((100L + i, "2025", s"p$i")).toDF("id", "year", "payload"),
        t, Seq("year"))
    }
    assert(MiniDelta.constraintsOf(MiniDelta.tableConfig(spark, t)) ==
      Map("pos_ids" -> "id > 0"))
    intercept[MiniDelta.ConstraintViolationException] {
      MiniDelta.append(spark,
        Seq((-1L, "2025", "bad")).toDF("id", "year", "payload"), t, Seq("year"))
    }
    // schema evolution carries the config forward
    MiniDelta.append(spark,
      sample("2026", 1).withColumn("extra", lit(1L)), t, Seq("year"))
    assert(MiniDelta.constraintsOf(MiniDelta.tableConfig(spark, t)) ==
      Map("pos_ids" -> "id > 0"))
    // re-adding an existing name is rejected (Delta semantics)
    intercept[IllegalArgumentException] {
      MiniDelta.addConstraint(spark, t, "pos_ids", "id > 100")
    }
    // a constraint on a column the frame OMITS null-passes (SQL CHECK):
    // 'extra' is declared (evolution above) but absent from this frame
    MiniDelta.addConstraint(spark, t, "extra_pos", "extra > 0")
    MiniDelta.append(spark,
      Seq((200L, "2026", "no-extra")).toDF("id", "year", "payload"),
      t, Seq("year"))
    intercept[MiniDelta.ConstraintViolationException] {
      MiniDelta.append(spark,
        Seq((201L, "2026", "bad", -5L)).toDF("id", "year", "payload", "extra"),
        t, Seq("year"))
    }
    MiniDelta.dropConstraint(spark, t, "extra_pos")
    // drop, then a previously-violating append succeeds
    MiniDelta.dropConstraint(spark, t, "pos_ids")
    MiniDelta.append(spark,
      Seq((0L, "2026", "ok-now")).toDF("id", "year", "payload"), t, Seq("year"))
    // restore to v1 rolls the constraint back into force
    MiniDelta.restore(spark, t, toVersion = 1)
    assert(MiniDelta.constraintsOf(MiniDelta.tableConfig(spark, t)) ==
      Map("pos_ids" -> "id > 0"))
  }

  test("restore flips the file set and schema back; one metadata commit") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 4), t, Seq("year"))      // v0
    MiniDelta.delete(spark, t, col("id") <= 2, Seq("year"))          // v1
    // schema evolution after v0: restore must roll the schema back too
    MiniDelta.append(spark,
      sample("2024", 1).withColumn("extra", lit(9L)), t, Seq("year")) // v2
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 3)
    val v = MiniDelta.restore(spark, t, toVersion = 0)
    assert(v == 3L)
    val back = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(back.count() == 4)
    assert(back.columns.toSeq == Seq("id", "year", "payload"))
    assert(back.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // restoring to the already-current state is a no-op (no new commit)
    assert(MiniDelta.restore(spark, t, toVersion = 3) == 3L)
    // a restore whose files were vacuumed away fails loudly
    MiniDelta.vacuum(spark, t) // drops v1/v2's rewrites, now dead
    MiniDelta.delete(spark, t, col("id") === 1, Seq("year"))         // v4
    MiniDelta.vacuum(spark, t) // drops the files v4 rewrote
    val e = intercept[IllegalStateException] {
      MiniDelta.restore(spark, t, toVersion = 3)
    }
    assert(e.getMessage.contains("vacuum"))
  }

  test("shallow clone: zero copy, independent divergence, vacuum safety") {
    val root = Files.createTempDirectory("miniclone").toString
    val src = s"$root/src"
    val fork = s"$root/fork"
    MiniDelta.append(spark, sample("2023", 3), src, Seq("year"))
    MiniDelta.append(spark, sample("2024", 2), src, Seq("year"))
    MiniDelta.cloneShallow(spark, src, fork)
    // the clone's v0 references the source's files ABSOLUTELY — no data
    // file was copied under the clone's root
    val cloned = MiniDelta.snapshotFiles(spark, fork)
      .select("path").as[String].collect()
    assert(cloned.forall(_.startsWith("/")), "clone paths must be absolute")
    assert(!new java.io.File(fork).listFiles()
      .exists(f => f.isDirectory && f.getName.contains("=")),
      "no data directories under the clone root")
    assert(MiniDelta.readFiltered(spark, fork, Seq.empty).count() == 5)
    // partition metadata survives the absolute-path read
    val years = MiniDelta.readFiltered(spark, fork,
      Seq(Map("year" -> "2024"))).count()
    assert(years == 2)
    // diverge: DML on the clone rewrites ONLY under the clone's root
    MiniDelta.delete(spark, fork, col("id") === 1 && col("year") === "2023",
      Seq("year"))
    assert(MiniDelta.readFiltered(spark, fork, Seq.empty).count() == 4)
    assert(MiniDelta.readFiltered(spark, src, Seq.empty).count() == 5,
      "source must not see the clone's delete")
    // vacuum on the clone can never delete the source's files: its dead
    // set comes from listing the clone's own directory
    MiniDelta.vacuum(spark, fork)
    assert(MiniDelta.readFiltered(spark, src, Seq.empty).count() == 5)
    // cloning a clone re-resolves to ORIGINAL absolute paths (no chains)
    val fork2 = s"$root/fork2"
    MiniDelta.cloneShallow(spark, fork, fork2)
    assert(MiniDelta.readFiltered(spark, fork2, Seq.empty).count() == 4)
    val f2paths = MiniDelta.snapshotFiles(spark, fork2)
      .select("path").as[String].collect()
    assert(f2paths.forall(p => !p.startsWith(fork2)))
    // time-travel clone: versionAsOf pins the source snapshot
    val forkV0 = s"$root/forkv0"
    MiniDelta.cloneShallow(spark, src, forkV0, versionAsOf = Some(0L))
    assert(MiniDelta.readFiltered(spark, forkV0, Seq.empty).count() == 3)
  }

  test("v2 checkpoint write: UUID manifest + sidecar round-trips") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    MiniDelta.setTableProperties(spark, t,
      Map("delta.checkpointPolicy" -> "v2"))
    MiniDelta.append(spark, sample("2024", 2), t, Seq("year"))
    MiniDelta.delete(spark, t, col("id") === 1L && col("year") === "2023",
      Seq("year"))
    val v = 3L // 0 append, 1 props, 2 append, 3 delete
    MiniDelta.writeCheckpoint(spark, t, v)
    // on-disk shape: ONE uuid-named manifest, no classic single file or
    // multi-part set, the add/remove bulk in _delta_log/_sidecars/
    val names = new java.io.File(s"$t/_delta_log").listFiles()
      .map(_.getName)
    assert(!names.exists(_.matches(raw"[0-9]{20}\.checkpoint\.parquet")))
    assert(!names.exists(
      _.matches(raw"[0-9]{20}\.checkpoint\.[0-9]{10}\.[0-9]{10}\.parquet")))
    assert(names.count(
      _.matches(raw"[0-9]{20}\.checkpoint\.[^.]+\.parquet")) == 1)
    assert(new java.io.File(s"$t/_delta_log/_sidecars").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    // replay must come FROM the v2 checkpoint: drop the covered JSON
    // history and the snapshot (4 live rows) plus the schema must
    // still resolve; a later commit appends on top
    MiniDelta.invalidateSnapshot(t)
    for (j <- 0L to v)
      new java.io.File(f"$t%s/_delta_log/$j%020d.json").delete()
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 4)
    MiniDelta.append(spark, sample("2025", 1), t, Seq("year"))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 5)
    // the tombstone survived the fold: vacuum still sees the horizon
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .where(col("year") === "2023").count() == 2)
  }

  test("checkpoints carry unexpired tombstones; log cleanup keeps vacuum honest") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))   // v0
    MiniDelta.append(spark, sample("2024", 2), t, Seq("year"))   // v1
    MiniDelta.compact(spark, t, Seq("year"))                     // v2 removes
    MiniDelta.append(spark, sample("2025", 1), t, Seq("year"))   // v3
    val now = System.currentTimeMillis()
    MiniDelta.writeCheckpoint(spark, t, 3L, nowMs = () => now)
    val cp = spark.read.parquet(
      f"$t%s/_delta_log/${3L}%020d.checkpoint.parquet")
    val removed = cp.where(col("remove.path").isNotNull)
      .select("remove.path", "remove.deletionTimestamp",
        "remove.dataChange").collect()
    assert(removed.nonEmpty, "checkpoint must carry the v2 tombstones")
    assert(removed.forall(r => !r.isNullAt(1) && !r.getBoolean(2)),
      "tombstones carry deletionTimestamp and dataChange=false")
    // every checkpoint action is dataChange=false (Delta spec) and adds
    // carry modificationTime
    assert(cp.where(col("add.path").isNotNull &&
      col("add.dataChange")).count() == 0)
    assert(cp.where(col("add.path").isNotNull &&
      col("add.modificationTime").isNull).count() == 0)
    // _last_checkpoint carries the spec-required action count
    val ptr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/_last_checkpoint")), "UTF-8")
    assert(ptr.contains("\"size\":"), ptr)
    // retention cleanup deletes the JSON history below the checkpoint —
    // INCLUDING the remove-bearing v2 commit
    val dead = MiniDelta.cleanupLogs(spark, t, retainMs = Some(0L))
    assert((0L to 2L).forall(v => dead.contains(f"$v%020d.json")), dead)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 6)
    // vacuum INSIDE the horizon: the compacted-away files survive,
    // because their tombstones now live only in the checkpoint
    assert(MiniDelta.vacuum(spark, t, retainMs = 3600000L,
      nowMs = () => now).isEmpty)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 6)
    // past the horizon they go, and the snapshot stays exact
    assert(MiniDelta.vacuum(spark, t).nonEmpty)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 6)
    // time travel below the cleaned horizon refuses BY NAME instead of
    // replaying a partial tail
    intercept[MiniDelta.HistoryCleanedException] {
      MiniDelta.readFiltered(spark, t, Seq.empty, versionAsOf = Some(0L))
        .count()
    }
  }

  test("tombstones age out of the next checkpoint past the retention horizon") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 2), t, Seq("year"))   // v0
    MiniDelta.compact(spark, t, Seq("year"))                     // v1 removes
    // default delta.deletedFileRetentionDuration = 1 week; pretend the
    // checkpoint runs 30 days later
    val future = System.currentTimeMillis() + 30L * 86400000
    MiniDelta.writeCheckpoint(spark, t, 1L, nowMs = () => future)
    val cp = spark.read.parquet(
      f"$t%s/_delta_log/${1L}%020d.checkpoint.parquet")
    assert(cp.where(col("remove.path").isNotNull).count() == 0,
      "expired tombstones must not ride the checkpoint")
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 2)
  }

  test("checkpoint, clone, and DV upgrade carry the ACTUAL protocol") {
    val t = freshTable()
    // a real writer's table declaring timestampNtz at (3, 7)
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(t)
    val f1 = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    val schemaJson = jsonStr(Seq((1L, "a")).toDF("id", "v").schema.json)
    rawCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}""",
      s"""{"metaData":{"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{},"size":${sizeOf(t, f1)},"dataChange":true}}"""))
    MiniDelta.append(spark, Seq((2L, "b")).toDF("id", "v"), t, Seq.empty) // v1
    // ten engine commits must NOT erode the declared contract
    MiniDelta.writeCheckpoint(spark, t, 1L)
    val cpProto = spark.read.parquet(
        f"$t%s/_delta_log/${1L}%020d.checkpoint.parquet")
      .where(col("protocol.minReaderVersion").isNotNull)
      .select("protocol.minReaderVersion", "protocol.readerFeatures")
      .collect()
    assert(cpProto.length == 1)
    assert(cpProto.head.getInt(0) == 3)
    assert(cpProto.head.getSeq[String](1) == Seq("timestampNtz"),
      "checkpoint must carry the resolved protocol verbatim")
    // DV enablement UNIONS the requirement onto the existing features
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))               // v2
    val v2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$t%s/_delta_log/${2L}%020d.json")), "UTF-8")
    assert(v2.contains("timestampNtz") && v2.contains("deletionVectors"),
      s"upgrade must keep existing features: $v2")
    // the clone's v0 carries the source's contract too
    val fork = freshTable()
    MiniDelta.cloneShallow(spark, t, fork)
    val forkV0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$fork%s/_delta_log/${0L}%020d.json")), "UTF-8")
    assert(forkV0.contains("timestampNtz") &&
      forkV0.contains("deletionVectors"), forkV0)
  }

  test("multi-part checkpoints round-trip: write past the part cap, replay as a union") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))   // v0
    MiniDelta.append(spark, sample("2024", 2), t, Seq("year"))   // v1
    MiniDelta.append(spark, sample("2025", 2), t, Seq("year"))   // v2
    val jsonOnly = MiniDelta.snapshotFilesAt(spark, t, Long.MaxValue,
      useCheckpoint = false).select("path").collect()
      .map(_.getString(0)).toSet
    // a 2-action cap forces the Delta multi-part naming
    MiniDelta.writeCheckpoint(spark, t, 2L, maxActionsPerPart = 2)
    val names = new java.io.File(s"$t/_delta_log").listFiles()
      .map(_.getName).filter(_.contains(".checkpoint."))
      .filterNot(_.startsWith(".")) // local-FS .crc sidecars
      .sorted.toSeq
    assert(names.forall(_.matches(
      raw"[0-9]{20}\.checkpoint\.[0-9]{10}\.[0-9]{10}\.parquet")), names)
    assert(names.size >= 2, names)
    val ptr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/_last_checkpoint")), "UTF-8")
    assert(ptr.contains("\"parts\":"), ptr)
    // replay THROUGH the multi-part checkpoint must equal the pure-JSON
    // replay — prove the checkpoint is actually used by deleting the
    // pre-checkpoint JSON history first
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.cleanupLogs(spark, t, retainMs = Some(0L))
      .contains(f"${0L}%020d.json"))
    val viaCp = MiniDelta.snapshotFiles(spark, t).select("path")
      .collect().map(_.getString(0)).toSet
    assert(viaCp == jsonOnly)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 7)
    // schema + config still resolve (metaData row rides one of the parts)
    assert(MiniDelta.latestSchema(spark, t).isDefined)
    // appends continue on top
    MiniDelta.append(spark, sample("2026", 1), t, Seq("year"))   // v3
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 8)
  }

  test("a hand-built foreign multi-part checkpoint replays identically") {
    val t = freshTable()
    // real-writer layout: plain parquet parts + a 2-part checkpoint
    def landParquet(rows: Seq[(Long, String)]): String = {
      val before = Option(new java.io.File(t).listFiles()).toSeq.flatten
        .map(_.getName).toSet
      rows.toDF("id", "v").coalesce(1).write.mode("append").parquet(t)
      new java.io.File(t).listFiles()
        .map(_.getName).filter(n => n.endsWith(".parquet") && !before(n))
        .head
    }
    val schemaJson = jsonStr(Seq((1L, "a")).toDF("id", "v").schema.json)
    val f1 = landParquet(Seq((1L, "a"), (2L, "b")))
    val f2 = landParquet(Seq((3L, "c")))
    rawCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{},"size":${sizeOf(t, f1)},"dataChange":true}}""",
      s"""{"add":{"path":${jsonStr(f2)},"partitionValues":{},"size":${sizeOf(t, f2)},"dataChange":true}}"""))
    val cpTmp = Files.createTempDirectory("mpcp").toString
    def part(lines: Seq[String], i: Int): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$cpTmp/p$i.json"),
        lines.mkString("\n").getBytes("UTF-8"))
      spark.read.schema(MiniDelta.logSchema).json(s"$cpTmp/p$i.json")
        .drop("commitInfo").coalesce(1).write.parquet(s"$cpTmp/out$i")
      val pf = new java.io.File(s"$cpTmp/out$i").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).head
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$cpTmp/out$i/$pf"),
        java.nio.file.Paths.get(
          f"$t%s/_delta_log/${0L}%020d.checkpoint.$i%010d.${2}%010d.parquet"))
    }
    part(Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"k":"v"}}}""",
      s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{},"size":${sizeOf(t, f1)},"dataChange":false}}"""), 1)
    part(Seq(
      s"""{"add":{"path":${jsonStr(f2)},"partitionValues":{},"size":${sizeOf(t, f2)},"dataChange":false}}"""), 2)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_delta_log/_last_checkpoint"),
      """{"version":0,"size":4,"parts":2}""".getBytes("UTF-8"))
    // delete the JSON commit: the snapshot must come from the parts
    assert(new java.io.File(f"$t%s/_delta_log/${0L}%020d.json").delete())
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L))
    assert(MiniDelta.tableConfig(spark, t) == Map("k" -> "v"))
    // a tail commit on top of the parts still replays
    val f3 = landParquet(Seq((4L, "d")))
    rawCommit(t, 1L, Seq(
      s"""{"add":{"path":${jsonStr(f3)},"partitionValues":{},"size":${sizeOf(t, f3)},"dataChange":true}}"""))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 4)
  }

  test("a configuration-replacing metaData commit clears a stale mapping refusal") {
    val t = freshTable()
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(t)
    val f1 = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    val schemaJson = jsonStr(Seq((1L, "a")).toDF("id", "v").schema.json)
    rawCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"}}}""",
      s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{},"size":${sizeOf(t, f1)},"dataChange":true}}"""))
    intercept[MiniDelta.ColumnMappingUnsupportedException] {
      MiniDelta.readFiltered(spark, t, Seq.empty).count()
    }
    // the clearing commit contains NONE of the protocol/DV/columnMapping
    // substrings — only the metaData screen admits it to the parse
    rawCommit(t, 1L, Seq(
      s"""{"metaData":{"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}"""))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 1)
  }

  test("name-mode column mapping relabels (incl. nested); writes round-trip") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    // a real name-mode writer lands GUID-style physical columns — here
    // a top-level scalar plus a NESTED struct whose fields are mapped
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("pk", "pn", "pv")
      .select(col("pk").as("col-1"),
        struct(col("pn").as("col-3"), col("pv").as("col-4")).as("col-2"))
      .coalesce(1).write.parquet(t)
    val f1 = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    def m(phys: String, id: Long) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, m("col-1", 1)),
      StructField("payload", StructType(Seq(
        StructField("name", StringType, nullable = true, m("col-3", 3)),
        StructField("value", LongType, nullable = true, m("col-4", 4)))),
        nullable = true, m("col-2", 2))))
    rawCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"schemaString":${jsonStr(logical.json)},""" +
        """"partitionColumns":[],"configuration":{""" +
        """"delta.columnMapping.mode":"name",""" +
        """"delta.columnMapping.maxColumnId":"4"}}}""",
      s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{},"size":${sizeOf(t, f1)},"dataChange":true}}"""))
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(got.columns.toSeq == Seq("id", "payload"))
    assert(got.schema("payload").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("name", "value"))
    val rows = got.orderBy("id")
      .select(col("id"), col("payload.name"), col("payload.value"))
      .as[(Long, String, Long)].collect().toSeq
    assert(rows == Seq((1L, "a", 10L), (2L, "b", 20L)))
    // logical-name filtering works post-relabel
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .where(col("payload.value") > 15L).count() == 1)
    // writes into the FOREIGN-shaped mapped table round-trip: the
    // engine lands parquet under the GUID physical names (nested
    // struct fields included) that this table's contract demands
    MiniDelta.append(spark,
      Seq((3L, "c", 30L)).toDF("id", "pn", "pv")
        .select(col("id"), struct(col("pn").as("name"),
          col("pv").as("value")).as("payload")),
      t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val after = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(after.count() == 3)
    assert(after.where(col("payload.name") === "c")
      .select("payload.value").head().getLong(0) == 30L)
    // the new file on disk spells the PHYSICAL names
    val newest = new java.io.File(t).listFiles()
      .filter(_.getName.endsWith(".parquet")).maxBy(_.lastModified())
    val rawCols = spark.read.parquet(newest.toString).schema
    assert(rawCols.fieldNames.toSeq == Seq("col-1", "col-2"))
    // copy-on-write DML + OPTIMIZE work under the mapping
    MiniDelta.delete(spark, t, col("id") === 1L, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 2)
    MiniDelta.compact(spark, t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .agg(sum(col("payload.value"))).head().getLong(0) == 50L)
  }

  test("id-mode column mapping reads via parquet field ids; writes refuse") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    // the FILE spells its columns under names that match NEITHER the
    // logical nor the mapping's physicalName — only the parquet footer
    // field_ids line up, which is precisely the resilience id mode
    // promises (a renamed column keeps its id). Spark embeds the ids on
    // write from the parquet.field.id field metadata.
    def fid(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val fileSchema = StructType(Seq(
      StructField("legacy_key", LongType, nullable = true, fid(1)),
      StructField("legacy_name", StringType, nullable = true, fid(2))))
    spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, "a"), org.apache.spark.sql.Row(2L, "b")),
      fileSchema).coalesce(1).write.parquet(t)
    val f1 = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    def m(phys: String, id: Long) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, m("col-1", 1)),
      StructField("name", StringType, nullable = true, m("col-2", 2))))
    rawCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"schemaString":${jsonStr(logical.json)},""" +
        """"partitionColumns":[],"configuration":{""" +
        """"delta.columnMapping.mode":"id",""" +
        """"delta.columnMapping.maxColumnId":"2"}}}""",
      s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{},"size":${sizeOf(t, f1)},"dataChange":true}}"""))
    val got = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(got.columns.toSeq == Seq("id", "name"))
    assert(got.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // field-id resolution rode the READ (a flag-enabled cloned session
    // under the relation), not this session: the conf must stay at its
    // default (a session-wide set would break unrelated scans of
    // id-less parquet whose schemas carry parquet.field.id metadata)
    assert(!spark.conf.getOption(
      "spark.sql.parquet.fieldId.read.enabled").contains("true"),
      "id-mode read leaked the field-id conf into the session")
    // logical-name filtering works post-relabel
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .where(col("name") === "b").count() == 1)
    // id-mode tables are WRITABLE: the append lands physical-named
    // parquet with footer field_ids, and reads back through the same
    // id-resolution path as the foreign-written files
    MiniDelta.append(spark, Seq((3L, "c")).toDF("id", "name"),
      t, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("id-read clones: per-use caller sync and release-on-demand") {
    import org.apache.spark.sql.types._
    // minimal id-mode table (same shape as the id-mode read spec)
    val t = freshTable()
    def fid(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, "a"),
        org.apache.spark.sql.Row(2L, "b")),
      StructType(Seq(
        StructField("legacy_key", LongType, nullable = true, fid(1)),
        StructField("legacy_name", StringType, nullable = true, fid(2)))))
      .coalesce(1).write.parquet(t)
    val f1 = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    def m(phys: String, id: Long) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, m("col-1", 1)),
      StructField("name", StringType, nullable = true, m("col-2", 2))))
    rawCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"schemaString":${jsonStr(logical.json)},""" +
        """"partitionColumns":[],"configuration":{""" +
        """"delta.columnMapping.mode":"id",""" +
        """"delta.columnMapping.maxColumnId":"2"}}}""",
      s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{},"size":${sizeOf(t, f1)},"dataChange":true}}"""))

    // a dedicated caller session so release can't disturb other specs
    val caller = spark.newSession()
    val n0 = MiniDelta.idReadSessions.size
    assert(MiniDelta.readFiltered(caller, t, Seq.empty).count() == 2)
    assert(MiniDelta.idReadSessions.size == n0 + 1,
      "id-mode read did not create the caller's clone")
    // conf set AFTER the clone was created must reach id-mode frames:
    // each use re-syncs the clone from the caller
    caller.conf.set("spark.sql.session.timeZone", "UTC+05:00")
    val synced = MiniDelta.readFiltered(caller, t, Seq.empty)
    assert(synced.sparkSession.conf
      .get("spark.sql.session.timeZone") == "UTC+05:00",
      "caller conf change did not propagate to the id-read clone")
    // a UDF registered AFTER the clone resolves in id-mode frames too
    caller.udf.register("graft_spec_double", (x: Long) => x * 2)
    assert(MiniDelta.readFiltered(caller, t, Seq.empty)
      .selectExpr("graft_spec_double(id) AS d")
      .orderBy("d").head().getLong(0) == 2L)
    // release drops the cache entry — a closing multi-session server
    // does not retain the session pair
    MiniDelta.releaseIdReadSession(caller)
    assert(MiniDelta.idReadSessions.size == n0,
      "releaseIdReadSession left the clone cached")
  }

  test("id mode refuses a NESTED field lacking its column-mapping id") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(t)
    val f1 = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    def m(phys: String, id: Long) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    // top-level fields both carry ids; the NESTED payload.name does not
    // — name matching against physical names could silently read nulls,
    // so the gate must refuse by the nested field's dotted path
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, m("col-1", 1)),
      StructField("payload", StructType(Seq(
        StructField("name", StringType))),
        nullable = true, m("col-2", 2))))
    rawCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"schemaString":${jsonStr(logical.json)},""" +
        """"partitionColumns":[],"configuration":{""" +
        """"delta.columnMapping.mode":"id",""" +
        """"delta.columnMapping.maxColumnId":"2"}}}""",
      s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{},"size":${sizeOf(t, f1)},"dataChange":true}}"""))
    val ex = intercept[MiniDelta.ColumnMappingUnsupportedException] {
      MiniDelta.readFiltered(spark, t, Seq.empty).count()
    }
    assert(ex.getMessage.contains("payload.name"), ex.getMessage)
  }

  test("unmapped reads survive stray parquet.field.id metadata") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    // files WITHOUT footer ids + an UNMAPPED declared schema that
    // happens to carry parquet.field.id metadata: once some id-mode
    // read enabled the session-wide field-id resolution, this scan
    // would fail (ignoreMissing=false) unless the engine sanitizes its
    // read schemas
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1)
      .write.parquet(t)
    val f1 = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    def fid(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val declared = StructType(Seq(
      StructField("id", LongType, nullable = true, fid(7)),
      StructField("name", StringType, nullable = true, fid(8))))
    rawCommit(t, 0L, Seq(
      s"""{"metaData":{"schemaString":${jsonStr(declared.json)},""" +
        """"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{},"size":${sizeOf(t, f1)},"dataChange":true}}"""))
    val prior = spark.conf.getOption("spark.sql.parquet.fieldId.read.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    try {
      assert(MiniDelta.readFiltered(spark, t, Seq.empty)
        .orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b")))
    } finally prior match {
      case Some(v) => spark.conf.set(
        "spark.sql.parquet.fieldId.read.enabled", v)
      case None => spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
    }
  }

  test("v2 checkpoint splits sidecars by maxActionsPerPart") {
    val t = freshTable()
    (0 until 3).foreach(i =>
      MiniDelta.append(spark, sample((2020 + i).toString, 2), t,
        Seq("year")))
    MiniDelta.setTableProperties(spark, t,
      Map("delta.checkpointPolicy" -> "v2"))
    val v = MiniDelta.latestVersion(spark, t)
    val rows = MiniDelta.readFiltered(spark, t, Seq.empty).count()
    MiniDelta.writeCheckpoint(spark, t, v, maxActionsPerPart = 2)
    val sidecars = new java.io.File(s"$t/_delta_log/_sidecars")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(sidecars.length >= 2,
      s"expected chunked sidecars, got ${sidecars.toSeq}")
    // replay THROUGH the chunked checkpoint stays exact
    assert(MiniDelta.snapshotFilesAt(spark, t, v).count() ==
      MiniDelta.snapshotFilesAt(spark, t, v, useCheckpoint = false).count())
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == rows)
  }

  test("writer contract: appendOnly, CDF commits, writer features, generated columns") {
    // delta.appendOnly: data-changing removes refuse, appends and
    // OPTIMIZE (dataChange=false removes) stay legal
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    MiniDelta.setTableProperties(spark, t, Map("delta.appendOnly" -> "true"))
    MiniDelta.append(spark, sample("2024", 2), t, Seq("year")) // still fine
    intercept[MiniDelta.AppendOnlyTableException] {
      MiniDelta.delete(spark, t, col("id") === 1L, Seq("year"))
    }
    MiniDelta.compact(spark, t, Seq("year")) // rewrite, not a change
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 5)
    // CDF-enabled tables take data-CHANGING commits WITH real cdc
    // files (CdcWriteSpec pins the feed); appends stay cdc-free (pure
    // inserts derive from the add actions)
    val t2 = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t2, Seq("year"))
    MiniDelta.setTableProperties(spark, t2,
      Map("delta.enableChangeDataFeed" -> "true"))
    MiniDelta.append(spark, sample("2024", 2), t2, Seq("year"))
    MiniDelta.update(spark, t2, col("id") === 1L,
      Map("payload" -> lit("x")), Seq("year"))
    val updV = MiniDelta.latestVersion(spark, t2)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(
      f"$t2/_delta_log/$updV%020d.json")).contains("\"cdc\":"))
    // a foreign table demanding a writer feature this engine lacks
    // refuses EVERY commit by name; reads stay fine
    val t3 = freshTable()
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(t3)
    val f3 = new java.io.File(t3).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    val schema3 = jsonStr(Seq((1L, "a")).toDF("id", "v").schema.json)
    rawCommit(t3, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["icebergCompatV2"]}}""",
      s"""{"metaData":{"schemaString":$schema3,"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":${jsonStr(f3)},"partitionValues":{},"size":${sizeOf(t3, f3)},"dataChange":true}}"""))
    assert(MiniDelta.readFiltered(spark, t3, Seq.empty).count() == 1)
    val e3 = intercept[MiniDelta.UnsupportedTableFeatureException] {
      MiniDelta.append(spark, Seq((2L, "b")).toDF("id", "v"), t3, Seq.empty)
    }
    assert(e3.getMessage.contains("icebergCompatV2"))
    // a FOREIGN writer-4 table with a generated column is writable:
    // the engine upholds the expression (compute/validate), the
    // writer-contract this gate used to refuse wholesale
    import org.apache.spark.sql.types._
    val t4 = freshTable()
    Seq((1L, "1")).toDF("id", "v").coalesce(1).write.parquet(t4)
    val f4 = new java.io.File(t4).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    val gen = StructType(Seq(
      StructField("id", LongType),
      StructField("v", StringType, nullable = true,
        new MetadataBuilder()
          .putString("delta.generationExpression", "CAST(id AS STRING)")
          .build())))
    rawCommit(t4, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      s"""{"metaData":{"schemaString":${jsonStr(gen.json)},"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":${jsonStr(f4)},"partitionValues":{},"size":${sizeOf(t4, f4)},"dataChange":true}}"""))
    assert(MiniDelta.readFiltered(spark, t4, Seq.empty).count() == 1)
    // mismatching provided value refuses with the validation error
    val e4 = intercept[IllegalArgumentException] {
      MiniDelta.append(spark, Seq((2L, "b")).toDF("id", "v"), t4, Seq.empty)
    }
    assert(e4.getMessage.contains("generated column v"))
    // omitting the column computes it under the foreign expression
    MiniDelta.append(spark, Seq(Tuple1(2L)).toDF("id"), t4, Seq.empty)
    MiniDelta.invalidateSnapshot(t4)
    assert(MiniDelta.readFiltered(spark, t4, Seq.empty)
      .where(col("id") === 2L).select("v").head().getString(0) == "2")
  }

  test("readCdf serves commits with cdc actions FROM their change-data files") {
    // a real CDF writer's update commit: add + remove + cdc actions,
    // where the cdc file carries the writer-computed pre/post images —
    // the feed must come from the cdc file, not the add/remove
    // reconstruction (which cannot know e.g. which rewritten rows
    // actually changed)
    val t = freshTable()
    def land(rows: Seq[(Long, String)]): String = {
      val before = Option(new java.io.File(t).listFiles()).toSeq.flatten
        .map(_.getName).toSet
      rows.toDF("id", "v").coalesce(1).write.mode("append").parquet(t)
      new java.io.File(t).listFiles()
        .map(_.getName).filter(n => n.endsWith(".parquet") && !before(n))
        .head
    }
    val schemaJson = jsonStr(Seq((1L, "a")).toDF("id", "v").schema.json)
    val f1 = land(Seq((1L, "a"), (2L, "b")))
    rawCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      s"""{"metaData":{"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"}}}""",
      s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{},"size":${sizeOf(t, f1)},"dataChange":true}}"""))
    // v1: rewrite f1 -> f2 changing ONLY id=1; the cdc file records
    // exactly that one pre/post pair (id=2 rode along unchanged — the
    // reconstruction would misreport nothing here, but only the cdc
    // file is authoritative about it)
    val f2 = land(Seq((1L, "EDITED"), (2L, "b")))
    val cdcDir = new java.io.File(s"$t/_change_data")
    cdcDir.mkdirs()
    Seq((1L, "a", "update_preimage"), (1L, "EDITED", "update_postimage"))
      .toDF("id", "v", "_change_type")
      .coalesce(1).write.mode("append").parquet(cdcDir.getPath)
    val cdcName = cdcDir.listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).head
    rawCommit(t, 1L, Seq(
      s"""{"commitInfo":{"operation":"UPDATE","version":1,"timestamp":2}}""",
      s"""{"cdc":{"path":${jsonStr(s"_change_data/$cdcName")},"partitionValues":{},"size":${sizeOf(t, s"_change_data/$cdcName")},"dataChange":false}}""",
      s"""{"add":{"path":${jsonStr(f2)},"partitionValues":{},"size":${sizeOf(t, f2)},"dataChange":true}}""",
      s"""{"remove":{"path":${jsonStr(f1)},"dataChange":true,"deletionTimestamp":2}}"""))
    val feed = MiniDelta.readCdf(spark, t, fromVersion = -1)
      .select("id", "v", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getLong(3))).toSet
    assert(feed == Set(
      (1L, "a", "insert", 0L), (2L, "b", "insert", 0L),
      (1L, "a", "update_preimage", 1L),
      (1L, "EDITED", "update_postimage", 1L)))
    // the snapshot itself is unaffected by cdc actions
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .orderBy("id").select("v").collect().map(_.getString(0)).toSeq ==
      Seq("EDITED", "b"))
  }

  test("a hand-built v2 checkpoint (manifest + sidecars) replays identically") {
    // the modern real-writer checkpoint form: a UUID-named MANIFEST
    // whose rows are protocol/metaData/checkpointMetadata/sidecar
    // actions, with the add bulk in _delta_log/_sidecars parquet files
    val t = freshTable()
    def landParquet(rows: Seq[(Long, String)]): String = {
      val before = Option(new java.io.File(t).listFiles()).toSeq.flatten
        .map(_.getName).toSet
      rows.toDF("id", "v").coalesce(1).write.mode("append").parquet(t)
      new java.io.File(t).listFiles()
        .map(_.getName).filter(n => n.endsWith(".parquet") && !before(n))
        .head
    }
    val schemaJson = jsonStr(Seq((1L, "a")).toDF("id", "v").schema.json)
    val f1 = landParquet(Seq((1L, "a"), (2L, "b")))
    val f2 = landParquet(Seq((3L, "c")))
    val proto = """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}"""
    val meta = s"""{"metaData":{"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"k2":"v2"}}}"""
    def add(p: String) =
      s"""{"add":{"path":${jsonStr(p)},"partitionValues":{},"size":${sizeOf(t, p)},"dataChange":true}}"""
    rawCommit(t, 0L, Seq(proto, meta, add(f1)))
    rawCommit(t, 1L, Seq(add(f2)))
    // sidecar: the two live adds as parquet action rows
    val tmp = Files.createTempDirectory("v2cp").toString
    def actionsParquet(lines: Seq[String], schema: org.apache.spark.sql.types.StructType,
                       out: String): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/in-${out.hashCode.abs}.json"),
        lines.mkString("\n").getBytes("UTF-8"))
      spark.read.schema(schema).json(s"$tmp/in-${out.hashCode.abs}.json")
        .coalesce(1).write.parquet(s"$tmp/out-${out.hashCode.abs}")
      val pf = new java.io.File(s"$tmp/out-${out.hashCode.abs}").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).head
      new java.io.File(out).getParentFile.mkdirs()
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$tmp/out-${out.hashCode.abs}/$pf"),
        java.nio.file.Paths.get(out))
    }
    val sidecarName = "3a20c62b-8f8e-4d81-a3a4-ed1e78f3a9b0.parquet"
    actionsParquet(Seq(add(f1), add(f2)).map(_.replace(
        """"dataChange":true""", """"dataChange":false""")),
      MiniDelta.logSchema, s"$t/_delta_log/_sidecars/$sidecarName")
    actionsParquet(Seq(proto, meta,
        """{"checkpointMetadata":{"version":1}}""",
        s"""{"sidecar":{"path":${jsonStr(sidecarName)},"sizeInBytes":100,"modificationTime":1}}"""),
      MiniDelta.v2ManifestSchema,
      f"$t%s/_delta_log/${1L}%020d.checkpoint.80a083e8-7026-4c5f-9e0a-5f2b9c3d4e5f.parquet")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_delta_log/_last_checkpoint"),
      """{"version":1}""".getBytes("UTF-8"))
    // delete BOTH commits: the snapshot must come through the v2
    // manifest + sidecar assembly alone
    assert(new java.io.File(f"$t%s/_delta_log/${0L}%020d.json").delete())
    assert(new java.io.File(f"$t%s/_delta_log/${1L}%020d.json").delete())
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(MiniDelta.tableConfig(spark, t) == Map("k2" -> "v2"))
    // a JSON tail on top of the v2 base still replays
    val f3 = landParquet(Seq((4L, "d")))
    rawCommit(t, 2L, Seq(add(f3)))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 4)
    // the engine WRITES such a table too: v2Checkpoint is a supported
    // writer feature since writeCheckpoint emits the uuid-manifest +
    // sidecar shape itself (its own round-trip test above)
    MiniDelta.append(spark, Seq((9L, "z")).toDF("id", "v"), t, Seq.empty)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 5)
  }

  test("cdc files on a PARTITIONED table fill partition columns from the action") {
    // real CDF writers land _change_data files WITHOUT the partition
    // columns (they live in the cdc action's partitionValues) — the
    // feed must fill them, not fail resolution
    val t = freshTable()
    val schema3 = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("year",
        org.apache.spark.sql.types.StringType)))
    Seq((1L, "a")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$t/year=2023")
    val f1 = "year=2023/" + new java.io.File(s"$t/year=2023").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    rawCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      s"""{"metaData":{"schemaString":${jsonStr(schema3.json)},"partitionColumns":["year"],"configuration":{"delta.enableChangeDataFeed":"true"}}}""",
      s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{"year":"2023"},"size":${sizeOf(t, f1)},"dataChange":true}}"""))
    // v1: a cdc-carrying commit whose change-data file LACKS 'year'
    new java.io.File(s"$t/_change_data").mkdirs()
    Seq((1L, "EDITED", "update_postimage"), (1L, "a", "update_preimage"))
      .toDF("id", "v", "_change_type").coalesce(1)
      .write.mode("append").parquet(s"$t/_change_data")
    val cdcName = new java.io.File(s"$t/_change_data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    Seq((1L, "EDITED")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$t/year=2023")
    val f2 = "year=2023/" + new java.io.File(s"$t/year=2023").listFiles()
      .map(_.getName).filter(n => n.endsWith(".parquet") &&
        s"year=2023/$n" != f1).head
    rawCommit(t, 1L, Seq(
      s"""{"cdc":{"path":${jsonStr(s"_change_data/$cdcName")},"partitionValues":{"year":"2023"},"size":${sizeOf(t, s"_change_data/$cdcName")},"dataChange":false}}""",
      s"""{"add":{"path":${jsonStr(f2)},"partitionValues":{"year":"2023"},"size":${sizeOf(t, f2)},"dataChange":true}}""",
      s"""{"remove":{"path":${jsonStr(f1)},"dataChange":true,"deletionTimestamp":2}}"""))
    val v1 = MiniDelta.readCdf(spark, t, fromVersion = 0L)
      .select("id", "v", "year", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3))).toSet
    assert(v1 == Set(
      (1L, "a", "2023", "update_preimage"),
      (1L, "EDITED", "2023", "update_postimage")))
  }

  test("change feeds refuse CLEANED history instead of silently skipping it") {
    // log cleanup deletes pre-checkpoint JSON; a consumer whose window
    // spans the cleaned range must get HistoryCleanedException, never a
    // silently partial feed (the replaySnapshot rule, applied to feeds)
    val t = freshTable()
    (0 until 3).foreach(i =>
      MiniDelta.append(spark, sample(s"202$i", 2), t, Seq("year")))
    MiniDelta.writeCheckpoint(spark, t, 2L)
    val dead = MiniDelta.cleanupLogs(spark, t, retainMs = Some(0L))
    assert(dead.contains(f"${0L}%020d.json") &&
      dead.contains(f"${1L}%020d.json"))
    MiniDelta.invalidateSnapshot(t)
    intercept[MiniDelta.HistoryCleanedException] {
      MiniDelta.readCdf(spark, t, fromVersion = -1).count()
    }
    intercept[MiniDelta.HistoryCleanedException] {
      MiniDelta.readAppends(spark, t, fromVersion = 0L).count()
    }
    // a consumer INSIDE the retained window proceeds normally
    assert(MiniDelta.readCdf(spark, t, fromVersion = 1L).count() == 2)
    assert(MiniDelta.readAppends(spark, t, fromVersion = 1L).count() == 2)
  }

  test("partition filters on a name-mapped table probe physical keys") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    // physical layout: partition dir col-p=<year>, data column col-1
    Seq(1L, 2L).toDF("col-1").coalesce(1)
      .write.parquet(s"$t/col-p=2023")
    Seq(3L).toDF("col-1").coalesce(1)
      .write.parquet(s"$t/col-p=2024")
    def fileIn(year: String) =
      s"col-p=$year/" + new java.io.File(s"$t/col-p=$year").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).head
    def m(phys: String, id: Long) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, m("col-1", 1)),
      StructField("year", StringType, nullable = true, m("col-p", 2))))
    rawCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"schemaString":${jsonStr(logical.json)},""" +
        """"partitionColumns":["col-p"],"configuration":{""" +
        """"delta.columnMapping.mode":"name"}}}""",
      s"""{"add":{"path":${jsonStr(fileIn("2023"))},"partitionValues":{"col-p":"2023"},"size":${sizeOf(t, fileIn("2023"))},"dataChange":true}}""",
      s"""{"add":{"path":${jsonStr(fileIn("2024"))},"partitionValues":{"col-p":"2024"},"size":${sizeOf(t, fileIn("2024"))},"dataChange":true}}"""))
    // LOGICAL filter key must prune on the PHYSICAL partitionValues
    val got = MiniDelta.readFiltered(spark, t, Seq(Map("year" -> "2023")))
    assert(got.columns.toSeq == Seq("id", "year"))
    assert(got.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(MiniDelta.readFiltered(spark, t, Seq(Map("year" -> "2024")))
      .select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("DV upgrade from a legacy protocol enumerates the implied features") {
    // Delta rule: crossing (2, 5) -> (3, 7) must carry every feature
    // the legacy versions implied — dropping columnMapping would make
    // a real reader skip the relabeling and mis-read the table
    val up = MiniDelta.ProtocolAction(2, 5, Nil, Nil).withDeletionVectors
    assert(up.minReader == 3 && up.minWriter == 7)
    assert(up.readerFeats.toSet == Set("columnMapping", "deletionVectors"))
    assert(up.writerFeats.toSet == Set("appendOnly", "invariants",
      "checkConstraints", "changeDataFeed", "generatedColumns",
      "columnMapping", "deletionVectors"))
    // an already-feature-enumerated protocol keeps its lists untouched
    val keep = MiniDelta.ProtocolAction(3, 7,
      Seq("timestampNtz"), Seq("timestampNtz")).withDeletionVectors
    assert(keep.readerFeats.toSet == Set("timestampNtz", "deletionVectors"))
    assert(keep.writerFeats.toSet == Set("timestampNtz", "deletionVectors"))
  }

  test("a crashed partial multi-part set cannot poison the next attempt") {
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))   // v0
    MiniDelta.append(spark, sample("2024", 2), t, Seq("year"))   // v1
    // simulate a crashed 4-part attempt that left ONE orphan part
    val anyParquet = new java.io.File(t).listFiles().flatMap(d =>
      Option(d.listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(anyParquet.toPath,
      java.nio.file.Paths.get(
        f"$t%s/_delta_log/${1L}%020d.checkpoint.0000000001.0000000004.parquet"))
    // the retry with a different part count must CLEAR the orphan
    MiniDelta.writeCheckpoint(spark, t, 1L, maxActionsPerPart = 3)
    val names = new java.io.File(s"$t/_delta_log").listFiles()
      .map(_.getName).filter(_.contains(f"${1L}%020d.checkpoint."))
      .filterNot(_.startsWith("."))
    assert(!names.exists(_.contains(".0000000004.")), names.toSeq)
    // and the new set replays
    assert(MiniDelta.snapshotFilesAt(spark, t, 1L).count() > 0)
  }

  test("a txn reset to a LOWER version wins (latest-commit rule)") {
    // Delta replay rule: the txn action from the newest COMMIT wins per
    // appId — a writer may legitimately reset its sequence downward
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 1), t, Seq("year"),
      txn = Some(("app-r", 5L)))
    MiniDelta.append(spark, sample("2024", 1), t, Seq("year"),
      txn = Some(("app-r", 0L)))
    assert(MiniDelta.lastTxnVersion(spark, t, "app-r") == 0L)
    // the checkpoint fold honors the same rule
    MiniDelta.writeCheckpoint(spark, t, 1L)
    MiniDelta.cleanupLogs(spark, t, retainMs = Some(0L))
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.lastTxnVersion(spark, t, "app-r") == 0L)
  }

  test("txn watermarks ride checkpoints and survive log cleanup") {
    val t = freshTable()
    (0 until 3).foreach(i =>
      MiniDelta.append(spark, sample(s"202$i", 1), t, Seq("year"),
        txn = Some(("app-cp", i.toLong))))
    assert(MiniDelta.lastTxnVersion(spark, t, "app-cp") == 2L)
    MiniDelta.writeCheckpoint(spark, t, 2L)
    // cleanup deletes the JSON tail that carried the txn actions —
    // the checkpoint's carried watermark must keep exactly-once intact
    MiniDelta.cleanupLogs(spark, t, retainMs = Some(0L))
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.lastTxnVersion(spark, t, "app-cp") == 2L)
    assert(MiniDelta.lastTxnVersion(spark, t, "never-seen") == -1L)
  }

  test("time travel prefers inCommitTimestamp over the wall-clock field") {
    // the Delta inCommitTimestamp feature: the in-log clock is
    // authoritative; a drifted wall-clock timestamp must not win
    val t = freshTable()
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(t)
    val f1 = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    val schemaJson = jsonStr(Seq((1L, "a")).toDF("id", "v").schema.json)
    rawCommit(t, 0L, Seq(
      // wall clock says 999999 (drifted); the in-commit clock says 1000
      """{"commitInfo":{"operation":"WRITE","version":0,"timestamp":999999,"inCommitTimestamp":1000}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":${jsonStr(f1)},"partitionValues":{},"size":${sizeOf(t, f1)},"dataChange":true}}"""))
    assert(MiniDelta.versionAtTimestamp(spark, t, 1000L) == 0L)
    intercept[IllegalArgumentException] {
      // the drifted wall clock (999999) must NOT make 5000 miss v0...
      // and must not make 500 resolve either
      MiniDelta.versionAtTimestamp(spark, t, 500L)
    }
  }

  test("streamed commits: version-slot conflict throws, no torn commit") {
    // the streamed writer's create-if-absent + cleanup contract: a
    // commit landing in the slot between the read pin and the streamed
    // write must surface as ConcurrentCommitException (the DML rule),
    // and neither a conflict nor a mid-stream body failure may leave a
    // partial commit file for replay to trip on
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"),
      statsCols = Seq("id"))
    val prevHook = MiniDelta.beforeDmlCommitHook
    MiniDelta.beforeDmlCommitHook = () => {
      MiniDelta.beforeDmlCommitHook = prevHook // fire once
      rawCommit(t, MiniDelta.latestVersion(spark, t) + 1,
        Seq("""{"add":{"path":"nope.parquet","partitionValues":{},""" +
          """"size":1,"dataChange":true}}"""))
      ()
    }
    // TRUNCATE pins readVersion+1 and streams — the hook steals its slot
    try intercept[MiniDelta.ConcurrentCommitException](
      MiniDelta.truncate(spark, t))
    finally MiniDelta.beforeDmlCommitHook = prevHook
    // the stolen slot holds the HOOK's commit intact, nothing torn
    val stolenV = MiniDelta.latestVersion(spark, t)
    val stolen = java.nio.file.Files.readString(java.nio.file.Paths.get(
      f"$t/_delta_log/$stolenV%020d.json"))
    assert(stolen.contains("nope.parquet") && !stolen.contains("remove"))
    // a body failure mid-stream deletes the claimed slot entirely
    intercept[RuntimeException] {
      MiniDelta.writeCommitStreamed(spark, t, stolenV + 1, Seq.empty,
        Iterator("""{"add":{"path":"x.parquet","partitionValues":{},""" +
          """"size":1,"dataChange":true}}""") ++
          Iterator.continually[String](sys.error("body blew up")).take(1),
        "SPEC")
    }
    val failedSlot = java.nio.file.Paths.get(
      f"$t/_delta_log/${stolenV + 1}%020d.json")
    assert(!java.nio.file.Files.exists(failedSlot),
      "failed streamed commit left a partial file")
    // the table still reads and writes normally afterwards
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.truncate(spark, t)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 0)
  }

  test("O(files) renders stream: clone + rowTracking backfill on a " +
      "5000-file synthetic manifest") {
    // the listing-counter-style pin for the streamed commit writer:
    // CLONE and the rowTracking enablement backfill must take
    // writeCommitStreamed (driver holds one manifest partition of
    // rows, never the rendered whole) and still land a complete,
    // correct commit on a manifest far bigger than any spec fixture.
    // The manifest is SYNTHETIC — adds fabricated straight into the
    // log (clone and the backfill never open data files when stats
    // carry numRecords), so 5000 files cost milliseconds to set up.
    import org.apache.spark.sql.types._
    val src = freshTable()
    MiniDelta.createTable(spark, src, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    val adds = (0 until 5000).map { i =>
      f"""{"add":{"path":"f$i%05d.parquet","partitionValues":{},""" +
        """"size":100,"modificationTime":1,"dataChange":true,""" +
        """"stats":"{\"numRecords\":2}"}}"""
    }
    MiniDelta.writeCommit(spark, src, 1L, adds, "WRITE")
    MiniDelta.invalidateSnapshot(src)
    assert(MiniDelta.snapshotFiles(spark, src).count() == 5000)

    val before = MiniDelta.streamedRenders.get()
    val tgt = freshTable()
    MiniDelta.cloneShallow(spark, src, tgt)
    assert(MiniDelta.streamedRenders.get() == before + 1,
      "clone did not take the streamed commit writer")
    val cloneTxt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(f"$tgt/_delta_log/${0L}%020d.json"))
    val cloneAdds = cloneTxt.linesIterator.count(_.startsWith("{\"add\":"))
    assert(cloneAdds == 5000, s"clone carried $cloneAdds adds")
    // absolutized paths + carried stats, first and last both present
    assert(cloneTxt.contains(s"$src/f00000.parquet") &&
      cloneTxt.contains(s"$src/f04999.parquet"))
    assert(cloneTxt.contains("numRecords"))

    // rowTracking enablement backfill: streamed, ids disjoint, mark =
    // 5000 files * 2 rows - 1
    MiniDelta.setTableProperties(spark, src,
      Map("delta.enableRowTracking" -> "true"))
    assert(MiniDelta.streamedRenders.get() == before + 2,
      "backfill did not take the streamed commit writer")
    val bfTxt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(f"$src/_delta_log/${2L}%020d.json"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val ranges = bfTxt.linesIterator
      .filter(_.startsWith("{\"add\":")).map { l =>
        val a = om.readTree(l).get("add")
        assert(a.has("baseRowId") && a.get("defaultRowCommitVersion")
          .asLong == 2L, l.take(200))
        a.get("baseRowId").asLong
      }.toSeq.sorted
    assert(ranges.size == 5000)
    assert(ranges == (0L until 10000L by 2L), "id ranges not disjoint " +
      "contiguous 2-row blocks")
    assert(bfTxt.contains("\\\"rowIdHighWaterMark\\\":9999"), "final mark")
    MiniDelta.invalidateSnapshot(src)
    assert(MiniDelta.snapshotFiles(spark, src)
      .where(col("base_row_id").isNull).count() == 0)
  }

  test("streamed commits render invisibly: no torn window, no temp debris") {
    // the torn-commit guard: a 10⁶-file render drains for seconds, so
    // the version slot must stay EMPTY until the last byte lands (a
    // concurrent log reader mid-render sees only version n-1, never a
    // half-written TRUNCATE) — the render goes to a dot-prefixed temp
    // file and claims the slot by rename only when complete, and every
    // exit path sweeps its temp file out of _delta_log
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 3), t, Seq("year"))
    val v = MiniDelta.latestVersion(spark, t) + 1
    val slot = java.nio.file.Paths.get(f"$t/_delta_log/$v%020d.json")
    def tmpFiles(): Seq[String] = new java.io.File(s"$t/_delta_log")
      .listFiles().map(_.getName).filter(_.endsWith(".tmp")).toSeq
    // every body element asserts mid-render invisibility of the slot
    val body = Iterator.tabulate(50) { i =>
      assert(!java.nio.file.Files.exists(slot),
        s"slot visible mid-render at row $i — torn commit window")
      s"""{"add":{"path":"s$i.parquet","partitionValues":{},""" +
        """"size":1,"dataChange":true,"stats":"{\"numRecords\":1}"}}"""
    }
    MiniDelta.writeCommitStreamed(spark, t, v, Seq.empty, body, "SPEC")
    assert(java.nio.file.Files.exists(slot), "completed commit missing")
    assert(tmpFiles().isEmpty, s"temp debris after success: ${tmpFiles()}")
    // a commit landing DURING the drain (after the writer's initial
    // slot check) loses at claim time: conflict surfaces, the winner's
    // bytes survive untouched, the loser's temp file is swept
    val v2 = v + 1
    val slot2 = java.nio.file.Paths.get(f"$t/_delta_log/$v2%020d.json")
    val racing = Iterator.tabulate(10) { i =>
      if (i == 5)
        rawCommit(t, v2, Seq(
          """{"add":{"path":"winner.parquet","partitionValues":{},""" +
            """"size":1,"dataChange":true}}"""))
      s"""{"add":{"path":"r$i.parquet","partitionValues":{},""" +
        """"size":1,"dataChange":true}}"""
    }
    intercept[MiniDelta.ConcurrentCommitException](
      MiniDelta.writeCommitStreamed(spark, t, v2, Seq.empty, racing,
        "SPEC"))
    assert(java.nio.file.Files.readString(slot2).contains("winner.parquet"),
      "racing writer's commit was clobbered")
    assert(tmpFiles().isEmpty, s"temp debris after conflict: ${tmpFiles()}")
  }

  test("REORG PURGE collects only the DV-bearing blast radius") {
    // the driver-memory audit, uniform with DELETE/UPDATE: on a table
    // that is mostly mask-free, REORG's manifest discovery may bring
    // only the DV-carrying files onto the driver — k files, not N
    val t = freshTable()
    MiniDelta.append(spark, sample("2023", 40).repartition(8), t,
      Seq("year"), statsCols = Seq("id"))
    MiniDelta.append(spark, sample("2024", 40).repartition(8), t,
      Seq("year"), statsCols = Seq("id"))
    MiniDelta.setTableProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    MiniDelta.delete(spark, t,
      col("id") === 2 && col("year") === "2023", Seq("year"))
    val masked = MiniDelta.snapshotFiles(spark, t)
      .where(col("dv_path").isNotNull).count()
    val total = MiniDelta.snapshotFiles(spark, t).count()
    assert(masked > 0 && masked < total,
      s"fixture broken: $masked masked of $total")
    val before = MiniDelta.dmlManifestRows.get()
    MiniDelta.reorgPurge(spark, t, Seq("year"))
    assert(MiniDelta.dmlManifestRows.get() - before == masked,
      s"collected ${MiniDelta.dmlManifestRows.get() - before} manifest " +
        s"rows, expected only the $masked DV-bearing files")
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.snapshotFiles(spark, t)
      .where(col("dv_path").isNotNull).count() == 0,
      "masks survived the purge")
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 79)
  }

  test("CREATE TABLE declares columnMapping and ICT features from v0") {
    import org.apache.spark.sql.types._
    // a table BORN name-mapped: physicalName = logical name and ids
    // assigned at v0, maxColumnId in the config, columnMapping in the
    // protocol — then the full mapped lifecycle (append, rename,
    // post-rename append under the PHYSICAL name) works exactly as on
    // an upgraded table
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("tag", StringType))),
      properties = Map("delta.columnMapping.mode" -> "name"))
    val v0 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(f"$t/_delta_log/${0L}%020d.json"))
    assert(v0.contains("\"columnMapping\"") &&
      v0.contains("delta.columnMapping.maxColumnId") &&
      v0.contains("physicalName"), v0)
    MiniDelta.append(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), t, Seq.empty)
    MiniDelta.renameColumn(spark, t, "tag", "label")
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.append(spark, Seq((3L, "c")).toDF("id", "label"), t,
      Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val out = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(out.columns.toSeq == Seq("id", "label"))
    assert(out.count() == 3)
    // on disk, every file carries the PHYSICAL name ('tag'), pre- and
    // post-rename alike
    val raw = spark.read.parquet(t)
    assert(raw.columns.contains("tag") && !raw.columns.contains("label"))
    // id mode is CREATE-able too (ColumnMappingWriteSpec drives its
    // full lifecycle); an UNKNOWN mode still refuses by name
    intercept[IllegalArgumentException] {
      MiniDelta.createTable(spark, freshTable(),
        StructType(Seq(StructField("x", LongType))),
        properties = Map("delta.columnMapping.mode" -> "sideways"))
    }
    // ICT from v0: the writer feature joins the creation protocol and
    // the v0 commitInfo ITSELF stamps the in-log clock (no enablement
    // provenance needed when authoritative from creation)
    val t2 = freshTable()
    MiniDelta.createTable(spark, t2,
      StructType(Seq(StructField("x", LongType))),
      properties = Map("delta.enableInCommitTimestamps" -> "true"))
    val ictV0 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(f"$t2/_delta_log/${0L}%020d.json"))
    assert(ictV0.contains("\"writerFeatures\"") &&
      ictV0.contains("\"inCommitTimestamp\":"), ictV0)
    // and every later commit keeps stamping it
    MiniDelta.append(spark, Seq(Tuple1(1L)).toDF("x"), t2, Seq.empty)
    val ictV1 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(f"$t2/_delta_log/${1L}%020d.json"))
    assert(ictV1.contains("\"inCommitTimestamp\":"), ictV1)
  }

  test("out-of-band table replacement at the same path + versions " +
      "reads the NEW data (r20 memo-fingerprint hardening)") {
    // Round-20 closes the staleness hole of the driver-side parse
    // memos (commitNodesMemo, cpRowsMemo): a table wiped and
    // re-created at the same path with the same version numbers by an
    // EXTERNAL process (no invalidateSnapshot call) must fingerprint
    // differently by (len, mtime) and read fresh.
    val t = freshTable()
    def build(tag: String, n: Int): Unit = {
      MiniDelta.append(spark,
        (1 to n).map(i => (i.toLong, tag)).toDF("id", "tag"), t, Seq.empty)
      MiniDelta.append(spark,
        (100 to 100 + n).map(i => (i.toLong, tag)).toDF("id", "tag"), t,
        Seq.empty)
      // a checkpoint at v1 exercises cpRowsMemo's fingerprint too
      MiniDelta.writeCheckpoint(spark, t, 1L)
      MiniDelta.append(spark,
        Seq((999L, tag)).toDF("id", "tag"), t, Seq.empty)
    }
    build("old", 3)
    // populate the memos through a read
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 8)
    // out-of-band wipe + rebuild: same path, same versions, NO
    // invalidateSnapshot. Different row counts so staleness is visible.
    // (The TTL'd snapshot cache keys on content-independent identity;
    // discard it the way a TTL expiry / config reload would
    // (applyCaches rebuilds it) — the PERMANENT parse memos are the
    // hardening under test and stay untouched.)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))
    Thread.sleep(5) // ensure a distinct mtime for same-length files
    build("new", 5)
    graft.catalog.GraftConfig().applyCaches()
    val out = MiniDelta.readFiltered(spark, t, Seq.empty)
    assert(out.where(col("tag") === "new").count() == 12)
    assert(out.where(col("tag") === "old").count() == 0)
  }

  test("chained DV masks: manifest live totals account for prior " +
      "cardinality (r20 driver fold)") {
    // dvMaskActions' full-file-removal decision now derives live
    // totals from the manifest (stats.numRecords - dv_card) instead
    // of re-reading every touched file; a SECOND mask over an
    // already-masked file is exactly where that arithmetic can go
    // wrong. One 3-row file: mask 1 row (live 2), mask 1 more
    // (live 1 - still a mask, not a removal), then the last (live 1 ==
    // matched 1 - the file must be PLAINLY REMOVED, empty snapshot).
    import org.apache.spark.sql.types._
    val t = freshTable()
    MiniDelta.createTable(spark, t, StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))),
      properties = Map("delta.enableDeletionVectors" -> "true"))
    MiniDelta.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1),
      t, Seq.empty) // ONE 3-row file — the chained masks must share it
    MiniDelta.invalidateSnapshot(t)
    MiniDelta.delete(spark, t, col("k") === 1, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("k").as[Long].collect().toSet == Set(2L, 3L))
    MiniDelta.delete(spark, t, col("k") === 2, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    val snap2 = MiniDelta.snapshotFiles(spark, t)
      .select("path", "dv_card").collect()
    assert(snap2.length == 1 && snap2.head.getLong(1) == 2L, // mask grew
      snap2.mkString(","))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty)
      .select("k").as[Long].collect().toSeq == Seq(3L))
    MiniDelta.delete(spark, t, col("k") === 3, Seq.empty)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.snapshotFiles(spark, t).count() == 0) // plain remove
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).count() == 0)
  }

  test("copy-on-write discovery keys touched files exactly, not by suffix") {
    val t = freshTable()
    // two files whose relative paths differ only by a prefix: one
    // path is a suffix of the other's
    def land(rel: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("cowland").toString + "/out"
      rows.toDF("id", "v").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(t, rel)
      dst.getParentFile.mkdirs()
      Files.move(part.toPath, dst.toPath)
    }
    land("a/part-0.parquet", Seq((1L, "a"), (2L, "b")))
    land("xa/part-0.parquet", Seq((3L, "c"), (4L, "d")))
    val schemaJson = jsonStr(Seq((1L, "a")).toDF("id", "v").schema.json)
    rawCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""") ++
      Seq("a/part-0.parquet", "xa/part-0.parquet").map(f =>
        s"""{"add":{"path":${jsonStr(f)},"partitionValues":{},"size":${sizeOf(t, f)},"dataChange":true}}"""))
    // the DELETE hits rows of xa/part-0.parquet only
    MiniDelta.delete(spark, t, col("id") === 3L, Seq.empty)
    val c1 = new String(Files.readAllBytes(java.nio.file.Paths.get(
      f"$t%s/_delta_log/${1L}%020d.json")), "UTF-8")
    val removed = """"remove":\{"path":"([^"]+)"""".r
      .findAllMatchIn(c1).map(_.group(1)).toSeq
    assert(removed == Seq("xa/part-0.parquet"), c1)
    MiniDelta.invalidateSnapshot(t)
    assert(MiniDelta.snapshotFiles(spark, t).select("path").collect()
      .map(_.getString(0)).contains("a/part-0.parquet"))
    assert(MiniDelta.readFiltered(spark, t, Seq.empty).orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (4L, "d")))
  }
}
