package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.acl.PartitionAcl
import graft.catalog.Catalog
import graft.functions.StringFns
import graft.listing.ObjectListing
import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.metrics.Metrics

/** Driver contract — see /root/repo/SURVEY.md §2/§7 and the module
  * Scaladocs for the reference citations. Every operator in SURVEY §2's
  * inventory is a named entry in `queries` with a DuckDB oracle in
  * `oracleSql` (column names aligned on both sides; all integer outputs
  * are 64-bit on both sides; all double outputs are either exact integer
  * ratios / grid sums or rounded before comparison — see Metrics/Similarity
  * Scaladocs for the exactness argument).
  */
object SparkEntry {
  /** Scratch directory for a write-lifecycle gate, derived from the
    * JVM's tmpdir (not a hardcoded /tmp) so a relocated or sandboxed
    * tmp works and parallel harnesses can isolate runs by pointing
    * java.io.tmpdir elsewhere. Same wipe-per-run discipline as before:
    * each gate deletes its dir up front, so stale fixtures from a
    * previous code version never leak into a measurement. */
  private def scratch(name: String): String =
    s"${sys.props("java.io.tmpdir").stripSuffix("/")}/graft_$name"


  // ---- fixture bindings -------------------------------------------------

  /** The ACL filter sets used across queries (FIXTURES.md role mapping:
    * l_returnflag/l_linestatus stand in for partition columns). */
  private val AclAllow: PartitionAcl.Filters =
    Seq(Map("l_returnflag" -> "R", "l_linestatus" -> "F"),
      Map("l_returnflag" -> "N"))
  private val AclAllowRfNo: PartitionAcl.Filters =
    Seq(Map("l_returnflag" -> "R", "l_linestatus" -> "F"),
      Map("l_returnflag" -> "N", "l_linestatus" -> "O"))

  /** Embedded-Derby permissions fixture (idempotent): the same grants as
    * the j3/j4 in-memory fixture, persisted as a real `permissions`
    * table so the JDBC path is exercised end to end. Returns the
    * reference-style database URI. */
  private def derbyPermsFixture(): String = {
    val dir = scratch("j5_db") + "/perms"
    // Derby writes its engine log to derby.log in the CWD by default
    System.setProperty("derby.stream.error.file", scratch("derby.log"))
    // wipe-and-reseed every run, like the other /tmp fixtures — stale
    // rows from a previous code version must not survive into the gate.
    // A booted Derby database must be shut down before its files go
    // (shutdown SIGNALS success via SQLState 08006).
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$dir;shutdown=true")
    catch { case _: java.sql.SQLException => }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val conn = java.sql.DriverManager
      .getConnection(s"jdbc:derby:$dir;create=true")
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE permissions (id INT PRIMARY KEY, " +
          "user_id VARCHAR(64) NOT NULL, table_name VARCHAR(64) NOT NULL, " +
          "partition_filters VARCHAR(1024) NOT NULL)")
      st.executeUpdate("""INSERT INTO permissions VALUES """ +
        """(1, 'alice', 'lineitem', '[{"l_returnflag":"N"}]'), """ +
        """(2, 'alice', 'orders', '[{"o_orderstatus":"F"}]'), """ +
        """(3, 'bob', 'lineitem', '[{"l_returnflag":"A"}]')""")
      st.close()
    } finally conn.close()
    s"derby:$dir"
  }

  private def li(s: SparkSession, d: String) = Tables.load(s, d, "lineitem")
  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")
  private def emb(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")
  private def ev(s: SparkSession, d: String) = Tables.events(s, d)
  private def files(s: SparkSession, d: String) = ObjectListing.filesDF(s, d)

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the
    * reference's validation read — governed table scan with an OR-of-ANDs
    * partition ACL, projected and limited (README.md:227-246 transposed
    * per SURVEY §7). */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    PartitionAcl(li(spark, d), AclAllow)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .orderBy("l_orderkey", "l_linenumber")
      .limit(10)
  }

  // ---- queries ----------------------------------------------------------

  private val scanQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_list_buckets" -> ((s, _) => Catalog.forSf("x").listBuckets(s)),
    "s2_list_tables" -> ((s, d) => Catalog.forSf(d).listTables(s)),
    "s3_listing_page" -> ((s, d) =>
      ObjectListing.list(files(s, d), "lineitem/l_returnflag=N/",
        Some("lineitem/l_returnflag=N/l_linestatus=O/part-0000010000-01.parquet"),
        100)),
    "s3_common_prefixes" -> ((s, d) =>
      ObjectListing.commonPrefixes(files(s, d), "lineitem/")),
    "s8_head_metadata" -> ((s, d) =>
      files(s, d)
        .select("key", "size", "etag", "last_modified", "storage_class")
        .orderBy("key").limit(1)),
    "s9_write_roundtrip" -> ((s, d) => {
      // S9+P9+S4+P5 end to end: two append commits and an OPTIMIZE
      // compaction + vacuum on a fresh MiniDelta table, then a read back
      // THROUGH the log-driven snapshot with OR-of-ANDs partition
      // pruning. The aggregate must equal the same aggregate computed
      // straight from the source — the whole write->log->prune->read
      // loop preserves the data exactly.
      // fixed path, wiped before each run — createTempDirectory would
      // leak one table copy per Verify/Bench invocation into /tmp
      val dir = scratch("s9_roundtrip")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 0), table,
        Seq("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 1), table,
        Seq("l_returnflag"))
      graft.io.MiniDelta.compact(s, table, Seq("l_returnflag"))
      graft.io.MiniDelta.vacuum(s, table)
      graft.io.MiniDelta.readFiltered(s, table,
          Seq(Map("l_returnflag" -> "R"), Map("l_returnflag" -> "N")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    "s10_time_travel" -> ((s, d) => {
      // Time travel + checkpoint replay end to end: commit 0 = even line
      // numbers, commit 1 = odd, commit 2 = OPTIMIZE; a parquet
      // checkpoint at v2 makes the "current" read replay checkpoint +
      // empty tail while the v0 read replays raw JSON. v0 must see ONLY
      // the first commit's rows; current must see all — both equal the
      // same aggregates computed straight from the source.
      val dir = scratch("s10_timetravel")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 0), table,
        Seq("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 1), table,
        Seq("l_returnflag"))
      graft.io.MiniDelta.compact(s, table, Seq("l_returnflag"))
      graft.io.MiniDelta.writeCheckpoint(s, table, 2)
      def agg(df: DataFrame, snap: String) =
        df.agg(count(lit(1)).as("n_rows"),
            (sum(round(col("l_extendedprice") * 100)) / 100.0)
              .as("sum_price"),
            sum(col("l_quantity").cast("long")).as("sum_qty"))
          .withColumn("snap", lit(snap))
      agg(graft.io.MiniDelta.readFiltered(s, table, Seq.empty), "current")
        .unionByName(agg(graft.io.MiniDelta.readFiltered(s, table,
          Seq.empty, versionAsOf = Some(0L)), "v0"))
        .select("snap", "n_rows", "sum_price", "sum_qty")
        .orderBy("snap")
    }),
    "s12_stats_skipping" -> ((s, d) => {
      // File-level min/max data skipping (Delta-protocol stats JSON on
      // add actions): two commits with disjoint l_quantity ranges, then
      // a range read that prunes commit-1's files from log METADATA
      // alone and applies the exact predicate on top. The aggregate
      // must equal the same range computed straight from the source.
      val dir = scratch("s12_skipping")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 5)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s, src.where(col("l_quantity") <= 2),
        table, Seq("l_returnflag"), statsCols = Seq("l_quantity"))
      graft.io.MiniDelta.append(s, src.where(col("l_quantity") >= 3),
        table, Seq("l_returnflag"), statsCols = Seq("l_quantity"))
      graft.io.MiniDelta.readRange(s, table, "l_quantity", 3.0, 4.0)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    "s13_schema_evolution" -> ((s, d) => {
      // Schema evolution end to end: commit 0 writes WITHOUT l_discount,
      // commit 1 appends WITH it (metaData action evolves the declared
      // schema). The read replays the log and projects the evolved
      // schema — commit-0 rows surface l_discount as NULL — so the
      // null-aware aggregate equals the same computed from the source
      // with discount visible only on odd line numbers.
      val dir = scratch("s13_schema")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_returnflag")),
        table, Seq("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 1)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_returnflag"), col("l_discount")),
        table, Seq("l_returnflag"))
      graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(col("l_discount")).as("n_disc"),
          (sum(round(col("l_discount") * 100)) / 100.0).as("sum_disc"))
        .orderBy("l_returnflag")
    }),
    "s14_delete" -> ((s, d) => {
      // DELETE end to end: copy-on-write removal of l_quantity=1 rows —
      // only files containing a match are rewritten — then a log-driven
      // read back. Must equal the source with those rows excluded.
      val dir = scratch("s14_delete")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s, src, table, Seq("l_returnflag"))
      graft.io.MiniDelta.delete(s, table, col("l_quantity") === 1,
        Seq("l_returnflag"))
      graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    "s15_update" -> ((s, d) => {
      // UPDATE end to end: set l_extendedprice = 0 where l_quantity = 1,
      // copy-on-write in-place rewrite, then read back. Must equal the
      // source with the CASE applied.
      val dir = scratch("s15_update")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s, src, table, Seq("l_returnflag"))
      graft.io.MiniDelta.update(s, table, col("l_quantity") === 1,
        Map("l_extendedprice" -> lit(0.0)), Seq("l_returnflag"))
      graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    "s16_merge" -> ((s, d) => {
      // MERGE (upsert) end to end: target = even order keys; source =
      // odd keys (inserts) plus keys divisible by 10 with totalprice
      // bumped (updates). The merged table must equal ALL orders with
      // the bump applied to the %10 keys.
      val dir = scratch("s16_merge")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/orders"
      val orders = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      graft.io.MiniDelta.append(s,
        orders.where(pmod(col("o_orderkey"), lit(2)) === 0), table,
        Seq("o_orderstatus"))
      val source = orders.where(pmod(col("o_orderkey"), lit(2)) === 1)
        .unionByName(orders.where(pmod(col("o_orderkey"), lit(10)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
      graft.io.MiniDelta.merge(s, table, source, Seq("o_orderkey"),
        Seq("o_orderstatus"))
      graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("o_totalprice") * 100)) / 100.0).as("sum_price"))
        .orderBy("o_orderstatus")
    }),
    "s17_zorder" -> ((s, d) => {
      // OPTIMIZE ZORDER end to end: append scattered, z-order compact
      // on (l_quantity, l_extendedprice), then a range read on the
      // SECOND z-dimension through min/max stats skipping. The result
      // must equal the same range computed straight from the source —
      // and the clustering must leave the data bit-identical.
      val dir = scratch("s17_zorder")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 5)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s, src, table, Seq.empty)
      graft.io.MiniDelta.compact(s, table, Seq.empty,
        maxRecordsPerFile = 4096,
        statsCols = Seq("l_quantity", "l_extendedprice"),
        zOrderBy = Seq("l_quantity", "l_extendedprice"))
      graft.io.MiniDelta.readRange(s, table, "l_extendedprice",
          1000.0, 3000.0)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    "s28_column_mapping" -> ((s, d) => {
      // Interop read of a NAME-mode column-mapped table — the modern
      // real-writer shape whose client hazard the reference documents
      // (/root/reference/README.md:249-270): parquet columns carry
      // GUID-style PHYSICAL names; the metaData schemaString maps them
      // to logical names through field metadata
      // (delta.columnMapping.physicalName). The engine scans under the
      // physical names and relabels to logical; id mode stays refused.
      import org.apache.spark.sql.types._
      val dir = scratch("s28_colmap")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/nation_mapped"
      val src = Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val phys = Map("n_nationkey" -> "col-9d6e7a3b",
        "n_name" -> "col-52f1c88e", "n_regionkey" -> "col-e04b2c17")
      val logical = StructType(src.schema.fields.zipWithIndex.map {
        case (f, i) => StructField(f.name, f.dataType, f.nullable,
          new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", phys(f.name))
            .putLong("delta.columnMapping.id", i + 1L).build())
      })
      def land(pred: org.apache.spark.sql.Column): String = {
        val before = Option(new java.io.File(table).listFiles()).toSeq
          .flatten.map(_.getName).toSet
        src.where(pred)
          .select(src.schema.fieldNames.map(n =>
            col(n).as(phys(n))).toIndexedSeq: _*)
          .coalesce(1).write.mode("append").parquet(table)
        new java.io.File(table).listFiles().map(_.getName)
          .filter(n => n.endsWith(".parquet") && !before(n)).head
      }
      def jstr(x: String) = com.fasterxml.jackson.databind.json.JsonMapper
        .builder().build().writeValueAsString(x)
      def commit(v: Long, lines: Seq[String]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(f"$table%s/_delta_log/$v%020d.json"),
          lines.mkString("\n").getBytes("UTF-8"))
      val meta = s"""{"metaData":{"schemaString":${jstr(logical.json)},""" +
        """"partitionColumns":[],"configuration":{""" +
        """"delta.columnMapping.mode":"name",""" +
        """"delta.columnMapping.maxColumnId":"3"}}}"""
      val proto =
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
      def add(p: String) = s"""{"add":{"path":${jstr(p)},""" +
        s""""partitionValues":{},"size":${new java.io.File(s"$table/$p")
          .length},"dataChange":true}}"""
      val f1 = land(col("n_regionkey") <= 1)
      new java.io.File(s"$table/_delta_log").mkdirs()
      commit(0L, Seq(proto, meta, add(f1)))
      val f2 = land(col("n_regionkey") >= 2)
      commit(1L, Seq(add(f2)))
      graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"),
          max(col("n_name")).as("max_name"))
        .orderBy("n_regionkey")
    }),
    "s30_colmap_id" -> ((s, d) => {
      // Interop read of an ID-mode column-mapped table: the parquet
      // files spell columns under names matching NEITHER the logical
      // nor the physical names — only the footer field_ids line up
      // (the resilience id mode promises; resolved through Spark's
      // native parquet field-id matching, a zero-shuffle relabel).
      import org.apache.spark.sql.types._
      val dir = scratch("s30_colmap_id")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/nation_idmapped"
      val src = Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      def fid(id: Long) = new MetadataBuilder()
        .putLong("parquet.field.id", id).build()
      // file columns under "legacy" names, ids 1..3
      val fileSchema = StructType(Seq(
        StructField("legacy_key", LongType, nullable = true, fid(1)),
        StructField("legacy_label", StringType, nullable = true, fid(2)),
        StructField("legacy_region", LongType, nullable = true, fid(3))))
      def land(pred: org.apache.spark.sql.Column): String = {
        val before = Option(new java.io.File(table).listFiles()).toSeq
          .flatten.map(_.getName).toSet
        val rows = src.where(pred)
          .select(col("n_nationkey").cast("long"), col("n_name"),
            col("n_regionkey").cast("long"))
        s.createDataFrame(rows.rdd, fileSchema)
          .coalesce(1).write.mode("append").parquet(table)
        new java.io.File(table).listFiles().map(_.getName)
          .filter(n => n.endsWith(".parquet") && !before(n)).head
      }
      def m(phys: String, id: Long) = new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build()
      val logical = StructType(Seq(
        StructField("n_nationkey", LongType, nullable = true,
          m("col-a1", 1)),
        StructField("n_name", StringType, nullable = true, m("col-b2", 2)),
        StructField("n_regionkey", LongType, nullable = true,
          m("col-c3", 3))))
      def jstr(x: String) = com.fasterxml.jackson.databind.json.JsonMapper
        .builder().build().writeValueAsString(x)
      def commit(v: Long, lines: Seq[String]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(f"$table%s/_delta_log/$v%020d.json"),
          lines.mkString("\n").getBytes("UTF-8"))
      val meta = s"""{"metaData":{"schemaString":${jstr(logical.json)},""" +
        """"partitionColumns":[],"configuration":{""" +
        """"delta.columnMapping.mode":"id",""" +
        """"delta.columnMapping.maxColumnId":"3"}}}"""
      val proto =
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
      def add(p: String) = s"""{"add":{"path":${jstr(p)},""" +
        s""""partitionValues":{},"size":${new java.io.File(s"$table/$p")
          .length},"dataChange":true}}"""
      val f1 = land(col("n_regionkey") <= 1)
      new java.io.File(s"$table/_delta_log").mkdirs()
      commit(0L, Seq(proto, meta, add(f1)))
      val f2 = land(col("n_regionkey") >= 2)
      commit(1L, Seq(add(f2)))
      graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"),
          max(col("n_name")).as("max_name"))
        .orderBy("n_regionkey")
    }),
    "s27_real_format" -> ((s, d) => {
      // Interop read of a REAL-format Delta log — the shape delta-rs /
      // Delta-Spark writers produce and the reference consumes
      // (/root/reference/src/main.rs:357-363): a protocol action with
      // v3 reader features, metaData/schema as log actions (zero graft
      // sidecars), a single-FILE checkpoint carrying protocol/metaData/
      // add as nullable action COLUMNS, and a JSON tail after it. The
      // snapshot must fold checkpoint adds + tail adds with the remove
      // honored.
      val dir = scratch("s27_real")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/nation_real"
      val src = Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      def land(pred: org.apache.spark.sql.Column): String = {
        val before = Option(new java.io.File(table).listFiles()).toSeq
          .flatten.map(_.getName).toSet
        src.where(pred).coalesce(1).write.mode("append").parquet(table)
        new java.io.File(table).listFiles().map(_.getName)
          .filter(n => n.endsWith(".parquet") && !before(n)).head
      }
      def jstr(x: String) = com.fasterxml.jackson.databind.json.JsonMapper
        .builder().build().writeValueAsString(x)
      def commit(v: Long, lines: Seq[String]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(f"$table%s/_delta_log/$v%020d.json"),
          lines.mkString("\n").getBytes("UTF-8"))
      val schemaJson = jstr(src.schema.json)
      val meta = s"""{"metaData":{"schemaString":$schemaJson,""" +
        """"partitionColumns":[],"configuration":{}}}"""
      val proto = """{"protocol":{"minReaderVersion":3,""" +
        """"minWriterVersion":7,"readerFeatures":["deletionVectors",""" +
        """"timestampNtz"],"writerFeatures":["deletionVectors"]}}"""
      def add(p: String) = s"""{"add":{"path":${jstr(p)},""" +
        s""""partitionValues":{},"size":${new java.io.File(s"$table/$p")
          .length},"dataChange":true}}"""
      val f1 = land(col("n_regionkey") <= 1)
      new java.io.File(s"$table/_delta_log").mkdirs()
      commit(0L, Seq(proto, meta, add(f1)))
      val f2 = land(col("n_regionkey") === 2 || col("n_regionkey") === 3)
      commit(1L, Seq(add(f2),
        s"""{"remove":{"path":${jstr(f1)},"dataChange":true,""" +
          """"deletionTimestamp":1}}"""))
      // single-file real checkpoint at v1: live adds + protocol + meta
      val tmp = s"$dir/cp_build"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/cp.json"),
        Seq(proto, meta, add(f2)).mkString("\n").getBytes("UTF-8"))
      s.read.schema(graft.io.MiniDelta.logSchema).json(s"$tmp/cp.json")
        .drop("commitInfo").coalesce(1).write.parquet(s"$tmp/out")
      val part = new java.io.File(s"$tmp/out").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).head
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$tmp/out/$part"),
        java.nio.file.Paths.get(
          f"$table%s/_delta_log/${1L}%020d.checkpoint.parquet"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$table/_delta_log/_last_checkpoint"),
        """{"version":1}""".getBytes("UTF-8"))
      val f3 = land(col("n_regionkey") === 4)
      commit(2L, Seq(add(f3)))
      graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .orderBy("n_nationkey")
    }),
    "s26_overwrite_where" -> ((s, d) => {
      // INSERT OVERWRITE ... replaceWhere end to end: reload ONLY the
      // l_returnflag=R partition with its qty=2 subset; every other
      // partition must read back untouched.
      val dir = scratch("s26_overwrite_where")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s, src, table, Seq("l_returnflag"))
      graft.io.MiniDelta.overwrite(s,
        src.where(col("l_returnflag") === "R" && col("l_quantity") === 2),
        table, Seq("l_returnflag"),
        replaceWhere = Seq(Map("l_returnflag" -> "R")))
      // predicate form (Delta 1.1 arbitrary replaceWhere, r15 late): a
      // DATA-column scope the partition form cannot express — every
      // qty=1 row across flags A/N is replaced by its price-zeroed
      // image (a DELETE fused with the insert, partially-matching
      // files keep their qty=2 rows)
      graft.io.MiniDelta.overwrite(s,
        src.where(col("l_quantity") === 1 && col("l_returnflag") =!= "R")
          .withColumn("l_extendedprice", lit(0.0)),
        table, Seq("l_returnflag"),
        replaceWhereCond = Some(col("l_quantity") === 1))
      graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    "s25_deletion_vectors" -> ((s, d) => {
      // deletion-vector DELETE end to end: enable DVs, delete qty=1 —
      // rows are MASKED by a deletion vector, no data file rewritten. The read
      // back must equal the copy-on-write result exactly, and every
      // partition that had a qty=1 row must carry exactly one DV'd file
      // (single-file-per-partition appends make that deterministic).
      val dir = scratch("s25_deletion_vectors")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s, src.coalesce(1), table,
        Seq("l_returnflag"))
      graft.io.MiniDelta.setTableProperties(s, table,
        Map("delta.enableDeletionVectors" -> "true"))
      graft.io.MiniDelta.delete(s, table, col("l_quantity") === 1,
        Seq("l_returnflag"))
      val dvFiles = graft.io.MiniDelta.snapshotFiles(s, table)
        .select(element_at(col("partitionValues"), "l_returnflag")
          .as("l_returnflag"), col("dv_path"))
        .groupBy("l_returnflag")
        .agg(sum(when(col("dv_path").isNotNull, 1L).otherwise(0L)).as("n_dv"))
      graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .join(dvFiles, "l_returnflag")
        .select("l_returnflag", "n_rows", "sum_price", "sum_qty", "n_dv")
        .orderBy("l_returnflag")
    }),
    "s32_cow_over_dv" -> ((s, d) => {
      // copy-on-write DML over a deletion-vector-bearing snapshot: DV
      // DELETE masks qty=1, DVs are then disabled, and a second DELETE
      // rewrites the masked files copy-on-write — the rewrite must read
      // UNDER the masks (qty=1 never resurrects) and materialize them
      // (no DV references survive; n_dv_total = 0). The old behavior
      // refused this lifecycle until a manual OPTIMIZE.
      val dir = scratch("s32_cow_over_dv")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s, src.coalesce(1), table,
        Seq("l_returnflag"))
      graft.io.MiniDelta.setTableProperties(s, table,
        Map("delta.enableDeletionVectors" -> "true"))
      graft.io.MiniDelta.delete(s, table, col("l_quantity") === 1,
        Seq("l_returnflag"))
      graft.io.MiniDelta.setTableProperties(s, table,
        Map("delta.enableDeletionVectors" -> "false"))
      graft.io.MiniDelta.delete(s, table,
        pmod(col("l_orderkey"), lit(2)) === 0, Seq("l_returnflag"))
      val dvTotal = graft.io.MiniDelta.snapshotFiles(s, table)
        .agg(sum(when(col("dv_path").isNotNull, 1L).otherwise(0L))
          .as("n_dv_total"))
      graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .crossJoin(dvTotal)
        .select("l_returnflag", "n_rows", "sum_price", "sum_qty",
          "n_dv_total")
        .orderBy("l_returnflag")
    }),
    "s24_optimize_where" -> ((s, d) => {
      // OPTIMIZE ... WHERE end to end: two single-file-per-partition
      // appends (2 files per flag), then a compaction scoped to
      // l_returnflag=R only. R must collapse to ONE file; every other
      // partition keeps its exact 2 files untouched; data identical.
      val dir = scratch("s24_optimize_where")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 0).coalesce(1),
        table, Seq("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 1).coalesce(1),
        table, Seq("l_returnflag"))
      graft.io.MiniDelta.compact(s, table, Seq("l_returnflag"),
        where = Seq(Map("l_returnflag" -> "R")))
      val files = graft.io.MiniDelta.snapshotFiles(s, table)
        .select(element_at(col("partitionValues"), "l_returnflag")
          .as("l_returnflag"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n_files"))
      graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .join(files, "l_returnflag")
        .select("l_returnflag", "n_rows", "sum_price", "sum_qty", "n_files")
        .orderBy("l_returnflag")
    }),
    "s23_history" -> ((s, d) => {
      // DESCRIBE HISTORY end to end: a scripted lifecycle (two appends,
      // a delete, an optimize, a restore) must read back as exactly
      // that operation sequence from the commit log. File counts are
      // parallelism-dependent, so the gate pins version+operation only.
      val dir = scratch("s23_history")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      graft.io.MiniDelta.append(s, src.where(col("n_regionkey") <= 2),
        table, Seq.empty)
      graft.io.MiniDelta.append(s, src.where(col("n_regionkey") > 2),
        table, Seq.empty)
      graft.io.MiniDelta.delete(s, table, col("n_regionkey") === 0, Seq.empty)
      graft.io.MiniDelta.compact(s, table, Seq.empty)
      graft.io.MiniDelta.restore(s, table, toVersion = 1)
      graft.io.MiniDelta.history(s, table).select("version", "operation")
    }),
    "s21_restore" -> ((s, d) => {
      // RESTORE end to end: append (v0), DELETE a third of the rows
      // (v1), zero out prices (v2), then RESTORE to v0 — one metadata
      // commit re-adding v0's files and removing the rewrites. The read
      // back must equal the ORIGINAL source, bit for bit.
      val dir = scratch("s21_restore")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s, src, table, Seq("l_returnflag"))
      graft.io.MiniDelta.delete(s, table, col("l_quantity") === 1,
        Seq("l_returnflag"))
      graft.io.MiniDelta.update(s, table, col("l_quantity") === 2,
        Map("l_extendedprice" -> lit(0.0)), Seq("l_returnflag"))
      graft.io.MiniDelta.restore(s, table, toVersion = 0)
      graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    "s22_clone" -> ((s, d) => {
      // Shallow clone end to end: clone a partitioned table by absolute
      // file reference (zero data copied), then diverge — DELETE on the
      // clone (copy-on-write rewrites land under the CLONE's root while
      // untouched partitions still read from the source's files) and a
      // different DELETE on the source. Each side must see only its own
      // edit; vacuum on either side must not disturb the other.
      val dir = scratch("s22_clone")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val srcTable = s"$dir/src"
      val cloneTable = s"$dir/fork"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s, src, srcTable, Seq("l_returnflag"))
      graft.io.MiniDelta.cloneShallow(s, srcTable, cloneTable)
      graft.io.MiniDelta.delete(s, cloneTable, col("l_quantity") === 1,
        Seq("l_returnflag"))
      graft.io.MiniDelta.delete(s, srcTable, col("l_quantity") === 2,
        Seq("l_returnflag"))
      // clone vacuum at horizon 0 sees only the clone's own directory —
      // the source files it stopped referencing are untouchable by
      // construction; the SOURCE vacuums under a retention horizon
      // (the real-Delta discipline for sources of shallow clones, whose
      // readers the source's log cannot see)
      graft.io.MiniDelta.vacuum(s, cloneTable)
      graft.io.MiniDelta.vacuum(s, srcTable, retainMs = 3600000L)
      def agg(t: String, side: String) =
        graft.io.MiniDelta.readFiltered(s, t, Seq.empty)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
            sum(col("l_quantity").cast("long")).as("sum_qty"))
          .withColumn("side", lit(side))
      agg(cloneTable, "clone").unionByName(agg(srcTable, "source"))
        .select("side", "l_returnflag", "n_rows", "sum_price", "sum_qty")
        .orderBy("side", "l_returnflag")
    }),
    "s20_cdf" -> ((s, d) => {
      // Row-level CDF end to end: append, then an UPDATE (price zeroed
      // where qty=1) and a DELETE (qty=2, orderkey%3=0). The change feed
      // after v0 must carry exactly the changed rows — preimages with
      // the ORIGINAL prices, postimages with zeros, deletes with the
      // deleted rows — reconstructed from the commits' file actions
      // (survivor rows rewritten by copy-on-write must all cancel).
      val dir = scratch("s20_cdf")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s, src, table, Seq("l_returnflag"))
      graft.io.MiniDelta.update(s, table, col("l_quantity") === 1,
        Map("l_extendedprice" -> lit(0.0)), Seq("l_returnflag"))
      graft.io.MiniDelta.delete(s, table,
        col("l_quantity") === 2 && pmod(col("l_orderkey"), lit(3)) === 0,
        Seq("l_returnflag"))
      graft.io.MiniDelta.readCdf(s, table, fromVersion = 0)
        .groupBy("_change_type")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .withColumnRenamed("_change_type", "change_type")
        .orderBy("change_type")
    }),
    "s18_incremental" -> ((s, d) => {
      // Change-feed read end to end: three append commits with an
      // OPTIMIZE rewrite in between; the incremental read AFTER v0 must
      // see exactly commits 1 and 3's rows (the rewrite's re-added
      // files carry dataChange=false and stay invisible).
      val dir = scratch("s18_incremental")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(3)) === 0), table,
        Seq("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(3)) === 1), table,
        Seq("l_returnflag"))
      graft.io.MiniDelta.compact(s, table, Seq("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(3)) === 2), table,
        Seq("l_returnflag"))
      graft.io.MiniDelta.readChanges(s, table, fromVersion = 0)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    "b1_bucketed_join" -> ((s, d) => {
      // Pay-the-shuffle-once: both join sides written bucketed+sorted
      // on the join key, then the recurring equi-join runs with zero
      // Exchange (BucketingSpec asserts the plan). The aggregate must
      // equal the plain join computed straight from the sources.
      val orders = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus"))
      val li = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey").as("k"), col("l_extendedprice"))
      graft.io.Bucketing.writeBucketed(orders, "graft_orders_b", 8, "k")
      graft.io.Bucketing.writeBucketed(li, "graft_lineitem_b", 8, "k")
      graft.io.Bucketing
        .bucketedEquiJoin(s, "graft_orders_b", "graft_lineitem_b", "k")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"))
        .orderBy("o_orderstatus")
    }),
    "s19_stream_consume" -> ((s, d) => {
      // Exactly-once change-feed consumption end to end: three append
      // commits, then processChanges drains the feed one commit per
      // batch from a fresh checkpoint. The per-batch (version, rows,
      // qty) records must equal the same split computed from the
      // source — and a second drain must deliver nothing.
      val dir = scratch("s19_stream")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val cp = s"$dir/_checkpoint"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      for (m <- 0 to 2)
        graft.io.MiniDelta.append(s,
          src.where(pmod(col("l_linenumber"), lit(3)) === m), table,
          Seq("l_returnflag"))
      val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      graft.io.MiniDelta.processChanges(s, table, cp) { (df, v) =>
        val r = df.agg(count(lit(1)),
          sum(col("l_quantity").cast("long"))).collect()(0)
        batches += ((v, r.getLong(0), r.getLong(1)))
      }
      graft.io.MiniDelta.processChanges(s, table, cp) { (_, _) =>
        sys.error("redelivery after drain")
      }
      import s.implicits._
      batches.toSeq.toDF("version", "n_rows", "sum_qty")
        .orderBy("version")
    }),
    "s29_stream_cdf" -> ((s, d) => {
      // The engine-managed streaming source driven through a REAL
      // StreamingQuery at gate level (VERDICT r7 #6): the s20 lifecycle
      // (append + UPDATE + DELETE), drained via readStream
      // .format("graft-delta") with readChangeFeed. Only per-batch
      // PARTIAL aggregates cross the driver (<= 4 rows per commit);
      // the recombined totals must equal the batch change feed from
      // scratch — v0's rows as inserts plus the update/delete images.
      val dir = scratch("s29_stream_cdf")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val cp = s"$dir/_checkpoint"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s, src, table, Seq("l_returnflag"))
      graft.io.MiniDelta.update(s, table, col("l_quantity") === 1,
        Map("l_extendedprice" -> lit(0.0)), Seq("l_returnflag"))
      graft.io.MiniDelta.delete(s, table,
        col("l_quantity") === 2 && pmod(col("l_orderkey"), lit(3)) === 0,
        Seq("l_returnflag"))
      val parts = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Double, Long)]
      def drain(b: DataFrame, id: Long): Unit = {
        b.groupBy("_change_type")
          .agg(count(lit(1)),
            sum(round(col("l_extendedprice") * 100)),
            sum(col("l_quantity").cast("long")))
          .collect().foreach(r => parts += ((r.getString(0), r.getLong(1),
            r.getDouble(2), r.getLong(3))))
        ()
      }
      val q = s.readStream.format("graft-delta")
        .option("readChangeFeed", "true").load(table)
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch(drain _).start()
      try q.processAllAvailable() finally q.stop()
      import s.implicits._
      parts.toSeq.toDF("change_type", "n", "p", "qty")
        .groupBy("change_type")
        .agg(sum("n").as("n_rows"), (sum("p") / 100.0).as("sum_price"),
          sum("qty").as("sum_qty"))
        .orderBy("change_type")
    }),
    "s31_stream_sink" -> ((s, d) => {
      // The engine-managed streaming SINK driven at gate level: a
      // graft-delta source table streams INTO a second graft-delta
      // table (one versioned commit per micro-batch, Delta txn action
      // carrying the exactly-once watermark). The sink table read back
      // batch-side must equal the source subset — and a second drain
      // from the same checkpoint must append nothing.
      val dir = scratch("s31_stream_sink")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val srcT = s"$dir/src"
      val dstT = s"$dir/dst"
      val cp = s"$dir/_checkpoint"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      for (m <- 0 to 2)
        graft.io.MiniDelta.append(s,
          src.where(pmod(col("l_linenumber"), lit(3)) === m), srcT,
          Seq("l_returnflag"))
      def drainOnce(): Unit = {
        val q = s.readStream.format("graft-delta").load(srcT)
          .writeStream.format("graft-delta")
          .option("path", dstT)
          .option("checkpointLocation", cp)
          .option("txnAppId", "s31_sink")
          .partitionBy("l_returnflag")
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      drainOnce()
      drainOnce() // restart: watermark makes redelivery a no-op
      graft.io.MiniDelta.readFiltered(s, dstT, Seq.empty)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    "s11_vacuum" -> ((s, d) => {
      // VACUUM gate via a RAW directory scan: after append+append+
      // OPTIMIZE+vacuum, a plain parquet read of the table directory
      // (no log, underscore dirs skipped) must equal the source — it
      // can only do so if vacuum physically deleted the superseded
      // pre-compaction files (otherwise every row double-counts).
      val dir = scratch("s11_vacuum")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 0), table,
        Seq("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 1), table,
        Seq("l_returnflag"))
      graft.io.MiniDelta.compact(s, table, Seq("l_returnflag"))
      // LITE first (Delta 3.3's log-derived candidates — this is what
      // physically deletes the superseded files, making LITE itself
      // load-bearing for the raw-scan equality below), then FULL,
      // which must find nothing more (the listing sees only live
      // files; any residue would double-count rows and fail the gate).
      // LITE's delete count is ASSERTED non-zero: without it the gate
      // would still pass if LITE silently deleted nothing and FULL
      // mopped up — the composition would prove FULL, not LITE.
      val liteDeleted = graft.io.MiniDelta.vacuum(s, table, lite = true)
      require(liteDeleted.nonEmpty,
        "s11_vacuum: VACUUM LITE deleted no files — the raw-scan " +
          "equality below would be FULL's work, not LITE's")
      val fullDeleted = graft.io.MiniDelta.vacuum(s, table)
      require(fullDeleted.isEmpty,
        s"s11_vacuum: FULL vacuum found ${fullDeleted.size} files LITE " +
          "missed — LITE's log-derived candidate set is incomplete")
      s.read.parquet(table)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    "w4_pagination" -> ((s, d) =>
      ObjectListing.page(files(s, d), 100, 3)
        .withColumn("rn", col("rn").cast("long")).orderBy("key")),
    "s3_list_truncation" -> ((s, d) => {
      // W4 continuation-token emit: IsTruncated + NextContinuationToken
      // (last key of the page) exactly as ListObjectsV2 renders them
      // (/root/reference/src/main.rs:255-257,281-284).
      val page = ObjectListing.list(files(s, d),
        "lineitem/l_returnflag=R/", None, 100)
      page.agg(count(lit(1)).as("key_count"),
        (count(lit(1)) === 100).as("is_truncated"),
        max(col("key")).as("next_continuation_token"))
    }),
    "s7_ranged_read" -> ((s, d) => {
      // S7 ranged GET: byte-range slice of the object content
      // (/root/reference/src/main.rs:721-725): bytes=a-b inclusive.
      val start = pmod(col("doc_id") * 7, lit(40))
      val len = pmod(col("doc_id"), lit(20)) + 5
      docs(s, d).select(col("doc_id"),
        start.as("range_start"), len.as("range_len"),
        col("text").substr((start + 1).cast("int"), len.cast("int"))
          .as("chunk"))
        .orderBy("doc_id")
    }),
    "s6_get_mode" -> ((s, d) => {
      // the reference's GET dispatch (src/main.rs:596-633): proxy mode
      // streams; presignedUrl mode redirects; ranged requests under
      // proxyPartial are proxied, otherwise presigned-with-range.
      val f = files(s, d)
      val reqs = f.select(col("key"),
        (pmod(col("size"), lit(3)) === 0).as("ranged"),
        when(pmod(col("size"), lit(2)) === 0, "proxy")
          .otherwise("presignedUrl").as("get_mode"),
        (pmod(col("size"), lit(5)) === 0).as("proxy_partial"))
      reqs.withColumn("action",
          when(col("get_mode") === "proxy", "STREAM_PROXY")
            .when(col("ranged") && col("proxy_partial"), "STREAM_PROXY_RANGE")
            .when(col("ranged"), "REDIRECT_PRESIGNED_RANGE")
            .otherwise("REDIRECT_PRESIGNED"))
        .groupBy("get_mode", "ranged", "proxy_partial", "action")
        .agg(count(lit(1)).as("n"))
        .orderBy("get_mode", "ranged", "proxy_partial")
    }),
    "p8_routing" -> ((s, d) => {
      // P8 path-class routing + F4 alias/rest split
      // (/root/reference/src/main.rs:498-538): trailing '/' or empty =>
      // LIST; _delta_log prefix after the alias => log passthrough;
      // otherwise data GET.
      val paths = files(s, d).select(col("key")).orderBy("key").limit(50)
        .union(s.range(1).select(lit("lineitem/").as("key")))
        .union(s.range(1).select(
          lit("lineitem/_delta_log/00000000000000000000.json").as("key")))
      paths.select(col("key").as("path"),
        StringFns.pathAlias(col("path")).as("alias"),
        StringFns.pathRest(col("path")).as("rest"))
        .withColumn("route",
          when(col("path").endsWith("/"), "LIST")
            .when(col("rest").startsWith("_delta_log/"), "LOG_PASSTHROUGH")
            .otherwise("DATA_GET"))
        .orderBy("path")
    }))

  private val aclQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p3_acl_allow" -> ((s, d) =>
      PartitionAcl(li(s, d), AclAllowRfNo)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),
    "p4_acl_allowed_files" -> ((s, d) =>
      PartitionAcl.allowedFiles(files(s, d), AclAllow)
        .select("key").orderBy("key").limit(200)),
    "p6_acl_denied" -> ((s, d) => {
      val f = files(s, d)
      PartitionAcl.denied(f.where(pmod(col("size"), lit(97)) === 0),
        PartitionAcl.allowedFiles(f, AclAllow))
        .select("key").orderBy("key")
    }),
    "p7_acl_empty_bypass" -> ((s, d) =>
      PartitionAcl(li(s, d), Seq(Map.empty, Map.empty))
        .agg(count(lit(1)).as("n"))),
    "j1_catalog_join" -> ((s, d) => {
      import s.implicits._
      val requests = Seq("lineitem", "orders", "no_such_table", "events")
        .toDF("alias")
      requests.join(broadcast(Catalog.forSf(d).toDF(s)), Seq("alias"), "left")
        .select(col("alias"),
          regexp_replace(col("physical_path"), "^.*/", "").as("file_name"),
          col("physical_path").isNotNull.as("found"))
        .orderBy("alias")
    }),
    "j2_allowed_semi" -> ((s, d) => {
      val f = files(s, d)
      PartitionAcl.authorize(f.where(pmod(col("size"), lit(53)) === 0),
        PartitionAcl.allowedFiles(f, AclAllow))
        .select("key").orderBy("key")
    }),
    "j3_perm_lookup" -> ((s, d) => {
      // J3: (user, table) keyed permission lookup as a two-column equi
      // join with JSON filter decode (/root/reference/src/database.rs:38-43).
      import s.implicits._
      val perms = Seq(
        (1, "alice", "lineitem", """[{"l_returnflag":"N"}]"""),
        (2, "alice", "orders", """[{"o_orderstatus":"F"},{"o_orderstatus":"O"}]"""),
        (3, "bob", "lineitem", """[{"l_returnflag":"A"}]"""),
        (4, "bob", "part", """[]"""))
        .toDF("id", "user_id", "table_name", "partition_filters")
      val requests = Seq(("alice", "lineitem"), ("alice", "orders"),
        ("bob", "lineitem"), ("carol", "lineitem"))
        .toDF("user_id", "table_name")
      requests.join(broadcast(PartitionAcl.parsePermissions(perms)),
          Seq("user_id", "table_name"), "left")
        .select(col("user_id"), col("table_name"),
          col("id").cast("long").as("perm_id"),
          size(col("filters")).cast("long").as("n_filters"))
        .orderBy("user_id", "table_name")
    }),
    "j5_db_permissions" -> ((s, d) => {
      // J3/J4 against a REAL database: permission rows live in an
      // embedded Derby DB (the reference's SQLite/sea-orm store,
      // reference src/database.rs:33-52) read by one parameterized
      // (user, table) query over JDBC on the driver, then merged with
      // the config statics and applied as a partition ACL — the full
      // config->DB->merge->prune chain.
      val cfg = graft.catalog.GraftConfig(
        databaseEnabled = true,
        database = graft.catalog.DatabaseConfig(derbyPermsFixture()),
        allowedPartitions = Map("lineitem" ->
          Seq(Map("l_returnflag" -> "R", "l_linestatus" -> "F"))))
      // the gate must exercise the DB read, not a memo from a prior run
      graft.acl.DbPermissions.invalidate(cfg, "alice", "lineitem")
      val filters = graft.acl.DbPermissions
        .mergedFilters(s, cfg, "alice", "lineitem")
      PartitionAcl(li(s, d), filters)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "j4_perm_merge" -> ((s, d) => {
      import s.implicits._
      val perms = Seq(
        (1, "alice", "lineitem", """[{"l_returnflag":"N"}]"""),
        (2, "alice", "orders", """[{"o_orderstatus":"F"}]"""),
        (3, "bob", "lineitem", """[{"l_returnflag":"A"}]"""))
        .toDF("id", "user_id", "table_name", "partition_filters")
      val static = Seq(Map("l_returnflag" -> "R", "l_linestatus" -> "F"))
      val db = PartitionAcl.filtersFor(
        PartitionAcl.parsePermissions(perms), "alice", "lineitem")
      PartitionAcl(li(s, d), PartitionAcl.merge(static, db))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "u1_union_distinct" -> ((s, d) => {
      val f = files(s, d)
      val set1 = PartitionAcl.allowedFiles(f, Seq(Map("l_returnflag" -> "N")))
      val set2 = PartitionAcl.allowedFiles(f, AclAllowRfNo)
      set1.select("key", "size").union(set2.select("key", "size")).distinct()
        .agg(count(lit(1)).as("n_files"), sum(col("size")).as("total_size"))
    }))

  private val fnQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "f1_xml_escape" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        StringFns.xmlEscape(concat(lit("<doc id=\""),
          col("doc_id").cast("string"), lit("\">&'"),
          substring(col("text"), 1, 20), lit("'</doc>"))).as("escaped"))
        .orderBy("doc_id").limit(50)),
    "f2_extract_aws_user" -> ((s, d) =>
      ev(s, d).select(StringFns.extractAwsUser(
        concat(lit("AWS4-HMAC-SHA256 Credential=AKIA"),
          lpad(col("user_id").cast("string"), 6, "0"),
          lit("/20240101/us-east-1/s3/aws4_request"))).as("access_key"))
        .distinct().orderBy("access_key")),
    "f3_s3_uri_parse" -> ((s, d) => {
      val n = Tables.load(s, d, "nation")
      val uri = concat(lit("s3://bucket-"), col("n_regionkey").cast("string"),
        lit("/data/"), lower(col("n_name")), lit("/"))
      n.select(uri.as("uri"), StringFns.s3Bucket(uri).as("bucket"),
        StringFns.s3Prefix(uri).as("prefix")).orderBy("uri")
    }),
    "f5_key_rewrite" -> ((s, d) => {
      val base = "warehouse/abc123/"
      val phys = files(s, d).select("key").orderBy("key").limit(100)
        .withColumn("key", concat(lit(base), col("key")))
      ObjectListing.toLogical(phys, base, "trades")
        .select(col("key").as("logical_key"))
        .withColumn("physical_key",
          concat(lit(base), expr("substring(logical_key, 8)")))
        .orderBy("logical_key")
    }),
    "f6_query_decode" -> ((s, d) => {
      val qs = concat(lit("list-type=2&prefix="), col("l_returnflag"),
        lit("/f&max-keys="), col("l_linenumber").cast("string"))
      // distinct on the raw string FIRST (the derived params are pure
      // functions of it) — parses 21 rows instead of 600k; measured 33x
      // faster than parse-then-distinct.
      li(s, d).select(qs.as("qs")).distinct()
        .withColumn("prefix_param", StringFns.queryParam(col("qs"), "prefix"))
        .withColumn("max_keys",
          StringFns.tryInt(StringFns.queryParam(col("qs"), "max-keys"))
            .cast("long"))
        .orderBy("qs")
    }),
    "f8_timestamp_format" -> ((s, d) =>
      Tables.load(s, d, "orders")
        .select(col("o_orderdate")).distinct()
        .select(col("o_orderdate"),
          StringFns.s3Timestamp(col("o_orderdate")).as("s3_ts"),
          StringFns.httpDate(col("o_orderdate")).as("http_date"))
        .orderBy("o_orderdate").limit(100)),
    "f10_presign_detect" -> ((s, d) => {
      val url = concat(lit("https://s3.example/"), col("key"),
        when(pmod(col("size"), lit(2)) === 0,
          lit("?X-Amz-Signature=abc")).otherwise(lit("")))
      files(s, d).select(StringFns.isPresigned(url).as("presigned"))
        .groupBy("presigned").agg(count(lit(1)).as("n")).orderBy("presigned")
    }),
    "f12_xml_render" -> ((s, d) => {
      // F12: ListObjectsV2 <Contents> rendering with XML escaping
      // (/root/reference/src/main.rs:267-319) — output formatting as a
      // pure string projection.
      val f = files(s, d).orderBy("key").limit(100)
      f.select(col("key"),
        concat(lit("<Contents><Key>"), StringFns.xmlEscape(col("key")),
          lit("</Key><Size>"), col("size").cast("string"),
          lit("</Size><ETag>&quot;"), col("etag"),
          lit("&quot;</ETag><StorageClass>"), col("storage_class"),
          lit("</StorageClass></Contents>")).as("xml"))
        .orderBy("key")
    }),
    "f13_f14_keys_ranges" -> ((s, d) => {
      val e = ev(s, d)
      val range = concat(lit("bytes="),
        pmod(col("event_id"), lit(1000)).cast("string"),
        lit("-"), (pmod(col("event_id"), lit(1000)) + 99).cast("string"))
      e.select(
        StringFns.cacheKey(concat(lit("u"), col("user_id").cast("string")),
          col("event_type")).as("cache_key"),
        range.as("range_header"),
        StringFns.rangeStart(range).as("range_start"),
        StringFns.rangeEnd(range).as("range_end"),
        StringFns.rangeLen(range).as("range_len"))
        .distinct().orderBy("cache_key", "range_header").limit(500)
    }))

  private val aggQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a1_request_counters" -> ((s, d) => Metrics.counters(ev(s, d))),
    "a2_distinct_users_minute" -> ((s, d) =>
      Metrics.distinctUsersPerMinute(ev(s, d))),
    "a3_avg_latency_minute" -> ((s, d) =>
      Metrics.avgLatencyPerMinute(ev(s, d))),
    "a4_avg_size_minute" -> ((s, d) =>
      // A4: average message size per minute (size derived as in a5).
      ev(s, d)
        .withColumn("size_bytes", col("event_id") % 4096 + 128)
        .groupBy(window(col("ts"), "1 minute"))
        .agg((sum(col("size_bytes")) / count(lit(1))).as("avg_size_bytes"))
        .select(col("window.start").as("window_start"),
          col("avg_size_bytes"))
        .orderBy("window_start")),
    "a5_metrics_minute" -> ((s, d) => Metrics.perMinute(ev(s, d))),
    "a7_key_count_pages" -> ((s, d) =>
      // A7: per-page key counts over the ordered listing (the KeyCount
      // field of each ListObjectsV2 page, src/main.rs:279). Numbering
      // runs distributed (GlobalRowNumber: range partition + offsets) —
      // the single-partition Window.orderBy this replaced was the one
      // WindowExec-No-Partition plan left in a shipped query.
      graft.operators.GlobalRowNumber(
        files(s, d).select(col("key")), Seq(col("key")))
        .withColumn("page", expr("((rn - 1) div 1000) + 1").cast("long"))
        .groupBy("page").agg(count(lit(1)).as("key_count"))
        .orderBy("page")),
    "q1_pricing_summary" -> ((s, d) =>
      li(s, d)
        .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0)
            .as("sum_base_price"),
          (sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 10000)) / 10000.0).as("sum_disc_price"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q5_nation_volume" -> ((s, d) => {
      // Deep join tree (6 tables): Catalyst reorders + broadcasts the
      // dimension chain; revenue is an exact grid sum.
      val r = Tables.load(s, d, "region").where(col("r_name") === "ASIA")
      val n = Tables.load(s, d, "nation")
      val c = Tables.load(s, d, "customer")
      val sup = Tables.load(s, d, "supplier")
      val o = Tables.load(s, d, "orders")
        .where(col("o_orderdate") >= to_timestamp(lit("1994-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
      val l = li(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg((sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 10000)) / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    "a10_rollup" -> ((s, d) =>
      // multi-dimensional aggregation with subtotal rows (ROLLUP):
      // (event_type, user bucket) -> per-cell, per-type, grand total.
      // Spark plans this as a single Expand + hash aggregate.
      ev(s, d)
        .withColumn("user_bucket", pmod(col("user_id"), lit(10)))
        .rollup("event_type", "user_bucket")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100)) / 100.0).as("sum_value"))
        .orderBy(col("event_type").asc_nulls_first,
          col("user_bucket").asc_nulls_first)),
    "a11_cube" -> ((s, d) =>
      // full CUBE: every subtotal combination incl. per-bucket-only
      // marginals (which ROLLUP lacks) — one Expand + hash aggregate,
      // 4 grouping sets from one scan
      ev(s, d)
        .withColumn("user_bucket", pmod(col("user_id"), lit(10)))
        .cube("event_type", "user_bucket")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100)) / 100.0).as("sum_value"))
        .orderBy(col("event_type").asc_nulls_first,
          col("user_bucket").asc_nulls_first)),
    "a12_pivot" -> ((s, d) =>
      // pivot (long->wide): per-user-bucket event counts, one column
      // per event class. Explicit value list keeps the plan a single
      // pass (no distinct-values pre-query) and the schema stable.
      ev(s, d)
        .withColumn("user_bucket", pmod(col("user_id"), lit(10)))
        .groupBy("user_bucket")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_bucket")),
    "a13_unpivot" -> ((s, d) => {
      // unpivot (wide->long, melt): the pivoted counts back to
      // (bucket, event_type, n) rows — zeros included, so the pair
      // grid is complete
      val types = Seq("click", "error", "purchase", "signup", "view")
      ev(s, d)
        .withColumn("user_bucket", pmod(col("user_id"), lit(10)))
        .groupBy("user_bucket").pivot("event_type", types)
        .agg(count(lit(1))).na.fill(0L)
        .unpivot(Array(col("user_bucket")), types.map(col).toArray,
          "event_type", "n")
        .orderBy("user_bucket", "event_type")
    }),
    "a9_latency_quantiles" -> ((s, d) =>
      // exact p50/p90/p99 per event class (oracle-matched); the
      // executable 100 TB path is latencyQuantiles(approx = true) —
      // one-pass mergeable quantile sketch instead of a per-group sort.
      Metrics.latencyQuantiles(ev(s, d))),
    "a8_sessionization" -> ((s, d) =>
      // gap-based sessions (30 min): per-user session/event counts —
      // one shuffle on user_id, stacked windows, integer-exact.
      Metrics.sessionStats(ev(s, d), gapSeconds = 1800)),
    "t5_vocab_topk" -> ((s, d) =>
      TextAnalysis.vocabTopK(docs(s, d), 50)
        .select(col("token"), col("n_docs"), col("n_total"))),
    "t8_pii_redact" -> ((s, d) => {
      // PII scrubbing over synthesized-from-fixture log lines (emails,
      // IPs, ids derived deterministically from events columns). The
      // oracle applies the identical three-pass regex chain, so the
      // redacted STRINGS hash-compare — not just counts.
      val line = concat(
        col("event_type"), lit(" user="), col("user_id").cast("string"),
        lit(" ip=10.0."), pmod(col("user_id"), lit(256L)).cast("string"),
        lit("."), pmod(col("event_id"), lit(256L)).cast("string"),
        lit(" mail=u"), col("user_id").cast("string"),
        lit("@example.com "), col("props"))
      ev(s, d).where(col("event_id") < 300)
        .select(col("event_id"),
          TextAnalysis.redactPii(line).as("redacted"))
        .orderBy("event_id")
    }),
    "t9_source_overlap" -> ((s, d) =>
      // cross-source duplicate matrix (diagonal = per-source distinct
      // fingerprints)
      TextAnalysis.sourceOverlap(docs(s, d))
        .orderBy("source_a", "source_b")),
    "pipe4_token_shards" -> ((s, d) =>
      // fixed token-budget shard packing via the distributed prefix
      // sum; per-shard doc/token totals
      TextAnalysis.packShards(docs(s, d), 2000L)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("shard")),
    "pipe5_quality_cut" -> ((s, d) =>
      // percentile quality gate: top 70% per language, then per-language
      // survivor stats
      TextAnalysis.qualityCut(docs(s, d), 0.7)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("sum_tokens"),
          (sum(round(col("quality_score") * 10000)) / 10000.0)
            .as("sum_score"))
        .orderBy("lang")),
    "sim_funnel_topk" -> ((s, d) =>
      // two-stage retrieval: int8 candidates (25) -> exact cosine
      // rerank (5); both stages deterministic, so engine-exact
      Similarity.funnelTopK(emb(s, d),
        pmod(col("vec_id"), lit(100)) === 0, 25, 5)),
    "pipe6_temperature_mix" -> ((s, d) => {
      // temperature-rebalanced corpus: keep rate ∝ count^(alpha-1),
      // largest source anchored at 50% — downsample the head, keep the
      // tail — then the deterministic hash-bucket mix
      val w = TextAnalysis.temperatureWeights(docs(s, d), "source",
        alpha = 0.5, maxPct = 50)
      TextAnalysis.weightedMix(docs(s, d), "source", w)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("first_kept"))
        .orderBy("source")
    }),
    "pipe7_stratified_sample" -> ((s, d) =>
      // exact-N balanced sample: deterministic md5 order, exactly
      // min(10, |source|) docs per source; the kept IDs themselves are
      // the gate (hash-compared), not just counts
      TextAnalysis.stratifiedSample(docs(s, d), "source", 10)
        .select("source", "doc_id").orderBy("source", "doc_id")),
    "pipe8_dsir_sample" -> ((s, d) =>
      // DSIR data selection: src0 is the target domain; the 50 raw docs
      // whose unigram distribution best matches it win (log-likelihood
      // ratio, add-1 smoothing, length-normalized)
      TextAnalysis.dsirSample(docs(s, d), col("source") === "src0", 50)),
    "t12_chunk_scrub" -> ((s, d) =>
      // corpus-level duplicated-chunk removal with reassembly: only the
      // FIRST occurrence of each 10-token chunk survives anywhere; the
      // scrubbed texts themselves are the gate (md5-compared)
      TextAnalysis.chunkScrub(docs(s, d))),
    "t13_dup_spans" -> ((s, d) =>
      // exact-substring-dedup signal: per doc, the longest run of
      // consecutive 5-grams that occur elsewhere in the corpus
      TextAnalysis.dupSpans(docs(s, d), n = 5)),
    "pipe9_scrub_select_pack" -> ((s, d) => {
      // this round's operators composed end to end: boilerplate gate
      // (duplicated-span filter) -> DSIR domain selection -> token-
      // budget shard packing; per-shard stats are the gate
      val all = docs(s, d)
      // the dupSpans gram gate is the expensive stage, and the DSIR
      // selection below traverses its output 3-4 times (target/rest
      // vocab branches, the broadcast materialization, the scoring
      // pass). localCheckpoint the SURVIVOR IDS — doc_id only,
      // metadata-scale even at 100 TB (one long per surviving doc,
      // ~1/10^6 of corpus bytes) — so the gram pass runs once PER
      // INVOCATION, not per traversal. Eager + per-invocation (unlike
      // the r13-r19 cross-call memo, removed as bench-flattering:
      // best-of-N minima excluded the gram pass after run 1): every
      // bench iteration pays the full honest cost, and the
      // checkpointed blocks are reclaimed by the ContextCleaner when
      // the frame goes out of scope.
      val keepIds = TextAnalysis.dupSpans(all, n = 5)
        .where(col("max_dup_span_words") < 12).select("doc_id")
        .localCheckpoint()
      val clean = all.join(keepIds, "doc_id")
      // materialize the SELECTED IDS too (n=100 rows — metadata-scale):
      // packShards' prefix sum traverses its input three times (the
      // range-partitioner sample pass + the partial-sum pass + the
      // numbering pass), and without this the whole DSIR scoring DAG
      // (two vocab shuffles + broadcast + TakeOrdered) re-executed per
      // traversal — measured 13 jobs / ~1.0 s inside prefixSum for a
      // 100-row input (guide §1.2: don't compute things twice).
      val selected = TextAnalysis
        .dsirSample(clean, col("source") === "src0", 100)
        .select("doc_id")
        .localCheckpoint()
      TextAnalysis.packShards(all.join(selected, "doc_id"), 2000L)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("shard")
    }),
    "t10_edit_distance" -> ((s, d) =>
      // fuzzy near-dup pairs by levenshtein over normalized 30-char
      // prefixes; the length-blocked join must equal the oracle's
      // all-pairs form exactly
      TextAnalysis.editDistancePairs(docs(s, d), prefixLen = 30,
        maxDist = 5).orderBy("id_a", "id_b")),
    "t7_tfidf" -> ((s, d) =>
      // per-doc keyword extraction: top-3 tokens by TF-IDF with the
      // rational (log-free, rank-identical, engine-exact) IDF.
      TextAnalysis.tfIdf(docs(s, d), 3)),
    "t6_repetition" -> ((s, d) =>
      // Gopher repetition filters: counts + ratios from ONE native
      // tokenization pass per doc — narrow projection, zero shuffle.
      TextAnalysis.repetitionStats(docs(s, d))),
    "d9_decontaminate" -> ((s, d) =>
      // eval-set decontamination: training docs sharing a word n-gram
      // with the held-out subset (doc_id % 97 == 0) — broadcast the
      // tiny eval shingle set, one narrow pass over the corpus. Real
      // corpora use n=8 (the API default); the fixtures are ~35-word
      // docs over a ~30-word vocabulary, where n=4 plays the same
      // "long verbatim overlap" role with a non-degenerate result.
      Dedup.decontaminate(docs(s, d),
        pmod(col("doc_id"), lit(97)) === 0, n = 4)),
    "pipe3_mix_dedup_stats" -> ((s, d) => {
      // the full training-data flow: weighted corpus mix -> exact
      // fingerprint dedup (keep min doc_id) -> per-language corpus
      // stats. Every stage is the already-oracled operator, composed.
      val mixed = TextAnalysis.weightedMix(docs(s, d), "lang",
        Map("en" -> 60, "de" -> 100, "es" -> 100, "fr" -> 100,
          "zh" -> 50))
      val keep = mixed
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
        .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val q = TextAnalysis.qualityScore(mixed)
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      mixed.join(keep, "doc_id").join(q, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("n_tokens_total"),
          round(sum(col("quality_score")) / count(lit(1)), 4)
            .as("avg_quality"))
        .orderBy("lang")
    }),
    "pipe2_weighted_mix" -> ((s, d) =>
      // corpus mixing: deterministic hash-bucket sampling with
      // per-language keep rates; counts audit the realized mix.
      TextAnalysis.weightedMix(docs(s, d), "lang",
          Map("en" -> 40, "de" -> 100, "es" -> 100, "fr" -> 100,
            "zh" -> 25))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("first_kept"))
        .orderBy("lang")),
    "w6_asof_join" -> ((s, d) => {
      // as-of join: each purchase enriched with the latest view AT OR
      // BEFORE it by the same user (point-in-time correctness — the
      // leak-free feature-generation primitive). Union + one
      // partitioned window, no range self-join.
      val e = ev(s, d)
      val purchases = e.where(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      val views = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value").as("view_value"), col("ts").as("view_ts"))
      graft.operators.AsOfJoin.lastPrior(purchases, views,
          keys = Seq("user_id"), tsCol = "ts", idCol = "event_id",
          rightVals = Seq("view_value", "view_ts"))
        .select(col("user_id"), col("event_id"), col("ts"),
          col("value"), col("asof_view_value"), col("asof_view_ts"))
        .orderBy("user_id", "event_id")
    }),
    "w7_range_join" -> ((s, d) => {
      // banded range join: purchase-view pairs by the same user within
      // 60 s of each other — equi-join on (user, band) + exact filter,
      // never a per-key cross product.
      val e = ev(s, d)
      val p = e.where(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
          col("event_id").as("purchase_id"))
      val v = e.where(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
          col("event_id").as("view_id"))
      graft.operators.RangeJoin.banded(p, v, Seq("user_id"),
          "t", "t", 60L * 1000 * 1000)
        .select(col("user_id"), col("purchase_id"), col("view_id"),
          (col("t") - col("t_right")).as("gap_us"))
        .orderBy("user_id", "purchase_id", "view_id")
    }),
    "w5_running_total" -> ((s, d) => {
      // Window functions: per-customer running total + rank over a total
      // order; the running sum is over grid-rounded integers, so every
      // prefix is exact on both engines.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      Tables.load(s, d, "orders")
        .where(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          (sum(round(col("o_totalprice") * 100))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)) / 100.0)
            .as("running_total"),
          row_number().over(w).cast("long").as("order_seq"))
        .orderBy("o_custkey", "o_orderkey")
    }),
    "w8_top_per_group" -> ((s, d) =>
      // grouped top-k: top-3 orders per status by price. The rank-filter
      // form compiles to WindowGroupLimitExec (bounded k-buffer per
      // group on BOTH sides of the one group-key shuffle — the grouped
      // TakeOrderedAndProject; plan asserted in spec).
      graft.operators.TopKPerGroup(
        Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice")),
        Seq(col("o_orderstatus")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .orderBy("o_orderstatus", "rk")),
    "t11_unigram_logprob" -> ((s, d) =>
      // CCNet-style corpus-LM quality signal: average unigram surprisal
      // per document (TextAnalysis.unigramLogProb)
      TextAnalysis.unigramLogProb(docs(s, d))),
    "q6_part_stats" -> ((s, d) =>
      Tables.load(s, d, "part")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"),
          countDistinct(col("p_type")).as("n_types"),
          (sum(round(col("p_retailprice") * 100)) / 100.0)
            .as("total_retail"),
          min(col("p_size")).cast("long").as("min_size"),
          max(col("p_size")).cast("long").as("max_size"))
        .orderBy("p_brand")),
    "q3_top_revenue" -> ((s, d) => {
      val c = Tables.load(s, d, "customer")
        .where(col("c_mktsegment") === "BUILDING")
      val o = Tables.load(s, d, "orders")
        .where(col("o_orderdate") < to_timestamp(lit("1995-03-15 00:00:00")))
      val l = li(s, d)
        .where(col("l_shipdate") > to_timestamp(lit("1995-03-15 00:00:00")))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey")
        .agg((sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 10000)) / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }))

  private val llmQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_dedup_exact" -> ((s, d) => Dedup.exact(docs(s, d))),
    "d6_chunk_dedup" -> ((s, d) => Dedup.chunkDedup(docs(s, d), k = 10)),
    "d8_minhash_estimate" -> ((s, d) => Dedup.minhashEstimate(docs(s, d))),
    "d7_neardup_clusters" -> ((s, d) =>
      // dedup finisher: minhash-LSH pairs -> connected components ->
      // (doc, canonical cluster id). A pairwise list alone cannot pick
      // one keeper per duplicate GROUP; the components can.
      Dedup.connectedComponents(Dedup.minhashLsh(docs(s, d)))),
    "d2_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(docs(s, d))),
    "d3_simhash" -> ((s, d) => Dedup.simhash(docs(s, d))),
    "d4_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardAuto(docs(s, d))),
    "d5_embedding_neardup" -> ((s, d) =>
      Similarity.cellNearDup(emb(s, d), 0.35)),
    "sim_lsh_buckets" -> ((s, d) =>
      // the similarity-search scale path: deterministic sign-LSH bucket
      // ids (8 pseudo-hyperplanes) — at 100 TB candidate generation is
      // bucket-local instead of all-pairs.
      emb(s, d).select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), 64, 8).as("bucket"))
        .orderBy("vec_id")),
    "sim_lsh_neardup" -> ((s, d) =>
      // end-to-end LSH near-dup: bucket by sign-LSH, exact cosine only
      // within buckets, rounded threshold — the full scale path.
      Similarity.lshNearDup(emb(s, d), dim = 64, planes = 8,
        threshold = 0.2)),
    "sim_topk_cosine" -> ((s, d) =>
      Similarity.bruteForceTopK(emb(s, d), pmod(col("vec_id"), lit(100)) === 0, 10)
        .withColumn("rk", col("rk").cast("long"))),
    "sim_quantized_topk" -> ((s, d) =>
      // int8 scalar-quantized ANN: 4x smaller vectors, integer dots —
      // the bandwidth-bound first funnel stage at 100 TB.
      Similarity.quantizedTopK(emb(s, d),
        pmod(col("vec_id"), lit(100)) === 0, 10)),
    "d12_kmeans_cells" -> ((s, d) => {
      // TRAINED coarse quantizer end to end: one Lloyd iteration from
      // the fixed init (vec_id < 8), means and distances rounded to 4
      // decimals (the repo's cross-engine-exact rule), then a full
      // nearest-centroid assignment under the trained centroids.
      // Gate output: cell census (count + id-sum), which pins every
      // single assignment.
      import s.implicits._
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      val trained = Similarity.kmeansCentroids(e, k = 8, iters = 1,
        roundDecimals = 4)
      Similarity.assignCells(e, trained.toDF("cent_id", "cv"),
        roundDecimals = 4)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("sum_ids"))
        .orderBy("cell")
    }),
    "sim_ivf_topk" -> ((s, d) =>
      // IVF ANN: fixed-seed coarse quantizer (8 cells), probe the 3
      // nearest cells per query, exact top-5 within probed cells only.
      Similarity.ivfTopK(emb(s, d), pmod(col("vec_id"), lit(100)) === 0,
        k = 8, nprobe = 3, topk = 5)),
    "d10_semdedup" -> ((s, d) =>
      // SemDeDup: coarse-cluster the embedding space (10 cells), drop
      // within-cluster semantic near-duplicates (cos >= 0.30, keep the
      // smallest id); per-cluster total vs survivor counts.
      Similarity.semDedup(emb(s, d), k = 10, threshold = 0.30)),
    "d11_bloom_decontaminate" -> ((s, d) =>
      // decontamination at eval-set scale: bloom prefilter (merged
      // sketch broadcast, codegen'd might_contain probe) then an exact
      // verify join — result identical to the exact path by design
      Dedup.bloomDecontaminate(docs(s, d),
        pmod(col("doc_id"), lit(89)) === 0, n = 4)),
    "t1_langid" -> ((s, d) =>
      TextAnalysis.languageId(docs(s, d))
        .withColumn("stopword_hits", col("stopword_hits").cast("long"))
        .orderBy("doc_id")),
    "t2_quality_score" -> ((s, d) =>
      TextAnalysis.qualityScore(docs(s, d))
        .withColumn("n_chars_m", col("n_chars_m").cast("long"))
        .withColumn("n_tokens", col("n_tokens").cast("long"))
        .orderBy("doc_id")),
    "t3_token_count" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.regexTokenCount(col("text")).cast("long")
          .as("n_regex_tokens"))
        .orderBy("doc_id")),
    "t4_fingerprint" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"),
        TextAnalysis.rollingHash(col("text")).as("rolling_hash"))
        .orderBy("doc_id")),
    "pipe1_clean_corpus" -> ((s, d) => {
      // composite training-data pipeline: quality filter -> fingerprint
      // dedup (keep min doc_id) -> predicted-language distribution.
      val q = TextAnalysis.qualityScore(docs(s, d))
        .where(col("quality_score") >= 0.88 && col("n_tokens") >= 20)
        .select("doc_id")
      val kept = docs(s, d).join(q, "doc_id")
      val deduped = kept
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
        .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val survivors = docs(s, d).join(broadcast(deduped), "doc_id")
      TextAnalysis.languageId(survivors)
        .groupBy(col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("predicted")
    }),
    "m2_multimodal_hist" -> ((s, d) =>
      // feature extraction over opaque binary payloads: sparse 16-bin
      // byte histogram, one native pass per payload, no row explosion
      // until the (tiny) bin output.
      Multimodal.featureHistogram(docs(s, d))),
    "m3_resize_frames" -> ((s, d) => {
      // resize-to-fit dims + sampled-frame count per payload, integer
      // arithmetic only (the codec handoff surface of a real build).
      val m = Multimodal.metaExpr(docs(s, d))
      val (rw, rh) = Multimodal.resizeDims(col("width"), col("height"), 48)
      val sampled = Multimodal.sampleFrames(docs(s, d), 2)
        .groupBy("doc_id").agg(count(lit(1)).as("n_sampled"))
      m.select(col("doc_id"), rw.as("fit_w"), rh.as("fit_h"))
        .join(sampled, "doc_id")
        .orderBy("doc_id")
    }),
    "m1_multimodal_meta" -> ((s, d) => {
      val m = Multimodal.metaExpr(docs(s, d))
      m.select(col("doc_id"), col("n_bytes"), col("sha"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_frames").cast("long").as("n_frames"))
        .orderBy("doc_id")
    }))

  /** SQL front door (the reference's actual client contract: callers
    * address tables by catalog alias, never physical path —
    * /root/reference/src/config.rs:7, src/main.rs:503-512). Each gate
    * goes through `spark.sql` over `graft.<alias>` identifiers, so
    * [[graft.plans.GraftSqlRule]] (injected by GraftExtensions in
    * Verify/Bench) is on the hot path end to end: resolution, time
    * travel, INSERT alignment, write contract. */
  private val sqlQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_select" -> ((s, d) => {
      // alias-addressed SELECT over a governed (MiniDelta) table with a
      // partition predicate — resolution + snapshot read + pruning
      val dir = scratch("sql_select")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s, src, table, Seq("l_returnflag"))
      graft.plans.GraftSqlTables.register("sql_select_trades", table)
      s.sql("""
        SELECT l_returnflag, count(*) AS n_rows,
               sum(round(l_extendedprice * 100)) / 100.0 AS sum_price,
               sum(CAST(l_quantity AS BIGINT)) AS sum_qty
        FROM graft.datalake.sql_select_trades
        WHERE l_returnflag IN ('N', 'R')
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),
    "sql_time_travel" -> ((s, d) => {
      // VERSION AS OF through SQL: v0 = even line numbers, v1 adds odd;
      // the current read and the pinned read disagree by exactly the
      // second commit
      val dir = scratch("sql_tt")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 0), table,
        Seq("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 1), table,
        Seq("l_returnflag"))
      graft.plans.GraftSqlTables.register("sql_tt_trades", table)
      s.sql("""
        SELECT 'current' AS snap, count(*) AS n_rows,
               sum(CAST(l_quantity AS BIGINT)) AS sum_qty
        FROM graft.sql_tt_trades
        UNION ALL
        SELECT 'v0' AS snap, count(*) AS n_rows,
               sum(CAST(l_quantity AS BIGINT)) AS sum_qty
        FROM graft.sql_tt_trades VERSION AS OF 0
        ORDER BY snap""")
    }),
    "sql_create" -> ((s, d) => {
      // SQL DDL round trip: CREATE TABLE (empty v0 with declared schema
      // + partition layout, alias registered writable) -> INSERT ->
      // CTAS off the new table -> SELECT. The reference has no DDL
      // (tables are config-registered, config.rs:7); this is the
      // minute-one extension surface for a SQL-first user.
      val dir = scratch("sql_create")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      graft.plans.GraftSqlTables.unregister("sql_cr_trades")
      graft.plans.GraftSqlTables.unregister("sql_cr_r")
      graft.plans.GraftSqlTables.register("sql_cr_src",
        Tables.path(d, "lineitem"))
      s.sql(s"""CREATE TABLE graft.sql_cr_trades
        (l_orderkey BIGINT, l_linenumber BIGINT, qty BIGINT,
         l_returnflag STRING)
        PARTITIONED BY (l_returnflag) LOCATION '$dir/trades'""")
      s.sql("""
        INSERT INTO graft.sql_cr_trades
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS BIGINT) AS qty, l_returnflag
        FROM graft.datalake.sql_cr_src
        WHERE l_quantity <= 2""")
      s.sql(s"""CREATE TABLE graft.sql_cr_r
        PARTITIONED BY (l_returnflag) LOCATION '$dir/r'
        AS SELECT l_orderkey, qty, l_returnflag FROM graft.sql_cr_trades
        WHERE l_returnflag = 'R'""")
      s.sql("""
        SELECT t.l_returnflag, count(*) AS n_rows, sum(t.qty) AS sum_qty,
               max(r.n_r) AS n_r
        FROM graft.sql_cr_trades t
        CROSS JOIN (SELECT count(*) AS n_r FROM graft.sql_cr_r) r
        GROUP BY t.l_returnflag ORDER BY t.l_returnflag""")
    }),
    "sql_alter" -> ((s, d) => {
      // ALTER TABLE ADD COLUMNS: one metadata commit; pre-evolution
      // rows read the new column as null, post-evolution inserts carry
      // it — the null/filled split is the oracle's discriminator.
      val dir = scratch("sql_alter")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      graft.plans.GraftSqlTables.unregister("sql_alt_trades")
      graft.plans.GraftSqlTables.register("sql_alt_src",
        Tables.path(d, "lineitem"))
      s.sql(s"""CREATE TABLE graft.sql_alt_trades
        (l_orderkey BIGINT, qty BIGINT, l_returnflag STRING)
        PARTITIONED BY (l_returnflag) LOCATION '$dir/trades'""")
      s.sql("""
        INSERT INTO graft.sql_alt_trades
        SELECT l_orderkey, CAST(l_quantity AS BIGINT), l_returnflag
        FROM graft.datalake.sql_alt_src
        WHERE l_quantity = 1""")
      s.sql("ALTER TABLE graft.sql_alt_trades ADD COLUMNS (src STRING)")
      s.sql("""
        INSERT INTO graft.sql_alt_trades
        SELECT l_orderkey, CAST(l_quantity AS BIGINT), l_returnflag,
               'evolved'
        FROM graft.datalake.sql_alt_src
        WHERE l_quantity = 2""")
      // r18 metadata verbs, each ONE commit with zero data movement:
      // COMMENT, declaration-order FIRST/AFTER, DROP NOT NULL — the
      // final aggregate reading identically afterwards (plus the
      // verbs_ok schema pin) IS the proof the alters were
      // metadata-only and order is name-resolved
      s.sql("ALTER TABLE graft.sql_alt_trades ALTER COLUMN qty " +
        "COMMENT 'line quantity'")
      s.sql("ALTER TABLE graft.sql_alt_trades ALTER COLUMN src FIRST")
      s.sql("ALTER TABLE graft.sql_alt_trades ALTER COLUMN src " +
        "AFTER qty")
      s.sql("ALTER TABLE graft.sql_alt_trades ALTER COLUMN qty " +
        "DROP NOT NULL")
      graft.io.MiniDelta.invalidateSnapshot(s"$dir/trades")
      val altSch = graft.io.MiniDelta.latestSchema(s, s"$dir/trades").get
      val verbsOk =
        altSch.fieldNames.toSeq ==
          Seq("l_orderkey", "qty", "src", "l_returnflag") &&
        altSch("qty").metadata.getString("comment") == "line quantity" &&
        altSch("qty").nullable
      s.sql("""
        SELECT l_returnflag, coalesce(src, 'legacy') AS src,
               count(*) AS n_rows, sum(qty) AS sum_qty
        FROM graft.sql_alt_trades
        GROUP BY l_returnflag, src ORDER BY l_returnflag, src""")
        .withColumn("verbs_ok", lit(if (verbsOk) 1L else 0L))
    }),
    "sql_replace_columns" -> ((s, d) => {
      // ALTER TABLE REPLACE COLUMNS end to end (r19 — the verb's
      // oracle surface) on a column-mapped + CDF + PARTITIONED table:
      // one metadata commit re-declares the top-level list — 'note'
      // DROPS (metadata-only; mapping keeps its bytes dark), 'tag'
      // ADDS (fresh physical name, nullable), survivors REORDER,
      // re-comment, and keep their physicalName — so every
      // pre-replace file keeps serving the surviving columns' bytes.
      // The final aggregate reads REAL pre-replace qty/okey values
      // through the post-replace schema: that working at all IS the
      // physical-name-stability proof (a re-stamped name would read
      // those columns as null). Composition pins fold into the row:
      //   order_ok      — declared order is the restated list,
      //                   survivors kept physicalName, the comment
      //                   landed, 'note' is gone;
      //   tt_ok         — VERSION AS OF 1 time travel renders the
      //                   PRE-replace schema ('note' present+filled);
      //   cdf_refuse_ok — table_changes ACROSS the replace boundary
      //                   refuses loudly (rendering under the
      //                   post-drop schema would silently omit
      //                   'note's data — delta-spark blocks batch CDF
      //                   across mapping schema changes the same way);
      //   cdf_rows      — the post-replace era's feed renders fine.
      val dir = scratch("sql_rc")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.plans.GraftSqlTables.unregister("sql_rc_trades")
      graft.plans.GraftSqlTables.register("sql_rc_src",
        Tables.path(d, "lineitem"))
      s.sql(s"""
        CREATE TABLE graft.sql_rc_trades (okey BIGINT, qty BIGINT,
          note STRING, flag STRING)
        PARTITIONED BY (flag)
        TBLPROPERTIES ('delta.columnMapping.mode' = 'name',
          'delta.enableChangeDataFeed' = 'true')
        LOCATION '$table'""")
      s.sql("""
        INSERT INTO graft.sql_rc_trades
        SELECT l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty,
               'old' AS note, l_returnflag AS flag
        FROM graft.datalake.sql_rc_src WHERE l_quantity = 1""")
      graft.io.MiniDelta.invalidateSnapshot(table)
      val physBefore = graft.io.MiniDelta.latestSchema(s, table).get
        .fields.map(f => f.name -> f.metadata.getString(
          "delta.columnMapping.physicalName")).toMap
      s.sql("""ALTER TABLE graft.sql_rc_trades REPLACE COLUMNS
        (qty BIGINT, okey BIGINT COMMENT 'order key', tag STRING,
         flag STRING)""")
      s.sql("""
        INSERT INTO graft.sql_rc_trades
        SELECT CAST(l_quantity AS BIGINT) AS qty, l_orderkey AS okey,
               'post' AS tag, l_returnflag AS flag
        FROM graft.datalake.sql_rc_src WHERE l_quantity = 2""")
      graft.io.MiniDelta.invalidateSnapshot(table)
      val after = graft.io.MiniDelta.latestSchema(s, table).get
      val orderOk =
        after.fieldNames.toSeq == Seq("qty", "okey", "tag", "flag") &&
        Seq("qty", "okey", "flag").forall(c =>
          after(c).metadata.getString(
            "delta.columnMapping.physicalName") == physBefore(c)) &&
        after("okey").metadata.getString("comment") == "order key"
      val tt = s.sql("SELECT count(*) AS n, count(note) AS notes " +
        "FROM graft.sql_rc_trades VERSION AS OF 1").head()
      val ttOk = tt.getLong(0) > 0 && tt.getLong(1) == tt.getLong(0)
      val cdfRefuseOk =
        try {
          s.sql("SELECT * FROM table_changes('sql_rc_trades', 1, 3)")
            .count(); false
        } catch { case e: Throwable =>
          e.getMessage != null && e.getMessage.contains("DROPPED") }
      val cdfRows = s.sql(
        "SELECT count(*) FROM table_changes('sql_rc_trades', 3, 3)")
        .head().getLong(0)
      s.sql("""
        SELECT flag, coalesce(tag, 'legacy') AS src,
               count(*) AS n_rows, sum(qty) AS sum_qty
        FROM graft.sql_rc_trades
        GROUP BY flag, tag ORDER BY flag, src""")
        .withColumn("order_ok", lit(if (orderOk) 1L else 0L))
        .withColumn("tt_ok", lit(if (ttOk) 1L else 0L))
        .withColumn("cdf_refuse_ok", lit(if (cdfRefuseOk) 1L else 0L))
        .withColumn("cdf_rows", lit(cdfRows))
    }),
    "sql_insert" -> ((s, d) => {
      // INSERT INTO through SQL: first write creates the table
      // (positional), second appends BY NAME with shuffled column order;
      // the source is itself a graft alias (nested resolution inside the
      // insert's query). Aliases registered writable — the default
      // posture is the reference's read_only=true.
      val dir = scratch("sql_insert")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.plans.GraftSqlTables.register("sql_ins_trades", table,
        readOnly = false)
      graft.plans.GraftSqlTables.register("sql_ins_src",
        Tables.path(d, "lineitem"))
      s.sql("""
        INSERT INTO graft.sql_ins_trades
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS BIGINT) AS qty, l_returnflag
        FROM graft.datalake.sql_ins_src
        WHERE l_quantity <= 2 AND l_linenumber % 2 = 0""")
      s.sql("""
        INSERT INTO graft.sql_ins_trades BY NAME
        SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
               l_orderkey, l_linenumber
        FROM graft.datalake.sql_ins_src
        WHERE l_quantity <= 2 AND l_linenumber % 2 = 1""")
      s.sql("""
        SELECT l_returnflag, count(*) AS n_rows, sum(qty) AS sum_qty
        FROM graft.sql_ins_trades
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),
    "sql_delete_update" -> ((s, d) => {
      // SQL DML end to end: UPDATE zeroes prices where qty=1 (the RHS
      // and predicate see the pre-update row), DELETE removes a keyed
      // slice — both routed through the engine's copy-on-write DML
      // with the same write contract as the DataFrame path
      val dir = scratch("sql_du")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s, src, table, Seq("l_returnflag"))
      graft.plans.GraftSqlTables.register("sql_du_trades", table,
        readOnly = false)
      s.sql("""UPDATE graft.sql_du_trades SET l_extendedprice = 0.0D
        WHERE l_quantity = 1""")
      s.sql("""DELETE FROM graft.sql_du_trades
        WHERE l_quantity = 2 AND l_orderkey % 3 = 0""")
      s.sql("""
        SELECT l_returnflag, count(*) AS n_rows,
               sum(round(l_extendedprice * 100)) / 100.0 AS sum_price,
               sum(CAST(l_quantity AS BIGINT)) AS sum_qty
        FROM graft.sql_du_trades
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),
    "sql_merge" -> ((s, d) => {
      // SQL MERGE upsert: target = even line numbers; the source offers
      // EVERY row with even-line prices zeroed, so matched rows update
      // (prices drop to 0) and odd lines insert as-is. The source reads
      // a graft alias itself (nested resolution inside the command).
      // The synthetic lineitem is NOT key-unique on (orderkey,
      // linenumber), so both sides dedupe to one row per key first
      // (value-deterministic: ties order by every column).
      val dir = scratch("sql_merge")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_orderkey", "l_linenumber")
        .orderBy("l_quantity", "l_extendedprice", "l_returnflag")
      val base = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
      graft.io.MiniDelta.append(s,
        base.where(pmod(col("l_linenumber"), lit(2)) === 0), table,
        Seq("l_returnflag"))
      graft.plans.GraftSqlTables.register("sql_m_trades", table,
        readOnly = false)
      graft.plans.GraftSqlTables.register("sql_m_src",
        Tables.path(d, "lineitem"))
      s.sql("""
        MERGE INTO graft.sql_m_trades t USING (
          SELECT l_orderkey, l_linenumber, l_quantity,
                 CASE WHEN l_linenumber % 2 = 0 THEN 0.0D
                      ELSE l_extendedprice END AS l_extendedprice,
                 l_returnflag
          FROM (
            SELECT *, row_number() OVER (
                PARTITION BY l_orderkey, l_linenumber
                ORDER BY l_quantity, l_extendedprice, l_returnflag) AS rn
            FROM graft.sql_m_src WHERE l_quantity <= 2)
          WHERE rn = 1) s
        ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      s.sql("""
        SELECT l_returnflag, count(*) AS n_rows,
               sum(round(l_extendedprice * 100)) / 100.0 AS sum_price,
               sum(CAST(l_quantity AS BIGINT)) AS sum_qty
        FROM graft.sql_m_trades
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),
    "sql_call_lifecycle" -> ((s, d) => {
      // Lifecycle maintenance through SQL CALL procedures (Spark 4
      // ProcedureCatalog): append+append, then CALL graft.optimize and
      // CALL graft.vacuum. The readback is a RAW directory scan (no
      // log), which equals the source only if the compaction rewrote
      // the snapshot AND the vacuum physically deleted the superseded
      // files — the s11 proof shape, driven via SQL end to end.
      val dir = scratch("sql_call")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 0), table,
        Seq("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 1), table,
        Seq("l_returnflag"))
      graft.plans.GraftSqlTables.register("sql_call_trades", table,
        readOnly = false)
      s.sql("CALL graft.optimize('sql_call_trades')")
      s.sql("CALL graft.vacuum('sql_call_trades', 0)")
      s.read.parquet(table)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    "sql_insert_overwrite" -> ((s, d) => {
      // the full SQL write lifecycle: create (positional), append with
      // an explicit column list, then INSERT OVERWRITE replaces the
      // whole snapshot — the readback must see ONLY the overwrite's rows
      val dir = scratch("sql_overwrite")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.plans.GraftSqlTables.register("sql_ovr_trades", table,
        readOnly = false)
      graft.plans.GraftSqlTables.register("sql_ovr_src",
        Tables.path(d, "lineitem"))
      s.sql("""
        INSERT INTO graft.sql_ovr_trades
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS BIGINT) AS qty, l_returnflag
        FROM graft.sql_ovr_src
        WHERE l_quantity <= 2 AND l_linenumber % 2 = 0""")
      s.sql("""
        INSERT INTO graft.sql_ovr_trades
          (l_returnflag, qty, l_orderkey, l_linenumber)
        SELECT l_returnflag, CAST(l_quantity AS BIGINT),
               l_orderkey, l_linenumber
        FROM graft.sql_ovr_src
        WHERE l_quantity <= 2 AND l_linenumber % 2 = 1""")
      s.sql("""
        INSERT OVERWRITE graft.sql_ovr_trades
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS BIGINT) AS qty, l_returnflag
        FROM graft.sql_ovr_src
        WHERE l_quantity <= 2 AND l_returnflag = 'R'""")
      s.sql("""
        SELECT l_returnflag, count(*) AS n_rows, sum(qty) AS sum_qty
        FROM graft.sql_ovr_trades
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),
    "sql_show_partitions" -> ((s, d) => {
      // SHOW PARTITIONS through SQL: the distinct partition tuples of
      // the snapshot in Spark's `k=v` wire shape, sourced from log
      // metadata (never a directory walk — at 10^7 files this is a
      // metadata aggregate)
      val dir = scratch("sql_showpart")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      graft.io.MiniDelta.invalidateSnapshot(s"$dir/trades")
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
          col("l_linestatus"))
      graft.io.MiniDelta.append(s, src, table,
        Seq("l_returnflag", "l_linestatus"))
      graft.plans.GraftSqlTables.register("sql_sp_trades", table)
      s.sql("SHOW PARTITIONS graft.sql_sp_trades")
    }),
    "sql_tblproperties" -> ((s, d) => {
      // the DDL/introspection property round trip: CREATE TABLE with
      // TBLPROPERTIES (only delta.* keys are table config; Spark's
      // bookkeeping keys stay out of the log), read them back via
      // SHOW TBLPROPERTIES — full listing UNION the single-key lookup
      val dir = scratch("sql_tblprops")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      graft.io.MiniDelta.invalidateSnapshot(s"$dir/trades")
      graft.plans.GraftSqlTables.unregister("sql_tp_trades")
      s.sql(s"""
        CREATE TABLE graft.sql_tp_trades (id BIGINT, flag STRING)
        PARTITIONED BY (flag) LOCATION '$dir/trades'
        TBLPROPERTIES ('delta.appendOnly' = 'false',
                       'delta.dataSkippingNumIndexedCols' = '4')""")
      // the ALTER pair shapes the final state the oracle pins: SET adds
      // checkpointInterval, UNSET drops the create-time skipping knob
      s.sql("ALTER TABLE graft.sql_tp_trades SET TBLPROPERTIES " +
        "('delta.checkpointInterval' = '5')")
      s.sql("ALTER TABLE graft.sql_tp_trades UNSET TBLPROPERTIES " +
        "('delta.dataSkippingNumIndexedCols')")
      s.sql("""SHOW TBLPROPERTIES graft.sql_tp_trades""")
        .withColumn("via", lit("all"))
        .unionAll(
          s.sql("SHOW TBLPROPERTIES graft.sql_tp_trades " +
              "('delta.checkpointInterval')")
            .withColumn("via", lit("keyed")))
        .orderBy("via", "key")
    }),
    "sql_describe" -> ((s, d) => {
      // DESCRIBE TABLE through SQL on a partitioned governed table:
      // declared schema (latest metaData action) in Spark's
      // three-column shape plus the partition-information section
      val dir = scratch("sql_describe")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      graft.io.MiniDelta.invalidateSnapshot(s"$dir/trades")
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s, src, table, Seq("l_returnflag"))
      graft.plans.GraftSqlTables.register("sql_desc_trades", table)
      s.sql("DESCRIBE TABLE graft.datalake.sql_desc_trades")
    }),
    "s33_detail" -> ((s, d) => {
      // DESCRIBE DETAIL (CALL graft.detail): snapshot-level facts from
      // log metadata only — format, layout, file count (pinned: each
      // coalesce(1) append lands one file per partition value), LIVE
      // row count folded from per-file numRecords stats, protocol
      // floor. sizeInBytes is real but encoding-dependent, so the gate
      // projects it away.
      val dir = scratch("s33_detail")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      graft.io.MiniDelta.invalidateSnapshot(s"$dir/trades")
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 0).coalesce(1),
        table, Seq("l_returnflag"), statsCols = Seq("l_orderkey"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 1).coalesce(1),
        table, Seq("l_returnflag"), statsCols = Seq("l_orderkey"))
      graft.plans.GraftSqlTables.register("s33_trades", table)
      s.sql("CALL graft.detail('s33_trades')")
        .select(col("format"),
          array_join(col("partitionColumns"), ",").as("part_cols"),
          col("numFiles").as("num_files"), col("numRows").as("num_rows"),
          col("minReaderVersion").as("min_reader"),
          col("minWriterVersion").as("min_writer"))
    }),
    "sql_verbs_lifecycle" -> ((s, d) => {
      // The Delta SQL maintenance VERBS (injected parser, the
      // delta-spark mechanism) end to end: append+append, then
      // OPTIMIZE ... ZORDER BY and VACUUM ... RETAIN 0 HOURS as plain
      // SQL statements. The readback is a RAW directory scan (no log)
      // UNIONed with DESCRIBE DETAIL's file/row census — equal to the
      // source only if the z-ordered compaction rewrote the snapshot
      // to one file per partition AND the vacuum physically deleted
      // the superseded files.
      val dir = scratch("sql_verbs")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      graft.io.MiniDelta.invalidateSnapshot(s"$dir/trades")
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 0), table,
        Seq("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 1), table,
        Seq("l_returnflag"))
      graft.plans.GraftSqlTables.register("sql_verbs_trades", table,
        readOnly = false)
      s.sql("OPTIMIZE graft.sql_verbs_trades " +
        "ZORDER BY (l_orderkey, l_linenumber)")
      // RETAIN 0 sits below the 7-day default horizon — the immediate
      // vacuum is deliberate here, so opt out of the retention check
      // (Delta's retentionDurationCheck posture) for just this call
      s.conf.set("spark.graft.vacuum.retentionDurationCheck.enabled",
        "false")
      try s.sql("VACUUM graft.sql_verbs_trades RETAIN 0 HOURS")
      finally s.conf.unset(
        "spark.graft.vacuum.retentionDurationCheck.enabled")
      // the snapshot cache mirrors the reference's 120 s staleness
      // quirk (writes do NOT invalidate) — drop it so DESCRIBE DETAIL
      // censuses the post-OPTIMIZE snapshot
      graft.io.MiniDelta.invalidateSnapshot(table)
      val detail = s.sql("DESCRIBE DETAIL graft.sql_verbs_trades")
        .select(lit("ALL").as("l_returnflag"),
          col("numFiles").as("n_rows"),
          lit(0.0).as("sum_price"), col("numRows").as("sum_qty"))
      s.read.parquet(table)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .unionByName(detail)
        .orderBy("l_returnflag")
    }),
    "s34_column_rename" -> ((s, d) => {
      // column-mapping WRITE lifecycle end to end: append (v0), enable
      // name-mode mapping (v1, metadata upgrade), RENAME
      // l_extendedprice->price (v2, metadata-only), append under the
      // NEW logical name (v3 — the file on disk stores the physical
      // name; since r17 the SAME append also EVOLVES a NEW struct
      // column 'meta' whose nested fields get deep physicalName/ids),
      // copy-on-write DELETE under mapping (v4), DROP l_linenumber
      // (v5), then the r17 NESTED alters: RENAME meta.a->qty2 (v6) and
      // DROP meta.b (v7), both metadata-only. The readback resolves
      // old and new files through the mapping at every depth; the
      // oracle restates the surviving rows from the source with zero
      // knowledge of the mapping machinery.
      val dir = scratch("s34_rename")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      graft.io.MiniDelta.invalidateSnapshot(s"$dir/trades")
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 0), table, Seq.empty)
      graft.io.MiniDelta.setTableProperties(s, table,
        Map("delta.columnMapping.mode" -> "name"))
      graft.io.MiniDelta.renameColumn(s, table, "l_extendedprice", "price")
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 1)
          .withColumnRenamed("l_extendedprice", "price")
          .withColumn("meta", struct(col("l_quantity").as("a"),
            col("l_orderkey").as("b"))), table, Seq.empty)
      graft.io.MiniDelta.delete(s, table,
        col("l_quantity") === 2 && pmod(col("l_orderkey"), lit(3)) === 0,
        Seq.empty)
      graft.io.MiniDelta.dropColumn(s, table, "l_linenumber")
      graft.io.MiniDelta.renameColumn(s, table, "meta.a", "qty2")
      graft.io.MiniDelta.dropColumn(s, table, "meta.b")
      graft.io.MiniDelta.invalidateSnapshot(table)
      val out = graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
      out.agg(count(lit(1)).as("n_rows"),
          (sum(round(col("price") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          (sum(round(col("meta.qty2") * 100)) / 100.0).as("sum_meta"))
        .withColumn("n_cols", lit(out.columns.length))
    }),
    "s35_generated" -> ((s, d) => {
      // generated-column lifecycle: CREATE TABLE with a generated
      // bucket (l_orderkey % 5), append WITHOUT the column (the engine
      // computes it), UPDATE a referenced-by-nothing column (price) —
      // the recompute projection must leave bucket byte-identical. The
      // oracle recomputes the bucket in SQL with zero knowledge of the
      // generation machinery.
      val dir = scratch("s35_generated")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      graft.io.MiniDelta.invalidateSnapshot(s"$dir/trades")
      val table = s"$dir/trades"
      import org.apache.spark.sql.types._
      graft.io.MiniDelta.createTable(s, table, StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType),
        StructField("bucket", LongType, nullable = true,
          new MetadataBuilder().putString(
            "delta.generationExpression", "l_orderkey % 5").build()))))
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice"))
      graft.io.MiniDelta.append(s, src, table, Seq.empty)
      graft.io.MiniDelta.update(s, table, col("l_quantity") === 1,
        Map("l_extendedprice" -> lit(0.0)), Seq.empty)
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"))
        .orderBy("bucket")
    }),
    "s36_identity" -> ((s, d) => {
      // identity-column lifecycle: CREATE TABLE with GENERATED ALWAYS
      // AS IDENTITY (start 1000, step 3), two appends that OMIT the
      // column. Which row gets which value is scheduler-dependent, but
      // the SET of assigned values is fully determined — the chain
      // 1000, 1003, ... walked once per row with no collisions across
      // the two commits (the high-water mark advanced in commit one) —
      // so the oracle pins count, distinctness, min and max.
      val dir = scratch("s36_identity")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      graft.io.MiniDelta.invalidateSnapshot(s"$dir/trades")
      val table = s"$dir/trades"
      import org.apache.spark.sql.types._
      graft.io.MiniDelta.createTable(s, table, StructType(Seq(
        StructField("row_id", LongType, nullable = true,
          new MetadataBuilder()
            .putLong("delta.identity.start", 1000L)
            .putLong("delta.identity.step", 3L).build()),
        StructField("l_orderkey", LongType),
        StructField("l_linenumber", IntegerType),
        StructField("l_partkey", LongType),
        StructField("l_quantity", DoubleType))))
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey").cast("long").as("l_partkey"),
          col("l_quantity"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 0), table, Seq.empty)
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 1), table, Seq.empty)
      graft.io.MiniDelta.invalidateSnapshot(table)
      // MERGE leg (identity composes since late r13): matched rows
      // (l_quantity = 1 → 11.0) KEEP their assigned identity values,
      // inserts (the l_quantity = 3 rows, disjoint keys) extend the
      // chain past the high-water mark — so n_ids stays n_rows, min
      // stays 1000, and max walks to 1000 + 3*(total-1)
      val mergeSrc = src.where(col("l_quantity") === 1)
        .withColumn("l_quantity", lit(11.0))
        .unionByName(Tables.load(s, d, "lineitem")
          .where(col("l_quantity") === 3)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey").cast("long").as("l_partkey"),
            col("l_quantity")))
      graft.io.MiniDelta.merge(s, table, mergeSrc,
        Seq("l_orderkey", "l_linenumber", "l_partkey"), Seq.empty)
      // EVOLUTION leg (r16 — the lifted refusal): a matched-only merge
      // whose source carries a NEW column src_tag evolves the identity
      // table's schema INSIDE the merge commit — one metaData action
      // carrying the appended column with the mark untouched (zero
      // inserts). Matched rows (original l_quantity = 2, okey % 7 = 0)
      // are replaced wholesale: quantity 12.0 and the tag, identity
      // values KEPT — so n_ids/min/max are unchanged and n_tagged
      // counts exactly the matched set.
      val evolveSrc = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") === 2 &&
          pmod(col("l_orderkey"), lit(7)) === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey").cast("long").as("l_partkey"),
          lit(12.0).as("l_quantity"), lit("T").as("src_tag"))
      graft.io.MiniDelta.merge(s, table, evolveSrc,
        Seq("l_orderkey", "l_linenumber", "l_partkey"), Seq.empty)
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("row_id")).as("n_ids"),
          min(col("row_id")).as("min_id"), max(col("row_id")).as("max_id"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(col("src_tag")).as("n_tagged"))
    }),
    "s38_colmap_id_write" -> ((s, d) => {
      // id-mode column-mapping WRITE lifecycle — the reference's own
      // documented interop limitation, closed: CREATE with
      // delta.columnMapping.mode=id (via SQL), INSERT, RENAME COLUMN
      // (logical diverges from physical), a post-rename append under
      // the NEW logical name, then DELETE + UPDATE (copy-on-write
      // rewrites that must re-land physical names + footer field_ids).
      // Every written parquet file is footer-checked driver-side: all
      // columns must carry field_ids, because a compliant id-mode
      // reader resolves by those ids alone.
      val dir = scratch("s38_colmap_id_write")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.plans.GraftSqlTables.unregister("s38_trades")
      graft.plans.GraftSqlTables.register("s38_lineitem",
        Tables.path(d, "lineitem"))
      s.sql(s"""
        CREATE TABLE graft.s38_trades (okey BIGINT, qty BIGINT,
          flag STRING)
        TBLPROPERTIES ('delta.columnMapping.mode' = 'id')
        LOCATION '$table'""")
      s.sql("""
        INSERT INTO graft.s38_trades
        SELECT l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty,
               l_returnflag AS flag
        FROM graft.datalake.s38_lineitem
        WHERE l_quantity <= 2 AND pmod(l_orderkey, 2) = 0""")
      s.sql("ALTER TABLE graft.s38_trades RENAME COLUMN flag TO rflag")
      s.sql("""
        INSERT INTO graft.s38_trades
        SELECT l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty,
               l_returnflag AS rflag
        FROM graft.datalake.s38_lineitem
        WHERE l_quantity <= 2 AND pmod(l_orderkey, 2) = 1""")
      s.sql("DELETE FROM graft.s38_trades WHERE qty = 2 AND rflag = 'R'")
      s.sql("UPDATE graft.s38_trades SET qty = qty + 10 " +
        "WHERE rflag = 'A'")
      // footer check: EVERY live parquet file resolves all three
      // columns by field_id (1..3) under their PHYSICAL names
      val conf = s.sparkContext.hadoopConfiguration
      val live = graft.io.MiniDelta.snapshotFiles(s, table)
        .select("path").collect().map(_.getString(0))
      val idsOk = live.nonEmpty && live.forall { rel =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$table/$rel"), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          val m = r.getFooter.getFileMetaData.getSchema.getFields.asScala
            .map(f => f.getName -> Option(f.getId).map(_.intValue())).toMap
          m.get("okey").flatten.contains(1) &&
            m.get("qty").flatten.contains(2) &&
            m.get("flag").flatten.contains(3) // physical name pre-rename
        } finally r.close()
      }
      s.sql("""
        SELECT rflag AS flag, count(*) AS n_rows,
               CAST(sum(qty) AS BIGINT) AS sum_qty
        FROM graft.s38_trades GROUP BY rflag""")
        .withColumn("footer_ids_ok", lit(if (idsOk) 1L else 0L))
        .orderBy("flag")
    }),
    "s39_cdf_write" -> ((s, d) => {
      // CDF WRITE lifecycle through SQL — the round-13 capability that
      // replaced the old refusal: CREATE with
      // delta.enableChangeDataFeed=true (protocol carries the
      // changeDataFeed writer feature), INSERT, then UPDATE + DELETE
      // whose commits land REAL cdc files under _change_data/; the
      // table_changes TVF serves the v2-v3 window EXCLUSIVELY from
      // those files (the Delta CDF rule), so the pre/post/delete split
      // below is the cdc files' content, not a reconstruction.
      val dir = scratch("s39_cdf_write")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.plans.GraftSqlTables.unregister("s39_trades")
      graft.plans.GraftSqlTables.register("s39_lineitem",
        Tables.path(d, "lineitem"))
      s.sql(s"""
        CREATE TABLE graft.s39_trades (okey BIGINT, qty BIGINT,
          flag STRING)
        TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')
        LOCATION '$table'""")
      s.sql("""
        INSERT INTO graft.s39_trades
        SELECT l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty,
               l_returnflag AS flag
        FROM graft.datalake.s39_lineitem WHERE l_quantity <= 2""")
      s.sql("UPDATE graft.s39_trades SET qty = qty + 5 " +
        "WHERE flag = 'A' AND qty = 1")
      s.sql("DELETE FROM graft.s39_trades WHERE flag = 'R' AND qty = 2")
      val nCdc = Option(new java.io.File(s"$table/_change_data")
        .listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet"))
      s.sql("""
        SELECT _change_type AS change_type, flag, count(*) AS n_rows,
               CAST(sum(qty) AS BIGINT) AS sum_qty
        FROM table_changes('s39_trades', 2, 3)
        GROUP BY _change_type, flag""")
        .withColumn("cdc_present", lit(if (nCdc > 0) 1L else 0L))
        .orderBy("change_type", "flag")
    }),
    "s40_mapped_cdf" -> ((s, d) => {
      // CDF WRITE on a COLUMN-MAPPED table — the round-13 capability
      // that closed the last writer-matrix refusal: cdc files follow
      // the PHYSICAL schema exactly like data files, so one change
      // feed spans a column RENAME. Lifecycle: CREATE (mapping name +
      // CDF, v0), INSERT (v1), RENAME COLUMN qty→quantity (v2,
      // metadata-only), UPDATE (v3) + DELETE (v4) under the NEW
      // logical name; table_changes over [3,4] serves the feed from
      // the cdc files relabeled to logical. phys_cols_ok asserts the
      // files on disk speak the stable physical name ('qty'), never
      // the renamed logical one.
      val dir = scratch("s40_mapped_cdf")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.plans.GraftSqlTables.unregister("s40_trades")
      graft.plans.GraftSqlTables.register("s40_lineitem",
        Tables.path(d, "lineitem"))
      s.sql(s"""
        CREATE TABLE graft.s40_trades (okey BIGINT, qty BIGINT,
          flag STRING)
        TBLPROPERTIES ('delta.columnMapping.mode' = 'name',
          'delta.enableChangeDataFeed' = 'true')
        LOCATION '$table'""")
      s.sql("""
        INSERT INTO graft.s40_trades
        SELECT l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty,
               l_returnflag AS flag
        FROM graft.datalake.s40_lineitem WHERE l_quantity <= 2""")
      s.sql("ALTER TABLE graft.s40_trades RENAME COLUMN qty TO quantity")
      s.sql("UPDATE graft.s40_trades SET quantity = quantity + 5 " +
        "WHERE flag = 'A' AND quantity = 1")
      s.sql("DELETE FROM graft.s40_trades WHERE flag = 'R' AND quantity = 2")
      // EVOLVING MERGE leg (r16): a keyed merge whose source carries a
      // NEW column 'bonus' — the mapped table grows it INLINE (fresh
      // physicalName/id ratcheted past maxColumnId in the merge's own
      // commit, no ALTER first), and the evolved column lands in data
      // AND cdc files under its physical name. Insert-only source
      // (negative keys) so the [3,4] change window above is untouched;
      // the v5 cdc files still flow through the phys_cols_ok footer
      // sweep below.
      graft.io.MiniDelta.merge(s, table,
        s.range(1, 4).select((col("id") * -1).as("okey"),
          lit(50L).as("quantity"), lit("Z").as("flag"),
          (col("id") * 10).as("bonus")),
        Seq("okey"), Seq.empty)
      graft.io.MiniDelta.invalidateSnapshot(table)
      val evolvedField = graft.io.MiniDelta.latestSchema(s, table,
          graft.io.MiniDelta.latestVersion(s, table)).get
        .fields.find(_.name == "bonus")
      // scoped to the inserted keys (okey < 0): bonus exists only on
      // the merge's insert rows, so the verification needs 3 rows by
      // stats/row-group pruning — never a full-table aggregate pass
      val bonusSum = graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .where(col("okey") < 0)
        .agg(sum(col("bonus"))).collect()(0).getLong(0)
      val evolveOk = evolvedField.exists(_.metadata.contains(
        "delta.columnMapping.physicalName")) && bonusSum == 60L
      def cdcParquets(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).toSeq.flatten.flatMap(c =>
          if (c.isDirectory) cdcParquets(c)
          else if (c.getName.endsWith(".parquet")) Seq(c) else Nil)
      // parquet footer API, not spark.read-per-file: the column-name
      // probe is driver-side metadata, one Spark job per file would be
      // pure scheduler overhead (the s38 footer check's discipline)
      val cdcCols = cdcParquets(new java.io.File(s"$table/_change_data"))
        .map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath),
              s.sparkContext.hadoopConfiguration)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            import scala.jdk.CollectionConverters._
            r.getFooter.getFileMetaData.getSchema.getFields.asScala
              .map(_.getName).toSet
          } finally r.close()
        }
      val physOk = cdcCols.nonEmpty && cdcCols.forall(c =>
        c("qty") && c("_change_type") && !c("quantity"))
      s.sql("""
        SELECT _change_type AS change_type, flag, count(*) AS n_rows,
               CAST(sum(quantity) AS BIGINT) AS sum_qty
        FROM table_changes('s40_trades', 3, 4)
        GROUP BY _change_type, flag""")
        .withColumn("phys_cols_ok", lit(if (physOk) 1L else 0L))
        .withColumn("evolve_ok", lit(if (evolveOk) 1L else 0L))
        .orderBy("change_type", "flag")
    }),
    "s41_defaults" -> ((s, d) => {
      // column DEFAULT values (writer feature allowColumnDefaults) via
      // SQL: CREATE with per-column DEFAULTs, a column-list INSERT
      // omitting them (the write MATERIALIZES the fill), ALTER COLUMN
      // SET DEFAULT changing the obligation mid-table, and a second
      // omitting INSERT under the new defaults. The oracle recomputes
      // both eras' fills from the source.
      val dir = scratch("s41_defaults")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.plans.GraftSqlTables.unregister("s41_trades")
      graft.plans.GraftSqlTables.register("s41_lineitem",
        Tables.path(d, "lineitem"))
      s.sql(s"""
        CREATE TABLE graft.s41_trades (okey BIGINT, qty BIGINT,
          status STRING DEFAULT 'new', boost BIGINT DEFAULT 0)
        LOCATION '$table'""")
      s.sql("""
        INSERT INTO graft.s41_trades (okey, qty)
        SELECT l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty
        FROM graft.datalake.s41_lineitem
        WHERE l_quantity <= 2 AND pmod(l_orderkey, 2) = 0""")
      s.sql("ALTER TABLE graft.s41_trades " +
        "ALTER COLUMN status SET DEFAULT 'adj'")
      s.sql("ALTER TABLE graft.s41_trades " +
        "ALTER COLUMN boost SET DEFAULT 7")
      graft.io.MiniDelta.invalidateSnapshot(table)
      s.sql("""
        INSERT INTO graft.s41_trades (okey, qty)
        SELECT l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty
        FROM graft.datalake.s41_lineitem
        WHERE l_quantity <= 2 AND pmod(l_orderkey, 2) = 1""")
      // NESTED default leg (r18): grow a struct column, declare a
      // DEFAULT on a field INSIDE it, and a third column-list INSERT
      // omitting the struct — the write contract materializes
      // meta = {note: null, bump: 5}; both earlier eras null-fill meta
      // wholesale. The oracle recomputes every era's fill.
      s.sql("ALTER TABLE graft.s41_trades " +
        "ADD COLUMNS (meta STRUCT<note: STRING, bump: BIGINT>)")
      s.sql("ALTER TABLE graft.s41_trades " +
        "ALTER COLUMN meta.bump SET DEFAULT 5")
      graft.io.MiniDelta.invalidateSnapshot(table)
      s.sql("""
        INSERT INTO graft.s41_trades (okey, qty)
        SELECT l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty
        FROM graft.datalake.s41_lineitem WHERE l_quantity = 3""")
      s.sql("""
        SELECT status, count(*) AS n_rows,
               CAST(sum(qty) AS BIGINT) AS sum_qty,
               CAST(sum(boost) AS BIGINT) AS sum_boost,
               CAST(sum(meta.bump) AS BIGINT) AS sum_bump
        FROM graft.s41_trades GROUP BY status""")
        .orderBy("status")
    }),
    "s42_clustered" -> ((s, d) => {
      // clustered table (writer feature `clustering`): SQL CREATE with
      // CLUSTER BY (okey, qty), an UNCLUSTERED INSERT (the layout is
      // advisory for writes), then a bare CALL graft.optimize that must
      // honor the DECLARED columns — files_skip_ok asserts the
      // post-OPTIMIZE per-file stats actually discriminate on the
      // leading clustering key (a point range at min(okey) must skip
      // at least one file), which is the layout's entire point at
      // 100 TB. The oracle recomputes the per-flag aggregation.
      val dir = scratch("s42_clustered")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.plans.GraftSqlTables.unregister("s42_trades")
      graft.plans.GraftSqlTables.register("s42_lineitem",
        Tables.path(d, "lineitem"))
      s.sql(s"""
        CREATE TABLE graft.s42_trades (okey BIGINT, qty BIGINT,
          flag STRING)
        CLUSTER BY (okey, qty) LOCATION '$table'""")
      s.sql("""
        INSERT INTO graft.s42_trades
        SELECT l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty,
               l_returnflag AS flag
        FROM graft.datalake.s42_lineitem WHERE l_quantity <= 3""")
      s.sql("CALL graft.optimize('s42_trades')")
      graft.io.MiniDelta.invalidateSnapshot(table)
      val snap = graft.io.MiniDelta.snapshotFiles(s, table)
      val total = snap.count()
      val lo = s.sql("SELECT CAST(min(okey) AS DOUBLE) " +
        "FROM graft.s42_trades").head().getDouble(0)
      val hit = graft.io.MiniDelta.filesForRange(snap, "okey", lo, lo)
        .count()
      val skipOk = total < 2 || hit < total
      s.sql("""
        SELECT flag, count(*) AS n_rows,
               CAST(sum(qty) AS BIGINT) AS sum_qty
        FROM graft.s42_trades GROUP BY flag""")
        .withColumn("files_skip_ok", lit(if (skipOk) 1L else 0L))
        .orderBy("flag")
    }),
    "s43_type_widening" -> ((s, d) => {
      // typeWidening: CREATE with qty INT, a narrow INSERT, ALTER
      // COLUMN qty TYPE BIGINT (one metadata commit — the narrow files
      // are NOT rewritten; reads upcast them), then an INSERT of values
      // only a BIGINT can hold. The final aggregate spans both eras,
      // proving the upcast read path end-to-end; the oracle recomputes
      // it from the source.
      val dir = scratch("s43_type_widening")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.plans.GraftSqlTables.unregister("s43_trades")
      graft.plans.GraftSqlTables.register("s43_lineitem",
        Tables.path(d, "lineitem"))
      s.sql(s"""
        CREATE TABLE graft.s43_trades (okey BIGINT, qty INT,
          flag STRING)
        LOCATION '$table'""")
      s.sql("""
        INSERT INTO graft.s43_trades
        SELECT l_orderkey AS okey, CAST(l_quantity AS INT) AS qty,
               l_returnflag AS flag
        FROM graft.datalake.s43_lineitem WHERE l_quantity <= 2""")
      val narrowFiles = graft.io.MiniDelta.snapshotFiles(s, table)
        .select("path").collect().map(_.getString(0)).toSet
      s.sql("ALTER TABLE graft.s43_trades ALTER COLUMN qty TYPE BIGINT")
      graft.io.MiniDelta.invalidateSnapshot(table)
      // metadata-only: the widen rewrote NOTHING
      val afterFiles = graft.io.MiniDelta.snapshotFiles(s, table)
        .select("path").collect().map(_.getString(0)).toSet
      val noRewrite = narrowFiles == afterFiles
      s.sql("""
        INSERT INTO graft.s43_trades
        SELECT l_orderkey AS okey,
               CAST(l_quantity AS BIGINT) + 3000000000 AS qty,
               l_returnflag AS flag
        FROM graft.datalake.s43_lineitem WHERE l_quantity = 3""")
      // NESTED merge-widening leg (r18): grow a struct column, then an
      // evolving MERGE whose source carries meta.v as BIGINT widens
      // the declared INT field in the merge's own commit —
      // delta.typeChanges rides the nested field and the typeWidening
      // feature joins the same commit; pre-merge rows null-fill meta.
      // widen_ok pins the declared type + the recorded change.
      s.sql("ALTER TABLE graft.s43_trades ADD COLUMNS (meta STRUCT<v: INT>)")
      graft.io.MiniDelta.invalidateSnapshot(table)
      s.sql("""
        MERGE WITH SCHEMA EVOLUTION INTO graft.s43_trades t
        USING (SELECT l_orderkey + 5000000000 AS okey,
                      CAST(sum(l_quantity) AS BIGINT) AS qty,
                      'W' AS flag,
                      named_struct('v',
                        CAST(count(*) AS BIGINT) * 2) AS meta
               FROM graft.datalake.s43_lineitem WHERE l_quantity = 4
               GROUP BY l_orderkey) s
        ON t.okey = s.okey
        WHEN MATCHED THEN UPDATE SET t.qty = s.qty
        WHEN NOT MATCHED THEN INSERT (okey, qty, flag, meta)
          VALUES (s.okey, s.qty, s.flag, s.meta)""")
      graft.io.MiniDelta.invalidateSnapshot(table)
      val metaV = graft.io.MiniDelta.latestSchema(s, table).get("meta")
        .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]("v")
      val widenOk = metaV.dataType ==
        org.apache.spark.sql.types.LongType &&
        metaV.metadata.contains("delta.typeChanges")
      s.sql("""
        SELECT flag, count(*) AS n_rows,
               CAST(sum(qty) AS BIGINT) AS sum_qty,
               CAST(sum(meta.v) AS BIGINT) AS sum_v
        FROM graft.s43_trades GROUP BY flag""")
        .withColumn("no_rewrite", lit(if (noRewrite) 1L else 0L))
        .withColumn("widen_ok", lit(if (widenOk) 1L else 0L))
        .orderBy("flag")
    }),
    "s44_variant" -> ((s, d) => {
      // VARIANT columns (reader+writer feature variantType): CREATE
      // with a VARIANT column, INSERT parse_json documents built from
      // lineitem, DELETE on a variant field (CoW over variant files),
      // then aggregate by extracted fields — the full
      // encode/store/decode loop through the engine's write paths. The
      // oracle recomputes the same aggregate from the raw columns.
      val dir = scratch("s44_variant")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.plans.GraftSqlTables.unregister("s44_trades")
      graft.plans.GraftSqlTables.register("s44_lineitem",
        Tables.path(d, "lineitem"))
      s.sql(s"""
        CREATE TABLE graft.s44_trades (okey BIGINT, doc VARIANT)
        LOCATION '$table'""")
      s.sql("""
        INSERT INTO graft.s44_trades
        SELECT l_orderkey AS okey,
               parse_json(concat('{"qty":', CAST(l_quantity AS BIGINT),
                 ',"flag":"', l_returnflag, '"}')) AS doc
        FROM graft.datalake.s44_lineitem WHERE l_quantity <= 3""")
      s.sql("""
        DELETE FROM graft.s44_trades
        WHERE variant_get(doc, '$.qty', 'bigint') = 3
          AND variant_get(doc, '$.flag', 'string') = 'R'""")
      s.sql("""
        SELECT variant_get(doc, '$.flag', 'string') AS flag,
               count(*) AS n_rows,
               CAST(sum(variant_get(doc, '$.qty', 'bigint')) AS BIGINT)
                 AS sum_qty
        FROM graft.s44_trades GROUP BY 1""")
        .orderBy("flag")
    }),
    "s45_merge_delete" -> ((s, d) => {
      // MERGE ... WHEN MATCHED AND cond THEN DELETE (the keyed
      // anti-delete, late r13): delete the 'R' rows of every order
      // that has a quantity-2 line — a join-scoped conditional delete
      // the plain DELETE predicate cannot express. The oracle
      // recomputes the surviving set with the same semi-join.
      val dir = scratch("s45_merge_delete")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.plans.GraftSqlTables.unregister("s45_trades")
      graft.plans.GraftSqlTables.register("s45_lineitem",
        Tables.path(d, "lineitem"))
      s.sql(s"""
        CREATE TABLE graft.s45_trades (okey BIGINT, qty BIGINT,
          flag STRING)
        LOCATION '$table'""")
      s.sql("""
        INSERT INTO graft.s45_trades
        SELECT l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty,
               l_returnflag AS flag
        FROM graft.datalake.s45_lineitem WHERE l_quantity <= 3""")
      s.sql("""
        MERGE INTO graft.s45_trades t USING (
          SELECT DISTINCT l_orderkey AS okey
          FROM graft.datalake.s45_lineitem WHERE l_quantity = 2) s
        ON t.okey = s.okey
        WHEN MATCHED AND t.flag = 'R' THEN DELETE""")
      // the sync-delete leg: sweep every order that has NO quantity-1
      // line (WHEN NOT MATCHED BY SOURCE — the staleness sweep of a
      // full-sync pipeline)
      s.sql("""
        MERGE INTO graft.s45_trades t USING (
          SELECT DISTINCT l_orderkey AS okey
          FROM graft.datalake.s45_lineitem WHERE l_quantity = 1) s
        ON t.okey = s.okey
        WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      s.sql("""
        SELECT flag, count(*) AS n_rows,
               CAST(sum(qty) AS BIGINT) AS sum_qty
        FROM graft.s45_trades GROUP BY flag""")
        .orderBy("flag")
    }),
    "s46_merge_clauses" -> ((s, d) => {
      // the GENERAL MERGE (round 14): one statement with the full
      // clause matrix — conditional matched DELETE + conditional
      // matched UPDATE with explicit assignments reading both sides,
      // a conditional NOT MATCHED INSERT with expressions, and a
      // NOT MATCHED BY SOURCE UPDATE — first-applicable-clause-wins
      // per row. The oracle recomputes the final table with the
      // equivalent outer-join CASE logic.
      val dir = scratch("s46_merge_clauses")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.plans.GraftSqlTables.unregister("s46_trades")
      graft.plans.GraftSqlTables.register("s46_lineitem",
        Tables.path(d, "lineitem"))
      s.sql(s"""
        CREATE TABLE graft.s46_trades (okey BIGINT, lnum BIGINT,
          qty BIGINT, flag STRING)
        LOCATION '$table'""")
      s.sql("""
        INSERT INTO graft.s46_trades
        SELECT l_orderkey AS okey, CAST(l_linenumber AS BIGINT) AS lnum,
               CAST(l_quantity AS BIGINT) AS qty, l_returnflag AS flag
        FROM graft.datalake.s46_lineitem WHERE l_quantity <= 3""")
      // the source aggregates to UNIQUE keys (the synthetic lineitem
      // repeats (okey, lnum); a duplicate-keyed source under matched
      // clauses is ambiguous and refuses)
      s.sql("""
        MERGE INTO graft.s46_trades t USING (
          SELECT l_orderkey AS okey, CAST(l_linenumber AS BIGINT) AS lnum,
                 CAST(min(l_quantity) AS BIGINT) AS qty,
                 min(l_returnflag) AS flag
          FROM graft.datalake.s46_lineitem
          WHERE l_quantity IN (2, 3, 4)
          GROUP BY 1, 2) s
        ON t.okey = s.okey AND t.lnum = s.lnum
        WHEN MATCHED AND s.flag = 'R' THEN DELETE
        WHEN MATCHED AND s.qty = 2
          THEN UPDATE SET qty = t.qty + 100, flag = 'U'
        WHEN NOT MATCHED AND s.flag <> 'R'
          THEN INSERT (okey, lnum, qty, flag)
          VALUES (s.okey, s.lnum, s.qty * 10, 'I')
        WHEN NOT MATCHED BY SOURCE AND t.flag <> 'N'
          THEN UPDATE SET flag = 'S'""")
      // WITH SCHEMA EVOLUTION leg (r16): a second general MERGE whose
      // SET and INSERT target a column the table has not declared —
      // 'score' appends inside the merge commit (one metaData action),
      // matched rows take the source's per-key line count, unmatched
      // source keys insert flag='E' rows carrying it
      s.sql("""
        MERGE WITH SCHEMA EVOLUTION INTO graft.s46_trades t USING (
          SELECT l_orderkey AS okey, CAST(l_linenumber AS BIGINT) AS lnum,
                 CAST(count(*) AS BIGINT) AS hits
          FROM graft.datalake.s46_lineitem
          WHERE l_quantity = 1
          GROUP BY 1, 2) s
        ON t.okey = s.okey AND t.lnum = s.lnum
        WHEN MATCHED THEN UPDATE SET score = s.hits
        WHEN NOT MATCHED THEN INSERT (okey, lnum, qty, flag, score)
          VALUES (s.okey, s.lnum, 0, 'E', s.hits)""")
      s.sql("""
        SELECT flag, count(*) AS n_rows,
               CAST(sum(qty) AS BIGINT) AS sum_qty,
               CAST(count(score) AS BIGINT) AS n_scored,
               CAST(sum(score) AS BIGINT) AS sum_score
        FROM graft.s46_trades GROUP BY flag""")
        .orderBy("flag")
    }),
    "s47_generated_prune" -> ((s, d) => {
      // generated-column partition pruning (round 14): the table is
      // partitioned by day = CAST(ts AS DATE) but every filter below
      // bounds the BASE timestamp only — pruning exists solely through
      // the derivation machinery (GeneratedPruning: DML blast-radius
      // discovery + the read-side rule), Delta's
      // OptimizeGeneratedColumn restated. The DELETE cuts into the
      // SELECT window and the UPDATE relabels its tail, so the oracle
      // sees both DMLs; GeneratedPruningSpec pins the pruning counters
      // this gate exercises.
      val dir = scratch("s47_generated_prune")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/events_day"
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.plans.GraftSqlTables.unregister("s47_events_day")
      graft.plans.GraftSqlTables.register("s47_events",
        Tables.path(d, "events"))
      s.sql(s"""
        CREATE TABLE graft.s47_events_day (
          event_id BIGINT, ts TIMESTAMP, event_type STRING,
          user_id BIGINT,
          day DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))
        PARTITIONED BY (day) LOCATION '$table'""")
      s.sql("""
        INSERT INTO graft.s47_events_day (event_id, ts, event_type,
          user_id)
        SELECT event_id, ts, event_type, user_id
        FROM graft.datalake.s47_events""")
      // both DMLs bound ts only: discovery reaches the day directories
      // through the derived bounds, never the whole manifest
      s.sql("""
        DELETE FROM graft.s47_events_day
        WHERE ts <= TIMESTAMP '2024-01-21 23:59:59'""")
      s.sql("""
        UPDATE graft.s47_events_day SET event_type = 'archived'
        WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'""")
      // the read bounds ts only as well — the scan prunes to the
      // implied day directories via the post-analysis rule
      // day is CAST to STRING in the output: a DATE column round-trips
      // as date32 on the Spark side but datetime.date on the DuckDB
      // side, and the driver's value compare is type-sensitive
      s.sql("""
        SELECT CAST(day AS STRING) AS day, event_type,
               count(*) AS n_rows,
               CAST(sum(event_id) AS BIGINT) AS sum_id
        FROM graft.s47_events_day
        WHERE ts BETWEEN TIMESTAMP '2024-01-20 00:00:00'
                     AND TIMESTAMP '2024-01-27 23:59:59'
        GROUP BY day, event_type""")
        .orderBy("day", "event_type")
    }),
    "s48_drop_feature" -> ((s, d) => {
      // DROP FEATURE end to end under the oracle (round 14): a DV
      // table takes a masked DELETE, then ALTER TABLE ... DROP FEATURE
      // deletionVectors TRUNCATE HISTORY purges the masks, downgrades
      // the protocol, and truncates the log — and the table must read
      // back exactly as the surviving rows afterwards. The downgrade
      // wire shape is golden-pinned (GoldenFormatSpec); this gate
      // prices and checks the full lifecycle.
      val dir = scratch("s48_drop_feature")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.plans.GraftSqlTables.unregister("s48_trades")
      graft.plans.GraftSqlTables.register("s48_lineitem",
        Tables.path(d, "lineitem"))
      s.sql(s"""
        CREATE TABLE graft.s48_trades (okey BIGINT, lnum BIGINT,
          qty BIGINT, flag STRING)
        TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')
        LOCATION '$table'""")
      s.sql("""
        INSERT INTO graft.s48_trades
        SELECT l_orderkey AS okey, CAST(l_linenumber AS BIGINT) AS lnum,
               CAST(l_quantity AS BIGINT) AS qty, l_returnflag AS flag
        FROM graft.datalake.s48_lineitem WHERE l_quantity <= 3""")
      s.sql("DELETE FROM graft.s48_trades WHERE flag = 'R'") // DV masks
      s.sql("""
        ALTER TABLE graft.s48_trades DROP FEATURE deletionVectors
        TRUNCATE HISTORY""")
      s.sql("""
        SELECT flag, count(*) AS n_rows,
               CAST(sum(qty) AS BIGINT) AS sum_qty
        FROM graft.s48_trades GROUP BY flag""")
        .orderBy("flag")
    }),
    "s49_merge_identity" -> ((s, d) => {
      // identity assignment in general-MERGE INSERT clauses (round
      // 15): a GENERATED ALWAYS AS IDENTITY table takes two MERGEs
      // whose NOT MATCHED INSERT clauses omit the identity column —
      // the chain assigns 1..N across both commits (the high-water
      // mark advancing inside each MERGE's own commit), so
      // count/min/max/sum of the ids are all oracle-exact even though
      // the row↦id permutation is not deterministic.
      val dir = scratch("s49_merge_identity")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.plans.GraftSqlTables.unregister("s49_trades")
      graft.plans.GraftSqlTables.register("s49_lineitem",
        Tables.path(d, "lineitem"))
      s.sql(s"""
        CREATE TABLE graft.s49_trades (
          id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1
            INCREMENT BY 1),
          okey BIGINT, qty BIGINT)
        LOCATION '$table'""")
      // first MERGE: everything inserts — ids 1..N1
      s.sql("""
        MERGE INTO graft.s49_trades t USING (
          SELECT l_orderkey AS okey, CAST(min(l_quantity) AS BIGINT) AS qty
          FROM graft.datalake.s49_lineitem WHERE l_quantity <= 2
          GROUP BY 1) s
        ON t.okey = s.okey
        WHEN NOT MATCHED THEN INSERT (okey, qty) VALUES (s.okey, s.qty)""")
      // second MERGE: matched keys update, new keys insert with fresh
      // chain values continuing past the first commit's mark
      s.sql("""
        MERGE INTO graft.s49_trades t USING (
          SELECT l_orderkey AS okey, CAST(min(l_quantity) AS BIGINT) AS qty
          FROM graft.datalake.s49_lineitem WHERE l_quantity IN (2, 3)
          GROUP BY 1) s
        ON t.okey = s.okey
        WHEN MATCHED THEN UPDATE SET qty = t.qty + 100
        WHEN NOT MATCHED THEN INSERT (okey, qty)
          VALUES (s.okey, s.qty * 10)""")
      s.sql("""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT id) AS BIGINT) AS n_ids,
               CAST(min(id) AS BIGINT) AS min_id,
               CAST(max(id) AS BIGINT) AS max_id,
               CAST(sum(id) AS BIGINT) AS sum_id,
               CAST(sum(qty) AS BIGINT) AS sum_qty
        FROM graft.s49_trades""")
    }),
    "s50_auto_optimize" -> ((s, d) => {
      // auto-optimize pair (round 15): a table created with BOTH
      // delta.autoOptimize.optimizeWrite (pre-write shuffle by the
      // partition columns — one file per partition value per append
      // instead of tasks × partitions) and autoCompact (the 4th
      // append crosses minNumFiles and bin-packs the small files in
      // the same call, dataChange=false). The gate is the s11
      // discipline: vacuum, then a RAW directory scan must equal the
      // source — any loss or double-count from the automatic rewrite
      // fails the hash.
      val dir = scratch("s50_auto_optimize")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.io.MiniDelta.invalidateSnapshot(table)
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.createTable(s, table, src.schema,
        partitionBy = Seq("l_returnflag"),
        properties = Map(
          "delta.autoOptimize.optimizeWrite" -> "true",
          "delta.autoOptimize.autoCompact" -> "true"))
      s.conf.set("spark.graft.autoCompact.minNumFiles", "4")
      try for (r <- 0 to 3)
        graft.io.MiniDelta.append(s,
          src.where(pmod(col("l_linenumber"), lit(4)) === r), table,
          Seq("l_returnflag"))
      finally s.conf.unset("spark.graft.autoCompact.minNumFiles")
      graft.io.MiniDelta.vacuum(s, table, lite = true)
      s.read.parquet(table)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (sum(round(col("l_extendedprice") * 100)) / 100.0).as("sum_price"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    "sql_table_changes" -> ((s, d) => {
      // table_changes through SQL (Delta's CDF TVF): append (v0), CDF
      // on (v1 — DMLs now write REAL _change_data files), UPDATE (v2),
      // DELETE (v3), a NESTED-era TYPE WIDENING (v4, metadata-only —
      // contributes no feed rows), then a second UPDATE (v5) whose cdc
      // files carry the WIDE type. One feed spans it all: the v2/v3
      // cdc files store l_linenumber as INT and upcast through the
      // declared (BIGINT) read — the r18 readCdf contract — so
      // sum_line aggregates both eras under one type.
      // _commit_timestamp (wall-clock, non-oracle-stable) is checked
      // by count only.
      val dir = scratch("sql_tc")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      graft.io.MiniDelta.invalidateSnapshot(s"$dir/trades")
      val table = s"$dir/trades"
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      graft.io.MiniDelta.append(s, src, table, Seq("l_returnflag"))
      graft.io.MiniDelta.setTableProperties(s, table,
        Map("delta.enableChangeDataFeed" -> "true"))
      graft.io.MiniDelta.update(s, table, col("l_quantity") === 1,
        Map("l_extendedprice" -> lit(0.0)), Seq("l_returnflag"))
      graft.io.MiniDelta.delete(s, table,
        col("l_quantity") === 2 && pmod(col("l_orderkey"), lit(3)) === 0,
        Seq("l_returnflag"))
      graft.io.MiniDelta.widenColumnType(s, table, "l_linenumber",
        org.apache.spark.sql.types.LongType)
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.io.MiniDelta.update(s, table,
        col("l_quantity") === 2 && pmod(col("l_orderkey"), lit(3)) === 1,
        Map("l_extendedprice" -> lit(1.0)), Seq("l_returnflag"))
      graft.plans.GraftSqlTables.register("sql_tc_trades", table)
      s.sql("""
        SELECT _change_type AS change_type,
               _commit_version AS commit_version,
               count(*) AS n_rows,
               sum(round(l_extendedprice * 100)) / 100.0 AS sum_price,
               CAST(sum(l_linenumber) AS BIGINT) AS sum_line,
               count(_commit_timestamp) AS n_ts
        FROM table_changes('sql_tc_trades', 1)
        GROUP BY 1, 2 ORDER BY 1, 2""")
    }),
    "sql_replace_truncate" -> ((s, d) => {
      // TRUNCATE TABLE + CREATE OR REPLACE TABLE + SHOW COLUMNS end to
      // end: fill a table from lineitem, TRUNCATE it (one streamed
      // remove-all metadata commit — contents gone, log and layout
      // survive), then CREATE OR REPLACE with a swapped schema on the
      // SAME log and re-fill under the new contract. The output pins
      // the post-truncate emptiness, the replaced column list (via
      // SHOW COLUMNS), and the refilled aggregate — all
      // DuckDB-predictable.
      val dir = scratch("sql_replace")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val table = s"$dir/trades"
      graft.io.MiniDelta.invalidateSnapshot(table)
      graft.plans.GraftSqlTables.register("sql_rep_trades", table,
        readOnly = false)
      graft.plans.GraftSqlTables.register("sql_rep_src",
        Tables.path(d, "lineitem"))
      s.sql("""
        INSERT INTO graft.sql_rep_trades
        SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty,
               l_returnflag
        FROM graft.datalake.sql_rep_src WHERE l_quantity <= 2""")
      s.sql("TRUNCATE TABLE graft.sql_rep_trades")
      val nAfterTruncate = s.sql(
        "SELECT count(*) AS n FROM graft.sql_rep_trades").head().getLong(0)
      s.sql(
        "CREATE OR REPLACE TABLE graft.sql_rep_trades (flag STRING, n BIGINT)")
      s.sql("""
        INSERT INTO graft.sql_rep_trades
        SELECT l_returnflag AS flag, count(*) AS n
        FROM graft.datalake.sql_rep_src WHERE l_quantity <= 2
        GROUP BY 1""")
      val cols = s.sql("SHOW COLUMNS FROM graft.sql_rep_trades")
        .collect().map(_.getString(0)).mkString(",")
      s.sql("SELECT flag, n FROM graft.sql_rep_trades")
        .withColumn("post_truncate_rows", lit(nAfterTruncate))
        .withColumn("columns", lit(cols))
        .orderBy("flag")
    }),
    "sql_maintenance_extras" -> ((s, d) => {
      // The four round-11 maintenance verbs end to end through
      // spark.sql, each pinned by a DuckDB-predictable fact: SHALLOW
      // CLONE at a pinned version sees the source's rows AS OF that
      // version; REORG APPLY (PURGE) leaves zero DV-masked files and
      // commits dataChange=false throughout (physical, not logical);
      // VACUUM DRY RUN lists candidates but deletes nothing; the real
      // VACUUM then removes them without disturbing live reads; and
      // SHOW CREATE TABLE renders DDL that re-runs into an equivalent
      // table. NOTE the vacuum runs at horizon 0 on a CLONE SOURCE —
      // the clone's numbers are read BEFORE it, the real-Delta
      // discipline s22_clone documents.
      val dir = scratch("sql_maint")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val srcTable = s"$dir/src"
      val forkTable = s"$dir/fork"
      graft.io.MiniDelta.invalidateSnapshot(srcTable)
      graft.io.MiniDelta.invalidateSnapshot(forkTable)
      graft.plans.GraftSqlTables.unregister("sql_mx_fork")
      graft.plans.GraftSqlTables.unregister("sql_mx_ddl2")
      graft.plans.GraftSqlTables.register("sql_mx_src", srcTable,
        readOnly = false)
      graft.plans.GraftSqlTables.register("sql_mx_lineitem",
        Tables.path(d, "lineitem"))
      // v0 fill, v1 enable DVs, v2 DV DELETE (masks, no rewrite)
      s.sql("""
        INSERT INTO graft.sql_mx_src
        SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty,
               l_returnflag AS flag
        FROM graft.datalake.sql_mx_lineitem WHERE l_quantity <= 2""")
      s.sql("ALTER TABLE graft.sql_mx_src SET TBLPROPERTIES " +
        "('delta.enableDeletionVectors' = 'true')")
      s.sql("DELETE FROM graft.sql_mx_src WHERE qty = 2")
      // SHALLOW CLONE pinned to v0: pre-delete contents, zero copies
      s.sql(s"CREATE TABLE graft.sql_mx_fork SHALLOW CLONE " +
        s"graft.sql_mx_src VERSION AS OF 0 LOCATION '$forkTable'")
      val cloneRows = s.sql(
        "SELECT count(*) AS n FROM graft.sql_mx_fork").head().getLong(0)
      // REORG: masks materialized, commit all-dataChange=false
      s.sql("REORG TABLE graft.sql_mx_src APPLY (PURGE)")
      val dvFiles = graft.io.MiniDelta.snapshotFiles(s, srcTable)
        .where(col("dv_path").isNotNull).count()
      val reorgTxt = java.nio.file.Files.readString(
        java.nio.file.Paths.get(f"$srcTable/_delta_log/${graft.io
          .MiniDelta.latestVersion(s, srcTable)}%020d.json"))
      val reorgPhysical = reorgTxt.contains("\"remove\"") &&
        !reorgTxt.contains("\"dataChange\":true")
      // DRY RUN lists-but-keeps; the real run deletes what it listed
      val dr = s.sql("VACUUM graft.sql_mx_src RETAIN 0 HOURS DRY RUN")
        .collect().map(_.getString(0))
      def allExist(ps: Seq[String]) = ps.forall(p =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"$srcTable/$p")))
      val dryrunKept = dr.nonEmpty && allExist(dr.toSeq)
      s.conf.set("spark.graft.vacuum.retentionDurationCheck.enabled",
        "false")
      try s.sql("VACUUM graft.sql_mx_src RETAIN 0 HOURS")
      finally s.conf.unset(
        "spark.graft.vacuum.retentionDurationCheck.enabled")
      val vacuumDeleted = dr.forall(p => !java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$srcTable/$p")))
      // SHOW CREATE TABLE re-runs: swap alias + location, execute, and
      // the new table's column list must match the source's
      val ddl = s.sql("SHOW CREATE TABLE graft.sql_mx_src")
        .head().getString(0)
      val ddl2 = ddl.replace("graft.sql_mx_src", "graft.sql_mx_ddl2")
        .replaceAll("LOCATION '[^']*'",
          s"LOCATION '$dir/ddl2'")
      s.sql(ddl2)
      val showCreateReruns =
        s.sql("SHOW COLUMNS FROM graft.sql_mx_ddl2").collect()
          .map(_.getString(0)).toSeq ==
          s.sql("SHOW COLUMNS FROM graft.sql_mx_src").collect()
            .map(_.getString(0)).toSeq
      // post-vacuum live read: the REORG'd survivors, content-checked
      s.sql("""
        SELECT CAST(count(*) AS BIGINT) AS src_rows,
               CAST(sum(l_orderkey % 97) AS BIGINT) AS sum_key_mod
        FROM graft.sql_mx_src""")
        .withColumn("clone_rows", lit(cloneRows))
        .withColumn("post_reorg_dv_files", lit(dvFiles))
        .withColumn("reorg_physical", lit(reorgPhysical))
        .withColumn("dryrun_kept", lit(dryrunKept))
        .withColumn("vacuum_deleted", lit(vacuumDeleted))
        .withColumn("show_create_reruns", lit(showCreateReruns))
    }),
    "s37_row_tracking" -> ((s, d) => {
      // rowTracking lifecycle (Delta writer feature, reference scope =
      // the Delta tables the proxy serves must keep their invariants
      // under this engine's writes): CREATE with delta.enableRowTracking
      // + DVs, two appends, a DV DELETE, then OPTIMIZE. The log must
      // show ids assigned densely by the appends (mark = N-1), DV swaps
      // PRESERVING each re-added path's ids, and the OPTIMIZE rewrite
      // taking fresh disjoint ids for exactly the live rows
      // (mark = N-1 + n_live). Which file carries which range is
      // scheduler-dependent, so the oracle pins the layout-independent
      // facts: counts, the two marks, and the three invariants
      // (uniqueness, stability, monotonicity) as booleans. All collects
      // are metadata-scale (file manifests + log tail).
      import s.implicits._
      val dir = scratch("s37_rowtracking")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      graft.io.MiniDelta.invalidateSnapshot(s"$dir/trades")
      val table = s"$dir/trades"
      import org.apache.spark.sql.types._
      graft.io.MiniDelta.createTable(s, table, StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType),
        StructField("l_returnflag", StringType))),
        partitionBy = Seq("l_returnflag"),
        properties = Map("delta.enableRowTracking" -> "true",
          "delta.enableDeletionVectors" -> "true"))
      val src = Tables.load(s, d, "lineitem")
        .where(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 0), table,
        Seq("l_returnflag"), statsCols = Seq("l_quantity"))
      graft.io.MiniDelta.append(s,
        src.where(pmod(col("l_linenumber"), lit(2)) === 1), table,
        Seq("l_returnflag"), statsCols = Seq("l_quantity"))
      val vApp = graft.io.MiniDelta.latestVersion(s, table)
      // (path, baseRowId, defaultRowCommitVersion, numRecords, hasDv)
      def idsAt(v: Long): Array[(String, Long, Long, Long, Boolean)] =
        graft.io.MiniDelta.snapshotFilesAt(s, table, v)
          .select(col("path"), col("base_row_id"),
            col("default_row_commit"),
            get_json_object(col("stats"), "$.numRecords").cast("long")
              .as("recs"),
            col("dv_path").isNotNull.as("has_dv"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getBoolean(4)))
      val appIds = idsAt(vApp)
      graft.io.MiniDelta.delete(s, table,
        pmod(col("l_orderkey"), lit(3)) === 0, Seq("l_returnflag"))
      val vDel = graft.io.MiniDelta.latestVersion(s, table)
      val delIds = idsAt(vDel)
      val appById = appIds.map(a => a._1 -> ((a._2, a._3))).toMap
      val common = delIds.filter(a => appById.contains(a._1))
      // every surviving path keeps its ids, and at least one of them is
      // an actual DV swap (the non-vacuous half of the stability rule)
      val idsStable = common.exists(_._5) &&
        common.forall(a => appById(a._1) == ((a._2, a._3)))
      graft.io.MiniDelta.compact(s, table, Seq("l_returnflag"),
        statsCols = Seq("l_quantity"))
      val vOpt = graft.io.MiniDelta.latestVersion(s, table)
      val ranges = idsAt(vOpt).map(a => (a._2, a._2 + a._4 - 1))
        .sortBy(_._1).toSeq
      val idsUnique = ranges.headOption.forall(_._1 >= 0) &&
        ranges.sliding(2).forall {
          case Seq((_, hi), (lo2, _)) => lo2 > hi
          case _ => true
        }
      // the mark per version, straight from the log JSON (both the bare
      // and the escaped-inside-a-commit-line spelling)
      val marks = s.read.text(s"$table/_delta_log/*.json")
        .withColumn("f", input_file_name())
        .where(col("value").contains("rowIdHighWaterMark"))
        .select(
          regexp_extract(col("f"), """(\d+)\.json""", 1).cast("long")
            .as("v"),
          regexp_extract(col("value"),
            """\\?"rowIdHighWaterMark\\?"\s*:\s*(-?\d+)""", 1).cast("long")
            .as("hwm"))
        .groupBy("v").agg(max("hwm").as("hwm")).orderBy("v")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val markMonotone = marks.sliding(2).forall {
        case Seq((_, a), (_, b)) => a <= b
        case _ => true
      }
      val hwmApp = marks.filter(_._1 <= vApp).map(_._2).max
      val hwmFinal = marks.map(_._2).max
      val nLive = graft.io.MiniDelta.readFiltered(s, table, Seq.empty)
        .count()
      Seq((nLive, hwmApp, hwmFinal, idsUnique, idsStable, markMonotone))
        .toDF("n_live", "hwm_appends", "hwm_final", "ids_unique",
          "ids_stable", "mark_monotone")
    }))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    scanQueries ++ aclQueries ++ fnQueries ++ aggQueries ++ llmQueries ++
      sqlQueries

  def oracleSql: Map[String, String] = Oracles.sql
}
