package graft.listing

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.util.DriverRows

/** S3-style object listing over a file-metadata DataFrame.
  *
  * Reference semantics (ListObjectsV2 emulation, /root/reference/src/main.rs:228-339):
  *   - keys returned in lexicographic (UTF-8 binary) order        [W1]
  *   - `prefix` filter on the logical key                          [P10]
  *   - `start-after`: strictly greater than a given key            [W2]
  *   - `max-keys`: page-size limit                                 [W3]
  *   - continuation token: offset pagination over the sorted keys  [W4]
  *   - `delimiter=/`: group keys into CommonPrefixes               [S3]
  *   - physical->logical key rewrite (alias prefix swap)           [F5]
  *
  * The fixture stand-in for the reference's partitioned trades table is a
  * synthetic Hive-style key space derived from `lineitem`
  * (lineitem/l_returnflag=R/l_linestatus=F/part-0000000001-01.parquet),
  * per FIXTURES.md role mapping.
  *
  * Scale notes: listing is a pure projection + filter + sort + limit.
  * Filters (`prefix`, `startAfter`) are predicate-pushed to the scan;
  * `orderBy.limit(n)` compiles to TakeOrderedAndProject (top-k per
  * partition, then k-way merge on the driver) — no global sort shuffle, so
  * it holds at 100 TB. Offset pagination (W4) numbers rows with the
  * distributed two-pass prefix sum (graft.operators.GlobalRowNumber);
  * at scale prefer keyset pagination (start-after), which is what S3
  * itself does. A listing that is driver rows (a proxy's materialized
  * per-table listing) is answered on the driver instead, in the same
  * UTF-8 binary key order, as a local frame: no Spark job per request.
  */
object ObjectListing {

  // File-metadata cache, mirroring the reference's TTL'd file-list cache
  // (/root/reference/src/main.rs:90-93): listings are served from
  // materialized metadata, not recomputed per request. Keyed by data dir;
  // metadata is small relative to data even at 100 TB (one row per file).
  // Obeys the SAME config knob (`fileListCache`) as the ACL file-list
  // cache — every cache the engine owns is bounded and TTL'd through
  // [[graft.catalog.GraftConfig.applyCaches]]; evicted frames release
  // their persisted blocks.
  @volatile private var filesCache =
    new graft.util.TtlCache[String, DataFrame](100, 120000L,
      onEvict = df => { df.unpersist(); () })

  /** Rebuild the listing cache from the `fileListCache` config knob —
    * entries discarded and unpersisted, like a reference restart. */
  def configureFilesCache(cfg: graft.catalog.CacheConfig): Unit = {
    val old = filesCache
    filesCache = new graft.util.TtlCache[String, DataFrame](
      cfg.maxEntries, cfg.ttlMs, onEvict = df => { df.unpersist(); () })
    old.clear()
  }

  def filesDF(spark: SparkSession, sfDir: String): DataFrame = {
    val cache = filesCache
    val df = cache.getOrElseUpdate(sfDir)(buildFilesDF(spark, sfDir).persist())
    // configureFilesCache may have swapped the cache while this miss was
    // in flight — the insert landed in the orphaned instance; clear it
    // (again) so the raced persist is released instead of leaking
    if (cache ne filesCache) cache.clear()
    df
  }

  /** Synthetic file-metadata DF: key, size, etag, last_modified,
    * storage_class (+ the partition columns they were derived from).
    * The fixture data has duplicate (orderkey, linenumber) pairs, so keys
    * are deduplicated with order-independent min-aggregates — a real
    * object listing has unique keys. */
  def buildFilesDF(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    li.select(
      concat(
        lit("lineitem/l_returnflag="), col("l_returnflag"),
        lit("/l_linestatus="), col("l_linestatus"),
        lit("/part-"), lpad(col("l_orderkey").cast("string"), 10, "0"),
        lit("-"), lpad(col("l_linenumber").cast("string"), 2, "0"),
        lit(".parquet")).as("key"),
      (col("l_orderkey") * 131 + col("l_linenumber") * 7).as("size"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .groupBy("key")
      .agg(min(col("size")).as("size"),
        min(col("l_returnflag")).as("l_returnflag"),
        min(col("l_linestatus")).as("l_linestatus"),
        min(col("l_shipdate")).as("last_modified"))
      .withColumn("etag", md5(col("key")))
      .withColumn("storage_class", lit("STANDARD"))
  }

  /** One ListObjectsV2 page: prefix + start-after + max-keys, key order.
    * A listing of driver rows is filtered, sorted and cut on the driver
    * and the page is again a local frame; any other listing takes
    * `orderBy.limit`. */
  def list(files: DataFrame, prefix: String, startAfter: Option[String],
           maxKeys: Int): DataFrame = {
    require(maxKeys >= 0, s"maxKeys must be >= 0, got $maxKeys")
    val cols = Seq("key", "size", "etag", "last_modified", "storage_class")
    local(files, cols).map { case (l, idx) =>
      val after = startAfter.map(UTF8String.fromString)
      val kept = keyed(l, idx.head, prefix).filter { case (k, _) =>
        after.forall(a => a != null && k.compareTo(a) > 0)
      }.sortBy(_._1)(KeyOrder).take(maxKeys)
      DriverRows.frame(files.sparkSession, idx.map(l.output),
        kept.map(r => InternalRow.fromSeq(values(l, r._2, idx))))
    }.getOrElse {
      val prefixed = files.where(col("key").startsWith(prefix))
      val after = startAfter.fold(prefixed)(k => prefixed.where(col("key") > k))
      after.select(cols.map(col): _*).orderBy("key").limit(maxKeys)
    }
  }

  /** `delimiter=/` grouping: distinct first path segment below the prefix,
    * rendered as CommonPrefixes entries (src/main.rs:273-317). Driver
    * rows group on the driver, like [[list]]. */
  def commonPrefixes(files: DataFrame, prefix: String): DataFrame =
    local(files, Seq("key")).map { case (l, idx) =>
      val p = UTF8String.fromString(prefix)
      val slash = UTF8String.fromString("/")
      val groups = keyed(l, idx.head, prefix).flatMap { case (k, _) =>
        val rest = k.substring(p.numChars, k.numChars)
        val cut = rest.indexOf(slash, 0)
        if (cut < 0) None
        else Some(UTF8String.concat(p, rest.substring(0, cut), slash))
      }.distinct.sorted(KeyOrder)
      DriverRows.frame(files.sparkSession,
        Seq(AttributeReference("common_prefix", StringType)()),
        groups.map(g => InternalRow(g)))
    }.getOrElse {
      val rest = expr(s"substring(key, ${chars(prefix) + 1})")
      files.where(col("key").startsWith(prefix))
        .where(instr(rest, "/") > 0)
        .select(concat(lit(prefix),
          substring_index(rest, "/", 1), lit("/")).as("common_prefix"))
        .distinct()
        .orderBy("common_prefix")
    }

  /** Continuation-token pagination: rows (pageNum-1)*pageSize+1 .. of the
    * key-ordered listing, with their global row numbers. Numbering runs
    * distributed ([[graft.operators.GlobalRowNumber]]: range partition +
    * per-partition offsets) — not the single-partition
    * `Window.orderBy` plan, which cannot hold at 100 TB. Keys are unique,
    * so the order is total and rn is deterministic. At scale prefer
    * keyset pagination (start-after, what S3 itself does) when the row
    * number itself isn't needed. Driver rows are numbered on the driver
    * in the same order (a null key first, as the ascending sort puts
    * it). */
  def page(files: DataFrame, pageSize: Int, pageNum: Int): DataFrame = {
    val lo = (pageNum - 1).toLong * pageSize
    val hi = pageNum.toLong * pageSize
    local(files, Seq("key", "size")).map { case (l, idx) =>
      val k = idx.head
      val sorted = l.data.sortBy(r =>
        if (r.isNullAt(k)) None else Some(r.getUTF8String(k)))(
        Ordering.Option(KeyOrder))
      val rows = sorted.zipWithIndex.collect {
        case (r, i) if i + 1L > lo && i + 1L <= hi =>
          InternalRow.fromSeq(values(l, r, idx) :+ (i + 1L))
      }
      DriverRows.frame(files.sparkSession,
        idx.map(l.output) :+ AttributeReference("rn", LongType, nullable = false)(),
        rows)
    }.getOrElse(graft.operators.GlobalRowNumber(
      files.select("key", "size"), Seq(col("key")))
      .where(col("rn") > lo && col("rn") <= hi))
  }

  /** The listing's driver rows with `names` resolved to column indexes,
    * when `files` is driver rows whose `key` is a plain (UTF-8 binary)
    * string; None sends the caller to its DataFrame plan. */
  private def local(files: DataFrame, names: Seq[String])
      : Option[(LocalRelation, Seq[Int])] =
    DriverRows.of(files).flatMap { l =>
      val resolver = files.sparkSession.sessionState.conf.resolver
      val idx = names.map(n => l.output.indexWhere(a => resolver(a.name, n)))
      val unique = names.forall(n => l.output.count(a => resolver(a.name, n)) == 1)
      if (unique && l.output(idx.head).dataType == StringType) Some((l, idx))
      else None
    }

  /** The rows whose key starts with `prefix`, with their keys; a null
    * key never matches. */
  private def keyed(l: LocalRelation, k: Int, prefix: String)
      : Seq[(UTF8String, InternalRow)] = {
    val p = UTF8String.fromString(prefix)
    l.data.collect {
      case r if !r.isNullAt(k) && r.getUTF8String(k).startsWith(p) =>
        (r.getUTF8String(k), r)
    }
  }

  private def values(l: LocalRelation, r: InternalRow,
                     idx: Seq[Int]): Seq[Any] =
    idx.map(i => if (r.isNullAt(i)) null else r.get(i, l.output(i).dataType))

  // Spark's order on strings: UTF-8 bytes, unsigned (a supplementary
  // character sorts after U+FFFD, unlike Java's UTF-16 String order)
  private val KeyOrder: Ordering[UTF8String] = (a, b) => a.compareTo(b)

  /** Spark's `substring` counts characters (code points), not UTF-16
    * units. */
  private def chars(s: String): Int = s.codePointCount(0, s.length)

  /** F5/P10: physical key -> logical key (base prefix swapped for alias). */
  def toLogical(df: DataFrame, physicalBase: String, alias: String): DataFrame =
    df.withColumn("key",
      concat(lit(alias), lit("/"),
        expr(s"substring(key, ${chars(physicalBase) + 1})")))

  /** F5/P10 inverse: logical key -> physical key. */
  def toPhysical(df: DataFrame, physicalBase: String, alias: String): DataFrame =
    df.withColumn("key",
      concat(lit(physicalBase),
        expr(s"substring(key, ${chars(alias) + 2})")))

  /** S8 HEAD: metadata projection for one key; no data scan. */
  def head(files: DataFrame, key: String): DataFrame =
    files.where(col("key") === key)
      .select("key", "size", "etag", "last_modified", "storage_class")
}
