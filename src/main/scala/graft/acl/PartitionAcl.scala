package graft.acl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StringType}

import graft.util.DriverRows

/** Partition-filter ACL algebra.
  *
  * Reference semantics (/root/reference/src/main.rs:388-415, 555-594):
  *   - one filter map = conjunction of `col = value` equalities       [P2,P3]
  *   - a list of maps = disjunction (OR-of-ANDs), results deduped     [P4,A6]
  *   - empty filter LIST  => allow all (no restriction)               [P7]
  *   - empty MAP inside a list => skipped (never "deny all")          [P7]
  *   - partition values compared as STRINGS (Hive path encoding)      [P2]
  *   - authorization = membership of the requested file in the
  *     resolved allowed set (403 otherwise)                           [P6,J2]
  *   - static config filters are unioned with DB-stored per-user
  *     filters before resolution                                      [J4]
  *
  * Spark-first restatement: the predicate is a plain Catalyst `Column`, so
  * when applied over a partitioned table Catalyst's
  * PruneFileSourcePartitions resolves it to a file set with zero data IO —
  * exactly the reference's `get_file_uris_by_partitions` — and at 100 TB
  * the filter rides the scan (partition pruning + parquet predicate
  * pushdown), never a post-scan filter of the full data.
  */
object PartitionAcl {
  /** OR-of-ANDs filter set: outer Seq = OR, inner Map = AND. */
  type Filters = Seq[Map[String, String]]

  /** The ACL predicate as a Catalyst Column. Allow-all on an empty list or
    * when every map is empty (reference skips empty maps). */
  def predicate(filters: Filters): Column = {
    val conjunctions = filters.filter(_.nonEmpty).map { m =>
      m.map { case (k, v) => col(k).cast(StringType) === lit(v) }
        .reduce(_ && _)
    }
    if (conjunctions.isEmpty) lit(true) else conjunctions.reduce(_ || _)
  }

  /** Apply the ACL to a table scan (the governed-read path). */
  def apply(df: DataFrame, filters: Filters): DataFrame =
    df.where(predicate(filters))

  /** P5: resolve a filter set against a file-metadata DF -> allowed files
    * (metadata-only pruning; dedup is inherent — one row per file). */
  def allowedFiles(files: DataFrame, filters: Filters): DataFrame =
    files.where(predicate(filters))

  /** J2: the requests whose key is in the allowed set (the reference's
    * membership test, src/main.rs:576-594). Driver-resident inputs are
    * tested on the driver with no Spark job; others take a broadcast
    * semi join (see [[membership]]). A null request key is never
    * allowed. */
  def authorize(requests: DataFrame, allowed: DataFrame,
                key: String = "key"): DataFrame =
    membership(requests, allowed, key, keep = true)

  /** P6: the 403 side — requested files NOT in the allowed set (a null
    * request key is among them). */
  def denied(requests: DataFrame, allowed: DataFrame,
             key: String = "key"): DataFrame =
    membership(requests, allowed, key, keep = false)

  /** The request rows whose `key` is (`keep`) or is not (`!keep`) among
    * the allowed keys, with equi-join semantics: a null key matches
    * nothing on either side.
    *
    * When both frames are driver rows ([[DriverRows.of]]: the rows
    * already sit in the driver, as for a frame built from a `Seq`) and the key
    * types are equal, the test is a hash-set lookup over those rows and
    * the answer is again a local frame: zero Spark jobs. Every other
    * input is a broadcast left semi/anti join against the allowed keys —
    * the distributed arm (an `isin` over the collected keys instead ran
    * ~8x slower at 2M requests against 667k keys). The build side needs
    * no `distinct()`: duplicate keys cannot change a semi or anti join's
    * answer. */
  private def membership(requests: DataFrame, allowed: DataFrame,
                         key: String, keep: Boolean): DataFrame = {
    val keys = allowed.select(key)
    val resolver = requests.sparkSession.sessionState.conf.resolver
    val local = (DriverRows.of(requests), DriverRows.of(keys)) match {
      case (Some(req), Some(alw)) =>
        val dt = alw.output.head.dataType
        req.output.zipWithIndex.filter(x => resolver(x._1.name, key)) match {
          case Seq((a, i)) if a.dataType == dt && DriverRows.comparable(dt) =>
            val allowedSet = alw.data.iterator.filterNot(_.isNullAt(0))
              .map(_.get(0, dt)).toSet
            val rows = req.data.filter(r =>
              if (r.isNullAt(i)) !keep
              else allowedSet.contains(r.get(i, dt)) == keep)
            Some(DriverRows.frame(requests.sparkSession, req.output, rows))
          case _ => None
        }
      case _ => None
    }
    local.getOrElse(requests.join(broadcast(keys), Seq(key),
      if (keep) "left_semi" else "left_anti"))
  }

  /** J4: static config filters unioned with DB filters. */
  def merge(static: Filters, db: Filters): Filters = static ++ db

  /** The JSON shape of a grant's `partition_filters`. */
  private val FiltersType = ArrayType(MapType(StringType, StringType))

  /** A grant row whose `partition_filters` is NULL or not a JSON list of
    * string maps. Decoding it as "no filters" would read as allow-all
    * (P7) for a user whose only row it is, so the lookup fails closed. */
  final class MalformedGrantException(user: String, table: String,
                                      detail: String, cause: Throwable = null)
      extends IllegalStateException(
        s"malformed grant for user '$user' on table '$table': $detail",
        cause)

  /** F11/J3: decode a permissions DF carrying a JSON `partition_filters`
    * column (Array[Map[String,String]]) into per-(user, table) filter rows,
    * mirroring the reference's sea-orm JSON column
    * (reference src/permission.rs:4-12, src/database.rs:45-51).
    * Fails closed: a NULL value raises naming the row's `user_id` and
    * `table_name`, and a malformed one fails the parse (FAILFAST). */
  def parsePermissions(perms: DataFrame,
                       jsonCol: String = "partition_filters"): DataFrame = {
    val raw = col(jsonCol)
    perms.withColumn("filters",
      when(raw.isNull, raise_error(format_string(
        "malformed grant for user '%s' on table '%s': partition_filters is NULL",
        col("user_id"), col("table_name"))))
        .otherwise(from_json(raw, FiltersType, Map("mode" -> "FAILFAST"))))
  }

  /** Decode one grant's `partition_filters` JSON on the driver: a list
    * of objects whose values are strings. `[]` is allow-all (P7); NULL
    * or any other shape raises [[MalformedGrantException]]. */
  def decodeFilters(json: String, user: String, table: String): Filters = {
    import scala.jdk.CollectionConverters._
    def bad(detail: String, cause: Throwable = null) =
      throw new MalformedGrantException(user, table, detail, cause)
    if (json == null) bad("partition_filters is NULL")
    val root =
      try GrantJson.readTree(json)
      catch { case e: java.io.IOException => bad(s"does not parse: $json", e) }
    if (!root.isArray) bad(s"not a JSON list: $json")
    root.elements().asScala.map { m =>
      if (!m.isObject) bad(s"list element is not an object: $json")
      m.properties().asScala.map { e =>
        if (!e.getValue.isTextual) bad(s"value of '${e.getKey}' is not a string: $json")
        e.getKey -> e.getValue.asText()
      }.toMap
    }.toSeq
  }

  // a duplicate key inside one map is ambiguous: refuse it, as Spark's
  // map decode does
  private val GrantJson = new com.fasterxml.jackson.databind.ObjectMapper()
    .enable(com.fasterxml.jackson.databind.DeserializationFeature
      .FAIL_ON_TRAILING_TOKENS)
    .enable(com.fasterxml.jackson.core.JsonParser.Feature
      .STRICT_DUPLICATE_DETECTION)

  /** Collect the merged filter set for (user, table) from a parsed
    * permissions DF — the driver-side "permission plan" step. The perms
    * table is small (catalog-scale); this is a driver lookup, not a join
    * in the data path. */
  def filtersFor(parsed: DataFrame, userId: String,
                 tableName: String): Filters = {
    import scala.jdk.CollectionConverters._
    parsed
      .where(col("user_id") === userId && col("table_name") === tableName)
      .select(explode(col("filters")).as("f"))
      .collect()
      .map(r => r.getMap[String, String](0).toMap)
      .toSeq
  }
}
