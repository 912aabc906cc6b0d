package graft.acl

import org.apache.spark.sql.SparkSession

import graft.catalog.GraftConfig

/** Live DB-backed permission store (J3/J4's database half).
  *
  * The reference reads per-(user, table) permission rows from a SQL
  * database at query time through sea-orm with an LRU memo
  * (/root/reference/src/database.rs:28-52, table shape
  * /root/reference/src/permission.rs:4-12: `permissions(id, user_id,
  * table_name, partition_filters JSON)`), and merges the result with the
  * config's static filters before resolving the allowed file set
  * (/root/reference/src/main.rs:555-574).
  *
  * Restatement: on a memo miss the driver runs the reference's one
  * filtered query over plain JDBC — `SELECT partition_filters FROM
  * permissions WHERE user_id = ? AND table_name = ? ORDER BY id`,
  * parameterized, one connection per lookup, closed after it — and
  * decodes each row's JSON with [[PartitionAcl.decodeFilters]]. A NULL
  * or malformed row fails the lookup by name rather than reading as
  * allow-all. The result feeds the same [[PartitionAcl.merge]] chain
  * the in-memory path uses, memoized per (user, table) in
  * [[AclCaches.dbPerms]] (the reference's `cached` macro, LRU 100). No
  * Spark job runs: the grant rows are a handful of bytes.
  *
  * Scale: permission rows are catalog-scale metadata (bytes per user ×
  * table) — a driver-side lookup memoized across queries, never a join
  * in the data path. The DB is read once per cache miss, not per file.
  *
  * URI scheme: the reference's config carries `sqlite:...` -style URIs;
  * [[jdbcUrl]] maps scheme-only URIs onto `jdbc:` URLs and passes
  * explicit `jdbc:` URIs through untouched, so any JDBC driver on the
  * classpath works (this environment ships Derby; SQLite works wherever
  * its driver jar is present).
  */
object DbPermissions {

  /** Map a reference-style database URI to a JDBC URL. */
  def jdbcUrl(uri: String): String =
    if (uri.startsWith("jdbc:")) uri else s"jdbc:$uri"

  /** Known embedded-driver classes by scheme, loaded before connecting
    * so DriverManager sees them whatever classloader the caller runs
    * under. Unlisted schemes rely on JDBC 4 autoloading. */
  private def driverFor(url: String): Option[String] =
    if (url.startsWith("jdbc:derby:")) Some("org.apache.derby.jdbc.EmbeddedDriver")
    else if (url.startsWith("jdbc:sqlite:")) Some("org.sqlite.JDBC")
    else None

  /** The decoded grants of (user, table), in row-id order: one
    * parameterized query on the driver. */
  private def lookup(uri: String, user: String,
                     table: String): PartitionAcl.Filters = {
    val url = jdbcUrl(uri)
    driverFor(url).foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.prepareStatement("SELECT partition_filters FROM " +
        "permissions WHERE user_id = ? AND table_name = ? ORDER BY id")
      st.setString(1, user)
      st.setString(2, table)
      val rs = st.executeQuery()
      val out = Seq.newBuilder[Map[String, String]]
      while (rs.next())
        out ++= PartitionAcl.decodeFilters(rs.getString(1), user, table)
      out.result()
    } finally conn.close()
  }

  /** DB filters for (user, table): empty when `databaseEnabled` is off
    * (the reference skips the DB lookup entirely then), else the decoded
    * `partition_filters` of the user's rows, LRU-memoized. */
  def filtersFor(spark: SparkSession, cfg: GraftConfig, user: String,
                 table: String): PartitionAcl.Filters =
    if (!cfg.databaseEnabled) Seq.empty
    // the memo key carries the database URI: a config reload pointing at
    // a DIFFERENT permissions DB must never serve the old DB's grants
    // (the memo has no TTL; staleness within ONE database is the
    // reference's documented LRU behavior, cross-database is not)
    else AclCaches.permsFor(s"${cfg.database.uri}#$user", table)(
      lookup(cfg.database.uri, user, table))

  /** Drop the memoized grants for (user, table) under this config's
    * database — the immediate-revocation hook (the memo has no TTL). */
  def invalidate(cfg: GraftConfig, user: String, table: String): Unit =
    AclCaches.dbPerms.invalidate(
      AclCaches.cacheKey(s"${cfg.database.uri}#$user", table))

  /** J4: the effective filter set = config statics ∪ DB grants — the
    * reference's merge at src/main.rs:555-574. */
  def mergedFilters(spark: SparkSession, cfg: GraftConfig, user: String,
                    alias: String): PartitionAcl.Filters =
    PartitionAcl.merge(cfg.staticFilters(alias),
      filtersFor(spark, cfg, user, alias))
}
