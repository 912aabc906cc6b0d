package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.acl.{AclCaches, DbPermissions, PartitionAcl}
import graft.catalog.{DatabaseConfig, GraftConfig}

/** Live DB-backed permission store (reference src/database.rs:28-52)
  * against a real embedded Derby database through the config path. */
class DbPermissionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshDb(): String = {
    System.setProperty("derby.stream.error.file", "/tmp/graft_derby.log")
    val dir = Files.createTempDirectory("graftdb").toString + "/perms"
    val conn = java.sql.DriverManager
      .getConnection(s"jdbc:derby:$dir;create=true")
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE permissions (id INT PRIMARY KEY, " +
          "user_id VARCHAR(64) NOT NULL, table_name VARCHAR(64) NOT NULL, " +
          "partition_filters VARCHAR(1024) NOT NULL)")
      st.executeUpdate("""INSERT INTO permissions VALUES """ +
        """(1, 'alice', 'trades', '[{"year":"2023"},{"year":"2024"}]'), """ +
        """(2, 'alice', 'orders', '[{"status":"F"}]'), """ +
        """(3, 'bob', 'trades', '[{"year":"1999"}]')""")
      st.close()
    } finally conn.close()
    dir
  }

  test("uri mapping: scheme URIs become jdbc URLs, jdbc passes through") {
    assert(DbPermissions.jdbcUrl("derby:/x/y") == "jdbc:derby:/x/y")
    assert(DbPermissions.jdbcUrl("sqlite:delta_proxy.db") ==
      "jdbc:sqlite:delta_proxy.db")
    assert(DbPermissions.jdbcUrl("jdbc:derby:/x/y") == "jdbc:derby:/x/y")
  }

  test("databaseEnabled=false skips the DB entirely (reference behavior)") {
    val cfg = GraftConfig(databaseEnabled = false,
      database = DatabaseConfig("derby:/nonexistent/path"))
    // would throw if the (nonexistent) DB were touched
    assert(DbPermissions.filtersFor(spark, cfg, "alice", "trades").isEmpty)
  }

  test("grants read through JDBC; per-user pushdown; unknown user empty") {
    val dir = freshDb()
    val cfg = GraftConfig(databaseEnabled = true,
      database = DatabaseConfig(s"derby:$dir"))
    AclCaches.dbPerms.clear()
    assert(DbPermissions.filtersFor(spark, cfg, "alice", "trades") ==
      Seq(Map("year" -> "2023"), Map("year" -> "2024")))
    assert(DbPermissions.filtersFor(spark, cfg, "bob", "trades") ==
      Seq(Map("year" -> "1999")))
    assert(DbPermissions.filtersFor(spark, cfg, "carol", "trades").isEmpty)
    assert(DbPermissions.filtersFor(spark, cfg, "alice", "nope").isEmpty)
  }

  test("lookups are LRU-memoized; invalidate observes new grants") {
    val dir = freshDb()
    val cfg = GraftConfig(databaseEnabled = true,
      database = DatabaseConfig(s"derby:$dir"))
    AclCaches.dbPerms.clear()
    val first = DbPermissions.filtersFor(spark, cfg, "alice", "orders")
    assert(first == Seq(Map("status" -> "F")))
    // a grant lands behind the cache's back
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$dir")
    try {
      val st = conn.createStatement()
      st.executeUpdate("""INSERT INTO permissions VALUES """ +
        """(9, 'alice', 'orders', '[{"status":"O"}]')""")
      st.close()
    } finally conn.close()
    // memoized: the stale result is served (the reference's LRU does
    // the same — staleness until eviction is documented)
    assert(DbPermissions.filtersFor(spark, cfg, "alice", "orders") == first)
    DbPermissions.invalidate(cfg, "alice", "orders")
    assert(DbPermissions.filtersFor(spark, cfg, "alice", "orders").toSet ==
      Set(Map("status" -> "F"), Map("status" -> "O")))
  }

  test("a config pointing at a different DB never serves the old DB's grants") {
    val dirA = freshDb()
    val cfgA = GraftConfig(databaseEnabled = true,
      database = DatabaseConfig(s"derby:$dirA"))
    AclCaches.dbPerms.clear()
    assert(DbPermissions.filtersFor(spark, cfgA, "alice", "trades") ==
      Seq(Map("year" -> "2023"), Map("year" -> "2024")))
    // DB B: same (user, table) key, different grant
    val dirB = freshDb()
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$dirB")
    try {
      val st = conn.createStatement()
      st.executeUpdate("UPDATE permissions SET partition_filters = " +
        """'[{"year":"9999"}]' WHERE user_id = 'alice' AND """ +
        "table_name = 'trades'")
      st.close()
    } finally conn.close()
    val cfgB = cfgA.copy(database = DatabaseConfig(s"derby:$dirB"))
    // the memo key carries the URI: B's grants, not A's memo
    assert(DbPermissions.filtersFor(spark, cfgB, "alice", "trades") ==
      Seq(Map("year" -> "9999")))
    // and A's memo is still intact for A
    assert(DbPermissions.filtersFor(spark, cfgA, "alice", "trades") ==
      Seq(Map("year" -> "2023"), Map("year" -> "2024")))
  }

  test("merge: static config filters union the DB grants (J4)") {
    val dir = freshDb()
    val cfg = GraftConfig(databaseEnabled = true,
      database = DatabaseConfig(s"derby:$dir"),
      allowedPartitions = Map("trades" -> Seq(Map("region" -> "eu"))))
    AclCaches.dbPerms.clear()
    assert(DbPermissions.mergedFilters(spark, cfg, "alice", "trades") ==
      Seq(Map("region" -> "eu"), Map("year" -> "2023"),
        Map("year" -> "2024")))
  }

  /** A database whose `partition_filters` column admits NULL, holding
    * one row per (user, value); a None value is stored as NULL. */
  private def dbWithRows(rows: Seq[(String, Option[String])]): String = {
    System.setProperty("derby.stream.error.file", "/tmp/graft_derby.log")
    val dir = Files.createTempDirectory("graftdb").toString + "/perms"
    val conn = java.sql.DriverManager
      .getConnection(s"jdbc:derby:$dir;create=true")
    try {
      conn.createStatement().executeUpdate(
        "CREATE TABLE permissions (id INT PRIMARY KEY, " +
          "user_id VARCHAR(64) NOT NULL, table_name VARCHAR(64) NOT NULL, " +
          "partition_filters VARCHAR(1024))")
      val st = conn.prepareStatement(
        "INSERT INTO permissions VALUES (?, ?, 'trades', ?)")
      rows.zipWithIndex.foreach { case ((user, json), i) =>
        st.setInt(1, i + 1)
        st.setString(2, user)
        st.setString(3, json.orNull)
        st.executeUpdate()
      }
      st.close()
    } finally conn.close()
    dir
  }

  test("a malformed or NULL grant fails closed by name; [] is allow-all") {
    val dir = dbWithRows(Seq(
      "dave" -> Some("""[{"region":"r1"}"""),     // truncated: his only row
      "erin" -> None,                              // NULL
      "finn" -> Some("""{"region":"r1"}"""),      // not a list
      "gail" -> Some("""[{"region":1}]"""),       // a non-string value
      "hugo" -> Some("""[{"region":"r1"}] x"""),  // trailing garbage
      "kate" -> Some("""[{"region":"r1","region":"r2"}]"""), // duplicate key
      "ivan" -> Some("[]"),                        // P7: allow-all
      "jill" -> Some("""[{"region":"r2"}]"""),
      "jill" -> Some("[]")))                       // adds nothing
    val cfg = GraftConfig(databaseEnabled = true,
      database = DatabaseConfig(s"derby:$dir"))
    AclCaches.dbPerms.clear()
    Seq("dave", "erin", "finn", "gail", "hugo", "kate").foreach { user =>
      val e = intercept[PartitionAcl.MalformedGrantException](
        DbPermissions.filtersFor(spark, cfg, user, "trades"))
      assert(e.getMessage.contains(s"user '$user'") &&
        e.getMessage.contains("table 'trades'"), e.getMessage)
      // a failed lookup is not memoized as "no grants"
      assert(AclCaches.dbPerms.get(
        AclCaches.cacheKey(s"${cfg.database.uri}#$user", "trades")).isEmpty)
    }
    assert(DbPermissions.filtersFor(spark, cfg, "ivan", "trades").isEmpty)
    assert(DbPermissions.filtersFor(spark, cfg, "jill", "trades") ==
      Seq(Map("region" -> "r2")))
  }

  test("parsePermissions fails closed on a malformed or NULL grant") {
    import spark.implicits._
    def lookup(json: String) = PartitionAcl.filtersFor(
      PartitionAcl.parsePermissions(Seq((1, "dave", "trades", json))
        .toDF("id", "user_id", "table_name", "partition_filters")),
      "dave", "trades")
    val nul = intercept[Exception](lookup(null))
    assert(nul.getMessage.contains("user 'dave'") &&
      nul.getMessage.contains("table 'trades'"), nul.getMessage)
    intercept[Exception](lookup("""[{"region":"r1"}"""))
    assert(lookup("[]").isEmpty)
    assert(lookup("""[{"region":"r1"}]""") == Seq(Map("region" -> "r1")))
  }
}
