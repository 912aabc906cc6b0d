package opbench

import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.acl.{AclCaches, DbPermissions, PartitionAcl}
import graft.catalog.{Catalog, DatabaseConfig, GraftConfig}
import graft.io.{MiniDelta, RawBytes}
import graft.listing.ObjectListing
import graft.plans.{GovernedTables, GraftSqlTables}

/** Read-only governed reads: what a downstream Spark client does through
  * the proxy, one (user, table) request at a time.
  *
  * Fixture: [[Tables]] partitioned Delta tables of 8 regions x 8 days
  * (64 partitions), each written as one full commit, a checkpoint of
  * it, and a tail of two commits touching 4 partitions each. Grants live in an
  * embedded Derby `permissions` table. Requests are drawn Zipf(1) over
  * [[Users]] x [[Tables]] = 256 (user, table) keys — more keys than the
  * 100-entry file-list and permission memos hold, so both the hit and
  * the miss paths run. The rank draws come from the fixed [[RankSeed]]
  * (the seed maps ranks to keys), so every seed meets the same hit/miss
  * pattern. Set-up fills both memos to steady state over [[FillPerTable]]
  * x [[Tables]] draws (more than 100 distinct keys), so timed misses evict.
  *
  * One op: resolve the alias; merge static and DB grants; resolve the
  * allowed file set through the file-list memo (pruning the cached
  * snapshot on a miss); list one page of an allowed partition; authorize
  * the page and read the footer bytes of its first object; run a
  * governed `SELECT count(*), sum(amount) FROM graft.<alias>`. The
  * aggregate, the allowed-file count, the page's authorization and the
  * footer magic are all checked against the generator. */
final class GovernedRead(spark: SparkSession, seed: Long, tr: Tracer)
    extends Workload {
  import GovernedRead._
  import spark.implicits._

  private var cfg: GraftConfig = _
  private var catalog: Catalog = _
  private var paths: IndexedSeq[String] = _
  private var listings: IndexedSeq[DataFrame] = _
  private var expect: Map[(String, Int), Expect] = _
  // the request ranks are one fixed Zipf draw, so every seed sees the
  // same hit/miss pattern; the seed maps ranks to (user, table) keys
  private val zipf = new Workload.Zipf(Users * Tables, 1.0,
    new scala.util.Random(RankSeed))
  private val keyOfRank =
    new scala.util.Random(seed).shuffle((0 until Users * Tables).toVector)
  private var dbUri: String = _
  private val keysSeen = mutable.Set.empty[(String, Int)]
  private var fileListEvictions = 0
  private var permsEvictions = 0
  // the last file-list miss: files kept by the prune, and the snapshot
  private var pruned: Option[(Int, DataFrame)] = None

  private def alias(t: Int) = s"sales$t"
  private def user(u: Int) = f"u$u%02d"

  def setup(dir: String, r: Runner): Unit = {
    val gen = new scala.util.Random(seed * 31 + 7)
    paths = (0 until Tables).map(t => s"$dir/tables/t$t")
    // rows and files per (table, region, day), tracked while writing
    val rows = Array.fill(Tables)(mutable.Map.empty[(Int, Int), (Long, Long)])
    val files = Array.fill(Tables)(mutable.Map.empty[(Int, Int), Int])
    var nextId = 0L
    /** The rows of one commit of table t, drawn from the generator. */
    def batch(t: Int, parts: Seq[(Int, Int)], perPart: Int) = {
      val b = for (p <- parts; _ <- 0 until perPart) yield {
        nextId += 1
        (nextId, gen.nextInt(1000).toLong, s"r${p._1}", s"d${p._2}")
      }
      parts.foreach { p =>
        val (n, s) = rows(t).getOrElse(p, (0L, 0L))
        val add = b.filter(x => x._3 == s"r${p._1}" && x._4 == s"d${p._2}")
        rows(t)(p) = (n + add.size, s + add.map(_._2).sum)
        files(t)(p) = files(t).getOrElse(p, 0) + 1
      }
      b
    }
    val all = for (rg <- 0 until Regions; d <- 0 until Days) yield (rg, d)
    def some() = gen.shuffle(all).take(4).sorted
    val commits = (0 until Tables).map(t =>
      Seq(batch(t, all, 6), batch(t, some(), 2), batch(t, some(), 2)))
    // the tables are independent: each is written on its own thread
    // (full commit, checkpoint, tail, then its listing), all four at once
    val built = new Array[DataFrame](Tables)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Tables)
    try {
      commits.zipWithIndex.map { case (bs, t) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            bs.zipWithIndex.foreach { case (b, i) =>
              // one task per partition value: one file per partition
              val df = b.toDF("id", "amount", "region", "day")
                .repartition(col("region"), col("day"))
              MiniDelta.append(spark, df, paths(t), Seq("region", "day"))
              if (i == 0) MiniDelta.writeCheckpoint(spark, paths(t), 0L)
            }
            built(t) = listing(t)
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    listings = built.toIndexedSeq

    // grants: 1-3 maps per (user, table); one key in 16 has no row
    // at all, which means allow-all (an empty grant list)
    val grants = for (u <- 0 until Users; t <- 0 until Tables) yield {
      val maps =
        if (gen.nextInt(16) == 0) Seq.empty
        else Seq.fill(1 + gen.nextInt(3)) {
          val rg = gen.nextInt(Regions)
          if (gen.nextBoolean()) Map("region" -> s"r$rg")
          else Map("region" -> s"r$rg", "day" -> s"d${gen.nextInt(Days)}")
        }
      (user(u), t) -> maps
    }
    dbUri = s"jdbc:derby:$dir/perms"
    val conn = DriverManager.getConnection(s"$dbUri;create=true")
    try {
      conn.createStatement().execute(
        "CREATE TABLE permissions (id INT PRIMARY KEY, user_id VARCHAR(16), " +
          "table_name VARCHAR(16), partition_filters VARCHAR(1000))")
      val ins = conn.prepareStatement(
        "INSERT INTO permissions VALUES (?, ?, ?, ?)")
      var id = 0
      grants.foreach { case ((u, t), maps) =>
        maps.foreach { m =>
          id += 1
          ins.setInt(1, id)
          ins.setString(2, u)
          ins.setString(3, alias(t))
          ins.setString(4, m.map { case (k, v) => s""""$k":"$v"""" }
            .mkString("[{", ",", "}]"))
          ins.executeUpdate()
        }
      }
    } finally conn.close()

    val grantsOf = grants.toMap
    expect = grantsOf.map { case ((u, t), maps) =>
      val allowed =
        if (maps.isEmpty) all.toSet
        else all.filter { case (rg, d) =>
          maps.exists(m => m("region") == s"r$rg" &&
            m.get("day").forall(_ == s"d$d"))
        }.toSet
      val present = allowed.filter(files(t).contains)
      (u, t) -> Expect(present.toSeq.map(p => rows(t)(p)._1).sum,
        present.toSeq.map(p => rows(t)(p)._2).sum,
        present.toSeq.map(files(t)).sum, present.min)
    }

    cfg = Workload.runCaches(GraftConfig(
      tableMapping = (0 until Tables).map(t => alias(t) -> paths(t)).toMap,
      databaseEnabled = true,
      database = DatabaseConfig(dbUri)))
    cfg.applyCaches()
    catalog = cfg.catalog
    GraftSqlTables.register(catalog)
    // fill both ACL memos to steady state: the fixed Zipf draws pass
    // their 100 entries, so the timed reads meet full memos and a miss
    // evicts. The entries go in through the memos' own get-or-insert, in
    // draw order, holding the grants and allowed-file sets the generator
    // knows (the program's lookups, a Spark job per miss, would add ~10 s
    // to every set-up); a timed hit on one is checked like any read
    val snapFiles = paths.map(p => MiniDelta.snapshotFilesCached(spark, p)
      .select("path", "partitionValues").collect()
      .map(x => x.getString(0) -> x.getMap[String, String](1).toMap).toSeq)
    (0 until FillPerTable * Tables).foreach { _ =>
      val q = next()
      val a = alias(q.table)
      val maps = grantsOf((q.user, q.table))
      AclCaches.permsFor(s"${cfg.database.uri}#${q.user}", a)(maps)
      AclCaches.fileList.getOrElseUpdate(AclCaches.cacheKey(q.user, a)) {
        val files = snapFiles(q.table).filter { case (_, pv) =>
          maps.isEmpty || maps.exists(_.forall { case (k, v) => pv.get(k).contains(v) })
        }.map(_._1)
        if (files.size != expect((q.user, q.table)).files)
          sys.error(s"memo fill: wrong allowed-file set for $q")
        files
      }
      keysSeen += ((q.user, q.table))
    }
    (0 until Warmup).foreach(_ => readOp(r, next()))
  }

  /** The object listing a proxy serves for table t: the snapshot's
    * files under logical keys, materialized once like the reference's
    * listing cache. */
  private def listing(t: Int): DataFrame = {
    val snap = MiniDelta.snapshotFiles(spark, paths(t))
      .select(col("path").as("key"), col("size"),
        md5(col("path")).as("etag"),
        (col("modificationTime") / 1000).cast("timestamp")
          .as("last_modified"),
        lit("STANDARD").as("storage_class"))
    val logical = ObjectListing.toLogical(
      snap.withColumn("key", concat(lit(paths(t) + "/"), col("key"))),
      paths(t) + "/", alias(t))
    spark.createDataFrame(
      java.util.Arrays.asList(logical.collect(): _*), logical.schema)
  }

  private def next(): Req = {
    val k = keyOfRank(zipf.next())
    Req(user(k / Tables), k % Tables)
  }

  def run(r: Runner, ops: Int): Unit = {
    fileListEvictions = 0
    permsEvictions = 0
    (0 until ops).foreach(_ => readOp(r, next()))
  }

  override def teardown(): Unit = {
    GraftSqlTables.clear()
    GovernedTables.clear()
    // release the embedded database (Derby reports a clean shutdown
    // as an SQLException)
    try DriverManager.getConnection(s"$dbUri;shutdown=true")
    catch { case _: java.sql.SQLException => () }
  }

  /** Steps 2-3 of a read: the merged grants, then the allowed-file set
    * through the file-list memo (pruning the cached snapshot on a
    * miss). Counts each memo's misses that evict, and the keys seen. */
  private def acl(q: Req, path: String): (PartitionAcl.Filters, Seq[String]) = {
    val a = alias(q.table)
    keysSeen += ((q.user, q.table))
    val permsKey = AclCaches.cacheKey(s"${cfg.database.uri}#${q.user}", a)
    val permsHit = AclCaches.dbPerms.get(permsKey).isDefined
    val permsSize = AclCaches.dbPerms.size
    tr.count("acl.perms_hit", if (permsHit) 1 else 0)
    val filters = tr.span("acl.filters")(
      DbPermissions.mergedFilters(spark, cfg, q.user, a))
    // a miss that leaves the memo's size unchanged evicted an entry
    if (!permsHit && AclCaches.dbPerms.size == permsSize) permsEvictions += 1
    val snap = tr.span("log.cached_snapshot")(
      MiniDelta.snapshotFilesCached(spark, path))
    val listKey = AclCaches.cacheKey(q.user, a)
    val listHit = AclCaches.fileList.get(listKey).isDefined
    val listSize = AclCaches.fileList.size
    tr.count("acl.filelist_hit", if (listHit) 1 else 0)
    pruned = None
    val allowed = tr.span("acl.allowed_files")(
      AclCaches.allowedFilesFor(q.user, a) {
        val kept = tr.span("prune")(
          MiniDelta.filesForFilters(snap, filters).select("path").collect())
        pruned = Some((kept.length, snap))
        kept.map(_.getString(0)).toSeq.toDF("path")
      })
    if (!listHit && AclCaches.fileList.size == listSize) fileListEvictions += 1
    (filters, allowed)
  }

  /** One governed read; a traced one that pruned then reports the share
    * of the snapshot's files it kept, counted after the op returns. */
  private def readOp(r: Runner, q: Req): Unit =
    if (r.op("read")(read(q))) pruned.foreach { case (kept, snap) =>
      tr.after(tr.count("prune.kept_ratio", kept.toDouble / snap.count()))
    }

  private def read(q: Req): Boolean = {
    val a = alias(q.table)
    val exp = expect((q.user, q.table))
    val path = tr.span("catalog.resolve")(catalog.resolve(a))
    val (filters, allowed) = acl(q, path)
    // one page of the first allowed partition directory
    val (rg, d) = exp.page
    val page = tr.span("listing.page")(
      ObjectListing.list(listings(q.table), s"$a/region=r$rg/day=d$d/",
        None, PageSize).collect())
    val logicalAllowed = allowed.map(p => s"$a/$p")
    val authorized = tr.span("acl.authorize")(
      PartitionAcl.authorize(page.map(_.getString(0)).toSeq.toDF("key"),
        logicalAllowed.toDF("key")).collect().map(_.getString(0)))
    val first = page.head
    val rel = first.getString(0).stripPrefix(s"$a/")
    val size = first.getLong(1)
    val file = new java.io.File(s"$path/$rel")
    val footer = tr.span("raw.range")(
      RawBytes.ranged(RawBytes.read(spark, file.getParent, file.getName),
        size - 8, 8).select("range_content").collect().head.getAs[Array[Byte]](0))
    // the governed scan: the user's grants rewrite every scan of the
    // table (AclEnforcementRule) for the length of this query only
    GovernedTables.govern(path, filters)
    val res =
      try {
        val df = tr.span("plans.analyze")(spark.sql(
          s"SELECT count(*) AS n, coalesce(sum(amount), 0L) AS s FROM graft.$a"))
        tr.span("scan")(df.collect().head)
      } finally GovernedTables.clear()
    val n = res.getLong(0)
    tr.count("scan.rows", n.toDouble)
    n == exp.rows && res.getLong(1) == exp.sum &&
      allowed.size == exp.files && authorized.length == page.length &&
      new String(footer.takeRight(4), "US-ASCII") == "PAR1"
  }

  override def totals(r: Runner): Map[String, Double] = Map(
    "acl.keys_seen" -> keysSeen.size.toDouble,
    "acl.filelist_evictions" -> fileListEvictions.toDouble,
    "acl.perms_evictions" -> permsEvictions.toDouble,
    "storage_amp" -> paths.map(p => Workload.dirBytes(p).toDouble).sum /
      paths.map(p => MiniDelta.snapshotFilesCached(spark, p)
        .agg(sum("size")).head().getLong(0).toDouble).sum)
}

object GovernedRead {
  private final case class Req(user: String, table: Int)
  private final case class Expect(rows: Long, sum: Long, files: Int,
                                  page: (Int, Int))

  val Tables = 4
  val Users = 64
  val Regions = 8
  val Days = 8
  val PageSize = 20
  val Warmup = 2
  val FillPerTable = 100 // memo-fill draws per table
  val RankSeed = 42L
}
