package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // best-of-N per query: on a shared VM a single timing mixes scheduler
    // noise into the signal; the minimum over N runs is the stable
    // estimator of the query's actual cost (and caches are warm by
    // design — the reference serves from warm TTL caches too).
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      // same extension posture as Verify: sql_* gates need GraftSqlRule
      // and the named graft catalog
      .config("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
      // write timestamps as INT64 MICROS (the real-Delta parquet shape;
      // Spark's legacy INT96 default carries NO footer statistics)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Benchmark cache policy, set through the SAME config surface a
    // deployment would tune: hour-long TTLs so no metadata cache expires
    // mid-run (the default 120 s TTL would otherwise evict between
    // best-of-N passes and charge a rebuild to an arbitrary query).
    graft.catalog.GraftConfig(
      snapshotCache = graft.catalog.CacheConfig(20, 3600000L),
      fileListCache = graft.catalog.CacheConfig(100, 3600000L),
      authCache = graft.catalog.CacheConfig(100, 3600000L)).applyCaches()
    // Warmup: JIT/codegen paths + the engine's metadata caches (the
    // reference serves from warm TTL caches too, src/main.rs:82-93) so
    // per-query timings reflect steady state, not first-touch JVM cost.
    try {
      SparkEntry.entry(spark).count()
      graft.listing.ObjectListing.filesDF(spark, sfDir).count()
    } catch { case _: Throwable => () }
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 — local iteration on a subset (the
    // driver never sets it, so driver series stay full-corpus)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val outcomesByQuery = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .map { case (name, fn) =>
      // a thrown run is NOT eligible for the best-of-N minimum: a fast
      // failure must never report as the query's cost (measurement-bug
      // fix, r20 — the r18/r19 verdicts documented crashed reruns
      // poisoning per-query minima). Same timed region and estimator
      // otherwise; a query that fails EVERY run aborts the bench
      // loudly instead of reading as fast. Failed runs are COUNTED per
      // query (BENCH_DETAIL and the sidecar), never silently dropped.
      val outcomes = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok) Some(dt) else None
      }
      val timings = outcomes.flatten
      if (timings.isEmpty)
        throw new RuntimeException(
          s"bench query '$name' failed on all $runs runs")
      name -> (timings.min, outcomes.count(_.isEmpty))
    }
    val failedRuns = outcomesByQuery.map { case (k, (_, n)) => k -> n }
    val results = outcomesByQuery.map { case (k, (v, _)) => k -> v }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def fmt(v: Double) = f"$v%.3f"
    val failedJson = failedRuns.toSeq.sortBy(_._1)
      .map { case (k, n) => s"\"$k\":$n" }.mkString("{", ",", "}")
    // full per-query detail, prefixed so it is never mistaken for the
    // machine-readable headline line below; failed_runs counts the
    // runs per query that threw (excluded from the minimum)
    println("BENCH_DETAIL " + (results.map { case (k, v) => s"\"$k\":$v" } ++
      Seq(s""""failed_runs":$failedJson""")).mkString("{", ",", "}"))
    // The harness captures only the LAST ~2000 characters of output and
    // parses the headline JSON line out of that window; at 75+ queries a
    // full-precision map exceeds it and the line truncates mid-JSON.
    // Emit a line guaranteed to fit: rounded values, and if still over
    // budget keep only the slowest queries (the ones worth reading) plus
    // an explicit omitted-count + the exact grand total.
    def line(es: Seq[(String, Double)], omitted: Int): String = {
      val qs = es.map { case (k, v) => s"\"$k\":${fmt(v)}" }
        .mkString("{", ",", "}")
      val om = if (omitted == 0) "" else s""","queries_omitted":$omitted"""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""queries":$qs$om,"n_queries":${results.size},"sf":"$sfDir","runs":$runs}"""
    }
    val bySlowest = results.toSeq.sortBy(-_._2)
    val keep = Iterator.iterate(bySlowest.size)(_ - 5)
      .find(k => k <= 5 || line(bySlowest.take(k), bySlowest.size - k).length <= 1700)
      .getOrElse(5)
    // sibling artifact with ALL per-query timings: the headline line
    // truncates to the slowest ~keep for the output window, which made
    // sub-cutoff movers invisible round-over-round — the full map goes
    // to a sidecar file kept alongside BENCH_r{N}.json. A subset run
    // (SPARK_GRAFT_BENCH_ONLY) never writes it: its partial map would
    // overwrite the full-corpus record.
    if (only.nonEmpty)
      println("bench: subset run, full per-query sidecar not written")
    else try {
      val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL_PATH",
        "/root/repo/bench_full_latest.json")
      val full = s"""{"total":${fmt(total)},"n_queries":${results.size}""" +
        s""","sf":"$sfDir","runs":$runs,"queries":""" +
        bySlowest.map { case (k, v) => s""""$k":${fmt(v)}""" }
          .mkString("{", ",", "}") +
        s""","failed_runs":$failedJson""" +
        s""","failed_runs_total":${failedRuns.values.sum}}""" + "\n"
      java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
        full.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    println(line(bySlowest.take(keep), bySlowest.size - keep))
    spark.stop()
  }
}
