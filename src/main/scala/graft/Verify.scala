package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // extra args = run only these queries (local iteration; the driver
    // always passes exactly two)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      // the deployment posture: graft rules + functions injected and the
      // graft catalog named, so sql_* gates resolve graft.<alias> /
      // graft.datalake.<alias> identifiers
      .config("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
      // write timestamps as INT64 MICROS (the real-Delta parquet shape;
      // Spark's legacy INT96 default carries NO footer statistics)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          // the RESULT dump stays INT96 (tz-naive on read): the
          // driver's DuckDB compare reads naive timestamps, and MICROS
          // output would surface as tz-aware and type-mismatch every
          // time-typed column. The engine's own table writes inside
          // fn (commands run eagerly) already landed as
          // TIMESTAMP_MICROS under the session conf above.
          spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
          try df.coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          finally spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // which arm served the run's log scans (the force-distributed check)
    System.err.println(s"[log-scans] driver " +
      s"${graft.io.MiniDelta.driverLogScans.get()}, distributed " +
      s"${graft.io.MiniDelta.distributedLogScans.get()}")
    // misses of the log memos (a tableStates miss is one state fold, a
    // commitNodes miss one commit file opened on the driver)
    val md = graft.io.MiniDelta
    System.err.println(s"[memos] misses: tableStates " +
      s"${md.tableStates.misses}, commitNodes ${md.commitNodesMemo.misses}, " +
      s"cpRows ${md.cpRowsMemo.misses}, cpComplete " +
      s"${md.cpCompleteMemo.misses}, partitionCols " +
      s"${md.partitionColsMemo.misses}, idReadSessions " +
      s"${md.idReadSessions.misses}")
    spark.stop()
  }
}
