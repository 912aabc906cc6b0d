package opbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one mode.
  *
  * `Main --workload W --seed N --ops K --trace 0|1 --work DIR --out FILE`
  *
  * Times the workload's set-up (fixture build plus warm-up ops) in a
  * fresh directory, runs exactly K client ops on it, and writes the raw
  * results — per-op latencies by op
  * kind, failures, whole-run totals and, when traced, the per-layer
  * values and the Spark census — as one JSON object to FILE. Spans of a
  * traced run go to FILE's sibling `spans.jsonl`. */
object Main {
  def main(argv: Array[String]): Unit = {
    // exit explicitly: a stray non-daemon thread must not keep the
    // process alive past its result
    val code =
      try { run(argv); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val ops = args("ops").toInt
    val traced = args("trace") == "1"
    val work = args("work")
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"opbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val tracer = new Tracer(traced)
    val runner = new Runner(sc, tracer)
    val wl: Workload = workload match {
      case "governed_read" => new GovernedRead(spark, seed, tracer)
      case "write_cycle" => new WriteCycle(spark, seed, tracer)
      case "curation" => new Curation(spark, seed, tracer)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up runs in a cold JVM: its warm-up ops carry class loading,
    // JIT and codegen of every op kind, so the timed phase runs warm
    val s0 = System.nanoTime()
    wl.setup(s"$work/run", runner)
    val setupS = (System.nanoTime() - s0) / 1e9

    val census = new Census
    if (traced) sc.addSparkListener(census)
    runner.recording = true
    val t0 = System.nanoTime()
    wl.run(runner, ops)
    val wallS = (System.nanoTime() - t0) / 1e9
    runner.recording = false
    org.apache.spark.opbench.Bus.drain(sc)
    // retained heap: the least used heap over three full collections,
    // so cleanup still in flight after the last op does not count
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val totals = wl.totals(runner)

    val out = new StringBuilder
    out ++= s"""{"workload":${Json.str(workload)},"seed":$seed,"traced":$traced,"""
    out ++= s""""attempted":${runner.attempted},"failed":${runner.failed},"""
    out ++= s""""failures":${Json.arr(runner.failures.map(Json.str).toSeq)},"""
    out ++= s""""setup_s":${Json.num(setupS)},"""
    out ++= s""""wall_s":${Json.num(wallS)},"heap_retained_mb":${Json.num(heapMb)},"""
    out ++= s""""totals":${Json.obj(totals.map { case (k, v) => k -> Json.num(v) })},"""
    // latency populations: one per op kind, untraced ops only when traced
    val pops = runner.kinds.map { k =>
      val rs = runner.records.filter(_.kind == k)
      k -> Json.obj(Map(
        "ms" -> Json.arr(rs.filterNot(_.traced).map(x => Json.num(x.ms)).toSeq),
        "traced_ms" -> Json.arr(rs.filter(_.traced).map(x => Json.num(x.ms)).toSeq)))
    }.toMap
    out ++= s""""ops":${Json.obj(pops)}"""
    if (traced) {
      out ++= s""","layers":${Json.obj(Layers.of(tracer, runner)
        .map { case (k, v) => k -> Json.num(v) })}"""
      out ++= s""","census":${Json.obj(Layers.census(runner, census)
        .map { case (k, v) => k -> Json.num(v) })}"""
      tracer.write(new File(new File(args("out")).getParentFile, "spans.jsonl").getPath)
    }
    out ++= "}"
    val w = new java.io.PrintWriter(args("out"), "UTF-8")
    try w.print(out.toString) finally w.close()
    wl.teardown()
    spark.stop()
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }
      .mkString("{", ",", "}")
}
