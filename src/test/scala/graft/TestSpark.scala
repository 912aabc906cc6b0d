package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** One shared session for the whole test JVM (Test/fork := true). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      // names the `graft` catalog so graft.datalake.t identifiers
      // survive eager catalog resolution (GraftCatalog Scaladoc)
      .config("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
      // write timestamps as INT64 MICROS (the real-Delta parquet shape;
      // Spark's legacy INT96 default carries NO footer statistics)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfTiny = "/root/testdata/sf0.001"

  /** Runs `body` under a fresh job group and returns its value with the
    * descriptions of the Spark jobs it started. Listener events arrive
    * asynchronously but in order, so one marker job run afterwards in a
    * second group closes the census: once its start is seen, every job
    * started before it has been seen too. */
  def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"census-${System.nanoTime()}"
    val marker = s"$group-end"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add((String.valueOf(e.properties.getProperty("spark.jobGroup.id")),
          String.valueOf(e.properties.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "census")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "census end")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      import scala.jdk.CollectionConverters._
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.asScala.exists(_._1 == marker) &&
             System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(_._1 == marker), "census marker job not seen")
      (out, seen.asScala.collect { case (`group`, d) => d }.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
