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

  /** A Spark job a census saw: its description and the engine call site
    * that launched it — the first `graft.` frame of the job's stage
    * details or, for a job those do not name (AQE stages, broadcasts),
    * of the SQL execution that owns it (its `spark.sql.execution.id`);
    * "?" when neither names one. */
  final case class CensusJob(description: String, site: String) {
    override def toString: String = s"$description @ $site"
  }

  /** Runs `body` under a fresh job group and returns its value with the
    * Spark jobs it started. Listener events arrive asynchronously but in
    * order, so one marker job run afterwards in a second group closes the
    * census: once its start is seen, every job started before it has
    * been seen too. */
  def jobsDuring[T](body: => T): (T, Seq[CensusJob]) = {
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val group = s"census-${System.nanoTime()}"
    val marker = s"$group-end"
    val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, CensusJob)]()
    val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    def siteIn(details: String): Option[String] =
      details.linesIterator.map(_.trim).find(l =>
        l.startsWith("graft.") && !l.startsWith("graft.TestSpark"))
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          siteIn(s.details).foreach(execSite.put(s.executionId, _))
        case _ => ()
      }
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = e.properties
        val site = e.stageInfos.headOption.flatMap(st => siteIn(st.details))
          .orElse(Option(p.getProperty("spark.sql.execution.id"))
            .flatMap(id => Option(execSite.get(id.trim.toLong))))
          .getOrElse("?")
        seen.add((String.valueOf(p.getProperty("spark.jobGroup.id")),
          CensusJob(String.valueOf(p.getProperty("spark.job.description")),
            site)))
      }
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
      (out, seen.asScala.collect { case (`group`, j) => j }.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
