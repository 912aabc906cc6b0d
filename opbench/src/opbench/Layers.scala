package opbench

/** Per-layer values of a traced run, by metric name. A layer the
  * workload never calls reports 0. */
object Layers {
  /** Op kinds across all workloads, for the per-kind census names. */
  val Kinds = Seq("read", "fresh_read", "append", "delete", "update",
    "merge", "compact", "pass")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  // span name -> metric name (median self time, ms)
  private val spanMetrics = Seq(
    "plans.analyze" -> "plans.analyze_ms",
    "acl.filters" -> "acl.filters_ms",
    "acl.allowed_files" -> "acl.allowed_files_ms",
    "acl.authorize" -> "acl.authorize_ms",
    "prune" -> "prune.ms",
    "listing.page" -> "listing.page_ms",
    "raw.range" -> "raw.range_ms",
    "scan" -> "scan.ms",
    "log.version" -> "log.version_ms",
    "log.snapshot" -> "log.snapshot_ms",
    "log.cached_snapshot" -> "log.cached_snapshot_ms",
    "commit.append" -> "commit.append_ms",
    "dml.delete" -> "dml.delete_ms",
    "dml.update" -> "dml.update_ms",
    "dml.merge" -> "dml.merge_ms",
    "maint.compact" -> "maint.compact_ms",
    "llm.exact" -> "llm.exact_ms",
    "llm.minhash" -> "llm.minhash_ms",
    "llm.cc" -> "llm.cc_ms",
    "llm.filter" -> "llm.filter_ms",
    "llm.topk" -> "llm.topk_ms")

  def of(tr: Tracer, r: Runner): Map[String, Double] = {
    val self = tr.selfMs
    val total = tr.totalMs
    def c(n: String): Seq[Double] = tr.counters.get(n).map(_.toSeq).getOrElse(Nil)
    val spans = spanMetrics.map { case (s, m) => m -> median(self.getOrElse(s, Nil)) }
    val scanS = total.getOrElse("scan", Nil).sum / 1000
    val dml = Seq("delete", "update", "merge")
    val rewritten = dml.flatMap(k => c(s"$k.add_bytes")).sum
    val changed = dml.flatMap(k => c(s"$k.rows_changed")).sum
    // the commit layer's writer: appends in write_cycle, the pass's
    // survivor commit in curation
    val writer = if (c("append.files_written").nonEmpty) "append" else "pass"
    val overhead = Kinds.map { k =>
      val (on, off) = r.records.filter(_.kind == k).partition(_.traced)
      s"trace.overhead_ms.$k" -> (
        if (on.isEmpty || off.isEmpty) 0.0
        else median(on.map(_.ms).toSeq) - median(off.map(_.ms).toSeq))
    }
    (spans ++ overhead ++ Seq(
      "catalog.resolve_us" -> median(self.getOrElse("catalog.resolve", Nil)) * 1000,
      "acl.filelist_hit_ratio" -> mean(c("acl.filelist_hit")),
      "acl.perms_hit_ratio" -> mean(c("acl.perms_hit")),
      "prune.kept_ratio" -> mean(c("prune.kept_ratio")),
      "scan.rows_per_s" -> (if (scanS > 0) c("scan.rows").sum / scanS else 0.0),
      "log.tail_commits" -> mean(c("log.tail_commits")),
      "commit.files_written" -> median(c(s"$writer.files_written")),
      "commit.log_bytes" -> median(c(s"$writer.log_bytes")),
      "dml.bytes_rewritten_per_row" -> (if (changed > 0) rewritten / changed else 0.0),
      "dml.dv_files" -> mean(c("delete.dv_adds")),
      "maint.checkpoint_commit_ms" -> median(c("maint.checkpoint_commit_ms")),
      "maint.bytes_rewritten" -> median(c("compact.add_bytes")),
      "llm.pair_precision" -> mean(c("llm.pair_precision"))
    )).toMap
  }

  /** Per op kind: Spark jobs, stages run, tasks and shuffle bytes per op
    * (means over every timed op of the kind), the median driver gap (op
    * wall time not covered by any of its jobs) and the mean GC time. */
  def census(r: Runner, c: Census): Map[String, Double] =
    Kinds.flatMap { k =>
      val rs = r.records.filter(_.kind == k).toSeq
      val cs = rs.map(x => c.of(s"${x.kind}#${x.id}"))
      def per(f: c.OpCensus => Double) = if (rs.isEmpty) 0.0 else cs.map(f).sum / rs.size
      Seq(
        s"spark.jobs_per_op.$k" -> per(_.jobs.toDouble),
        s"spark.stages_per_op.$k" -> per(_.stages.toDouble),
        s"spark.tasks_per_op.$k" -> per(_.tasks.toDouble),
        s"spark.shuffle_bytes_per_op.$k" -> per(_.shuffleBytes.toDouble),
        s"spark.driver_gap_ms.$k" -> median(rs.zip(cs).map { case (x, oc) =>
          Census.gapMs(x.startMs, x.endMs, oc.intervals.toSeq).toDouble }),
        s"jvm.gc_ms.$k" -> mean(rs.map(_.gcMs.toDouble)))
    }.toMap
}
