package opbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.GraftConfig
import graft.io.MiniDelta

/** One writer on one partitioned table with the change feed and
  * deletion vectors on and the default checkpoint interval (10).
  *
  * The writer repeats a fixed 10-commit cycle — append x5, DV delete x2,
  * update, keyed merge, compact — and every commit is followed by a
  * fresh read: `currentVersion` plus a `readFiltered` count and sum of
  * the partition the commit touched.
  * Set-up creates the table (version 0) and warms up with one op of each
  * kind, so timed cycles start at version 6: the log tail runs 0..9
  * within every cycle and the auto-checkpoint lands on each cycle's fifth
  * append.
  *
  * An in-memory model (id -> partition, value) mirrors every commit;
  * each fresh read is checked against it, and so is the version. */
final class WriteCycle(spark: SparkSession, seed: Long, tr: Tracer)
    extends Workload {
  import WriteCycle._
  import spark.implicits._

  private var table: String = _
  private val model = mutable.LinkedHashMap.empty[Long, (Int, Long)]
  private var nextId = 0L
  private var version = -1L
  private val rnd = new scala.util.Random(seed)
  // partitions rotate from a seeded start, so every seed spreads rows
  // (and so files, deletes and rewrites) evenly over the partitions
  private val start = rnd.nextInt(Parts)
  private var appends = 0
  private var dmls = 0
  private var commits = 0L

  def setup(dir: String, r: Runner): Unit = {
    table = s"$dir/wc"
    model.clear()
    nextId = 0L
    Workload.runCaches(GraftConfig()).applyCaches()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("p", StringType), StructField("v", LongType)))
    version = MiniDelta.createTable(spark, table, schema, Seq("p"),
      Map("delta.enableChangeDataFeed" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    // warm-up: one op of every kind (the timed cycles then start at
    // version 6, so the auto-checkpoint at 10 lands on the fifth append)
    appendOp(r)
    deleteOp(r)
    updateOp(r)
    mergeOp(r)
    compactOp(r)
    commits = 0L
  }

  def run(r: Runner, ops: Int): Unit =
    (0 until math.max(1, ops / CycleOps)).foreach(_ => cycle(r))

  private def part(p: Int) = s"p$p"

  /** Model rows of partition p. */
  private def rowsOf(p: Int) = model.iterator.filter(_._2._1 == p)

  /** Run one commit op, then the fresh read of partition `p`. `write`
    * returns the committed version, `apply` mirrors it in the model and
    * returns the number of rows it changed. A traced op's commit file is
    * parsed, and a traced fresh read's log replayed once more, only
    * after the op has returned. */
  private def commitOp(r: Runner, kind: String, p: Int)(write: => Long)
                      (apply: => Int): Unit = {
    var v = -1L
    var ms = 0.0
    var changed = 0
    if (r.op(kind) {
      val t0 = System.nanoTime()
      v = write
      ms = (System.nanoTime() - t0) / 1e6
      version += 1
      commits += 1
      changed = apply
      v == version
    }) tr.after {
      val st = Workload.commitStats(table, v)
      tr.count(s"$kind.files_written", st.adds.toDouble)
      tr.count(s"$kind.log_bytes", st.logBytes.toDouble)
      tr.count(s"$kind.add_bytes", st.addBytes.toDouble)
      tr.count(s"$kind.dv_adds", st.dvAdds.toDouble)
      tr.count(s"$kind.rows_changed", changed.toDouble)
      // the commit that carries the auto-checkpoint
      if (v % MiniDelta.checkpointInterval == 0)
        tr.count("maint.checkpoint_commit_ms", ms)
    }
    if (r.op("fresh_read")(freshRead(p))) tr.after {
      // the uncached snapshot path on its own: a full log replay
      tr.span("log.snapshot")(MiniDelta.snapshotFiles(spark, table).count())
      tr.count("log.tail_commits",
        (version - Workload.lastCheckpoint(table)).toDouble)
    }
  }

  private def freshRead(p: Int): Boolean = {
    val v = tr.span("log.version")(MiniDelta.currentVersion(spark, table))
    val got = tr.span("scan")(
      MiniDelta.readFiltered(spark, table, Seq(Map("p" -> part(p))))
        .agg(count(lit(1)), coalesce(sum("v"), lit(0L))).collect().head)
    tr.count("scan.rows", got.getLong(0).toDouble)
    val exp = rowsOf(p).toSeq
    v == version && got.getLong(0) == exp.size &&
      got.getLong(1) == exp.map(_._2._2).sum
  }

  private def cycle(r: Runner): Unit = {
    (0 until 5).foreach(_ => appendOp(r))
    (0 until 2).foreach(_ => deleteOp(r))
    updateOp(r)
    mergeOp(r)
    compactOp(r)
  }

  private def compactOp(r: Runner): Unit =
    commitOp(r, "compact", (start + appends) % Parts)(tr.span("maint.compact")(
      MiniDelta.compact(spark, table, Seq("p"))))(0)

  /** 24 new rows, 8 in each of the next 3 partitions in rotation. */
  private def appendOp(r: Runner): Unit = {
    val parts = (0 until 3).map(j => (start + 3 * appends + j) % Parts)
    appends += 1
    val rows = for (p <- parts; _ <- 0 until 8) yield {
      nextId += 1
      (nextId, p, rnd.nextInt(1000).toLong)
    }
    val df = rows.map { case (i, p, v) => (i, part(p), v) }
      .toDF("id", "p", "v").repartition(col("p"))
    commitOp(r, "append", parts.head)(tr.span("commit.append")(
      MiniDelta.append(spark, df, table, Seq("p")))) {
      rows.foreach { case (i, p, v) => model(i) = (p, v) }
      rows.size
    }
  }

  /** The next partition in rotation holding at least `minRows` rows, and
    * an id residue that matches at least one of them, so every DML op
    * commits. */
  private def target(mod: Int, minRows: Int = 1): (Int, Int) = {
    dmls += 1
    val p = (0 until Parts).map(j => (start + 5 * dmls + j) % Parts)
      .find(rowsOf(_).size >= minRows).get
    (p, rnd.shuffle(rowsOf(p).map(x => (x._1 % mod).toInt).toSeq.distinct).head)
  }

  private def deleteOp(r: Runner): Unit = {
    val (p, k) = target(4)
    commitOp(r, "delete", p)(tr.span("dml.delete")(
      MiniDelta.delete(spark, table,
        col("p") === part(p) && col("id") % 4 === k, Seq("p")))) {
      val gone = rowsOf(p).filter(_._1 % 4 == k).map(_._1).toSeq
      gone.foreach(model.remove)
      gone.size
    }
  }

  private def updateOp(r: Runner): Unit = {
    val (p, k) = target(3)
    commitOp(r, "update", p)(tr.span("dml.update")(
      MiniDelta.update(spark, table,
        col("p") === part(p) && col("id") % 3 === k,
        Map("v" -> (col("v") + 1)), Seq("p")))) {
      val hit = rowsOf(p).filter(_._1 % 3 == k).toSeq
      hit.foreach { case (i, (pp, v)) => model(i) = (pp, v + 1) }
      hit.size
    }
  }

  /** 4 existing keys of one partition updated in place, 4 new keys. */
  private def mergeOp(r: Runner): Unit = {
    val (p, _) = target(1, minRows = 4)
    val hit = rnd.shuffle(rowsOf(p).map(_._1).toSeq).take(4)
      .map(i => (i, model(i)._2 + 100))
    val ins = (0 until 4).map { _ => nextId += 1; (nextId, 7L) }
    val src = (hit ++ ins).map { case (i, v) => (i, part(p), v) }
      .toDF("id", "p", "v")
    commitOp(r, "merge", p)(tr.span("dml.merge")(
      MiniDelta.merge(spark, table, src, Seq("id"), Seq("p")))) {
      (hit ++ ins).foreach { case (i, v) => model(i) = (p, v) }
      hit.size + ins.size
    }
  }

  override def totals(r: Runner): Map[String, Double] = {
    val live = MiniDelta.snapshotFiles(spark, table)
      .agg(sum("size")).head().getLong(0).toDouble
    Map("storage_amp" -> Workload.dirBytes(table) / live,
      "commits" -> commits.toDouble)
  }
}

object WriteCycle {
  val Parts = 8
  val CycleOps = 20 // 10 commits, each followed by a fresh read
}
