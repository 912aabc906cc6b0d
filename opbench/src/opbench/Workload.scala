package opbench

import java.io.File

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.catalog.GraftConfig

/** One benchmark workload: a seeded fixture, a fixed op sequence and the
  * checks on every op. */
trait Workload {
  /** Build the fixture under `dir` and run the warm-up ops. */
  def setup(dir: String, r: Runner): Unit

  /** The timed phase: exactly `ops` client ops (each op kind keeps its
    * own latency population). */
  def run(r: Runner, ops: Int): Unit

  /** Release process-global registrations (catalog, embedded DB). */
  def teardown(): Unit = ()

  /** Whole-run values measured after the timed phase (storage_amp,
    * work counts), keyed by name. */
  def totals(r: Runner): Map[String, Double]
}

object Workload {
  /** `cfg` with its caches' default capacities and a one-hour TTL, longer
    * than any run, so no time-triggered expiry lands mid-run. */
  def runCaches(cfg: GraftConfig): GraftConfig = {
    val hour = 3600000L
    cfg.copy(snapshotCache = cfg.snapshotCache.copy(ttlMs = hour),
      fileListCache = cfg.fileListCache.copy(ttlMs = hour),
      authCache = cfg.authCache.copy(ttlMs = hour))
  }

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    walk(new File(dir))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** What one commit file of a table logged. */
  final case class CommitStats(logBytes: Long, adds: Int, addBytes: Long,
                               dvAdds: Int, removes: Int, cdcFiles: Int)

  def commitStats(table: String, version: Long): CommitStats = {
    val f = new File(f"$table/_delta_log/$version%020d.json")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    var adds, dvAdds, removes, cdc = 0
    var addBytes = 0L
    lines.filter(_.trim.nonEmpty).map(JsonMethods.parse(_)).foreach { j =>
      j \ "add" match {
        case a: JObject =>
          adds += 1
          a \ "size" match { case JInt(n) => addBytes += n.toLong; case _ => }
          if ((a \ "deletionVector").isInstanceOf[JObject]) dvAdds += 1
        case _ =>
      }
      if ((j \ "remove").isInstanceOf[JObject]) removes += 1
      if ((j \ "cdc").isInstanceOf[JObject]) cdc += 1
    }
    CommitStats(f.length(), adds, addBytes, dvAdds, removes, cdc)
  }

  /** Version named by `_delta_log/_last_checkpoint`, -1 without one. */
  def lastCheckpoint(table: String): Long = {
    val f = new File(s"$table/_delta_log/_last_checkpoint")
    if (!f.exists()) -1L
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try "\"version\"\\s*:\\s*([0-9]+)".r
        .findFirstMatchIn(src.mkString).map(_.group(1).toLong).getOrElse(-1L)
      finally src.close()
    }
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double, rnd: scala.util.Random) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

}
