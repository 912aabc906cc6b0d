package opbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark-scheduler census per op: jobs, stages actually run, tasks,
  * shuffle bytes written, and each job's [start, end] interval. Jobs are
  * attributed through the local property the [[Runner]] sets on the
  * client thread around each op, which Spark copies onto every job,
  * stage and task the op launches (async broadcast and AQE jobs
  * included). Listener callbacks run on the listener-bus thread, so all
  * state is guarded by this object's monitor; read it only after
  * [[Bus.drain]]. */
final class Census extends SparkListener {
  final class OpCensus {
    var jobs = 0
    var stages = 0
    var tasks = 0L
    var shuffleBytes = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val byOp = mutable.Map.empty[String, OpCensus]
  private val jobOp = mutable.Map.empty[Int, (String, Long)]
  private val stageOp = mutable.Map.empty[Int, String]

  private def opOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Census.OpKey)))

  private def entry(op: String) = byOp.getOrElseUpdate(op, new OpCensus)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      entry(op).jobs += 1
      jobOp(e.jobId) = (op, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, start) =>
      entry(op).intervals += ((start, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      opOf(e.properties).foreach { op =>
        entry(op).stages += 1
        stageOp(e.stageInfo.stageId) = op
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = entry(op)
      c.tasks += 1
      if (e.taskMetrics != null)
        c.shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Census of one op (`kind#id`); empty when it ran no job. */
  def of(op: String): OpCensus = synchronized(byOp.getOrElse(op, new OpCensus))
}

object Census {
  val OpKey = "opbench.op"

  /** Wall time of [start, end] not covered by any interval (ms). */
  def gapMs(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = start
    intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) {
          covered += e - math.max(s, reach)
          reach = e
        }
      }
    math.max(end - start - covered, 0L)
  }
}
