package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch nanoseconds, so spans share
  * a clock with Spark's job events (epoch milliseconds).
  */
final case class Span(id: Int, parent: Int, name: String, op: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, written out when the run ends. Spans nest by
  * call structure; `op` is the timed op a span belongs to (-1 in set-up).
  * When `on` is false every call is a plain pass-through.
  */
final class Tracer {
  private val baseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var open: List[Int] = Nil
  private var started = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  var on = false
  var op = -1

  def nowNs: Long = System.nanoTime() + baseNs

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = started
      started += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = nowNs
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, name, op, t0, nowNs)
      }
    }
}

/** Per-op Spark counters, filled by [[SparkProbe]]. */
final class OpCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var recordsRead = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (job id, start ms, end ms)
}

/** Spark listener that charges jobs, stages and tasks to the op that
  * submitted them, via the [[SparkProbe.OpKey]] local property set around
  * each traced op. Events arrive on Spark's listener thread; read the
  * counters only after [[org.apache.spark.PerfbenchBus.drain]].
  */
final class SparkProbe extends SparkListener {
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobOp = mutable.Map.empty[Int, (Int, Long)]
  val ops = mutable.Map.empty[Int, OpCounters]

  private def opOf(props: Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SparkProbe.OpKey))).map(_.toInt).getOrElse(-1)

  private def counters(op: Int) = ops.getOrElseUpdate(op, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    if (op >= 0) {
      jobOp(e.jobId) = (op, e.time)
      e.stageIds.foreach(stageOp(_) = op)
      counters(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, start) =>
      counters(op).jobIntervals += ((e.jobId, start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = counters(op)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      }
    }
  }
}

object SparkProbe {
  val OpKey = "perfbench.op"
}

/** Catalyst phase times of every Dataset action, the engine's internal ones
  * included. Each event is stamped with the start of its latest phase, which
  * falls inside the op that ran the action.
  */
final class CatalystProbe extends QueryExecutionListener {
  val events = mutable.ArrayBuffer.empty[(Long, Double)] // (epoch ms, planning s)

  def record(qe: QueryExecution): Unit = synchronized {
    events += CatalystProbe.phases(qe)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

object CatalystProbe {
  private val planning = Seq("analysis", "optimization", "planning")

  /** (start of the latest phase in epoch ms, analysis + optimization + planning seconds). */
  def phases(qe: QueryExecution): (Long, Double) = {
    val ph = qe.tracker.phases
    val at = if (ph.isEmpty) -1L else ph.values.map(_.startTimeMs).max
    (at, planning.flatMap(ph.get).map(_.durationMs).sum / 1000.0)
  }
}
