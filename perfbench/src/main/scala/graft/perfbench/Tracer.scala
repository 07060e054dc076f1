package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Span recorder for the traced run.
  *
  * A span wraps one call into a layer's public functions. Every span
  * instance gets an id that is set as a Spark local property while its
  * body runs, so the listener attributes each job, stage and task to
  * the innermost open span by the properties Spark ships with the job
  * — not by wall-clock overlap. Spans are kept in memory and written
  * out once, after the listener bus has drained.
  *
  * With `enabled = false` a span only runs its body: the untraced run
  * pays nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0)
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val open = mutable.Stack.empty[Long]
  private val records = mutable.ArrayBuffer.empty[Record]

  private def countersOf(span: String): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .foreach(s => countersOf(s).jobs.incrementAndGet())

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .foreach { s =>
          stageSpan.put(e.stageInfo.stageId, s)
          countersOf(s).stages.incrementAndGet()
        }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      if (s != null && e.taskMetrics != null) {
        val c = countersOf(s)
        val m = e.taskMetrics
        c.tasks.incrementAndGet()
        c.runMs.addAndGet(m.executorRunTime)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as span `name`, nested under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parent = open.headOption
      open.push(id)
      sc.setLocalProperty(Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = System.nanoTime() - t0
        open.pop()
        sc.setLocalProperty(Prop, open.headOption.map(_.toString).orNull)
        records += Record(id, parent, name, wall)
      }
    }

  /** Every finished span with its counters, in completion order. */
  def finish(): Seq[SpanRow] = {
    if (!enabled) return Seq.empty
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    records.toSeq.map { r =>
      val c = Option(counters.get(r.id.toString)).getOrElse(new Counters)
      SpanRow(r.id, r.parent, r.name, r.wallNs / 1e9, c.jobs.get, c.stages.get,
        c.tasks.get, c.runMs.get / 1e3, c.shuffleBytes.get, c.bytesWritten.get)
    }
  }
}

object Tracer {
  private val Prop = "graft.perfbench.span"

  private final class Counters {
    val jobs, stages, tasks, runMs, shuffleBytes, bytesWritten = new AtomicLong(0)
  }

  private final case class Record(id: Long, parent: Option[Long], name: String,
                                  wallNs: Long)

  /** One span instance: wall time, and the Spark work attributed to it
    * directly (not including its child spans).
    */
  final case class SpanRow(id: Long, parent: Option[Long], name: String,
                           wallS: Double, jobs: Long, stages: Long, tasks: Long,
                           execRunS: Double, shuffleBytes: Long,
                           bytesWritten: Long) {
    def toJson: String = Json.obj(
      "id" -> id, "parent" -> parent, "name" -> name, "wall_s" -> wallS,
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "exec_run_s" -> execRunS, "shuffle_bytes" -> shuffleBytes,
      "bytes_written" -> bytesWritten)
  }
}
