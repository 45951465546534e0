package etlbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer of the library. `op` groups the spans of
  * one benchmark operation; `parent` is the enclosing span (-1 at the
  * root). Times are System.nanoTime readings.
  */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int, val start: Long) {
  var end = 0L
  /** CPU time of the calling (driver) thread inside the span, children included. */
  var driverCpuNs = 0L
  val counts = mutable.LinkedHashMap[String, Double]()
  def wallS: Double = (end - start) / 1e9
}

/** Task metrics of the Spark jobs submitted while a span was innermost. */
final class SpanWork {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedulerDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/** Attributes every job to the span that submitted it (the span id rides
  * a local property, which Spark copies to the threads that run
  * broadcasts and adaptive query stages) and rolls up task metrics per
  * span. Jobs submitted outside any span land under -1.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val work = mutable.HashMap[Int, SpanWork]()

  private def at(span: Int) = work.getOrElseUpdate(span, new SpanWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(stageSpan(_) = span)
    at(span).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = at(stageSpan.getOrElse(e.stageId, -1))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.inputBytes += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
      // the Spark UI's definition: task time not spent running,
      // deserializing, serializing the result or fetching it
      val i = e.taskInfo
      w.schedulerDelayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
    }
  }

  def snapshot(): Map[Int, SpanWork] = synchronized(work.toMap)
}

/** Records spans around calls into the library. Until `enable`, `span`
  * only runs its body: no local property, no timing, no listener.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private val threads = ManagementFactory.getThreadMXBean
  private val listener = new SpanListener
  var on = false
  var op = -1

  def enable(): Unit = if (!on) { sc.addSparkListener(listener); on = true }
  def disable(): Unit = if (on) { sc.removeSparkListener(listener); on = false }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      val cpu0 = threads.getCurrentThreadCpuTime
      try body
      finally {
        s.driverCpuNs = threads.getCurrentThreadCpuTime - cpu0
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach a count to the most recent span with this name. */
  def count(spanName: String, key: String, v: Double): Unit =
    if (on) spans.reverseIterator.find(_.name == spanName).foreach(_.counts(key) = v)

  def work(): Map[Int, SpanWork] = {
    org.apache.spark.ListenerBusDrain(sc)
    listener.snapshot()
  }
}

object Tracer {
  val Prop = "etlbench.span"

  /** Self time: the span's duration minus the part its children cover
    * (children of one span run one after another, so their durations
    * add without overlap).
    */
  def selfNs(s: Span, children: Seq[Span]): Long =
    (s.end - s.start) - children.map(c => c.end - c.start).sum

  /** Span records plus per-name rollups: inclusive and self wall, self
    * driver CPU, task metrics of the jobs each span submitted itself.
    */
  def summarize(spans: Seq[Span], work: Map[Int, SpanWork]): (Seq[Map[String, Any]], Map[String, Map[String, Double]]) = {
    val kids = spans.groupBy(_.parent)
    val records = spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil)
      val w = work.getOrElse(s.id, new SpanWork)
      Map[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9,
        "wall_s" -> s.wallS, "self_s" -> selfNs(s, ch) / 1e9,
        "driver_cpu_self_s" -> (s.driverCpuNs - ch.map(_.driverCpuNs).sum) / 1e9,
        "task_cpu_s" -> w.cpuNs / 1e9, "jobs" -> w.jobs, "tasks" -> w.tasks,
        "gc_s" -> w.gcMs / 1e3, "scheduler_delay_s" -> w.schedulerDelayMs / 1e3,
        "shuffle_write_bytes" -> w.shuffleWriteBytes, "spill_bytes" -> w.spillBytes,
        "input_bytes" -> w.inputBytes, "output_bytes" -> w.outputBytes,
        "counts" -> s.counts.toMap)
    }
    val byName = records.groupBy(_("name").asInstanceOf[String]).map { case (n, rs) =>
      def sum(k: String) = rs.map(r => r(k).asInstanceOf[Number].doubleValue).sum
      n -> Map(
        "calls" -> rs.size.toDouble, "wall_s" -> sum("wall_s"), "self_s" -> sum("self_s"),
        "cpu_self_s" -> (sum("driver_cpu_self_s") + sum("task_cpu_s")),
        "task_cpu_s" -> sum("task_cpu_s"), "jobs" -> sum("jobs"), "tasks" -> sum("tasks"),
        "gc_s" -> sum("gc_s"), "scheduler_delay_s" -> sum("scheduler_delay_s"),
        "shuffle_write_bytes" -> sum("shuffle_write_bytes"), "spill_bytes" -> sum("spill_bytes"),
        "input_bytes" -> sum("input_bytes"), "output_bytes" -> sum("output_bytes"))
    }
    (records, byName)
  }
}
