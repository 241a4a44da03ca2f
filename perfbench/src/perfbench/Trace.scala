package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Outside-in span recorder: the benchmark wraps its own calls into a
  * layer's public functions in `span(name)`. Each span keeps name, start,
  * end and parent; self time is duration minus the time covered by its
  * children. Disabled, `span` is a plain call. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
      spans += s
      stack = s.id :: stack
      try body
      finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  /** Total seconds per span name. */
  def totals: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => s.end - s.start).sum / 1e9 }.toMap

  /** Self seconds per span name: duration minus child coverage. */
  def selfTotals: Map[String, Double] = {
    val child = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.end - s.start - child(s.id)).sum / 1e9
    }.toMap
  }

  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s => s"${s.id}\t${s.parent}\t${s.name}\t${s.start}\t${s.end}")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark counters from a listener the benchmark attaches. */
final class Counters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot: Counters.Snap = Counters.Snap(jobs.get, stages.get, tasks.get,
    taskRunMs.get, shuffleWriteBytes.get, spillBytes.get)
}

object Counters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, taskRunMs: Long,
      shuffleWriteBytes: Long, spillBytes: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      taskRunMs - o.taskRunMs, shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
  }
  val Zero: Snap = Snap(0, 0, 0, 0, 0, 0)
}
