package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._

/** One timed span: a call the benchmark made into one layer. `parent`
  * is the enclosing span's id, or -1 at the top of a traced run.
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9

  /** Layer = the span name up to its first dot (`graph.write_edges` is
    * in layer `graph`).
    */
  def layer: String = name.takeWhile(_ != '.')
}

/** Spark work attributed to one span: jobs, stages and tasks that ran
  * while it was active, their shuffle and spill bytes, and the largest
  * per-stage ratio of the slowest task's run time to the median one.
  */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var taskSkew = 0.0

  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; taskSkew = math.max(taskSkew, o.taskSkew)
  }
}

/** In-memory span recorder. The active span's id travels to Spark as a
  * thread-local job property; [[SpanListener]] reads it back from each
  * job-start event, so jobs, stages and tasks land on the span whose
  * call submitted them.
  */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  val listener = new SpanListener
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = current
    spans += Span(id, name, parent, System.nanoTime(), 0L)
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    current = id
    try body
    finally {
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      current = parent
      sc.setLocalProperty(Tracer.SpanProperty, if (parent < 0) null else parent.toString)
    }
  }

  def all: Seq[Span] = spans.toSeq

  def byName(name: String): Span =
    spans.find(_.name == name).getOrElse(throw new NoSuchElementException(s"no span '$name'"))

  /** Spark counters summed over every span of `layer`. */
  def sparkCounters(layer: String): SparkCounters = {
    ListenerBusDrain.drain(sc)
    val out = new SparkCounters
    spans.filter(_.layer == layer).foreach(s => out.add(listener.countersOf(s.id)))
    out
  }

  /** Detaches the listener; call once the traced run has ended. */
  def close(): Unit = {
    ListenerBusDrain.drain(sc)
    sc.removeSparkListener(listener)
    sc.setLocalProperty(Tracer.SpanProperty, null)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Attributes Spark's job, stage and task events to spans. Events
  * arrive on the listener-bus thread, hence the synchronization.
  */
final class SpanListener extends SparkListener {
  private val spanOfStage = mutable.HashMap.empty[Int, Int]
  private val taskTimes = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val counters = mutable.HashMap.empty[Int, SparkCounters]

  private def of(span: Int) = counters.getOrElseUpdate(span, new SparkCounters)

  def countersOf(span: Int): SparkCounters = synchronized(of(span))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
    span.foreach { s =>
      val id = s.toInt
      of(id).jobs += 1
      e.stageIds.foreach(st => spanOfStage(st) = id)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    spanOfStage.get(e.stageId).foreach { id =>
      val c = of(id)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val st = e.stageInfo.stageId
    spanOfStage.get(st).foreach { id =>
      val c = of(id)
      c.stages += 1
      // stages whose slowest task ran under MinSkewTaskMs cannot delay
      // the result noticeably, and their ratios are millisecond noise
      taskTimes.remove(st).filter(ts => ts.size >= 2 && ts.max >= SpanListener.MinSkewTaskMs).foreach { ts =>
        val sorted = ts.sorted
        val median = math.max(1L, sorted(sorted.size / 2))
        c.taskSkew = math.max(c.taskSkew, sorted.last.toDouble / median)
      }
    }
  }
}

object SpanListener {
  val MinSkewTaskMs = 50L
}
