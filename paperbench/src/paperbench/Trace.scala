package paperbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

object Trace {
  /** Spark's local-property key behind `SparkContext.setJobDescription` */
  val JobDescription = "spark.job.description"
}

/** One timed call into a layer: name, start, end, parent span and the
  * op it belongs to, plus the Spark work attributed to it and any
  * counts the caller records at the layer boundary. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val op: Int, val startNs: Long) {
  var endNs: Long = -1L
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
}

/** Per-job/task Spark work, gathered by a [[SparkListener]] and
  * attributed to a span through the job description the tracer sets
  * (`paperbench:<span id>`). Jobs started outside any span are kept
  * under span id -1 so whole-op totals still see them. */
final class WorkListener extends SparkListener {
  final class Work {
    var jobs = 0L; var tasks = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var bytesWritten = 0L
    var gcMs = 0L; var schedDelayMs = 0L
  }
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val bySpan = new ConcurrentHashMap[Int, Work]()

  private def work(span: Int): Work =
    bySpan.computeIfAbsent(span, _ => new Work)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Trace.JobDescription)))
      .filter(_.startsWith("paperbench:"))
      .map(_.stripPrefix("paperbench:").takeWhile(_.isDigit).toInt)
      .getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    e.stageIds.foreach(stageSpan.put(_, s))
    val w = work(s)
    w.synchronized { w.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val w = work(stageSpan.getOrDefault(e.stageId, -1))
    val info = e.taskInfo
    w.synchronized {
      w.tasks += 1
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.bytesWritten += m.outputMetrics.bytesWritten
      w.gcMs += m.jvmGCTime
      w.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
    }
  }

  def reset(): Unit = { bySpan.clear(); stageSpan.clear() }
}

/** The spans of one traced op, kept in memory (the driver writes them
  * out with the run's result). `span` times one call into a layer on
  * the driver thread; Spark jobs the call starts carry the span id in
  * their job description. */
final class Tracer(sc: SparkContext, watch: Seq[String], op: Int) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  def span[A](name: String)(body: Span => A): A = {
    val parent = if (stack.isEmpty) -1 else stack.top.id
    val before = dataFiles()
    val s = new Span(spans.size, name, parent, op, System.nanoTime())
    spans += s
    stack.push(s)
    val prevDesc = sc.getLocalProperty(Trace.JobDescription)
    sc.setJobDescription(s"paperbench:${s.id}:$name")
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      sc.setJobDescription(prevDesc)
      s.add("files_written", (dataFiles() -- before).size)
    }
  }

  /** data files (not `_SUCCESS`/`.crc` bookkeeping) under the watched
    * output roots; a span's files_written is the set it added */
  private def dataFiles(): Set[String] =
    watch.flatMap(Util.files).map(_.getPath)
      .filterNot(p => { val b = Util.base(p); b.startsWith(".") || b.startsWith("_") })
      .toSet
}
