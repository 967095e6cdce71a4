package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. `name` is `<layer>.<phase>`; `kind` is the
  * request kind it served; spans of one request share `req`. Counters are
  * filled by [[SpanListener]] for the Spark jobs the span's thread ran. */
final class Span(val id: Long, val name: String, val kind: String, val parent: Long,
                 val req: Long, val thread: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  @volatile var resultRows: Long = 0L
  val jobs, stages, tasks, taskNs, inputRows, shuffleBytes, spillBytes, bytesWritten =
    new LongAdder
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Off unless the run is traced: then every call
  * the workloads make through [[span]] is timed, and the Spark jobs it
  * launches are attributed to it through a thread-local Spark property. */
object Trace {
  val Prop = "perfbench.span"
  @volatile var enabled = false
  private val ids = new AtomicLong()
  private val current = new ThreadLocal[Span]
  private[perfbench] val byId = new ConcurrentHashMap[Long, Span]()
  val spans = new ConcurrentLinkedQueue[Span]()

  def start(spark: SparkSession): Unit = {
    enabled = true
    spark.sparkContext.addSparkListener(new SpanListener)
  }

  def span[T](spark: SparkSession, name: String, kind: String, req: Long)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get
      val s = new Span(ids.incrementAndGet(), name, kind,
        if (parent == null) 0L else parent.id, req, Thread.currentThread.getName, System.nanoTime)
      byId.put(s.id, s)
      val sc = spark.sparkContext
      current.set(s)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime
        current.set(parent)
        sc.setLocalProperty(Prop, if (parent == null) null else parent.id.toString)
        spans.add(s)
      }
    }

  /** Record how many rows the innermost open span returned. */
  def rows(n: Long): Unit = Option(current.get).foreach(_.resultRows = n)

  /** Wait for queued listener events, so span counters are complete. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)

  /** Spans as JSON lines, written when the run ends. */
  def write(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","kind":"${s.kind}","parent":${s.parent},""" +
        s""""req":${s.req},"thread":"${s.thread}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${s.jobs.sum},"stages":${s.stages.sum},"tasks":${s.tasks.sum},""" +
        s""""task_ns":${s.taskNs.sum},"input_rows":${s.inputRows.sum},""" +
        s""""shuffle_bytes":${s.shuffleBytes.sum},"spill_bytes":${s.spillBytes.sum},""" +
        s""""bytes_written":${s.bytesWritten.sum},"rows":${s.resultRows}}""")
    } finally w.close()
  }
}

/** Attributes jobs, stages, tasks, task time, input rows, shuffle, spill
  * and output bytes to the span that was open on the submitting thread. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Prop)))
      .flatMap(id => Option(Trace.byId.get(id.toLong))).foreach { s =>
        s.jobs.increment()
        e.stageIds.foreach(stageSpan.put(_, s))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.stages.increment())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      s.tasks.increment()
      Option(e.taskMetrics).foreach { m =>
        s.taskNs.add(m.executorRunTime * 1000000L)
        s.inputRows.add(m.inputMetrics.recordsRead)
        s.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        s.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        s.bytesWritten.add(m.outputMetrics.bytesWritten)
      }
    }
}
