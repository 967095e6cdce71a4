package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Run-wide settings taken from the command line. */
final case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  def path(name: String): String = s"$work/$name"
}

/** One served request: its latency, whether it threw, and a deferred check
  * of its answer against the oracle (run after the timed loop). */
final case class Served(kind: String, req: Long, startNs: Long, endNs: Long,
                        error: Option[Throwable], check: () => Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A metric line: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

object Harness {
  private val reqIds = new java.util.concurrent.atomic.AtomicLong()

  def session(ctx: Ctx): SparkSession = {
    val spark = graft.core.GraftSession.builder(s"local[${ctx.cores}]")
      .config("spark.local.dir", ctx.path("spark-local"))
      .config("spark.sql.warehouse.dir", ctx.path("warehouse"))
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.GraftSession.tune(spark)
  }

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime
    val r = body
    (r, (System.nanoTime - t0) / 1e9)
  }

  /** Serve one request: `call` returns its answer; `verify` checks it after
    * the timed loop. Every call is wrapped in a root span named `req`.
    * Returns false when the call threw. */
  def serve[A](spark: SparkSession, out: ConcurrentLinkedQueue[Served], kind: String)
              (call: Long => A)(verify: A => Boolean): Boolean = {
    val req = reqIds.incrementAndGet()
    val t0 = System.nanoTime
    val res =
      try Right(Trace.span(spark, "req", kind, req)(call(req)))
      catch { case e: Exception => Left(e) }
    val t1 = System.nanoTime
    res match {
      case Right(a) => out.add(Served(kind, req, t0, t1, None, () => verify(a)))
      case Left(e) =>
        System.err.println(s"perfbench: $kind request $req failed: $e")
        out.add(Served(kind, req, t0, t1, Some(e), () => false))
    }
    res.isRight
  }

  /** Build, plan and run one DataFrame-returning call, each step in its own
    * span: `build` is the SQL analysis or the library call (including any
    * Spark actions it runs before returning), then Catalyst optimization,
    * physical planning, and the collect that executes the plan. */
  def collect(spark: SparkSession, buildSpan: String, kind: String, req: Long)
             (build: => DataFrame): Array[Row] = {
    val df = Trace.span(spark, buildSpan, kind, req)(build)
    Trace.span(spark, "ext.optimize", kind, req)(df.queryExecution.optimizedPlan)
    Trace.span(spark, "ext.physical", kind, req)(df.queryExecution.executedPlan)
    Trace.span(spark, "exec.run", kind, req) {
      val rows = df.collect()
      Trace.rows(rows.length)
      rows
    }
  }

  /** Closed loop: call `step` with 0, 1, 2, … until `seconds` have passed
    * and a whole number of `cycle`-request rounds is done, so every run
    * serves the log's kinds in the same proportion; returns the loop's wall
    * time in seconds. */
  def closedLoop(seconds: Int, cycle: Int)(step: Int => Unit): Double = {
    val t0 = System.nanoTime
    val end = t0 + seconds * 1000000000L
    var i = 0
    while (System.nanoTime < end || i % cycle != 0) { step(i); i += 1 }
    (System.nanoTime - t0) / 1e9
  }

  /** Samples used heap every 10 ms while running; `peakMb` reads the max. */
  final class HeapSampler extends Thread("perfbench-heap") {
    setDaemon(true)
    @volatile private var running = true
    @volatile private var peak = 0L
    private val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    override def run(): Unit = while (running) {
      peak = math.max(peak, bean.getHeapMemoryUsage.getUsed)
      Thread.sleep(10)
    }
    def stopAndPeakMb(): Double = { running = false; join(); peak / 1048576.0 }
  }

  /** Middle value; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** Total size of the regular files under `path`. */
  def bytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.iterator.map(c => bytes(c.getPath)).sum).getOrElse(0L)
  }

  /** Parquet data files under `path` (name starts with "part-"). */
  def parquetFiles(path: String): Int = {
    val f = new java.io.File(path)
    if (f.isFile) (if (f.getName.startsWith("part-")) 1 else 0)
    else Option(f.listFiles).map(_.iterator.map(c => parquetFiles(c.getPath)).sum).getOrElse(0)
  }

  def served(q: ConcurrentLinkedQueue[Served]): Seq[Served] = q.asScala.toSeq.sortBy(_.startNs)
}
