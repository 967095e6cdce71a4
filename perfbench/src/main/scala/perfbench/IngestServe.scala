package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.immutable.HashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.fts.{IncrementalIndex, Search}
import Harness._

/** `ingest_serve`: a writer upserts document batches into a merge-on-read
  * delta log and compacts it into a new registered index every few batches,
  * while a reader in the same session serves match and top-k requests over
  * the delta log and SQL `fts_match` over the latest compacted index. */
object IngestServe {
  val BaseDocs = FtsServe.NDocs
  val BatchDocs = 500
  val ReplaceShare = 0.2
  val CompactEvery = 8
  val ReaderKinds = Seq("mor_match", "mor_topk", "sql_match")

  /** A published compaction epoch: the live-documents table, its index, and
    * the batch count both reflect. */
  final case class Epoch(table: String, index: String, batch: Int)

  /** `(doc_id, text)` for the given document versions, generated in tasks. */
  def docsFrame(spark: SparkSession, seed: Long, vocab: Array[String],
                versions: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    versions.toDS().map { case (id, v) => (id, Gen.text(Gen.docTokens(seed, id, v), vocab)) }
      .toDF("doc_id", "text")
  }

  def run(ctx: Ctx): Outcome = {
    val (spark, sessionS) = timeS(session(ctx))
    val c = new FtsCorpus(ctx.seed, BaseDocs)
    val table0 = ctx.path("table-0")
    c.write(spark, table0)
    val (warm, log) = c.queryLog(13, 3000, ReaderKinds.map(k => if (k == "mor_topk") "topk" else "match"))
      .zipWithIndex.map { case (q, i) => q.copy(kind = ReaderKinds(i % ReaderKinds.size)) }
      .splitAt(ReaderKinds.size)
    val digest = new InputDigest
    c.digest(digest)
    log.foreach(q => digest.string(q.text))
    if (ctx.trace) Trace.start(spark)

    // live versions after each committed batch; index 0 is the base corpus
    val base = HashMap.from(c.docs.ids.iterator.zip(c.docs.toks.iterator.map(t => (0L, t))))
    val states = new java.util.concurrent.CopyOnWriteArrayList[HashMap[Long, (Long, Array[Int])]]()
    states.add(base)

    val dir = ctx.path("delta")
    val idx0 = ctx.path("epoch-0")
    val (_, installS) = timeS(graft.ext.GraftExtensions.install(spark))
    val (_, upsertS) = timeS(IncrementalIndex.upsert(spark, dir, spark.read.parquet(table0)))
    val (_, compactS) = timeS(IncrementalIndex.compactAndRegister(spark, dir, idx0, table0))
    require(parquetFiles(s"$idx0/postings") > 0, s"compaction wrote no postings under $idx0")
    val committed = new AtomicInteger(0)
    val epoch = new AtomicReference(Epoch(table0, idx0, 0))
    // compaction truncates folded delta partitions; merge-on-read requests
    // hold the read side so none of them scans a partition being deleted
    val truncation = new ReentrantReadWriteLock(true)
    val liveDeltas = new ConcurrentLinkedQueue[Double]()

    def docsAt(j: Int): Docs = {
      val st = states.get(j).toSeq.sortBy(_._1)
      new Docs(st.map(_._1).toArray, st.map(_._2._2).toArray)
    }
    val docsCache = new java.util.concurrent.ConcurrentHashMap[Int, Docs]()
    def oracleAt(j: Int): Docs = docsCache.computeIfAbsent(j, docsAt)

    def request(out: ConcurrentLinkedQueue[Served], q: FtsQuery): Unit = {
      val words = q.terms.map(c.vocab(_))
      q.kind match {
        case "sql_match" =>
          val e = epoch.get
          serve(spark, out, q.kind) { req =>
            collect(spark, "ext.analyze", q.kind, req)(spark.sql(
              s"SELECT doc_id FROM parquet.`${e.table}` WHERE fts_match(text, '${words.mkString(" ")}')"))
          } { rows => FtsServe.check(oracleAt(e.batch), q.copy(kind = "match"), rows) }
        case kind =>
          serve(spark, out, kind) { req =>
            // the wait for a running compaction counts in the latency
            truncation.readLock.lock()
            try {
              val j = committed.get
              liveDeltas.add(j - epoch.get.batch)
              (j, collect(spark, "fts.build", kind, req) {
                val ix = IncrementalIndex.readAsOf(spark, dir, j)
                if (kind == "mor_match") Search.matchAllIds(ix, words) else Search.scoreBm25(ix, words, 10)
              })
            } finally truncation.readLock.unlock()
          } { case (j, rows) =>
            FtsServe.check(oracleAt(j), q.copy(kind = if (kind == "mor_match") "match" else "topk"), rows)
          }
      }
    }

    val warmOut = new ConcurrentLinkedQueue[Served]()
    val (_, warmS) = timeS(warm.foreach(request(warmOut, _)))
    System.err.println(f"perfbench: session $sessionS%.3f s, base upsert $upsertS%.3f s, " +
      f"compact $compactS%.3f s, warm-up $warmS%.3f s")

    val writes = new ConcurrentLinkedQueue[Served]()
    val compactions = new ConcurrentLinkedQueue[Served]()
    val done = new AtomicBoolean(false)
    val writer = new Thread("perfbench-writer") {
      override def run(): Unit = {
        var nextId = BaseDocs.toLong
        var j = 0
        while (!done.get) {
          j += 1
          val prev = states.get(j - 1)
          val batch = Gen.upsertBatch(ctx.seed, j, prev.keysIterator.toIndexedSeq.sorted, nextId,
            BatchDocs, ReplaceShare)
          nextId += batch.count(_._1 >= nextId)
          val frame = docsFrame(spark, ctx.seed, c.vocab, batch.map { case (id, _) => (id, j.toLong) })
          val ok = serve(spark, writes, "upsert") { req =>
            Trace.span(spark, "fts.upsert", "upsert", req)(IncrementalIndex.upsert(spark, dir, frame))
          }(_ => true)
          if (!ok) return
          states.add(prev ++ batch.iterator.map { case (id, t) => id -> (j.toLong, t) })
          committed.set(j)
          if (j % CompactEvery == 0) {
            val table = ctx.path(s"table-$j")
            docsFrame(spark, ctx.seed, c.vocab, states.get(j).iterator.map { case (id, (v, _)) => (id, v) }.toSeq)
              .write.parquet(table)
            val idx = ctx.path(s"epoch-$j")
            truncation.writeLock.lock()
            try {
              if (!serve(spark, compactions, "compact") { req =>
                Trace.span(spark, "fts.compact", "compact", req)(
                  IncrementalIndex.compactAndRegister(spark, dir, idx, table))
              }(_ => true)) return
              epoch.set(Epoch(table, idx, j))
            } finally truncation.writeLock.unlock()
          }
        }
      }
    }

    val out = new ConcurrentLinkedQueue[Served]()
    val heap = new HeapSampler
    heap.start()
    writer.start()
    val loopS = closedLoop(ctx.seconds, ReaderKinds.size)(i => request(out, log(i % log.size)))
    done.set(true)
    writer.join()
    val heapMb = heap.stopAndPeakMb()
    Trace.drain(spark)
    val reads = served(out)
    val ups = served(writes)
    val comps = served(compactions)

    val e = epoch.get
    val storeBytes = bytes(dir) + bytes(e.index)
    val layers = if (!ctx.trace) Nil else {
      import scala.jdk.CollectionConverters._
      val spans = Trace.spans.asScala.toSeq
      def perCall(name: String, f: Span => Double) = {
        val xs = spans.filter(_.name == name).map(f)
        if (xs.isEmpty) Double.NaN else xs.sum / xs.size
      }
      val during = reads.filter(r => comps.exists(w => r.startNs < w.endNs && r.endNs > w.startNs))
      val outside = reads.filterNot(during.contains)
      val mor = reads.filter(r => r.kind.startsWith("mor") && r.error.isEmpty)
      val morReqs = mor.map(_.req).toSet
      Seq(
        Metric("core.session_s", sessionS, "s"),
        Metric("ext.install_ms", installS * 1000, "ms"),
        // the base index build: upsert of the base corpus plus its compaction
        Metric("fts.create_index_s", upsertS + compactS, "s"),
        Metric("fts.index_bytes", bytes(e.index).toDouble, "bytes"),
        Metric("fts.upsert_ms", median(ups.map(_.ms)), "ms"),
        Metric("fts.upsert.jobs", perCall("fts.upsert", _.jobs.sum.toDouble), "count"),
        Metric("fts.upsert.bytes_written", perCall("fts.upsert", _.bytesWritten.sum.toDouble), "bytes"),
        Metric("fts.mor_read_ms", median(mor.map(_.ms)), "ms"),
        Metric("fts.mor.jobs", spans.filter(s => morReqs(s.req)).map(_.jobs.sum.toDouble).sum /
          math.max(1, mor.size), "count"),
        Metric("fts.delta_batches_live", liveDeltas.asScala.sum / math.max(1, liveDeltas.size), "count"),
        Metric("fts.compact_s", median(comps.map(_.ms / 1000)), "s"),
        Metric("fts.compact.bytes_rewritten", perCall("fts.compact", _.bytesWritten.sum.toDouble), "bytes"),
        Metric("fts.compact.reader_stall_ms",
          if (during.isEmpty) Double.NaN else median(during.map(_.ms)) - median(outside.map(_.ms)), "ms")) ++
        Report.perKind(reads) ++ Report.perWorkload(reads, ctx.cores)
    }
    val e2e = Seq(Metric("setup_s", sessionS + installS + upsertS + compactS + warmS, "s")) ++
      Report.common(reads, loopS) ++ Seq(
      Report.kindP50(reads, loopS, "sql_match", "match_p50_ms"),
      Report.kindP50(reads, loopS, "mor_match", "mor_match_p50_ms"),
      Report.kindP50(reads, loopS, "mor_topk", "mor_topk_p50_ms"),
      Metric("upsert_p50_ms", median(ups.map(_.ms)), "ms"),
      Metric("compact_s", median(comps.map(_.ms / 1000)), "s"),
      Metric("index_bytes_ratio", storeBytes.toDouble / bytes(e.table), "ratio"),
      Metric("heap_peak_mb", heapMb, "MB"))
    System.err.println(s"perfbench: ${ups.size} upserts, ${comps.size} compactions, epoch at batch ${e.batch}")
    spark.stop()
    Outcome(e2e, layers, served(warmOut) ++ reads ++ ups ++ comps, reads, loopS, digest.hex)
  }
}
