package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.fts.{Index, Search}
import graft.pipeline.{Hybrid, Similarity}
import Harness._

/** `vector_serve`: one client sends k-NN and hybrid requests against an
  * IVF-PQ layout over seeded Gaussian-mixture embeddings whose ids are the
  * documents of the Zipf corpus. */
object VectorServe {
  val NDocs = FtsServe.NDocs
  /** Below this recall a k-NN answer is wrong (the `q_sim_ivfpq_refined`
    * contract: at least 8 of the exact top 10). */
  val MinRecall = 0.8
  val RrfK = 60
  /** Four k-NN requests, then one hybrid: 80% / 20%. */
  val Kinds = Seq("knn", "knn", "knn", "knn", "hybrid")

  final case class VecQuery(kind: String, qid: Int, terms: Seq[Int])

  def run(ctx: Ctx): Outcome = {
    val (spark, sessionS) = timeS(session(ctx))
    val c = new FtsCorpus(ctx.seed, NDocs)
    val centres = Gen.centres(ctx.seed)
    val vecs = Array.tabulate(NDocs)(i => Gen.vector(ctx.seed, centres, i))
    val corpus = ctx.path("corpus")
    val embPath = ctx.path("embeddings")
    c.write(spark, corpus)
    locally {
      import spark.implicits._
      val (s, cs) = (ctx.seed, centres)
      spark.range(NDocs).map(id => (id.longValue, Gen.vector(s, cs, id).toSeq))
        .toDF("vec_id", "embedding").write.parquet(embPath)
    }
    val r = Gen.rng(ctx.seed, 12, 0)
    def query(i: Int): VecQuery = {
      val qid = r.nextInt(NDocs)
      // hybrid text side: two distinct terms of the anchor document,
      // non-head ones when it has two
      val all = c.docs.toks(qid).distinct
      val own = Some(all.filterNot(c.head.contains)).filter(_.length >= 2).getOrElse(all)
      val a = own(r.nextInt(own.length))
      val rest = own.filter(_ != a)
      val terms = if (rest.isEmpty) Seq(a) else Seq(a, rest(r.nextInt(rest.length)))
      VecQuery(Kinds(i % Kinds.size), qid, terms)
    }
    val log = (0 until 2000).map(query)
    val warm = Seq(query(0).copy(kind = "knn"), query(4).copy(kind = "hybrid"))
    val digest = new InputDigest
    c.digest(digest)
    vecs.foreach(digest.floats)
    log.foreach(q => { digest.long(q.qid); q.terms.foreach(t => digest.long(t)) })
    if (ctx.trace) Trace.start(spark)

    val indexDir = ctx.path("index")
    val layoutDir = ctx.path("ivfpq")
    val (_, installS) = timeS(graft.ext.GraftExtensions.install(spark))
    val (_, createS) = timeS(Index.createIndex(spark, corpus, indexDir))
    val (_, pqS) = timeS(Similarity.writeCelledPq(spark.read.parquet(embPath), layoutDir))
    require(parquetFiles(s"$indexDir/postings") > 0 && parquetFiles(s"$layoutDir/_codes") > 0,
      s"layout build wrote no postings or codes under $indexDir, $layoutDir")
    val emb = spark.read.parquet(embPath)
    val ix = Index.read(spark, indexDir)
    val cos = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
    def cosOf(qid: Int) = cos.computeIfAbsent(qid, q => Oracle.cosines(vecs, q))

    // request id -> (query id, returned ids), for recall_at_10
    val knnAnswers = new java.util.concurrent.ConcurrentHashMap[Long, (Int, Seq[Long])]()
    def request(out: ConcurrentLinkedQueue[Served], q: VecQuery): Unit = q.kind match {
      case "knn" =>
        serve(spark, out, "knn") { req =>
          val rows = collect(spark, "pipeline.build", "knn", req)(
            Similarity.ivfPqTopKRefined(emb, layoutDir, q.qid, 10))
          knnAnswers.put(req, (q.qid, rows.map(_.getLong(0)).toSeq))
          rows
        } { rows => checkKnn(rows.map(r => (r.getLong(0), r.getDouble(1))), cosOf(q.qid), 10) }
      case _ =>
        serve(spark, out, "hybrid") { req =>
          collect(spark, "pipeline.build", "hybrid", req) {
            val terms = q.terms.map(c.vocab(_))
            val text = Trace.span(spark, "fts.bm25", "hybrid", req)(
              Search.scoreBm25(ix.copy(postings = Index.lookup(ix, terms)), terms, 20))
            val vec = Trace.span(spark, "pipeline.knn", "hybrid", req)(
              Similarity.ivfPqTopKRefined(emb, layoutDir, q.qid, 20))
            Trace.span(spark, "pipeline.fuse", "hybrid", req)(Hybrid.rrfFuse(text, vec, 10, RrfK))
          }
        } { rows =>
          checkHybrid(rows.map(r => (r.getLong(0), r.getDouble(1))), Oracle.bm25(c.docs, q.terms), cosOf(q.qid))
        }
    }

    val warmOut = new ConcurrentLinkedQueue[Served]()
    val (_, warmS) = timeS(warm.foreach(request(warmOut, _)))
    System.err.println(f"perfbench: session $sessionS%.3f s, index $createS%.3f s, " +
      f"ivf-pq $pqS%.3f s, warm-up $warmS%.3f s")
    val out = new ConcurrentLinkedQueue[Served]()
    val heap = new HeapSampler
    heap.start()
    val loopS = closedLoop(ctx.seconds, Kinds.size)(i => request(out, log(i % log.size)))
    val heapMb = heap.stopAndPeakMb()
    Trace.drain(spark)
    val reads = served(out)

    val exactMs = if (!ctx.trace) Nil else (0 until 3).map { i =>
      timeS(Similarity.bruteForceTopK(emb, log(i).qid, 10).collect())._2 * 1000
    }
    val layers = if (!ctx.trace) Nil else Seq(
      Metric("core.session_s", sessionS, "s"),
      Metric("ext.install_ms", installS * 1000, "ms"),
      Metric("fts.create_index_s", createS, "s"),
      Metric("fts.index_bytes", bytes(indexDir).toDouble, "bytes"),
      Metric("pipeline.celled_pq_build_s", pqS, "s"),
      Metric("pipeline.knn_exact_ms", median(exactMs), "ms")) ++
      Seq("fts.bm25" -> "fts.hybrid.bm25", "pipeline.knn" -> "pipeline.hybrid.knn",
        "pipeline.fuse" -> "pipeline.hybrid.fuse").flatMap { case (span, name) =>
        val timed = reads.map(_.req).toSet
        val ss = Trace.spans.asScala.toSeq.filter(s => s.name == span && timed(s.req))
        Seq(Metric(s"${name}_ms", median(ss.map(_.ms)), "ms"),
          Metric(s"$name.jobs", ss.map(_.jobs.sum.toDouble).sum / math.max(1, ss.size), "count"))
      } ++
      Report.perKind(reads) ++ Report.perWorkload(reads, ctx.cores)
    val recall = reads.flatMap(r => Option(knnAnswers.get(r.req)))
      .map { case (qid, ids) => Oracle.recall(ids, cosOf(qid), 10) }
    val e2e = Seq(Metric("setup_s", sessionS + installS + createS + pqS + warmS, "s")) ++
      Report.common(reads, loopS) ++ Seq(
      Report.kindP50(reads, loopS, "knn", "knn_p50_ms"),
      Report.kindP50(reads, loopS, "hybrid", "hybrid_p50_ms"),
      Metric("recall_at_10", if (recall.isEmpty) Double.NaN else recall.sum / recall.size, "ratio"),
      Metric("index_bytes_ratio", (bytes(indexDir) + bytes(layoutDir)).toDouble /
        (bytes(corpus) + bytes(embPath)), "ratio"),
      Metric("heap_peak_mb", heapMb, "MB"))
    spark.stop()
    Outcome(e2e, layers, served(warmOut) ++ reads, reads, loopS, digest.hex)
  }

  private def ranked(xs: Seq[(Long, Double)]): Boolean =
    xs.sliding(2).forall { case Seq((ia, a), (ib, b)) => a > b || (a == b && ia < ib); case _ => true }

  /** Cosines rounded to 4 dp, ranked by score then id, recall >= 0.8. */
  def checkKnn(ans: Seq[(Long, Double)], cos: Array[Double], k: Int): Boolean =
    ans.size == k && ranked(ans) && Oracle.recall(ans.map(_._1), cos, k) >= MinRecall &&
      ans.forall { case (id, s) => math.abs(cos(id.toInt) - s) <= Oracle.ScoreTol }

  /** Reciprocal-rank fusion of the exact BM25 top-20 and a k-NN top-20.
    * Each fused score must split into the document's BM25 rank term plus
    * either nothing or one k-NN rank term; the k-NN ranks recovered that
    * way must follow the exact cosines and hold 80% of the exact top-20,
    * and no BM25 document left out may outscore the lowest one kept. */
  def checkHybrid(ans: Seq[(Long, Double)], bm: Map[Long, Double], cos: Array[Double]): Boolean = {
    val tol = 2e-6
    val bmRank = bm.toSeq.map { case (id, s) => (id, Oracle.round4(s)) }
      .sortBy { case (id, s) => (-s, id) }.take(20).map(_._1).zipWithIndex
      .map { case (id, i) => id -> (i + 1) }.toMap
    def term(rank: Int) = 1.0 / (RrfK + rank)
    val vecRank = ans.map { case (id, rrf) =>
      val rem = rrf - bmRank.get(id).map(term).getOrElse(0.0)
      if (math.abs(rem) <= tol) Some(bmRank.get(id).map(_ => 0).getOrElse(-1))
      else {
        val rb = math.round(1.0 / rem - RrfK).toInt
        if (rb >= 1 && rb <= 20 && math.abs(term(rb) - rem) <= tol) Some(rb) else None
      }
    }
    val vec = ans.zip(vecRank).collect { case ((id, _), Some(rb)) if rb > 0 => (rb, id) }.sortBy(_._1)
    val kth = cos.sorted(Ordering[Double].reverse)(19)
    lazy val floor = ans.map(_._2).min
    ans.size == 10 && ranked(ans) && vecRank.forall(r => r.exists(_ >= 0)) &&
      vec.map(_._1).distinct.size == vec.size &&
      vec.sliding(2).forall { case Seq((_, a), (_, b)) => cos(a.toInt) >= cos(b.toInt) - Oracle.ScoreTol; case _ => true } &&
      vec.count { case (_, id) => cos(id.toInt) >= kth - Oracle.ScoreTol } >= MinRecall * vec.size &&
      bmRank.forall { case (id, rank) => ans.exists(_._1 == id) || term(rank) <= floor + tol }
  }
}
