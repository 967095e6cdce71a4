package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Row, SparkSession}

import graft.fts.{Index, Search}
import Harness._
import Oracle._

/** One logged full-text request: its kind, the text the client sends, and
  * the oracle clause or terms it is checked against. */
final case class FtsQuery(kind: String, text: String, terms: Seq[Int], clause: Q)

/** The seeded Zipf corpus and a session-correlated query log over it. */
final class FtsCorpus(val seed: Long, val nDocs: Int) {
  val vocab: Array[String] = Gen.vocabulary(seed)
  val docs: Docs = Docs.generate(seed, nDocs)
  private val df = Array.tabulate(Gen.VocabSize)(docs.df)
  private def tier(lo: Double, hi: Double) =
    (0 until Gen.VocabSize).filter(t => df(t) >= lo * nDocs && df(t) < hi * nDocs && df(t) >= 3).toArray
  val head: Array[Int] = tier(0.10, 2.0)
  val torso: Array[Int] = tier(0.005, 0.10)
  val tail: Array[Int] = tier(0.0, 0.005)

  def words(ts: Seq[Int]): String = ts.map(vocab(_)).mkString(" ")

  /** Writes `(doc_id, text)` parquet; the text is generated inside the
    * Spark tasks from the same seeded function the oracle used. */
  def write(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val (s, v) = (seed, vocab)
    spark.range(nDocs).map(id => (id.longValue, Gen.text(Gen.docTokens(s, id, 0), v)))
      .toDF("doc_id", "text").write.parquet(path)
  }

  def digest(d: InputDigest): Unit = {
    vocab.foreach(d.string)
    docs.toks.foreach(d.ints)
  }

  /** `n` requests in sessions of 3 to 6; each request shares a term with
    * the one before it. Kinds rotate in the fixed order `kinds`, so every
    * seed gives the same mix. */
  def queryLog(stream: Long, n: Int, kinds: Seq[String]): IndexedSeq[FtsQuery] = {
    val r = Gen.rng(seed, stream, 0)
    def pick(a: Array[Int], not: Seq[Int]): Int = {
      var t = a(r.nextInt(a.length))
      while (not.contains(t)) t = a(r.nextInt(a.length))
      t
    }
    var left = 0
    var prev = Seq.empty[Int]
    (0 until n).map { i =>
      if (left == 0) { left = 3 + r.nextInt(4); prev = Seq(pick(torso, Nil)) }
      left -= 1
      val a = prev(r.nextInt(prev.size))
      val q = kinds(i % kinds.size) match {
        case "match" =>
          val ts = Seq(a, pick(if (r.nextBoolean()) torso else tail, Seq(a)))
          FtsQuery("match", s"SELECT doc_id FROM docs WHERE fts_match(text, '${words(ts)}')", ts, allOf(ts))
        case "topk" =>
          val h = pick(head, Seq(a))
          val ts = Seq(a, h, pick(torso, Seq(a, h)))
          val w = words(ts)
          FtsQuery("topk", s"SELECT doc_id, round(fts_score(text, '$w'), 4) AS score FROM docs " +
            s"WHERE fts_match_any(text, '$w') ORDER BY score DESC, doc_id LIMIT 10", ts, allOf(ts))
        case "maxscore" =>
          val h = pick(head, Seq(a))
          val ts = Seq(a, h, pick(tail, Seq(a, h)))
          FtsQuery("maxscore", words(ts), ts, allOf(ts))
        case "query_string" =>
          val (qs, ts, clause) = (i / kinds.size) % 4 match {
            case 0 =>
              val b = pick(torso, Seq(a)); val c = pick(tail, Seq(a, b))
              (s"${vocab(a)} AND (${vocab(b)} OR ${vocab(c)})", Seq(a, b, c), And(Term(a), Or(Term(b), Term(c))))
            case 1 =>
              val ds = docs.postings(a)
              val d = docs.toks(ds(r.nextInt(ds.length)))
              val at = d.indices.filter(p => d(p) == a && p + 1 < d.length && d(p + 1) != a)
              val b = if (at.isEmpty) pick(torso, Seq(a)) else d(at(r.nextInt(at.size)) + 1)
              (s""""${vocab(a)} ${vocab(b)}"""", Seq(a, b), Phrase(Seq(a, b)))
            case 2 =>
              val pre = vocab(a).take(3)
              val b = pick(torso, Seq(a))
              (s"$pre* AND ${vocab(b)}", Seq(a, b),
                And(AnyOf(vocab.indices.filter(vocab(_).startsWith(pre)).toSet), Term(b)))
            case _ =>
              val h = pick(head, Seq(a))
              (s"${vocab(a)} AND NOT ${vocab(h)}", Seq(a, h), And(Term(a), Not(Term(h))))
          }
          FtsQuery("query_string", s"SELECT doc_id FROM docs WHERE fts_query(text, '$qs')", ts, clause)
      }
      prev = q.terms
      q
    }
  }
}

/** `fts_serve`: one client replays a full-text query log against a
  * positional index with term bounds. */
object FtsServe {
  val NDocs = 10000
  val Kinds = Seq("match", "topk", "query_string", "maxscore")

  /** Serve one logged query and queue its oracle check. */
  def request(spark: SparkSession, out: ConcurrentLinkedQueue[Served], c: FtsCorpus,
              indexDir: String, q: FtsQuery): Unit =
    serve(spark, out, q.kind) { req =>
      q.kind match {
        case "maxscore" =>
          collect(spark, "fts.build", q.kind, req)(
            Search.bm25TopKMaxScorePersisted(spark, indexDir, q.terms.map(c.vocab(_)), 10))
        case _ => collect(spark, "ext.analyze", q.kind, req)(spark.sql(q.text))
      }
    } { rows => check(c.docs, q, rows) }

  def check(docs: Docs, q: FtsQuery, rows: Array[Row]): Boolean = q.kind match {
    case "topk" | "maxscore" =>
      validTopK(rows.toSeq.map(r => (r.getLong(0), r.getDouble(1))), bm25(docs, q.terms), 10)
    case _ =>
      val got = rows.map(_.getLong(0))
      got.length == got.distinct.length && got.toSet == matches(docs, q.clause)
  }

  def run(ctx: Ctx): Outcome = {
    val (spark, sessionS) = timeS(session(ctx))
    val c = new FtsCorpus(ctx.seed, NDocs)
    val corpus = ctx.path("corpus")
    c.write(spark, corpus)
    val log = c.queryLog(10, 4000, Kinds)
    // two rounds: the first timed round then starts with a warmer JIT
    val warm = c.queryLog(11, 2 * Kinds.size, Kinds)
    val digest = new InputDigest
    c.digest(digest)
    log.foreach(q => digest.string(q.text))
    if (ctx.trace) Trace.start(spark)

    val indexDir = ctx.path("index")
    val (_, installS) = timeS(graft.ext.GraftExtensions.install(spark))
    val (_, createS) = timeS(Index.createIndex(spark, corpus, indexDir, positional = true))
    val (_, boundsS) = timeS(Index.writeTermBounds(spark, indexDir))
    require(parquetFiles(s"$indexDir/postings") > 0 && parquetFiles(s"$indexDir/term_bounds") > 0,
      s"index build wrote no postings under $indexDir")
    spark.read.parquet(corpus).createOrReplaceTempView("docs")
    val warmOut = new ConcurrentLinkedQueue[Served]()
    val (_, warmS) = timeS(warm.foreach(q => request(spark, warmOut, c, indexDir, q)))
    System.err.println(f"perfbench: session $sessionS%.3f s, index $createS%.3f s, " +
      f"bounds $boundsS%.3f s, warm-up $warmS%.3f s")

    val out = new ConcurrentLinkedQueue[Served]()
    val heap = new HeapSampler
    heap.start()
    val loopS = closedLoop(ctx.seconds, Kinds.size)(i => request(spark, out, c, indexDir, log(i % log.size)))
    val heapMb = heap.stopAndPeakMb()
    Trace.drain(spark)
    val reads = served(out)

    val layers = if (!ctx.trace) Nil else Seq(
      Metric("core.session_s", sessionS, "s"),
      Metric("ext.install_ms", installS * 1000, "ms"),
      Metric("fts.create_index_s", createS, "s"),
      Metric("fts.term_bounds_s", boundsS, "s"),
      Metric("fts.index_bytes", bytes(indexDir).toDouble, "bytes")) ++
      Report.perKind(reads) ++ Report.perWorkload(reads, ctx.cores)
    val e2e = Seq(Metric("setup_s", sessionS + installS + createS + boundsS + warmS, "s")) ++
      Report.common(reads, loopS) ++
      Kinds.map(k => Report.kindP50(reads, loopS, k, s"${k}_p50_ms")) ++ Seq(
      Metric("index_bytes_ratio", bytes(indexDir).toDouble / bytes(corpus), "ratio"),
      Metric("heap_peak_mb", heapMb, "MB"))
    spark.stop()
    Outcome(e2e, layers, served(warmOut) ++ reads, reads, loopS, digest.hex)
  }
}

/** What a workload hands back to [[Main]]: metrics, every request it served
  * (warm-up and writes included, for the oracle check), the timed reads,
  * and the digest of its generated inputs. */
final case class Outcome(e2e: Seq[Metric], layers: Seq[Metric], checked: Seq[Served],
                         reads: Seq[Served], loopS: Double, inputDigest: String)
