package perfbench

/** Reference answers, computed in the benchmark's own JVM from the generated
  * inputs alone (never from anything the library wrote). */
object Oracle {
  val K1 = 1.2
  val B = 0.75
  /** Slack for comparing a 4-dp rounded score against the exact one. */
  val ScoreTol = 1.0001e-4

  /** A query-string clause over term ranks, mirroring the subset of the
    * query language the benchmark's log uses. */
  sealed trait Q
  final case class Term(t: Int) extends Q
  final case class Phrase(ts: Seq[Int]) extends Q
  final case class AnyOf(ts: Set[Int]) extends Q // a prefix, expanded
  final case class And(a: Q, b: Q) extends Q
  final case class Or(a: Q, b: Q) extends Q
  final case class Not(a: Q) extends Q

  def allOf(ts: Seq[Int]): Q = ts.map(t => Term(t): Q).reduce(And(_, _))

  private def eval(q: Q, toks: Array[Int]): Boolean = q match {
    case Term(t) => toks.contains(t)
    case AnyOf(ts) => toks.exists(ts)
    case Phrase(ts) => toks.indices.exists(i =>
      i + ts.size <= toks.length && ts.indices.forall(j => toks(i + j) == ts(j)))
    case And(a, b) => eval(a, toks) && eval(b, toks)
    case Or(a, b) => eval(a, toks) || eval(b, toks)
    case Not(a) => !eval(a, toks)
  }

  /** BM25(k1 = 1.2, b = 0.75), as documented for `fts_score`: full-precision
    * scores of every document holding at least one query term. */
  def bm25(docs: Docs, terms: Seq[Int]): Map[Long, Double] = {
    val ts = terms.distinct.toArray
    val df = new Array[Int](ts.length)
    val tf = new Array[Int](ts.length)
    val hits = scala.collection.mutable.ArrayBuffer[(Long, Array[Int], Int)]()
    ts.flatMap(docs.postings(_)).distinct.foreach { i =>
      val toks = docs.toks(i)
      java.util.Arrays.fill(tf, 0)
      var j = 0
      while (j < toks.length) {
        var q = 0
        while (q < ts.length) { if (toks(j) == ts(q)) tf(q) += 1; q += 1 }
        j += 1
      }
      if (tf.exists(_ > 0)) {
        ts.indices.foreach(q => if (tf(q) > 0) df(q) += 1)
        hits += ((docs.ids(i), tf.clone(), toks.length))
      }
    }
    val n = docs.size.toDouble
    val avgdl = docs.totalLen.toDouble / docs.size
    val idf = df.map(d => math.log((n - d + 0.5) / (d + 0.5) + 1.0))
    hits.iterator.map { case (id, tfs, dl) =>
      var s = 0.0
      ts.indices.foreach { q =>
        if (tfs(q) > 0) s += idf(q) * (tfs(q) * (K1 + 1.0)) /
          (tfs(q) + (dl.toDouble / avgdl * B + (1.0 - B)) * K1)
      }
      id -> s
    }.toMap
  }

  /** Document indexes that can satisfy `q`, from the term postings. */
  private def candidates(docs: Docs, q: Q): Option[Array[Int]] = q match {
    case Term(t) => Some(docs.postings(t))
    case Phrase(ts) => Some(docs.postings(ts.head))
    case AnyOf(ts) => Some(ts.toArray.flatMap(docs.postings(_)).distinct)
    case And(a, b) => (candidates(docs, a) ++ candidates(docs, b)).minByOption(_.length)
    case Or(a, b) => for (x <- candidates(docs, a); y <- candidates(docs, b)) yield (x ++ y).distinct
    case Not(_) => None
  }

  def matches(docs: Docs, q: Q): Set[Long] =
    candidates(docs, q).getOrElse(docs.ids.indices.toArray).iterator
      .filter(i => eval(q, docs.toks(i))).map(docs.ids(_)).toSet

  def round4(x: Double): Double = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Is `answer` (id, rounded score) a correct top-k of `exact`? Rank by
    * score descending, ties to the lower id; each returned score must be
    * its document's exact score rounded, and no document left out may
    * beat the lowest one returned. */
  def validTopK(answer: Seq[(Long, Double)], exact: Map[Long, Double], k: Int): Boolean = {
    val ordered = answer.sliding(2).forall {
      case Seq((ia, sa), (ib, sb)) => sa > sb || (sa == sb && ia < ib)
      case _ => true
    }
    val scoresOk = answer.forall { case (id, s) =>
      exact.get(id).exists(e => math.abs(e - s) <= ScoreTol)
    }
    lazy val chosen = answer.map(_._1).toSet
    lazy val floor = answer.map(a => exact(a._1)).min
    answer.size == math.min(k, exact.size) && answer.map(_._1).distinct.size == answer.size &&
      ordered && scoresOk &&
      (answer.isEmpty || exact.forall { case (id, e) => chosen(id) || e <= floor + ScoreTol })
  }

  /** Exact cosine similarity of `q` against every vector but `qid`. */
  def cosines(vecs: Array[Array[Float]], qid: Int): Array[Double] = {
    val q = vecs(qid)
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    vecs.indices.map { i =>
      if (i == qid) Double.NegativeInfinity
      else {
        val v = vecs(i)
        var dot = 0.0; var nn = 0.0; var d = 0
        while (d < v.length) { dot += v(d).toDouble * q(d); nn += v(d).toDouble * v(d); d += 1 }
        dot / (math.sqrt(nn) * qn)
      }
    }.toArray
  }

  /** Share of the exact top-k that the answer holds, counting an answer
    * id as a hit when it ties the exact k-th score within rounding. */
  def recall(answer: Seq[Long], cos: Array[Double], k: Int): Double = {
    val kth = cos.sorted(Ordering[Double].reverse)(k - 1)
    answer.count(id => cos(id.toInt) >= kth - ScoreTol).toDouble / k
  }
}

/** A set of live documents: ids with their term-rank arrays. */
final class Docs(val ids: Array[Long], val toks: Array[Array[Int]]) {
  def size: Int = ids.length
  val totalLen: Long = toks.iterator.map(_.length.toLong).sum

  /** Document indexes holding each term rank, ascending. */
  lazy val postings: Array[Array[Int]] = {
    val lists = Array.fill(Gen.VocabSize)(Array.newBuilder[Int])
    val last = Array.fill(Gen.VocabSize)(-1)
    toks.indices.foreach { i =>
      toks(i).foreach { t => if (last(t) != i) { last(t) = i; lists(t) += i } }
    }
    lists.map(_.result())
  }

  def df(t: Int): Int = postings(t).length
}

object Docs {
  /** Version-0 documents `0 until n` of the seeded corpus. */
  def generate(seed: Long, n: Int): Docs = {
    val toks = new Array[Array[Int]](n)
    java.util.stream.IntStream.range(0, n).parallel()
      .forEach(i => toks(i) = Gen.docTokens(seed, i, 0))
    new Docs(Array.tabulate(n)(_.toLong), toks)
  }
}
