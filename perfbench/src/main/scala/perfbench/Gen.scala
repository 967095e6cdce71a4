package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every value is a pure function of the seed
  * (and of a document or batch number), so the same seed yields the same
  * corpus, vectors, query log and upsert batches in any JVM, in the oracle
  * and inside Spark tasks alike. */
object Gen {
  val VocabSize = 20000
  val ZipfExponent = 1.07
  val MinDocLen = 20
  val MaxDocLen = 200
  val Dims = 64
  val Clusters = 32

  def rng(seed: Long, stream: Long, n: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + stream) + n))

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Distinct lowercase words of 4 to 9 letters; index = Zipf rank. None of
    * them is a query-language operator word. */
  def vocabulary(seed: Long): Array[String] = {
    val r = rng(seed, 1, 0)
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](VocabSize)
    var i = 0
    while (i < VocabSize) {
      val len = 4 + r.nextInt(6)
      val w = new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
      if (w != "near" && seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  /** Cumulative Zipf(s) weights over ranks 0 until VocabSize. */
  val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => math.pow(r + 1.0, -ZipfExponent))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def zipfRank(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, VocabSize - 1)
  }

  /** Term ranks of one document version. `version` 0 is the original text;
    * an upsert replacing a document uses the batch number. */
  def docTokens(seed: Long, docId: Long, version: Long): Array[Int] = {
    val r = rng(seed, 100 + version, docId)
    Array.fill(MinDocLen + r.nextInt(MaxDocLen - MinDocLen + 1))(zipfRank(r))
  }

  def text(tokens: Array[Int], vocab: Array[String]): String =
    tokens.iterator.map(vocab(_)).mkString(" ")

  /** Gaussian-mixture embedding of `id`: a seeded cluster centre plus
    * isotropic noise, stored as floats. */
  def centres(seed: Long): Array[Array[Double]] = {
    val r = rng(seed, 3, 0)
    Array.fill(Clusters, Dims)(gauss(r))
  }

  def vector(seed: Long, centres: Array[Array[Double]], id: Long): Array[Float] = {
    val r = rng(seed, 4, id)
    val c = centres(r.nextInt(Clusters))
    Array.tabulate(Dims)(i => (c(i) + 0.35 * gauss(r)).toFloat)
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on every JDK level
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  /** Upsert batch `batch` (1, 2, …): `size` documents, a `replaceShare` of
    * them new versions of live ids, the rest fresh ids from `nextId` upward.
    * Every document in it is at version `batch`. */
  def upsertBatch(seed: Long, batch: Long, liveIds: IndexedSeq[Long], nextId: Long,
                  size: Int, replaceShare: Double): Array[(Long, Array[Int])] = {
    val r = rng(seed, 5, batch)
    val nReplace = (size * replaceShare).round.toInt
    val replaced = scala.collection.mutable.LinkedHashSet[Long]()
    while (replaced.size < nReplace) replaced += liveIds(r.nextInt(liveIds.size))
    val fresh = (0 until size - nReplace).map(i => nextId + i)
    (replaced.toSeq ++ fresh).map(id => id -> docTokens(seed, id, batch)).toArray
  }
}

/** Digest of generated inputs, printed so two runs can show that one seed
  * gave byte-identical data. */
final class InputDigest {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  private val buf = java.nio.ByteBuffer.allocate(8)
  def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
  def ints(a: Array[Int]): Unit = { long(a.length); a.foreach(v => long(v)) }
  def floats(a: Array[Float]): Unit = a.foreach(v => long(java.lang.Float.floatToIntBits(v)))
  def string(s: String): Unit = { val b = s.getBytes("UTF-8"); long(b.length); md.update(b) }
  def hex: String = md.digest().map("%02x".format(_)).mkString.take(16)
}
