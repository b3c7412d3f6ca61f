package graft.perfbench

import graft.model.SumRecord

/** The seeded inputs of one run: float32 vectors drawn from a clustered
  * Gaussian mixture, each with `name` and `bucket` meta keys. The same
  * seed always yields the same records; the engine only ever receives
  * them through its public API.
  */
final class Data(seed: Long, val n: Int, val dims: Int, clusters: Int,
    val buckets: Int) {

  private val rnd = new java.util.Random(seed)
  private val centers = Array.fill(clusters, dims)(rnd.nextGaussian())

  /** Spread of a record around its cluster centre. */
  val noise = 0.35

  val records: IndexedSeq[SumRecord] = (1 to n).map { i =>
    SumRecord(i.toLong, vector(rnd), Map("name" -> s"rec-$i",
      "bucket" -> s"b${rnd.nextInt(buckets)}"))
  }

  /** A fresh vector from the same mixture (writes use these). */
  def vector(r: java.util.Random): Array[Float] = {
    val c = centers(r.nextInt(clusters))
    Array.tabulate(dims)(d => (c(d) + noise * r.nextGaussian()).toFloat)
  }
}

object Data {

  /** Cosine in double precision over float32 inputs, 0 on a zero norm —
    * the reference semantics of the engine's `graft_cosine`.
    */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Brute-force findSimilar(id, threshold) over the benchmark's own
    * copy of the records.
    */
  def similar(recs: Iterable[SumRecord], ref: SumRecord,
      threshold: Double): Map[Long, Double] =
    recs.iterator.filter(_.id != ref.id)
      .map(r => r.id -> cosine(ref.data, r.data))
      .filter(_._2 >= threshold).toMap

  def sumAll(recs: Iterable[SumRecord], dims: Int): Array[Double] = {
    val s = new Array[Double](dims)
    recs.foreach(r => r.data.indices.foreach(i => s(i) += r.data(i)))
    s
  }

  /** Bitwise float equality (NaN-safe, sign-of-zero aware). */
  def sameBits(a: Array[Float], b: Array[Float]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Float.floatToRawIntBits(a(i)) ==
        java.lang.Float.floatToRawIntBits(b(i)))
}

/** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }
  def sample(r: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
