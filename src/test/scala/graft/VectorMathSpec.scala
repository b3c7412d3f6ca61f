package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorMath

/** The float-range kernels against the formulas they replaced: the JS
  * record methods' own `[start, end)` loops and the resident scan's
  * `cosine(widen(a), widen(b))`. Results must agree to the bit, errors
  * (a negative start reads out of bounds) included.
  */
class VectorMathSpec extends AnyFunSuite {

  // ---- the replaced formulas, copied as they were
  private def oldDot(a: Array[Float], b: Array[Float], start: Int, end: Int): Double = {
    var s = 0.0
    var i = start
    val hi = math.min(end, math.min(a.length, b.length))
    while (i < hi) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  private def oldCosine(a: Array[Float], b: Array[Float], start: Int, end: Int): Double = {
    val aMag = math.sqrt(oldDot(a, a, start, end))
    val bMag = math.sqrt(oldDot(b, b, start, end))
    val den = aMag * bMag
    if (den == 0.0) 0.0 else oldDot(a, b, start, end) / den
  }
  private def oldJaccard(a: Array[Float], b: Array[Float], start: Int, end: Int): Double = {
    var m11 = 0.0
    var m10 = 0.0
    var i = start
    val hi = math.min(end, math.min(a.length, b.length))
    while (i < hi) {
      m11 += (a(i) * b(i)).toDouble
      if (a(i) + b(i) == 1.0f) m10 += 1
      i += 1
    }
    if (m10 + m11 == 0) 0.0 else m11 / (m11 + m10)
  }
  private def widen(v: Array[Float]): Array[Double] = {
    val out = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { out(i) = v(i).toDouble; i += 1 }
    out
  }
  private def oldSum(a: Array[Double], b: Array[Double]): Array[Double] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else {
      val out = new Array[Double](math.max(a.length, b.length))
      var i = 0
      while (i < out.length) {
        out(i) = (if (i < a.length) a(i) else 0.0) +
          (if (i < b.length) b(i) else 0.0)
        i += 1
      }
      out
    }
  /** The record-sum fold of `RecordStore.sumVectors` and the
    * aggregator's `reduce`: widen each record, then sum into a new array.
    */
  private def oldFold(rows: Seq[Array[Float]]): Array[Double] =
    rows.foldLeft(Array.emptyDoubleArray)((acc, r) => oldSum(acc, widen(r)))

  private val special = Array(0.0f, -0.0f, Float.NaN, Float.PositiveInfinity,
    Float.NegativeInfinity, Float.MinPositiveValue, 1.0e-40f, -1.0e-39f,
    Float.MaxValue, -Float.MaxValue, 1.0f, 0.5f)

  private def vectors(seed: Long): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    def mixed(n: Int): Array[Float] = Array.fill(n)(rnd.nextInt(4) match {
      case 0 => special(rnd.nextInt(special.length))
      case 1 => rnd.nextInt(2).toFloat // binary, for jaccard's (a+b)==1
      case _ => (rnd.nextGaussian() * math.pow(10, rnd.nextInt(9) - 4)).toFloat
    })
    Seq(Array.emptyFloatArray, Array(0f, 0f, 0f), Array(-0.0f, 0f)) ++
      Seq.fill(40)(mixed(rnd.nextInt(12))) ++
      Seq.fill(10)(Array.fill(32)(rnd.nextGaussian().toFloat))
  }

  /** The outcome to the bit: the result's bits, or the exception's class
    * (a hot throw site may drop the message, so it is not compared).
    */
  private def outcome(f: => Double): Either[String, Long] =
    try Right(java.lang.Double.doubleToLongBits(f))
    catch { case e: RuntimeException => Left(e.getClass.getName) }

  private val ranges = Seq((0, Int.MaxValue), (0, 0), (0, 3), (1, 3), (2, 99),
    (5, 9), (3, 1), (-1, 2), (-2, -1), (7, Int.MaxValue))

  test("float-range dot/cosine/jaccard equal the replaced record-method loops bit for bit") {
    var compared = 0
    for (seed <- 1L to 4L) {
      val vs = vectors(seed)
      for (a <- vs; b <- vs.take(20); (s, e) <- ranges) {
        assert(outcome(VectorMath.dot(a, b, s, e)) === outcome(oldDot(a, b, s, e)))
        assert(outcome(VectorMath.cosine(a, b, s, e)) === outcome(oldCosine(a, b, s, e)),
          s"cosine ${a.toSeq} ${b.toSeq} [$s, $e)")
        assert(outcome(VectorMath.jaccard(a, b, s, e)) === outcome(oldJaccard(a, b, s, e)))
        compared += 1
      }
    }
    assert(compared > 20000)
    // a negative start is out of bounds in both, not clamped
    assert(outcome(VectorMath.cosine(Array(1f), Array(1f), -1, 1)).isLeft)
  }

  test("cosine over the common prefix equals the widened float64 cosine bit for bit") {
    for (seed <- 5L to 8L) {
      val vs = vectors(seed)
      for (a <- vs; b <- vs) {
        val n = math.min(a.length, b.length)
        assert(outcome(VectorMath.cosine(a, b, 0, n)) ===
          outcome(VectorMath.cosine(widen(a), widen(b))),
          s"${a.toSeq} ${b.toSeq}")
      }
    }
  }

  test("dot with cached squared norms equals the one-pass cosine bit for bit") {
    def bits(f: => Double) = java.lang.Double.doubleToRawLongBits(f)
    var sameLength = 0
    for (seed <- 9L to 12L) {
      val vs = vectors(seed) ++ Seq(Array(Float.NaN), Array(Float.PositiveInfinity, 1f),
        Array(Float.NegativeInfinity, -0.0f), Array(-0.0f, -0.0f, -0.0f), Array(0f))
      for (a <- vs; b <- vs) {
        val split = VectorMath.cosineOf(VectorMath.dot(a, b, 0, Int.MaxValue),
          VectorMath.squaredNorm(a), VectorMath.squaredNorm(b))
        assert(bits(split) === bits(VectorMath.cosine(a, b, 0, Int.MaxValue)),
          s"${a.toSeq} ${b.toSeq}")
        if (a.length == b.length) {
          assert(bits(split) === bits(VectorMath.cosine(a, b, 0, a.length)))
          sameLength += 1
        }
      }
    }
    assert(sameLength > 100)
  }

  test("in-place record sum equals the widen-then-sum fold bit for bit") {
    def bits(v: Array[Double]): Seq[Long] = v.toSeq.map(java.lang.Double.doubleToRawLongBits)
    val agg = new graft.functions.VectorSumAggregator
    val firstNegZero = Seq(Array(-0.0f, 1f), Array(-0.0f), Array(2f, -0.0f, -0.0f))
    var folds = 0
    for (seed <- 9L to 12L) {
      val rnd = new scala.util.Random(seed)
      val vs = vectors(seed)
      val runs = firstNegZero +: Seq.fill(200)(
        Seq.fill(rnd.nextInt(8))(vs(rnd.nextInt(vs.length))))
      for (rows <- runs) {
        def rowBits = rows.map(_.toSeq.map(java.lang.Float.floatToRawIntBits))
        val before = rowBits
        val want = bits(oldFold(rows))
        assert(bits(rows.foldLeft(Array.emptyDoubleArray)(VectorMath.accumulate)) === want,
          rows.map(_.toSeq))
        assert(bits(rows.foldLeft(agg.zero)(agg.reduce)) === want)
        // the partition-partial merge still sums two in-place folds
        val (l, r) = rows.splitAt(rows.length / 2)
        assert(bits(agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))) ===
          bits(oldSum(oldFold(l), oldFold(r))))
        assert(rowBits === before) // the records are read, not written
        folds += 1
      }
    }
    assert(folds > 800)
    // the first record is taken as is, -0.0 included; a later record
    // shorter than the sum adds 0.0 to the tail, which turns -0.0 into 0.0
    def fold(rows: Array[Float]*) = bits(rows.foldLeft(Array.emptyDoubleArray)(VectorMath.accumulate))
    assert(fold(Array(-0.0f, -0.0f), Array.emptyFloatArray) === bits(Array(-0.0, -0.0)))
    assert(fold(Array(-0.0f, -0.0f), Array(1f)) === bits(Array(1.0, 0.0)))
    assert(fold(firstNegZero: _*) === bits(Array(2.0, 1.0, 0.0)))
  }
}
