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
          outcome(VectorMath.cosine(VectorMath.widen(a), VectorMath.widen(b))),
          s"${a.toSeq} ${b.toSeq}")
      }
    }
  }
}
