package graft.functions

/** The record math shared by every engine path — the [[CosineSimilarity]]
  * expression, the [[VectorSumAggregator]] and the store's driver-resident
  * scans all call these, so a resident answer equals the Dataset plan's
  * bit for bit. The expression's generated code spells out the same loop
  * in the same operation order.
  */
object VectorMath {

  /** Cosine over the common prefix of two float64 vectors: dot and both
    * squared norms in one pass, 0.0 (not NaN) when either magnitude is
    * zero (node/wrapper/record.go:97-103).
    */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i)
      val y = b(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }

  /** Element-wise sum over the longer length (missing elements are 0); an
    * empty side returns the other one as is.
    */
  def sum(a: Array[Double], b: Array[Double]): Array[Double] =
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

  def widen(v: Array[Float]): Array[Double] = {
    val out = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { out(i) = v(i).toDouble; i += 1 }
    out
  }
}
