package graft.functions

/** The record math shared by every engine path — the [[CosineSimilarity]]
  * expression, the [[VectorSumAggregator]], the store's driver-resident
  * scans and the JS record methods all call these, so a resident answer
  * equals the Dataset plan's bit for bit. The expression's generated code
  * spells out the same loop in the same operation order.
  *
  * The float-array forms take a `[start, end)` range clipped to the
  * arrays and widen each element to float64 inside the loop, so a scan
  * over stored records allocates nothing; [[accumulate]] sums records
  * into one float64 array in place.
  *
  * A cosine whose norms each run over a whole vector splits into
  * [[dot]], [[squaredNorm]] per side and [[cosineOf]]: each norm adds the
  * same terms in the same order as the one-pass [[cosine]], so a norm
  * cached per record (`SumRecord.squaredNorm`) gives the same bits.
  */
object VectorMath {

  /** Cosine over the common prefix of two float64 vectors: dot and both
    * squared norms in one pass, then [[cosineOf]].
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
    cosineOf(dot, na, nb)
  }

  /** Dot product over `[start, end)` clipped to both lengths, summed in
    * index order.
    */
  def dot(a: Array[Float], b: Array[Float], start: Int, end: Int): Double = {
    val hi = math.min(end, math.min(a.length, b.length))
    var s = 0.0
    var i = start
    while (i < hi) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Cosine over `[start, end)` (node/wrapper/record.go:97-103): the dot
    * runs over the range clipped to both lengths, each squared norm over
    * the range clipped to its own vector's length, so a longer vector's
    * tail still counts in its magnitude; [[cosineOf]] guards a zero
    * magnitude. With `end` at the shorter length this is [[cosine]] on the
    * widened arrays.
    */
  def cosine(a: Array[Float], b: Array[Float], start: Int, end: Int): Double = {
    val hi = math.min(end, math.min(a.length, b.length))
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = start
    while (i < hi) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    var j = i
    val aEnd = math.min(end, a.length)
    while (j < aEnd) { val x = a(j).toDouble; na += x * x; j += 1 }
    j = i
    val bEnd = math.min(end, b.length)
    while (j < bEnd) { val y = b(j).toDouble; nb += y * y; j += 1 }
    cosineOf(dot, na, nb)
  }

  /** Sum of squares in index order: the `na` that [[cosine]] accumulates
    * for `a` over `[0, a.length)`, to the bit.
    */
  def squaredNorm(a: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val x = a(i).toDouble; s += x * x; i += 1 }
    s
  }

  /** Cosine from a dot product and both squared norms, 0.0 (not NaN) when
    * either magnitude is zero (node/wrapper/record.go:97-103).
    */
  def cosineOf(dot: Double, na: Double, nb: Double): Double = {
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }

  /** Weighted Jaccard over `[start, end)` clipped to both lengths, as
    * node/wrapper/record.go computes it: m11 sums the float32 products,
    * m10 counts the positions whose float32 sum is exactly 1.
    */
  def jaccard(a: Array[Float], b: Array[Float], start: Int, end: Int): Double = {
    val hi = math.min(end, math.min(a.length, b.length))
    var m11 = 0.0
    var m10 = 0.0
    var i = start
    while (i < hi) {
      m11 += (a(i) * b(i)).toDouble
      if (a(i) + b(i) == 1.0f) m10 += 1
      i += 1
    }
    if (m10 + m11 == 0) 0.0 else m11 / (m11 + m10)
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

  /** Add a float32 record into a float64 running sum: [[sum]] of `acc` and
    * the widened `v`, to the bit, written into `acc` unless `v` is longer.
    * So a fold allocates only for its first record and for each record
    * longer than all before it. As in [[sum]], the first record is taken
    * as is, and a later addition runs over the longer length with 0.0 for
    * a missing element (so a -0.0 there turns into 0.0).
    */
  def accumulate(acc: Array[Double], v: Array[Float]): Array[Double] =
    if (v.isEmpty) acc
    else if (acc.isEmpty) {
      val out = new Array[Double](v.length)
      var i = 0
      while (i < v.length) { out(i) = v(i).toDouble; i += 1 }
      out
    } else {
      val out =
        if (v.length > acc.length) java.util.Arrays.copyOf(acc, v.length)
        else acc
      var i = 0
      while (i < v.length) { out(i) += v(i).toDouble; i += 1 }
      while (i < acc.length) { out(i) += 0.0; i += 1 }
      out
    }
}
