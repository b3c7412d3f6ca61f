package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Element-wise vector sum as a typed Aggregator — Spark's native form of
  * the reference's partial-per-node + final-merge protocol: `reduce` is the
  * per-partition fold (the oracle body's loop), `merge` is the master's
  * merge function (master/mux_runner.go:136-155, 159-192).
  *
  * Accumulates float32 inputs in float64, in place in the buffer (Spark
  * lets `reduce` modify and return it). Vectors of differing lengths fold
  * over the longer length (missing elements are 0).
  */
class VectorSumAggregator extends Aggregator[Array[Float], Array[Double], Array[Double]] {

  override def zero: Array[Double] = Array.emptyDoubleArray

  override def reduce(buf: Array[Double], in: Array[Float]): Array[Double] =
    VectorMath.accumulate(buf, in)

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = VectorMath.sum(a, b)

  override def finish(buf: Array[Double]): Array[Double] = buf

  override def bufferEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()

  override def outputEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
}
