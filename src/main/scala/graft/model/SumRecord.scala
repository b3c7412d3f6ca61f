package graft.model

import org.apache.spark.sql.types._

import graft.functions.VectorMath

/** The reference's one persistent data entity (proto/sum.proto:51-56):
  * a dense float32 vector with an optional n-d shape and a flat
  * string-to-string metadata map.
  *
  * `shape` defaults to 1-D `[data.length]` when absent
  * (node/storage/records.go:126-129); vector math widens to float64
  * (node/wrapper/record.go:74-76).
  */
final case class SumRecord(
    id: Long,
    data: Array[Float],
    shape: Array[Long],
    meta: Map[String, String]) {

  def size: Int = data.length

  /** `data`'s squared norm ([[VectorMath.squaredNorm]]),
    * computed on first use and kept for this object's life. A record is
    * never mutated in place, so a write makes a new object and the norm
    * cannot go stale; a store write keeps the unchanged rows' objects and
    * with them their norms. Not a field of the schema or the encoder.
    */
  @transient lazy val squaredNorm: Double = VectorMath.squaredNorm(data)

  /** Metadata value by key, "" when absent (node/wrapper/record.go:64-66). */
  def metaValue(key: String): String = meta.getOrElse(key, "")

  /** Identity: same id (node/wrapper/record.go:49-54). */
  def is(other: SumRecord): Boolean = id == other.id
}

object SumRecord {

  def apply(id: Long, data: Array[Float]): SumRecord =
    SumRecord(id, data, Array(data.length.toLong), Map.empty)

  def apply(id: Long, data: Array[Float], meta: Map[String, String]): SumRecord =
    SumRecord(id, data, Array(data.length.toLong), meta)

  /** Normalize a record the way the store does on create: missing/empty
    * shape becomes 1-D [len(data)].
    */
  def withDefaultShape(r: SumRecord): SumRecord =
    if (r.shape == null || r.shape.isEmpty)
      r.copy(shape = Array(r.data.length.toLong))
    else r

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("data", ArrayType(FloatType, containsNull = false), nullable = true),
    StructField("shape", ArrayType(LongType, containsNull = false), nullable = true),
    StructField("meta", MapType(StringType, StringType, valueContainsNull = false),
      nullable = true)))
}
