package graft.oracle

import org.json4s._

/** Result-merge semantics for distributed oracle runs — the reference's
  * defaultMerger tri-state (master/mux_runner.go:195-232) over JSON values:
  *
  *  - all results objects -> key-union, duplicate key is an error;
  *  - all results arrays  -> concatenation;
  *  - anything else       -> error demanding a custom merge function;
  *  - mixed types         -> "heterogeneous results" error.
  *
  * In Spark this is the `merge` side of a partial/final aggregation: each
  * partition ("node") produces a partial JSON result, and these fold on the
  * driver exactly as the reference's master folds per-node responses.
  */
object Merge {

  private def typeName(v: JValue): String = v match {
    case _: JObject => "map"
    case _: JArray  => "array"
    case _: JString => "string"
    case _: JBool   => "bool"
    case JNull      => "null"
    case _          => "number"
  }

  /** The reference's default merger. Returns Left(message) on conflict. */
  def defaultMerger(results: Seq[JValue]): Either[String, JValue] = {
    if (results.isEmpty) return Right(JNull)
    val t0 = typeName(results.head)
    results.find(r => typeName(r) != t0) match {
      case Some(bad) =>
        return Left(s"heterogeneous results: prior results had type $t0, " +
          s"this one has type ${typeName(bad)}")
      case None =>
    }
    results.head match {
      case _: JObject =>
        val acc = scala.collection.mutable.LinkedHashMap.empty[String, JValue]
        for (JObject(fields) <- results; (k, v) <- fields) {
          acc.get(k) match {
            case Some(v1) =>
              return Left("merge conflict: multiple results define key " +
                s"$k: oldValue='${render(v1)}', newValue='${render(v)}'")
            case None => acc(k) = v
          }
        }
        Right(JObject(acc.toList))
      case _: JArray =>
        Right(JArray(results.flatMap { case JArray(xs) => xs; case _ => Nil }.toList))
      case other =>
        Left(s"type ${typeName(other)} is not supported for auto-merge, " +
          "please provide a custom merge function")
    }
  }

  /** A merger failure whose message is already in the reference's final
    * wording — [[merge]] passes it through verbatim instead of wrapping.
    * The reference distinguishes a VM error ("unable to run merger
    * function: %v") from a ctx.Error raised inside the merger ("merger
    * function failed: %v"), master/mux_runner.go:181-186.
    */
  final case class MergerFailure(msg: String) extends RuntimeException(msg)

  /** Fold results through a user merge function when one is registered
    * (the reference detects a `merge*`-named single-arg function in the
    * oracle source, master/ast_raccoon.go:52-90), else the default merger.
    */
  def merge(
      results: Seq[JValue],
      userMerger: Option[Seq[JValue] => JValue]): Either[String, JValue] =
    userMerger match {
      case Some(f) =>
        try Right(f(results))
        catch {
          case MergerFailure(m) => Left(m)
          case e: Exception => Left(s"merger function failed: ${e.getMessage}")
        }
      case None => defaultMerger(results)
    }

  /** A Run result as wire JSON, compact, the one encoding every Run path
    * answers with. A result JSON cannot carry fails with the marshal
    * error: the first NaN or infinity anywhere in the tree fails like
    * Go's encoding/json does on the reference node (service_test.go:677-684).
    */
  def toWire(v: JValue): Either[String, String] =
    firstNonFinite(v).map(d => "json: unsupported value: " +
      (if (d.isNaN) "NaN" else if (d > 0) "+Inf" else "-Inf"))
      .toLeft(org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(v)))

  private def firstNonFinite(v: JValue): Option[Double] = v match {
    case JDouble(d) if d.isNaN || d.isInfinite => Some(d)
    case JArray(xs)  => xs.iterator.flatMap(firstNonFinite).nextOption()
    case JObject(fs) => fs.iterator.map(_._2).flatMap(firstNonFinite).nextOption()
    case _ => None
  }

  private def render(v: JValue): String = v match {
    case JString(s)  => s
    case JInt(i)     => i.toString
    case JLong(l)    => l.toString
    case JDouble(d)  => d.toString
    case JDecimal(d) => d.toString
    case JBool(b)    => b.toString
    case JNull       => "null"
    case other       => org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(other))
  }
}
