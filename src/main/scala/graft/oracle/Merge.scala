package graft.oracle

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParseException,
  JsonParser, JsonProcessingException, JsonToken}
import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.json4s._

/** Result-merge semantics for distributed oracle runs — the reference's
  * defaultMerger tri-state (master/mux_runner.go:195-232) over the wire
  * JSON text of each node's partial:
  *
  *  - all results objects -> key-union, duplicate key is an error; the
  *    merged keys are written sorted, as the reference master's
  *    json.Marshal of the merged Go map writes them;
  *  - all results arrays  -> concatenation;
  *  - anything else       -> error demanding a custom merge function;
  *  - mixed types         -> "heterogeneous results" error.
  *
  * The default merger reads only each partial's top-level structure with
  * a Jackson streaming parser and copies each member's or element's JSON
  * text as the node wrote it: numbers are never converted. A partial
  * written by graft's own encoder ([[toWire]]) is already in the form a
  * parse and a render would give, so the merged bytes and every conflict
  * message are those of the tree merge. A sumd node's partial keeps Go's
  * text (`1e-07`, `\u003c`) where a parse and a render would write
  * Java's (`1.0E-7`, `<`), and a SQL oracle's decimal keeps its
  * `BigDecimal` text. A stored `merge*` function still receives parsed
  * values.
  *
  * In Spark this is the `merge` side of a partial/final aggregation: each
  * partition ("node") produces a partial JSON result, and these fold on the
  * driver exactly as the reference's master folds per-node responses.
  */
object Merge {

  /** The Jackson factory of the merge and the master's Run arguments. It
    * does not canonicalize field names: a merged map's keys are mostly
    * distinct ids, seen once.
    */
  private[graft] val json: JsonFactory = new JsonFactoryBuilder()
    .disable(JsonFactory.Feature.CANONICALIZE_FIELD_NAMES).build()

  private def typeName(t: JsonToken): String = t match {
    case JsonToken.START_OBJECT => "map"
    case JsonToken.START_ARRAY  => "array"
    case JsonToken.VALUE_STRING => "string"
    case JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE => "bool"
    case JsonToken.VALUE_NULL   => "null"
    case _ => "number"
  }

  /** The first token of `p`'s text, which must hold a value. */
  private def firstToken(p: JsonParser): JsonToken =
    Option(p.nextToken()).getOrElse(
      throw new JsonParseException(p, "No content to map due to end-of-input"))

  /** Read through the value at `p`'s current token; its end offset. */
  private def valueEnd(p: JsonParser): Int = {
    p.currentToken match {
      case JsonToken.START_OBJECT | JsonToken.START_ARRAY => p.skipChildren()
      case JsonToken.VALUE_STRING => p.finishToken()
      case _ =>
    }
    p.currentLocation.getCharOffset.toInt
  }

  /** A map member: its key, its value's partial and the span of the
    * value's text there, and its place in read order.
    */
  private final case class Member(key: String, text: String, start: Int, end: Int,
      seq: Int) {
    /** The value as a conflict message shows it: a string's characters,
      * any other value's JSON text.
      */
    def shown: String =
      if (text.charAt(start) != '"') text.substring(start, end)
      else {
        val p = json.createParser(text.substring(start, end))
        try { p.nextToken(); p.getText } finally p.close()
      }
  }

  /** The reference's default merger over partials' wire JSON: the merged
    * wire JSON, or Left(message). Every partial is read to its end first,
    * so one that is not JSON throws the parser's JsonProcessingException
    * rather than yielding a merge message.
    */
  def defaultMerger(partials: Seq[String]): Either[String, String] = {
    if (partials.isEmpty) return Right("null")
    var kind: String = null
    var mismatch: String = null
    val members = new java.util.ArrayList[Member]
    // the merged text: array elements as they are read, or a map's members
    val out = new java.lang.StringBuilder(partials.map(_.length).sum + 2)
    for (text <- partials) {
      val p = json.createParser(text)
      try {
        val t = firstToken(p)
        val name = typeName(t)
        if (kind == null) kind = name
        else if (name != kind && mismatch == null)
          mismatch = s"heterogeneous results: prior results had type $kind, " +
            s"this one has type $name"
        if (name != kind || mismatch != null) valueEnd(p)
        else if (t == JsonToken.START_OBJECT)
          while (p.nextToken() == JsonToken.FIELD_NAME) {
            val key = p.currentName
            p.nextToken()
            val start = p.currentTokenLocation.getCharOffset.toInt
            members.add(Member(key, text, start, valueEnd(p), members.size))
          }
        else if (t == JsonToken.START_ARRAY)
          while (p.nextToken() != JsonToken.END_ARRAY) {
            val start = p.currentTokenLocation.getCharOffset.toInt
            val end = valueEnd(p)
            out.append(if (out.length == 0) '[' else ',').append(text, start, end)
          }
        else valueEnd(p)
      } finally p.close()
    }
    if (mismatch != null) Left(mismatch)
    else if (kind == "array") Right(if (out.length == 0) "[]" else out.append(']').toString)
    else if (kind != "map")
      Left(s"type $kind is not supported for auto-merge, " +
        "please provide a custom merge function")
    else {
      // A stable sort in String order, as JsInterp.toJson writes keys (each
      // partial's keys are sorted runs already): equal keys end up adjacent
      // in read order. The reported conflict is the repeat read first.
      val sorted = members.toArray(new Array[Member](0))
      java.util.Arrays.sort(sorted, (a: Member, b: Member) => a.key.compareTo(b.key))
      var repeat = -1
      for (i <- 1 until sorted.length)
        if (sorted(i).key == sorted(i - 1).key &&
            (repeat < 0 || sorted(i).seq < sorted(repeat).seq)) repeat = i
      if (repeat >= 0)
        Left("merge conflict: multiple results define key " +
          s"${sorted(repeat).key}: oldValue='${sorted(repeat - 1).shown}', " +
          s"newValue='${sorted(repeat).shown}'")
      else {
        out.append('{')
        sorted.foreach { m =>
          if (out.length > 1) out.append(',')
          out.append('"')
          JsonStringEncoder.getInstance.quoteAsString(m.key, out)
          out.append("\":").append(m.text, m.start, m.end)
        }
        Right(out.append('}').toString)
      }
    }
  }

  /** The parser's message when `text` does not hold one JSON value. */
  private[graft] def notJson(text: String): Option[String] = {
    val p = json.createParser(text)
    try { firstToken(p); valueEnd(p); None }
    catch { case e: JsonProcessingException => Some(e.getMessage) }
    finally p.close()
  }

  /** A merger failure whose message is already in the reference's final
    * wording — [[merge]] passes it through verbatim instead of wrapping.
    * The reference distinguishes a VM error ("unable to run merger
    * function: %v") from a ctx.Error raised inside the merger ("merger
    * function failed: %v"), master/mux_runner.go:181-186.
    */
  final case class MergerFailure(msg: String) extends RuntimeException(msg)

  /** Fold partials' wire JSON through a user merge function when one is
    * registered (the reference detects a `merge*`-named single-arg
    * function in the oracle source, master/ast_raccoon.go:52-90), else the
    * default merger. Left is the merge failure; Right is the merged
    * result's wire JSON, itself Left when [[toWire]] refuses the user
    * merger's value. A partial that is not JSON throws the parser's
    * JsonProcessingException.
    */
  def merge(
      partials: Seq[String],
      userMerger: Option[Seq[JValue] => JValue]): Either[String, Either[String, String]] =
    userMerger match {
      case Some(f) =>
        val values = partials.map(org.json4s.jackson.JsonMethods.parse(_))
        (try Right(f(values))
        catch {
          case MergerFailure(m) => Left(m)
          case e: Exception => Left(s"merger function failed: ${e.getMessage}")
        }).map(toWire)
      case None => defaultMerger(partials).map(Right(_))
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
}
