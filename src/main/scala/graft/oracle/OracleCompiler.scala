package graft.oracle

import org.apache.spark.sql.SparkSession

import graft.oracle.js.{JsLang, JsOracle}

/** Language dispatch for stored oracle code — the create-time entry the
  * service surfaces use.
  *
  * The reference stores JavaScript oracles (proto/sum.proto:95-99, otto
  * VM); graft additionally accepts SQL. Code that parses under the oracle
  * grammar AND declares a top-level function — the acceptance set of the
  * reference compiler, which takes any otto-legal program containing a
  * function declaration (node/service/compiler.go:19-52) — compiles
  * through [[JsOracle]]; everything else is SQL ([[SqlOracle]]). Either
  * way broken code rejects AT CREATE with the compile message, per the
  * reference's CreateOracle contract.
  */
object OracleCompiler {

  /** How many compiled JS oracles [[compile]] keeps. */
  private[graft] val JsCacheEntries = 256

  /** Compiled JS oracles by source text. A JS oracle is a pure function
    * of its source, so a hit skips the parse, the [[JsCompiler]] pass and
    * the definition-time run: the temporary a federated Run creates on a
    * node carries the same source on every Run. SQL is never cached, as
    * it is analysed against the live catalog.
    */
  private[graft] val jsCache = new SourceCache[Oracle](JsCacheEntries)

  def compile(spark: SparkSession, name: String,
      code: String): Either[String, Oracle] = jsCache.get(code) match {
    case Some(o) => Right(o.copy(name = name))
    case None => compileUncached(spark, name, code)
  }

  private def compileUncached(spark: SparkSession, name: String,
      code: String): Either[String, Oracle] = {
    // one parse serves the dispatch and the JS compile
    val js = parseJs(code)
    js match {
      case Some(program) if declaresFunction(program) =>
        val compiled = JsOracle.compile(name, code, program)
        compiled.foreach(jsCache.put(code, _))
        compiled
      case _ => SqlOracle.compile(spark, name, code) match {
        case ok @ Right(_) => ok
        case Left(sqlErr) =>
          // The program parsed as JS but declared no entry function AND is
          // not valid SQL: report the reference compiler's message
          // (node/service/compiler_test.go:15-19) rather than a confusing
          // SQL parse error for what was clearly JS input.
          if (js.isDefined) Left("expected a function declaration")
          else Left(sqlErr)
      }
    }
  }

  private def parseJs(code: String): Option[Seq[JsLang.Stmt]] =
    try Some(JsLang.parse(code))
    catch { case JsLang.ParseError(_) => None }

  private def declaresFunction(program: Seq[JsLang.Stmt]): Boolean =
    program.exists(_.isInstanceOf[JsLang.FuncDecl])
}

/** A bounded LRU from source text to what was compiled from it, with hit
  * and miss counts.
  */
private[graft] final class SourceCache[V <: AnyRef](capacity: Int) {
  private val map = new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
      this.size > capacity
  }
  private var hitCount, missCount = 0L

  def get(src: String): Option[V] = synchronized {
    val v = map.get(src)
    if (v == null) missCount += 1 else hitCount += 1
    Option(v)
  }
  def put(src: String, v: V): Unit = synchronized { map.put(src, v); () }
  def size: Int = synchronized(map.size)
  def hits: Long = synchronized(hitCount)
  def misses: Long = synchronized(missCount)
}
