package graft.oracle

import scala.collection.mutable

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.store.{RecordStore, StoreErrors}

/** Abort signal available to a running oracle — the reference's `ctx`
  * global (node/wrapper/context.go:9-48): first error wins, the run fails
  * with its message.
  */
final class OracleContext {
  @volatile private var err: Option[String] = None
  def error(msg: String): Unit = synchronized { if (err.isEmpty) err = Some(msg) }
  def isError: Boolean = err.isDefined
  def message: String = err.getOrElse("")
  def reset(): Unit = synchronized { err = None }
}

/** A named, parameterized query — the Spark-native replacement for the
  * reference's stored-JavaScript oracle (proto/sum.proto:95-99). The
  * Turing-complete JS surface is deliberately replaced by registered Scala
  * bodies over the store's Dataset (SURVEY.md §7.4): capability parity, not
  * an interpreter.
  *
  * `body` receives JSON-decoded args positionally; missing args arrive as
  * JNull (node/service/compiled.go:53-77). An optional `merger` mirrors the
  * reference's `merge*` function convention for distributed partials.
  */
final case class Oracle(
    id: Long,
    name: String,
    params: Seq[String],
    body: (OracleContext, RecordStore, Seq[JValue]) => JValue,
    merger: Option[Seq[JValue] => JValue] = None,
    /** Source text for dynamically compiled oracles ([[SqlOracle]]); the
      * reference stores the JS code on the oracle (proto/sum.proto:95-99).
      */
    code: Option[String] = None)

final case class OracleRunError(msg: String) extends RuntimeException(msg)

/** A run that exhausted its interpreter step budget. Deliberately NOT an
  * [[OracleRunError]]: the JS `try/catch` statement catches run errors
  * (otto parity) but must never catch the budget, or a stored oracle
  * could swallow it in a loop and wedge the thread it runs on.
  */
final case class OracleBudgetError(msg: String) extends RuntimeException(msg)

/** Oracle CRUD with the reference's registry semantics
  * (node/service/oracles.go, master/mux_oracles.go): sequential ids,
  * find-by-name is a linear scan where the last match wins, list paginates
  * the unsorted registry, exact duplicates (same name + same body identity)
  * are rejected.
  */
final class OracleRegistry {
  private val oracles = mutable.LinkedHashMap.empty[Long, Oracle]
  private var nextId = 1L

  def create(o: Oracle): Either[String, Oracle] = synchronized {
    // Same name + same body: identity for registered Scala bodies, source
    // equality for compiled SQL text (the reference compares the stored
    // Code string).
    val dup = oracles.values.exists(x => x.name == o.name &&
      ((x.body eq o.body) || (x.code.isDefined && x.code == o.code)))
    if (dup) Left("oracle already created")
    else {
      val assigned = o.copy(id = nextId)
      oracles(nextId) = assigned
      nextId += 1
      Right(assigned)
    }
  }

  /** Create from SQL text: compile (parse + analyze — [[SqlOracle]]), then
    * register. A non-compiling text rejects HERE, with the compile
    * message, matching the reference's CreateOracle behavior on broken
    * code (node/service/oracles_test.go:14-23, compiler.go:19-52).
    */
  def createSql(spark: org.apache.spark.sql.SparkSession, name: String,
      sqlText: String): Either[String, Oracle] =
    SqlOracle.compile(spark, name, sqlText).flatMap(create)

  /** Create from the reference's stored-JavaScript oracle source: compile
    * with [[graft.oracle.js.JsOracle]] (parse, entry/merger extraction,
    * definition-time run), then register. Broken code rejects here with
    * the compile message, exactly like [[createSql]].
    */
  def createJs(name: String, jsCode: String): Either[String, Oracle] =
    graft.oracle.js.JsOracle.compile(name, jsCode).flatMap(create)

  def read(id: Long): Either[String, Oracle] =
    synchronized(oracles.get(id).toRight(StoreErrors.oracleNotFound(id)))

  /** Linear scan by exact name; last match wins (oracles.go:56-70). */
  def findByName(name: String): Either[String, Oracle] = synchronized {
    oracles.values.filter(_.name == name).lastOption
      .toRight(StoreErrors.oracleNotFoundByName(name))
  }

  def update(o: Oracle): Either[String, Oracle] = synchronized {
    if (!oracles.contains(o.id)) Left(StoreErrors.oracleNotFound(o.id))
    else { oracles(o.id) = o; Right(o) }
  }

  def delete(id: Long): Either[String, Oracle] = synchronized {
    oracles.remove(id).toRight(StoreErrors.oracleNotFound(id))
  }

  /** Registry-order pagination (the reference lists oracles without
    * sorting, oracles.go:73-111).
    */
  def list(pageReq: Long, perPageReq: Long): (Long, Long, Seq[Oracle]) = synchronized {
    val page = math.max(pageReq, 1L)
    val perPage = math.max(perPageReq, 1L)
    val all = oracles.values.toSeq
    val total = all.size.toLong
    val pages = total / perPage + (if (total % perPage > 0) 1 else 0)
    val start = (page - 1) * perPage
    if (total <= start) (total, pages, Seq.empty)
    else (total, pages, all.slice(start.toInt, (start + perPage).toInt))
  }

  def size: Int = synchronized(oracles.size)

  /** JSON-decode positional args; missing -> null (compiled.go:53-77). */
  private def decodeArgs(oracle: Oracle,
      jsonArgs: Seq[String]): Either[String, Seq[JValue]] = {
    val out = Seq.newBuilder[JValue]
    oracle.params.indices.foreach { i =>
      jsonArgs.lift(i) match {
        case None | Some(null) | Some("") => out += JNull
        case Some(raw) =>
          try out += JsonMethods.parse(raw)
          catch {
            case e: Exception =>
              return Left(s"could not unmarshal value '$raw': ${e.getMessage}")
          }
      }
    }
    Right(out.result())
  }

  /** Master-style run: scatter the oracle to every partition ("node"),
    * gather per-partition partials, fold through the merge layer — the
    * reference master's Run (master/mux_runner.go:82-155). A stored-JS
    * oracle's compiled program executes ON executors over partition-local
    * record views, so the driver-pull cap never bounds it; every other
    * body (Spark-native bodies — already distributed plans — and SQL
    * oracles) runs through [[run]].
    */
  def runDistributed(id: Long, store: RecordStore,
      jsonArgs: Seq[String]): Either[String, String] =
    read(id).flatMap { oracle =>
      oracle.body match {
        case js: graft.oracle.js.JsOracle.Compiled =>
          decodeArgs(oracle, jsonArgs)
            .flatMap(graft.oracle.js.JsOracle.runDistributed(id, js, store, _))
        case _ => run(id, store, jsonArgs)
      }
    }

  /** Execute by id with JSON-encoded args, mirroring the node's Run path
    * (node/service/compiled.go:44-99): decode each arg (missing -> null),
    * run the body, fail on ctx.Error or thrown errors, return the result
    * JSON text.
    */
  def run(id: Long, store: RecordStore, jsonArgs: Seq[String]): Either[String, String] = {
    read(id).flatMap { oracle =>
      val decoded = decodeArgs(oracle, jsonArgs) match {
        case Left(m)  => return Left(m)
        case Right(d) => d
      }
      val ctx = new OracleContext
      try {
        val result = oracle.body(ctx, store, decoded)
        if (ctx.isError) Left(ctx.message) else graft.oracle.Merge.toWire(result)
      } catch {
        case OracleRunError(msg)    => Left(msg)
        case OracleBudgetError(msg) => Left(msg)
        case e: Exception           => Left(s"got panic of type ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }
}
