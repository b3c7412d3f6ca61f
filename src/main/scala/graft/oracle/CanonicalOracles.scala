package graft.oracle

import org.apache.spark.sql.functions._
import org.json4s._

import graft.functions.vector
import graft.store.RecordStore

/** The reference's canonical oracle suite, re-expressed as Spark plans:
  * findSimilar (README.md:139-166), findDoubles
  * (master/service_test.go:260-342), sumAllVectors + merge
  * (master/service_test.go:483-493, service_legacy_test.go), and
  * mapOfRecordNames (master/service_test.go:344-...).
  *
  * Where the reference's master resolves `records.Find(id)` cluster-wide
  * and splices the record into the oracle source (the AST patch,
  * master/ast_raccoon.go:94-148), we resolve the record on the driver and
  * broadcast it into the plan — the same optimization, done the Spark way.
  */
object CanonicalOracles {

  private def asLong(v: JValue, ctx: OracleContext, what: String): Long = v match {
    case JInt(i)    => i.toLong
    case JLong(l)   => l
    case JDouble(d) => d.toLong
    case _ => ctx.error(s"$what is not a number"); -1L
  }

  private def asDouble(v: JValue, ctx: OracleContext, what: String): Double = v match {
    case JInt(i)    => i.toDouble
    case JLong(l)   => l.toDouble
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case _ => ctx.error(s"$what is not a number"); Double.NaN
  }

  /** findSimilar(id, threshold): cosine of every other record against the
    * resolved reference record; returns {id -> similarity} for all >=
    * threshold ([[RecordStore.similarTo]]: a resident scan, or a map-only
    * scan over a broadcast one-row reference).
    */
  val findSimilar: Oracle = Oracle(0, "findSimilar", Seq("id", "threshold"),
    (ctx, store, args) => {
      val id = asLong(args.head, ctx, "id")
      val threshold = asDouble(args(1), ctx, "threshold")
      if (ctx.isError) JNull
      else store.find(id) match {
        case None => ctx.error(s"record $id not found."); JNull
        case Some(ref) =>
          JObject(store.similarTo(ref.data, threshold, id).map { case (i, sim) =>
            i.toString -> (JDouble(sim): JValue) }.toList)
      }
    })

  /** findDoubles: all unordered pairs of records with element-wise equal
    * vectors; returns [[idA, idB], ...]. Self-equi-join on the vector —
    * Spark hashes the array column, so equal vectors co-locate: one
    * shuffle, no cross product.
    */
  val findDoubles: Oracle = Oracle(0, "findDoubles", Seq.empty,
    (_, store, _) => {
      val a = store.records.select(col("id").as("id_a"), col("data").as("d"))
      val b = store.records.select(col("id").as("id_b"), col("data").as("d"))
      val pairs = a.join(b, Seq("d")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
        .collect()
      JArray(pairs.map(r => JArray(List(JLong(r.getLong(0)), JLong(r.getLong(1))))).toList)
    })

  /** sumAllVectors: element-wise sum of every vector in the store
    * ([[RecordStore.sumVectors]]: a resident fold, or partials per
    * partition merged by the Aggregator — the reference's mergeResults
    * reduce, master/service_legacy_test.go).
    */
  val sumAllVectors: Oracle = Oracle(0, "sumAllVectors", Seq.empty,
    (_, store, _) =>
      JArray(store.sumVectors().map(d => JDouble(d): JValue).toList),
    // Distributed partials merge element-wise, as the reference's custom
    // `mergeResults = results.reduce(add)` does.
    merger = Some(parts => {
      val arrays = parts.collect { case JArray(xs) =>
        xs.map { case JDouble(d) => d; case JInt(i) => i.toDouble; case _ => 0.0 }
      }
      if (arrays.isEmpty) JArray(Nil)
      else JArray(arrays.reduce { (x, y) =>
        x.zipAll(y, 0.0, 0.0).map { case (p, q) => p + q }
      }.map(d => JDouble(d): JValue))
    }))

  /** mapOfRecordNames: {id -> meta["name"]} over the whole store; the
    * canonical map-result oracle for default-merge testing
    * (master/service_test.go:344-440).
    */
  val mapOfRecordNames: Oracle = Oracle(0, "mapOfRecordNames", Seq.empty,
    (_, store, _) => {
      val rows = store.records
        .select(col("id"), vector.metaValue(col("meta"), "name").as("name"))
        .collect()
      JObject(rows.map(r => r.getLong(0).toString -> (JString(r.getString(1)): JValue)).toList)
    })

  def registerAll(reg: OracleRegistry): Unit =
    Seq(findSimilar, findDoubles, sumAllVectors, mapOfRecordNames)
      .foreach(o => reg.create(o))
}
