package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.model.SumRecord
import graft.oracle.OracleRegistry
import graft.store.RecordStore

/** The `o` family: the reference's FLAGSHIP surface — stored JavaScript
  * oracles compiled at create, scattered to every partition ("node"),
  * interpreted on executors over partition-local record views, and merged
  * through the stored `merge*` hook or the default tri-state merger
  * (master/mux_runner.go:82-155) — driven end-to-end under the driver's
  * DuckDB gate. Every other JS check lives in ScalaTest; these two queries
  * make the distributed JS path itself hash-verified against an
  * independent engine on the real fixture tables.
  *
  * The corpus is bounded at [[CorpusCap]] ids in BOTH engines (the
  * e-family's certification pattern): gate-SF outputs are identical, and
  * the JS interpreter arm stays constant work at any SF — the
  * scale path for these queries is the SQL/Catalyst form (v02 etc.), the
  * JS arm exists to certify engine-vs-engine equivalence.
  *
  * Float contract: the JS entry rounds at 6 dp with the SAME accumulation
  * order as the Catalyst cosine expression (ascending index, float64 over
  * float32 inputs), the proven v02 tolerance; sums round only AFTER the
  * final merge so per-partition float64 reassociation (~1e-12 at these
  * magnitudes) is absorbed by the 6-dp contract rather than compounded.
  */
object OracleQueries {

  /** SF-independent oracle corpus bound — full table at the sf0.01 gate. */
  val CorpusCap = 2000L
  private val ProbeId = 1L

  /** The fixture embeddings are 64-dim (TESTDATA.md); the o02 oracle SQL
    * unrolls dimensions against this constant like the v-family slices do.
    */
  private val Dims = 64

  private def baseStore(s: SparkSession, dir: String,
      cap: Option[Long]): RecordStore = {
    val t = Tables(s, dir)
    import s.implicits._
    val recs = cap.fold(t.embeddings)(c => t.embeddings.filter(col("vec_id") < c))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, data) =>
        SumRecord(id, data, Array(data.length.toLong), Map.empty)
      }
    RecordStore.fromDataset(s, recs)
  }

  /** The probe vector as a JSON literal — the master's astRaccoon
    * resolve-and-inline step (master/ast_raccoon.go:73-88): the fanned-out
    * program receives the RESOLVED record, so partitions that do not hold
    * the probe id never look it up. Float32 widens exactly to double and
    * Java's shortest-round-trip repr parses back bit-identical.
    */
  private def probeJson(s: SparkSession, dir: String): String = {
    val t = Tables(s, dir)
    val vec = t.embeddings.filter(col("vec_id") === ProbeId)
      .select(col("embedding")).head.getSeq[Float](0)
    vec.map(f => f.toDouble.toString).mkString("[", ",", "]")
  }

  private def jsNum(v: JValue): Double = v match {
    case JDouble(d)  => d
    case JInt(i)     => i.toDouble
    case JLong(l)    => l.toDouble
    case JDecimal(d) => d.toDouble
    case other       => throw new IllegalStateException(s"non-numeric $other")
  }

  /** The full-SF store for o03: every event becomes a record
    * (data=[value], meta.type) — 100k rows at sf0.1 and linear growth
    * beyond, so the distributed-JS cost visibly tracks SF, unlike the
    * CorpusCap-bounded embeddings arm.
    */
  private def eventsStore(s: SparkSession, dir: String): RecordStore = {
    val t = Tables(s, dir)
    import s.implicits._
    val recs = t.events
      .select(col("event_id"), col("value"), col("event_type"))
      .as[(Long, Double, String)]
      .map { case (id, v, tpe) =>
        SumRecord(id, Array(v.toFloat), Array(1L), Map("type" -> tpe))
      }
    RecordStore.fromDataset(s, recs)
  }

  private def runJs(s: SparkSession, dir: String, code: String,
      args: Seq[String],
      mkStore: (SparkSession, String) => RecordStore = null): JValue = {
    val reg = new OracleRegistry
    val oracle = reg.createJs("q", code)
      .fold(m => throw new IllegalStateException(m), identity)
    // The store is query-scoped: release its cached blocks after the run
    // (fromDataset persists MEMORY_AND_DISK; without the close every
    // bench/verify execution would pin one dataset for the app lifetime).
    val base =
      if (mkStore == null) baseStore(s, dir, Some(CorpusCap))
      else mkStore(s, dir)
    try {
      // 8 "nodes": forces a real multi-partition scatter/merge at every SF
      val json = reg.runDistributed(oracle.id, base.repartitioned(8), args)
        .fold(m => throw new IllegalStateException(m), identity)
      org.json4s.jackson.JsonMethods.parse(json)
    } finally base.close()
  }

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      // findSimilar (reference README.md:139-166) in its POST-RESOLVE
      // form: the probe arrives as the inlined literal, each partition
      // scans only its own records, the disjoint {id: sim} partials
      // union through the default merger. Same cosine arithmetic and
      // 6-dp rounding contract as v02.
      "o01_js_findsimilar",
      (s, dir) => {
        import s.implicits._
        val code = """function findSimilar(probe, threshold, probeId) {
          var results = {};
          records.All().forEach(function(r) {
            if (r.ID === probeId) return;
            var dot = 0, ma = 0, mb = 0;
            for (var i = 0; i < r.Size; i++) {
              var x = probe[i], y = r.Get(i);
              dot += x * y; ma += x * x; mb += y * y;
            }
            var den = Math.sqrt(ma) * Math.sqrt(mb);
            var sim = den === 0 ? 0 : dot / den;
            var s6 = Math.round(sim * 1000000) / 1000000;
            if (s6 >= threshold) results[r.ID] = s6;
          });
          return results;
        }"""
        val merged = runJs(s, dir, code,
          Seq(probeJson(s, dir), "0.25", ProbeId.toString))
        val rows = merged.asInstanceOf[JObject].obj
          .map { case (k, v) => (k.toLong, jsNum(v)) }
          .sortBy(_._1)
        rows.toDF("vec_id", "sim").orderBy(col("vec_id"))
      },
      Some(s"""
        |SELECT e.vec_id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                    CAST(r.embedding AS DOUBLE[])), 6) AS sim
        |FROM embeddings e,
        |     (SELECT embedding FROM embeddings WHERE vec_id = $ProbeId) r
        |WHERE e.vec_id <> $ProbeId AND e.vec_id < $CorpusCap
        |  AND round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                   CAST(r.embedding AS DOUBLE[])), 6) >= 0.25
        |ORDER BY e.vec_id
        |""".stripMargin.trim)),

    QueryDef(
      // sumAllVectors + mergeNodesResults (master/service_legacy_test.go:34
      // shape): per-partition float64 component sums fold through the
      // STORED USER MERGER — the custom-merge hook on the wire — with
      // rounding only after the final fold. Null partials (empty
      // partitions) skip, like the reference's nil-result handling.
      "o02_js_sum_merge",
      (s, dir) => {
        import s.implicits._
        val code = """function sumAllVectors() {
          var sum = null;
          records.All().forEach(function(r) {
            if (sum === null) {
              sum = [];
              for (var i = 0; i < r.Size; i++) sum.push(0);
            }
            for (var j = 0; j < r.Size; j++) sum[j] += r.Get(j);
          });
          return sum;
        }
        function mergeNodesResults(results) {
          var out = null;
          for (var i = 0; i < results.length; i++) {
            var p = results[i];
            if (p === null) continue;
            if (out === null) { out = p; continue; }
            for (var j = 0; j < out.length; j++) out[j] += p[j];
          }
          for (var j = 0; j < out.length; j++) {
            out[j] = Math.round(out[j] * 1000000) / 1000000;
          }
          return out;
        }"""
        val merged = runJs(s, dir, code, Seq.empty)
        val rows = merged.asInstanceOf[JArray].arr.zipWithIndex
          .map { case (v, i) => (i.toLong, jsNum(v)) }
        rows.toDF("dim", "total").orderBy(col("dim"))
      },
      Some(s"""
        |SELECT t.dim AS dim,
        |       round(sum(CAST(e.embedding[t.dim + 1] AS DOUBLE)), 6) AS total
        |FROM embeddings e, range($Dims) t(dim)
        |WHERE e.vec_id < $CorpusCap
        |GROUP BY t.dim
        |ORDER BY dim
        |""".stripMargin.trim)),

    QueryDef(
      // The UNCAPPED distributed-JS certification point: a linear
      // per-partition pass (the sumAllVectors shape,
      // master/service_test.go:483-493) over EVERY event record at the
      // gate SF, through the streaming `records.ForEach` view — no
      // partition materialization, memory bounded at one record — with a
      // stored merger folding the per-node profiles. Cost tracks SF
      // linearly (100k records at sf0.1), closing the "constant work at
      // any SF" caveat on o01/o02.
      //
      // Float contract: values carry exactly 2 decimals, so
      // round(value*100) is an exact integer in BOTH engines (the float32
      // perturbation is ~1e-5 cents, far from any .5 tie) and every sum
      // is exact integer arithmetic — no reassociation tolerance needed.
      "o03_js_stream_profile",
      (s, dir) => {
        import s.implicits._
        val code = """function profileEvents() {
          var out = {};
          records.ForEach(function(r) {
            var t = r.Meta("type");
            if (!out[t]) out[t] = [0, 0];
            out[t][0] += 1;
            out[t][1] += Math.round(r.Get(0) * 100);
          });
          return out;
        }
        function mergeProfiles(results) {
          var out = {};
          for (var i = 0; i < results.length; i++) {
            var p = results[i];
            if (p === null) continue;
            for (var k in p) {
              if (!out[k]) out[k] = [0, 0];
              out[k][0] += p[k][0];
              out[k][1] += p[k][1];
            }
          }
          return out;
        }"""
        val merged = runJs(s, dir, code, Seq.empty, eventsStore)
        val rows = merged.asInstanceOf[JObject].obj.map {
          case (k, JArray(List(n, cents))) =>
            (k, jsNum(n).toLong, jsNum(cents).toLong)
          case other => throw new IllegalStateException(s"bad partial $other")
        }.sortBy(_._1)
        rows.toDF("event_type", "n", "cents").orderBy(col("event_type"))
      },
      Some("""
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(round(CAST(CAST(value AS FLOAT) AS DOUBLE) * 100)
        |                     AS BIGINT)) AS BIGINT) AS cents
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type
        |""".stripMargin.trim)))
}
