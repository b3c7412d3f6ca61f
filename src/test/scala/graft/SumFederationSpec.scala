package graft

import graft.model.SumRecord
import graft.oracle.Payload
import graft.service.{CallResponse, FindResponse, LocalEngine, NodeEngine,
  OracleResponse, RecordResponse, SumFederation, SumService}

/** End-to-end federation semantics (round-8 verdict task 8, the last
  * deliberately-red cell): add node -> records rebalance with the
  * reference balancer's arithmetic -> stored oracles absorbed into the
  * master cage -> distributed Run fans out, merges, and aggregates
  * per-node errors in the master's wire format.
  */
class SumFederationSpec extends SparkSpec {

  private def engineWith(ids: Range): SumService = {
    val svc = SumService(spark)
    assert(svc.createRecordsWithId(ids.map(i =>
      SumRecord(i.toLong, Array(i.toFloat, 1f), Map("name" -> s"r$i")))).success)
    svc
  }

  test("addNode rebalances records per balancer.go and absorbs node oracles") {
    val fed = new SumFederation
    val a = engineWith(1 to 100)
    fed.addNode("a", a)
    // One node: targets equal its own count, no movement.
    assert(fed.listNodes().map(_.records) === Seq(100L))

    val b = SumService(spark) // empty store, 4 canonical oracles
    val bOracles = b.oracles.size
    assert(bOracles > 0)
    fed.addNode("b", b)
    // balance: total 100 over 2 nodes -> 50/50 (remainder 0); the donor
    // gives its FIRST records (page-1 id order), so node b now holds
    // ids 1..50.
    assert(fed.listNodes().map(_.records).sorted === Seq(50L, 50L))
    assert(b.store.find(1L).isDefined && a.store.find(1L).isEmpty)
    // agent Smith: the node's oracles moved into the master cage
    // (deduplicated by name+code — both engines started with the same
    // canonical set).
    assert(b.oracles.size === 0)
    assert(fed.oracles.size === bOracles)
  }

  test("balance is a no-op inside the 5% hysteresis band") {
    val fed = new SumFederation
    val a = engineWith(1 to 52)
    val b = engineWith(101 to 148) // 48 records: delta 2 <= target/20 = 2
    fed.addNode("a", a)
    fed.addNode("b", b)
    assert(fed.listNodes().map(_.records) === Seq(52L, 48L))
  }

  test("distributed Run: scatter, user merger, exact total across shards") {
    val fed = new SumFederation
    fed.addNode("a", engineWith(1 to 60))
    fed.addNode("b", engineWith(61 to 100))
    val code = """function sumIds() {
      var all = records.All();
      var t = 0;
      for (var i = 0; i < all.length; i++) t += all[i].ID;
      return t;
    }
    function mergeSums(partials) {
      var s = 0;
      for (var i = 0; i < partials.length; i++) s += partials[i];
      return s;
    }"""
    val oracle = fed.oracles.createJs("sumIds", code)
      .fold(m => fail(s"compile failed: $m"), identity)
    val resp = fed.run(oracle.id, Seq.empty)
    assert(resp.success, resp.msg)
    // Node placement cannot change the answer: sum(1..100) = 5050.
    assert(Payload.openString(resp.data.get) === "5050")
    // Temporary oracles were cleaned up on both nodes.
    fed.listNodes().foreach(n => assert(n.engine.nodeOracles().isEmpty))
  }

  test("a merger returning NaN or an infinity fails the Run with the marshal error") {
    val fed = new SumFederation
    fed.addNode("a", engineWith(1 to 10))
    fed.addNode("b", engineWith(11 to 20))
    Seq("0 / 0" -> "NaN", "1 / 0" -> "+Inf", "-1 / 0" -> "-Inf").foreach {
      case (expr, shown) =>
        val oracle = fed.oracles.createJs(s"nonFinite$shown",
          s"function count() { return records.All().length; }\n" +
            s"function mergeBad(partials) { return $expr; }")
          .fold(m => fail(s"compile failed: $m"), identity)
        val resp = fed.run(oracle.id, Seq.empty)
        assert(!resp.success && resp.msg === s"json: unsupported value: $shown")
        assert(resp.data.isEmpty)
    }
  }

  test("distributed Run: default merger unions maps; node errors aggregate in wire format") {
    val fed = new SumFederation
    fed.addNode("a", engineWith(1 to 3))
    fed.addNode("b", engineWith(11 to 13))
    val mapCode = """function idMap() {
      var all = records.All();
      var out = {};
      for (var i = 0; i < all.length; i++) out['' + all[i].ID] = all[i].Size;
      return out;
    }"""
    val o1 = fed.oracles.createJs("idMap", mapCode)
      .fold(m => fail(s"compile failed: $m"), identity)
    val r1 = fed.run(o1.id, Seq.empty)
    assert(r1.success, r1.msg)
    val merged = org.json4s.jackson.JsonMethods.parse(
      Payload.openString(r1.data.get)).values.asInstanceOf[Map[String, Any]]
    assert(merged.keySet === Set("1", "2", "3", "11", "12", "13"))

    val failing = """function boom() { throw 'yuppie!'; }"""
    val o2 = fed.oracles.createJs("boom", failing)
      .fold(m => fail(s"compile failed: $m"), identity)
    val r2 = fed.run(o2.id, Seq.empty)
    assert(!r2.success)
    assert(r2.msg.matches(
      "^Errors from nodes: \\[.*error while running oracle \\d+: yuppie!.*\\]$"),
      r2.msg)
    assert(fed.run(999L, Seq.empty).msg === "oracle 999 not found.")
  }

  test("distributed Run resolves records.Find(param) master-side and patches code") {
    val fed = new SumFederation
    fed.addNode("a", engineWith(1 to 100)) // rebalance leaves ~50 per node
    fed.addNode("b", SumService(spark))
    // the reference's canonical findSimilar shape: the looked-up record
    // lives on exactly ONE node, so without master-side resolution +
    // PatchCode every other node sees a null record and errors out
    // (master/mux_runner.go:49-79, master/ast_raccoon.go:94-149)
    val code =
      """function findSimilar(id, threshold) {
        |  var v = records.Find(id);
        |  if (v.IsNull()) { return ctx.Error('Vector ' + id + ' not found.'); }
        |  var all = records.AllBut(v);
        |  var results = {};
        |  for (var i = 0; i < all.length; i++) {
        |    var s = v.Cosine(all[i]);
        |    if (s >= threshold) results['' + all[i].ID] = s;
        |  }
        |  return results;
        |}""".stripMargin
    val oracle = fed.oracles.createJs("findSimilar", code)
      .fold(m => fail(s"compile failed: $m"), identity)
    val resp = fed.run(oracle.id, Seq("42", "0.0"))
    assert(resp.success, resp.msg)
    val merged = org.json4s.jackson.JsonMethods.parse(
      Payload.openString(resp.data.get)).values.asInstanceOf[Map[String, Any]]
    // every record EXCEPT the target matched on both shards — the proof
    // that the resolved record crossed node boundaries
    assert(merged.keySet === (1 to 100).filter(_ != 42).map(_.toString).toSet)
    // the stored oracle is untouched by the patch (a per-run temporary
    // carries the resolved record)
    assert(fed.oracles.read(oracle.id).toOption.get.code === Some(code))
    fed.listNodes().foreach(n => assert(n.engine.nodeOracles().isEmpty))

    // a missing record patches to records.New(null) -> the null record,
    // so the oracle's own IsNull branch fires on every node
    val notFound = fed.run(oracle.id, Seq("9999", "0.0"))
    assert(!notFound.success)
    assert(notFound.msg.startsWith("Errors from nodes: ["), notFound.msg)
    assert(notFound.msg.contains("Vector 9999 not found."), notFound.msg)

    // an unparseable record id fails BEFORE fan-out with the reference's
    // message (mux_runner.go:58, typo preserved)
    val bad = fed.run(oracle.id, Seq("\"abc\"", "0.0"))
    assert(!bad.success)
    assert(bad.msg.startsWith("Unable to parse record id form parameter #0"),
      bad.msg)
  }

  test("a helper declared before the entry does not hide the entry's record lookups") {
    val fed = new SumFederation
    fed.addNode("a", engineWith(1 to 100))
    fed.addNode("b", SumService(spark))
    val code =
      """var helper = function(x) { return x; };
        |function findSimilar(id, threshold) {
        |  var v = records.Find(id);
        |  if (v.IsNull()) { return ctx.Error('Vector ' + id + ' not found.'); }
        |  var all = records.AllBut(v);
        |  var results = {};
        |  for (var i = 0; i < all.length; i++) {
        |    var s = helper(v.Cosine(all[i]));
        |    if (s >= threshold) results['' + all[i].ID] = s;
        |  }
        |  return results;
        |}""".stripMargin
    val oracle = fed.oracles.createJs("findSimilar", code)
      .fold(m => fail(s"compile failed: $m"), identity)
    val resp = fed.run(oracle.id, Seq("42", "0.0"))
    assert(resp.success, resp.msg)
    val merged = org.json4s.jackson.JsonMethods.parse(
      Payload.openString(resp.data.get)).values.asInstanceOf[Map[String, Any]]
    assert(merged.keySet === (1 to 100).filter(_ != 42).map(_.toString).toSet)
    fed.listNodes().foreach(n => assert(n.engine.nodeOracles().isEmpty))
  }

  test("an entry reading arguments and this answers as on one engine") {
    val code =
      """function probe(id, extra) {
        |  var v = records.Find(id);
        |  var seen = [];
        |  for (var i = 0; i < arguments.length; i++) seen.push(arguments[i]);
        |  return {n: arguments.length, seen: seen, self: typeof this,
        |    id: v.ID, isNull: v.IsNull(), extra: extra};
        |}
        |function mergeFirst(ps) { return ps[0]; }""".stripMargin
    val single = engineWith(1 to 10)
    val singleId = single.createOracle("probe", code).msg.toLong
    val fed = new SumFederation
    fed.addNode("a", engineWith(1 to 5))
    fed.addNode("b", engineWith(6 to 10))
    val fedId = fed.oracles.createJs("probe", code)
      .fold(m => fail(s"compile failed: $m"), identity).id
    Seq(Seq("7", "\"x\""), Seq("7", "{\"k\": [1]}", "99", "not json"), Seq("7"),
        Seq("3", ""), Seq(), Seq("11", "1")).foreach { args =>
      val one = single.run(singleId, args)
      val all = fed.run(fedId, args)
      assert(one.success && all.success, s"$args: ${one.msg} / ${all.msg}")
      assert(Payload.openString(all.data.get) === Payload.openString(one.data.get),
        s"args $args")
    }
    fed.listNodes().foreach(n => assert(n.engine.nodeOracles().isEmpty))
  }

  test("an omitted lookup argument is the null record; a non-integer one keeps its message") {
    val fed = new SumFederation
    fed.addNode("a", engineWith(1 to 4))
    fed.addNode("b", engineWith(5 to 8))
    val oracle = fed.oracles.createJs("isNull",
      "function isNull(id, k) { return records.Find(id).IsNull(); } " +
        "function mergeAll(ps) { return ps; }")
      .fold(m => fail(s"compile failed: $m"), identity)
    val omitted = fed.run(oracle.id, Seq.empty)
    assert(omitted.success, omitted.msg)
    assert(Payload.openString(omitted.data.get) === "[true,true]")
    val found = fed.run(oracle.id, Seq("6"))
    assert(Payload.openString(found.data.get) === "[false,false]")
    Seq("1.5", "-3", "\"6\"").foreach { a =>
      assert(fed.run(oracle.id, Seq(a, "0")).msg ===
        s"Unable to parse record id form parameter #0: '$a'")
    }
  }

  test("after a first federated Run, further Runs compile nothing on the master or a node") {
    import graft.oracle.OracleCompiler
    import graft.service.SumGrpcServer
    // node services without canonical oracles: a code-less oracle cannot
    // cross the wire, so it would stay on its node
    val nodes = Seq(1 to 20, 21 to 40).map { ids =>
      val svc = new SumService(spark, graft.store.RecordStore.empty(spark),
        new graft.oracle.OracleRegistry)
      assert(svc.createRecordsWithId(ids.map(i =>
        SumRecord(i.toLong, Array(i.toFloat, 1f), Map.empty))).success)
      new SumGrpcServer(svc)
    }
    nodes.foreach(_.start())
    val masterCompiles = new java.util.concurrent.atomic.AtomicInteger
    val fed = new SumFederation((n, c) => {
      masterCompiles.incrementAndGet()
      OracleCompiler.compile(spark, n, c)
    })
    try {
      nodes.foreach(n => assert(fed.addNode(s"127.0.0.1:${n.boundPort}").success))
      val oracle = fed.createOracle("near",
        "function near(id, k) { var v = records.Find(id); var out = {}; " +
          "var all = records.AllBut(v); for (var i = 0; i < all.length; i++) " +
          "if (v.Cosine(all[i]) > 0.9999) out['' + all[i].ID] = k; return out; }")
      assert(oracle.success, oracle.msg)
      val id = oracle.msg.toLong
      val first = fed.run(id, Seq("3", "1"))
      assert(first.success, first.msg)
      val (compiles, hits, misses) =
        (masterCompiles.get, OracleCompiler.jsCache.hits, OracleCompiler.jsCache.misses)
      (1 to 3).foreach { i =>
        val r = fed.run(id, Seq((3 + i * 10).toString, i.toString))
        assert(r.success, r.msg)
      }
      assert(masterCompiles.get === compiles)
      assert(OracleCompiler.jsCache.misses === misses)
      assert(OracleCompiler.jsCache.hits === hits + 3 * nodes.size)
      fed.listNodes().foreach(n => assert(n.engine.nodeOracles().isEmpty))
    } finally {
      fed.close()
      nodes.foreach(_.stop())
    }
  }

  test("run folds nonconforming node responses into the error aggregate") {
    class StubEngine(idMsg: String, runResp: Long => CallResponse)
        extends NodeEngine {
      def records: Long = 0L
      def nextRecordId: Long = 1L
      def listRecords(page: Long, perPage: Long): Seq[SumRecord] = Seq.empty
      def createRecordWithId(r: SumRecord): RecordResponse =
        RecordResponse(success = true, "")
      def createRecordsWithId(recs: Seq[SumRecord]): RecordResponse =
        RecordResponse(success = true, "")
      def deleteRecords(ids: Seq[Long]): Unit = ()
      def readRecord(id: Long): RecordResponse =
        RecordResponse(success = false, s"record $id not found.")
      def updateRecord(r: SumRecord): RecordResponse =
        RecordResponse(success = false, s"record ${r.id} not found.")
      def deleteRecord(id: Long): RecordResponse =
        RecordResponse(success = false, s"record $id not found.")
      def findRecords(meta: String, value: String): FindResponse =
        FindResponse(success = true, "", Seq.empty)
      def nodeOracles(): Seq[NodeEngine.NodeOracle] = Seq.empty
      def createOracle(o: graft.oracle.Oracle): OracleResponse =
        OracleResponse(success = true, idMsg)
      def deleteOracle(id: Long): Unit = ()
      def run(oracleId: Long, args: Seq[String]): CallResponse =
        runResp(oracleId)
    }
    val code = "function one() { return 1; }"

    // node answers CreateOracle with a non-numeric id
    val fed1 = new SumFederation
    fed1.attach("garbage-id", new StubEngine("not-a-number",
      _ => CallResponse(success = true, "", None)))
    val o1 = fed1.oracles.createJs("one", code)
      .fold(m => fail(s"compile failed: $m"), identity)
    val r1 = fed1.run(o1.id, Seq.empty)
    assert(!r1.success)
    assert(r1.msg ===
      "Errors from nodes: [unable to parse oracleId string 'not-a-number']")

    // node answers Run successfully but with no payload
    val fed2 = new SumFederation
    fed2.attach("empty-payload", new StubEngine("7",
      _ => CallResponse(success = true, "", None)))
    val o2 = fed2.oracles.createJs("one", code)
      .fold(m => fail(s"compile failed: $m"), identity)
    val r2 = fed2.run(o2.id, Seq.empty)
    assert(!r2.success)
    assert(r2.msg.startsWith("Errors from nodes: ["), r2.msg)
    assert(r2.msg.contains("returned an empty payload"), r2.msg)
  }

  test("distributed Run scatters nodes CONCURRENTLY (paralleliser.go)") {
    // each node's run() blocks until BOTH nodes are inside run() — a
    // serial fan-out deadlocks into the latch timeout, a parallel one
    // sails through; no wall-clock assertions, so host load can't flake it
    val gate = new java.util.concurrent.CountDownLatch(2)
    class GatedEngine(key: String) extends NodeEngine {
      def records: Long = 0L
      def nextRecordId: Long = 1L
      def listRecords(page: Long, perPage: Long): Seq[SumRecord] = Seq.empty
      def createRecordWithId(r: SumRecord): RecordResponse =
        RecordResponse(success = true, "")
      def createRecordsWithId(recs: Seq[SumRecord]): RecordResponse =
        RecordResponse(success = true, "")
      def deleteRecords(ids: Seq[Long]): Unit = ()
      def readRecord(id: Long): RecordResponse =
        RecordResponse(success = false, s"record $id not found.")
      def updateRecord(r: SumRecord): RecordResponse =
        RecordResponse(success = false, s"record ${r.id} not found.")
      def deleteRecord(id: Long): RecordResponse =
        RecordResponse(success = false, s"record $id not found.")
      def findRecords(meta: String, value: String): FindResponse =
        FindResponse(success = true, "", Seq.empty)
      def nodeOracles(): Seq[NodeEngine.NodeOracle] = Seq.empty
      def createOracle(o: graft.oracle.Oracle): OracleResponse =
        OracleResponse(success = true, "1")
      def deleteOracle(id: Long): Unit = ()
      def run(oracleId: Long, args: Seq[String]): CallResponse = {
        gate.countDown()
        if (!gate.await(20, java.util.concurrent.TimeUnit.SECONDS))
          CallResponse(success = false, "fan-out was serial", None)
        else CallResponse(success = true, "",
          Some(Payload.buildString(s"""{"$key": 1}""")))
      }
    }
    val fed = new SumFederation
    fed.attach("g1", new GatedEngine("g1"))
    fed.attach("g2", new GatedEngine("g2"))
    val o = fed.oracles.createJs("one", "function one() { return 1; }")
      .fold(m => fail(s"compile failed: $m"), identity)
    val resp = fed.run(o.id, Seq.empty)
    assert(resp.success, resp.msg)
    val merged = org.json4s.jackson.JsonMethods.parse(
      Payload.openString(resp.data.get)).values.asInstanceOf[Map[String, Any]]
    assert(merged.keySet === Set("g1", "g2"))
  }

  test("concurrent Runs of the same oracle and arguments keep distinct node temporaries") {
    // Every node holds its temporary until all four (two Runs x two
    // nodes) exist at once; temporaries that collided on a node's
    // duplicate rule would never all exist, and the second Run would fail.
    val allCreated = new java.util.concurrent.CountDownLatch(4)
    class GatedEngine(inner: NodeEngine) extends NodeEngine {
      def records: Long = inner.records
      def nextRecordId: Long = inner.nextRecordId
      def listRecords(page: Long, perPage: Long): Seq[SumRecord] =
        inner.listRecords(page, perPage)
      def createRecordWithId(r: SumRecord): RecordResponse = inner.createRecordWithId(r)
      def createRecordsWithId(recs: Seq[SumRecord]): RecordResponse =
        inner.createRecordsWithId(recs)
      def deleteRecords(ids: Seq[Long]): Unit = inner.deleteRecords(ids)
      def readRecord(id: Long): RecordResponse = inner.readRecord(id)
      def updateRecord(r: SumRecord): RecordResponse = inner.updateRecord(r)
      def deleteRecord(id: Long): RecordResponse = inner.deleteRecord(id)
      def findRecords(meta: String, value: String): FindResponse =
        inner.findRecords(meta, value)
      def nodeOracles(): Seq[NodeEngine.NodeOracle] = inner.nodeOracles()
      def createOracle(o: graft.oracle.Oracle): OracleResponse = {
        val r = inner.createOracle(o)
        if (r.success) allCreated.countDown()
        r
      }
      def deleteOracle(id: Long): Unit = inner.deleteOracle(id)
      def run(oracleId: Long, args: Seq[String]): CallResponse = {
        allCreated.await(20, java.util.concurrent.TimeUnit.SECONDS)
        inner.run(oracleId, args)
      }
    }
    val fed = new SumFederation
    fed.attach("a", new GatedEngine(new LocalEngine(engineWith(1 to 6))))
    fed.attach("b", new GatedEngine(new LocalEngine(engineWith(7 to 10))))
    val oracle = fed.oracles.createJs("sumIds",
      "function sumIds() { var all = records.All(); var t = 0; " +
        "for (var i = 0; i < all.length; i++) t += all[i].ID; return t; } " +
        "function mergeSums(ps) { var s = 0; " +
        "for (var i = 0; i < ps.length; i++) s += ps[i]; return s; }")
      .fold(m => fail(s"compile failed: $m"), identity)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val runs = Seq.fill(2)(Future(fed.run(oracle.id, Seq.empty)))
    runs.map(Await.result(_, 60.seconds)).foreach { resp =>
      assert(resp.success, resp.msg)
      assert(Payload.openString(resp.data.get) === "55")
    }
    fed.listNodes().foreach(n => assert(n.engine.nodeOracles().isEmpty))
  }

  test("a failed balance transfer and a failed Run cleanup are logged, and both ops succeed") {
    class FailingEngine(inner: NodeEngine) extends NodeEngine {
      @volatile var refuseDeletes = false
      def records: Long = inner.records
      def nextRecordId: Long = inner.nextRecordId
      def listRecords(page: Long, perPage: Long): Seq[SumRecord] =
        inner.listRecords(page, perPage)
      def createRecordWithId(r: SumRecord): RecordResponse = inner.createRecordWithId(r)
      def createRecordsWithId(recs: Seq[SumRecord]): RecordResponse =
        throw new IllegalStateException("create refused")
      def deleteRecords(ids: Seq[Long]): Unit = inner.deleteRecords(ids)
      def readRecord(id: Long): RecordResponse = inner.readRecord(id)
      def updateRecord(r: SumRecord): RecordResponse = inner.updateRecord(r)
      def deleteRecord(id: Long): RecordResponse = inner.deleteRecord(id)
      def findRecords(meta: String, value: String): FindResponse =
        inner.findRecords(meta, value)
      def nodeOracles(): Seq[NodeEngine.NodeOracle] = inner.nodeOracles()
      def createOracle(o: graft.oracle.Oracle): OracleResponse = inner.createOracle(o)
      def deleteOracle(id: Long): Unit =
        if (refuseDeletes) throw new IllegalStateException("delete refused")
        else inner.deleteOracle(id)
      def run(oracleId: Long, args: Seq[String]): CallResponse = inner.run(oracleId, args)
    }
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val fed = new SumFederation
    fed.addNode("a", engineWith(1 to 100))
    val b = new FailingEngine(new LocalEngine(SumService(spark)))
    // The appender goes on once the session exists: starting Spark
    // reconfigures log4j and would drop it.
    val events = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]
    val capture = new AbstractAppender("capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.add(e.toImmutable)
    }
    capture.start()
    val logger = LogManager.getLogger(classOf[SumFederation]).asInstanceOf[CoreLogger]
    logger.addAppender(capture)
    def warned(text: String, cause: String): Boolean = events.toArray(Array.empty[LogEvent])
      .exists(e => e.getLevel == Level.WARN &&
        e.getMessage.getFormattedMessage.contains(text) &&
        Option(e.getThrown).exists(_.getMessage == cause))
    try {
      // attaching b rebalances 50 records onto it; b refuses the create
      val attached = fed.attach("b", b)
      assert(attached.success && attached.msg === "2", attached.msg)
      assert(fed.listNodes().map(_.records) === Seq(100L, 0L)) // the donor kept its records
      assert(warned("from node 1 to node 2 failed", "create refused"))

      val oracle = fed.oracles.createJs("countAll",
        "function countAll() { return records.All().length; } " +
          "function mergeSums(ps) { var s = 0; " +
          "for (var i = 0; i < ps.length; i++) s += ps[i]; return s; }")
        .fold(m => fail(s"compile failed: $m"), identity)
      b.refuseDeletes = true
      val resp = fed.run(oracle.id, Seq.empty)
      assert(resp.success, resp.msg)
      assert(Payload.openString(resp.data.get) === "100")
      assert(warned("on node 2", "delete refused"))
      assert(!warned("on node 1", "delete refused"))
    } finally {
      logger.removeAppender(capture)
      capture.stop()
    }
  }

  test("node status is CACHED and re-synced by the NodeUpdater poll") {
    val fed = new SumFederation
    val svc = engineWith(1 to 10)
    fed.addNode("a", svc)
    val node = fed.listNodes().head
    assert(node.records === 10L)
    // out-of-band write straight to the node: invisible to the master
    // until the next status poll, exactly like NodeInfo.status
    assert(svc.createRecordsWithId(Seq(
      SumRecord(500L, Array(1f, 1f), Map.empty))).success)
    assert(node.records === 10L)
    fed.updateNodes() // NodeUpdater poll body
    assert(node.records === 11L)
    // master-routed create/delete adjust the cache inline
    // (mux_records.go:64/:269) — no Info probe needed
    assert(fed.createRecord(SumRecord(0L, Array(2f, 2f), Map.empty)).success)
    assert(node.records === 12L)
    assert(fed.deleteRecord(1L).success)
    assert(node.records === 11L)
    assert(node.records === svc.store.size)
  }

  test("deleteNode redistributes the departing node's records") {
    val fed = new SumFederation
    val a = engineWith(1 to 40)
    val b = engineWith(101 to 140)
    val c = engineWith(201 to 241) // 41, keeps remainder arithmetic honest
    fed.addNode("a", a)
    fed.addNode("b", b)
    fed.addNode("c", c)
    val idB = fed.listNodes().find(_.name == "b").get.id
    assert(fed.deleteNode(idB).success)
    val after = fed.listNodes()
    assert(after.map(_.name) === Seq("a", "c"))
    // b's 40 records split 20/20 over the survivors; totals conserved.
    assert(after.map(_.records).sum === 121L)
    assert(after.map(_.records) === Seq(60L, 61L))
    assert(fed.deleteNode(99L).msg === "node 99 not found.")
  }
}
