package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.sparkproject.connect.protobuf.{ByteString, DynamicMessage}

import graft.oracle.Payload
import graft.service.{SumGrpcClient, SumGrpcServer, SumProto, SumService}

/** End-to-end over the reference's REAL wire protocol: a [[SumGrpcServer]]
  * on an ephemeral loopback port driven through an actual gRPC channel
  * with sum.proto dynamic messages — create records, compile-and-create a
  * SQL oracle, Run it, open the gzip envelope (the sumd/sumcli loop,
  * cmd/sumd/main.go:100-121, over gRPC this time).
  */
class SumGrpcServerSpec extends SparkSpec {

  private def withGrpc(f: SumGrpcClient => Unit): Unit = {
    val server = new SumGrpcServer(SumService(spark))
    server.start()
    val client = new SumGrpcClient("127.0.0.1", server.boundPort)
    try f(client)
    finally { client.close(); server.stop() }
  }

  private def record(client: SumGrpcClient, data: Seq[Float],
      meta: Map[String, String] = Map.empty): DynamicMessage = {
    val d = SumProto.descriptor("Record")
    val b = client.newMessage("Record")
    data.foreach(x =>
      b.addRepeatedField(d.findFieldByName("data"), java.lang.Float.valueOf(x)))
    val entryD = d.findNestedTypeByName("MetaEntry")
    meta.foreach { case (k, v) =>
      b.addRepeatedField(d.findFieldByName("meta"),
        DynamicMessage.newBuilder(entryD)
          .setField(entryD.findFieldByName("key"), k)
          .setField(entryD.findFieldByName("value"), v).build())
    }
    b.build()
  }

  private def getBool(m: DynamicMessage, f: String): Boolean =
    m.getField(m.getDescriptorForType.findFieldByName(f)).asInstanceOf[Boolean]
  private def getMsg(m: DynamicMessage, f: String): DynamicMessage =
    m.getField(m.getDescriptorForType.findFieldByName(f)).asInstanceOf[DynamicMessage]

  test("create -> oracle -> Run -> envelope round-trip over a real gRPC channel") {
    withGrpc { client =>
      for (i <- 1 to 3) {
        val resp = client.call("CreateRecord",
          record(client, Seq(i.toFloat, 0.0f), Map("name" -> s"rec$i")))
        assert(getBool(resp, "success"))
        assert(SumProto.getString(resp, "msg") === i.toString) // id echo
      }
      // Compile-at-create SQL oracle, through protobuf this time.
      val oc = client.call("CreateOracle", client.newMessage("Oracle")
        .setField(SumProto.descriptor("Oracle").findFieldByName("name"), "firstData")
        .setField(SumProto.descriptor("Oracle").findFieldByName("code"),
          "SELECT id, data[0] AS x FROM records WHERE id <= :maxId ORDER BY id")
        .build())
      assert(getBool(oc, "success"), SumProto.getString(oc, "msg"))
      val oracleId = SumProto.getLong(getMsg(oc, "oracle"), "id")
      val call = client.newMessage("Call")
      val callD = SumProto.descriptor("Call")
      call.setField(callD.findFieldByName("oracle_id"),
        java.lang.Long.valueOf(oracleId))
      call.addRepeatedField(callD.findFieldByName("args"), "2")
      val run = client.call("Run", call.build())
      assert(getBool(run, "success"), SumProto.getString(run, "msg"))
      val data = getMsg(run, "data")
      assert(!getBool(data, "compressed"))
      val payload = data.getField(
        data.getDescriptorForType.findFieldByName("payload"))
        .asInstanceOf[ByteString].toStringUtf8
      assert(JsonMethods.parse(payload) === JsonMethods.parse(
        """[{"id":1,"x":1.0},{"id":2,"x":2.0}]"""))
    }
  }

  test("a stored-JavaScript oracle runs over gRPC (the reference's native protocol)") {
    withGrpc { client =>
      client.call("CreateRecord", record(client, Seq(1f, 2f, 3f), Map.empty))
      client.call("CreateRecord", record(client, Seq(2f, 4f, 6f), Map.empty))
      val js = """function findSimilar(id, threshold) {
        var v = records.Find(id);
        if (v.IsNull() == true) { return ctx.Error("Vector " + id + " not found."); }
        var results = {};
        var all = records.AllBut(v);
        for (var i = 0; i < all.length; ++i) {
          var sim = v.Cosine(all[i]);
          if (sim >= threshold) { results[all[i].Id] = sim; }
        }
        return results;
      }"""
      val oc = client.call("CreateOracle", client.newMessage("Oracle")
        .setField(SumProto.descriptor("Oracle").findFieldByName("name"), "findSimilar")
        .setField(SumProto.descriptor("Oracle").findFieldByName("code"), js)
        .build())
      assert(getBool(oc, "success"), SumProto.getString(oc, "msg"))
      val oracleId = SumProto.getLong(getMsg(oc, "oracle"), "id")
      val call = client.newMessage("Call")
      val callD = SumProto.descriptor("Call")
      call.setField(callD.findFieldByName("oracle_id"),
        java.lang.Long.valueOf(oracleId))
      call.addRepeatedField(callD.findFieldByName("args"), "1")
      call.addRepeatedField(callD.findFieldByName("args"), "0.9")
      val run = client.call("Run", call.build())
      assert(getBool(run, "success"), SumProto.getString(run, "msg"))
      val data = getMsg(run, "data")
      val payload = data.getField(
        data.getDescriptorForType.findFieldByName("payload"))
        .asInstanceOf[ByteString].toStringUtf8
      assert(payload === """{"2":1}""")
      // the oracle's ctx.Error path crosses the wire wrapped in the node
      // RPC's exact spelling (node/service/service.go:146)
      val miss = client.newMessage("Call")
      miss.setField(callD.findFieldByName("oracle_id"),
        java.lang.Long.valueOf(oracleId))
      miss.addRepeatedField(callD.findFieldByName("args"), "99")
      miss.addRepeatedField(callD.findFieldByName("args"), "0.5")
      val missed = client.call("Run", miss.build())
      assert(!getBool(missed, "success"))
      assert(SumProto.getString(missed, "msg") ===
        s"error while running oracle $oracleId: Vector 99 not found.")
    }
  }

  test("oracle CRUD round trip over gRPC: create, find, update, read, delete") {
    withGrpc { client =>
      val oracleD = SumProto.descriptor("Oracle")
      def oracle(id: Long, code: String) = client.newMessage("Oracle")
        .setField(oracleD.findFieldByName("id"), java.lang.Long.valueOf(id))
        .setField(oracleD.findFieldByName("name"), "countAll")
        .setField(oracleD.findFieldByName("code"), code).build()
      def byId(id: Long) = client.newMessage("ById")
        .setField(SumProto.descriptor("ById").findFieldByName("id"),
          java.lang.Long.valueOf(id)).build()
      val byName = client.newMessage("ByName")
        .setField(SumProto.descriptor("ByName").findFieldByName("name"), "countAll")
        .build()
      val oc = client.call("CreateOracle",
        oracle(0L, "SELECT count(*) AS n FROM records"))
      assert(getBool(oc, "success"), SumProto.getString(oc, "msg"))
      val id = SumProto.getLong(getMsg(oc, "oracle"), "id")
      assert(getBool(client.call("FindOracle", byName), "success"))
      val up = client.call("UpdateOracle",
        oracle(id, "SELECT count(*) AS total FROM records"))
      assert(getBool(up, "success"), SumProto.getString(up, "msg"))
      assert(SumProto.getString(getMsg(client.call("ReadOracle", byId(id)), "oracle"),
        "code").contains("AS total"))
      assert(getBool(client.call("DeleteOracle", byId(id)), "success"))
      assert(SumProto.getString(client.call("FindOracle", byName), "msg") ===
        "oracle countAll not found.")
    }
  }

  test("broken oracle code rejects at create over gRPC; big results gzip") {
    withGrpc { client =>
      val oracleD = SumProto.descriptor("Oracle")
      val broken = client.call("CreateOracle", client.newMessage("Oracle")
        .setField(oracleD.findFieldByName("name"), "broken")
        .setField(oracleD.findFieldByName("code"), "lulz i won't compile =)")
        .build())
      assert(!getBool(broken, "success"))
      assert(SumProto.getString(broken, "msg").startsWith("compile error:"))

      for (i <- 1 to 3) client.call("CreateRecord", record(client, Seq(i.toFloat)))
      val oc = client.call("CreateOracle", client.newMessage("Oracle")
        .setField(oracleD.findFieldByName("name"), "spine")
        .setField(oracleD.findFieldByName("code"),
          "SELECT r.id AS id, t.id AS k, r.data[0] AS x " +
            "FROM records r CROSS JOIN range(100) t ORDER BY id, k")
        .build())
      assert(getBool(oc, "success"), SumProto.getString(oc, "msg"))
      val callD = SumProto.descriptor("Call")
      val run = client.call("Run", client.newMessage("Call")
        .setField(callD.findFieldByName("oracle_id"), java.lang.Long.valueOf(
          SumProto.getLong(getMsg(oc, "oracle"), "id")))
        .build())
      assert(getBool(run, "success"))
      val data = getMsg(run, "data")
      assert(getBool(data, "compressed")) // >2 KiB -> gzip envelope
      val raw = data.getField(
        data.getDescriptorForType.findFieldByName("payload"))
        .asInstanceOf[ByteString].toByteArray
      val rows = JsonMethods.parse(
        Payload.openString(Payload.Envelope(compressed = true, raw)))
        .asInstanceOf[JArray].arr
      assert(rows.size === 300)
    }
  }

  test("record CRUD + pagination + find + info parity over gRPC") {
    withGrpc { client =>
      for (i <- 1 to 25)
        client.call("CreateRecord", record(client, Seq(i.toFloat),
          Map("tag" -> (if (i % 2 == 0) "even" else "odd"))))
      val byIdD = SumProto.descriptor("ById")
      def byId(id: Long) = client.newMessage("ById")
        .setField(byIdD.findFieldByName("id"), java.lang.Long.valueOf(id)).build()
      assert(getBool(client.call("ReadRecord", byId(7)), "success"))
      assert(SumProto.getString(client.call("ReadRecord", byId(666)), "msg") ===
        "record 666 not found.") // exact store error string on the wire
      val listD = SumProto.descriptor("ListRequest")
      val page3 = client.call("ListRecords", client.newMessage("ListRequest")
        .setField(listD.findFieldByName("page"), java.lang.Long.valueOf(3L))
        .setField(listD.findFieldByName("per_page"), java.lang.Long.valueOf(10L))
        .build())
      assert(SumProto.getLong(page3, "total") === 25L)
      assert(SumProto.getLong(page3, "pages") === 3L)
      assert(page3.getField(page3.getDescriptorForType.findFieldByName("records"))
        .asInstanceOf[java.util.List[_]].size === 5)
      val byMetaD = SumProto.descriptor("ByMeta")
      val evens = client.call("FindRecords", client.newMessage("ByMeta")
        .setField(byMetaD.findFieldByName("meta"), "tag")
        .setField(byMetaD.findFieldByName("value"), "even").build())
      assert(evens.getField(evens.getDescriptorForType.findFieldByName("records"))
        .asInstanceOf[java.util.List[_]].size === 12)
      assert(getBool(client.call("DeleteRecord", byId(7)), "success"))
      assert(!getBool(client.call("ReadRecord", byId(7)), "success"))
      val info = client.call("Info", client.newMessage("Empty").build())
      assert(SumProto.getLong(info, "records") === 24L)
      assert(SumProto.getString(info, "backend").startsWith("spark-"))
      // Round-trip fidelity of the meta map + float data through protobuf.
      val r8 = getMsg(client.call("ReadRecord", byId(8)), "record")
      val rec = SumProto.protoToRecord(r8)
      assert(rec.data.toSeq === Seq(8.0f) && rec.meta === Map("tag" -> "even"))
    }
  }

  test("internal + master services answer on the wire (proto/sum.proto:27-37)") {
    withGrpc { client =>
      val recordD = SumProto.descriptor("Record")
      def recordWithId(id: Long, x: Float): DynamicMessage = {
        val b = client.newMessage("Record")
          .setField(recordD.findFieldByName("id"), java.lang.Long.valueOf(id))
        b.addRepeatedField(recordD.findFieldByName("data"),
          java.lang.Float.valueOf(x))
        b.build()
      }
      // CreateRecordWithId: caller-chosen id, echoed; duplicate rejects
      // with the store's exact error string.
      val c1 = client.call("CreateRecordWithId", recordWithId(42L, 1.0f))
      assert(getBool(c1, "success") && SumProto.getString(c1, "msg") === "42")
      val dup = client.call("CreateRecordWithId", recordWithId(42L, 2.0f))
      assert(!getBool(dup, "success"))
      assert(SumProto.getString(dup, "msg") === "identifier is not unique")
      // CreateRecordsWithId: all-or-nothing — one clash rolls back both.
      val recsD = SumProto.descriptor("Records")
      def batch(ids: Long*): DynamicMessage = {
        val b = client.newMessage("Records")
        ids.foreach(i => b.addRepeatedField(recsD.findFieldByName("records"),
          recordWithId(i, i.toFloat)))
        b.build()
      }
      assert(!getBool(client.call("CreateRecordsWithId", batch(50L, 42L)),
        "success"))
      assert(!getBool(client.call("ReadRecord", client.newMessage("ById")
        .setField(SumProto.descriptor("ById").findFieldByName("id"),
          java.lang.Long.valueOf(50L)).build()), "success"),
        "failed batch must roll back entirely")
      assert(getBool(client.call("CreateRecordsWithId", batch(50L, 51L)),
        "success"))
      // DeleteRecords: bulk, always success.
      val idsD = SumProto.descriptor("RecordIds")
      val del = client.newMessage("RecordIds")
      Seq(42L, 50L, 999L).foreach(i =>
        del.addRepeatedField(idsD.findFieldByName("ids"),
          java.lang.Long.valueOf(i)))
      assert(getBool(client.call("DeleteRecords", del.build()), "success"))
      val info = client.call("Info", client.newMessage("Empty").build())
      assert(SumProto.getLong(info, "records") === 1L) // only 51 remains
      // Master service: the single-engine truth, as responses not
      // UNIMPLEMENTED.
      val nodes = client.call("ListNodes", client.newMessage("Empty").build())
      assert(getBool(nodes, "success"))
      val nodeList = nodes.getField(
        nodes.getDescriptorForType.findFieldByName("nodes"))
        .asInstanceOf[java.util.List[_]]
      assert(nodeList.size === 1)
      assert(SumProto.getLong(
        nodeList.get(0).asInstanceOf[DynamicMessage], "id") === 1L)
      val add = client.call("AddNode", client.newMessage("ByAddr")
        .setField(SumProto.descriptor("ByAddr").findFieldByName("address"),
          "localhost:12345").build())
      assert(!getBool(add, "success"))
      assert(SumProto.getString(add, "msg").startsWith("Cannot create node:"))
      val rm = client.call("DeleteNode", client.newMessage("ById")
        .setField(SumProto.descriptor("ById").findFieldByName("id"),
          java.lang.Long.valueOf(7L)).build())
      assert(!getBool(rm, "success"))
      assert(SumProto.getString(rm, "msg") === "node 7 not found.")
    }
  }

  test("create -> oracle -> Run flow over a TLS channel (sumd -creds parity)") {
    // sumd's creds layout: a directory holding cert.pem + key.pem
    // (cmd/sumd/main.go:32,217-219); the client trusts the cert FILE, as
    // master/node.go:64's NewClientTLSFromFile does — so a self-signed
    // cert is the reference deployment shape, not a test shortcut.
    val creds = new java.io.File(
      s"target/graft-io/tls_creds_${System.nanoTime()}")
    creds.mkdirs()
    import scala.sys.process._
    val gen = Process(Seq("openssl", "req", "-x509", "-newkey", "rsa:2048",
      "-keyout", s"${creds.getAbsolutePath}/key.pem",
      "-out", s"${creds.getAbsolutePath}/cert.pem",
      "-days", "2", "-nodes", "-subj", "/CN=localhost",
      "-addext", "subjectAltName=DNS:localhost")).!(ProcessLogger(_ => ()))
    assume(gen == 0, "openssl unavailable — cannot mint test creds")
    val server = new SumGrpcServer(SumService(spark),
      credsPath = Some(creds.getAbsolutePath))
    server.start()
    val client = new SumGrpcClient("127.0.0.1", server.boundPort,
      certFile = Some(s"${creds.getAbsolutePath}/cert.pem"))
    try {
      val resp = client.call("CreateRecord",
        record(client, Seq(3.0f, 4.0f), Map("name" -> "tls")))
      assert(getBool(resp, "success") && SumProto.getString(resp, "msg") === "1")
      val oc = client.call("CreateOracle", client.newMessage("Oracle")
        .setField(SumProto.descriptor("Oracle").findFieldByName("name"), "mag")
        .setField(SumProto.descriptor("Oracle").findFieldByName("code"),
          "SELECT id, sqrt(aggregate(data, 0D, (s, x) -> s + x*x)) AS m " +
            "FROM records ORDER BY id").build())
      assert(getBool(oc, "success"), SumProto.getString(oc, "msg"))
      val callD = SumProto.descriptor("Call")
      val run = client.call("Run", client.newMessage("Call")
        .setField(callD.findFieldByName("oracle_id"), java.lang.Long.valueOf(
          SumProto.getLong(getMsg(oc, "oracle"), "id"))).build())
      assert(getBool(run, "success"), SumProto.getString(run, "msg"))
      val data = getMsg(run, "data")
      val payload = data.getField(
        data.getDescriptorForType.findFieldByName("payload"))
        .asInstanceOf[ByteString].toStringUtf8
      assert(JsonMethods.parse(payload) ===
        JsonMethods.parse("""[{"id":1,"m":5.0}]"""))
      // A plaintext client against the TLS socket must fail, not silently
      // downgrade.
      val plain = new SumGrpcClient("127.0.0.1", server.boundPort)
      try intercept[Exception](
        plain.call("Info", plain.newMessage("Empty").build()))
      finally plain.close()
    } finally { client.close(); server.stop() }
  }

  test("wire federation: AddNode dials real node servers, rebalances, routes CRUD, Run merges") {
    import graft.model.SumRecord
    import graft.oracle.OracleRegistry
    import graft.service.SumFederation
    // Two NODE engine servers on real loopback sockets: A holds 100
    // records and no oracles; B is empty but stores a JS oracle of its
    // own. The MASTER server fronts a federation (no records of its own)
    // whose compiler is the full dispatch (SQL + JS).
    def nodeService(ids: Range): SumService = {
      val svc = new SumService(spark,
        graft.store.RecordStore.empty(spark), new OracleRegistry)
      if (ids.nonEmpty)
        assert(svc.createRecordsWithId(ids.map(i =>
          SumRecord(i.toLong, Array(i.toFloat, 1f),
            Map("name" -> s"r$i"))).toSeq).success)
      svc
    }
    val svcA = nodeService(1 to 100)
    val svcB = nodeService(1 to 0)
    assert(svcB.oracles.createJs("nodeSum",
      "function nodeSum() { var all = records.All(); var t = 0; " +
        "for (var i = 0; i < all.length; i++) t += all[i].ID; return t; } " +
        "function mergeT(parts) { var s = 0; " +
        "for (var i = 0; i < parts.length; i++) s += parts[i]; return s; }")
      .isRight)
    val serverA = new SumGrpcServer(svcA)
    val serverB = new SumGrpcServer(svcB)
    serverA.start(); serverB.start()
    val fed = new SumFederation(
      (n, c) => graft.oracle.OracleCompiler.compile(spark, n, c))
    val master = new SumGrpcServer(
      new SumService(spark, graft.store.RecordStore.empty(spark),
        fed.oracles), federation = Some(fed))
    master.start()
    val client = new SumGrpcClient("127.0.0.1", master.boundPort)
    def byAddr(addr: String): DynamicMessage = {
      val b = client.newMessage("ByAddr")
      b.setField(b.getDescriptorForType.findFieldByName("address"), addr)
      b.build()
    }
    def getStr(m: DynamicMessage, f: String): String =
      m.getField(m.getDescriptorForType.findFieldByName(f)).asInstanceOf[String]
    try {
      // Dialing a dead address fails in the reference's response format.
      val dead = client.call("AddNode", byAddr("127.0.0.1:1"))
      assert(!getBool(dead, "success"))
      assert(getStr(dead, "msg").startsWith("Cannot create node:"))
      // Attach both real node servers; the second attach rebalances A's
      // 100 records to 50/50 OVER THE WIRE and absorbs B's stored oracle
      // into the master cage.
      assert(getBool(client.call("AddNode",
        byAddr(s"127.0.0.1:${serverA.boundPort}")), "success"))
      assert(getBool(client.call("AddNode",
        byAddr(s"127.0.0.1:${serverB.boundPort}")), "success"))
      assert(svcA.store.size === 50L && svcB.store.size === 50L)
      assert(svcB.oracles.size === 0)
      assert(fed.oracles.findByName("nodeSum").isRight)
      // Record CRUD routes through the master: a read finds id 1 on
      // whichever node holds it now; a create places on the less-loaded
      // node under the master's id watermark.
      val read = client.call("ReadRecord", {
        val b = client.newMessage("ById")
        b.setField(b.getDescriptorForType.findFieldByName("id"),
          java.lang.Long.valueOf(1L))
        b.build()
      })
      assert(getBool(read, "success"), getStr(read, "msg"))
      val created = client.call("CreateRecord",
        record(client, Seq(7f, 7f), Map("name" -> "extra")))
      assert(getBool(created, "success"))
      val newId = getStr(created, "msg").toLong
      assert(newId === 101L) // watermark lifted past both nodes' ids
      assert(svcA.store.size + svcB.store.size === 101L)
      // Distributed Run through the master's wire RPC: the absorbed
      // oracle scatters to BOTH nodes as temporaries, each sums its own
      // shard's ids, the stored merger folds the partials. 1..100 were
      // rebalanced across the nodes and 101 was just placed, so the
      // merged total is sum(1..100) + 101 = 5151.
      val call = client.newMessage("Call")
      val cd = call.getDescriptorForType
      call.setField(cd.findFieldByName("oracle_id"), java.lang.Long.valueOf(
        fed.oracles.findByName("nodeSum").toOption.get.id))
      val run = client.call("Run", call.build())
      assert(getBool(run, "success"), getStr(run, "msg"))
      val data = getMsg(run, "data")
      val payload = data.getField(
        data.getDescriptorForType.findFieldByName("payload"))
        .asInstanceOf[ByteString].toStringUtf8
      assert(payload === "5151")
      // Temporaries cleaned up on both nodes.
      assert(svcA.oracles.size === 0 && svcB.oracles.size === 0)
      // Master UpdateOracle targets the CAGE (master/mux_oracles.go:43-62):
      // the recompiled code is what the master's ReadOracle and Run serve.
      val cageId = fed.oracles.findByName("nodeSum").toOption.get.id
      val countCode = "function nodeSum() { return records.All().length; } " +
        "function mergeT(parts) { var s = 0; " +
        "for (var i = 0; i < parts.length; i++) s += parts[i]; return s; }"
      val upd = client.newMessage("Oracle")
      val ud = upd.getDescriptorForType
      upd.setField(ud.findFieldByName("id"), java.lang.Long.valueOf(cageId))
      upd.setField(ud.findFieldByName("name"), "nodeSum")
      upd.setField(ud.findFieldByName("code"), countCode)
      val updResp = client.call("UpdateOracle", upd.build())
      assert(getBool(updResp, "success"), getStr(updResp, "msg"))
      assert(fed.oracles.read(cageId).toOption.get.code === Some(countCode))
      val run2 = client.call("Run", call.build())
      assert(getBool(run2, "success"), getStr(run2, "msg"))
      val data2 = getMsg(run2, "data")
      assert(data2.getField(data2.getDescriptorForType
        .findFieldByName("payload")).asInstanceOf[ByteString]
        .toStringUtf8 === "101") // counts, not id-sums: the update took
      // Updating a cage id that does not exist fails as an error response.
      upd.setField(ud.findFieldByName("id"), java.lang.Long.valueOf(999L))
      assert(!getBool(client.call("UpdateOracle", upd.build()), "success"))
      // Record-lookup patching OVER THE WIRE: the oracle Finds a record
      // that lives on only one node; the master resolves it, splices
      // records.New({...json...}) into the source, and the PATCHED code
      // crosses real sockets and recompiles on both nodes — so both
      // shards compute against a record neither fan-out run can Find.
      val probe = client.newMessage("Oracle")
      val pd = probe.getDescriptorForType
      probe.setField(pd.findFieldByName("name"), "probeDot")
      probe.setField(pd.findFieldByName("code"),
        "function probeDot(id) { var v = records.Find(id); " +
          "if (v.IsNull()) { return ctx.Error('gone'); } " +
          "var all = records.All(); var out = {}; " +
          "for (var i = 0; i < all.length; i++) " +
          "out['' + all[i].ID] = v.Dot(all[i]); return out; }")
      val probeResp = client.call("CreateOracle", probe.build())
      assert(getBool(probeResp, "success"), getStr(probeResp, "msg"))
      val probeCall = client.newMessage("Call")
      val pcd = probeCall.getDescriptorForType
      probeCall.setField(pcd.findFieldByName("oracle_id"),
        java.lang.Long.valueOf(getStr(probeResp, "msg").toLong))
      probeCall.addRepeatedField(pcd.findFieldByName("args"), "1")
      val probeRun = client.call("Run", probeCall.build())
      assert(getBool(probeRun, "success"), getStr(probeRun, "msg"))
      val probeData = getMsg(probeRun, "data")
      val probeMap = org.json4s.jackson.JsonMethods.parse(
        probeData.getField(probeData.getDescriptorForType
          .findFieldByName("payload")).asInstanceOf[ByteString].toStringUtf8)
        .values.asInstanceOf[Map[String, Any]]
      // every record on BOTH shards was dotted against the resolved
      // record (1.0, 1.0): dot with (i, 1) is i + 1
      assert(probeMap.size === 101)
      assert(probeMap("7").asInstanceOf[Number].doubleValue() === 8.0)
      // DeleteNode drains the departing node's records to the survivor.
      val del = client.call("DeleteNode", {
        val b = client.newMessage("ById")
        b.setField(b.getDescriptorForType.findFieldByName("id"),
          java.lang.Long.valueOf(2L))
        b.build()
      })
      assert(getBool(del, "success"))
      assert(svcA.store.size === 101L && svcB.store.size === 0L)
    } finally {
      client.close(); master.stop(); serverA.stop(); serverB.stop()
    }
  }

  test("a master's Info reports the federation's record total and cage size") {
    import graft.model.SumRecord
    import graft.service.SumFederation
    // one in-process node with 30 records and the canonical oracles, which
    // the master absorbs into its cage; the master's own store is empty
    val node = SumService(spark)
    assert(node.createRecordsWithId((1 to 30).map(i =>
      SumRecord(i.toLong, Array(i.toFloat), Map.empty))).success)
    val fed = new SumFederation(
      (n, c) => graft.oracle.OracleCompiler.compile(spark, n, c))
    assert(fed.addNode("a", node).success)
    val master = new SumGrpcServer(
      new SumService(spark, graft.store.RecordStore.empty(spark),
        new graft.oracle.OracleRegistry), federation = Some(fed))
    master.start()
    val client = new SumGrpcClient("127.0.0.1", master.boundPort)
    try {
      val info = client.call("Info", client.newMessage("Empty").build())
      assert(SumProto.getLong(info, "records") === 30L)
      assert(fed.oracles.size > 0)
      assert(SumProto.getLong(info, "oracles") === fed.oracles.size.toLong)
      assert(SumProto.getLong(info, "next_record_id") === fed.nextRecordId)
    } finally { client.close(); master.stop() }
  }

  test("runaway JS recursion fails the Run with a RangeError and the server keeps serving") {
    import graft.oracle.js.JsOracle.StackOverflow
    withGrpc { client =>
      val rec = client.createOracle("rec", "function rec(n) { return rec(n + 1); }")
      assert(rec.success, rec.msg)
      val id = rec.oracle.get.id
      val run = client.run(id, Seq("0"))
      assert(!run.success)
      assert(run.msg === s"error while running oracle $id: $StackOverflow")
      // the same handler thread pool answers the next Run
      val ok = client.createOracle("one", "function one() { return 1; }")
      val next = client.run(ok.oracle.get.id, Seq.empty)
      assert(next.success, next.msg)
      assert(Payload.openString(next.data.get) === "1")
      // top-level recursion overflows in the compile-time run: rejected at create
      val top = client.createOracle("top",
        "function f() {} function down(n) { return down(n + 1); } down(0);")
      assert(!top.success)
      assert(top.msg === StackOverflow)
    }
  }

  test("a stopped master closes its remote nodes' channels") {
    import graft.service.SumFederation
    val nodes = Seq.fill(2)(new SumGrpcServer(SumService(spark)))
    nodes.foreach(_.start())
    val fed = new SumFederation
    nodes.foreach(n => assert(fed.addNode(s"127.0.0.1:${n.boundPort}").success))
    val engines = fed.listNodes().map(_.engine)
    val master = new SumGrpcServer(SumService(spark), federation = Some(fed))
    master.start()
    try {
      engines.foreach(e => assert(e.records >= 0L)) // live channels
      master.stop()
      assert(fed.listNodes().isEmpty)
      // the node servers still run, so only a closed channel fails the call
      engines.foreach { e =>
        val err = intercept[java.io.IOException](e.records)
        assert(err.getMessage.contains("Channel shutdown invoked"), err.getMessage)
      }
    } finally nodes.foreach(_.stop())
  }

  test("a failing handler answers INTERNAL and logs the RPC and exception at WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import graft.model.SumRecord
    import graft.service.{FindResponse, LocalEngine, NodeEngine, RecordResponse, SumFederation}
    // a node whose list read throws: the master's ListRecords handler fails
    val inner = new LocalEngine(SumService(spark))
    val refusing = new NodeEngine {
      def records: Long = 1L
      def nextRecordId: Long = inner.nextRecordId
      def listRecords(page: Long, perPage: Long): Seq[SumRecord] =
        throw new IllegalStateException("list refused")
      def createRecordWithId(r: SumRecord): RecordResponse = inner.createRecordWithId(r)
      def createRecordsWithId(recs: Seq[SumRecord]): RecordResponse =
        inner.createRecordsWithId(recs)
      def deleteRecords(ids: Seq[Long]): Unit = inner.deleteRecords(ids)
      def readRecord(id: Long): RecordResponse = inner.readRecord(id)
      def updateRecord(r: SumRecord): RecordResponse = inner.updateRecord(r)
      def deleteRecord(id: Long): RecordResponse = inner.deleteRecord(id)
      def findRecords(meta: String, value: String): FindResponse =
        inner.findRecords(meta, value)
      def nodeOracles(): Seq[NodeEngine.NodeOracle] = Seq.empty
      def createOracle(o: graft.oracle.Oracle) = inner.createOracle(o)
      def deleteOracle(id: Long): Unit = inner.deleteOracle(id)
      def run(oracleId: Long, args: Seq[String]) = inner.run(oracleId, args)
    }
    val fed = new SumFederation
    assert(fed.attach("refusing", refusing).success)
    val master = new SumGrpcServer(SumService(spark), federation = Some(fed))
    master.start()
    val client = new SumGrpcClient("127.0.0.1", master.boundPort)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]
    val capture = new AbstractAppender("capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.add(e.toImmutable)
    }
    capture.start()
    val logger = LogManager.getLogger(classOf[SumGrpcServer]).asInstanceOf[CoreLogger]
    logger.addAppender(capture)
    try {
      val err = intercept[org.sparkproject.connect.grpc.StatusRuntimeException](
        client.listRecords(1, 10))
      assert(err.getStatus.getCode ===
        org.sparkproject.connect.grpc.Status.Code.INTERNAL)
      assert(err.getMessage.contains("list refused"))
      assert(events.toArray(Array.empty[LogEvent]).exists(e =>
        e.getLevel == Level.WARN &&
          e.getMessage.getFormattedMessage === "sum.SumService/ListRecords failed" &&
          Option(e.getThrown).exists(_.getMessage == "list refused")))
    } finally {
      logger.removeAppender(capture)
      capture.stop()
      client.close(); master.stop()
    }
  }
}
