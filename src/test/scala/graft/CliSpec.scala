package graft

import graft.service.SumService

/** The sumcli-mirroring verb dispatcher, driven against a live service:
  * CRUD round-trip, find, oracle run, unknown-verb handling, quit.
  */
class CliSpec extends SparkSpec {

  test("cli verbs round-trip records and run the flagship oracle") {
    val svc = SumService(spark)
    def run(line: String): String = Cli.dispatch(svc, line).get

    assert(run("info").contains("\"records\":0"))
    assert(run("create-record 3,6,9 lang=en").contains("\"msg\":\"1\""))
    assert(run("create-record 3,6,9 lang=de").contains("\"msg\":\"2\""))
    assert(run("create-record 1,0,0").contains("\"msg\":\"3\""))
    assert(run("list-records 1 10").contains("\"records\":[1,2,3]"))
    assert(run("find-records lang en").contains("\"ids\":[1]"))
    assert(run("find-oracle findSimilar").contains("\"name\":\"findSimilar\""))
    // findSimilar(1, 0.5): record 2 is an exact duplicate -> cosine 1.0
    assert(run("run 1 1 0.5").contains("\"2\":1.0"))
    assert(run("delete-record 3").contains("\"success\":true"))
    assert(run("info").contains("\"records\":2"))
    assert(run("bogus").contains("unknown command"))
    // malformed arguments surface as an error response, never a crash
    assert(run("create-record").contains("bad arguments"))
    assert(run("read-record notanumber").contains("bad arguments"))
    assert(Cli.dispatch(svc, "quit").isEmpty)
  }

  test("cli manages dynamic SQL oracles: create, run, delete") {
    val svc = SumService(spark)
    def run(line: String): String = Cli.dispatch(svc, line).get

    run("create-record 1,2,3 lang=en")
    val created = run("create-oracle countAll SELECT count(*) AS n FROM records")
    assert(created.contains("\"success\":true"))
    assert(created.contains("\"name\":\"countAll\""))
    // Broken SQL rejects at create with the compile message.
    assert(run("create-oracle broken lulz i won't compile =)")
      .contains("compile error"))
    val id = run("find-oracle countAll")
    assert(id.contains("\"success\":true"))
    val oracleId = "\"id\":(\\d+)".r.findFirstMatchIn(created).get.group(1)
    assert(run(s"run $oracleId").contains("\"n\":1"))
    assert(run(s"delete-oracle $oracleId").contains("\"success\":true"))
    assert(run("find-oracle countAll").contains("not found"))
  }

  test("remote cli verbs drive a live server over the wire") {
    val server = new graft.service.SumGrpcServer(SumService(spark))
    server.start()
    val client = new graft.service.SumGrpcClient("127.0.0.1", server.boundPort)
    try {
      def run(line: String): String = Cli.dispatch(client, line).get

      assert(run("info").contains("\"records\":0"))
      assert(run("create-record 3,6,9 lang=en").contains("\"msg\":\"1\""))
      assert(run("create-record 3,6,9 lang=de").contains("\"msg\":\"2\""))
      assert(run("list-records 1 10").contains("\"total\":2"))
      assert(run("find-records lang en").contains("\"success\":true"))
      val created = run("create-oracle firstData SELECT id, data[0] AS x FROM records ORDER BY id")
      assert(created.contains("\"success\":true"))
      val oracleId = "\"id\":(\\d+)".r.findFirstMatchIn(created).get.group(1)
      // Envelope opened client-side: data is inline JSON like the local CLI.
      val ran = run(s"run $oracleId")
      assert(ran.contains("\"data\":[{\"id\":1,\"x\":3.0},{\"id\":2,\"x\":3.0}]"))
      assert(run("read-record 666").contains("record 666 not found."))
      assert(Cli.dispatch(client, "quit").isEmpty)
    } finally { client.close(); server.stop() }
  }

  test("remote cli reports a daemon that is down, not bad arguments") {
    // bind and release an ephemeral port: nothing listens on it afterwards
    val socket = new java.net.ServerSocket(0)
    val port = socket.getLocalPort
    socket.close()
    val client = new graft.service.SumGrpcClient("127.0.0.1", port)
    try {
      val out = Cli.dispatch(client, "read-record 1").get
      assert(out.contains(s"cannot reach daemon at 127.0.0.1:$port"), out)
      assert(out.contains("\"success\":false") && !out.contains("bad arguments"), out)
    } finally client.close()
  }
}
