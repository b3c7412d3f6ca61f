package graft

import java.net.{ServerSocket, Socket}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import graft.model.SumRecord
import graft.service.{GrpcEngine, SumFederation, SumGrpcClient}

/** Cross-PROCESS federation: two `graft.Serve` daemons in SEPARATE JVMs
  * (real process isolation — their Spark sessions, stores, and sockets
  * share nothing with this suite), a master federating them over the real
  * gRPC wire, and a node KILLED mid-flight. In-process wire tests
  * (SumGrpcServerSpec) cannot catch what only process death produces:
  * connection-level failures surfacing through every master verb at once.
  *
  * Pinned here, from the reference's semantics:
  *  - distributed Run against a dead node fails with the master's
  *    aggregate format "Errors from nodes: [...]" (mux_runner.go:120-151)
  *    — never a raw exception, never a hang;
  *  - point-record fan-out keeps the first-success rule when a node is
  *    dead (a live hit still wins; a dead-node miss aggregates,
  *    mux_records.go:107-143);
  *  - placement and DeleteNode survive a dead peer: the balancer's
  *    transfer aborts log-and-keep (balancer.go:23-26) instead of
  *    crashing the master op.
  */
class FederationProcSpec extends SparkSpec {

  private val NRecords = 3000

  /** A free port for one `graft.Serve` daemon's gRPC socket. */
  private def freePort(): Int = {
    val rnd = new scala.util.Random()
    Iterator.continually(22000 + rnd.nextInt(20000))
      .map { port =>
        try { new ServerSocket(port).close(); Some(port) }
        catch { case _: java.io.IOException => None }
      }
      .collectFirst { case Some(p) => p }.get
  }

  /** Spawn `graft.Serve` in a fresh JVM: same classpath and module-opens
    * flags as this (forked) test JVM, small heap, tiny local master.
    */
  private def spawnNode(port: Int, tag: String): Process = {
    import scala.jdk.CollectionConverters._
    val javaBin = new java.io.File(new java.io.File(
      sys.props("java.home"), "bin"), "java").getAbsolutePath
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
        a.startsWith("-Dspark."))
    val cmd = Seq(javaBin) ++ opens ++ Seq(
      "-Xmx1500m",
      "-cp", sys.props("java.class.path"),
      "graft.Serve", port.toString)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("SPARK_GRAFT_MASTER", "local[2]")
    val log = java.io.File.createTempFile(s"graft-node-$tag", ".log")
    log.deleteOnExit()
    pb.redirectOutput(log)
    pb.redirectErrorStream(true)
    pb.start()
  }

  private def awaitPort(port: Int, timeoutMs: Long = 180000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var up = false
    while (!up && System.nanoTime() < deadline) {
      try { new Socket("127.0.0.1", port).close(); up = true }
      catch { case _: java.io.IOException => Thread.sleep(250) }
    }
    assert(up, s"node on port $port did not come up in ${timeoutMs} ms")
  }

  // Slow-enough-to-kill-mid-run oracle: ~1.6k interpreter steps per
  // record (within the 10k/record budget) makes a 1.5k-record shard run
  // for seconds, so a kill 300 ms after launch lands mid-scatter.
  private val IdSumJs = """function idSum() {
    var x = 0;
    records.All().forEach(function(r) {
      var w = 0;
      for (var i = 0; i < 400; i++) w += i;
      x += r.ID;
    });
    return x;
  }
  function mergeSum(parts) {
    var s = 0;
    for (var i = 0; i < parts.length; i++) {
      if (parts[i] === null) continue;
      s += parts[i];
    }
    return s;
  }"""

  test("two real node processes: rebalance, distributed Run, node death") {
    val portA = freePort()
    val procA = spawnNode(portA, "a")
    val portB = freePort()
    val procB = spawnNode(portB, "b")
    try {
      awaitPort(portA); awaitPort(portB)

      // Pre-seed node A over the wire: one batch RPC, ids 1..N.
      val seedClient = new SumGrpcClient("127.0.0.1", portA)
      val seed = new GrpcEngine(seedClient)
      val batch = (1 to NRecords).map(i =>
        SumRecord(i.toLong, Array(i.toFloat), Map("name" -> s"r$i")))
      assert(seed.createRecordsWithId(batch).success)
      assert(seed.records === NRecords.toLong)
      seed.close()

      val fed = new SumFederation(
        (n, c) => graft.oracle.OracleCompiler.compile(spark, n, c))
      assert(fed.addNode(s"127.0.0.1:${portA}").success)
      assert(fed.addNode(s"127.0.0.1:${portB}").success)
      // Rebalance moved A's first half to B over the wire.
      assert(fed.listNodes().map(_.records).sorted ===
        Seq(NRecords / 2L, NRecords / 2L))

      val oracle = graft.oracle.OracleCompiler
        .compile(spark, "idSum", IdSumJs)
        .flatMap(fed.oracles.create)
        .fold(m => fail(s"oracle create failed: $m"), identity)

      // Healthy distributed Run across both PROCESSES.
      val expected = NRecords.toLong * (NRecords + 1) / 2
      val healthy = fed.run(oracle.id, Nil)
      assert(healthy.success, healthy.msg)
      assert(graft.oracle.Payload.openString(healthy.data.get) ===
        expected.toString)

      // Kill node B mid-Run: the scatter is in flight when the process
      // dies. The call must RETURN (no hang, no raw exception) — as the
      // aggregate error once the dead exchange surfaces, or as a clean
      // merge if B's shard finished in the race window.
      import scala.concurrent.ExecutionContext.Implicits.global
      val inFlight = Future(fed.run(oracle.id, Nil))
      Thread.sleep(300)
      procB.destroyForcibly()
      procB.waitFor()
      val midKill = Await.result(inFlight, 120.seconds)
      assert(midKill.success ||
        (midKill.msg.startsWith("Errors from nodes: [") &&
          midKill.msg.endsWith("]")), midKill.msg)

      // Deterministic post-death behavior, the reference's formats:
      // Run aggregates per-node errors...
      // (the master joins RAW per-node error strings — mux_runner.go:146
      // has no per-error wrapper; the "error while running oracle" prefix
      // belongs to the node-internal scatter, a different layer)
      val dead = fed.run(oracle.id, Nil)
      assert(!dead.success)
      assert(dead.msg.startsWith("Errors from nodes: [") &&
        dead.msg.endsWith("]"), dead.msg)
      assert(dead.msg.contains("Worker exception:") ||
        dead.msg.contains("UNAVAILABLE"), dead.msg)

      // ...point reads keep first-success on the live node (B's death
      // cannot mask A's hit) and aggregate when only the dead node could
      // have answered (ids 1..1500 moved to B)...
      val liveRead = fed.readRecord(NRecords.toLong - 1)
      assert(liveRead.success, liveRead.msg)
      val deadRead = fed.readRecord(1L)
      assert(!deadRead.success)
      assert(deadRead.msg.startsWith(
        "No node was able to satisfy your request: ["), deadRead.msg)

      // ...creation still places (A is the live least-loaded peer)...
      val created = fed.createRecord(
        SumRecord(0L, Array(1f), Map("name" -> "post-kill")))
      assert(created.success, created.msg)
      val newId = created.msg.toLong
      assert(newId === NRecords.toLong + 1)
      assert(fed.readRecord(newId).success)

      // ...and DeleteNode on the corpse drains what it can (nothing),
      // log-and-keep, without crashing the master op.
      val deadNodeId = fed.listNodes()
        .find(_.name.endsWith(portB.toString)).get.id
      assert(fed.deleteNode(deadNodeId).success)
      assert(fed.listNodes().size === 1)

      // The surviving shard still serves distributed Run: A's half plus
      // the post-kill record.
      val survivors = fed.run(oracle.id, Nil)
      assert(survivors.success, survivors.msg)
      val half = NRecords.toLong / 2
      val survivorSum = expected - half * (half + 1) / 2 + newId
      assert(graft.oracle.Payload.openString(survivors.data.get) ===
        survivorSum.toString)
    } finally {
      procA.destroyForcibly(); procB.destroyForcibly()
      procA.waitFor(); procB.waitFor(); ()
    }
  }
}
