package graft.service

import scala.collection.mutable.ArrayBuffer

import org.slf4j.LoggerFactory

import graft.EngineInfo
import graft.model.SumRecord
import graft.oracle.{Merge, Oracle, OracleRegistry, Payload}

/** One federated engine as the master sees it — either in-process (a
  * [[SumService]]) or remote over the real gRPC wire (a
  * [[SumGrpcClient]]), exactly the two faces the reference master's
  * NodeInfo carries (Client + InternalClient, master/node.go).
  */
trait NodeEngine {
  def records: Long
  def nextRecordId: Long
  def listRecords(page: Long, perPage: Long): Seq[SumRecord]
  def createRecordWithId(r: SumRecord): RecordResponse
  def createRecordsWithId(recs: Seq[SumRecord]): RecordResponse
  def deleteRecords(ids: Seq[Long]): Unit
  def readRecord(id: Long): RecordResponse
  def updateRecord(r: SumRecord): RecordResponse
  def deleteRecord(id: Long): RecordResponse
  def findRecords(meta: String, value: String): FindResponse
  /** The node's stored oracles: compiled objects in process, (id, name,
    * code) over the wire.
    */
  def nodeOracles(): Seq[NodeEngine.NodeOracle]
  def createOracle(o: Oracle): OracleResponse
  def deleteOracle(id: Long): Unit
  def run(oracleId: Long, args: Seq[String]): CallResponse
  def close(): Unit = ()
}

object NodeEngine {
  /** An oracle as reported by a node: `compiled` present only for
    * in-process nodes (the wire carries name + code, like the reference's
    * proto Oracle).
    */
  final case class NodeOracle(id: Long, name: String, code: Option[String],
      compiled: Option[Oracle])
}

/** In-process node: direct calls into the engine's service facade. */
final class LocalEngine(val service: SumService) extends NodeEngine {
  def records: Long = service.store.size
  def nextRecordId: Long = service.store.nextId
  def listRecords(page: Long, perPage: Long): Seq[SumRecord] =
    service.listRecords(page, perPage).records
  def createRecordWithId(r: SumRecord): RecordResponse =
    service.createRecordWithId(r)
  def createRecordsWithId(recs: Seq[SumRecord]): RecordResponse =
    service.createRecordsWithId(recs)
  def deleteRecords(ids: Seq[Long]): Unit = { service.deleteRecords(ids); () }
  def readRecord(id: Long): RecordResponse = service.readRecord(id)
  def updateRecord(r: SumRecord): RecordResponse = service.updateRecord(r)
  def deleteRecord(id: Long): RecordResponse = service.deleteRecord(id)
  def findRecords(meta: String, value: String): FindResponse =
    service.findRecords(meta, value)
  def nodeOracles(): Seq[NodeEngine.NodeOracle] =
    service.oracles.list(1, 1000000L)._3.map(o =>
      NodeEngine.NodeOracle(o.id, o.name, o.code, Some(o)))
  /** Registers the compiled oracle itself: an in-process node needs no
    * source, so code-less programmatic oracles scatter too.
    */
  def createOracle(o: Oracle): OracleResponse =
    SumApi.stored(service.oracles.create(o.copy(id = 0)))
  def deleteOracle(id: Long): Unit = { service.deleteOracle(id); () }
  def run(oracleId: Long, args: Seq[String]): CallResponse =
    service.run(oracleId, args)
}

/** Remote node over the real gRPC wire — every call is one unary
  * exchange on the node's socket through its [[SumGrpcClient]], the faces
  * the reference master drives (Client for the public service,
  * InternalClient for with-id placement; master/node.go:24-78).
  */
final class GrpcEngine(client: SumGrpcClient) extends NodeEngine {
  def records: Long = client.info().records
  def nextRecordId: Long = client.info().nextRecordId
  def listRecords(page: Long, perPage: Long): Seq[SumRecord] =
    client.listRecords(page, perPage).records
  def createRecordWithId(r: SumRecord): RecordResponse = client.createRecordWithId(r)
  def createRecordsWithId(recs: Seq[SumRecord]): RecordResponse =
    client.createRecordsWithId(recs)
  def deleteRecords(ids: Seq[Long]): Unit = { client.deleteRecords(ids); () }
  def readRecord(id: Long): RecordResponse = client.readRecord(id)
  def updateRecord(r: SumRecord): RecordResponse = client.updateRecord(r)
  def deleteRecord(id: Long): RecordResponse = client.deleteRecord(id)
  def findRecords(meta: String, value: String): FindResponse =
    client.findRecords(meta, value)
  def nodeOracles(): Seq[NodeEngine.NodeOracle] =
    client.listOracles(1, 1000000L).oracles.map(o =>
      NodeEngine.NodeOracle(o.id, o.name, o.code, None))
  def createOracle(o: Oracle): OracleResponse = o.code match {
    case None => OracleResponse(success = false,
      s"oracle ${o.name} has no source to send over the wire")
    case Some(code) => client.createOracle(o.name, code)
  }
  def deleteOracle(id: Long): Unit = { client.deleteOracle(id); () }
  def run(oracleId: Long, args: Seq[String]): CallResponse = client.run(oracleId, args)
  override def close(): Unit = client.close()
}

/** The reference MASTER's federation semantics
  * (master/mux_nodes.go, master/mux_records.go, master/balancer.go,
  * master/oracle_stealer.go, master/mux_runner.go), over [[NodeEngine]]s
  * that are in-process engines or REAL gRPC connections to other engine
  * servers — `addNode("host:port")` dials exactly like the reference's
  * CreateNode(addr). The master holds the oracle cage and no records of
  * its own; record CRUD routes to nodes:
  *
  *  - `addNode` attaches an engine, lifts the master's next-record-id
  *    watermark (mux_nodes.go:19), REBALANCES, and absorbs the node's
  *    stored oracles into the cage, deleting them from the node
  *    (oracle_stealer.go:18-68 "agent Smith"; code-less programmatic
  *    oracles cannot cross a wire and stay on their node);
  *  - `balance` is balancer.go:62-135 verbatim: remainder-adjusted
  *    per-node targets, 5% hysteresis (target/20), greedy donor->taker
  *    transfers through ListRecords -> CreateRecordsWithId ->
  *    DeleteRecords (create-before-delete);
  *  - `createRecord` places on the least-loaded node under the master's
  *    id watermark (mux_records.go:21-69); read/update/delete fan out
  *    with not-found filtered and the reference's aggregate error
  *    formats; `findRecords` concatenates node hits; `listRecords`
  *    paginates the node-ordered global sequence;
  *  - `run` is the master Run pipeline (mux_runner.go:39-156): record
  *    lookups resolved on the master, then on every node concurrently a
  *    temporary created, run and deleted; gather, per-node failures as
  *    "Errors from nodes: [...]", merge via the stored `merge*` hook or
  *    the tri-state default;
  *  - the oracle CRUD of [[SumApi]] runs over the cage; `info` reports
  *    the federation's record total, cage size and id watermark.
  *
  * `compileFn` compiles absorbed/authored source on the master (a master
  * over a SparkSession passes OracleCompiler.compile; the default
  * compiles the JS dialect, which is all the reference knows).
  */
final class SumFederation(
    compileFn: (String, String) => Either[String, Oracle] =
      (n, c) => graft.oracle.js.JsOracle.compile(n, c)) extends RegistryOracles {
  import SumFederation.{log, recordJson}

  protected def compile(name: String, code: String): Either[String, Oracle] =
    compileFn(name, code)

  final class FedNode(val id: Long, val name: String, val engine: NodeEngine) {
    /** Cached record count — the reference's NodeInfo.status.Records
      * (master/node.go:29-50): master ops READ THE CACHE (least-loaded
      * placement, balance targets, list pagination windows, totals), so
      * a create costs one placement RPC, not N Info probes; the cache is
      * adjusted inline where the reference adjusts it (create
      * mux_records.go:64, delete :269, transfer balancer.go:39/58) and
      * re-synced from the node by [[updateStatus]] — the NodeUpdater
      * poll body. Out-of-band writes straight to a node stay invisible
      * until the next poll, exactly like the reference.
      */
    private val cachedRecords =
      new java.util.concurrent.atomic.AtomicLong(engine.records)
    def records: Long = cachedRecords.get()
    /** Inline status accounting at the reference's mutation sites —
      * atomic because point ops adjust it outside the master lock.
      */
    private[SumFederation] def adjustRecords(delta: Long): Unit =
      cachedRecords.addAndGet(delta)
    /** One Info exchange: refresh this node's cached status. */
    def updateStatus(): Unit = cachedRecords.set(engine.records)
    override def toString = s"node $id ($name): ${records} records"
  }

  /** The master's raccoon cage (mux_runner.go:22-31). */
  val oracles = new OracleRegistry

  /** Fan-out workers (paralleliser.go): every per-node exchange in a
    * master op runs CONCURRENTLY — with N nodes a point read or a
    * distributed Run costs one RTT, not N. One deliberate delta: results
    * keep NODE ORDER (the reference appends in channel-arrival order),
    * so merges and error aggregates are deterministic — reference merge
    * semantics never depend on arrival order. The pool is
    * [[SumFederation.fanOutPool]]: an idle worker takes each exchange,
    * and a worker starts only when none is idle.
    */
  private lazy val fanOutPool = SumFederation.fanOutPool(SumFederation.MaxFanOut)

  /** Live fan-out workers, busy or idle. */
  private[graft] def fanOutWorkers: Int = fanOutPool.getPoolSize

  /** `f` over every item, concurrently on the fan-out pool, in item
    * order; a thrown `f` rethrows here.
    */
  private def doParallel[A, T](items: Seq[A])(f: A => T): Seq[T] =
    if (items.lengthCompare(1) <= 0) items.map(f)
    else items.map(a => fanOutPool.submit(new java.util.concurrent.Callable[T] {
      def call(): T = f(a)
    })).map { fut =>
      try fut.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }

  private val nodes = ArrayBuffer.empty[FedNode]
  /** Numbers each Run's node temporaries. */
  private val runSeq = new java.util.concurrent.atomic.AtomicLong
  private var nextNodeId = 1L
  private var nextRecId = 1L

  def listNodes(): Seq[FedNode] = synchronized(nodes.toSeq)
  def nextRecordId: Long = synchronized(nextRecId)
  def totalRecords: Long = listNodes().map(_.records).sum

  /** Info for the master: the engine fields hold the federation's record
    * total (cached node statuses), cage size and id watermark; a master
    * runs no Spark jobs of its own.
    */
  def info(): EngineInfo = EngineInfo(EngineInfo.Version,
    Runtime.getRuntime.availableProcessors(), totalRecords, oracles.size.toLong,
    nextRecordId, org.apache.spark.SPARK_VERSION, activeJobs = 0, executors = 0)

  /** The NodeUpdater poll body (master/mux_service.go:100-108): refresh
    * every node's cached status, concurrently.
    */
  def updateNodes(): Unit = { doParallel(listNodes())(_.updateStatus()); () }

  /** The reference's background NodeUpdater (master/updater.go:9-19):
    * re-sync node statuses every `periodMillis` until the returned
    * handle closes. Daemon thread — dies with the JVM either way.
    */
  def startUpdater(periodMillis: Long): AutoCloseable = {
    val ex = java.util.concurrent.Executors
      .newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, "fed-node-updater"); t.setDaemon(true); t
      })
    ex.scheduleAtFixedRate(() => updateNodes(), periodMillis, periodMillis,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    () => { ex.shutdownNow(); () }
  }

  private def setNextIdIfHigher(id: Long): Unit =
    if (id > nextRecId) nextRecId = id

  def addNode(name: String, engine: SumService): NodeResponse =
    attach(name, new LocalEngine(engine))

  /** Dial a remote engine server — the reference AddNode(ByAddr) path.
    * The Info handshake proves the address speaks sum.proto before the
    * node joins; a dead address fails with the reference's
    * "Cannot create node: ..." response (mux_nodes.go:13).
    */
  def addNode(address: String): NodeResponse = {
    val parsed = address.split(":", 2) match {
      case Array(h, p) if p.forall(_.isDigit) && p.nonEmpty => Some((h, p.toInt))
      case _ => None
    }
    parsed match {
      case None => NodeResponse(success = false,
        s"Cannot create node: invalid address $address")
      case Some((host, port)) =>
        val client = new SumGrpcClient(host, port)
        val engine = new GrpcEngine(client)
        try {
          engine.records // Info handshake
          attach(address, engine)
        } catch {
          case e: Exception =>
            client.close()
            NodeResponse(success = false,
              s"Cannot create node: ${e.getMessage}")
        }
    }
  }

  private[graft] def attach(name: String, engine: NodeEngine): NodeResponse =
    synchronized {
      setNextIdIfHigher(engine.nextRecordId)
      val n = new FedNode(nextNodeId, name, engine)
      nodes += n
      nextNodeId += 1
      balance()
      stealOraclesFromNode(n)
      NodeResponse(success = true, n.id.toString)
    }

  def deleteNode(id: Long): NodeResponse = synchronized {
    nodes.find(_.id == id) match {
      case None => NodeResponse(success = false, s"node $id not found.")
      case Some(n) =>
        nodes -= n
        val nRecords = n.records
        val nNodes = nodes.length
        if (nNodes > 0 && nRecords > 0) {
          val perNode = nRecords / nNodes
          val remainder = nRecords % nNodes
          nodes.zipWithIndex.foreach { case (n1, i) =>
            transfer(n, n1, perNode + (if (i < remainder) 1 else 0))
          }
        }
        n.engine.close()
        NodeResponse(success = true, "")
    }
  }

  /** Close every node's engine (a remote node's gRPC channel) and detach
    * the nodes; the master server calls this when it stops.
    */
  def close(): Unit = synchronized {
    nodes.foreach(_.engine.close())
    nodes.clear()
  }

  /** balancer.go:10-59: move the donor's FIRST n records (list page 1 is
    * id-ordered) onto the taker, create-before-delete. A DEAD peer at any
    * exchange (the list, the create, the delete) aborts THIS transfer and
    * keeps what survived — like the reference, this logs a warning and
    * continues (balancer.go:23-26,37-40); a raw exception here would
    * instead crash the whole master op that triggered the balance
    * (measured by FederationProcSpec's kill-then-DeleteNode flow).
    */
  private def transfer(from: FedNode, to: FedNode, nRecords: Long): Unit = {
    if (nRecords <= 0) return
    try {
      val recs = from.engine.listRecords(page = 1, perPage = nRecords)
      if (recs.isEmpty) return
      val created = to.engine.createRecordsWithId(recs)
      if (!created.success) { // keep the donor intact
        log.warn(s"transfer of ${recs.length} records from node ${from.id} " +
          s"to node ${to.id} failed: ${created.msg}")
        return
      }
      from.engine.deleteRecords(recs.map(_.id))
      from.adjustRecords(-recs.length) // balancer.go:39/58 status accounting
      to.adjustRecords(recs.length)
      setNextIdIfHigher(recs.map(_.id).max + 1)
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"transfer of $nRecords records from node ${from.id} " +
          s"to node ${to.id} failed", e)
    }
  }

  /** balancer.go:62-135, arithmetic verbatim: remainder-adjusted targets,
    * 5% hysteresis on target/20, greedy donor->taker transfers.
    */
  def balance(): Unit = synchronized {
    val counts = nodes.map(_.records)
    val totRecords = counts.sum
    val nNodes = nodes.length
    if (totRecords == 0 || nNodes == 0) return
    val targetPerNode = totRecords / nNodes
    val remainder = (totRecords % nNodes).toInt
    val targets = Array.tabulate(nNodes)(i =>
      targetPerNode + (if (i < remainder) 1 else 0))
    val deltas = Array.tabulate(nNodes)(i => targets(i) - counts(i))
    if (!deltas.exists(_ > targetPerNode / 20)) return // 5% hysteresis
    for (i <- deltas.indices if deltas(i) > 0) {
      var need = deltas(i)
      for (j <- deltas.indices if need > 0 && deltas(j) < 0) {
        val n = math.min(-deltas(j), need)
        if (n > 0) {
          transfer(nodes(j), nodes(i), n)
          need -= n
          deltas(i) -= n
          deltas(j) += n
        }
      }
    }
  }

  /** oracle_stealer.go:18-68: absorb each of the node's oracles into the
    * cage (skipping code the cage already holds) and delete it from the
    * node on success — nodes execute, the master owns the inventory.
    * In-process nodes hand over compiled objects; wire nodes hand over
    * source, which the master compiles. A code-less programmatic oracle
    * on a wire node stays where it is (nothing to absorb).
    */
  private def stealOraclesFromNode(n: FedNode): Unit =
    n.engine.nodeOracles().foreach { no =>
      val mine = oracles.list(1, 1000000L)._3
      val already = mine.exists(m => m.name == no.name &&
        (no.code.isEmpty || m.code == no.code))
      val absorbed = already || (no.compiled match {
        case Some(o) => oracles.create(o.copy(id = 0)).isRight
        case None => no.code.exists(c =>
          compileFn(no.name, c).flatMap(oracles.create).isRight)
      })
      if (absorbed) n.engine.deleteOracle(no.id)
    }

  // ---- master record routing (mux_records.go) -----------------------------

  /** CreateRecord: least-loaded placement under the master id watermark
    * (mux_records.go:21-69).
    */
  def createRecord(r: SumRecord): RecordResponse = synchronized {
    nodes.minByOption(_.records) match {
      case None => RecordResponse(success = false, "No nodes available, try later")
      case Some(n) =>
        val resp = n.engine.createRecordWithId(r.copy(id = nextRecId))
        if (resp.success) {
          nextRecId += 1
          n.adjustRecords(1) // mux_records.go:64
        }
        resp
    }
  }

  /** Fan a point op across ALL nodes in parallel (mux_records.go:107-143
    * over doParallel): ids are unique so at most one node succeeds;
    * not-found responses are filtered; other errors aggregate in the
    * reference's format; a thrown exchange folds in as the reference's
    * "Worker exception" (paralleliser.go:23-27).
    */
  private def fanPointWithNode(notFound: String)(
      op: FedNode => RecordResponse): (Option[FedNode], RecordResponse) = {
    val snapshot = listNodes()
    if (snapshot.isEmpty)
      return (None, RecordResponse(success = false, notFound))
    val resps = doParallel(snapshot) { n =>
      try op(n)
      catch { case e: Exception =>
        RecordResponse(success = false, s"Worker exception: ${e.getMessage}")
      }
    }
    snapshot.zip(resps).find(_._2.success) match {
      case Some((n, r)) => (Some(n), r)
      case None =>
        val errs = snapshot.zip(resps).collect {
          case (n, r) if r.msg != notFound => s"node ${n.id}: ${r.msg}"
        }
        (None,
          if (errs.isEmpty) RecordResponse(success = false, notFound)
          else RecordResponse(success = false,
            s"No node was able to satisfy your request: [${errs.mkString(", ")}]"))
    }
  }

  private def fanPoint(notFound: String)(
      op: FedNode => RecordResponse): RecordResponse =
    fanPointWithNode(notFound)(op)._2

  def readRecord(id: Long): RecordResponse =
    fanPoint(s"record $id not found.")(_.engine.readRecord(id))
  def updateRecord(r: SumRecord): RecordResponse =
    fanPoint(s"record ${r.id} not found.")(_.engine.updateRecord(r))
  def deleteRecord(id: Long): RecordResponse = {
    val (owner, resp) =
      fanPointWithNode(s"record $id not found.")(_.engine.deleteRecord(id))
    owner.foreach(_.adjustRecords(-1)) // mux_records.go:269
    resp
  }

  /** FindRecords: fan out, concatenate hits; a node without the index is
    * not an error (mux_records.go:289-322).
    */
  def findRecords(meta: String, value: String): FindResponse = {
    val notIndexed = s"meta index $meta not found."
    val resps = doParallel(listNodes()) { n =>
      try n.engine.findRecords(meta, value)
      catch { case e: Exception =>
        FindResponse(success = false,
          s"Worker exception: ${e.getMessage}", Seq.empty)
      }
    }
    val errs = resps.collect {
      case r if !r.success && r.msg != notIndexed => r.msg
    }
    if (errs.nonEmpty)
      FindResponse(success = false,
        s"Errors from nodes: [${errs.mkString(", ")}]", Seq.empty)
    else FindResponse(success = true, "",
      resps.filter(_.success).flatMap(_.records))
  }

  /** ListRecords: global pagination over the node-id-ordered
    * concatenation of per-node id-ordered lists (mux_records.go:144-240;
    * this implementation slices the window exactly rather than returning
    * the reference's full-first-node over-approximation).
    */
  def listRecords(pageReq: Long, perPageReq: Long): RecordListResponse = {
    val page = math.max(1L, pageReq)
    val perPage = math.max(1L, perPageReq)
    val snapshot = listNodes().sortBy(_.id)
    // cached statuses, like the reference's pagination cursor walk
    // (mux_records.go:163-196) — no Info probes on the read path
    val counts = snapshot.map(_.records)
    val total = counts.sum
    val pages = (total + perPage - 1) / perPage
    val start = perPage * (page - 1)
    val end = math.min(total, start + perPage)
    // cumulative offsets give each node its window up front, so the
    // per-node fetches run concurrently (mux_records.go:207 doParallel)
    val offsets = counts.scanLeft(0L)(_ + _)
    val windows = snapshot.lazyZip(counts).lazyZip(offsets).flatMap {
      case (n, c, cursor) =>
        val lo = math.max(start, cursor)
        val hi = math.min(end, cursor + c)
        if (hi > lo) Some((n, cursor, lo, hi)) else None
    }
    val parts = doParallel(windows) { case (n, cursor, lo, hi) =>
      n.engine.listRecords(1, hi - cursor).drop((lo - cursor).toInt)
    }
    RecordListResponse(total, pages, parts.flatten)
  }

  // ---- distributed run (mux_runner.go) ------------------------------------

  /** Each stored oracle's federated form by source text, so an update or
    * a delete never serves a stale one: None when the entry has no
    * record-lookup parameter (the oracle scatters as stored), otherwise
    * the bound program compiled once, its lookup positions and the
    * entry's parameter count.
    */
  private val runForms = new graft.oracle.SourceCache[Option[SumFederation.RunForm]](256)

  private def runForm(oracle: Oracle, code: String): Option[SumFederation.RunForm] =
    runForms.get(code).getOrElse {
      val form = graft.oracle.js.JsLang.bindRecordLookups(code).map(b =>
        SumFederation.RunForm(compileFn(oracle.name, b.code), b.lookups,
          oracle.params.size))
      runForms.put(code, form)
      form
    }

  /** mux_runner.go:49-79 + ast_raccoon PatchCode: resolve each parameter
    * the oracle uses as `records.Find(param)` against the FEDERATION
    * (master-side read fans across nodes) — a not-found record resolves
    * to null, the null record. The Run then sends the oracle's bound form
    * ([[graft.oracle.js.JsLang.bindRecordLookups]]) with the caller's
    * args, cut or padded with null to the entry's parameter count, and
    * one trailing JSON array of the resolved records, so every node runs
    * it against records it may not own. Oracles without source
    * (programmatic) or without lookup params pass through unchanged.
    */
  private def resolve(oracle: Oracle,
      jsonArgs: Seq[String]): Either[CallResponse, (Oracle, Seq[String])] = {
    val code = oracle.code.getOrElse(return Right((oracle, jsonArgs)))
    val form = runForm(oracle, code).getOrElse(return Right((oracle, jsonArgs)))
    val resolved = form.lookups.map { i =>
      jsonArgs.lift(i).fold("null") { a =>
        a.trim.toLongOption.filter(_ >= 0) match {
          case None => return Left(CallResponse(success = false,
            // the reference's message verbatim, typo included
            // (mux_runner.go:58)
            s"Unable to parse record id form parameter #$i: '$a'", None))
          case Some(recId) =>
            val rr = readRecord(recId)
            if (rr.success && rr.record.nonEmpty) recordJson(rr.record.get)
            else if (rr.msg == s"record $recId not found.") "null"
            else return Left(CallResponse(success = false,
              s"Unable to retrieve record $recId: ${rr.msg}", None))
        }
      }
    }
    form.oracle match {
      case Left(err) => Left(CallResponse(success = false,
        s"Unable to patch JS code: $err", None))
      case Right(o) => Right((o, Seq.tabulate(form.arity)(i =>
        jsonArgs.lift(i).getOrElse("null")) :+ resolved.mkString("[", ",", "]")))
    }
  }

  /** mux_runner.go:39-156: resolve record lookups, then on every node
    * concurrently create the oracle as a temporary, run it and delete it;
    * gather and merge. Per-node failures aggregate in the master's wire
    * format. Nonconforming node responses (unparseable oracle id, missing
    * payload) fold into the per-node error aggregate instead of escaping
    * as raw exceptions.
    */
  def run(oracleId: Long, jsonArgs: Seq[String]): CallResponse = {
    val oracle = oracles.read(oracleId) match {
      case Left(_)  => return CallResponse(success = false,
        s"oracle $oracleId not found.", None)
      case Right(o) => o
    }
    val (form, args) = resolve(oracle, jsonArgs) match {
      case Left(err) => return err
      case Right(fa) => fa
    }
    // Each Run's temporary carries a name no other Run uses, so concurrent
    // Runs of the same oracle never collide with a node's duplicate rule
    // (same name + same code or body).
    val temp = form.copy(name = s"${oracle.name}#run${runSeq.incrementAndGet()}")
    val outcomes = doParallel(listNodes())(runOnNode(_, temp, args))
    val merged =
      if (outcomes.exists(_.isLeft)) None
      else try Some(Merge.merge(outcomes.collect { case Right(t) => t }, oracle.merger))
      catch { case _: com.fasterxml.jackson.core.JsonProcessingException => None }
    merged match {
      case None =>
        // a payload that is not JSON is that node's worker exception
        val errs = outcomes.flatMap {
          case Left(m) => Some(m)
          case Right(t) => Merge.notJson(t).map(m => s"Worker exception: $m")
        }
        CallResponse(success = false,
          s"Errors from nodes: [${errs.mkString(", ")}]", None)
      case Some(Left(msg)) => CallResponse(success = false,
        s"Unable to merge results from nodes: $msg", None)
      case Some(Right(wire)) => wire.fold(CallResponse(success = false, _, None),
        json => CallResponse(success = true, "", Some(Payload.buildString(json))))
    }
  }

  /** One node's share of a Run, one chain of exchanges: create the
    * temporary, run it, delete it; the node's result as the wire JSON text
    * it sent, which [[run]] merges as text. A thrown exchange folds in as the
    * reference's "Worker exception"; the delete is best-effort like the
    * reference's deferred warn-and-continue cleanup (mux_runner.go:94-101).
    */
  private def runOnNode(n: FedNode, temp: Oracle,
      args: Seq[String]): Either[String, String] = {
    val created =
      try n.engine.createOracle(temp)
      catch { case e: Exception => return Left(s"Worker exception: ${e.getMessage}") }
    if (!created.success) return Left(created.msg)
    val tempId = created.msg.toLongOption.getOrElse(
      return Left(s"unable to parse oracleId string '${created.msg}'"))
    try {
      val resp = n.engine.run(tempId, args)
      if (!resp.success) Left(resp.msg)
      else resp.data match {
        case None => Left(s"node ${n.id} returned an empty payload")
        case Some(env) => Right(Payload.openString(env))
      }
    } catch { case e: Exception =>
      Left(s"Worker exception: ${e.getMessage}")
    } finally {
      try n.engine.deleteOracle(tempId) catch { case e: Exception =>
        log.warn(s"could not delete Run temporary oracle $tempId on node ${n.id}", e)
      }
    }
  }
}

object SumFederation {
  private val log = LoggerFactory.getLogger(classOf[SumFederation])

  /** A stored oracle's federated form: the bound program as compiled (or
    * its compile error), the entry's record-lookup parameter positions and
    * its parameter count.
    */
  private final case class RunForm(oracle: Either[String, Oracle],
      lookups: Seq[Int], arity: Int)

  /** A resolved record as the master sends it in a Run's record argument
    * (mux_runner.go:71 json.Marshal of the proto record): float data
    * widens to JSON numbers (exact — binary widening, and the node's
    * `records.New` narrows back with toFloat); meta strings JSON-escape
    * through the one Jackson generator that writes the record, and the
    * node's JSON decode restores them.
    */
  private[graft] def recordJson(r: SumRecord): String = {
    val w = new java.io.StringWriter(16 * r.data.length + 64)
    val g = Merge.json.createGenerator(w)
    g.writeStartObject()
    g.writeNumberField("id", r.id)
    g.writeArrayFieldStart("data")
    r.data.foreach(f => g.writeNumber(f.toDouble))
    g.writeEndArray()
    g.writeArrayFieldStart("shape")
    r.shape.foreach(l => g.writeNumber(l))
    g.writeEndArray()
    g.writeObjectFieldStart("meta")
    r.meta.foreach { case (k, v) => g.writeStringField(k, v) }
    g.writeEndObject()
    g.writeEndObject()
    g.close()
    w.toString
  }

  /** Most fan-out workers alive at once: exchanges are IO-bound, so at
    * 1000 nodes a fan-out runs in ~4 RTT waves instead of spawning 1000
    * JVM threads (a goroutine is cheap; a platform thread is a megabyte
    * of stack).
    */
  private val MaxFanOut = 256

  /** Offers succeed only by handing the task straight to an idle worker,
    * so the executor starts a worker when none is idle; `enqueue` is the
    * plain FIFO offer.
    */
  private final class HandOffQueue extends java.util.concurrent.LinkedTransferQueue[Runnable] {
    override def offer(r: Runnable): Boolean = tryTransfer(r)
    def enqueue(r: Runnable): Unit = { super.offer(r); () }
  }

  /** A fan-out pool of at most `maxWorkers` daemon workers. A task goes
    * to an idle worker if there is one; otherwise a new worker starts, up
    * to `maxWorkers`; past that the task waits in FIFO order for the next
    * free worker — never rejected, never run on the caller. A worker idle
    * for 30 s exits. No master op nests doParallel, so a task never
    * waits on a task queued behind it and the queue cannot deadlock.
    */
  private[service] def fanOutPool(maxWorkers: Int): java.util.concurrent.ThreadPoolExecutor = {
    val queue = new HandOffQueue
    new java.util.concurrent.ThreadPoolExecutor(
      0, maxWorkers, 30L, java.util.concurrent.TimeUnit.SECONDS, queue,
      (r: Runnable) => {
        val t = new Thread(r, "fed-fanout"); t.setDaemon(true); t
      },
      (r: Runnable, _: java.util.concurrent.ThreadPoolExecutor) => queue.enqueue(r))
  }
}
