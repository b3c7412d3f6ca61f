package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.sparkproject.connect.protobuf.{ByteString, DynamicMessage}

import graft.model.SumRecord
import graft.oracle.{CanonicalOracles, Oracle, OracleCompiler, OracleRegistry, Payload}
import graft.oracle.js.JsOracle
import graft.service._
import graft.store.RecordStore

/** Request builders and response readers over sum.proto messages. */
object Rpc {
  private def f(b: DynamicMessage.Builder, name: String) =
    b.getDescriptorForType.findFieldByName(name)
  private def f(m: DynamicMessage, name: String) =
    m.getDescriptorForType.findFieldByName(name)

  def byId(c: SumGrpcClient, id: Long): DynamicMessage = {
    val b = c.newMessage("ById"); b.setField(f(b, "id"), java.lang.Long.valueOf(id)).build()
  }
  def byMeta(c: SumGrpcClient, key: String, value: String): DynamicMessage = {
    val b = c.newMessage("ByMeta")
    b.setField(f(b, "meta"), key).setField(f(b, "value"), value).build()
  }
  def page(c: SumGrpcClient, page: Long, perPage: Long): DynamicMessage = {
    val b = c.newMessage("ListRequest")
    b.setField(f(b, "page"), java.lang.Long.valueOf(page))
      .setField(f(b, "per_page"), java.lang.Long.valueOf(perPage)).build()
  }
  def call(c: SumGrpcClient, oracleId: Long, args: Seq[String]): DynamicMessage = {
    val b = c.newMessage("Call")
    b.setField(f(b, "oracle_id"), java.lang.Long.valueOf(oracleId))
    args.foreach(a => b.addRepeatedField(f(b, "args"), a))
    b.build()
  }
  def oracle(c: SumGrpcClient, name: String, code: String): DynamicMessage = {
    val b = c.newMessage("Oracle")
    b.setField(f(b, "name"), name).setField(f(b, "code"), code).build()
  }

  def ok(m: DynamicMessage): Boolean =
    m.getField(f(m, "success")).asInstanceOf[java.lang.Boolean].booleanValue
  def msg(m: DynamicMessage): String = SumProto.getString(m, "msg")
  def long(m: DynamicMessage, name: String): Long = SumProto.getLong(m, name)
  def record(m: DynamicMessage): Option[SumRecord] =
    if (m.hasField(f(m, "record")))
      Some(SumProto.protoToRecord(m.getField(f(m, "record")).asInstanceOf[DynamicMessage]))
    else None
  def records(m: DynamicMessage): Seq[SumRecord] =
    m.getField(f(m, "records")).asInstanceOf[java.util.List[_]].asScala.toSeq
      .map(r => SumProto.protoToRecord(r.asInstanceOf[DynamicMessage]))
  def oracleId(m: DynamicMessage): Long =
    SumProto.getLong(m.getField(f(m, "oracle")).asInstanceOf[DynamicMessage], "id")
  def payload(m: DynamicMessage): Option[String] =
    if (!m.hasField(f(m, "data"))) None
    else {
      val d = m.getField(f(m, "data")).asInstanceOf[DynamicMessage]
      Some(Payload.openString(Payload.Envelope(
        d.getField(f(d, "compressed")).asInstanceOf[java.lang.Boolean].booleanValue,
        d.getField(f(d, "payload")).asInstanceOf[ByteString].toByteArray)))
    }
}

/** The README's stored-JavaScript findSimilar, as a sum client stores it. */
object JsCode {
  val FindSimilar: String =
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
}

/** One engine: a store loaded from records, its oracle registry, the
  * `SumService` facade and a `SumGrpcServer` on a loopback port.
  */
final class Engine(spark: SparkSession, recs: Seq[SumRecord], partitions: Int,
    canonical: Boolean) {
  import spark.implicits._
  val store: RecordStore = RecordStore.fromDataset(spark,
    spark.createDataset(recs).coalesce(partitions))
  val registry = new OracleRegistry
  if (canonical) CanonicalOracles.registerAll(registry)
  val service = new SumService(spark, store, registry)
  val server = new SumGrpcServer(service)
  server.start()
  def port: Int = server.boundPort
  def stop(): Unit = { server.stop(); store.close() }
}

/** What a workload drives: a single engine, or a master over node
  * engines. The engines' store, registry and service are the in-process
  * layers the traced run calls directly; `fed` is set for the federated
  * stack.
  */
final class Stack(val port: Int, val engines: Seq[Engine],
    val fed: Option[SumFederation], master: Option[SumGrpcServer],
    val oracleIds: Map[String, Long], share: Int = Int.MaxValue) {
  def single: Engine = engines.head
  /** The engine holding a seeded id (node shares are contiguous). */
  def ownerOf(id: Long): Engine = engines(((id - 1) / share).toInt.min(engines.size - 1))
  def stop(): Unit = { master.foreach(_.stop()); engines.foreach(_.stop()) }
}

object Stack {

  private def createJs(port: Int, name: String): Long = {
    val c = new SumGrpcClient("127.0.0.1", port)
    try {
      val r = c.call("CreateOracle", Rpc.oracle(c, name, JsCode.FindSimilar))
      if (!Rpc.ok(r)) throw new IllegalStateException(s"CreateOracle: ${Rpc.msg(r)}")
      Rpc.oracleId(r)
    } finally c.close()
  }

  def single(spark: SparkSession, recs: Seq[SumRecord], partitions: Int,
      tracer: Tracer): Stack = {
    val e = new Engine(spark, recs, partitions, canonical = true)
    def id(name: String) = e.registry.findByName(name).toOption.get.id
    tracer.span("js.compile")(JsOracle.compile("findSimilarJs", JsCode.FindSimilar))
    val js = createJs(e.port, "findSimilarJs")
    new Stack(e.port, Seq(e), None, None,
      Map("sim" -> id("findSimilar"), "sum" -> id("sumAllVectors"), "js" -> js))
  }

  /** A master `SumGrpcServer(federation = …)` over `nodes` engine servers,
    * each loaded with a contiguous equal share of the ids (so attaching
    * them moves no records). The master dials each node over loopback.
    */
  def federated(spark: SparkSession, recs: Seq[SumRecord], partitions: Int,
      nodes: Int, tracer: Tracer): Stack = {
    val share = (recs.size + nodes - 1) / nodes
    val engines = recs.grouped(share).toSeq.map(
      new Engine(spark, _, partitions, canonical = false))
    val fed = new SumFederation((n, c) =>
      tracer.span("js.compile")(OracleCompiler.compile(spark, n, c)))
    engines.foreach { e =>
      val client = new SumGrpcClient("127.0.0.1", e.port)
      val r = fed.attach(s"127.0.0.1:${e.port}",
        new TracedEngine(new GrpcEngine(client), tracer))
      if (!r.success) throw new IllegalStateException(s"attach: ${r.msg}")
    }
    val master = new SumGrpcServer(new SumService(spark,
      RecordStore.empty(spark), fed.oracles), federation = Some(fed))
    master.start()
    tracer.span("js.compile")(JsOracle.compile("findSimilarJs", JsCode.FindSimilar))
    val js = createJs(master.boundPort, "findSimilarJs")
    new Stack(master.boundPort, engines, Some(fed), Some(master), Map("js" -> js), share)
  }
}

/** A federation node that records spans around the master's oracle
  * scatter (temporary create) and the per-node run.
  */
final class TracedEngine(inner: NodeEngine, tracer: Tracer) extends NodeEngine {
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
  def createOracle(o: Oracle): OracleResponse =
    tracer.span("federation.node_create")(inner.createOracle(o))
  def deleteOracle(id: Long): Unit = inner.deleteOracle(id)
  def run(oracleId: Long, args: Seq[String]): CallResponse =
    tracer.span("federation.node_run")(inner.run(oracleId, args))
  override def close(): Unit = inner.close()
}
