package graft.service

import org.apache.spark.sql.SparkSession

import graft.EngineInfo
import graft.model.SumRecord
import graft.oracle.{Oracle, OracleCompiler, OracleRegistry, Payload}
import graft.store.{RecordStore, StoreErrors}

/** Response envelopes mirroring proto/sum.proto: success flag + message,
  * plus the typed payloads. Errors are responses, not exceptions, exactly
  * like the reference service (node/service/records.go:11-16).
  */
final case class RecordResponse(success: Boolean, msg: String,
    record: Option[SumRecord] = None)
final case class RecordListResponse(total: Long, pages: Long,
    records: Seq[SumRecord])
final case class FindResponse(success: Boolean, msg: String,
    records: Seq[SumRecord])
final case class OracleResponse(success: Boolean, msg: String,
    oracle: Option[Oracle] = None)
final case class OracleListResponse(total: Long, pages: Long,
    oracles: Seq[Oracle])
final case class CallResponse(success: Boolean, msg: String,
    data: Option[Payload.Envelope])
final case class NodeEntry(id: Long, name: String)
final case class NodeResponse(success: Boolean, msg: String,
    nodes: Seq[NodeEntry] = Seq.empty)

/** The reference's public `SumService` surface (proto/sum.proto:5-25) as a
  * thin facade over the store + registry: all 14 RPCs with the reference's
  * response semantics — errors as `{success: false, msg}` with the exact
  * message strings, id echoes in `msg` on create/update, and the gzip
  * result envelope on Run.
  *
  * The internal/master services are ALSO faced (proto/sum.proto:27-37)
  * but answer with the single-engine truth: the internal record ops
  * (CreateRecordWithId / CreateRecordsWithId / DeleteRecords) are real —
  * the store implements their exact semantics including batch rollback —
  * while node membership reports this engine as the one permanent node
  * (Spark's driver/executor model IS the sharding layer, SURVEY.md §2.5,
  * so there is no remote node to add or delete — a wire-parity client
  * probing those RPCs gets a truthful error response, not UNIMPLEMENTED).
  *
  * Oracle source compiles at create over this engine's session: JS or
  * SQL, dispatched by [[OracleCompiler]].
  */
final class SumService(
    val spark: SparkSession,
    val store: RecordStore,
    val oracles: OracleRegistry) extends RegistryOracles {

  protected def compile(name: String, code: String): Either[String, Oracle] =
    OracleCompiler.compile(spark, name, code)

  // ---- records -----------------------------------------------------------

  def createRecord(r: SumRecord): RecordResponse =
    store.create(r) match {
      case Left(err)  => RecordResponse(success = false, err)
      case Right(rec) => RecordResponse(success = true, rec.id.toString, Some(rec))
    }

  def updateRecord(r: SumRecord): RecordResponse =
    store.update(r) match {
      case Left(err)  => RecordResponse(success = false, err)
      case Right(rec) => RecordResponse(success = true, rec.id.toString, Some(rec))
    }

  def readRecord(id: Long): RecordResponse =
    store.find(id) match {
      case None      => RecordResponse(success = false, StoreErrors.recordNotFound(id))
      case Some(rec) => RecordResponse(success = true, "record found", Some(rec))
    }

  def listRecords(page: Long, perPage: Long): RecordListResponse = {
    val p = store.list(page, perPage)
    RecordListResponse(p.total, p.pages, p.records)
  }

  def deleteRecord(id: Long): RecordResponse =
    store.delete(id) match {
      case Left(err)  => RecordResponse(success = false, err)
      case Right(rec) => RecordResponse(success = true, "", Some(rec))
    }

  def findRecords(metaKey: String, value: String): FindResponse =
    store.findBy(metaKey, value) match {
      case None => FindResponse(success = false,
        s"meta index $metaKey not found.", Seq.empty)
      case Some(recs) => FindResponse(success = true, "", recs)
    }

  // ---- internal service (proto/sum.proto:27-31) --------------------------

  /** CreateRecordWithId: insert under the caller's id, echoing the id in
    * msg on success (node/service/records.go:33-38).
    */
  def createRecordWithId(r: SumRecord): RecordResponse =
    store.createWithId(r) match {
      case Left(err)  => RecordResponse(success = false, err)
      case Right(rec) => RecordResponse(success = true, rec.id.toString, Some(rec))
    }

  /** CreateRecordsWithId: all-or-nothing batch insert; a bare success with
    * no msg, like the reference (node/service/records.go:40-46).
    */
  def createRecordsWithId(recs: Seq[SumRecord]): RecordResponse =
    store.createManyWithId(recs) match {
      case Left(err) => RecordResponse(success = false, err)
      case Right(_)  => RecordResponse(success = true, "")
    }

  /** DeleteRecords: best-effort bulk delete, always success
    * (node/service/records.go:125-128).
    */
  def deleteRecords(ids: Seq[Long]): RecordResponse = {
    store.deleteMany(ids)
    RecordResponse(success = true, "")
  }

  // ---- master service (proto/sum.proto:33-37): single-engine truth -------

  /** The engine's one permanent "node": itself. */
  private def selfNode: NodeEntry = NodeEntry(1L, s"spark-engine")

  /** AddNode: there is no remote node to dial — Spark executors are the
    * sharding layer. Error RESPONSE in the reference's format
    * (master/mux_nodes.go:10-14 errNodeResponse), never UNIMPLEMENTED.
    */
  def addNode(address: String): NodeResponse =
    NodeResponse(success = false,
      s"Cannot create node: $address — this engine shards via Spark " +
        "executors, not sum nodes")

  /** ListNodes: the single-engine truth — one node, this engine
    * (master/mux_nodes.go:35-48).
    */
  def listNodes(): NodeResponse =
    NodeResponse(success = true, "", Seq(selfNode))

  /** DeleteNode: node 1 is the engine itself; any other id does not exist
    * (reference not-found message, master/mux_nodes.go:65).
    */
  def deleteNode(id: Long): NodeResponse =
    if (id == selfNode.id)
      NodeResponse(success = false,
        s"node $id is the engine itself and cannot be deleted")
    else NodeResponse(success = false, s"node $id not found.")

  // ---- execution ---------------------------------------------------------

  /** Run an oracle by id with JSON-encoded args; results above 2 KiB are
    * gzip-enveloped (node/service/service.go:106-124,128-154). Every run
    * failure — ctx.Error, uncaught throw, marshal error — wraps as
    * "error while running oracle <id>: <msg>" (service.go:138,146,
    * pinned by service_test.go:370,395,420); only the pre-run
    * "oracle <id> not found." stays bare (service.go:131).
    */
  def run(oracleId: Long, jsonArgs: Seq[String]): CallResponse =
    oracles.read(oracleId) match {
      case Left(err) => CallResponse(success = false, err, None)
      case Right(_) => oracles.run(oracleId, store, jsonArgs) match {
        case Left(err) => CallResponse(success = false,
          s"error while running oracle $oracleId: $err", None)
        case Right(json) => CallResponse(success = true, "",
          Some(Payload.buildString(json)))
      }
    }

  def info(): EngineInfo = EngineInfo(spark, store, oracles)
}

object SumService {
  /** A service over an empty store with the canonical oracles registered. */
  def apply(spark: SparkSession): SumService = {
    val reg = new OracleRegistry
    graft.oracle.CanonicalOracles.registerAll(reg)
    new SumService(spark, RecordStore.empty(spark), reg)
  }
}
