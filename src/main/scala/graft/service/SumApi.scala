package graft.service

import graft.EngineInfo
import graft.model.SumRecord
import graft.oracle.{Oracle, OracleRegistry}

/** The reference's public `sum.SumService` contract (proto/sum.proto:5-25):
  * the 14 RPCs with their typed responses. Errors are `{success: false,
  * msg}` responses, never exceptions. Three classes implement it — the
  * engine ([[SumService]]), the master ([[SumFederation]]) and the wire
  * stub ([[SumGrpcClient]]) — so the gRPC server and the CLI are each
  * written once against it.
  *
  * Oracle code travels as source, `(name, code)`, like the wire `Oracle`
  * message, and compiles where it is stored.
  */
trait SumApi {
  def createRecord(r: SumRecord): RecordResponse
  def updateRecord(r: SumRecord): RecordResponse
  def readRecord(id: Long): RecordResponse
  def listRecords(page: Long, perPage: Long): RecordListResponse
  def deleteRecord(id: Long): RecordResponse
  def findRecords(metaKey: String, value: String): FindResponse
  def createOracle(name: String, code: String): OracleResponse
  def updateOracle(id: Long, name: String, code: String): OracleResponse
  def readOracle(id: Long): OracleResponse
  def listOracles(page: Long, perPage: Long): OracleListResponse
  def findOracle(name: String): OracleResponse
  def deleteOracle(id: Long): OracleResponse
  def run(oracleId: Long, jsonArgs: Seq[String]): CallResponse
  def info(): EngineInfo
}

/** Oracle CRUD for the implementations that hold their oracles in a
  * registry: `compile` turns source into an oracle, and the registry's
  * results map to the reference's responses (node/service/oracles.go) —
  * create and update echo the id in `msg`, the rest answer with a bare
  * success.
  */
trait RegistryOracles extends SumApi {
  def oracles: OracleRegistry
  protected def compile(name: String, code: String): Either[String, Oracle]

  def createOracle(name: String, code: String): OracleResponse =
    SumApi.stored(compile(name, code).flatMap(oracles.create))

  def updateOracle(id: Long, name: String, code: String): OracleResponse =
    SumApi.stored(compile(name, code).flatMap(o => oracles.update(o.copy(id = id))))

  def readOracle(id: Long): OracleResponse = found(oracles.read(id))
  def findOracle(name: String): OracleResponse = found(oracles.findByName(name))
  def deleteOracle(id: Long): OracleResponse = found(oracles.delete(id))

  def listOracles(page: Long, perPage: Long): OracleListResponse = {
    val (total, pages, page1) = oracles.list(page, perPage)
    OracleListResponse(total, pages, page1)
  }

  private def found(r: Either[String, Oracle]): OracleResponse =
    r.fold(OracleResponse(success = false, _),
      o => OracleResponse(success = true, "", Some(o)))
}

object SumApi {
  /** A create or update outcome as its response: the id echoes in `msg`. */
  def stored(r: Either[String, Oracle]): OracleResponse =
    r.fold(OracleResponse(success = false, _),
      o => OracleResponse(success = true, o.id.toString, Some(o)))
}
