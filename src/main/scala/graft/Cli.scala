package graft

import scala.io.Source

import org.apache.spark.sql.SparkSession

import graft.model.SumRecord
import graft.service.{SumApi, SumGrpcClient, SumService}

/** Interactive/scripted CLI over [[graft.service.SumApi]], mirroring the
  * reference's sumcli verb set (cmd/sumcli/handlers/handlers.go:30-53):
  * info, record CRUD (create/read/update/delete/list/find), oracle
  * create/read/find/list/delete plus run, help, quit. Node-management
  * verbs are intentionally absent: the reference's node membership maps
  * to Spark's executor lifecycle (SURVEY.md §2.5), not to an API.
  *
  * Locally the verbs drive an in-process [[graft.service.SumService]];
  * with `--connect host:port` they drive a running [[graft.Serve]] daemon
  * over gRPC through a [[graft.service.SumGrpcClient]] — the sumcli ->
  * sumd topology — and print the same JSON.
  *
  * One command per line, pipe-friendly:
  * {{{
  *   echo "create-record 1,2,3 k=v
  *         run 1 1 0.5" | sbt "runMain graft.Cli"
  *   echo "info" | sbt "runMain graft.Cli --connect 127.0.0.1:8585"
  * }}}
  * Responses print as single-line JSON (the service's response envelopes).
  */
object Cli {

  private val Help =
    """commands:
      |  info
      |  create-record <f1,f2,...> [k=v ...]     sequential id assigned
      |  read-record <id>
      |  update-record <id> <f1,f2,...> [k=v ...]
      |  delete-record <id>
      |  list-records <page> <per_page>
      |  find-records <meta_key> <value>
      |  create-oracle <name> <code...>          compiled at create (JS or SQL)
      |  read-oracle <id>
      |  find-oracle <name>
      |  list-oracles <page> <per_page>
      |  delete-oracle <id>
      |  run <oracle_id> [json_arg ...]
      |  help
      |  quit""".stripMargin

  private def parseRecord(dataArg: String, metaArgs: Seq[String], id: Long = 0L): SumRecord = {
    val data = dataArg.split(",").filter(_.nonEmpty).map(_.toFloat)
    val meta = metaArgs.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"metadata must be k=v, got: $kv")
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    SumRecord(id, data, Array(data.length.toLong), meta)
  }

  /** JSON string-literal escape for interpolated service text. */
  private def esc(s: String): String = String.valueOf(s).flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def json(r: Any): String = r match {
    case rr: graft.service.RecordResponse =>
      val rec = rr.record.map(x =>
        s""","record":{"id":${x.id},"size":${x.size}}""").getOrElse("")
      s"""{"success":${rr.success},"msg":"${esc(rr.msg)}"$rec}"""
    case lr: graft.service.RecordListResponse =>
      s"""{"total":${lr.total},"pages":${lr.pages},"records":[${
        lr.records.map(_.id).mkString(",")}]}"""
    case fr: graft.service.FindResponse =>
      s"""{"success":${fr.success},"msg":"${esc(fr.msg)}","ids":[${
        fr.records.map(_.id).mkString(",")}]}"""
    case or: graft.service.OracleResponse =>
      val o = or.oracle.map(x =>
        s""","oracle":{"id":${x.id},"name":"${esc(x.name)}"}""").getOrElse("")
      s"""{"success":${or.success},"msg":"${esc(or.msg)}"$o}"""
    case ol: graft.service.OracleListResponse =>
      s"""{"total":${ol.total},"pages":${ol.pages},"oracles":[${
        ol.oracles.map(o => s""""${esc(o.name)}"""").mkString(",")}]}"""
    case cr: graft.service.CallResponse =>
      val body = cr.data.map { env =>
        val s = new String(graft.oracle.Payload.open(env),
          java.nio.charset.StandardCharsets.UTF_8)
        s  // oracle results are already JSON
      }.getOrElse("null")
      s"""{"success":${cr.success},"msg":"${esc(cr.msg)}","data":$body}"""
    case other => other.toString
  }

  def dispatch(svc: SumApi, line: String): Option[String] = {
    val parts = line.trim.split("\\s+").toSeq
    if (parts.isEmpty || parts.head.isEmpty) return Some("")
    try dispatchParsed(svc, parts)
    catch {
      // A daemon that is down is not a usage error: the client's message
      // names the address it could not reach.
      case e: java.io.IOException =>
        Some(s"""{"success":false,"msg":"${esc(String.valueOf(e.getMessage))}"}""")
      case e: Exception =>
        Some(s"""{"success":false,"msg":"bad arguments for ${parts.head}: ${
          esc(String.valueOf(e.getMessage))} (try help)"}""")
    }
  }

  private def dispatchParsed(svc: SumApi, parts: Seq[String]): Option[String] = {
    parts.head match {
      case "quit" | "exit" => None
      case "help" => Some(Help)
      case "info" =>
        val i = svc.info()
        Some(s"""{"version":"${i.version}","cpus":${i.cpus},"records":${
          i.records},"oracles":${i.oracles},"next_record_id":${i.nextRecordId}}""")
      case "create-record" =>
        Some(json(svc.createRecord(parseRecord(parts(1), parts.drop(2)))))
      case "read-record" => Some(json(svc.readRecord(parts(1).toLong)))
      case "update-record" =>
        Some(json(svc.updateRecord(
          parseRecord(parts(2), parts.drop(3), parts(1).toLong))))
      case "delete-record" => Some(json(svc.deleteRecord(parts(1).toLong)))
      case "list-records" =>
        Some(json(svc.listRecords(parts(1).toLong, parts(2).toLong)))
      case "find-records" => Some(json(svc.findRecords(parts(1), parts(2))))
      case "create-oracle" =>
        // Oracle code is everything after the name, compiled where it is
        // stored (the reference's CreateOracle(code) contract): a JS
        // program runs in the graft.oracle.js interpreter, anything else
        // is SQL.
        Some(json(svc.createOracle(parts(1), parts.drop(2).mkString(" "))))
      case "read-oracle" => Some(json(svc.readOracle(parts(1).toLong)))
      case "find-oracle" => Some(json(svc.findOracle(parts(1))))
      case "list-oracles" =>
        Some(json(svc.listOracles(parts(1).toLong, parts(2).toLong)))
      case "delete-oracle" => Some(json(svc.deleteOracle(parts(1).toLong)))
      case "run" => Some(json(svc.run(parts(1).toLong, parts.drop(2))))
      case other => Some(s"""{"success":false,"msg":"unknown command: $other (try help)"}""")
    }
  }

  def main(args: Array[String]): Unit = {
    // `--connect host:port` (or SPARK_GRAFT_CONNECT) speaks to a running
    // graft.Serve daemon over gRPC and needs no SparkSession of its own.
    val connectIdx = args.indexOf("--connect")
    val connect = if (connectIdx >= 0 && args.length > connectIdx + 1)
      Some(args(connectIdx + 1)) else sys.env.get("SPARK_GRAFT_CONNECT")
    val scriptArgs = args.filterNot(_.startsWith("--connect")).toSeq
      .filterNot(a => connectIdx >= 0 && a == args(connectIdx + 1))
    val lines =
      if (scriptArgs.nonEmpty) Source.fromFile(scriptArgs.head).getLines()
      else Source.stdin.getLines()

    val (svc, banner, close) = connect match {
      case Some(address) =>
        val i = address.lastIndexOf(':')
        val port = address.drop(i + 1).toIntOption
        require(i > 0 && port.isDefined, s"--connect takes host:port, got $address")
        val client = new SumGrpcClient(address.take(i), port.get)
        (client, s"connected to $address", () => client.close())
      case None =>
        val spark = SparkSession.builder()
          .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
          .config("spark.sql.shuffle.partitions", "4")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
          .getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        (SumService(spark), "canonical oracles registered", () => spark.stop())
    }
    println(s"graft cli — $banner; `help` for verbs")
    var running = true
    while (running && lines.hasNext) {
      dispatch(svc, lines.next()) match {
        case Some(out) => if (out.nonEmpty) println(out)
        case None => running = false
      }
    }
    close()
  }
}
