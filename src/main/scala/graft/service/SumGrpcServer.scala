package graft.service

import java.net.InetSocketAddress

import scala.jdk.CollectionConverters._

import org.slf4j.LoggerFactory
import org.sparkproject.connect.grpc.{CallOptions, MethodDescriptor, ServerServiceDefinition, Status, StatusRuntimeException}
import org.sparkproject.connect.grpc.netty.{GrpcSslContexts, NettyChannelBuilder, NettyServerBuilder}
import org.sparkproject.connect.grpc.stub.{ClientCalls, ServerCalls, StreamObserver}
import org.sparkproject.connect.protobuf.{ByteString, DescriptorProtos, Descriptors, DynamicMessage, UnsafeByteOperations}

import graft.EngineInfo
import graft.model.SumRecord
import graft.oracle.{Oracle, OracleRunError, Payload}

/** The reference's wire protocol: `sum.SumService` over gRPC + protobuf
  * (proto/sum.proto:5-25; served by sumd, cmd/sumd/main.go:100-121) — so
  * a stock protobuf client speaking sum.proto connects to this engine
  * directly. It is graft's one transport: [[SumGrpcServer]] serves it,
  * [[SumGrpcClient]] speaks it.
  *
  * No protobuf toolchain ships in this container, so nothing is generated:
  * the message types are DECLARED at runtime (a `FileDescriptorProto`
  * mirroring sum.proto field-for-field, built with the protobuf runtime's
  * public descriptor API) and served as `DynamicMessage`s through manual
  * `MethodDescriptor`s — the same layering generated stubs compile down
  * to. Runtime and transport are the gRPC/Netty/protobuf bundle the Spark
  * distribution itself ships (shaded `org.sparkproject.connect.*` in
  * spark-connect) — public Spark, no new dependencies.
  *
  * Reference parity on the wire: proto3 field numbers/types match
  * sum.proto exactly (uint64 ids, packed floats, string maps), requests
  * are capped at sumd's 50 MiB (cmd/sumd/main.go:104-108), `Run` results
  * ride the gzip-over-2KiB `Data` envelope (node/service/service.go:
  * 106-124), and errors are `{success:false, msg}` RESPONSES with the
  * store's exact strings, never gRPC status errors — matching the
  * reference's error-as-response contract. `CreateOracle` code is the
  * reference's JavaScript or, as a deliberate extension, SQL
  * (SURVEY.md §7.4.2); both compile at create
  * ([[graft.oracle.OracleCompiler]]).
  */
object SumProto {

  import DescriptorProtos.FieldDescriptorProto.{Label, Type}

  private def field(name: String, number: Int, t: Type,
      repeated: Boolean = false, typeName: String = null)
      : DescriptorProtos.FieldDescriptorProto = {
    val b = DescriptorProtos.FieldDescriptorProto.newBuilder()
      .setName(name).setNumber(number).setType(t)
      .setLabel(if (repeated) Label.LABEL_REPEATED else Label.LABEL_OPTIONAL)
    if (typeName != null) b.setTypeName(typeName)
    b.build()
  }

  private def message(name: String,
      fields: DescriptorProtos.FieldDescriptorProto*)
      : DescriptorProtos.DescriptorProto =
    DescriptorProtos.DescriptorProto.newBuilder()
      .setName(name).addAllField(fields.asJava).build()

  /** sum.proto's message set (proto/sum.proto:41-153), declared
    * field-for-field. The map<string,string> meta field is what proto3
    * map syntax compiles to: a repeated nested MetaEntry with the
    * map_entry option.
    */
  private val fileDescriptor: Descriptors.FileDescriptor = {
    val metaEntry = DescriptorProtos.DescriptorProto.newBuilder()
      .setName("MetaEntry")
      .setOptions(DescriptorProtos.MessageOptions.newBuilder().setMapEntry(true))
      .addField(field("key", 1, Type.TYPE_STRING))
      .addField(field("value", 2, Type.TYPE_STRING))
      .build()
    val record = DescriptorProtos.DescriptorProto.newBuilder()
      .setName("Record")
      .addField(field("id", 1, Type.TYPE_UINT64))
      .addField(field("data", 2, Type.TYPE_FLOAT, repeated = true))
      .addField(field("shape", 3, Type.TYPE_UINT64, repeated = true))
      .addField(field("meta", 4, Type.TYPE_MESSAGE, repeated = true,
        typeName = ".sum.Record.MetaEntry"))
      .addNestedType(metaEntry)
      .build()
    val fdp = DescriptorProtos.FileDescriptorProto.newBuilder()
      .setName("sum.proto").setPackage("sum").setSyntax("proto3")
      .addMessageType(record)
      .addMessageType(message("RecordResponse",
        field("success", 1, Type.TYPE_BOOL),
        field("msg", 2, Type.TYPE_STRING),
        field("record", 3, Type.TYPE_MESSAGE, typeName = ".sum.Record")))
      .addMessageType(message("ListRequest",
        field("page", 1, Type.TYPE_UINT64),
        field("per_page", 2, Type.TYPE_UINT64)))
      .addMessageType(message("RecordListResponse",
        field("total", 1, Type.TYPE_UINT64),
        field("pages", 2, Type.TYPE_UINT64),
        field("records", 3, Type.TYPE_MESSAGE, repeated = true,
          typeName = ".sum.Record")))
      .addMessageType(message("FindResponse",
        field("success", 1, Type.TYPE_BOOL),
        field("msg", 2, Type.TYPE_STRING),
        field("records", 3, Type.TYPE_MESSAGE, repeated = true,
          typeName = ".sum.Record")))
      .addMessageType(message("Oracle",
        field("id", 1, Type.TYPE_UINT64),
        field("name", 2, Type.TYPE_STRING),
        field("code", 3, Type.TYPE_STRING)))
      .addMessageType(message("OracleResponse",
        field("success", 1, Type.TYPE_BOOL),
        field("msg", 2, Type.TYPE_STRING),
        field("oracle", 3, Type.TYPE_MESSAGE, typeName = ".sum.Oracle")))
      .addMessageType(message("OracleListResponse",
        field("total", 1, Type.TYPE_UINT64),
        field("pages", 2, Type.TYPE_UINT64),
        field("oracles", 3, Type.TYPE_MESSAGE, repeated = true,
          typeName = ".sum.Oracle")))
      .addMessageType(message("Call",
        field("oracle_id", 1, Type.TYPE_UINT64),
        field("args", 2, Type.TYPE_STRING, repeated = true)))
      .addMessageType(message("Data",
        field("compressed", 1, Type.TYPE_BOOL),
        field("payload", 2, Type.TYPE_BYTES)))
      .addMessageType(message("CallResponse",
        field("success", 1, Type.TYPE_BOOL),
        field("msg", 2, Type.TYPE_STRING),
        field("data", 3, Type.TYPE_MESSAGE, typeName = ".sum.Data")))
      .addMessageType(message("ById", field("id", 1, Type.TYPE_UINT64)))
      .addMessageType(message("ByName", field("name", 1, Type.TYPE_STRING)))
      .addMessageType(message("ByMeta",
        field("meta", 1, Type.TYPE_STRING),
        field("value", 2, Type.TYPE_STRING)))
      .addMessageType(message("ServerInfo",
        field("version", 1, Type.TYPE_STRING),
        field("os", 2, Type.TYPE_STRING),
        field("arch", 3, Type.TYPE_STRING),
        field("go_version", 4, Type.TYPE_STRING),
        field("cpus", 5, Type.TYPE_UINT64),
        field("max_cpus", 6, Type.TYPE_UINT64),
        field("goroutines", 7, Type.TYPE_UINT64),
        field("alloc", 8, Type.TYPE_UINT64),
        field("sys", 9, Type.TYPE_UINT64),
        field("num_gc", 10, Type.TYPE_UINT64),
        field("datapath", 11, Type.TYPE_STRING),
        field("credspath", 12, Type.TYPE_STRING),
        field("address", 13, Type.TYPE_STRING),
        field("uptime", 14, Type.TYPE_UINT64),
        field("pid", 15, Type.TYPE_UINT64),
        field("uid", 16, Type.TYPE_UINT64),
        field("argv", 17, Type.TYPE_STRING, repeated = true),
        field("records", 18, Type.TYPE_UINT64),
        field("oracles", 19, Type.TYPE_UINT64),
        field("backend", 20, Type.TYPE_STRING),
        field("backend_space", 21, Type.TYPE_UINT64),
        field("backend_used", 22, Type.TYPE_UINT64),
        field("next_record_id", 23, Type.TYPE_UINT64)))
      .addMessageType(message("Empty"))
      .addMessageType(message("Records",
        field("records", 1, Type.TYPE_MESSAGE, repeated = true,
          typeName = ".sum.Record")))
      .addMessageType(message("RecordIds",
        field("ids", 1, Type.TYPE_UINT64, repeated = true)))
      .addMessageType(message("ByAddr",
        field("address", 1, Type.TYPE_STRING),
        field("cert_file", 2, Type.TYPE_STRING)))
      .addMessageType(message("Node",
        field("id", 1, Type.TYPE_UINT64),
        field("name", 2, Type.TYPE_STRING),
        field("info", 3, Type.TYPE_MESSAGE, typeName = ".sum.ServerInfo")))
      .addMessageType(message("NodeResponse",
        field("success", 1, Type.TYPE_BOOL),
        field("msg", 2, Type.TYPE_STRING),
        field("nodes", 3, Type.TYPE_MESSAGE, repeated = true,
          typeName = ".sum.Node")))
      .build()
    Descriptors.FileDescriptor.buildFrom(fdp,
      Array.empty[Descriptors.FileDescriptor])
  }

  def descriptor(name: String): Descriptors.Descriptor = {
    val d = fileDescriptor.findMessageTypeByName(name)
    require(d != null, s"unknown sum.proto message $name")
    d
  }

  /** RPC name -> (request message, response message), the 14 methods of
    * sum.SumService (proto/sum.proto:5-25).
    */
  val rpcShapes: Seq[(String, (String, String))] = Seq(
    "CreateRecord" -> ("Record", "RecordResponse"),
    "UpdateRecord" -> ("Record", "RecordResponse"),
    "ReadRecord" -> ("ById", "RecordResponse"),
    "ListRecords" -> ("ListRequest", "RecordListResponse"),
    "DeleteRecord" -> ("ById", "RecordResponse"),
    "FindRecords" -> ("ByMeta", "FindResponse"),
    "CreateOracle" -> ("Oracle", "OracleResponse"),
    "UpdateOracle" -> ("Oracle", "OracleResponse"),
    "ReadOracle" -> ("ById", "OracleResponse"),
    "ListOracles" -> ("ListRequest", "OracleListResponse"),
    "FindOracle" -> ("ByName", "OracleResponse"),
    "DeleteOracle" -> ("ById", "OracleResponse"),
    "Run" -> ("Call", "CallResponse"),
    "Info" -> ("Empty", "ServerInfo"))

  /** sum.SumInternalService (proto/sum.proto:27-31) — the node-to-node
    * surface the master uses for sharded placement.
    */
  val internalRpcShapes: Seq[(String, (String, String))] = Seq(
    "CreateRecordWithId" -> ("Record", "RecordResponse"),
    "CreateRecordsWithId" -> ("Records", "RecordResponse"),
    "DeleteRecords" -> ("RecordIds", "RecordResponse"))

  /** sum.SumMasterService (proto/sum.proto:33-37) — cluster membership. */
  val masterRpcShapes: Seq[(String, (String, String))] = Seq(
    "AddNode" -> ("ByAddr", "NodeResponse"),
    "ListNodes" -> ("Empty", "NodeResponse"),
    "DeleteNode" -> ("ById", "NodeResponse"))

  /** The method descriptor of every RPC, built once: the server and every
    * client call share this table.
    */
  private val methodDescriptors
      : Map[String, MethodDescriptor[DynamicMessage, DynamicMessage]] =
    Seq("sum.SumService" -> rpcShapes,
        "sum.SumInternalService" -> internalRpcShapes,
        "sum.SumMasterService" -> masterRpcShapes).flatMap { case (svc, shapes) =>
      shapes.map { case (rpc, (in, out)) =>
        rpc -> MethodDescriptor.newBuilder(marshaller(descriptor(in)),
            marshaller(descriptor(out)))
          .setType(MethodDescriptor.MethodType.UNARY)
          .setFullMethodName(MethodDescriptor.generateFullMethodName(svc, rpc))
          .build()
      }
    }.toMap

  def methodDescriptor(rpc: String)
      : MethodDescriptor[DynamicMessage, DynamicMessage] = methodDescriptors(rpc)

  private def marshaller(d: Descriptors.Descriptor)
      : MethodDescriptor.Marshaller[DynamicMessage] =
    new MethodDescriptor.Marshaller[DynamicMessage] {
      override def stream(value: DynamicMessage): java.io.InputStream =
        value.toByteString.newInput()
      override def parse(stream: java.io.InputStream): DynamicMessage =
        try DynamicMessage.parseFrom(d, stream)
        catch {
          case e: java.io.IOException => throw Status.INTERNAL
            .withDescription(s"malformed ${d.getName}: ${e.getMessage}")
            .withCause(e).asRuntimeException()
        }
    }

  // ---- field access helpers ------------------------------------------------

  def getLong(m: DynamicMessage, name: String): Long =
    m.getField(m.getDescriptorForType.findFieldByName(name)).asInstanceOf[Long]

  def getString(m: DynamicMessage, name: String): String =
    m.getField(m.getDescriptorForType.findFieldByName(name)).asInstanceOf[String]

  def getStrings(m: DynamicMessage, name: String): Seq[String] =
    m.getField(m.getDescriptorForType.findFieldByName(name))
      .asInstanceOf[java.util.List[_]].asScala.toSeq.map(_.asInstanceOf[String])

  def getBool(m: DynamicMessage, name: String): Boolean =
    m.getField(m.getDescriptorForType.findFieldByName(name))
      .asInstanceOf[java.lang.Boolean].booleanValue

  /** A message-typed field, None when unset. */
  def getMessage(m: DynamicMessage, name: String): Option[DynamicMessage] = {
    val f = m.getDescriptorForType.findFieldByName(name)
    if (m.hasField(f)) Some(m.getField(f).asInstanceOf[DynamicMessage]) else None
  }

  def getMessages(m: DynamicMessage, name: String): Seq[DynamicMessage] =
    m.getField(m.getDescriptorForType.findFieldByName(name))
      .asInstanceOf[java.util.List[_]].asScala.toSeq
      .map(_.asInstanceOf[DynamicMessage])

  /** A `name` message with the given fields set: a Seq fills a repeated
    * field, an Option sets its field only when defined, and Scala
    * primitives box to the Java types the protobuf runtime expects (uint64
    * fields take Longs).
    */
  def build(name: String, fields: (String, Any)*): DynamicMessage = {
    val d = descriptor(name)
    val b = DynamicMessage.newBuilder(d)
    fields.foreach { case (f, v) =>
      val fd = d.findFieldByName(f)
      v match {
        case xs: Seq[_] => xs.foreach(x => b.addRepeatedField(fd, x.asInstanceOf[AnyRef]))
        case o: Option[_] => o.foreach(x => b.setField(fd, x.asInstanceOf[AnyRef]))
        case x => b.setField(fd, x.asInstanceOf[AnyRef])
      }
    }
    b.build()
  }

  // ---- model <-> proto -----------------------------------------------------

  def recordToProto(r: SumRecord): DynamicMessage = {
    val d = descriptor("Record")
    val b = DynamicMessage.newBuilder(d)
      .setField(d.findFieldByName("id"), java.lang.Long.valueOf(r.id))
    val dataF = d.findFieldByName("data")
    r.data.foreach(f => b.addRepeatedField(dataF, java.lang.Float.valueOf(f)))
    val shapeF = d.findFieldByName("shape")
    r.shape.foreach(s => b.addRepeatedField(shapeF, java.lang.Long.valueOf(s)))
    val metaF = d.findFieldByName("meta")
    val entryD = d.findNestedTypeByName("MetaEntry")
    r.meta.toSeq.sortBy(_._1).foreach { case (k, v) =>
      b.addRepeatedField(metaF, DynamicMessage.newBuilder(entryD)
        .setField(entryD.findFieldByName("key"), k)
        .setField(entryD.findFieldByName("value"), v)
        .build())
    }
    b.build()
  }

  def protoToRecord(m: DynamicMessage): SumRecord = {
    val d = m.getDescriptorForType
    val data = m.getField(d.findFieldByName("data"))
      .asInstanceOf[java.util.List[_]].asScala
      .map(_.asInstanceOf[java.lang.Float].floatValue()).toArray
    val shape = m.getField(d.findFieldByName("shape"))
      .asInstanceOf[java.util.List[_]].asScala
      .map(_.asInstanceOf[java.lang.Long].longValue()).toArray
    val meta = m.getField(d.findFieldByName("meta"))
      .asInstanceOf[java.util.List[_]].asScala.map { e =>
        val em = e.asInstanceOf[DynamicMessage]
        getString(em, "key") -> getString(em, "value")
      }.toMap
    SumRecord(getLong(m, "id"), data, shape, meta)
  }

  def oracleToProto(o: Oracle): DynamicMessage =
    build("Oracle", "id" -> o.id, "name" -> o.name, "code" -> o.code.getOrElse(""))

  /** A wire `Oracle` as the model type: id, name and source (empty code
    * reads as none). The wire carries no body, so this oracle runs only
    * on the server that stores it, through `Run`.
    */
  def protoToOracle(m: DynamicMessage): Oracle = {
    val name = getString(m, "name")
    Oracle(getLong(m, "id"), name, Seq.empty,
      (_, _, _) => throw OracleRunError(s"oracle $name runs on its server"),
      code = Some(getString(m, "code")).filter(_.nonEmpty))
  }

  /** ServerInfo from the engine snapshot. */
  def infoToProto(i: EngineInfo): DynamicMessage =
    build("ServerInfo", "version" -> i.version,
      "os" -> sys.props.getOrElse("os.name", ""),
      "arch" -> sys.props.getOrElse("os.arch", ""),
      "cpus" -> i.cpus.toLong, "max_cpus" -> i.cpus.toLong,
      "pid" -> ProcessHandle.current().pid(),
      "records" -> i.records, "oracles" -> i.oracles,
      "backend" -> s"spark-${i.sparkVersion}",
      "next_record_id" -> i.nextRecordId)

  /** The engine snapshot back from ServerInfo; the Spark status-tracker
    * counts do not cross the wire.
    */
  def protoToInfo(m: DynamicMessage): EngineInfo =
    EngineInfo(getString(m, "version"), getLong(m, "cpus").toInt,
      getLong(m, "records"), getLong(m, "oracles"), getLong(m, "next_record_id"),
      getString(m, "backend").stripPrefix("spark-"), activeJobs = 0, executors = 0)
}


/** gRPC server on a loopback Netty socket — see [[SumProto]] for the wire
  * contract. Port 0 binds an ephemeral port (read it back from
  * [[boundPort]]).
  *
  * One `sum.SumService` handler table serves either face of the
  * reference's sumd: over `service` alone the server is a single engine;
  * with a `federation` it is a MASTER (cmd/sumd in master mode) whose
  * record CRUD routes to nodes, whose oracle surface is the federation
  * cage, and whose Run is the distributed scatter-merge. The internal
  * service (with-id placement) always answers from `service`; the
  * master service (node membership) from the federation when there is
  * one.
  *
  * `credsPath` mirrors sumd's `-creds` flag (cmd/sumd/main.go:32,217-219):
  * a directory holding `cert.pem` + `key.pem`; when set, the socket serves
  * TLS (credentials.NewServerTLSFromFile's exact file layout), otherwise
  * plaintext. Clients connect with [[SumGrpcClient]] passing the cert file
  * to trust — the master/node.go:64 NewClientTLSFromFile shape.
  */
final class SumGrpcServer(val service: SumService, port: Int = 0,
    credsPath: Option[String] = None,
    federation: Option[SumFederation] = None) {

  import SumProto._

  /** grpc.MaxRecvMsgSize in sumd — 50 MiB (cmd/sumd/main.go:104-108). */
  val MaxMessageBytes: Int = 50 * 1024 * 1024

  private val api: SumApi = federation.getOrElse(service)

  private val log = LoggerFactory.getLogger(classOf[SumGrpcServer])

  private def recordResponse(r: RecordResponse): DynamicMessage =
    build("RecordResponse", "success" -> r.success, "msg" -> r.msg,
      "record" -> r.record.map(recordToProto))

  private def oracleResponse(r: OracleResponse): DynamicMessage =
    build("OracleResponse", "success" -> r.success, "msg" -> r.msg,
      "oracle" -> r.oracle.map(oracleToProto))

  private def nodeResponse(r: NodeResponse): DynamicMessage =
    build("NodeResponse", "success" -> r.success, "msg" -> r.msg,
      "nodes" -> r.nodes.map(n => build("Node", "id" -> n.id, "name" -> n.name)))

  /** ListRequest paging; proto3 zero means unset: page 1, 10 per page. */
  private def paged(m: DynamicMessage): (Long, Long) = {
    val page = getLong(m, "page"); val perPage = getLong(m, "per_page")
    (if (page == 0) 1 else page, if (perPage == 0) 10 else perPage)
  }

  /** RPC name -> handler: errors stay error RESPONSES ({success:false,
    * msg}), and oracle code compiles at create.
    */
  private val handlers: Map[String, DynamicMessage => DynamicMessage] = Map(
    "CreateRecord" -> (m => recordResponse(api.createRecord(protoToRecord(m)))),
    "UpdateRecord" -> (m => recordResponse(api.updateRecord(protoToRecord(m)))),
    "ReadRecord" -> (m => recordResponse(api.readRecord(getLong(m, "id")))),
    "DeleteRecord" -> (m => recordResponse(api.deleteRecord(getLong(m, "id")))),
    "ListRecords" -> { m =>
      val (page, perPage) = paged(m)
      val p = api.listRecords(page, perPage)
      build("RecordListResponse", "total" -> p.total, "pages" -> p.pages,
        "records" -> p.records.map(recordToProto))
    },
    "FindRecords" -> { m =>
      val r = api.findRecords(getString(m, "meta"), getString(m, "value"))
      build("FindResponse", "success" -> r.success, "msg" -> r.msg,
        "records" -> r.records.map(recordToProto))
    },
    "CreateOracle" -> (m => oracleResponse(
      api.createOracle(getString(m, "name"), getString(m, "code")))),
    "UpdateOracle" -> (m => oracleResponse(api.updateOracle(
      getLong(m, "id"), getString(m, "name"), getString(m, "code")))),
    "ReadOracle" -> (m => oracleResponse(api.readOracle(getLong(m, "id")))),
    "DeleteOracle" -> (m => oracleResponse(api.deleteOracle(getLong(m, "id")))),
    "FindOracle" -> (m => oracleResponse(api.findOracle(getString(m, "name")))),
    "ListOracles" -> { m =>
      val (page, perPage) = paged(m)
      val r = api.listOracles(page, perPage)
      build("OracleListResponse", "total" -> r.total, "pages" -> r.pages,
        "oracles" -> r.oracles.map(oracleToProto))
    },
    "Run" -> { m =>
      val r = api.run(getLong(m, "oracle_id"), getStrings(m, "args"))
      build("CallResponse", "success" -> r.success, "msg" -> r.msg,
        "data" -> r.data.map(env => build("Data", "compressed" -> env.compressed,
          // the envelope's array is never written after Payload.build
          "payload" -> UnsafeByteOperations.unsafeWrap(env.payload))))
    },
    "Info" -> (_ => infoToProto(api.info())))

  /** sum.SumInternalService handlers (proto/sum.proto:27-31): real ops —
    * the store implements the reference's with-id/batch-rollback/bulk
    * semantics directly.
    */
  private val internalHandlers: Map[String, DynamicMessage => DynamicMessage] =
    Map(
      "CreateRecordWithId" ->
        (m => recordResponse(service.createRecordWithId(protoToRecord(m)))),
      "CreateRecordsWithId" -> (m => recordResponse(
        service.createRecordsWithId(getMessages(m, "records").map(protoToRecord)))),
      "DeleteRecords" -> { m =>
        val ids = m.getField(m.getDescriptorForType.findFieldByName("ids"))
          .asInstanceOf[java.util.List[_]].asScala.toSeq
          .map(_.asInstanceOf[java.lang.Long].longValue())
        recordResponse(service.deleteRecords(ids))
      })

  /** sum.SumMasterService handlers (proto/sum.proto:33-37): with a
    * federation these are REAL — AddNode dials the address and attaches
    * the engine (rebalance + oracle absorption included); without one,
    * the single-engine truth — this engine is the one permanent node.
    */
  private val masterHandlers: Map[String, DynamicMessage => DynamicMessage] =
    federation match {
      case Some(fed) => Map(
        "AddNode" -> (m => nodeResponse(fed.addNode(getString(m, "address")))),
        "ListNodes" -> (_ => nodeResponse(NodeResponse(success = true, "",
          fed.listNodes().map(n => NodeEntry(n.id, n.name))))),
        "DeleteNode" ->
          (m => nodeResponse(fed.deleteNode(getLong(m, "id")))))
      case None => Map(
        "AddNode" ->
          (m => nodeResponse(service.addNode(getString(m, "address")))),
        "ListNodes" -> (_ => nodeResponse(service.listNodes())),
        "DeleteNode" ->
          (m => nodeResponse(service.deleteNode(getLong(m, "id")))))
    }

  private def buildService(name: String, shapes: Seq[(String, (String, String))],
      fns: Map[String, DynamicMessage => DynamicMessage])
      : ServerServiceDefinition = {
    val builder = ServerServiceDefinition.builder(name)
    shapes.foreach { case (rpc, _) =>
      val fn = fns(rpc)
      builder.addMethod(SumProto.methodDescriptor(rpc),
        ServerCalls.asyncUnaryCall(
          new ServerCalls.UnaryMethod[DynamicMessage, DynamicMessage] {
            override def invoke(req: DynamicMessage,
                obs: StreamObserver[DynamicMessage]): Unit =
              try { obs.onNext(fn(req)); obs.onCompleted() }
              catch {
                case e: Exception =>
                  log.warn(s"$name/$rpc failed", e)
                  obs.onError(Status.INTERNAL
                    .withDescription(s"internal: ${e.getMessage}").asException())
              }
          }))
    }
    builder.build()
  }

  private val server = {
    val builder = NettyServerBuilder
      .forAddress(new InetSocketAddress("127.0.0.1", port))
      .maxInboundMessageSize(MaxMessageBytes)
      .addService(buildService("sum.SumService", SumProto.rpcShapes, handlers))
      .addService(buildService("sum.SumInternalService",
        SumProto.internalRpcShapes, internalHandlers))
      .addService(buildService("sum.SumMasterService",
        SumProto.masterRpcShapes, masterHandlers))
    credsPath.foreach { dir =>
      // GrpcSslContexts.forServer pre-configures ALPN/h2 on the builder;
      // the key must be PKCS#8 PEM (as sumd's Go credentials also expect
      // standard PEM material).
      builder.sslContext(GrpcSslContexts.forServer(
        new java.io.File(dir, "cert.pem"),
        new java.io.File(dir, "key.pem")).build())
    }
    builder.build()
  }

  /** Master mode runs the reference's background NodeUpdater for the
    * life of the server (cmd/sumd starts NodeUpdater alongside the
    * master service; updater.go): node statuses re-sync every 5 s like
    * the reference's default poll period.
    */
  private var nodeUpdater: Option[AutoCloseable] = None

  def start(): Unit = {
    server.start()
    nodeUpdater = federation.map(_.startUpdater(5000L))
  }
  /** Stop serving; a master also closes its federation's node channels. */
  def stop(): Unit = {
    nodeUpdater.foreach(_.close()); nodeUpdater = None
    server.shutdownNow(); server.awaitTermination()
    federation.foreach(_.close())
  }
  def boundPort: Int = server.getPort
}

/** The wire stub — what `sumcli` is to `sumd`: [[SumApi]] over gRPC, each
  * call one unary exchange of [[SumProto]] dynamic messages on a shared
  * channel, plus the internal with-id RPCs a master drives. Plaintext by
  * default, TLS when `certFile` names the server certificate to trust
  * (the NewClientTLSFromFile shape, master/node.go:64 — a self-signed
  * server cert works because trust is pinned to the file, not a CA
  * chain). A daemon that cannot be reached raises an IOException naming
  * its address.
  */
final class SumGrpcClient(host: String, port: Int,
    certFile: Option[String] = None) extends SumApi {
  import SumProto._

  private val channel = {
    val builder = NettyChannelBuilder.forAddress(host, port)
      .maxInboundMessageSize(50 * 1024 * 1024)
    certFile match {
      case Some(pem) => builder.sslContext(GrpcSslContexts.forClient()
        .trustManager(new java.io.File(pem)).build())
        // The test certs carry a localhost SAN; connections by IP
        // authority ("127.0.0.1") present no matching hostname, so pin
        // the TLS authority to the cert's name, as Go's
        // NewClientTLSFromFile(cert, "") infers it from the cert.
        .overrideAuthority("localhost")
      case None => builder.usePlaintext()
    }
    builder.build()
  }

  def call(rpc: String, req: DynamicMessage): DynamicMessage =
    try ClientCalls.blockingUnaryCall(channel, SumProto.methodDescriptor(rpc),
      CallOptions.DEFAULT, req)
    catch {
      case e: StatusRuntimeException
          if e.getStatus.getCode == Status.Code.UNAVAILABLE =>
        throw new java.io.IOException(
          s"cannot reach daemon at $host:$port: ${e.getMessage}", e)
    }

  /** Convenience builder for request messages. */
  def newMessage(messageName: String): DynamicMessage.Builder =
    DynamicMessage.newBuilder(SumProto.descriptor(messageName))

  def close(): Unit = { channel.shutdownNow(); () }

  // ---- response decoders ---------------------------------------------------

  private def recordResponse(m: DynamicMessage): RecordResponse =
    RecordResponse(getBool(m, "success"), getString(m, "msg"),
      getMessage(m, "record").map(protoToRecord))

  private def oracleResponse(m: DynamicMessage): OracleResponse =
    OracleResponse(getBool(m, "success"), getString(m, "msg"),
      getMessage(m, "oracle").map(protoToOracle))

  private def byId(id: Long): DynamicMessage = build("ById", "id" -> id)
  private def paged(page: Long, perPage: Long): DynamicMessage =
    build("ListRequest", "page" -> page, "per_page" -> perPage)

  // ---- sum.SumService --------------------------------------------------------

  def createRecord(r: SumRecord): RecordResponse =
    recordResponse(call("CreateRecord", recordToProto(r)))
  def updateRecord(r: SumRecord): RecordResponse =
    recordResponse(call("UpdateRecord", recordToProto(r)))
  def readRecord(id: Long): RecordResponse = recordResponse(call("ReadRecord", byId(id)))
  def deleteRecord(id: Long): RecordResponse =
    recordResponse(call("DeleteRecord", byId(id)))

  def listRecords(page: Long, perPage: Long): RecordListResponse = {
    val m = call("ListRecords", paged(page, perPage))
    RecordListResponse(getLong(m, "total"), getLong(m, "pages"),
      getMessages(m, "records").map(protoToRecord))
  }

  def findRecords(metaKey: String, value: String): FindResponse = {
    val m = call("FindRecords", build("ByMeta", "meta" -> metaKey, "value" -> value))
    FindResponse(getBool(m, "success"), getString(m, "msg"),
      getMessages(m, "records").map(protoToRecord))
  }

  def createOracle(name: String, code: String): OracleResponse =
    oracleResponse(call("CreateOracle", build("Oracle", "name" -> name, "code" -> code)))
  def updateOracle(id: Long, name: String, code: String): OracleResponse =
    oracleResponse(call("UpdateOracle",
      build("Oracle", "id" -> id, "name" -> name, "code" -> code)))
  def readOracle(id: Long): OracleResponse = oracleResponse(call("ReadOracle", byId(id)))
  def findOracle(name: String): OracleResponse =
    oracleResponse(call("FindOracle", build("ByName", "name" -> name)))
  def deleteOracle(id: Long): OracleResponse =
    oracleResponse(call("DeleteOracle", byId(id)))

  def listOracles(page: Long, perPage: Long): OracleListResponse = {
    val m = call("ListOracles", paged(page, perPage))
    OracleListResponse(getLong(m, "total"), getLong(m, "pages"),
      getMessages(m, "oracles").map(protoToOracle))
  }

  def run(oracleId: Long, jsonArgs: Seq[String]): CallResponse = {
    val m = call("Run", build("Call", "oracle_id" -> oracleId, "args" -> jsonArgs))
    CallResponse(getBool(m, "success"), getString(m, "msg"),
      getMessage(m, "data").map(d => Payload.Envelope(getBool(d, "compressed"),
        d.getField(d.getDescriptorForType.findFieldByName("payload"))
          .asInstanceOf[ByteString].toByteArray)))
  }

  def info(): EngineInfo = protoToInfo(call("Info", build("Empty")))

  // ---- sum.SumInternalService ------------------------------------------------

  def createRecordWithId(r: SumRecord): RecordResponse =
    recordResponse(call("CreateRecordWithId", recordToProto(r)))
  def createRecordsWithId(recs: Seq[SumRecord]): RecordResponse =
    recordResponse(call("CreateRecordsWithId",
      build("Records", "records" -> recs.map(recordToProto))))
  def deleteRecords(ids: Seq[Long]): RecordResponse =
    recordResponse(call("DeleteRecords", build("RecordIds", "ids" -> ids)))
}
