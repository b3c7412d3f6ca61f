package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.sparkproject.connect.protobuf.DynamicMessage

import graft.model.SumRecord
import graft.oracle.Payload
import graft.service.SumGrpcClient

/** One traffic mix. `mix` weights op kinds; `nodes` > 0 serves it from
  * a master over that many node engines; `cycleOps` > 0 runs it in
  * cycles of that many operations, each from a freshly loaded store.
  */
final case class Workload(name: String, records: Int, clients: Int,
    mix: Seq[(String, Double)], nodes: Int = 0, cycleOps: Int = 0) {
  def classOf(kind: String): String = kind match {
    case "get" | "get_zipf"   => "get"
    case "find" | "list"      => "find"
    case k if k.startsWith("run") => "run"
    case _                    => "write"
  }
}

object Workload {
  /** Record vector length. */
  val Dims = 32
  /** Gaussian clusters the vectors are drawn from. */
  val Clusters = 20
  /** Distinct values of the `bucket` meta key. */
  val Buckets = 100
  /** findSimilar threshold of every Run. */
  val Threshold = 0.75
  /** ListRecords page size. */
  val PerPage = 50

  val all: Seq[Workload] = Seq(
    Workload("kv_read", 4000, 4,
      Seq("get_zipf" -> 0.80, "find" -> 0.15, "list" -> 0.05)),
    Workload("write_mix", 2000, 2,
      Seq("get" -> 0.50, "update" -> 0.25, "create" -> 0.15, "delete" -> 0.10),
      cycleOps = 40),
    Workload("oracle_run", 4000, 2,
      Seq("run_sim" -> 0.50, "run_sum" -> 0.20, "run_js" -> 0.30)),
    Workload("fed_run", 3000, 2,
      Seq("run_js" -> 0.60, "get" -> 0.40), nodes = 3))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (${all.map(_.name).mkString(", ")})"))
}

/** The benchmark's own copy of the store's contents, the reference every
  * response is checked against. Each client owns a disjoint id set, so
  * concurrent writers never race on one id.
  */
final class Model(data: Data, clients: Int) {
  val live: TrieMap[Long, SumRecord] = TrieMap(data.records.map(r => r.id -> r): _*)
  val owned: Array[ArrayBuffer[Long]] = Array.tabulate(clients)(c =>
    ArrayBuffer.from(data.records.map(_.id).filter(_ % clients == c)))
  val deleted = new ConcurrentLinkedQueue[Long]()
  val sortedIds: IndexedSeq[Long] = data.records.map(_.id).sorted
  val byBucket: Map[String, Set[Long]] =
    data.records.groupBy(_.meta("bucket")).map { case (b, rs) => b -> rs.map(_.id).toSet }
  lazy val sums: Array[Double] = Data.sumAll(data.records, data.dims)
}

/** Latencies per op class plus success/failure counts. */
final class Stats {
  private val lat = TrieMap.empty[String, ArrayBuffer[Double]]
  @volatile var ok = 0L
  @volatile var failed = 0L
  val errors = new ConcurrentLinkedQueue[String]()

  def record(cls: String, ms: Double): Unit = {
    val b = lat.getOrElseUpdate(cls, ArrayBuffer.empty[Double])
    b.synchronized(b += ms)
  }
  def outcome(err: Option[String]): Unit = synchronized {
    err match {
      case None => ok += 1
      case Some(e) => failed += 1; if (errors.size < 5) errors.add(e)
    }
  }
  def classes: Map[String, Seq[Double]] = lat.map { case (k, v) => k -> v.synchronized(v.toSeq) }.toMap
  def all: Seq[Double] = classes.values.flatten.toSeq
  def attempted: Long = ok + failed
}

object Stats {
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(q * s.size).toInt - 1))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** One closed-loop client: it sends its next request only after the
  * previous reply, checks every reply against the [[Model]], and in a
  * traced run repeats the request against each in-process layer.
  * `zipfIds` maps Zipf ranks to record ids.
  */
final class Client(idx: Int, wl: Workload, data: Data, stack: Stack,
    model: Model, stats: Stats, tracer: Tracer, rnd: java.util.Random,
    zipf: Zipf, zipfIds: IndexedSeq[Long]) {

  private val rpc = new SumGrpcClient("127.0.0.1", stack.port)
  def close(): Unit = rpc.close()

  /** Op kinds are dealt from shuffled decks of 20 holding the mix's exact
    * shares, so every run sends the same proportions.
    */
  private val deck: Array[String] = wl.mix.flatMap { case (k, w) =>
    Seq.fill(math.round(w * 20).toInt)(k) }.toArray
  private var dealt = deck.length

  def nextKind(): String = {
    if (dealt == deck.length) {
      for (i <- deck.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = deck(i); deck(i) = deck(j); deck(j) = t
      }
      dealt = 0
    }
    dealt += 1
    deck(dealt - 1)
  }

  private def call(rpcName: String, req: DynamicMessage): DynamicMessage =
    tracer.spanWith("rpc")(rpc.call(rpcName, req))(m =>
      Map("bytes" -> m.getSerializedSize.toDouble))

  /** Run one op of `kind`; latency goes to `stats` under its class. */
  def step(kind: String, reqId: Long): Unit = {
    val cls = wl.classOf(kind)
    val err =
      try tracer.request(reqId, kind)(op(kind, cls))
      catch {
        // an OutOfMemoryError too is one failed op, not a crash with no numbers
        case e: Throwable => Some(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    stats.outcome(err)
  }

  private def timed[T](cls: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val v = f
    stats.record(cls, (System.nanoTime() - t0) / 1e6)
    v
  }

  private def uniformOwned(): Long = {
    val ids = model.owned(idx)
    ids(rnd.nextInt(ids.size))
  }

  private def traced: Boolean = tracer.enabled
  private def store = stack.single.store
  private def service = stack.single.service

  private def op(kind: String, cls: String): Option[String] = kind match {
    case "get" | "get_zipf" =>
      val id =
        if (kind == "get_zipf") zipfIds(zipf.sample(rnd))
        else if (wl.cycleOps > 0) uniformOwned()
        else 1L + rnd.nextInt(wl.records)
      val resp = timed(cls)(call("ReadRecord", Rpc.byId(rpc, id)))
      if (traced) {
        stack.fed match {
          case Some(fed) => tracer.span("federation.get")(fed.readRecord(id))
          case None => tracer.span("service.get", tagged = true)(service.readRecord(id))
        }
        tracer.spanWith("store.get", tagged = true)(stack.ownerOf(id).store.find(id))(r =>
          Map("rows" -> r.size.toDouble))
      }
      Checks.get(id, resp, model.live.get(id))

    case "find" =>
      val bucket = s"b${rnd.nextInt(Workload.Buckets)}"
      val resp = timed(cls)(call("FindRecords", Rpc.byMeta(rpc, "bucket", bucket)))
      if (traced) {
        tracer.span("service.find", tagged = true)(service.findRecords("bucket", bucket))
        tracer.spanWith("store.find", tagged = true)(store.findBy("bucket", bucket))(r =>
          Map("rows" -> r.map(_.size).getOrElse(0).toDouble))
      }
      Checks.ids(s"find $bucket", Rpc.ok(resp), Rpc.records(resp),
        model.byBucket.getOrElse(bucket, Set.empty))

    case "list" =>
      val pages = (model.sortedIds.size + Workload.PerPage - 1) / Workload.PerPage
      val page = 1 + rnd.nextInt(pages)
      val resp = timed(cls)(call("ListRecords", Rpc.page(rpc, page, Workload.PerPage)))
      if (traced) {
        tracer.span("service.list", tagged = true)(service.listRecords(page, Workload.PerPage))
        tracer.spanWith("store.list", tagged = true)(store.list(page, Workload.PerPage))(p =>
          Map("rows" -> p.records.size.toDouble))
      }
      val want = model.sortedIds.slice((page - 1) * Workload.PerPage, page * Workload.PerPage)
      if (Rpc.long(resp, "total") != model.sortedIds.size)
        Some(s"list page $page: total ${Rpc.long(resp, "total")}")
      else if (Rpc.records(resp).map(_.id) != want) Some(s"list page $page: wrong ids")
      else None

    case "run_sim" | "run_sum" | "run_js" =>
      val which = kind.stripPrefix("run_")
      val oracle = stack.oracleIds(which)
      val id = 1L + rnd.nextInt(wl.records)
      val args = if (which == "sum") Seq.empty else Seq(id.toString, Workload.Threshold.toString)
      val resp = timed(cls)(call("Run", Rpc.call(rpc, oracle, args)))
      if (traced) stack.fed match {
        case Some(fed) => tracer.span("federation.run")(fed.run(oracle, args))
        case None =>
          val json = tracer.spanWith(s"oracle.run.$which", tagged = true)(
            stack.single.registry.run(oracle, store, args))(_ =>
            Map("scored" -> (wl.records - 1).toDouble))
          json.foreach(j => tracer.spanWith("oracle.payload")(Payload.buildString(j))(e =>
            Map("raw" -> j.length.toDouble, "wire" -> e.size.toDouble)))
      }
      if (!Rpc.ok(resp)) Some(s"run $which($id): ${Rpc.msg(resp)}")
      else Rpc.payload(resp) match {
        case None => Some(s"run $which($id): no payload")
        case Some(p) =>
          if (which == "sum") Checks.sums(JsonMethods.parse(p), model.sums)
          else Checks.similar(s"run $which($id)", JsonMethods.parse(p),
            model.live(id), Workload.Threshold, model.live)
      }

    case "update" =>
      val id = uniformOwned()
      val old = model.live(id)
      val vec = data.vector(rnd)
      val patch = SumRecord(id, vec, Array(vec.length.toLong), Map.empty)
      val got =
        if (traced) tracer.span("store.write", tagged = true)(store.update(patch)).toOption
        else {
          val resp = timed(cls)(call("UpdateRecord", graft.service.SumProto.recordToProto(patch)))
          if (Rpc.ok(resp)) Rpc.record(resp) else None
        }
      got match {
        case Some(r) if r.id == id && Data.sameBits(r.data, vec) && r.meta == old.meta =>
          model.live.put(id, old.copy(data = vec))
          None
        case other => Some(s"update $id: $other")
      }

    case "create" =>
      val vec = data.vector(rnd)
      val rec = SumRecord(0L, vec, Array(vec.length.toLong),
        Map("name" -> s"new-$idx", "bucket" -> s"b${rnd.nextInt(Workload.Buckets)}"))
      val got =
        if (traced) tracer.span("store.write", tagged = true)(store.create(rec)).toOption
        else {
          val resp = timed(cls)(call("CreateRecord", graft.service.SumProto.recordToProto(rec)))
          if (Rpc.ok(resp)) Rpc.record(resp).filter(_.id.toString == Rpc.msg(resp)) else None
        }
      got match {
        case Some(r) if Data.sameBits(r.data, vec) && r.meta == rec.meta =>
          model.live.put(r.id, rec.copy(id = r.id))
          model.owned(idx) += r.id
          None
        case other => Some(s"create: $other")
      }

    case "delete" =>
      val ids = model.owned(idx)
      val id = ids.remove(rnd.nextInt(ids.size))
      val got =
        if (traced) tracer.span("store.write", tagged = true)(store.delete(id)).toOption
        else {
          val resp = timed(cls)(call("DeleteRecord", Rpc.byId(rpc, id)))
          if (Rpc.ok(resp)) Rpc.record(resp) else None
        }
      model.live.remove(id)
      model.deleted.add(id)
      if (got.exists(_.id == id)) None else Some(s"delete $id: $got")
  }
}

/** Output checks. Each returns the first discrepancy, if any. */
object Checks {

  def get(id: Long, resp: DynamicMessage, want: Option[SumRecord]): Option[String] =
    want match {
      case Some(w) => Rpc.record(resp) match {
        case Some(r) if Rpc.ok(resp) && r.id == id && Data.sameBits(r.data, w.data) => None
        case other => Some(s"get $id: ${Rpc.msg(resp)} $other")
      }
      case None =>
        if (!Rpc.ok(resp) && Rpc.msg(resp) == s"record $id not found.") None
        else Some(s"get $id: expected not found, got ${Rpc.msg(resp)}")
    }

  def ids(what: String, ok: Boolean, got: Seq[SumRecord], want: Set[Long]): Option[String] =
    if (!ok) Some(s"$what failed")
    else if (got.size != want.size || got.map(_.id).toSet != want)
      Some(s"$what: ${got.size} ids, want ${want.size}")
    else None

  private def num(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d)
    case JInt(i) => Some(i.toDouble)
    case JLong(l) => Some(l.toDouble)
    case JDecimal(d) => Some(d.toDouble)
    case _ => None
  }

  /** Same ids as the brute-force cosine (ids within 1e-9 of the
    * threshold may go either way) and each similarity within 1e-6.
    */
  def similar(what: String, got: JValue, ref: SumRecord, threshold: Double,
      live: collection.Map[Long, SumRecord]): Option[String] = got match {
    case JObject(fields) =>
      val gotMap = fields.map { case (k, v) => k.toLong -> num(v).getOrElse(Double.NaN) }.toMap
      val want = Data.similar(live.values, ref, threshold)
      (want.keySet ++ gotMap.keySet).iterator.flatMap { id =>
        live.get(id) match {
          case None => Some(s"$what: unknown id $id")
          case Some(r) =>
            val c = Data.cosine(ref.data, r.data)
            if (math.abs(c - threshold) < 1e-9) None
            else if (want.contains(id) != gotMap.contains(id)) Some(s"$what: id $id membership")
            else if (gotMap.contains(id) && !(math.abs(gotMap(id) - c) <= 1e-6))
              Some(s"$what: id $id sim ${gotMap(id)} want $c")
            else None
        }
      }.nextOption()
    case other => Some(s"$what: not an object")
  }

  def sums(got: JValue, want: Array[Double]): Option[String] = got match {
    case JArray(xs) if xs.size == want.length =>
      xs.zip(want).zipWithIndex.collectFirst {
        case ((v, w), i) if !num(v).exists(g => math.abs(g - w) <= 1e-6 * math.max(1.0, math.abs(w))) =>
          s"sumAllVectors[$i] = $v, want $w"
      }
    case other => Some(s"sumAllVectors: shape ${other.getClass.getSimpleName}")
  }

  /** End of a write cycle: one full listing must equal the model (every
    * write read back) and every deleted id must read as not found.
    */
  def readBack(port: Int, model: Model, stats: Stats): Unit = {
    val c = new SumGrpcClient("127.0.0.1", port)
    try {
      val resp = c.call("ListRecords", Rpc.page(c, 1, model.live.size + 1000))
      val got = Rpc.records(resp)
      stats.outcome(
        if (got.map(_.id).toSet != model.live.keySet)
          Some(s"read-back: ${got.size} records, model ${model.live.size}")
        else got.collectFirst {
          case r if !Data.sameBits(r.data, model.live(r.id).data) ||
            r.meta != model.live(r.id).meta => s"read-back: record ${r.id} differs"
        })
      model.deleted.asScala.foreach { id =>
        stats.outcome(get(id, c.call("ReadRecord", Rpc.byId(c, id)), None))
      }
    } finally c.close()
  }
}
