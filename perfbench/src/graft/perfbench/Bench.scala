package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.GraftSession

/** Serving benchmark main:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> [--out <dir>]`.
  *
  * Starts Spark `local[<cpus>]` in this JVM, loads a seeded store, serves
  * it through `SumGrpcServer` and drives it with closed-loop
  * `SumGrpcClient`s. `--trace 0` prints the end-to-end metrics;
  * `--trace 1` runs one client untraced and then traced and prints the
  * per-layer metrics. The last stdout line is the JSON result.
  */
object Bench {
  /** Requests a measured run needs before its p90 is reported. */
  val MinRequests = 100
  /** Warm-up requests per client in a set-up. */
  val WarmPerClient = 10
  /** Seconds after JVM start by which timed traffic stops. */
  val HardEndS = 140L

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val wl = Workload(opts("workload"))
    try run(wl, opts, jvmStart)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
  }

  private def run(wl: Workload, opts: Map[String, String], jvmStart: Long): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.create(s"local[$cpus]")
    spark.sparkContext.setLogLevel("ERROR")
    val sparkS = (System.currentTimeMillis - jvmStart) / 1000.0
    // timed traffic ends by this instant even when it has too few requests
    val hardEnd = System.nanoTime() +
      (jvmStart + Bench.HardEndS * 1000 - System.currentTimeMillis) * 1000000L
    val runner = new Runner(spark, wl, opts("seed").toLong, cpus, hardEnd)
    val seconds = opts("seconds").toDouble
    val metrics =
      if (opts.getOrElse("trace", "0") == "1") runner.traced(seconds, opts.get("out"))
      else runner.measured(seconds, sparkS)
    val checks = runner.total
    println(f"[perfbench] ${wl.name}: attempted ${checks.attempted} failed " +
      f"${checks.failed} error_rate ${checks.failed.toDouble / math.max(1L, checks.attempted)}%.4f")
    checks.errors.asScala.foreach(e => println(s"[perfbench] error: $e"))
    val out = ("correct" -> (checks.failed == 0)) ~ ("attempted" -> checks.attempted) ~
      ("failed" -> checks.failed) ~ ("metrics" -> JObject(metrics.map { case (k, v, u) =>
        JField(k, ("value" -> v) ~ ("unit" -> u)) }.toList))
    spark.stop()
    println(compact(render(out)))
    System.out.flush()
    System.exit(0)
  }
}

/** Builds the stack, runs the timed phases and turns their samples into
  * metrics. `total` collects every checked outcome of the run.
  */
final class Runner(spark: SparkSession, wl: Workload, seed: Long, cpus: Int,
    hardEnd: Long) {
  val total = new Stats
  private val counts = new JobCounts
  spark.sparkContext.addSparkListener(counts)
  private val tracer = new Tracer(spark.sparkContext)
  private val setups = ArrayBuffer.empty[Double]
  private val reqIds = new AtomicLong(0)
  /** GC time during the untraced requests of a traced run. */
  private var plainGcMs = 0.0

  private final class Built(val stack: Stack, val data: Data, val model: Model) {
    val zipf = new Zipf(wl.records, 0.99)
    val zipfIds: IndexedSeq[Long] = {
      val ids = data.records.map(_.id).toArray
      val r = new java.util.Random(seed * 31 + 7)
      for (i <- ids.indices.reverse) {
        val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
      }
      ids.toIndexedSeq
    }
  }

  /** One set-up: generate the records, load the store, create the
    * oracles, start the servers, warm up. The warm-up is `WarmPerClient`
    * requests of the mix per client, so the first JIT compilations of the
    * serving path fall in set-up rather than in timed traffic; a write
    * cycle must start from the freshly loaded store, so it warms up with
    * one request per read kind.
    * `traceSetup` records the set-up's JS compile spans.
    */
  private def build(traceSetup: Boolean): Built = {
    val t0 = System.nanoTime()
    val data = new Data(seed, wl.records, Workload.Dims, Workload.Clusters, Workload.Buckets)
    tracer.enabled = traceSetup
    val stack =
      if (wl.nodes > 0) Stack.federated(spark, data.records, cpus, wl.nodes, tracer)
      else Stack.single(spark, data.records, cpus, tracer)
    tracer.enabled = false
    val b = new Built(stack, data, new Model(data, wl.clients))
    if (wl.cycleOps == 0) {
      val warm = new Stats
      phase(b, wl.clients, Double.PositiveInfinity, Bench.WarmPerClient, 0, 0x5eedL, warm, None)
      merge(warm)
    } else {
      val reads = wl.mix.map(_._1).filter(k => wl.classOf(k) != "write")
      val warm = client(b, 0, total, new java.util.Random(seed ^ 0x5eedL))
      try reads.foreach(k => warm.step(k, reqIds.incrementAndGet()))
      finally warm.close()
    }
    setups += (System.nanoTime() - t0) / 1e9
    b
  }

  private def client(b: Built, idx: Int, stats: Stats, rnd: java.util.Random): Client =
    new Client(idx, wl, b.data, b.stack, b.model, stats, tracer, rnd, b.zipf, b.zipfIds)

  /** `clients` closed loops for `seconds`, and on until `minRequests`
    * requests are done, or `perClient` ops each; returns the elapsed
    * seconds. No loop runs past `hardEnd`. With `traced` set (one
    * client), every second request is traced and counts there instead.
    */
  private def phase(b: Built, clients: Int, seconds: Double, perClient: Int,
      minRequests: Int, salt: Long, stats: Stats, traced: Option[Stats]): Double = {
    def loops(s: Stats, k: Long) = (0 until clients).map(c => client(b, c, s,
      new java.util.Random(seed * 1000003L + salt * 7919L + k * 104729L + c)))
    val cs = loops(stats, 0)
    val tcs = traced.map(loops(_, 1))
    val go = new CountDownLatch(1)
    val ends = new Array[Long](clients)
    val requests = new AtomicLong(0)
    val threads = cs.indices.map { i =>
      val t = new Thread(() => {
        go.await()
        val deadline =
          if (seconds.isInfinite) Long.MaxValue else System.nanoTime() + (seconds * 1e9).toLong
        var n = 0
        def more = {
          val now = System.nanoTime()
          now < hardEnd && (now < deadline || requests.get < minRequests)
        }
        while (n < perClient && more) {
          val on = tcs.isDefined && n % 2 == 1
          val c = if (on) tcs.get(i) else cs(i)
          tracer.enabled = on
          val gc0 = if (tcs.isDefined && !on) gcMs() else 0.0
          c.step(c.nextKind(), reqIds.incrementAndGet()); n += 1
          if (tcs.isDefined && !on) plainGcMs += gcMs() - gc0
          requests.incrementAndGet()
        }
        tracer.enabled = false
        ends(i) = System.nanoTime()
      }, s"perfbench-client-$i")
      t.start(); t
    }
    val t0 = System.nanoTime()
    go.countDown()
    threads.foreach(_.join())
    (cs ++ tcs.toSeq.flatten).foreach(_.close())
    (ends.max - t0) / 1e9
  }

  private def heapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  private def merge(s: Stats): Unit = total.synchronized {
    total.ok += s.ok; total.failed += s.failed
    s.errors.asScala.foreach(e => if (total.errors.size < 5) total.errors.add(e))
  }

  /** Runs write cycles (fresh store, fixed op count, read-back) or one
    * window on `first`, for at least `seconds` of timed traffic and
    * `minRequests` requests. Returns (elapsed timed seconds, heap MB at
    * the end, last stack).
    */
  private def traffic(first: Built, clients: Int, seconds: Double, minRequests: Int,
      stats: Stats, traced: Option[Stats]): (Double, Double, Built) =
    if (wl.cycleOps == 0) {
      val el = phase(first, clients, seconds, Int.MaxValue, minRequests, 1, stats, traced)
      (el, heapMb(), first)
    } else {
      var b = first
      var timed = 0.0
      var cycle = 0
      var heap = 0.0
      var done = false
      while (!done) {
        if (cycle > 0) b = build(traced.isDefined)
        timed += phase(b, clients, Double.PositiveInfinity, wl.cycleOps / clients, 0,
          1000 + cycle, stats, traced)
        Checks.readBack(b.stack.port, b.model, total)
        System.err.println(f"[perfbench] write cycle $cycle: $timed%.2f s timed so far")
        done = (timed >= seconds && stats.all.size >= minRequests) ||
          System.nanoTime() >= hardEnd
        if (done) heap = heapMb() else b.stack.stop()
        cycle += 1
      }
      (timed, heap, b)
    }

  /** End-to-end metrics over `wl.clients` closed loops. `setup_s` is
    * Spark start plus the first set-up: JVM start to first timed request.
    */
  def measured(seconds: Double, sparkS: Double): Seq[(String, Double, String)] = {
    val b = build(traceSetup = false)
    val stats = new Stats
    val (el, heap, last) = traffic(b, wl.clients, seconds, Bench.MinRequests, stats, None)
    last.stack.stop()
    merge(stats)
    if (stats.all.size < Bench.MinRequests)
      total.outcome(Some(s"p90_ms over ${stats.all.size} requests, fewer than ${Bench.MinRequests}"))
    stats.classes.toSeq.sortBy(_._1).foreach { case (cls, xs) =>
      val p90 = if (xs.size >= 100) f"${Stats.pct(xs, 0.9)}%.3f ms" else "n/a (<100 samples)"
      println(f"[perfbench] ${cls}_p50_ms ${Stats.median(xs)}%.3f ms  ${cls}_p90_ms $p90  n=${xs.size}")
    }
    val all = stats.all
    println(f"[perfbench] all requests n=${all.size} setups=${setups.map(s => f"$s%.2f").mkString(",")} spark_start_s=$sparkS%.2f")
    Seq(
      ("setup_s", sparkS + setups.head, "s"),
      ("ops_per_s", stats.ok / el, "ops/s"),
      ("p50_ms", Stats.median(all), "ms"),
      ("p90_ms", Stats.pct(all, 0.9), "ms"),
      ("heap_mb", heap, "MB"))
  }

  /** Requests per second of gRPC time, over the ops that go over gRPC
    * traced or not (a traced write bypasses it).
    */
  private def rpcRate(s: Stats): Double = {
    val ms = s.classes.filter(_._1 != "write").values.flatten
    if (ms.isEmpty) 0.0 else ms.size / (ms.sum / 1000.0)
  }

  /** Per-layer metrics: one client alternates untraced and traced
    * requests. Tracing overhead compares the two kinds' gRPC time per
    * request; the in-process repeats of a traced request are outside it.
    */
  def traced(seconds: Double, out: Option[String]): Seq[(String, Double, String)] = {
    val b = build(traceSetup = true)
    val plain = new Stats
    val tracedStats = new Stats
    val (_, _, last) = traffic(b, 1, seconds, 0, plain, Some(tracedStats))
    val gcPerOp = plainGcMs / math.max(1L, plain.attempted)
    val stores = last.stack.engines.map(_.store.records)
    val partitions = stores.map(_.rdd.getNumPartitions).sum.toDouble
    val planNodes = stores.map { ds => var n = 0; ds.queryExecution.logical.foreach(_ => n += 1); n }
      .sum.toDouble
    last.stack.stop()
    merge(plain); merge(tracedStats)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val spans = tracer.spans
    out.foreach { dir =>
      val p = java.nio.file.Paths.get(dir, s"spans-${wl.name}-$seed.jsonl")
      java.nio.file.Files.createDirectories(p.getParent)
      tracer.write(p)
      println(s"[perfbench] ${spans.size} spans written to $p")
    }
    val untraced = rpcRate(plain)
    val tracedRate = rpcRate(tracedStats)
    Layers.compute(spans, counts, tracer) ++ Seq(
      ("store.partitions", partitions, "count"),
      ("store.plan_nodes", planNodes, "count"),
      ("jvm.gc_ms_per_op", gcPerOp, "ms"),
      ("trace.untraced_ops_per_s", untraced, "ops/s"),
      ("trace.traced_ops_per_s", tracedRate, "ops/s"),
      ("trace.overhead", if (untraced > 0) 1.0 - tracedRate / untraced else 0.0, "ratio"))
  }
}

/** Per-layer metrics from the spans of a traced phase and the Spark jobs
  * their tagged spans started. A metric whose layer the mix never
  * reaches reads 0.
  */
object Layers {
  def compute(spans: Seq[Span], counts: JobCounts,
      tracer: Tracer): Seq[(String, Double, String)] = {
    val byName = spans.groupBy(_.name).withDefaultValue(Seq.empty)
    val children = spans.groupBy(_.parent).withDefaultValue(Seq.empty)
    def med(xs: Seq[Double]) = Stats.median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def jobs(s: Span) = counts.jobsOf(tracer, s.id)
    def jobCount(ss: Seq[Span]) = mean(ss.map(jobs(_).size.toDouble))
    def taskCount(ss: Seq[Span]) = mean(ss.map(jobs(_).map(_.tasks.get).sum.toDouble))
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def attr(ss: Seq[Span], k: String) = ss.map(_.attrs.getOrElse(k, 0.0)).sum

    val inProcess = Set("service.get", "service.find", "service.list",
      "federation.get", "federation.run", "oracle.payload")
    val transport = spans.filter(_.name.startsWith("request.")).flatMap { r =>
      val ks = children(r.id)
      val inner = ks.filter(k => inProcess(k.name) || k.name.startsWith("oracle.run."))
      ks.find(_.name == "rpc").filter(_ => inner.nonEmpty)
        .map(rpc => rpc.ms - inner.map(_.ms).sum)
    }
    val rpcs = byName("rpc")
    val gets = byName("store.get")
    val reads = gets ++ byName("store.find") ++ byName("store.list")
    val writes = byName("store.write")
    val runs = spans.filter(_.name.startsWith("oracle.run."))
    val payloads = byName("oracle.payload")
    val jsRuns = byName("oracle.run.js")
    val sims = byName("oracle.run.sim")
    val fedRuns = byName("federation.run")
    def fanOut(name: String)(f: Seq[Span] => Option[Double]) =
      med(fedRuns.flatMap(r => f(children(r.id).filter(_.name == name))))

    Seq(
      ("service.transport_ms", med(transport), "ms"),
      ("service.resp_bytes", mean(rpcs.map(_.attrs.getOrElse("bytes", 0.0))), "bytes"),
      ("store.get_ms", med(gets.map(_.ms)), "ms"),
      ("store.find_ms", med(byName("store.find").map(_.ms)), "ms"),
      ("store.list_ms", med(byName("store.list").map(_.ms)), "ms"),
      ("store.jobs_per_get", jobCount(gets), "count"),
      ("store.tasks_per_get", taskCount(gets), "count"),
      ("store.rows_read_per_row_returned",
        ratio(reads.map(s => counts.rowsRead(jobs(s)).toDouble).sum, attr(reads, "rows")),
        "ratio"),
      ("store.write_ms", med(writes.map(_.ms)), "ms"),
      ("store.jobs_per_write", jobCount(writes), "count"),
      ("store.tasks_per_write", taskCount(writes), "count"),
      ("oracle.run_ms", med(runs.map(_.ms)), "ms"),
      ("oracle.jobs_per_run", jobCount(runs), "count"),
      ("oracle.executor_ms_per_run",
        mean(runs.map(jobs(_).map(_.executorMs.get).sum.toDouble)), "ms"),
      ("oracle.payload_ms", med(payloads.map(_.ms)), "ms"),
      ("oracle.payload_ratio", ratio(attr(payloads, "wire"), attr(payloads, "raw")), "ratio"),
      ("js.compile_ms", med(byName("js.compile").map(_.ms)), "ms"),
      ("js.run_ms", med(jsRuns.map(s =>
        s.ms - jobs(s).map(j => (j.endMs - j.startMs).toDouble).sum)), "ms"),
      ("js.rows_pulled_per_run", mean(jsRuns.map(s => counts.rowsRead(jobs(s)).toDouble)),
        "rows"),
      ("functions.rows_scored_per_executor_s", ratio(attr(sims, "scored"),
        sims.map(jobs(_).map(_.executorMs.get).sum).sum / 1000.0), "rows/s"),
      ("federation.run_ms", med(fedRuns.map(_.ms)), "ms"),
      ("federation.patch_ms", med(fedRuns.flatMap(r =>
        children(r.id).filter(_.name == "federation.node_create").map(_.startNs)
          .minOption.map(t => (t - r.startNs) / 1e6))), "ms"),
      ("federation.node_run_max_ms",
        fanOut("federation.node_run")(ks => ks.map(_.ms).maxOption), "ms"),
      ("federation.node_run_min_ms",
        fanOut("federation.node_run")(ks => ks.map(_.ms).minOption), "ms"),
      ("federation.get_ms", med(byName("federation.get").map(_.ms)), "ms"))
  }
}

