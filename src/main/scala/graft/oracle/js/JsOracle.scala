package graft.oracle.js

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.json4s._

import graft.functions.VectorMath
import graft.model.SumRecord
import graft.oracle.{Oracle, OracleContext, OracleRunError}
import graft.store.RecordStore
import JsInterp.{Env, toNum, toStr}
import JsLang._

/** Compile and run the reference's stored-JavaScript oracles for real.
  *
  * The reference compiles oracle code with otto (node/service/compiler.go):
  * parse, take the FIRST top-level function declaration as the entry
  * point (error "expected a function declaration" otherwise), run the
  * program once to surface definition-time errors (e.g. ReferenceError),
  * and record the declared parameter names. Each run then sets `records`,
  * `ctx` and the JSON-decoded args as globals on a fresh VM and calls the
  * entry function (node/service/compiled.go:44-99). A later top-level
  * function whose name starts with "merge" and that takes exactly one
  * argument is the distributed-merge hook (master/ast_raccoon.go:72-87).
  *
  * This is the same contract over [[JsInterp]]. The program compiles
  * once per oracle ([[JsCompiler]]: scopes resolved to frame slots, ES5
  * function-scoped `var`s), and every run, merger call and partition run
  * executes that one immutable program over fresh frames: the globals
  * start as a copy of one shared builtin table, with a fresh `Math` and
  * the host objects, the top level runs again (top-level state therefore
  * resets per run — the reference clones the compile-time VM per run,
  * which resets it the same way; a top level of function declarations
  * only just binds them), and the entry call's result is marshaled with
  * Go's JSON conventions.
  *
  * A record reaches JS the way record.go wraps it: one small wrapper
  * object over the stored [[SumRecord]], with no copy of its data. The
  * record methods live in one table shared by every wrapper, and their
  * math reads both records' float arrays through [[VectorMath]]'s
  * float-range kernels.
  *
  * One deliberate difference: `record.SetData` mutates only the oracle's
  * wrapper, never the store — graft's store is an immutable Dataset with
  * explicit update verbs, while the reference's wrapper aliases the
  * in-memory protobuf until the next flush. No reference test oracle
  * relies on SetData persistence.
  */
object JsOracle {

  /** The run error for runaway recursion. The interpreter recurses on the
    * JVM stack, so a JS call chain deeper than the thread's stack ends in
    * a StackOverflowError; every run boundary maps it to the error ES5
    * engines raise (see [[JsFailure]]). sumd's otto has no such bound.
    */
  val StackOverflow = "RangeError: Maximum call stack size exceeded"

  /** The message of a failure a JS run ends in, the one mapping every run
    * boundary (definition-time run, entry call, merger, partition run)
    * wraps in its own error: an uncaught JS `throw` reads as the thrown
    * value's export, like otto (a thrown string is the bare string); a
    * host or step-budget error as its message; runaway recursion as
    * [[StackOverflow]]. Anything else is not a JS failure.
    */
  private object JsFailure {
    def unapply(t: Throwable): Option[String] = t match {
      case JsThrow(v)                        => Some(JsInterp.throwMessage(v))
      case OracleRunError(m)                 => Some(m)
      case graft.oracle.OracleBudgetError(m) => Some(m)
      case _: StackOverflowError             => Some(StackOverflow)
      case _                                 => None
    }
  }

  /** A validated oracle, and the registry body of a JS oracle: applied,
    * it binds the store + context as host globals and calls the entry
    * function with the JSON args. `program` is compiled from the AST once,
    * where the oracle is compiled, and again in each Spark task that
    * deserializes a copy ([[runDistributed]] ships the AST).
    */
  final class Compiled private[JsOracle] (val entry: String,
      val params: Seq[String], private[JsOracle] val merger: Option[MergerDecl],
      ast: Seq[Stmt])
      extends ((OracleContext, RecordStore, Seq[JValue]) => JValue)
      with Serializable {
    @transient lazy val program: JsProgram = JsCompiler.compile(ast)

    def apply(ctx: OracleContext, store: RecordStore, args: Seq[JValue]): JValue = {
      val interp = new JsInterp()
      val env = globals()
      env.declare("records", recordsHost(interp, store))
      env.declare("ctx", ctxHost(ctx))
      try {
        val result = callEntry(interp, env, this, args)
        if (ctx.isError) JNull else JsInterp.toJson(result)
      } catch {
        case JsFailure(m) => throw OracleRunError(m)
      }
    }
  }

  /** The `merge*` hook's name and its single declared parameter — the
    * reference sets the param as a VM GLOBAL before re-running the whole
    * program source (master/mux_runner.go:169-178), so top-level code can
    * see it; we replicate that binding order.
    */
  private final case class MergerDecl(name: String, param: String)

  private def parse(code: String): Either[String, Seq[Stmt]] =
    try Right(JsLang.parse(code))
    catch {
      case ParseError(m)         => Left(m)
      case _: StackOverflowError => Left(StackOverflow)
    }

  /** Validate a parsed program, mirroring the reference compiler's checks
    * and its error message for code with no function declaration
    * (node/service/compiler_test.go:15-19).
    */
  private def compileSource(program: Seq[Stmt]): Either[String, Compiled] = {
    val decls = program.collect { case f: FuncDecl => f }
    decls.headOption match {
      case None => Left("expected a function declaration")
      case Some(entry) =>
        val merger = decls.drop(1)
          .find(f => f.name.startsWith("merge") && f.params.size == 1)
          .map(f => MergerDecl(f.name, f.params.head))
        val c = new Compiled(entry.name, entry.params, merger, program)
        // Definition-time run: no host globals, exactly like the
        // reference's compile-time vm.Run (records/ctx are set per run) —
        // `function imok(){} imnot = not_defined + 1;` rejects HERE.
        try c.program.run(new JsInterp(), globals())
        catch {
          case JsFailure(m) => return Left(m)
          case e: Exception => return Left(e.getMessage)
        }
        Right(c)
    }
  }

  /** Compile to a registry [[Oracle]] whose body is the [[Compiled]]
    * program; the merger (if declared) receives the array of partial
    * results.
    */
  def compile(name: String, code: String): Either[String, Oracle] =
    parse(code).flatMap(compile(name, code, _))

  /** [[compile]] over the already parsed `program` of `code`. */
  def compile(name: String, code: String,
      program: Seq[Stmt]): Either[String, Oracle] =
    compileSource(program).map(c =>
      Oracle(0, name, c.params, c, buildMerger(c), Some(code)))

  /** One run of the entry on `env`, which holds the host globals: the
    * program re-executes (top-level state resets per run), the params bind
    * to the JSON args (missing -> null), and the entry is called.
    */
  private def callEntry(interp: JsInterp, env: Env, c: Compiled,
      args: Seq[JValue]): JsVal = {
    c.program.run(interp, env)
    c.params.zipWithIndex.foreach { case (p, i) =>
      env.declare(p, JsInterp.fromJson(args.lift(i).getOrElse(JNull)))
    }
    val entry = env.lookup(c.entry).getOrElse(
      throw OracleRunError(s"ReferenceError: '${c.entry}' is not defined"))
    interp.callFunction(entry, c.params.map(p => env.lookup(p).getOrElse(JsNull)))
  }

  /** The merger closure, replicating the reference merger VM
    * (master/mux_runner.go:159-193): the partials array and `ctx` are
    * GLOBALS visible to the re-executed program, a ctx.Error inside the
    * merger fails the merge with "merger function failed: <msg>", and a
    * VM error fails it with "unable to run merger function: <err>".
    */
  private def buildMerger(c: Compiled): Option[Seq[JValue] => JValue] =
    c.merger.map { m => partials =>
      val interp = new JsInterp()
      val env = globals()
      val ctx = new OracleContext
      val arr = new JsArr
      partials.foreach(p => arr.items += JsInterp.fromJson(p))
      env.declare(m.param, arr)
      env.declare("ctx", ctxHost(ctx))
      val result =
        try {
          c.program.run(interp, env)
          val fn = env.lookup(m.name).getOrElse(
            throw OracleRunError(s"ReferenceError: '${m.name}' is not defined"))
          interp.callFunction(fn,
            Seq(env.lookup(m.param).getOrElse(arr)))
        } catch {
          case JsFailure(msg) => throw graft.oracle.Merge.MergerFailure(
            s"unable to run merger function: $msg")
        }
      if (ctx.isError)
        throw graft.oracle.Merge.MergerFailure(
          s"merger function failed: ${ctx.message}")
      JsInterp.toJson(result)
    }

  /** Run the entry PER PARTITION on executors — graft's mapping of the
    * reference master's scatter-gather (master/mux_runner.go:82-155):
    * each Spark partition is a "node" whose `records` host exposes only
    * that partition's records, the interpreter runs the entry there, its
    * JSON partial (or error) returns to the driver, and the partials fold
    * through the stored `merge*` hook or the default tri-state merger.
    * The driver-pull cap does NOT bound this path — a partition
    * materializes only inside its executor task, never on the driver;
    * only the compact JSON partial travels back.
    *
    * Per-node errors aggregate in the master's wire format:
    * "Errors from nodes: [error while running oracle <id>: <msg>, …]"
    * (master/mux_runner.go:120-151, pinned by service_test.go:660).
    * `c` is the program the registry compiled; nothing is parsed here.
    */
  def runDistributed(id: Long, c: Compiled, store: RecordStore,
      args: Seq[JValue]): Either[String, JValue] = {
    val argVals: Seq[JValue] =
      c.params.indices.map(i => args.lift(i).getOrElse(JNull))
    val spark = store.records.sparkSession
    import spark.implicits._
    val partials: Seq[(Boolean, String)] =
      store.records.mapPartitions { it =>
        val interp = new JsInterp()
        val env = globals()
        val ctx = new OracleContext
        // LAZY partition view: the partition materializes into executor
        // heap only if the oracle actually uses random access
        // (records.Find/All/AllBut — the reference node's all-in-memory
        // shape, node/storage/records.go). A records.ForEach-only oracle
        // streams the iterator directly, bounding memory at ONE record
        // regardless of partition size.
        var buffered: Vector[SumRecord] = null
        var streamed = false
        def all(): Seq[SumRecord] = {
          if (buffered == null) {
            if (streamed) throw OracleRunError(
              "records.ForEach already consumed this partition's " +
                "stream; call Find/All/AllBut before ForEach, or use " +
                "ForEach exclusively")
            buffered = it.toVector.sortBy(_.id)
          }
          buffered
        }
        def each(f: SumRecord => Unit): Unit =
          if (buffered != null) buffered.foreach(f)
          else if (streamed) throw OracleRunError(
            "records.ForEach already consumed this partition's stream")
          else { streamed = true; it.foreach(f) }
        env.declare("records", seqRecordsHost(interp,
          id => all().find(_.id == id), () => all(), Some(each)))
        env.declare("ctx", ctxHost(ctx))
        val out =
          try {
            val result = callEntry(interp, env, c, argVals)
            if (ctx.isError) (false, ctx.message)
            else graft.oracle.Merge.toWire(JsInterp.toJson(result))
              .fold((false, _), (true, _))
          } catch {
            case JsFailure(m) => (false, m)
            // Spark-internal failures must PROPAGATE: the partition
            // iterator is a shuffle read, and a FetchFailedException
            // thrown while the oracle consumes it is Spark's stage-retry
            // signal — reporting it as a per-node oracle error would
            // turn a transient, recoverable shuffle failure into a bogus
            // "Errors from nodes" query failure (harmless in local mode,
            // wrong on any cluster).
            case e if e.getClass.getName.startsWith("org.apache.spark") =>
              throw e
            // A defect in the interpreter/host layer (e.g. an
            // unanticipated java.time edge) must surface as the
            // reference's per-node error, not fail the Spark task with
            // a raw executor exception (master/mux_runner.go:120-151
            // wraps ANY node error the same way).
            case scala.util.control.NonFatal(e) =>
              (false, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}")
          }
        Iterator.single(out)
      }.collect().toSeq
    val errors = partials.collect { case (false, m) => m }
    if (errors.nonEmpty)
      Left("Errors from nodes: [" +
        errors.map(m => s"error while running oracle $id: $m")
          .mkString(", ") + "]")
    else {
      val vals = partials.map { case (_, s) =>
        org.json4s.jackson.JsonMethods.parse(s) }
      graft.oracle.Merge.merge(vals, buildMerger(c))
    }
  }

  // ----------------------------------------------------------- host: ctx
  private def ctxHost(ctx: OracleContext): JsHost =
    new JsHost("Context", Map(
      "Error" -> { args =>
        ctx.error(args.headOption.map(toStr).getOrElse(""))
        JsUndef
      },
      "IsError" -> { _ => JsBool(ctx.isError) },
      "Message" -> { _ => JsStr(ctx.message) }))

  // ------------------------------------------------------- host: records
  /** Driver-side `records` host over the whole store: Find and All/AllBut
    * are the store's point lookup and capped id-sorted read.
    */
  private def recordsHost(interp: JsInterp, store: RecordStore): JsHost = {
    def all(): Seq[SumRecord] =
      try store.all()
      catch {
        case e: RecordStore.CollectCapExceeded => throw OracleRunError(
          s"records.All() would materialize more than ${e.cap} rows on the " +
            "driver; raise graft.store.maxCollectRows, or run through " +
            "runDistributed where each partition materializes only on its " +
            "executor")
      }
    seqRecordsHost(interp, store.find, () => all())
  }

  /** Step budget granted per record the host serves: the interpreter
    * budget then bounds work per record touched, not per run, so linear
    * passes scale with the corpus (JsInterp.grantSteps). 10k steps per
    * record is ~2 orders above a heavy per-record callback (a 64-dim
    * cosine in pure JS is ~500 steps).
    */
  private val StepsPerRecord = 10000L

  /** The `records` host over a pluggable record view — the partition-local
    * form [[runDistributed]] builds on executors plugs a lazy view in here.
    * `eachFn` (when given) backs a streaming `records.ForEach(fn)` that
    * visits records one at a time WITHOUT materializing the view — the
    * scale path for linear-pass oracles; elsewhere ForEach folds over the
    * materialized view for API uniformity.
    */
  private def seqRecordsHost(interp: JsInterp,
      findFn: Long => Option[SumRecord],
      allFn: () => Seq[SumRecord],
      eachFn: Option[(SumRecord => Unit) => Unit] = None): JsHost = {
    /** The wrapped records of the view that `keep` accepts. */
    def wrapAll(keep: SumRecord => Boolean): JsArr = {
      val recs = allFn()
      val a = new JsArr
      a.items.sizeHint(recs.length)
      recs.foreach(r => if (keep(r)) a.items += new RecordHost(r))
      interp.grantSteps(StepsPerRecord * a.items.length)
      a
    }
    new JsHost("Records", Map(
      "ForEach" -> { args =>
        val fn = args.headOption.getOrElse(
          throw OracleRunError("TypeError: undefined is not a function"))
        val visit: SumRecord => Unit = r => {
          interp.grantSteps(StepsPerRecord)
          interp.callFunction(fn, Seq(new RecordHost(r)))
          ()
        }
        eachFn match {
          case Some(each) => each(visit)
          case None       => allFn().foreach(visit)
        }
        JsUndef
      },
      "Find" -> { args =>
        val id = toNum(args.headOption.getOrElse(JsNum(0))).toLong
        new RecordHost(findFn(id).orNull)
      },
      "All" -> { _ => wrapAll(_ => true) },
      "AllBut" -> { args =>
        args.headOption match {
          case Some(r: RecordHost) =>
            val excluded = if (r.rec == null) 0L else r.rec.id
            wrapAll(_.id != excluded)
          case _ => wrapAll(_ => true)
        }
      },
      "CreateRecord" -> { args =>
        // wrapper.Records.CreateRecord: wraps raw data WITHOUT storing it
        // (node/wrapper/records.go:60-66) — a scratch record for the
        // oracle's own math.
        new RecordHost(SumRecord(0L, floatsOf(args.headOption)))
      },
      "New" -> { args =>
        // wrapper.Records.New (node/wrapper/records.go:24-26): wrap a
        // record OBJECT without touching the store — the target of the
        // master's patched `records.New({...})` / `records.New(null)`
        // call sites (master/ast_raccoon.go:138-141). Null wraps the
        // null record (IsNull()==true), exactly WrapRecord(nil).
        new RecordHost(args.headOption match {
          case Some(o: JsObj) => objToRecord(o)
          case _              => null
        })
      }))
  }

  /** A JS record literal (`{id:…, data:[…], shape:[…], meta:{…}}` — the
    * JSON shape the master serialises resolved records into) back to a
    * [[SumRecord]]. Absent fields default like an empty protobuf record.
    */
  private def objToRecord(o: JsObj): SumRecord = {
    def arr(name: String): Seq[JsVal] = o.fields.get(name) match {
      case Some(a: JsArr) => a.items.toSeq
      case _              => Seq.empty
    }
    val data = arr("data").map(v => toNum(v).toFloat).toArray
    val shape0 = arr("shape").map(v => toNum(v).toLong).toArray
    val meta = o.fields.get("meta") match {
      case Some(m: JsObj) =>
        m.fields.map { case (k, v) => k -> toStr(v) }.toMap
      case _ => Map.empty[String, String]
    }
    SumRecord(
      o.fields.get("id").map(v => toNum(v).toLong).getOrElse(0L),
      data,
      if (shape0.nonEmpty) shape0 else Array(data.length.toLong),
      meta)
  }

  // -------------------------------------------------------- host: record
  /** A wrapped record: one object over the store's [[SumRecord]] (`null`
    * is the null record a Find miss returns, node/wrapper/record.go:40-44),
    * its methods dispatched through the one [[RecordMethods]] table.
    * `SetData` swaps in a copy with new data for this wrapper only.
    */
  private final class RecordHost(var rec: SumRecord)
      extends JsHost("Record", Map.empty) {
    override def prop(nm: String): Option[JsVal] = nm match {
      case "ID" | "Id" => Some(JsNum(if (rec == null) 0.0 else rec.id.toDouble))
      case "Size" => Some(JsNum(if (rec == null) 0.0 else rec.data.length.toDouble))
      case _ => None
    }
    override def hasMethod(nm: String): Boolean = RecordMethods.containsKey(nm)
    override def invoke(nm: String, args: Seq[JsVal]): JsVal =
      RecordMethods.get(nm)(this, args)
  }

  private def own(r: RecordHost): Array[Float] =
    if (r.rec == null) throw OracleRunError("TypeError: null record")
    else r.rec.data

  /** The other record's data; a null record reads as empty. */
  private def dataOf(v: JsVal): Array[Float] = v match {
    case o: RecordHost => if (o.rec == null) Array.emptyFloatArray else o.rec.data
    case _ => throw OracleRunError("TypeError: expected a record")
  }

  private def argNum(args: Seq[JsVal], i: Int): Int =
    toNum(args.lift(i).getOrElse(JsNum(0))).toInt

  /** A range method's start. The float-range kernels index from it
    * unchecked, so a negative one is refused here, with a message that
    * does not depend on how the JVM reports an array bound.
    */
  private def rangeStart(args: Seq[JsVal]): Int = {
    val start = argNum(args, 1)
    if (start < 0) throw OracleRunError(s"RangeError: range start $start is negative")
    start
  }

  private def floatsOf(v: Option[JsVal]): Array[Float] = v match {
    case Some(a: JsArr) => a.items.map(x => toNum(x).toFloat).toArray
    case _              => Array.emptyFloatArray
  }

  /** The record methods, shared by every wrapper in the JVM. The math is
    * record.go's over [[VectorMath]]'s float-range kernels: float64
    * accumulation, the cosine zero-magnitude guard, the m11/(m11+m10)
    * jaccard with the (a+b)==1 mismatch rule. The unranged forms run to
    * `Int.MaxValue`, which the kernels clip to each array's length. A
    * Java map, as every record method call looks its name up twice.
    */
  private val RecordMethods = new java.util.HashMap[String, (RecordHost, Seq[JsVal]) => JsVal](
    Map[String, (RecordHost, Seq[JsVal]) => JsVal](
    "IsNull" -> { (r, _) => JsBool(r.rec == null) },
    "Is" -> { (r, args) =>
      JsBool(r.rec != null && (args.headOption match {
        case Some(o: RecordHost) => o.rec != null && o.rec.id == r.rec.id
        case _ => false
      }))
    },
    "SetData" -> { (r, args) =>
      val data = floatsOf(args.headOption)
      r.rec = if (r.rec == null) SumRecord(0L, data) else r.rec.copy(data = data)
      JsUndef
    },
    "Get" -> { (r, args) =>
      val data = own(r)
      val i = argNum(args, 0)
      if (i < 0 || i >= data.length)
        throw OracleRunError(s"index $i out of range")
      JsNum(data(i).toDouble)
    },
    "Meta" -> { (r, args) =>
      val key = args.headOption.map(toStr).getOrElse("")
      JsStr(if (r.rec == null) "" else r.rec.metaValue(key))
    },
    "Equal" -> { (r, args) => JsBool(own(r).sameElements(dataOf(args.head))) },
    "Dot" -> { (r, args) =>
      val b = dataOf(args.head)
      JsNum(VectorMath.dot(own(r), b, 0, Int.MaxValue))
    },
    "DotRange" -> { (r, args) =>
      JsNum(VectorMath.dot(own(r), dataOf(args.head), rangeStart(args), argNum(args, 2)))
    },
    "DotSub" -> { (r, args) =>
      JsNum(VectorMath.dot(own(r), dataOf(args.head), 0, argNum(args, 1)))
    },
    "Magnitude" -> { (r, _) =>
      val d = own(r)
      JsNum(math.sqrt(VectorMath.dot(d, d, 0, Int.MaxValue)))
    },
    // Each norm runs over its own whole vector, so two records' cached
    // norms give the one-pass kernel's bits. A record fresh per read (a
    // Dataset-backed store's) pays a norm pass besides the dot pass.
    "Cosine" -> { (r, args) =>
      val b = dataOf(args.head)
      val a = own(r)
      JsNum(args.head match {
        case o: RecordHost if o.rec != null =>
          VectorMath.cosineOf(VectorMath.dot(a, b, 0, Int.MaxValue),
            r.rec.squaredNorm, o.rec.squaredNorm)
        case _ => VectorMath.cosine(a, b, 0, Int.MaxValue)
      })
    },
    "CosineSub" -> { (r, args) =>
      JsNum(VectorMath.cosine(own(r), dataOf(args.head), 0, argNum(args, 1)))
    },
    "CosineRange" -> { (r, args) =>
      JsNum(VectorMath.cosine(own(r), dataOf(args.head), rangeStart(args), argNum(args, 2)))
    },
    "Jaccard" -> { (r, args) =>
      val b = dataOf(args.head)
      JsNum(VectorMath.jaccard(own(r), b, 0, Int.MaxValue))
    },
    "JaccardRange" -> { (r, args) =>
      JsNum(VectorMath.jaccard(own(r), dataOf(args.head), rangeStart(args), argNum(args, 2)))
    }).asJava)

  // ------------------------------------------------------------- globals
  /** The globals every VM gets: the shared builtins and a fresh `Math`,
    * whose `random` is seeded 42 on each run, so runs are deterministic.
    */
  private def globals(): Env = {
    val env = new Env(Builtins)
    val rnd = new java.util.Random(42)
    env.declare("Math", new JsHost("Math",
      MathMethods + ("random" -> (_ => JsNum(rnd.nextDouble()))), MathProps))
    env
  }

  private def n1(name: String)(f: Double => Double): (String, Seq[JsVal] => JsVal) =
    name -> { args => JsNum(f(toNum(args.headOption.getOrElse(JsUndef)))) }

  private val MathMethods: Map[String, Seq[JsVal] => JsVal] = Map(
    n1("sqrt")(math.sqrt), n1("abs")(math.abs),
    n1("floor")(math.floor), n1("ceil")(math.ceil),
    n1("round")(JsInterp.round),
    n1("exp")(math.exp), n1("log")(math.log),
    n1("sin")(math.sin), n1("cos")(math.cos), n1("tan")(math.tan),
    n1("asin")(math.asin), n1("acos")(math.acos), n1("atan")(math.atan),
    "atan2" -> { args =>
      JsNum(math.atan2(toNum(args.head), toNum(args(1)))) },
    "pow" -> { args =>
      JsNum(math.pow(toNum(args.head), toNum(args(1)))) },
    // java.lang.Math's min/max: NaN if any argument is NaN, and
    // -0 below +0 (ES5 15.8.2.11-12)
    "min" -> { args =>
      JsNum(args.map(toNum).foldLeft(Double.PositiveInfinity)(math.min)) },
    "max" -> { args =>
      JsNum(args.map(toNum).foldLeft(Double.NegativeInfinity)(math.max)) })

  private val MathProps: Map[String, () => JsVal] = Map(
    "PI" -> (() => JsNum(math.Pi)),
    "E"  -> (() => JsNum(math.E)),
    "LN2"     -> (() => JsNum(math.log(2))),
    "LN10"    -> (() => JsNum(math.log(10))),
    "LOG2E"   -> (() => JsNum(1.0 / math.log(2))),
    "LOG10E"  -> (() => JsNum(1.0 / math.log(10))),
    "SQRT2"   -> (() => JsNum(math.sqrt(2))),
    "SQRT1_2" -> (() => JsNum(math.sqrt(0.5))))

  /** Every builtin global but `Math`, built once and shared by every run
    * and thread: each run's globals start as a copy, and JS cannot write
    * into a [[JsNative]] or a [[JsHost]].
    */
  private val Builtins: java.util.Map[String, JsVal] = {
    val env = new java.util.HashMap[String, JsVal]
    env.put("JSON", new JsHost("JSON", Map(
      "parse" -> { args =>
        val raw = toStr(args.headOption.getOrElse(JsUndef))
        try JsInterp.fromJson(org.json4s.jackson.JsonMethods.parse(raw))
        catch {
          case e: Exception =>
            throw OracleRunError(s"SyntaxError: ${e.getMessage}")
        }
      },
      "stringify" -> { args =>
        // the 2nd (replacer) argument is accepted and ignored; the 3rd is
        // the ES5 space argument (number of spaces, capped at 10, or a
        // literal indent string)
        val indent = args.lift(2) match {
          case Some(JsNum(d)) if d >= 1 => " " * math.min(10, d.toInt)
          case Some(JsStr(s))           => s.take(10)
          case _                        => ""
        }
        JsInterp.jsonStringify(args.headOption.getOrElse(JsUndef), indent)
          .map(JsStr(_)).getOrElse(JsUndef)
      })))
    env.put("Object", new JsHost("Object", Map(
      "keys" -> { args =>
        val a = new JsArr
        args.headOption match {
          case Some(o: JsObj) =>
            // OWN ENUMERABLE keys only (ES5 15.2.3.14): inherited ones are
            // for-in's business, and the auto-seeded `constructor` on a
            // default function prototype is non-enumerable
            o.fields.keys.foreach(k =>
              if (!o.nonEnumerable.contains(k)) a.items += JsStr(k))
          case Some(arr: JsArr) => arr.items.indices.foreach(i => a.items += JsStr(i.toString))
          case _ => ()
        }
        a
      })))
    // ES5 15.1.3 URI handling: encode over UTF-8 bytes with the spec's
    // unescaped sets; decode rejects malformed %-sequences with URIError.
    val uriMark = "-_.!~*'()"
    val uriReserved = ";/?:@&=+$,#"
    def uriEncode(name: String, keep: String) =
      new JsNative(name, 1, { args =>
        val s = toStr(args.headOption.getOrElse(JsUndef))
        val sb = new StringBuilder
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
          val c = (b & 0xff).toChar
          if (c.isLetterOrDigit && c < 128 || keep.indexOf(c) >= 0)
            sb.append(c)
          else sb.append(f"%%${b & 0xff}%02X")
        }
        JsStr(sb.toString)
      })
    def uriDecode(name: String, keepEncoded: String) =
      new JsNative(name, 1, { args =>
        val s = toStr(args.headOption.getOrElse(JsUndef))
        val bytes = new java.io.ByteArrayOutputStream
        // STRICT hex digits only: Integer.parseInt would accept "+f"
        // (signed hex), which ES5 15.1.3 rejects as URIError
        def hexDigit(c: Char): Boolean =
          (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
          (c >= 'A' && c <= 'F')
        var i = 0
        while (i < s.length) {
          val c = s.charAt(i)
          if (c == '%') {
            if (i + 3 > s.length ||
                !hexDigit(s.charAt(i + 1)) || !hexDigit(s.charAt(i + 2)))
              throw OracleRunError("URIError: URI malformed")
            val hex = s.substring(i + 1, i + 3)
            val v = Integer.parseInt(hex, 16)
            // decodeURI keeps reserved characters percent-encoded
            if (v < 128 && keepEncoded.indexOf(v.toChar) >= 0) {
              bytes.write('%'); bytes.write(hex.charAt(0))
              bytes.write(hex.charAt(1))
            } else bytes.write(v)
            i += 3
          } else {
            bytes.write(c.toString
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            i += 1
          }
        }
        // Invalid UTF-8 percent-sequences (e.g. a lone %FF) are URIError
        // in ES5/otto, not U+FFFD replacement — decode REPORTing failures.
        val decoder = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        val out =
          try decoder.decode(java.nio.ByteBuffer.wrap(bytes.toByteArray))
          catch { case _: java.nio.charset.CharacterCodingException =>
            throw OracleRunError("URIError: URI malformed") }
        JsStr(out.toString)
      })
    env.put("encodeURIComponent", uriEncode("encodeURIComponent", uriMark))
    env.put("encodeURI", uriEncode("encodeURI", uriMark + uriReserved))
    env.put("decodeURIComponent", uriDecode("decodeURIComponent", ""))
    env.put("decodeURI", uriDecode("decodeURI", uriReserved))
    env.put("isNaN", new JsNative("isNaN", 1,
      args => JsBool(toNum(args.headOption.getOrElse(JsUndef)).isNaN)))
    env.put("isFinite", new JsNative("isFinite", 1, { args =>
      val d = toNum(args.headOption.getOrElse(JsUndef))
      JsBool(!d.isNaN && !d.isInfinite)
    }))
    // Constructible globals: `new X(...)` is special-cased by the
    // interpreter; these bindings make the plain-call forms (`Error(m)`,
    // `Array(1,2)`, `Boolean(v)`) and `instanceof X` work too.
    Seq("Error", "TypeError", "RangeError", "SyntaxError",
        "ReferenceError", "EvalError", "URIError").foreach { nm =>
      env.put(nm, new JsNative(nm, 1, args =>
        JsInterp.errorObj(nm, args.headOption.map(toStr).getOrElse(""))))
    }
    env.put("Array", new JsNative("Array", -1,
      args => JsInterp.newBuiltin("Array", args),
      statics = Map("isArray" -> new JsNative("isArray", 1,
        args => JsBool(args.headOption.exists(_.isInstanceOf[JsArr]))))))
    env.put("Boolean", new JsNative("Boolean", 1,
      args => JsBool(JsInterp.truthy(args.headOption.getOrElse(JsUndef)))))
    // `new Date(...)` is interpreter-special-cased; this binding carries
    // the statics, `instanceof Date`, and the ES5 plain-call form (which
    // ignores its arguments and returns the current time as a string)
    env.put("Date", new JsNative("Date", -1,
      _ => JsStr(JsInterp.toStr(
        new JsDate(System.currentTimeMillis.toDouble))),
      statics = Map(
        "now" -> new JsNative("now", 0,
          _ => JsNum(System.currentTimeMillis.toDouble)),
        "parse" -> new JsNative("parse", 1, args =>
          JsNum(JsInterp.dateParse(
            JsInterp.toStr(args.headOption.getOrElse(JsUndef))))),
        "UTC" -> new JsNative("UTC", -1, args =>
          JsNum(JsInterp.dateFromFields(args.map(JsInterp.toNum)))))))
    env.put("RegExp", new JsNative("RegExp", 2, args =>
      args.headOption match {
        case Some(re: JsRegex) => re // RegExp(re) returns it unchanged
        case other => JsInterp.mkRegex(other.map(toStr).getOrElse(""),
          args.lift(1).map(toStr).getOrElse(""))
      }))
    env.put("parseInt", new JsNative("parseInt", 2, { args =>
      // ES5 15.1.2.2: optional sign only at position 0, then an optional
      // 0x/0X prefix (radix absent or 16) switching to hex, then the
      // longest digit prefix valid in the radix; empty -> NaN.
      var s = toStr(args.headOption.getOrElse(JsUndef)).trim
      var sign = 1.0
      if (s.startsWith("-")) { sign = -1.0; s = s.substring(1) }
      else if (s.startsWith("+")) s = s.substring(1)
      var radix = args.lift(1).map(v => toNum(v).toInt).filter(_ != 0).getOrElse(0)
      if ((radix == 0 || radix == 16) &&
          (s.startsWith("0x") || s.startsWith("0X"))) {
        s = s.substring(2); radix = 16
      }
      if (radix == 0) radix = 10
      val m = s.takeWhile(c => Character.digit(c, radix) >= 0)
      if (m.isEmpty || radix < 2 || radix > 36) JsNum(Double.NaN)
      else {
        // digit-by-digit (not parseLong) so huge literals saturate into
        // doubles instead of overflowing
        var acc = 0.0
        m.foreach(c => acc = acc * radix + Character.digit(c, radix))
        JsNum(sign * acc)
      }
    }))
    env.put("parseFloat", new JsNative("parseFloat", 1, { args =>
      // ES5 15.1.2.3: the longest StrDecimalLiteral prefix, which may be
      // a signed Infinity
      val s = toStr(args.headOption.getOrElse(JsUndef)).trim
      val m = "^[+-]?(Infinity|(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?)".r.findFirstIn(s)
      JsNum(m.map(_.toDouble).getOrElse(Double.NaN))
    }))
    env.put("String", new JsNative("String", 1,
      args => JsStr(args.headOption.map(toStr).getOrElse("")),
      statics = Map("fromCharCode" -> new JsNative("fromCharCode", -1,
        // ES5 15.5.3.2: each code unit is ToUint16 of its argument
        args => JsStr(args.map(v => (JsInterp.toInt32(v) & 0xFFFF).toChar).mkString)))))
    env.put("Number", new JsNative("Number", 1,
      args => JsNum(args.headOption.map(toNum).getOrElse(0.0)),
      statics = Map(
        "MAX_VALUE" -> JsNum(Double.MaxValue),
        "MIN_VALUE" -> JsNum(java.lang.Double.MIN_VALUE),
        "POSITIVE_INFINITY" -> JsNum(Double.PositiveInfinity),
        "NEGATIVE_INFINITY" -> JsNum(Double.NegativeInfinity),
        "NaN" -> JsNum(Double.NaN))))
    java.util.Map.copyOf(env)
  }
}
