package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.model.SumRecord
import graft.oracle._
import graft.store.RecordStore

/** Oracle runtime + merge-semantics parity: canonical oracles against
  * hand-computed fixtures (master/service_test.go) and the defaultMerger
  * tri-state error modes (master/mux_runner.go:195-232).
  */
class OracleSpec extends SparkSpec {

  private def store3: RecordStore = RecordStore.fromRecords(spark, Seq(
    SumRecord(1, Array(1f, 0f, 0f), Map("name" -> "one")),
    SumRecord(2, Array(1f, 0f, 0f), Map("name" -> "two")),   // double of 1
    SumRecord(3, Array(0f, 1f, 0f), Map("name" -> "three"))))

  test("findSimilar returns {id -> sim} above threshold") {
    val reg = new OracleRegistry
    val o = reg.create(CanonicalOracles.findSimilar).toOption.get
    val out = reg.run(o.id, store3, Seq("1", "0.9")).toOption.get
    val parsed = JsonMethods.parse(out).asInstanceOf[JObject].obj.toMap
    assert(parsed.keySet === Set("2"))
    assert(parsed("2").asInstanceOf[JDouble].num === 1.0)
  }

  test("findSimilar on a missing record fails with the reference message") {
    val reg = new OracleRegistry
    val o = reg.create(CanonicalOracles.findSimilar).toOption.get
    assert(reg.run(o.id, store3, Seq("666", "0.5")) === Left("record 666 not found."))
  }

  test("findDoubles finds the equal-vector pair") {
    val reg = new OracleRegistry
    val o = reg.create(CanonicalOracles.findDoubles).toOption.get
    val out = reg.run(o.id, store3, Seq.empty).toOption.get
    assert(out === "[[1,2]]")
  }

  test("sumAllVectors sums element-wise") {
    val reg = new OracleRegistry
    val o = reg.create(CanonicalOracles.sumAllVectors).toOption.get
    val out = reg.run(o.id, store3, Seq.empty).toOption.get
    assert(out === "[2.0,1.0,0.0]")
  }

  test("sumAllVectors on an empty store returns an empty array") {
    val reg = new OracleRegistry
    val o = reg.create(CanonicalOracles.sumAllVectors).toOption.get
    assert(reg.run(o.id, RecordStore.empty(spark), Seq.empty) === Right("[]"))
  }

  test("sumAllVectors merger folds partials element-wise") {
    val parts = Seq("[1.0,2.0]", "[3.0,4.0]")
    val merged = graft.oracle.Merge.merge(parts, CanonicalOracles.sumAllVectors.merger)
    assert(merged.map(_.map(JsonMethods.parse(_))) ===
      Right(Right(JArray(List(JDouble(4.0), JDouble(6.0))))))
  }

  test("mapOfRecordNames builds the id->name map") {
    val reg = new OracleRegistry
    val o = reg.create(CanonicalOracles.mapOfRecordNames).toOption.get
    val out = reg.run(o.id, store3, Seq.empty).toOption.get
    val parsed = JsonMethods.parse(out).asInstanceOf[JObject].obj.toMap
    assert(parsed("1") === JString("one") && parsed("3") === JString("three"))
  }

  test("default merge: maps union; duplicate key conflicts (mux_runner.go:216)") {
    val ok = graft.oracle.Merge.defaultMerger(Seq("""{"a":1}""", """{"b":2}"""))
    assert(ok === Right("""{"a":1,"b":2}"""))
    val conflict = graft.oracle.Merge.defaultMerger(Seq("""{"a":1}""", """{"a":2}"""))
    assert(conflict ===
      Left("merge conflict: multiple results define key a: oldValue='1', newValue='2'"))
  }

  test("default merge: arrays concatenate") {
    val merged = graft.oracle.Merge.defaultMerger(Seq("[1]", "[2,3]"))
    assert(merged === Right("[1,2,3]"))
  }

  test("default merge: heterogeneous types error (mux_runner.go:205)") {
    val bad = graft.oracle.Merge.defaultMerger(Seq("{}", "[]"))
    assert(bad === Left(
      "heterogeneous results: prior results had type map, this one has type array"))
  }

  test("default merge: scalars demand a custom merger (mux_runner.go:230)") {
    val bad = graft.oracle.Merge.defaultMerger(Seq("1", "2"))
    assert(bad ===
      Left("type number is not supported for auto-merge, please provide a custom merge function"))
  }

  /** The tree merge the text merger replaced, kept as the parity model:
    * parse every partial, union or concatenate the trees, render.
    */
  private def treeMerge(results: Seq[JValue]): Either[String, JValue] = {
    def typeName(v: JValue): String = v match {
      case _: JObject => "map"
      case _: JArray  => "array"
      case _: JString => "string"
      case _: JBool   => "bool"
      case JNull      => "null"
      case _          => "number"
    }
    def shown(v: JValue): String = v match {
      case JString(s)  => s
      case JInt(i)     => i.toString
      case JDouble(d)  => d.toString
      case JBool(b)    => b.toString
      case JNull       => "null"
      case other       => JsonMethods.compact(JsonMethods.render(other))
    }
    if (results.isEmpty) return Right(JNull)
    val t0 = typeName(results.head)
    results.find(r => typeName(r) != t0).foreach { bad =>
      return Left(s"heterogeneous results: prior results had type $t0, " +
        s"this one has type ${typeName(bad)}")
    }
    results.head match {
      case _: JObject =>
        val acc = scala.collection.mutable.LinkedHashMap.empty[String, JValue]
        for (JObject(fields) <- results; (k, v) <- fields) {
          acc.get(k) match {
            case Some(v1) =>
              return Left("merge conflict: multiple results define key " +
                s"$k: oldValue='${shown(v1)}', newValue='${shown(v)}'")
            case None => acc(k) = v
          }
        }
        Right(JObject(acc.toList))
      case _: JArray =>
        Right(JArray(results.flatMap { case JArray(xs) => xs; case _ => Nil }.toList))
      case other =>
        Left(s"type ${typeName(other)} is not supported for auto-merge, " +
          "please provide a custom merge function")
    }
  }

  test("the text merger answers what parse, tree merge and render answer, keys sorted") {
    val rnd = new scala.util.Random(17)
    val texts = Vector("", "a", "Z", "é", "ключ", "日本語", "\uD83D\uDE00x", "q\"uote",
      "back\\slash", "nl\n", "tab\t", "ctl\u0001", "</tag>", "\u2028", "k1", "k10", "k2")
    def num(): JValue = rnd.nextInt(6) match {
      case 0 => JInt(rnd.nextInt(2001) - 1000)
      case 1 => JInt(BigInt(2).pow(53) + rnd.nextInt(1000))
      case 2 => JInt(-BigInt(2).pow(64) - rnd.nextInt(1000))
      case 3 => JDouble((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(40) - 20))
      case 4 => JDouble(math.pow(10, 16 + rnd.nextInt(8)) + rnd.nextInt(9) * 1e15)
      case _ => JLong(rnd.nextLong())
    }
    def key(space: Int): String =
      if (rnd.nextInt(4) == 0) texts(rnd.nextInt(texts.size)) else s"k${rnd.nextInt(space)}"
    def value(depth: Int): JValue = rnd.nextInt(if (depth > 2) 4 else 6) match {
      case 0 => num()
      case 1 => JString(texts(rnd.nextInt(texts.size)))
      case 2 => JBool(rnd.nextBoolean())
      case 3 => JNull
      case 4 => JArray(List.fill(rnd.nextInt(4))(value(depth + 1)))
      case _ => obj(depth + 1, 3)
    }
    def obj(depth: Int, space: Int): JObject =
      JObject(List.fill(rnd.nextInt(5))(key(space) -> value(depth)))
    val outcomes = (1 to 600).map { _ =>
      val space = Seq(4, 60, 100000)(rnd.nextInt(3))
      val parts = Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(10) match {
        case k if k < 6 => obj(0, space)
        case k if k < 9 => JArray(List.fill(rnd.nextInt(4))(value(0)))
        case _ => value(0)
      })
      val wire = parts.map(p => graft.oracle.Merge.toWire(p).fold(m => fail(m), w => w))
      val want = treeMerge(wire.map(w => JsonMethods.parse(w))).flatMap {
        case JObject(fs) => graft.oracle.Merge.toWire(JObject(fs.sortBy(_._1)))
        case v => graft.oracle.Merge.toWire(v)
      }
      assert(graft.oracle.Merge.defaultMerger(wire) === want, wire.mkString("partials: ", " | ", ""))
      want.isRight
    }
    // the seeded sets reach both merged results and every error kind
    assert(outcomes.count(ok => ok) > 100 && outcomes.count(ok => !ok) > 100)
  }

  test("user merger failure is reported (mux_runner.go:159-192)") {
    val boom: Seq[JValue] => JValue = _ => throw new RuntimeException("nope")
    val r = graft.oracle.Merge.merge(Seq("1"), Some(boom))
    assert(r === Left("merger function failed: nope"))
  }

  test("missing args decode to null; bad JSON is rejected (compiled.go:53-77)") {
    val reg = new OracleRegistry
    val echo = Oracle(0, "echo", Seq("x"),
      (_, _, args) => args.head)
    val o = reg.create(echo).toOption.get
    val store = RecordStore.empty(spark)
    assert(reg.run(o.id, store, Seq.empty) === Right("null"))
    assert(reg.run(o.id, store, Seq("{bad")).swap.toOption.get
      .startsWith("could not unmarshal value '{bad'"))
  }

  test("ctx.Error aborts the run with its message (context.go:9-48)") {
    val reg = new OracleRegistry
    val failing = Oracle(0, "failing", Seq.empty,
      (ctx, _, _) => { ctx.error("error!"); JNull })
    val o = reg.create(failing).toOption.get
    assert(reg.run(o.id, RecordStore.empty(spark), Seq.empty) === Left("error!"))
  }

  test("NaN/Inf results fail marshaling with the reference's message") {
    val reg = new OracleRegistry
    val store = RecordStore.empty(spark)
    val nan = reg.create(Oracle(0, "nan", Seq.empty,
      (_, _, _) => JDouble(Double.NaN))).toOption.get
    assert(reg.run(nan.id, store, Seq.empty) ===
      Left("json: unsupported value: NaN"))
    val inf = reg.create(Oracle(0, "inf", Seq.empty,
      (_, _, _) => JObject(List("x" -> JDouble(Double.PositiveInfinity))))).toOption.get
    assert(reg.run(inf.id, store, Seq.empty) ===
      Left("json: unsupported value: +Inf"))
    val ninf = reg.create(Oracle(0, "ninf", Seq.empty,
      (_, _, _) => JArray(List(JDouble(Double.NegativeInfinity))))).toOption.get
    assert(reg.run(ninf.id, store, Seq.empty) ===
      Left("json: unsupported value: -Inf"))
  }

  test("registry: find-by-name last match wins; pagination; delete") {
    val reg = new OracleRegistry
    val a1 = reg.create(Oracle(0, "x", Seq.empty, (_, _, _) => JInt(1))).toOption.get
    val a2 = reg.create(Oracle(0, "x", Seq.empty, (_, _, _) => JInt(2))).toOption.get
    assert(reg.findByName("x").toOption.get.id === a2.id)
    assert(reg.findByName("zz") === Left("oracle zz not found."))
    val (total, pages, page1) = reg.list(1, 1)
    assert(total === 2L && pages === 2L && page1.map(_.id) === Seq(a1.id))
    assert(reg.delete(a1.id).isRight)
    assert(reg.read(a1.id) === Left(s"oracle ${a1.id} not found."))
  }

  // ---- resident store parity ----------------------------------------------

  /** Components are multiples of 1/64, so every float64 sum is exact and
    * sumAllVectors can be compared exactly even though a Dataset adds its
    * per-partition partials in another order. Ragged lengths and a zero
    * vector exercise the sum's longer-length rule and cosine's 0.0 guard.
    */
  private val mixed: Seq[SumRecord] = {
    val rnd = new scala.util.Random(7)
    (1 to 200).map { i =>
      val dims = if (i % 50 == 0) 3 else if (i % 70 == 0) 11 else 8
      val data = if (i == 13) Array.fill(8)(0f)
        else Array.fill(dims)((rnd.nextInt(513) - 256) / 64f)
      SumRecord(i.toLong, data, Map("name" -> s"r$i"))
    }
  }

  private val readmeFindSimilar = """function findSimilar(id, threshold) {
  var v = records.Find(id);
  if (v.IsNull()) { return ctx.Error("Vector " + id + " not found."); }
  var all = records.AllBut(v);
  var results = {};
  for (var i = 0; i < all.length; i++) {
    var s = v.Cosine(all[i]);
    if (s >= threshold) results["" + all[i].ID] = s;
  }
  return results;
}"""

  private def suite(reg: OracleRegistry): Seq[(String, Long)] = {
    CanonicalOracles.registerAll(reg)
    val js = reg.createJs("findSimilarJs", readmeFindSimilar).fold(m => fail(m), identity)
    Seq("findSimilar" -> reg.findByName("findSimilar").toOption.get.id,
      "sumAllVectors" -> reg.findByName("sumAllVectors").toOption.get.id,
      "findSimilarJs" -> js.id)
  }

  test("resident and Dataset-path stores give identical oracle results") {
    val resident = RecordStore.fromRecords(spark, mixed)
    val onDataset = withConf(RecordStore.MaxCollectRowsKey, "100")(
      RecordStore.fromRecords(spark, mixed))
    assert(countJobs(resident.find(1L))._2 === 0)
    assert(countJobs(onDataset.find(1L))._2 > 0)
    val reg = new OracleRegistry
    val ids = suite(reg).toMap
    def parsed(out: Either[String, String]): JValue =
      JsonMethods.parse(out.fold(m => fail(m), identity))
    def asMap(v: JValue) = v.asInstanceOf[JObject].obj.toMap
    for (id <- Seq(1L, 13L, 50L, 70L, 140L); t <- Seq("-1", "0", "0.25", "0.9")) {
      val args = Seq(id.toString, t)
      for (name <- Seq("findSimilar", "findSimilarJs")) {
        val (a, b) = (reg.run(ids(name), resident, args), reg.run(ids(name), onDataset, args))
        assert(asMap(parsed(a)) === asMap(parsed(b)), s"$name($id, $t)")
      }
    }
    assert(asMap(parsed(reg.run(ids("findSimilar"), resident, Seq("1", "-1")))).size === 199)
    assert(reg.run(ids("findSimilar"), resident, Seq("999", "0")) ===
      reg.run(ids("findSimilar"), onDataset, Seq("999", "0")))
    assert(reg.run(ids("findSimilarJs"), resident, Seq("999", "0")) ===
      reg.run(ids("findSimilarJs"), onDataset, Seq("999", "0")))
    val sums = reg.run(ids("sumAllVectors"), resident, Seq.empty)
    assert(sums === reg.run(ids("sumAllVectors"), onDataset, Seq.empty))
    assert(parsed(sums).asInstanceOf[JArray].arr.size === 11)

    // two rows of the queries' length: one holding a NaN, one all -0.0
    // (the zero-magnitude guard); full outputs compared, errors included
    val specials = mixed ++ Seq(
      SumRecord(201L, Array(1f, 0.5f, Float.NaN, 2f, -1f, 0f, 3f, 0.25f)),
      SumRecord(202L, Array.fill(8)(-0.0f)))
    val resident2 = RecordStore.fromRecords(spark, specials)
    val onDataset2 = withConf(RecordStore.MaxCollectRowsKey, "100")(
      RecordStore.fromRecords(spark, specials))
    assert(countJobs(resident2.find(1L))._2 === 0)
    for (id <- Seq(1L, 13L, 50L, 201L, 202L); t <- Seq("-1", "0", "0.9");
         name <- Seq("findSimilar", "findSimilarJs")) {
      val args = Seq(id.toString, t)
      assert(reg.run(ids(name), resident2, args) === reg.run(ids(name), onDataset2, args),
        s"$name($id, $t)")
    }
  }

  test("a resident store serves reads and oracle runs with no Spark job") {
    val store = RecordStore.fromRecords(spark, mixed)
    val reg = new OracleRegistry
    val ids = suite(reg).toMap
    def jobs(f: => Any): Int = countJobs(f)._2
    assert(jobs(store.find(42L)) === 0, "find")
    assert(jobs(store.list(3, 25)) === 0, "list")
    assert(jobs(store.findBy("name", "r7")) === 0, "findBy")
    assert(jobs(store.size) === 0, "size")
    assert(jobs(reg.run(ids("findSimilar"), store, Seq("42", "0.5"))) === 0, "findSimilar")
    assert(jobs(reg.run(ids("sumAllVectors"), store, Seq.empty)) === 0, "sumAllVectors")
    val (js, jsJobs) = countJobs(reg.run(ids("findSimilarJs"), store, Seq("42", "0.5")))
    assert(js.isRight && jsJobs === 0, "stored-JS findSimilar")
  }

  test("one compiled JS oracle serves 4 concurrent runs, each over a fresh top level") {
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    val reg = new OracleRegistry
    val o = reg.createJs("counted", """var calls = 0;
      function entry(x) {
        var t = 0;
        for (var i = 0; i < 200; i++) t += x * i;
        return [x, t, ++calls];
      }""").fold(m => fail(m), identity)
    val store = store3
    val args = (1 to 4).map(t => (0 until 25).map(i => t * 100 + i))
    def runAll(xs: Seq[Int]) = xs.map(x => reg.run(o.id, store, Seq(x.toString)))
    val sequential = args.map(runAll)
    // `calls` is 1 in every result: each run starts from the top level
    sequential.zip(args).foreach { case (rs, xs) =>
      assert(rs === xs.map(x => Right(s"[$x,${x * 19900},1]")))
    }
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val running = args.map(xs => pool.submit(new Callable[Seq[Either[String, String]]] {
        def call(): Seq[Either[String, String]] = { start.await(); runAll(xs) }
      }))
      start.countDown()
      assert(running.map(_.get(120, TimeUnit.SECONDS)) === sequential)
    } finally pool.shutdownNow()
  }
}
