package graft

import graft.model.SumRecord
import graft.store.{RecordStore, StoreErrors}

/** CRUD semantics parity with node/storage/index.go + records.go and the
  * pagination rules of node/service/records.go:66-114.
  */
class RecordStoreSpec extends SparkSpec {

  private def rec(data: Float*): SumRecord =
    SumRecord(0, data.toArray)

  test("create assigns sequential ids starting at 1") {
    val s = RecordStore.empty(spark)
    val r1 = s.create(rec(1f)).toOption.get
    val r2 = s.create(rec(2f)).toOption.get
    assert(r1.id === 1L && r2.id === 2L && s.nextId === 3L)
    assert(s.size === 2L)
  }

  test("shape defaults to 1-D [len] (records.go:126-129)") {
    val s = RecordStore.empty(spark)
    val r = s.create(rec(1f, 2f, 3f)).toOption.get
    assert(r.shape.toSeq === Seq(3L))
  }

  test("createWithId rejects duplicate ids with the reference error") {
    val s = RecordStore.empty(spark)
    assert(s.createWithId(SumRecord(7, Array(1f))).isRight)
    assert(s.createWithId(SumRecord(7, Array(2f))) === Left(StoreErrors.InvalidId))
    // nextId advances past caller-assigned ids
    assert(s.create(rec(9f)).toOption.get.id === 8L)
  }

  test("createManyWithId is all-or-nothing (index.go:190-218)") {
    val s = RecordStore.empty(spark)
    assert(s.createWithId(SumRecord(2, Array(1f))).isRight)
    val batch = Seq(SumRecord(1, Array(1f)), SumRecord(2, Array(2f)))
    assert(s.createManyWithId(batch) === Left(StoreErrors.InvalidId))
    assert(s.size === 1L) // nothing from the failed batch is visible
    assert(s.find(1L).isEmpty)
  }

  test("update patches only filled fields (record_driver.go:32-45)") {
    val s = RecordStore.empty(spark)
    val orig = s.create(SumRecord(0, Array(1f, 2f), Map("name" -> "a"))).toOption.get
    val patched = s.update(SumRecord(orig.id, Array.emptyFloatArray,
      Array.emptyLongArray, Map("name" -> "b"))).toOption.get
    assert(patched.data.toSeq === Seq(1f, 2f)) // data kept
    assert(patched.meta === Map("name" -> "b")) // meta replaced
    val fresh = s.find(orig.id).get
    assert(fresh.meta === Map("name" -> "b"))
  }

  test("update/delete of a missing record returns the reference message") {
    val s = RecordStore.empty(spark)
    assert(s.delete(666L) === Left("record 666 not found."))
    assert(s.update(SumRecord(666, Array(1f))) === Left("record 666 not found."))
  }

  test("delete returns the removed record and shrinks the store") {
    val s = RecordStore.empty(spark)
    val r = s.create(rec(5f)).toOption.get
    assert(s.delete(r.id).toOption.get.data.toSeq === Seq(5f))
    assert(s.size === 0L)
  }

  test("findBy distinguishes never-indexed key from empty result (records.go:103-123)") {
    val s = RecordStore.empty(spark)
    s.create(SumRecord(0, Array(1f), Map("lang" -> "en")))
    assert(s.findBy("nope", "x") === None)          // key never indexed -> nil
    assert(s.findBy("lang", "zz") === Some(Seq.empty)) // indexed, no match -> empty
    assert(s.findBy("lang", "en").get.map(_.id) === Seq(1L))
  }

  test("pagination clamps, ceils, sorts by id, and empties out-of-range pages") {
    val s = RecordStore.fromRecords(spark,
      (1L to 7L).map(i => SumRecord(i, Array(i.toFloat))))
    val p1 = s.list(0, 3) // page clamps to 1
    assert(p1.total === 7L && p1.pages === 3L)
    assert(p1.records.map(_.id) === Seq(1L, 2L, 3L))
    val p3 = s.list(3, 3) // partial page
    assert(p3.records.map(_.id) === Seq(7L))
    val p9 = s.list(9, 3) // out of range
    assert(p9.records.isEmpty && p9.total === 7L && p9.pages === 3L)
    val clamped = s.list(1, 0) // perPage clamps to 1
    assert(clamped.records.map(_.id) === Seq(1L) && clamped.pages === 7L)
  }

  test("concurrent creates assign unique sequential ids (records_test.go concurrency)") {
    val s = RecordStore.empty(spark)
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val threads = (0 until 8).map { t =>
      new Thread(() => (0 until 4).foreach { i =>
        s.create(rec(t * 10f + i)) match {
          case Right(r) => ids.add(r.id)
          case Left(e)  => fail(s"create failed: $e")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(ids.size === 32) // all ids unique
    assert(s.size === 32L && s.nextId === 33L)
  }

  test("save/load round-trip restores records, nextId, and meta keys") {
    val s = RecordStore.empty(spark)
    s.create(SumRecord(0, Array(1f, 2f), Map("k" -> "v")))
    s.create(rec(3f))
    val loaded = roundTrip(s)
    assert(loaded.size === 2L && loaded.nextId === 3L)
    assert(loaded.findBy("k", "v").get.map(_.id) === Seq(1L))
  }

  /** Save `s`, load it back and check the loaded store keeps its records,
    * nextId and the findBy nil-vs-empty contract.
    */
  private def roundTrip(s: RecordStore): RecordStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString + "/r"
    s.save(dir)
    val loaded = RecordStore.load(spark, dir)
    assert(views(loaded.all()) === views(s.all()))
    assert(loaded.nextId === s.nextId)
    val keys = s.all().flatMap(r => Option(r.meta).toSeq.flatMap(_.toSeq))
    for ((key, value) <- keys :+ ("never" -> "x"))
      assert(loaded.findBy(key, value).map(views) === s.findBy(key, value).map(views),
        s"findBy($key, $value)")
    loaded
  }

  // ---- driver-resident snapshot -------------------------------------------

  /** Seeded records whose components are multiples of 1/64: every float64
    * sum of them is exact, so results that add in a different order (a
    * Dataset's per-partition partials) can still be compared exactly.
    */
  private def seeded(n: Int): Seq[SumRecord] = {
    val rnd = new scala.util.Random(42)
    (1 to n).map { i =>
      SumRecord(i.toLong, Array.fill(8)((rnd.nextInt(513) - 256) / 64f),
        Map("bucket" -> (i % 5).toString) ++
          (if (i % 3 == 0) Map("third" -> "yes") else Map.empty))
    }
  }

  private def view(r: SumRecord) = (r.id, r.data.toSeq, r.shape.toSeq, r.meta)
  private def views(rs: Seq[SumRecord]) = rs.map(view)

  /** The same records twice: resident, and on the Dataset path (built
    * with the cap below their count, then the cap restored).
    */
  private def residentAndNot(recs: Seq[SumRecord]): (RecordStore, RecordStore) = {
    val resident = RecordStore.fromRecords(spark, recs)
    val onDataset = withConf(RecordStore.MaxCollectRowsKey, (recs.size - 1).toString)(
      RecordStore.fromRecords(spark, recs))
    (resident, onDataset)
  }

  private def jobsOf(f: => Any): Int = countJobs(f)._2

  test("resident and Dataset-path stores answer find/findBy/list/size alike") {
    val (res, ds) = residentAndNot(seeded(60))
    assert(jobsOf(res.find(7L)) === 0)
    assert(jobsOf(ds.find(7L)) > 0, "the cap-built store must stay on the Dataset path")
    (Seq(0L, 1L, 2L, 31L, 59L, 60L, 61L, -3L)).foreach { id =>
      assert(res.find(id).map(view) === ds.find(id).map(view), s"find($id)")
    }
    for (key <- Seq("bucket", "third", "never"); value <- Seq("0", "3", "yes", "no"))
      assert(res.findBy(key, value).map(rs => views(rs.sortBy(_.id))) ===
        ds.findBy(key, value).map(rs => views(rs.sortBy(_.id))), s"findBy($key, $value)")
    for (page <- Seq(-1L, 1L, 2L, 4L, 7L, 13L); perPage <- Seq(0L, 1L, 7L, 20L, 100L)) {
      val (a, b) = (res.list(page, perPage), ds.list(page, perPage))
      assert((a.total, a.pages, views(a.records)) === ((b.total, b.pages, views(b.records))),
        s"list($page, $perPage)")
    }
    assert(res.size === 60L && ds.size === 60L)
    assert(views(res.all()) === views(ds.all()))
    assert(res.nextId === ds.nextId)
    assert(res.similarTo(Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f), -0.5, 3L) ===
      ds.similarTo(Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f), -0.5, 3L).sortBy(_._1))
    assert(res.sumVectors().toSeq === ds.sumVectors().toSeq)
    Seq(res, ds).foreach(assertDerivedMatches)
  }

  /** A stored-JS element-wise vector sum; distributed, each partition of
    * `records` sums its own rows and the merger adds the partials.
    */
  private val jsSumCode = """
function sumAllVectors() {
    var sum = [];
    records.All().forEach(function(r) {
        add(sum, function(i) { return r.Get(i); }, r.Size);
    });
    return sum;
}
function add(sum, v, n) {
    for (var i = 0; i < n; i++) {
        if (i >= sum.length) sum.push(0);
        sum[i] += v(i);
    }
    return sum;
}
function mergeNodesResults(results) {
    var sum = [];
    results.forEach(function(p) {
        add(sum, function(i) { return p[i]; }, p.length);
    });
    return sum;
}"""

  /** The Dataset a store derives matches what its driver reads answer:
    * `records` holds exactly the records of `all()`, a save/load round
    * trip keeps them, and a stored-JS vector sum run per partition over
    * `repartitioned(4)` equals `sumVectors()`.
    */
  private def assertDerivedMatches(s: RecordStore): Unit = {
    import org.json4s._
    assert(views(s.records.collect().toSeq.sortBy(_.id)) === views(s.all()))
    roundTrip(s)
    val reg = new graft.oracle.OracleRegistry
    val sum = reg.createJs("sumAllVectors", jsSumCode).fold(m => fail(m), identity)
    val out = reg.runDistributed(sum.id, s.repartitioned(4), Seq.empty)
      .fold(m => fail(m), identity)
    val JArray(parts) = org.json4s.jackson.JsonMethods.parse(out)
    assert(parts.map {
      case JDouble(d) => d
      case JInt(i)    => i.toDouble
      case JLong(l)   => l.toDouble
      case other      => fail(s"non-numeric $other")
    } === s.sumVectors().toSeq)
  }

  test("every write shows in the next find/list of a resident store, with no job") {
    def probe[T](op: => T): T = {
      val (out, jobs) = countJobs(op)
      assert(jobs === 0, "a resident store must build, write and read with no job")
      out
    }
    val s = probe(RecordStore.fromRecords(spark, seeded(5)))
    def ids = s.list(1, 100).records.map(_.id)

    val created = probe(s.create(SumRecord(0, Array(9f), Map("name" -> "c")))).toOption.get
    assert(created.id === 6L)
    assert(probe(s.find(6L)).map(_.meta) === Some(Map("name" -> "c")))
    assert(probe(ids) === (1L to 6L))

    assert(probe(s.createWithId(SumRecord(10, Array(1f, 2f)))).isRight)
    assert(probe(s.find(10L)).map(_.data.toSeq) === Some(Seq(1f, 2f)))
    assert(probe(s.size) === 7L && s.nextId === 11L)

    assert(probe(s.update(SumRecord(10, Array(3f), Array.emptyLongArray, Map.empty))).isRight)
    assert(probe(s.find(10L)).map(_.data.toSeq) === Some(Seq(3f)))
    assert(probe(s.list(1, 100)).records.count(_.id == 10L) === 1)

    assert(probe(s.delete(3L)).isRight)
    assert(probe(s.find(3L)) === None)
    assert(probe(ids) === Seq(1L, 2L, 4L, 5L, 6L, 10L))

    assert(probe(s.createManyWithId(Seq(SumRecord(20, Array(1f)),
      SumRecord(21, Array(2f), Map("fresh" -> "k"))))) === Right(2L))
    assert(probe(ids) === Seq(1L, 2L, 4L, 5L, 6L, 10L, 20L, 21L))
    assert(probe(s.findBy("fresh", "k")).map(_.map(_.id)) === Some(Seq(21L)))

    assert(probe(s.deleteMany(Seq(1L, 20L, 999L))) === 2L)
    assert(probe(ids) === Seq(2L, 4L, 5L, 6L, 10L, 21L))

    // a rejected batch leaves the snapshot (and the Dataset) untouched
    val before = views(s.all())
    assert(probe(s.createManyWithId(Seq(SumRecord(30, Array(1f)),
      SumRecord(21, Array(1f))))) === Left(StoreErrors.InvalidId))
    assert(probe(views(s.all())) === before)
    assert(probe(s.find(30L)) === None)
    assert(s.records.count() === 6L)
    assertDerivedMatches(s)
  }

  test("a resident store pins no cache; a Dataset-path store stays cached until close") {
    import org.apache.spark.sql.classic.ClassicConversions._
    import spark.implicits._
    val cache = spark.sharedState.cacheManager
    def cached(s: RecordStore) = cache.lookupCachedData(s.records).isDefined

    val res = RecordStore.fromDataset(spark, spark.createDataset(seeded(20)))
    assert(jobsOf(res.find(1L)) === 0)
    assert(!cached(res), "fromDataset within the cap must drop its build cache")
    res.create(SumRecord(0, Array(1f)))
    res.update(SumRecord(2, Array(2f)))
    res.delete(3L)
    res.deleteMany(Seq(4L, 5L))
    assert(!cached(res), "a write on a resident store must cache nothing")
    res.close()

    val over = withConf(RecordStore.MaxCollectRowsKey, "19")(
      RecordStore.fromDataset(spark, spark.createDataset(seeded(20))))
    assert(jobsOf(over.find(1L)) > 0, "the cap-built store must stay on the Dataset path")
    assert(cached(over))
    over.create(SumRecord(0, Array(1f)))
    assert(cached(over), "a write on a Dataset-path store keeps its next Dataset cached")
    over.close()
    assert(!cached(over), "close must release a Dataset-path store's cache")
  }

  test("a write that takes a resident store over the cap drops the snapshot") {
    val s = RecordStore.fromRecords(spark, seeded(3))
    assert(jobsOf(s.find(1L)) === 0)
    withConf(RecordStore.MaxCollectRowsKey, "3") {
      assert(s.create(SumRecord(0, Array(5f))).toOption.map(_.id) === Some(4L))
    }
    // the cap is back at its default, but residency is decided at build
    val (found, jobs) = countJobs(s.find(4L))
    assert(found.map(_.data.toSeq) === Some(Seq(5f)))
    assert(jobs > 0, "an over-cap write must leave the store on the Dataset path")
    assert(s.size === 4L && s.list(1, 10).records.map(_.id) === (1L to 4L))
  }

  test("a cap lowered after build still bounds a resident store's driver reads") {
    val s = RecordStore.fromRecords(spark, (1 to 3).map(i =>
      SumRecord(i.toLong, Array(1f), Map("tag" -> "same"))))
    assert(jobsOf(s.find(1L)) === 0)
    withConf(RecordStore.MaxCollectRowsKey, "2") {
      val e1 = intercept[IllegalStateException](s.findBy("tag", "same"))
      assert(e1.getMessage ===
        "findBy matched more than 2 records; use findByDs or raise graft.store.maxCollectRows")
      val e2 = intercept[IllegalStateException](s.list(1, 3))
      assert(e2.getMessage ===
        "page size 3 exceeds 2; use listDs or raise graft.store.maxCollectRows")
      val e3 = intercept[RecordStore.CollectCapExceeded](s.all())
      assert(e3.cap === 2)
      val reg = new graft.oracle.OracleRegistry
      val all = reg.createJs("allIds", """
function allIds() {
    var ids = [];
    records.All().forEach(function(r) { ids.push(r.ID); });
    return ids;
}""").fold(m => fail(m), identity)
      assert(reg.run(all.id, s, Seq.empty) === Left(
        "records.All() would materialize more than 2 rows on the driver; " +
          "raise graft.store.maxCollectRows, or run through runDistributed " +
          "where each partition materializes only on its executor"))
    }
  }

  test("similarTo after an update scores the new vector, not a cached norm") {
    // brute force over the widened vectors: dot and both norms summed in
    // index order over the common prefix
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      val dot = (0 until n).map(i => a(i).toDouble * b(i).toDouble).foldLeft(0.0)(_ + _)
      val na = (0 until n).map(i => a(i).toDouble * a(i).toDouble).foldLeft(0.0)(_ + _)
      val nb = (0 until n).map(i => b(i).toDouble * b(i).toDouble).foldLeft(0.0)(_ + _)
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 0.0 else dot / den
    }
    val s = RecordStore.fromRecords(spark,
      seeded(6) :+ SumRecord(7, Array(1f, -2f, 0.5f)))
    val ref = Array(0.25f, -1f, 2f, 0f, 3f, -0.5f, 1f, 1.5f)
    def brute = s.all().filter(_.id != 1L).map(r => (r.id, cos(r.data, ref)))
    assert(s.similarTo(ref, -1, 1L) === brute)
    assert(s.update(SumRecord(4, ref.map(-_))).isRight)
    assert(s.update(SumRecord(7, Array(2f, 2f))).isRight)
    val after = s.similarTo(ref, -1, 1L)
    assert(after === brute)
    assert(after.toMap.apply(4L) === cos(ref.map(-_), ref))
    assert(after.toMap.apply(7L) === cos(Array(2f, 2f), ref))
  }
}
