package graft

import org.scalacheck.Gen
import org.json4s.jackson.JsonMethods

import graft.functions.vector
import graft.oracle.Merge

/** Property-style invariants (SURVEY.md §5): generated vector pairs are
  * checked in one batched Spark job; merge laws are checked driver-side.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private val vecGen: Gen[Seq[Float]] =
    Gen.chooseNum(1, 16).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-100f, 100f)).map(_.toSeq))

  private def samples(n: Int): Seq[(Seq[Float], Seq[Float])] = {
    val g = for { a <- vecGen; b <- vecGen } yield (a, b)
    Iterator.continually(g.sample).flatten.take(n).toSeq
  }

  test("minhash signature of a union is the element-wise min of signatures") {
    // The defining MinHash property — it is what makes the per-band
    // collision probability track Jaccard similarity. Checked at the
    // expression level (interpreted eval) over generated shingle sets.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val pairsType = ArrayType(new StructType()
      .add("h1", LongType).add("h2", LongType))
    val ref = BoundReference(0, pairsType, nullable = true)
    val expr = graft.functions.MinhashSignature(ref, 16)
    def sig(ps: Seq[(Long, Long)]): Seq[Long] =
      expr.eval(InternalRow(ArrayData.toArrayData(
        ps.map { case (a, b) => InternalRow(a, b) }.toArray)))
        .asInstanceOf[ArrayData].toLongArray.toSeq
    val pairGen = Gen.listOfN(2, Gen.chooseNum(0L, (1L << 48) - 1))
      .map(l => (l.head, l(1)))
    val setGen = Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, pairGen))
    val cases = Iterator.continually(
      (for { a <- setGen; b <- setGen } yield (a, b)).sample)
      .flatten.take(100).toSeq
    cases.foreach { case (a, b) =>
      val expected = sig(a).zip(sig(b)).map { case (x, y) => math.min(x, y) }
      assert(sig(a ++ b) === expected)
    }
  }

  test("cosine(a,a) is 1 for non-zero a; |cosine| <= 1; dot is symmetric") {
    val df = samples(300).toDF("a", "b")
    val rows = df.select(
      vector.cosine($"a", $"a").as("caa"),
      vector.cosine($"a", $"b").as("cab"),
      vector.magnitude($"a").as("ma"),
      (vector.dot($"a", $"b") - vector.dot($"b", $"a")).as("dsym"),
      (least(size($"a"), size($"b")) === size($"a")).as("aShorter")
    ).collect()
    rows.foreach { r =>
      val (caa, cab, ma, dsym) =
        (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
      if (ma > 1e-3) assert(math.abs(caa - 1.0) < 1e-9, s"cosine(a,a)=$caa")
      else assert(caa === 0.0 || math.abs(caa - 1.0) < 1e-9)
      // equal-length prefix comparison keeps |cos| <= 1 up to rounding
      assert(cab <= 1.0 + 1e-9 && cab >= -1.0 - 1e-9, s"cos out of range: $cab")
      assert(math.abs(dsym) < 1e-9, s"dot not symmetric: $dsym")
    }
  }

  test("jaccard on identical binary vectors is 1; disjoint is 0") {
    val bin = Gen.chooseNum(2, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(0f, 1f)).map(_.toSeq))
    val xs = Iterator.continually(bin.sample).flatten.take(200)
      .filter(_.exists(_ > 0f)).toSeq
    val df = xs.map(v => (v, v.map(x => 1f - x))).toDF("v", "inv")
    val rows = df.select(
      vector.jaccard($"v", $"v").as("self"),
      vector.jaccard($"v", $"inv").as("disj")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) === 1.0)
      assert(r.getDouble(1) === 0.0)
    }
  }

  test("canonicalize matches driver-side union-find on random graphs") {
    val rng = new scala.util.Random(7)
    (0 until 3).foreach { _ =>
      val n = 40
      val edges = Seq.fill(30)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // driver-side union-find oracle
      val parent = scala.collection.mutable.Map((0L until n.toLong).map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val members = (0L until n.toLong).groupBy(find)
      val expected = members.values.filter(_.size > 1)
        .flatMap(c => c.map(_ -> c.min)).toMap

      val got = graft.ops.Dedup.canonicalize(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"edges=$edges")
    }
  }

  test("extendCanonical equals full recanonicalization on random split graphs") {
    // The d16 invariant as a property: split a random edge set into a
    // "corpus" prefix and a "batch" suffix, canonicalize the prefix,
    // extend with the suffix — the result must equal canonicalizing the
    // whole graph, for every random draw (bridges, merges, and new
    // singleton clusters all occur across draws).
    val rng = new scala.util.Random(11)
    (0 until 3).foreach { round =>
      val n = 30
      val edges = Seq.fill(25)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val (corpusE, batchE) = edges.splitAt(edges.size / 2)
      if (corpusE.nonEmpty && batchE.nonEmpty) {
        val base = graft.ops.Dedup.canonicalize(corpusE.toDF("doc_a", "doc_b"))
        val got = graft.ops.Dedup.extendCanonical(base,
            batchE.toDF("doc_a", "doc_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val full = graft.ops.Dedup.canonicalize(edges.toDF("doc_a", "doc_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === full, s"round=$round corpus=$corpusE batch=$batchE")
      }
    }
  }

  test("dedupCorpus keeps exactly one doc per near-dup cluster") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val before = docs.count()
    val pairs = graft.ops.Dedup.nearDuplicatesMinhash(docs, "doc_id", "text", 0.8)
    val clusters = graft.ops.Dedup.canonicalize(pairs)
      .select("keeper_id").distinct().count()
    val dupDocs = graft.ops.Dedup.canonicalize(pairs).count()
    val after = graft.ops.Dedup.dedupCorpus(docs, "doc_id", "text", 0.8).count()
    assert(after === before - dupDocs + clusters)
    assert(after < before) // planted dups exist
  }

  test("containment dominates jaccard and both stay in [0,1] on generated docs") {
    // C = |∩|/min >= |∩|/|∪| = J for any pair of non-empty sets — the law
    // that makes containment the right near-INCLUSION measure. Checked
    // through the full op (tokenize -> shingle -> hash -> verify) over
    // generated word documents, all pairs in one batched job.
    val wordGen = Gen.chooseNum(1, 12).map(i => s"w$i")
    val docGen = Gen.chooseNum(3, 20).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val texts = Iterator.continually(docGen.sample).flatten.take(40).toSeq
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val cand = (for { a <- 0 until 40; b <- (a + 1) until 40 }
      yield (a.toLong, b.toLong)).toDF("doc_a", "doc_b")
    val rows = graft.ops.Dedup.containmentPairs(docs, "doc_id", "text", cand)
      .select($"containment", $"jaccard").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (c, j) = (r.getDouble(0), r.getDouble(1))
      assert(c >= j - 1e-12, s"containment $c must dominate jaccard $j")
      assert(c >= 0.0 && c <= 1.0 && j >= 0.0 && j <= 1.0)
    }
  }

  test("cdcChunks tiles generated docs exactly with in-bounds boundaries") {
    val charGen = Gen.oneOf(('a' to 'z') ++ Seq(' ', ' '))
    val docGen = Gen.chooseNum(0, 200).flatMap(n =>
      Gen.listOfN(n, charGen).map(_.mkString))
    val texts = Iterator.continually(docGen.sample).flatten.take(60).toSeq
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.cdcChunks(docs, "doc_id", "text")
      .groupBy($"doc_id")
      .agg(sum($"len").as("covered"), min($"start").as("first"),
        max($"start" + $"len").as("last"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      if (t.isEmpty) assert(!got.contains(i.toLong))
      else {
        val (covered, first, last) = got(i.toLong)
        assert(covered === t.length.toLong, s"doc $i tiling")
        assert(first === 0L && last === t.length.toLong, s"doc $i bounds")
      }
    }
  }

  test("defaultMerger over disjoint maps is order-insensitive and total") {
    val parts = (0 until 10).map(i => s"""{"k$i":$i}""")
    val a = Merge.defaultMerger(parts).toOption.get
    val b = Merge.defaultMerger(parts.reverse).toOption.get
    assert(a === b && JsonMethods.parse(a).children.size === 10)
  }

  test("defaultMerger array concat is associative in grouping") {
    val parts = (1 to 9).map(i => s"[$i]")
    val whole = Merge.defaultMerger(parts).toOption.get
    val grouped = Merge.defaultMerger(Seq(
      Merge.defaultMerger(parts.take(4)).toOption.get,
      Merge.defaultMerger(parts.drop(4)).toOption.get)).toOption.get
    assert(whole === grouped)
  }

  test("char entropy obeys its information-theoretic bounds") {
    import org.apache.spark.unsafe.types.UTF8String
    def h(s: String): Double =
      graft.functions.CharEntropy.compute(UTF8String.fromString(s))
    val strGen = Gen.chooseNum(1, 200).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(32, 126).map(_.toChar)).map(_.mkString))
    val cases = Iterator.continually(strGen.sample).flatten.take(200).toSeq
    cases.foreach { s =>
      val ent = h(s)
      val distinct = s.toSet.size
      // 0 <= H <= ln(alphabet): equality left iff one symbol, and H is
      // permutation-invariant (a distribution property, not an order one).
      assert(ent >= 0.0 && ent <= math.log(distinct.toDouble) + 1e-12,
        s"H=$ent outside [0, ln($distinct)] for ${s.take(30)}")
      if (distinct == 1) assert(ent === 0.0)
      assert(h(new String(s.toCharArray.reverse)) === ent,
        "entropy must be order-invariant")
      assert(h(s + s) - ent < 1e-12 && ent - h(s + s) < 1e-12,
        "doubling the text leaves the distribution unchanged")
    }
  }

  test("dHash gradient bits are invariant to brightness offset and gain") {
    // dHash compares ADJACENT cells, so adding a constant to every gray
    // value, or scaling all values by a positive factor, preserves every
    // strict inequality — the formal version of 'survives brightness/
    // contrast shifts'.
    val gridGen = Gen.listOfN(72, Gen.chooseNum(0L, 200L)).map(_.toArray)
    val cases = Iterator.continually(gridGen.sample).flatten.take(100).toSeq
    cases.foreach { g =>
      val base = graft.ops.Multimodal.dHashBits(g)
      assert(graft.ops.Multimodal.dHashBits(g.map(_ + 17L)) === base)
      assert(graft.ops.Multimodal.dHashBits(g.map(_ * 3L)) === base)
    }
  }

  test("A-ES weighted-sample keys favor higher weight for a fixed uniform") {
    // ln(u)/w is negative and increases toward 0 as w grows: for the SAME
    // uniform draw, a heavier row always ranks at least as high — the
    // defining monotonicity of Efraimidis–Spirakis keys.
    val cGen = for {
      u <- Gen.chooseNum(1e-9, 1.0 - 1e-9)
      w1 <- Gen.chooseNum(1L, 1000000L)
      w2 <- Gen.chooseNum(1L, 1000000L)
    } yield (u, math.min(w1, w2), math.max(w1, w2))
    val cases = Iterator.continually(cGen.sample).flatten.take(300).toSeq
    cases.foreach { case (u, lo, hi) =>
      assert(math.log(u) / hi >= math.log(u) / lo,
        s"key not monotone in weight at u=$u, $lo vs $hi")
    }
  }

  test("pagerank (driver fixpoint) conserves mass on generated digraphs") {
    // Σr = 1 is the invariant every PageRank variant must keep — it is
    // what the dangling-mass redistribution exists for. Generated graphs
    // deliberately include dangling vertices and isolated vertices.
    val gGen = for {
      n <- Gen.chooseNum(2, 12)
      m <- Gen.chooseNum(0, 20)
      es <- Gen.listOfN(m, for {
        s <- Gen.chooseNum(0L, (n - 1).toLong)
        d <- Gen.chooseNum(0L, (n - 1).toLong)
      } yield (s, d, 1.0))
    } yield (n, es)
    val cases = Iterator.continually(gGen.sample).flatten.take(8).toSeq
    cases.foreach { case (n, es) =>
      val verts = (0L until n.toLong).toDF("v")
      val edges = es.toDF("src", "dst", "cnt")
      val mass = graft.ops.Graph.pagerank(verts, edges, iters = 4,
        damping = 0.85).agg(sum($"r")).head.getDouble(0)
      assert(math.abs(mass - 1.0) < 1e-9,
        s"mass $mass on n=$n edges=${es.size}")
    }
  }

  test("triangleCounts on K_n gives every vertex C(n-1,2) triangles") {
    for (n <- Seq(3, 5, 6)) {
      val kn = (for {
        a <- 1L to n.toLong; b <- (a + 1) to n.toLong
      } yield (a, b)).toDF("a", "b")
      val expected = (n - 1).toLong * (n - 2) / 2
      val got = graft.ops.Graph.triangleCounts(kn).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size === n)
      assert(got.values.forall(_ === expected),
        s"K$n per-vertex triangles $got != $expected")
    }
  }

  test("TopKByScore: any arrival order and any merge split give the sorted top-k") {
    // The compacting buffer (amortized appends + conservative threshold)
    // must equal naive sort-take-k under every stream order and every
    // partial/merge decomposition — the property the search paths lean on.
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 50) {
      val k = 1 + rnd.nextInt(12)
      val n = rnd.nextInt(200)
      // coarse scores force plenty of exact ties; ids are distinct
      val xs = Seq.tabulate(n)(i =>
        graft.functions.ScoredId(i.toLong, rnd.nextInt(8).toDouble))
      val expected = xs
        .sortBy(s => (-s.score, s.id)).take(k)
      val agg = new graft.functions.TopKByScore(k)
      // single-stream fold in a shuffled order
      val shuffled = rnd.shuffle(xs)
      val direct = agg.finish(shuffled.foldLeft(agg.zero)(agg.reduce))
      assert(direct === expected, s"trial $trial direct (k=$k n=$n)")
      // random split into partials, merged in random order
      val parts = shuffled.grouped(math.max(1, 1 + rnd.nextInt(7))).toSeq
      val partials = rnd.shuffle(
        parts.map(_.foldLeft(agg.zero)(agg.reduce)))
      val merged = agg.finish(
        partials.foldLeft(agg.zero)(agg.merge))
      assert(merged === expected, s"trial $trial merged (k=$k n=$n)")
    }
  }
}
