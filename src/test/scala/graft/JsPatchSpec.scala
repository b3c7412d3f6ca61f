package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.oracle.js.JsLang

/** The master's record-lookup binding (the reference's astRaccoon,
  * master/ast_raccoon.go): site detection over the entry declaration's
  * body, the IsParameterPositionARecordLookup set, and the bound program
  * that reads each `records.Find(param)` from the Run's record argument.
  */
class JsPatchSpec extends AnyFunSuite {

  private val findSimilar =
    """function findSimilar(id, threshold) {
      |  var v = records.Find(id);
      |  if (v.IsNull()) { return ctx.Error('Vector ' + id + ' not found.'); }
      |  return v.ID;
      |}""".stripMargin

  test("detects records.Find(param) sites and lookup positions") {
    val sites = JsLang.recordFindSites(findSimilar)
    assert(sites.map(_.arg) === Seq("id"))
    assert(JsLang.bindRecordLookups(findSimilar).map(_.lookups) === Some(Seq(0)))
  }

  test("whitespace in the callee does not defeat detection (reference strips it)") {
    val src = "function f(a) { return records . Find ( a ); }"
    assert(JsLang.recordFindSites(src).map(_.arg) === Seq("a"))
  }

  test("non-lookup shapes are excluded: chained callee, non-identifier arg, multi-arg") {
    assert(JsLang.recordFindSites(
      "function f(a) { return foo.records.Find(a); }").isEmpty)
    assert(JsLang.recordFindSites(
      "function f(a) { return records.Find(a + 1); }").isEmpty)
    assert(JsLang.recordFindSites(
      "function f(a, b) { return records.Find(a, b); }").isEmpty)
    // a non-parameter id is not a PARAMETER lookup even though the site exists
    assert(JsLang.bindRecordLookups(
      "function f(a) { return records.Find(b); }").isEmpty)
  }

  test("sites inside comments, strings, and the merger function do not count") {
    val src =
      """function f(a) {
        |  // records.Find(a)
        |  var s = "records.Find(a)";
        |  return 1;
        |}
        |function mergeF(partials) { return records.Find(partials); }
        |""".stripMargin
    assert(JsLang.recordFindSites(src).isEmpty)
  }

  test("binding reads every lookup site from the record argument, others untouched") {
    val src =
      """function f(a, b) {
        |  var x = records.Find(a);
        |  var y = records.Find(b);
        |  var z = records.Find(a);
        |  var w = records.Find(c);
        |  return x.ID + y.ID + z.ID + w.ID;
        |}""".stripMargin
    val bound = JsLang.bindRecordLookups(src).getOrElse(fail("no binding"))
    assert(bound.lookups === Seq(0, 1))
    assert(bound.code.startsWith("var $bindRecords0 = null; " +
      "function $bindEntry0(a, b, $bindArg0) { $bindRecords0 = $bindArg0; " +
      "return f(a, b); } function f(a, b) {"))
    assert(bound.code.contains("var x = records.New($bindRecords0[0]);"))
    assert(bound.code.contains("var y = records.New($bindRecords0[1]);"))
    assert(bound.code.contains("var z = records.New($bindRecords0[0]);"))
    assert(bound.code.contains("var w = records.Find(c);"))
    // the wrapper shares the first line, and the bound source still parses
    assert(bound.code.count(_ == '\n') === src.count(_ == '\n'))
    JsLang.parse(bound.code)
  }

  test("an entry without parameter lookups has no binding") {
    assert(JsLang.bindRecordLookups("function f(a) { return a; }").isEmpty)
    assert(JsLang.bindRecordLookups("SELECT id FROM records").isEmpty)
  }

  test("the binding's names occur nowhere in the source") {
    val src = "function f($bindEntry0, $bindArg0) { " +
      "var $bindRecords0 = records.Find($bindEntry0); return $bindRecords0.ID; }"
    val bound = JsLang.bindRecordLookups(src).getOrElse(fail("no binding"))
    assert(bound.code.startsWith("var $bindRecords1 = null; function $bindEntry1(" +
      "$bindEntry0, $bindArg0, $bindArg1) { $bindRecords1 = $bindArg1; " +
      "return f($bindEntry0, $bindArg0); } "))
    assert(bound.code.contains("var $bindRecords0 = records.New($bindRecords1[0]);"))
  }

  test("sites are the entry declaration's, not the first function token's") {
    val src =
      """var helper = function(x) { return records.Find(x); };
        |function f(id) { return helper(1) + records.Find(id).ID; }
        |function g(id) { return records.Find(id); }""".stripMargin
    assert(JsLang.recordFindSites(src).map(_.arg) === Seq("id"))
    val bound = JsLang.bindRecordLookups(src).getOrElse(fail("no binding"))
    assert(bound.code.contains("function f(id) { return helper(1) + " +
      "records.New($bindRecords0[0]).ID; }"))
    assert(bound.code.contains("var helper = function(x) { return records.Find(x); };"))
    assert(bound.code.contains("function g(id) { return records.Find(id); }"))
  }

  test("unparseable source yields no sites instead of throwing") {
    assert(JsLang.recordFindSites("SELECT * FROM t WHERE !!!").isEmpty)
    assert(JsLang.recordFindSites("no function here").isEmpty)
  }

  test("fuzz: a patched-in record is indistinguishable from a stored one") {
    // the semantic contract behind the binding: running the BOUND program
    // on a node that does NOT hold the record, with the record as the
    // trailing argument, must equal running the ORIGINAL code on a node
    // that does — including meta strings that stress the JSON escape and
    // decode round-trip and float data that stresses double widening
    import graft.model.SumRecord
    import graft.oracle.OracleContext
    import graft.oracle.js.JsOracle
    import graft.service.SumFederation
    import org.json4s.{JInt, JString}
    import org.json4s.jackson.JsonMethods

    val spark = TestSpark.spark
    val code =
      """function probe(id, k) {
        |  var v = records.Find(id);
        |  if (v.IsNull()) { return null; }
        |  var d = [];
        |  for (var i = 0; i < v.Size; i++) { d.push(v.Get(i)); }
        |  return {id: v.ID, size: v.Size, meta: v.Meta(k), data: d,
        |    n: arguments.length, a1: arguments[1], self: typeof this};
        |}""".stripMargin
    val original = JsOracle.compile("probe", code)
      .fold(m => fail(s"compile failed: $m"), identity)
    val binding = JsLang.bindRecordLookups(code).getOrElse(fail("no binding"))
    val bound = JsOracle.compile("probe", binding.code)
      .fold(m => fail(s"compile failed: $m\n${binding.code}"), identity)
    assert(bound.params === Seq("id", "k", "$bindArg0"))
    val emptyStore = graft.store.RecordStore.empty(spark)

    val nasty = Seq("plain", "with \"quotes\"", "back\\slash", "new\nline",
      "tab\there", "unicode é中文 😀",
      "ctrlchar", "records.Find(id)", "'single'", "</script>", "")
    val rnd = new scala.util.Random(20260816L)
    (1 to 60).foreach { trial =>
      val dim = 1 + rnd.nextInt(6)
      val data = Array.fill(dim)((rnd.nextGaussian() *
        math.pow(10, rnd.nextInt(9) - 4)).toFloat)
      val key = nasty(rnd.nextInt(nasty.length))
      val rec = SumRecord(1L + rnd.nextInt(1000), data,
        Map(key -> nasty(rnd.nextInt(nasty.length)), "k2" -> s"v$trial"))
      val args = Seq(JInt(rec.id), JString(key))

      val owningStore = graft.store.RecordStore.fromRecords(spark, Seq(rec))
      val direct = original.body(new OracleContext, owningStore, args)

      // the node decodes the record argument as it decodes any Run arg
      val recordArg = JsonMethods.parse(s"[${SumFederation.recordJson(rec)}]")
      val viaBinding = bound.body(new OracleContext, emptyStore, args :+ recordArg)

      assert(viaBinding === direct, s"trial $trial diverged")
    }
  }
}
