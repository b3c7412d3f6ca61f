package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.model.SumRecord
import graft.oracle.{OracleCompiler, OracleRegistry}
import graft.store.RecordStore

/** The reference's stored-JavaScript oracles, run FOR REAL through the
  * graft JS interpreter: every oracle below is lifted verbatim from the
  * reference's own test suites (node/service/compiled_benchmark_test.go,
  * node/service/service_test.go, master/service_test.go,
  * master/service_legacy_test.go) and must behave as it does there —
  * compile-time rejections included.
  */
class JsOracleSpec extends SparkSpec {

  private def freshStore = RecordStore.fromRecords(spark, Seq(
    SumRecord(1L, Array(1f, 2f, 3f), Map("name" -> "Lorea")),
    SumRecord(2L, Array(2f, 4f, 6f), Map("name" -> "Sabrina")),
    SumRecord(3L, Array(-1f, 0f, 1f), Map.empty[String, String])))

  private def runJs(code: String, args: String*)
      (implicit store: RecordStore): Either[String, String] = {
    val reg = new OracleRegistry
    val o = reg.createJs("t", code).fold(m => fail(s"compile failed: $m"), identity)
    reg.run(o.id, store, args)
  }

  implicit private lazy val store: RecordStore = freshStore

  test("simple oracles: dummy, add, iterative/recursive/memoized fibonacci") {
    assert(runJs("function dummy(){}") === Right("null"))
    assert(runJs("function add(a, b){ return a + b; }", "2", "3") === Right("5"))
    val fiboIter = """function fibonacci(num){
      var a = 1, b = 0, temp;
      while (num >= 0){
        temp = a;
        a = a + b;
        b = temp;
        num--;
      }
      return b;
    }"""
    val fiboRecu = """function fibonacci(num) {
      if (num <= 1) return 1;
      return fibonacci(num - 1) + fibonacci(num - 2);
    }"""
    val fiboMemo = """function fibonacci(num, memo) {
      memo = memo || {};
      if (memo[num]) return memo[num];
      if (num <= 1) return 1;
      return memo[num] = fibonacci(num - 1, memo) + fibonacci(num - 2, memo);
    }"""
    // All three reference spellings agree (same recurrence, different style)
    assert(runJs(fiboRecu, "10") === Right("89"))
    assert(runJs(fiboMemo, "10") === Right("89"))
    assert(runJs(fiboIter, "10") === Right("89")) // 11 passes: b ends at fib(10)
    assert(runJs(fiboMemo, "25") === Right("121393"))
  }

  test("compile rejections match the reference compiler") {
    val reg = new OracleRegistry
    // node/service/compiler_test.go:15 — no code at all
    assert(reg.createJs("empty", "") === Left("expected a function declaration"))
    // :18 — a program with no function declaration
    assert(reg.createJs("no functions", "var lulz = 123;") ===
      Left("expected a function declaration"))
    // :19 — definition-time ReferenceError
    val r = reg.createJs("error during definition",
      "function imok(){} imnot = not_defined + 1;")
    assert(r.isLeft)
    assert(r.left.exists(_.contains("ReferenceError")))
    // malformed source is a parse error
    assert(reg.createJs("broken", "lulz i won't compile =)").isLeft)
  }

  test("findSimilar (reference README oracle) matches the record math") {
    val code = """function findSimilar(id, threshold) {
      var v = records.Find(id);
      if( v.IsNull() == true ) {
        return ctx.Error("Vector " + id + " not found.");
      }
      var results = {};
      var all = records.AllBut(v)
      var num = all.length;
      for( var i = 0; i < num; ++i ) {
        var record = all[i];
        var similarity = v.Cosine(record);
        if( similarity >= threshold ) {
           results[record.Id] = similarity
        }
      }
      return results;
    }"""
    val out = runJs(code, "1", "0.9").fold(m => fail(m), identity)
    val parsed = JsonMethods.parse(out)
    // record 2 is exactly collinear with record 1 (cosine 1); record 3 is
    // orthogonal-ish (cosine ~0.378) and must be filtered at 0.9
    parsed match {
      case JObject(fields) =>
        assert(fields.map(_._1) === List("2"))
        // collinear -> cosine exactly 1.0, which Go-style JSON writes as 1
        assert(fields.head._2 === JInt(1))
      case other => fail(s"expected an object, got $other")
    }
    // ctx.Error path: unknown id fails the run with the oracle's message
    assert(runJs(code, "99", "0.5") === Left("Vector 99 not found."))
  }

  test("findDoubles (master/service_test.go:270) with forEach and early return") {
    val code = """
function findDoubles(id, anotherParam) {
    var v = records.Find(id);
    if( v.IsNull() == true ) {
        return ctx.Error("Vector " + id + " not found.");
    }

    var results = [];
    records.AllBut(v).forEach(function(record){
        for (var i=0; i < 3; i++) {
            if (record.Get(i) !== 2*v.Get(i)) { return; }
        }
        results.push(record.ID);
    });

    return results;
}"""
    // record 2 = 2 * record 1
    assert(runJs(code, "1") === Right("[2]"))
    assert(runJs(code, "2") === Right("[]"))
  }

  test("mapOfRecordNames (master/service_test.go:381): undeclared global + Meta") {
    val code = """
function mapOfRecordNames() {
    result = {};
    records.All().forEach(function(record){
        result[record.ID] = record.Meta('name');
    });
    return result;
}"""
    // Go's json.Marshal sorts map keys; absent meta is the empty string
    assert(runJs(code) === Right("""{"1":"Lorea","2":"Sabrina","3":""}"""))
  }

  test("run-time error paths match the reference service tests") {
    // service_test.go:337 — missing arg arrives as null, || default kicks in
    assert(runJs("function testMissing(arg){ return (arg || 666); }") ===
      Right("666"))
    assert(runJs("function testMissing(arg){ return (arg || 666); }", "5") ===
      Right("5"))
    // :371 — division by zero is Infinity, which JSON cannot carry
    assert(runJs("function test(){ return 666 / 0; }") ===
      Left("json: unsupported value: +Inf"))
    // :396 — undefined identifier at run time
    val r = runJs("function test(){ return im_not_defined }")
    assert(r.isLeft)
    assert(r.left.exists(_.contains("ReferenceError")))
    // :421 — ctx.Error aborts with the message
    assert(runJs("function findReasonsToLive(){ ctx.Error('nope'); }") ===
      Left("nope"))
  }

  test("merger detection and merge execution (master/service_legacy_test.go:34)") {
    val code = "function findReasonsToLive(){ return 0; } " +
      "function add(accumulator, item) { return accumulator + item; } " +
      "function mergeResults(results) { return results.reduce(add); }"
    val reg = new OracleRegistry
    val o = reg.createJs("reasons", code).fold(m => fail(m), identity)
    assert(o.merger.isDefined)
    // the merger folds partials exactly like the JS reduce
    val merged = o.merger.get(Seq(JInt(1), JInt(2), JInt(3)))
    assert(merged === JInt(6))
    // a merge* function with the wrong arity is NOT a merger
    val o2 = reg.createJs("nomerge",
      "function f(){ return 0; } function mergeWrong(a, b){ return a; }")
      .fold(m => fail(m), identity)
    assert(o2.merger.isEmpty)
  }

  test("record math methods replicate node/wrapper/record.go") {
    val code = """function m(idA, idB) {
      var a = records.Find(idA), b = records.Find(idB);
      return {
        dot: a.Dot(b),
        dotSub: a.DotSub(b, 2),
        dotRange: a.DotRange(b, 1, 3),
        mag: a.Magnitude(),
        cos: a.Cosine(b),
        cosSub: a.CosineSub(b, 2),
        eq: a.Equal(b),
        is: a.Is(b),
        size: a.Size,
        g: a.Get(2)
      };
    }"""
    val out = runJs(code, "1", "2").fold(m => fail(m), identity)
    val JObject(fields) = JsonMethods.parse(out)
    val m = fields.toMap
    assert(m("dot") === JInt(28))      // 1*2+2*4+3*6
    assert(m("dotSub") === JInt(10))   // 1*2+2*4
    assert(m("dotRange") === JInt(26)) // 2*4+3*6
    assert(m("cos") === JInt(1))       // collinear
    assert(m("eq") === JBool(false))
    assert(m("is") === JBool(false))
    assert(m("size") === JInt(3))
    assert(m("g") === JInt(3))
    val JDouble(mag) = m("mag")
    assert(math.abs(mag - math.sqrt(14.0)) < 1e-12)
    val JDouble(cs) = m("cosSub")
    assert(math.abs(cs - 1.0) < 1e-12)
  }

  test("jaccard replicates the (a+b)==1 mismatch rule on binary vectors") {
    implicit val binStore: RecordStore = RecordStore.fromRecords(spark, Seq(
      SumRecord(1L, Array(1f, 0f, 1f, 1f)),
      SumRecord(2L, Array(1f, 1f, 0f, 1f))))
    val out = runJs(
      "function j(a, b){ return records.Find(a).Jaccard(records.Find(b)); }",
      "1", "2")(binStore)
    // m11 = 2 (positions 0,3), m10 = 2 (positions 1,2) -> 2/4
    assert(out === Right("0.5"))
  }

  test("the cosine zero-magnitude guard returns 0 like the reference") {
    implicit val zStore: RecordStore = RecordStore.fromRecords(spark, Seq(
      SumRecord(1L, Array(0f, 0f, 0f)),
      SumRecord(2L, Array(1f, 2f, 3f))))
    assert(runJs(
      "function z(a, b){ return records.Find(a).Cosine(records.Find(b)); }",
      "1", "2")(zStore) === Right("0"))
  }

  /** Run `code` on the driver path and through `runDistributed` over a
    * one-partition copy of the store; both must give `want` (a run error
    * arrives in the master's per-node wrapping on the distributed path).
    */
  private def pinBoth(code: String, args: String*)(want: Either[String, String])
      (implicit st: RecordStore) = {
    assert(runJs(code, args: _*)(st) === want, "driver path")
    val reg = new OracleRegistry
    val o = reg.createJs("t", code).fold(m => fail(s"compile failed: $m"), identity)
    assert(reg.runDistributed(o.id, st.repartitioned(1), args) ===
      want.left.map(m => s"Errors from nodes: [error while running oracle ${o.id}: $m]"),
      "distributed path")
  }

  test("record wrapper surface: every method and prop, on both run paths") {
    pinBoth("""function pin(idA, idB) {
      var a = records.Find(idA), b = records.Find(idB), c = records.Find(2);
      var short = records.CreateRecord([1, 2]);
      var mag = a.Magnitude;
      return {
        isNull: a.IsNull(), is: a.Is(b), isSelf: a.Is(records.Find(idA)),
        isNum: a.Is(5), get: a.Get(1), meta: a.Meta('name'), noMeta: a.Meta('x'),
        eq: a.Equal(b), eqSelf: a.Equal(records.Find(idA)),
        dot: a.Dot(b), dotRange: a.DotRange(b, 1, 3), dotSub: a.DotSub(b, 2),
        dotWide: a.DotRange(c, 2, 99), magnitude: a.Magnitude(), magFn: mag(),
        cos: a.Cosine(b), cosC: a.Cosine(c), cosSub: a.CosineSub(b, 2),
        cosRange: a.CosineRange(b, 1, 3), cosEmpty: a.CosineRange(b, 5, 9),
        cosShort: short.Cosine(a), cosLong: a.Cosine(short),
        jac: a.Jaccard(b), jacRange: a.JaccardRange(c, 0, 2),
        ID: a.ID, Id: a.Id, Size: a.Size, shortSize: short.Size, shortId: short.ID
      };
    }""", "1", "3")(Right(
      """{"ID":1,"Id":1,"Size":3,"cos":0.3779644730092272,"cosC":1,""" +
        """"cosEmpty":0,"cosLong":0.5976143046671968,"cosRange":0.8320502943378437,""" +
        """"cosShort":0.5976143046671968,"cosSub":-0.4472135954999579,"dot":2,""" +
        """"dotRange":3,"dotSub":-1,"dotWide":18,"eq":false,"eqSelf":true,"get":2,""" +
        """"is":false,"isNull":false,"isNum":false,"isSelf":true,"jac":1,"jacRange":1,""" +
        """"magFn":3.7416573867739413,"magnitude":3.7416573867739413,"meta":"Lorea",""" +
        """"noMeta":"","shortId":0,"shortSize":2}"""))
  }

  test("record wrapper surface: the null record and its errors") {
    pinBoth("""function nul() {
      var n = records.Find(99), m = records.New(null), a = records.Find(1);
      function err(f) { try { f(); return 'no error'; } catch (e) { return '' + e; } }
      return {
        findMiss: n.IsNull(), newNull: m.IsNull(), ID: n.ID, Id: n.Id, Size: n.Size,
        meta: n.Meta('name'), aIsN: a.Is(n), nIsA: n.Is(a), nIsN: n.Is(m),
        allBut: records.AllBut(n).length,
        get: err(function() { return n.Get(0); }),
        // a null record as the ARGUMENT reads as empty data
        cosOther: a.Cosine(n), dotOther: a.Dot(m), eqOther: a.Equal(n),
        cosOwn: err(function() { return n.Cosine(a); }),
        magnitude: err(function() { return m.Magnitude(); }),
        notRecord: err(function() { return a.Dot(5); }),
        notRecordObj: err(function() { return a.Jaccard({data: [1, 2, 3]}); }),
        eqNotRecord: err(function() { return a.Equal(Math); })
      };
    }""")(Right(
      """{"ID":0,"Id":0,"Size":0,"aIsN":false,"allBut":3,"cosOther":0,""" +
        """"cosOwn":"TypeError: null record","dotOther":0,""" +
        """"eqNotRecord":"TypeError: expected a record","eqOther":false,""" +
        """"findMiss":true,"get":"TypeError: null record",""" +
        """"magnitude":"TypeError: null record","meta":"","nIsA":false,"nIsN":false,""" +
        """"newNull":true,"notRecord":"TypeError: expected a record",""" +
        """"notRecordObj":"TypeError: expected a record"}"""))
    // uncaught, the same errors fail the run with their messages
    pinBoth("function f() { return records.Find(99).Get(0); }")(
      Left("TypeError: null record"))
    pinBoth("function f() { return records.New(null).Cosine(records.Find(1)); }")(
      Left("TypeError: null record"))
    pinBoth("function f() { return records.Find(1).Cosine(7); }")(
      Left("TypeError: expected a record"))
  }

  test("record wrapper surface: SetData is wrapper-local; New, CreateRecord, AllBut") {
    pinBoth("""function sd() {
      var a = records.Find(1);
      a.SetData([9, 8]);
      var n = records.New(null);
      n.SetData([1, 0]);
      return {
        a0: a.Get(0), aSize: a.Size, aId: a.ID, aMeta: a.Meta('name'),
        again0: records.Find(1).Get(0), againSize: records.Find(1).Size,
        all0: records.All()[0].Get(0), dotAfter: a.Dot(records.Find(2)),
        nNull: n.IsNull(), nId: n.ID, nSize: n.Size, nJac: n.Jaccard(n)
      };
    }""")(Right(
      """{"a0":9,"aId":1,"aMeta":"Lorea","aSize":2,"again0":1,"againSize":3,""" +
        """"all0":1,"dotAfter":50,"nId":0,"nJac":1,"nNull":false,"nSize":2}"""))
    pinBoth("""function nw() {
      var r = records.New({id: 2, data: [1, 2, 3], meta: {k: 'v'}});
      var bare = records.New({});
      var cr = records.CreateRecord([1, 2, 3]);
      var ids = records.AllBut(r).map(function(x) { return x.ID; });
      return {
        id: r.ID, size: r.Size, meta: r.Meta('k'), isNull: r.IsNull(),
        is2: r.Is(records.Find(2)), cos2: r.Cosine(records.Find(2)),
        bareId: bare.ID, bareSize: bare.Size, bareNull: bare.IsNull(),
        crId: cr.ID, crSize: cr.Size, crDot: cr.Dot(records.Find(1)),
        crIs: cr.Is(records.New({id: 0})), allBut: ids,
        allButCr: records.AllBut(cr).length, allButNum: records.AllBut(2).length
      };
    }""")(Right(
      """{"allBut":[1,3],"allButCr":3,"allButNum":3,"bareId":0,"bareNull":false,""" +
        """"bareSize":0,"cos2":1,"crDot":14,"crId":0,"crIs":true,"crSize":3,"id":2,""" +
        """"is2":true,"isNull":false,"meta":"v","size":3}"""))
  }

  test("record wrapper surface: typeof, string form, `in` and JSON") {
    pinBoth("""function t() {
      var v = records.Find(1);
      return {
        t: typeof v, s: '' + v, hasCos: 'Cosine' in v, hasId: 'ID' in v,
        hasX: 'Nope' in v, j: JSON.stringify({r: v, n: 1}),
        arr: JSON.stringify([v]), undef: v.Nope === undefined
      };
    }""")(Right(
      """{"arr":"[null]","hasCos":true,"hasId":true,"hasX":false,""" +
        """"j":"{\"n\":1}","s":"[object Record]","t":"object","undef":true}"""))
  }

  test("record wrapper surface: a negative range start is a RangeError, run after run") {
    val want = "RangeError: range start -1 is negative"
    for (m <- Seq("DotRange", "CosineRange", "JaccardRange")) {
      val code = s"function neg() { return records.Find(1).$m(records.Find(2), -1, 2); }"
      pinBoth(code)(Left(want))
      // the same message once the method is hot, not a bare
      // ArrayIndexOutOfBoundsException whose message the JIT may drop
      val reg = new OracleRegistry
      val o = reg.createJs("neg", code).fold(e => fail(s"compile failed: $e"), identity)
      (1 to 300).foreach(i => assert(reg.run(o.id, store, Nil) === Left(want), s"run $i"))
      // JS code can catch it as a RangeError
      pinBoth(s"""function caught() {
        try { records.Find(1).$m(records.Find(2), -3, 2); return {e: 'no error'}; }
        catch (e) { return {e: e.name + '|' + e.message}; }
      }""")(Right("{\"e\":\"RangeError|range start -3 is negative\"}"))
    }
  }

  test("record Cosine over cached norms equals CosineRange to the bit, SetData included") {
    val ragged = RecordStore.fromRecords(spark, Seq(
      SumRecord(1L, Array(1f, 2f, 3f)),
      SumRecord(2L, Array(0.5f, -4f, 6f, 1e-3f, 7f)),
      SumRecord(3L, Array(-0.0f, -0.0f)),
      SumRecord(4L, Array(0f, 0f, 0f, 0f)),
      SumRecord(5L, Array.emptyFloatArray),
      SumRecord(6L, Array(2f, Float.NaN, 1f)),
      SumRecord(7L, Array(Float.PositiveInfinity, 1f)),
      SumRecord(8L, Array(3f, -1f, 0.25f, 9f, -2f, 4f, 8f))))
    // the same bits as far as JS can tell: NaN matches NaN, -0 differs from 0
    val same = "function same(x, y) { return x === y ? " +
      "(x !== 0 || 1 / x === 1 / y) : (x !== x && y !== y); }"
    // record 9 is a Find miss: the null record, which reads as empty
    pinBoth(s"""function pin() {
      $same
      var rs = [];
      for (var id = 1; id <= 9; id++) rs.push(records.Find(id));
      var bad = [];
      for (var i = 0; i < 8; i++) for (var j = 0; j < rs.length; j++)
        if (!same(rs[i].Cosine(rs[j]), rs[i].CosineRange(rs[j], 0, 1e9))) bad.push([i + 1, j + 1]);
      return bad;
    }""")(Right("[]"))(ragged)
    pinBoth(s"""function pin() {
      $same
      var v = records.Find(1), w = records.Find(2), before = v.Cosine(w);
      v.SetData([1, 0, 0]);
      var after = v.Cosine(w);
      var ok1 = same(after, v.CosineRange(w, 0, 1e9)) && after !== before;
      w.SetData([0, 5]);
      var ok2 = same(v.Cosine(w), 0) && same(w.Cosine(v), w.CosineRange(v, 0, 1e9));
      return [ok1, ok2, same(records.Find(1).Cosine(records.Find(2)), before)];
    }""")(Right("[true,true,true]"))(ragged)
  }

  test("an index or length write past the array bound fails the run; a non-index key is a named write") {
    val bound = "Array length %s exceeds the engine bound of 16777216 elements"
    pinBoth("function f() { var x = []; x[2000000000] = 1; return x.length; }")(
      Left(bound.format("2000000001")))
    pinBoth("function f() { var x = []; x['4000000000'] = 1; return x.length; }")(
      Left(bound.format("4000000001")))
    pinBoth("function f() { var x = [1]; x[16777216] = 1; return x.length; }")(
      Left(bound.format("16777217")))
    pinBoth("function f() { var x = []; x.length = 20000000; return x.length; }")(
      Left(bound.format("20000000")))
    pinBoth("""function f() {
      function err(g) { try { g(); return 'no error'; } catch (e) { return '' + e; } }
      var a = [1, 2];
      var x = [];
      x[3] = 'd'; x['1'] = 'b'; x[-0] = 'a';
      return [
        err(function () { a[1.5] = 9; }), err(function () { a['x'] = 9; }),
        err(function () { a['01'] = 9; }), err(function () { a[-1] = 9; }),
        err(function () { a[4294967295] = 9; }), err(function () { a.length = -1; }),
        err(function () { a.length = 1.5; }), err(function () { a.length = 'abc'; }),
        a, x, a.length = '1', a];
    }""")(Right("""["TypeError: cannot set property '1.5' of object",""" +
      """"TypeError: cannot set property 'x' of object",""" +
      """"TypeError: cannot set property '01' of object",""" +
      """"TypeError: cannot set property '-1' of object",""" +
      """"TypeError: cannot set property '4294967295' of object",""" +
      """"RangeError: Invalid array length","RangeError: Invalid array length",""" +
      """"RangeError: Invalid array length",[1],["a","b",null,"d"],"1",[1]]"""))
  }

  test("Math.min/max with NaN, typeof NaN/Infinity and hasOwnProperty of index names follow ES5") {
    pinBoth("""function f() {
      return [Math.min(1, NaN), Math.max(NaN, 1), Math.min(NaN), 1 / Math.min(0, -0),
        1 / Math.max(-0, 0), Math.min(), Math.max(), typeof NaN, typeof Infinity,
        typeof undefined, [1, 2].hasOwnProperty('01'), 'ab'.hasOwnProperty('01'),
        [1, 2].hasOwnProperty('1'), 'ab'.hasOwnProperty('1'),
        [1, 2].propertyIsEnumerable('01'), [1, 2].propertyIsEnumerable('1'),
        [1, 2].hasOwnProperty('2'), [1, 2].hasOwnProperty('4294967294')].map(String);
    }""")(Right("""["NaN","NaN","NaN","-Infinity","Infinity","Infinity","-Infinity",""" +
      """"number","number","undefined","false","false","true","true","false","true",""" +
      """"false","false"]"""))
  }

  test("calls evaluate the callee and its base before the arguments (ES5 11.2.1-11.2.3)") {
    pinBoth("""function f() {
      var log = [];
      function g() { log.push('g'); return function (v) { return v; }; }
      function h() { log.push('h'); return 1; }
      function mk() { log.push('mk'); return function (v) { this.v = v; }; }
      var o = {m: function () { return 1; }};
      var p = {m: function () { return 'old'; }};
      var q = {m: function () { return 2; }};
      var r = [o.m(o = null), p.m(p.m = function () { return 'new'; }), q['m'](q = null)];
      g()(h());
      log.push('|');
      var c = new (mk())(h());
      r.push(c.v);
      var errs = [];
      try { (null).concat(notDeclaredAnywhere); } catch (e) { errs.push(e.name); }
      try { var k = 'm'; var u; u[k](notDeclaredAnywhere); } catch (e) { errs.push(e.name); }
      try { missingFn(notDeclaredAnywhere); } catch (e) { errs.push(e.name); }
      return [r, log.join(','), errs].map(String);
    }""")(Right("""["1,old,2,1","g,h,|,mk,h","TypeError,TypeError,ReferenceError"]"""))
    // the null base fails before the undeclared argument is read, with
    // the member read's message
    pinBoth("function f() { return (null).concat(notDeclaredAnywhere); }")(
      Left("TypeError: cannot read property 'concat' of object"))
  }

  test("Math.round follows ES5 15.8.2.15: ties up, -0 kept, no rounding in the addition") {
    pinBoth("""function f() {
      return [1 / Math.round(-0.4), Math.round(0.49999999999999994), 1 / Math.round(-0),
        Math.round(2.5), Math.round(-2.5), 1 / Math.round(-0.5), Math.round(-0.6),
        Math.round(NaN), Math.round(1e20), Math.round(-Infinity), Math.round(0.5),
        Math.round(4503599627370495.5), 1 / Math.round(0.2)].map(String);
    }""")(Right("""["-Infinity","0","-Infinity","3","-2","-Infinity","-1","NaN",""" +
      """"100000000000000000000","-Infinity","1","4503599627370496","Infinity"]"""))
  }

  test("Date construction and setTime apply TimeClip (ES5 15.9.1.14)") {
    pinBoth("""function f() {
      var d = new Date(0);
      return [new Date(1e308).getUTCFullYear(), new Date(8.64e15 + 1).getTime(),
        new Date(1.7).getTime(), new Date(-1.7).getTime(), new Date(8.64e15).getTime(),
        new Date(-8.64e15).getTime(), new Date(-8.64e15 - 1).getTime(),
        1 / new Date(-0).getTime(), new Date(NaN).getTime(), new Date(Infinity).getTime(),
        d.setTime(1.5), d.setTime(9e15), new Date('2021-03-04T05:06:07.008Z').getTime(),
        Date.UTC(275760, 8, 13, 0, 0, 0, 1)].map(String);
    }""")(Right("""["NaN","NaN","1","-1","8640000000000000","-8640000000000000","NaN",""" +
      """"Infinity","NaN","NaN","1","NaN","1614834367008","NaN"]"""))
  }

  test("a runaway loop hits the step budget instead of wedging the server") {
    val r = runJs("function spin(){ while(true){} }")
    assert(r.isLeft)
    assert(r.left.exists(_.contains("step budget")))
  }

  test("service-surface dispatch routes JS to the interpreter, SQL to the compiler") {
    def isJs(code: String): Boolean = OracleCompiler.compile(spark, "d", code)
      .exists(_.body.isInstanceOf[graft.oracle.js.JsOracle.Compiled])
    assert(isJs("function f(){}"))
    assert(isJs("// entry\nfunction f(){}"))
    // the reference accepts ANY otto-legal program containing a function
    // declaration, regardless of the opening statement
    // (node/service/compiler.go:19-52)
    assert(isJs("var limit = 10;\nfunction f(){ return limit; }"))
    assert(isJs("if (true) { }\nfunction f(){ return 1; }"))
    // an identifier merely STARTING with "function" is not a declaration
    assert(!isJs("SELECT functions FROM t"))
    assert(!isJs("SELECT 1 AS one"))
    val viaDispatch = OracleCompiler.compile(spark, "js",
      "function one(){ return 1; }").fold(m => fail(m), identity)
    val reg = new OracleRegistry
    val created = reg.create(viaDispatch).fold(m => fail(m), identity)
    assert(reg.run(created.id, store, Seq.empty) === Right("1"))
    assert(OracleCompiler.compile(spark, "sql", "SELECT 1 AS one").isRight)
    // JS-parseable code with no function declaration and no SQL meaning
    // gets the reference compiler's message, not a SQL parse error
    assert(OracleCompiler.compile(spark, "nofn", "var x = 1;") ===
      Left("expected a function declaration"))
    // expression-first JS program: routed to the JS compiler and runnable
    val exprFirst = OracleCompiler.compile(spark, "exprFirst",
      "var seed = 2;\nfunction twice(){ return seed * 2; }")
      .fold(m => fail(m), identity)
    val created2 = reg.create(exprFirst).fold(m => fail(m), identity)
    assert(reg.run(created2.id, store, Seq.empty) === Right("4"))
  }

  test("distributed run: per-node JS partials fold through the JS merger " +
      "(master/service_test.go:483-545)") {
    // The reference's master fans an oracle out to nodes and folds the
    // per-node results; graft's distribution model makes each partition a
    // "node". Simulate two nodes as two store shards, run the JS oracle
    // per shard, and fold through graft's Merge — the same path
    // DistributionSpec drives for Spark-native oracles.
    import graft.oracle.Merge
    val scalarCode = """
function sumAllVectors() {
    var result = 0.0;
    records.All().forEach(function(record){
        for (var i=0; i < 3; i++) {
            result += record.Get(i);
        }
    });
    return result;
}"""
    val shard1 = RecordStore.fromRecords(spark,
      Seq(SumRecord(1L, Array(1f, 2f, 3f))))
    val shard2 = RecordStore.fromRecords(spark,
      Seq(SumRecord(2L, Array(10f, 20f, 30f)), SumRecord(3L, Array(0.5f, 0f, 0f))))

    def partials(code: String): (Seq[JValue], graft.oracle.Oracle) = {
      val reg = new OracleRegistry
      val o = reg.createJs("sumAllVectors", code).fold(m => fail(m), identity)
      val ctx = new graft.oracle.OracleContext
      (Seq(shard1, shard2).map(st => o.body(ctx, st, Seq.empty)), o)
    }

    // Without a merger, a scalar hits the reference's tri-state error.
    val (parts, o1) = partials(scalarCode)
    assert(parts === Seq(JInt(6), JDouble(60.5)))
    assert(o1.merger.isEmpty)
    val noMerge = Merge.merge(parts.map(Merge.toWire(_).toOption.get), o1.merger)
    assert(noMerge.isLeft)
    assert(noMerge.left.exists(_.contains("not supported for auto-merge")))

    // With mergeNodesResults the partials fold to the whole-store sum.
    val validCode = scalarCode + """
function add(accumulator, a) { return accumulator + a; }
function mergeNodesResults(results) {
    return results.reduce(add);
}"""
    val (parts2, o2) = partials(validCode)
    assert(o2.merger.isDefined)
    assert(Merge.merge(parts2.map(Merge.toWire(_).toOption.get), o2.merger) ===
      Right(Right("66.5")))
  }

  test("for-in, typeof, ternary, string methods, Math — the ES5 odds and ends") {
    val code = """function misc() {
      var o = {b: 2, a: 1};
      var keys = [];
      for (var k in o) { keys.push(k); }
      var t = typeof 1 === 'number' ? 'num' : 'other';
      var s = 'Hello World';
      return {
        keys: keys.join('-'),
        t: t,
        up: s.toUpperCase(),
        idx: s.indexOf('World'),
        sub: s.substring(0, 5),
        sq: Math.sqrt(16),
        mx: Math.max(1, 9, 4),
        parsed: parseInt('42') + parseFloat('0.5')
      };
    }"""
    assert(runJs(code) === Right(
      """{"idx":6,"keys":"b-a","mx":9,"parsed":42.5,"sq":4,"sub":"Hello","t":"num","up":"HELLO WORLD"}"""))
  }

  test("failing merger: ctx.Error in the merge hook fails with the " +
      "reference's exact message (master/service_test.go:550-568)") {
    import graft.oracle.Merge
    val reg = new OracleRegistry
    val failing = reg.createJs("sumAllVectorsFailing", """
function sumAllVectors() { return 1; }
function mergeNodesResults(results) {
  ctx.Error('FAIL');
}""").fold(m => fail(m), identity)
    assert(Merge.merge(Seq("1", "2"), failing.merger) ===
      Left("merger function failed: FAIL"))
    // a merger that reads ctx NON-fatally must not blow up
    val reading = reg.createJs("ctxReader", """
function entry() { return 1; }
function mergeAll(results) {
  if (ctx.IsError()) { return null; }
  var total = 0;
  results.forEach(function(r){ total += r; });
  return total;
}""").fold(m => fail(m), identity)
    assert(Merge.merge(Seq("1", "2"), reading.merger) === Right(Right("3")))
  }

  test("throwing merger: `throw \"apple cider\"` fails with otto's " +
      "message (master/service_test.go:668-684)") {
    import graft.oracle.Merge
    val reg = new OracleRegistry
    val o = reg.createJs("mergerThrowup", """
function drinkAppleCider() { return 0; }
function mergeSomethingButThrowup(results) { throw "apple cider"; }""")
      .fold(m => fail(m), identity)
    assert(o.merger.isDefined)
    assert(Merge.merge(Seq("1"), o.merger) ===
      Left("unable to run merger function: apple cider"))
  }

  test("throw / try / catch / finally (otto-legal grammar the reference accepts)") {
    val code = """function t() {
      var log = [];
      // user throw, caught
      try { throw "boom"; log.push("unreached"); }
      catch (e) { log.push("caught:" + e); }
      finally { log.push("fin1"); }
      // runtime error, caught as an Error-shaped value
      try { var x = null; x.foo; }
      catch (e) { log.push(e.name); }
      // try/finally without catch: finally runs, value flows out
      var v = 0;
      try { v = 1; } finally { v += 1; }
      log.push("v" + v);
      // nested: inner rethrow caught outside
      try {
        try { throw new TypeError("inner"); }
        catch (e) { throw e; }
      } catch (e2) { log.push(e2.name + "/" + e2.message); }
      return log.join("|");
    }"""
    assert(runJs(code) ===
      Right("\"caught:boom|fin1|TypeError|v2|TypeError/inner\""))
    // an uncaught throw fails the run with the thrown value's export
    assert(runJs("function t(){ throw \"apple cider\"; }") ===
      Left("apple cider"))
    assert(runJs("function t(){ throw new RangeError(\"too big\"); }") ===
      Left("RangeError: too big"))
  }

  test("try/catch cannot swallow the step budget") {
    // the budget fires inside the try body; the catch clause must let it
    // pass (it only intercepts JS throws and run errors)
    val r = runJs(
      "function spin(){ while(true){ try { var i = 0; } catch(e) {} } }")
    assert(r.isLeft)
    assert(r.left.exists(_.contains("step budget")))
  }

  test("switch/case/default with fall-through") {
    val code = """function sw(n) {
      var out = [];
      switch (n) {
        case 1: out.push("one"); break;
        case 2: out.push("two"); // falls through
        case 3: out.push("three"); break;
        default: out.push("many");
      }
      switch ("zzz") { case "a": return "wrong"; default: out.push("dflt"); }
      return out.join(",");
    }"""
    assert(runJs(code, "1") === Right("\"one,dflt\""))
    assert(runJs(code, "2") === Right("\"two,three,dflt\""))
    assert(runJs(code, "3") === Right("\"three,dflt\""))
    assert(runJs(code, "9") === Right("\"many,dflt\""))
  }

  test("regex literals: test/exec/match/replace/split/search, /g statefulness") {
    val code = """function re() {
      var words = /\w+/g;
      var s = "the quick brown fox";
      var count = 0, m;
      while ((m = words.exec(s)) !== null) { count++; }
      var division = 10 / 2 / 5; // `/` after a value is division
      return {
        count: count,
        test: /qu.ck/.test(s),
        first: s.match(/b(r)own/)[1],
        all: s.match(/o/g).length,
        repl: s.replace(/(\w+) (\w+)/, "$2 $1"),
        replAll: "a-b-c".replace(/-/g, "+"),
        fn: "x1y2".replace(/\d/g, function(d){ return d * 2; }),
        parts: "a1b22c".split(/\d+/).join("|"),
        at: s.search(/fox/),
        ci: /FOX/i.test(s),
        division: division
      };
    }"""
    assert(runJs(code) === Right("""{"all":2,"at":16,"ci":true,"count":4,""" +
      """"division":1,"first":"r","fn":"x2y4","parts":"a|b|c",""" +
      """"repl":"quick the brown fox","replAll":"a+b+c","test":true}"""))
  }

  test("new / instanceof / delete / in operators") {
    val code = """function ops() {
      var a = new Array(3);
      var b = new Array(1, 2);
      var o = new Object();
      o.k = 1;
      var isIn = "k" in o;
      delete o.k;
      var gone = !("k" in o);
      var re = new RegExp("a+", "i");
      return {
        alen: a.length, blen: b.length,
        isArr: b instanceof Array && Array.isArray(b),
        isObj: o instanceof Object,
        isRe: re instanceof RegExp && re.test("AAA"),
        err: (new TypeError("x")) instanceof Error,
        isIn: isIn, gone: gone,
        idx: 1 in b, past: !(5 in b)
      };
    }"""
    assert(runJs(code) === Right("""{"alen":3,"blen":2,"err":true,""" +
      """"gone":true,"idx":true,"isArr":true,"isIn":true,"isObj":true,""" +
      """"isRe":true,"past":true}"""))
  }

  test("JSON.parse / JSON.stringify") {
    val code = """function j(raw) {
      var v = JSON.parse(raw);
      v.extra = [1, "two", null, true];
      v.skipMe = undefined;
      return {
        round: JSON.stringify(v),
        num: JSON.stringify(1/0),
        pretty: JSON.stringify({a:1}, null, 2)
      };
    }"""
    assert(runJs(code, "\"{\\\"n\\\": 1.5, \\\"s\\\": \\\"x\\\"}\"") === Right(
      """{"num":"null","pretty":"{\n  \"a\": 1\n}",""" +
      """"round":"{\"n\":1.5,\"s\":\"x\",\"extra\":[1,\"two\",null,true]}"}"""))
  }

  test("natives audit: Number/String/Math/Array additions, ES5 parseInt") {
    val code = """function n() {
      var arr = [3, 1, 2];
      arr.reverse();
      var shifted = arr.shift();
      arr.unshift(9);
      var spliced = arr.splice(1, 1, 7, 8);
      return {
        fx: (3.14159).toFixed(2),
        hex: (255).toString(16),
        fcc: String.fromCharCode(72, 105),
        cca: "Hi".charCodeAt(1),
        fin: isFinite(1) && !isFinite(1/0),
        some: [1,2,3].some(function(x){ return x > 2; }),
        every: [1,2,3].every(function(x){ return x > 0; }),
        pHex: parseInt("0x1F"),
        pSign: parseInt("1-2"),
        pNeg: parseInt("-42"),
        sub2: "abcdef".substr(-3, 2),
        lio: "abcabc".lastIndexOf("b"),
        atan2: Math.atan2(1, 1) === Math.PI / 4,
        arr: arr.join(","), shifted: shifted, spliced: spliced.join(",")
      };
    }"""
    assert(runJs(code) === Right("""{"arr":"9,7,8,3","atan2":true,""" +
      """"cca":105,"every":true,"fcc":"Hi","fin":true,"fx":"3.14",""" +
      """"hex":"ff","lio":4,"pHex":31,"pNeg":-42,"pSign":1,"shifted":2,""" +
      """"some":true,"spliced":"1","sub2":"de"}"""))
  }

  test("Object.prototype surface: hasOwnProperty guard idiom, toString, " +
      "valueOf; `arguments`; Function call/apply") {
    // The canonical ES5 iteration guard — the single most common line of
    // otto-era JavaScript an oracle author would port.
    val guard = """function count(obj) {
      var n = 0;
      for (var k in obj) { if (obj.hasOwnProperty(k)) n++; }
      return n + (obj.hasOwnProperty("missing") ? 100 : 0);
    }"""
    assert(runJs(guard, """{"a":1,"b":2}""") === Right("2"))

    val proto = """function p() {
      var arr = [10, 20];
      return {
        aIdx: arr.hasOwnProperty(1),
        aOut: arr.hasOwnProperty(5),
        aLen: arr.hasOwnProperty("length"),
        oStr: ({}).toString(),
        nStr: (42).valueOf() + 1,
        sHas: "hi".hasOwnProperty(0),
        pe: ({x: 1}).propertyIsEnumerable("x")
      };
    }"""
    assert(runJs(proto) === Right("""{"aIdx":true,"aLen":true,""" +
      """"aOut":false,"nStr":43,"oStr":"[object Object]","pe":true,""" +
      """"sHas":true}"""))

    // `arguments` makes variadic entry points runnable; apply makes the
    // Math.max-over-an-array idiom work without a reduce.
    val variadic = """function v() {
      function sum() {
        var t = 0;
        for (var i = 0; i < arguments.length; i++) t += arguments[i];
        return t;
      }
      return {
        s: sum(1, 2, 3, 4),
        mx: Math.max.apply(null, [3, 9, 4]),
        cl: sum.call(null, 5, 6),
        ln: sum.length
      };
    }"""
    assert(runJs(variadic) === Right("""{"cl":11,"ln":0,"mx":9,"s":10}"""))
  }

  test("this, user constructors, and prototype chains (ES5 13.2)") {
    // Constructor + prototype method + inheritance via the classic
    // Child.prototype = new Parent() idiom, with Parent.call(this, ...)
    // constructor chaining — the shape otto-era user types take.
    val code = """function run() {
      function Point(x, y) { this.x = x; this.y = y; }
      Point.prototype.norm2 = function () {
        return this.x * this.x + this.y * this.y;
      };
      Point.prototype.kind = "point";

      function Point3(x, y, z) { Point.call(this, x, y); this.z = z; }
      Point3.prototype = new Point(0, 0);
      Point3.prototype.norm2 = function () {
        return this.x * this.x + this.y * this.y + this.z * this.z;
      };

      var p = new Point(3, 4);
      var q = new Point3(1, 2, 2);
      var ownKeys = [];
      for (var k in p) ownKeys.push(k);   // x, y + inherited norm2/kind
      ownKeys.sort();

      // a detached method call loses its receiver (plain call => this
      // undefined), so the var-self idiom is what works:
      var saw = null;
      function Counter() {
        var self = this;
        this.n = 7;
        (function () { saw = self.n; })();
      }
      new Counter();

      return {
        pn: p.norm2(), qn: q.norm2(),
        kind: q.kind,                      // two-level prototype walk
        inst: [p instanceof Point, q instanceof Point3,
               q instanceof Point, p instanceof Point3],
        ctor: p.constructor === Point,     // non-enumerable back-link
        keys: ownKeys.join(","),
        own: p.hasOwnProperty("x") && !p.hasOwnProperty("norm2"),
        inOp: "norm2" in p,                // `in` sees inherited
        shadow: (function () {
          var r = new Point(1, 1);
          r.norm2 = function () { return 99; }; // own field shadows proto
          return r.norm2();
        })(),
        saw: saw,
        thisTop: typeof this               // plain-run entry: undefined
      };
    }"""
    assert(runJs(code) === Right("""{"ctor":true,"inOp":true,""" +
      """"inst":[true,true,true,false],"keys":"kind,norm2,x,y",""" +
      """"kind":"point","own":true,"pn":25,"qn":9,"saw":7,""" +
      """"shadow":99,"thisTop":"undefined"}"""))

    // Object.keys: own enumerable only — the default prototype's
    // non-enumerable constructor back-link stays invisible
    val keys = """function k() {
      function T(a) { this.a = a; }
      T.prototype.m = function () { return 1; };
      return {
        inst: Object.keys(new T(5)).join(","),
        proto: Object.keys(T.prototype).join(",")
      };
    }"""
    assert(runJs(keys) === Right("""{"inst":"a","proto":"m"}"""))
  }

  test("adversarial edges: shadow/delete re-exposes the prototype, " +
      "finally vs labeled break, invalid-Date getters, arguments") {
    val code = """function edges() {
      // deleting an own field un-shadows the prototype value
      function T() {}
      T.prototype.v = "proto";
      var t = new T();
      t.v = "own";
      var shadowed = t.v;
      delete t.v;
      var reExposed = t.v;

      // finally runs on the way out of a labeled break, in order
      var trail = [];
      out:
      for (var i = 0; i < 3; i++) {
        try {
          trail.push("t" + i);
          if (i === 1) break out;
        } finally {
          trail.push("f" + i);
        }
      }

      // an Invalid Date answers NaN from getters, null from toJSON,
      // "Invalid Date" from toString — and never throws except toISOString
      var bad = new Date("nope");
      var isoThrew = false;
      try { bad.toISOString(); } catch (e) { isoThrew = true; }

      // arguments reflects the call site, not the declaration
      function f(a, b) { return arguments.length; }

      return {
        shadowed: shadowed, reExposed: reExposed,
        trail: trail.join(","),
        badY: isNaN(bad.getUTCFullYear()),
        badJson: JSON.stringify({d: bad}),
        badStr: "" + bad,
        isoThrew: isoThrew,
        argLen: [f(), f(1), f(1, 2, 3)]
      };
    }"""
    assert(runJs(code) === Right("""{"argLen":[0,1,3],""" +
      """"badJson":"{\"d\":null}","badStr":"Invalid Date","badY":true,""" +
      """"isoThrew":true,"reExposed":"proto","shadowed":"own",""" +
      """"trail":"t0,f0,t1,f1"}"""))
  }

  test("URI globals, localeCompare, reduceRight") {
    val code = """function u() {
      return {
        ec: encodeURIComponent("a b/c?&=100% é"),
        eu: encodeURI("http://x.io/a b?q=1&r=é"),
        dc: decodeURIComponent("a%20b%2Fc%3F%26%3D100%25%20%C3%A9"),
        du: decodeURI("http://x.io/a%20b%3Fq%3D1"),
        lc: ["b".localeCompare("a"), "a".localeCompare("b"),
             "a".localeCompare("a")],
        rr: [1, 2, 3].reduceRight(function(acc, x) { return acc + "," + x; },
          "seed")
      };
    }"""
    assert(runJs(code) === Right("""{"dc":"a b/c?&=100% é",""" +
      """"du":"http://x.io/a b%3Fq%3D1","ec":"a%20b%2Fc%3F%26%3D100%25%20%C3%A9",""" +
      """"eu":"http://x.io/a%20b?q=1&r=%C3%A9","lc":[1,-1,0],""" +
      """"rr":"seed,3,2,1"}"""))
    assert(runJs("function f(){ return decodeURIComponent('%zz'); }")
      .left.exists(_.contains("URI malformed")))
  }

  test("labeled break/continue across nested loops, switch, and blocks") {
    val code = """function lbl() {
      // labeled break out of a nested scan — the classic search idiom
      var found = -1;
      outer:
      for (var i = 0; i < 5; i++) {
        for (var j = 0; j < 5; j++) {
          if (i * 10 + j === 23) { found = i * 10 + j; break outer; }
        }
      }
      // labeled continue: skip the rest of the INNER loop rounds whenever
      // j passes the diagonal — counts only the lower triangle
      var tri = 0;
      rows:
      for (var a = 0; a < 4; a++) {
        for (var b = 0; b < 4; b++) {
          if (b > a) continue rows;
          tri++;
        }
      }
      // a labeled break inside a switch targets the LOOP, not the switch;
      // an unlabeled one still just ends the switch
      var seen = [];
      scan:
      for (var k = 0; k < 5; k++) {
        switch (k) {
          case 2: break;          // ends the switch only
          case 3: break scan;     // ends the loop
        }
        seen.push(k);
      }
      // `break l` exits a labeled non-loop block
      var step = 0;
      blk: {
        step = 1;
        if (step === 1) break blk;
        step = 2;
      }
      return {found: found, tri: tri, seen: seen.join(","), step: step};
    }"""
    assert(runJs(code) ===
      Right("""{"found":23,"seen":"0,1,2","step":1,"tri":10}"""))

    // an undefined label surfaces as an error, not a leaked control signal
    val bad = "function f() { while (true) { break nowhere; } }"
    assert(runJs(bad).left.exists(_.contains("undefined label")))
  }

  test("Date: UTC-pinned ES5 subset (ctor forms, getters, parse, " +
      "arithmetic, ISO/JSON round trip)") {
    val code = """function d() {
      var t = new Date(Date.UTC(2026, 7, 16, 1, 30, 0, 250));
      var iso = new Date("2026-08-16T01:30:00.250Z");
      var parsed = Date.parse("2026-08-16");
      var bad = new Date("definitely not a date");
      return {
        ms: t.getTime(),
        same: t.getTime() === iso.valueOf(),
        y: t.getUTCFullYear(), mo: t.getMonth(), day: t.getUTCDate(),
        dow: t.getDay(),                       // 2026-08-16 is a Sunday
        hh: t.getHours(), mm: t.getMinutes(), msec: t.getMilliseconds(),
        tz: t.getTimezoneOffset(),
        midnight: parsed,
        diffH: (t.getTime() - parsed) / 3600000,
        iso: t.toISOString(),
        json: JSON.stringify({when: t}),
        inst: t instanceof Date,
        badNaN: isNaN(bad.getTime()),
        cmp: iso - new Date(0)                 // arithmetic in epoch ms
      };
    }"""
    // 2026-08-16T01:30:00.250Z = 1786843800250 ms
    assert(runJs(code) === Right("""{"badNaN":true,"cmp":1786843800250,""" +
      """"day":16,"diffH":1.5000694444444445,"dow":0,"hh":1,""" +
      """"inst":true,"iso":"2026-08-16T01:30:00.250Z",""" +
      """"json":"{\"when\":\"2026-08-16T01:30:00.250Z\"}",""" +
      """"midnight":1786838400000,"mm":30,"mo":7,"ms":1786843800250,""" +
      """"msec":250,"same":true,"tz":0,"y":2026}"""))
  }

  test("Date field-constructor edges are NaN, never a crash (ES5 TimeClip)") {
    // Date.UTC() with zero args, an out-of-java.time-range year, and a
    // value past the ±8.64e15 ms TimeClip bound all yield NaN / Invalid
    // Date — user-reachable inputs must surface ES5 semantics, not a raw
    // executor exception (round-8 ADVICE item).
    val code = """function edges() {
      return {
        empty: isNaN(Date.UTC()),
        hugeYear: isNaN(new Date(1e10, 0).getTime()),
        negHuge: isNaN(Date.UTC(-1e9, 0)),
        clip: isNaN(Date.UTC(275760, 8, 14)),  // one day past the ES5 max
        maxOk: Date.UTC(275760, 8, 13)         // the exact ES5 max instant
      };
    }"""
    assert(runJs(code) === Right("""{"clip":true,"empty":true,""" +
      """"hugeYear":true,"maxOk":8640000000000000,"negHuge":true}"""))
  }

  test("decodeURI rejects malformed sequences with URIError (ES5 15.1.3)") {
    // invalid UTF-8 percent bytes and signed-hex digits are URIError,
    // not U+FFFD replacement / sign-tolerant parseInt (round-8 ADVICE)
    val ok = """function f() {
      return decodeURIComponent('%E2%82%AC') + '|' + decodeURI('a%20b');
    }"""
    assert(runJs(ok) === Right("\"€|a b\""))
    for (bad <- Seq("'%FF'", "'%+f'", "'%2'", "'%zz'", "'%E2%82'")) {
      val r = runJs(s"function f() { return decodeURIComponent($bad); }")
      assert(r.left.exists(_.contains("URIError: URI malformed")), s"input $bad -> $r")
    }
  }

  test("label sets: consecutive labels all attach to the loop (ES5 12.12)") {
    val code = """function f() {
      var hits = 0;
      l1: l2: for (var i = 0; i < 4; i++) {
        for (var j = 0; j < 4; j++) {
          if (j > i) continue l1;   // targets the OUTER loop via label 1
          if (i === 3) break l2;    // and breaks it via label 2
          hits++;
        }
      }
      return hits;
    }"""
    assert(runJs(code) === Right("6")) // rows 0,1,2 contribute 1+2+3
  }

  test("residual otto-grammar deltas are NAMED fail-loud rejections, " +
      "never silent misparses (COVERAGE.md delta table)") {
    val reg = new OracleRegistry
    def compileErr(code: String): String =
      reg.createJs("delta", code).swap.getOrElse(fail(s"compiled: $code"))
    // `with`: parse-time rejection — without the keyword reservation it
    // would parse as a CALL to an undefined `with` function and execute
    // the block with wrong scoping
    assert(compileErr("function f(o) { with (o) { return x; } }")
      .endsWith("with statements are not supported")) // "Line 1: " prefix
    // accessor literals: parse-time rejection with a named message
    assert(compileErr("function f() { return {get x() { return 1; }}; }")
      .endsWith("accessor properties (get/set) are not supported"))
    assert(compileErr("function f() { return {set x(v) {}}; }")
      .endsWith("accessor properties (get/set) are not supported"))
    // `{get: 1}` / `{set: 'x'}` as PLAIN keys remain valid ES5
    assert(runJs("function f() { var o = {get: 1, set: 2}; return o.get + o.set; }")
      === Right("3"))
    // eval / new Function: no such binding — the definition-time run
    // rejects at compile with otto's ReferenceError shape
    assert(compileErr("function f() {} var x = eval('1');")
      .contains("ReferenceError: 'eval' is not defined"))
    assert(runJs("function f() { return new Function('return 1')(); }")
      .left.exists(_.contains("ReferenceError: 'Function' is not defined")))
    // Object.defineProperty (the runtime route to accessors): named
    // host-method miss
    assert(runJs("function f() { return Object.defineProperty({}, 'x', {}); }")
      .left.exists(_.contains(
        "TypeError: 'defineProperty' is not a function on Object")))
  }

  test("Array length edges: RangeError per ES5, named engine bound for huge valid lengths") {
    // JsFuzzSpec seed 5597 found Array(1e308) saturating .toInt into a
    // raw 2^31-element allocation error. ES5 15.4.2.2: non-integer or
    // >= 2^32 single numeric argument is RangeError; a valid-but-huge
    // length fails the run against a NAMED engine memory bound instead
    // of dying in the JVM allocator. Both constructor forms.
    assert(runJs("function f() { try { Array(1e308); } catch (e) { return '' + e; } }")
      === Right("\"RangeError: Invalid array length\""))
    assert(runJs("function f() { try { new Array(4.2); } catch (e) { return '' + e; } }")
      === Right("\"RangeError: Invalid array length\""))
    assert(runJs("function f() { return Array(20000000).length; }")
      .left.exists(_.contains("exceeds the engine bound")))
    assert(runJs("function f() { return new Array(20000000).length; }")
      .left.exists(_.contains("exceeds the engine bound")))
    // In-range lengths still pre-size per ES5.
    assert(runJs("function f() { return new Array(3).length; }") === Right("3"))
  }

  test("step budget is extendable via grants; ungranted loops still trip") {
    import graft.oracle.js.{JsInterp, JsLang}
    import graft.oracle.OracleBudgetError
    // The records host grants budget per record served (sf10 caught the
    // fixed 50M budget tripping a LINEAR 1.25M-record ForEach pass); the
    // grant mechanism is pinned here at interpreter level: the same
    // ~5000-step loop trips a 500-step interpreter and completes once
    // granted headroom, and the budget error names the grown budget.
    val prog = "var t = 0; for (var i = 0; i < 1000; i++) t += i;"
    val tight = new JsInterp(maxSteps = 500)
    val e = intercept[OracleBudgetError] {
      tight.exec(JsLang.parse(prog), new JsInterp.Env())
    }
    assert(e.msg === "oracle exceeded the 500-step budget")
    val granted = new JsInterp(maxSteps = 500)
    granted.grantSteps(1000000L)
    granted.exec(JsLang.parse(prog), new JsInterp.Env()) // completes
  }

  test("step accounting: each program completes at its pinned budget, not one step below") {
    import graft.oracle.js.{JsInterp, JsLang}
    import graft.oracle.OracleBudgetError
    // One step per statement, per expression node, per function call and
    // per native or host method call: the budget trips at the same step
    // whatever the engine's internal form, so StepsPerRecord keeps its
    // meaning. Each count is the smallest budget the program completes in.
    val pinned = Seq(
      810L -> "var t = 0; for (var i = 0; i < 50; i++) { t += i * 2; t -= 1; } t;",
      2124L -> ("function fib(n) { return n < 2 ? n : fib(n - 1) + fib(n - 2); } " +
        "var r = fib(10);"),
      79L -> ("var a = [1, 2, 3, 4, 5]; " +
        "var b = a.map(function (x) { return x * x; }); var s = 0; " +
        "b.forEach(function (v, i) { s += v + i; });"),
      115L -> """var out = 0;
        outer: for (var i = 0; i < 6; i++) {
          try {
            switch (i % 3) {
              case 0: out += 1; break;
              case 1: out += 10; if (i > 3) break outer; continue;
              default: throw i;
            }
          } catch (e) { out += e; } finally { out++; }
        }""")
    pinned.foreach { case (n, prog) =>
      new JsInterp(maxSteps = n).exec(JsLang.parse(prog), new JsInterp.Env())
      val e = intercept[OracleBudgetError] {
        new JsInterp(maxSteps = n - 1).exec(JsLang.parse(prog), new JsInterp.Env())
      }
      assert(e.msg === s"oracle exceeded the ${n - 1}-step budget")
    }
  }

  test("var is ES5 function-scoped: hoisted to the function, never reset by a bare var") {
    // each comment gives the value before var hoisting
    // a var shadows the outer x from the function's start ("number")
    assert(runJs("var x = 1; function f() { var y = x; var x = 2; return typeof y; }") ===
      Right("\"undefined\""))
    // a repeated bare var keeps the value (null: reset to undefined)
    assert(runJs("function f() { var a = 1; var a; return a; }") === Right("1"))
    // a bare var in a loop body keeps the last iteration's value (NaN)
    assert(runJs("""function f() {
      var n = 0;
      for (var i = 0; i < 3; i++) { var t; if (i == 0) t = 5; n += t; }
      return n;
    }""") === Right("15"))
    // an assignment before its var is local too ("number": a leaked global)
    assert(runJs("function f() { g(); return typeof x; } function g() { x = 5; var x; }") ===
      Right("\"undefined\""))
    // a var in a catch block belongs to the function ("undefined")
    assert(runJs("""function f() {
      try { throw 1; } catch (e) { var inner = 2; }
      return typeof inner;
    }""") === Right("\"number\""))
    // the catch parameter itself stays scoped to its block
    assert(runJs("""function f() {
      var e = 'outer';
      try { throw 'inner'; } catch (e) { var e = 'assigned'; }
      return e;
    }""") === Right("\"outer\""))
  }

  test("an array-index string reads the element of an array or string, on both run paths") {
    val code = """function f() {
      var a = [10, 20];
      var t = 0;
      for (var k in a) t += a[k];
      var fs = [function () { return 7; }];
      return ['' + [a['1'], 'abc'['1']], t, fs['0'](),
        [a['01'], a['1.0'], a['-1'], a['2'], 'abc'['01'], 'abc'['3']]];
    }"""
    val one = """"20,b",30,7,[null,null,null,null,null,null]"""
    assert(runJs(code) === Right(s"[$one]"))
    val reg = new OracleRegistry
    val o = reg.createJs("idx", code).fold(m => fail(m), identity)
    val shards = store.repartitioned(2)
    assert(reg.runDistributed(o.id, shards, Nil) === Right(s"[$one,$one]"))
  }

  test("a top-level return or stray break is a named rejection at create") {
    val reg = new OracleRegistry
    assert(reg.createJs("ret", "function f() {} return 1;") ===
      Left("SyntaxError: Illegal return statement"))
    assert(reg.createJs("brk", "function f() {} break;") ===
      Left("SyntaxError: undefined label ''"))
    assert(reg.createJs("lbl", "function f() {} l: { break m; }") ===
      Left("SyntaxError: undefined label 'm'"))
  }

  test("a nested label that reuses an enclosing label is a SyntaxError at create (ES5 12.12)") {
    val reg = new OracleRegistry
    assert(reg.createJs("dup", "function f() { a: { a: { break a; } } }") ===
      Left("Line 1: Label 'a' has already been declared"))
    assert(reg.createJs("dupLoop",
      "function f() {}\nL1: for (;;) { if (1) { L1: while (true) break L1; } }") ===
      Left("Line 2: Label 'L1' has already been declared"))
    // sibling statements and a nested function body may reuse a label
    pinBoth("""function f() {
      var t = 0;
      a: for (var i = 0; i < 3; i++) { t += i; if (i == 1) break a; }
      a: { t += 10; break a; }
      a: {
        var g = function () { a: for (var j = 0; j < 2; j++) { t += 100; continue a; } };
        g();
      }
      return [t];
    }""")(Right("[211]"))
  }

  test("a write to a primitive base runs its right-hand side and is dropped; null and undefined throw (ES5 8.7.2)") {
    pinBoth("""function f() {
      var n = 0, s = 'str', x = 5, b = true;
      s.p = (n += 1); x.p = (n += 1); b.p = (n += 1);
      s[0] = (n += 1); x[2] = (n += 1); b['k'] = (n += 1);
      s.length = 0; s.q += 1; x.r++;
      return [n, s, typeof s.p, typeof x.p, typeof b.k, s[0], s.length, typeof x.r];
    }""")(Right(
      """[6,"str","undefined","undefined","undefined","s",3,"undefined"]"""))
    pinBoth("function f() { var o = null; o.p = 1; }")(
      Left("TypeError: cannot set property 'p' of object"))
    pinBoth("function f() { var u; u[0] = 1; }")(
      Left("TypeError: cannot set index of undefined"))
  }

  test("parseFloat reads a signed Infinity prefix and fromCharCode applies ToUint16 (ES5 15.1.2.3, 15.5.3.2)") {
    pinBoth("""function f() {
      return [parseFloat('Infinity') === Infinity, parseFloat('  -Infinity1') === -Infinity,
        parseFloat('+Infinityx') === Infinity, isNaN(parseFloat('Inf')),
        isNaN(parseFloat('infinity')), parseFloat('-1.5e2x'),
        String.fromCharCode(1e10).charCodeAt(0), String.fromCharCode(65601, -1).charCodeAt(1),
        String.fromCharCode(65.9, 72), String.fromCharCode(NaN).charCodeAt(0)];
    }""")(Right("""[true,true,true,true,true,-150,58368,65535,"AH",0]"""))
  }

  test("ToInt32 wraps magnitudes past 2^63 modulo 2^32 (ES5 9.5), as node does") {
    // values from node v20; a saturating conversion gives -1 or 0 here
    pinBoth("""function f() {
      return [1e20|0, -1e20|0, 1e20>>>0, (-1e20)>>>0, 1e20<<1, 1e20>>1, ~1e20,
        String.fromCharCode(1e20).charCodeAt(0)];
    }""")(Right("[1661992960,-1661992960,1661992960,2632974336,-970981376,830996480,-1661992961,0]"))
  }

  test("the shared builtins: a run that reassigns parseInt, JSON and Math leaves the next run's intact") {
    val use = """function use() {
      return [parseInt('42'), JSON.stringify({a: [1]}), Math.floor(2.5), Math.max(1, 3)];
    }"""
    val normal = Right("""[42,"{\"a\":[1]}",2,3]""")
    pinBoth(use)(normal)
    // at top level: the top level runs first on every run, so the entry
    // sees its own writes
    pinBoth("""parseInt = null; JSON = 'j'; Math = 0;
      function clobber() { return [parseInt, JSON, Math]; }""")(Right("""[null,"j",0]"""))
    pinBoth(use)(normal)
    // inside the entry, run after run
    val inEntry = """function f() {
      var r = [parseInt('7'), JSON.parse('[1]')[0], Math.abs(-2)];
      parseInt = 0; JSON = 0; Math = 0;
      return r.concat([parseInt, JSON, Math]);
    }"""
    pinBoth(inEntry)(Right("[7,1,2,0,0,0]"))
    pinBoth(inEntry)(Right("[7,1,2,0,0,0]"))
    pinBoth(use)(normal)
    // a builtin takes no writes of its own
    pinBoth("function f() { Math.floor = null; }")(
      Left("TypeError: cannot set property 'floor' of object"))
  }

  test("Math.random starts from Random(42) on every run, on two threads at once") {
    val rnd = new java.util.Random(42)
    val want = JArray(List.fill(3)(JDouble(rnd.nextDouble())))
    val code = "function r() { return [Math.random(), Math.random(), Math.random()]; }"
    val reg = new OracleRegistry
    val o = reg.createJs("r", code).fold(m => fail(s"compile failed: $m"), identity)
    val shard = store.repartitioned(1)
    def race(runs: Int)(run: => Either[String, String]): Unit = {
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val outs = Seq.fill(2)(pool.submit(() => {
          start.await()
          Seq.fill(runs)(run)
        }))
        start.countDown()
        outs.flatMap(_.get()).foreach(out =>
          assert(out.map(JsonMethods.parse(_)) === Right(want)))
      } finally pool.shutdown()
    }
    race(200)(reg.run(o.id, store, Nil))
    race(3)(reg.runDistributed(o.id, shard, Nil))
  }
}
