package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.model.SumRecord
import graft.oracle.OracleRegistry
import graft.store.RecordStore

/** Grammar fuzz over the stored-JS oracle surface (round-8 verdict task
  * 6): every program a user could store must either run, fail with a JS
  * `throw` mapped to the reference's error format, or be rejected with a
  * NAMED message — never fail a task with a raw executor exception and
  * never silently misparse into a different program.
  *
  * The generator covers the supported ES5 grammar (JsLang's AST surface:
  * literals, arrays/objects, member/index access, the full operator set,
  * assignment/update forms, calls into every host global — Math, JSON,
  * String/Array methods, Date, RegExp, parseInt/parseFloat — function
  * declarations/expressions, if/for/while/do/switch/try/throw/labels,
  * for-in) and DELIBERATELY strays off the legal path: undeclared
  * identifiers, out-of-domain arguments, method names that do not exist,
  * self-referential containers (`c.self = c` — the cycle class that
  * used to StackOverflowError through JSON.stringify / result marshal /
  * array join before the round-9 cycle guards), `throw` at top level,
  * and arbitrary-value throws.
  *
  * Contract asserted per program, through the same OracleRegistry layers
  * the service uses:
  *   - createJs returns Right, or Left with a non-empty named message;
  *   - run returns Right(json), or Left with a non-empty message that is
  *     NOT the "got panic of type ..." spelling (a panic Left means an
  *     interpreter defect leaked through — the class this spec exists to
  *     keep closed; cluster-side the same defect would surface per-node);
  *   - no Throwable of any kind escapes either call.
  *
  * Loops generated are structurally bounded (explicit literal trip
  * counts), so the 50M-step budget is never the expected outcome; the
  * budget path itself is pinned in JsOracleSpec.
  */
class JsFuzzSpec extends SparkSpec {

  private lazy val store: RecordStore = RecordStore.fromRecords(spark, Seq(
    SumRecord(1L, Array(1f, 2f, 3f), Map("name" -> "Lorea")),
    SumRecord(2L, Array(2f, 4f, 6f), Map("name" -> "Sabrina")),
    SumRecord(3L, Array(-1f, 0f, 1f), Map.empty[String, String])))

  // ---------------------------------------------------------- generator

  private val poolVars = Seq("a", "b", "c", "d")

  private val numLit: Gen[String] = Gen.oneOf(
    Gen.chooseNum(-100, 100).map(_.toString),
    Gen.oneOf("0", "1", "2", "10", "0.5", "3.25", "1e3", "1e308", "0.1"),
    Gen.chooseNum(0, 255).map(n => s"0x${n.toHexString}"))

  private val strLit: Gen[String] = Gen.oneOf(
    "\"\"", "\"abc\"", "\"fuzz fuzz\"", "\"3\"", "\"-7.5\"", "\"0x1f\"",
    "\"a,b,c\"", "\"  pad  \"", "\"\\n\\t\"", "\"\\u00e9clair\"",
    "\"NaN\"", "\"true\"", "\"[1,2]\"", "\"{\\\"k\\\":1}\"",
    "\"2021-03-04T05:06:07.008Z\"", "\"not a date\"")

  private val atom: Gen[String] = Gen.frequency(
    5 -> numLit,
    4 -> strLit,
    2 -> Gen.oneOf("true", "false", "null"),
    4 -> Gen.oneOf(poolVars),
    1 -> Gen.oneOf("x", "y"),          // entry params
    1 -> Gen.oneOf("undefined", "notDeclaredAnywhere")) // off the legal path

  private val binOp: Gen[String] = Gen.oneOf(
    "+", "-", "*", "/", "%", "<", ">", "<=", ">=", "==", "!=", "===",
    "!==", "&", "|", "^", "<<", ">>", ">>>")

  private val unOp: Gen[String] = Gen.oneOf("!", "-", "+", "~", "typeof ", "void ")

  private def expr(depth: Int): Gen[String] =
    if (depth <= 0) atom
    else Gen.frequency(
      6 -> atom,
      4 -> (for { o <- binOp; l <- expr(depth - 1); r <- expr(depth - 1) }
        yield s"($l $o $r)"),
      2 -> (for { o <- unOp; e <- expr(depth - 1) } yield s"($o$e)"),
      2 -> (for { o <- Gen.oneOf("&&", "||"); l <- expr(depth - 1);
        r <- expr(depth - 1) } yield s"($l $o $r)"),
      1 -> (for { c <- expr(depth - 1); t <- expr(depth - 1);
        f <- expr(depth - 1) } yield s"($c ? $t : $f)"),
      2 -> Gen.listOfN(3, expr(depth - 1)).map(_.mkString("[", ", ", "]")),
      1 -> (for { v1 <- expr(depth - 1); v2 <- expr(depth - 1) }
        yield s"{k: $v1, n: $v2}"),
      2 -> hostCall(depth - 1),
      2 -> methodCall(depth - 1),
      2 -> (for { v <- Gen.oneOf(poolVars);
        op <- Gen.oneOf("=", "+=", "-=", "*=", "|="); e <- expr(depth - 1) }
        yield s"($v $op $e)"),
      1 -> Gen.oneOf(poolVars).map(v => s"($v++)"),
      1 -> Gen.oneOf(poolVars).map(v => s"(--$v)"),
      1 -> (for { o <- expr(depth - 1); i <- expr(depth - 1) }
        yield s"($o)[$i]"),
      1 -> (for { p <- expr(depth - 1); e <- expr(depth - 1) }
        yield s"(function(z){ return $e; })($p)"),
      1 -> (for { l <- expr(depth - 1); r <- expr(depth - 1) }
        yield s"($l, $r)"),
      1 -> (for { e <- expr(depth - 1) }
        yield s"(new Date($e)).getUTCFullYear()"),
      1 -> (for { e <- expr(depth - 1) } yield s"($e instanceof Error)"),
      1 -> (for { e <- expr(depth - 1) } yield s"('k' in {k: $e})"))

  /** Calls into the host globals, arguments unconstrained on purpose. */
  private def hostCall(depth: Int): Gen[String] = for {
    e1 <- expr(depth)
    e2 <- expr(depth)
    call <- Gen.oneOf(
      s"Math.floor($e1)", s"Math.abs($e1)", s"Math.pow($e1, $e2)",
      s"Math.min($e1, $e2)", s"Math.max($e1)", s"Math.sqrt($e1)",
      s"Math.round($e1)", s"Math.log($e1)",
      s"JSON.stringify($e1)", s"JSON.stringify($e1, null, 2)",
      s"JSON.parse($e1)", s"JSON.parse(JSON.stringify($e1))",
      s"parseInt($e1)", s"parseInt($e1, $e2)", s"parseFloat($e1)",
      s"String($e1)", s"Number($e1)", s"Boolean($e1)",
      s"isNaN($e1)", s"isFinite($e1)",
      s"String.fromCharCode($e1)", s"Date.parse($e1)", s"Date.UTC($e1, $e2)",
      s"encodeURIComponent($e1)", s"decodeURIComponent($e1)",
      s"Object.keys({k: $e1, m: $e2})", s"Array($e1)", s"Array.isArray($e1)",
      s"new RegExp(\"[ab]+\").test($e1)",
      s"records.Find(1).Size", s"records.All().length",
      s"records.CreateRecord([1, 2, $e1]).Magnitude()")
  } yield call

  /** String/array method calls over arbitrary receivers — including
    * method names that exist on neither (the named-TypeError path).
    */
  private def methodCall(depth: Int): Gen[String] = for {
    recv <- expr(depth)
    arg <- expr(depth)
    m <- Gen.frequency(
      10 -> Gen.oneOf(
        s"charAt($arg)", s"indexOf($arg)", s"slice($arg)", "toUpperCase()",
        s"substring(0, $arg)", s"split(\",\")", s"concat($arg)",
        s"replace(\"a\", \"z\")", "length"),
      8 -> Gen.oneOf(
        s"push($arg)", s"join(\"-\")", "sort()", s"map(function(z){ return z; })",
        s"filter(function(z){ return !!z; })"),
      1 -> Gen.oneOf(s"noSuchMethod($arg)", "definitelyMissing()"))
  } yield if (m == "length") s"($recv + \"\").length" else s"($recv).$m"

  private def stmt(depth: Int): Gen[String] =
    if (depth <= 0) expr(2).map(e => s"$e;")
    else Gen.frequency(
      5 -> expr(2).map(e => s"$e;"),
      3 -> (for { v <- Gen.oneOf(poolVars); e <- expr(2) }
        yield s"var $v = $e;"),
      3 -> (for { c <- expr(2); t <- block(depth - 1); f <- block(depth - 1) }
        yield s"if ($c) { $t } else { $f }"),
      2 -> (for { n <- Gen.chooseNum(1, 6); i <- Gen.identifier.map("i" + _.take(3));
        b <- block(depth - 1) } yield s"for (var $i = 0; $i < $n; $i++) { $b }"),
      1 -> (for { n <- Gen.chooseNum(1, 6); w <- Gen.identifier.map("w" + _.take(3));
        b <- block(depth - 1) } yield s"var $w = $n; while ($w-- > 0) { $b }"),
      1 -> (for { n <- Gen.chooseNum(1, 4); w <- Gen.identifier.map("q" + _.take(3));
        b <- block(depth - 1) }
        yield s"var $w = $n; do { $w--; $b } while ($w > 0);"),
      2 -> (for { b <- block(depth - 1); e <- expr(1) }
        yield s"try { $b } catch (err) { c = ('' + err); } finally { d = $e; }"),
      1 -> (for { t <- expr(1); b <- block(depth - 1) }
        yield s"try { throw $t; } catch (err) { $b }"),
      1 -> (for { d0 <- expr(2); c1 <- expr(1); b1 <- block(depth - 1);
        b2 <- block(depth - 1) }
        yield s"switch ($d0) { case $c1: $b1 break; case 2: $b2 default: $b2 }"),
      1 -> (for { e <- expr(2); b <- block(depth - 1) }
        yield s"for (var k in {p: 1, q: $e}) { $b }"),
      1 -> (for { n <- Gen.chooseNum(2, 5); b <- block(depth - 1) }
        yield s"L1: for (var j = 0; j < $n; j++) { $b if (j > 1) break L1; }"),
      1 -> Gen.oneOf(poolVars).map(v => s"$v.self = $v;"),   // plant a cycle
      1 -> Gen.const("b[0] = b;"))                           // cyclic array

  private def block(depth: Int): Gen[String] =
    Gen.chooseNum(1, 2).flatMap(n =>
      Gen.listOfN(n, stmt(depth)).map(_.mkString(" ")))

  private val program: Gen[String] = for {
    nBody <- Gen.chooseNum(1, 4)
    body <- Gen.listOfN(nBody, stmt(2))
    ret <- expr(3)
    nTop <- Gen.chooseNum(0, 2)
    top <- Gen.listOfN(nTop, stmt(1))
  } yield {
    val decls = "var a = 3; var b = [1, 2, 3]; var c = {k: 1}; var d = \"s\";"
    s"""function main(x, y) {
       |  $decls
       |  ${body.mkString("\n  ")}
       |  return $ret;
       |}
       |$decls
       |${top.mkString("\n")}""".stripMargin
  }

  // ------------------------------------------------------------ harness

  /** Run one program through the contract above and return its exact
    * outcome, one line of the recorded corpus: `compile` + the createJs
    * rejection, `run` + the run error, or `json` + the result.
    */
  private def checkProgram(src: String, seed: Long): String = {
    val reg = new OracleRegistry
    try {
      reg.createJs("fz", src) match {
        case Left(msg) =>
          assert(msg != null && msg.trim.nonEmpty,
            s"EMPTY compile rejection (seed=$seed) for:\n$src")
          s"compile\t${escape(msg)}"
        case Right(o) =>
          reg.run(o.id, store, Seq("3", "\"fuzz\"")) match {
            case Left(msg) =>
              assert(msg != null && msg.trim.nonEmpty,
                s"EMPTY run error (seed=$seed) for:\n$src")
              assert(!msg.startsWith("got panic of type"),
                s"interpreter defect leaked as panic (seed=$seed): $msg\nfor:\n$src")
              s"run\t${escape(msg)}"
            case Right(json) =>
              assert(json != null && json.nonEmpty)
              s"json\t${escape(json)}"
          }
      }
    } catch {
      case e: org.scalatest.exceptions.TestFailedException => throw e
      case e: Throwable =>
        fail(s"raw ${e.getClass.getName} escaped the oracle layers " +
          s"(seed=$seed): ${e.getMessage}\nfor:\n$src")
    }
  }

  /** One-line form of an outcome: backslash, tab, CR and newline escaped. */
  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t")
      .replace("\r", "\\r").replace("\n", "\\n")

  /** The outcome of every seed below [[RecordedSeeds]], recorded from the
    * AST-walking interpreter that preceded the compiled engine (`none`
    * marks a seed the generator yields no program for). A difference from
    * these is an engine defect, unless an ES5 fix explains it.
    */
  private val RecordedSeeds = 1200

  private lazy val recorded: Map[Long, String] = {
    val in = getClass.getResourceAsStream("/js-fuzz-outcomes.tsv")
    assert(in != null, "missing test resource js-fuzz-outcomes.tsv")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map { line =>
        val tab = line.indexOf('\t')
        line.substring(0, tab).toLong -> line.substring(tab + 1)
      }.toMap
    finally in.close()
  }

  test("1200 generated ES5 programs: run, JS-throw, or named rejection — never a raw exception") {
    val params = Gen.Parameters.default.withSize(20)
    // GRAFT_FUZZ_N widens the sweep for exploratory bursts (dev only —
    // suite time stays bounded at the default). Seeds past the recorded
    // corpus are checked against the contract only.
    val n = sys.env.get("GRAFT_FUZZ_N").flatMap(_.toIntOption).getOrElse(1200)
    var generated = 0
    val mismatches = Seq.newBuilder[String]
    (0 until n).foreach { i =>
      val got = program.apply(params, Seed(i.toLong)) match {
        case Some(src) =>
          generated += 1
          checkProgram(src, i.toLong)
        case None => "none\t"
      }
      if (i < RecordedSeeds && !recorded.get(i.toLong).contains(got))
        mismatches += s"seed $i: recorded ${recorded.getOrElse(i.toLong, "<absent>")}, got $got"
    }
    val diff = mismatches.result()
    assert(diff.isEmpty, s"${diff.size} outcomes differ from the corpus:\n" +
      diff.take(20).mkString("\n"))
    // Gen.apply can return None on retry exhaustion; the grammar has no
    // filters so in practice every seed yields a program — keep a floor
    // so a future generator edit cannot silently hollow the suite out.
    assert(generated >= n * 11 / 12, s"only $generated/$n programs generated")
  }

  test("planted cycles: stringify is a TypeError, result marshal a json error, join is V8-empty") {
    val reg = new OracleRegistry
    def run(src: String): Either[String, String] = {
      val o = reg.createJs("cy", src).fold(m => fail(s"compile failed: $m"), identity)
      reg.run(o.id, store, Nil)
    }
    // JSON.stringify of a self-referential object: ES5 cyclic check.
    val st = run("""function f() {
      var c = {k: 1}; c.self = c;
      try { return JSON.stringify(c); } catch (e) { return '' + e; }
    }""")
    assert(st === Right("\"TypeError: Converting circular structure to JSON\""))
    // Returning a cyclic structure: marshal reports Go's cycle error.
    assert(run("function f() { var b = [1]; b[0] = b; return b; }") ===
      Left("json: unsupported value: encountered a cycle"))
    // Cyclic array join: the guard renders re-entered containers as ""
    // WITHIN one ToString tree, so the element-level join sees one
    // unrolled level then empty — ",2-2". Deterministic and terminating
    // is the contract here (otto panics its Go stack on this input; V8
    // shares the visited stack across join frames and prints "-2" — a
    // spelling difference on an input no reference oracle can produce).
    assert(run("function f() { var b = [1, 2]; b[0] = b; return b.join('-'); }") ===
      Right("\",2-2\""))
  }
}
