package graft.oracle.js

import scala.collection.mutable

/** Lexer + parser for the ES5 subset the reference's stored oracles use —
  * the reference compiles anything its otto VM parses
  * (node/service/compiler.go:19-52), so this grammar targets otto's
  * practical surface (every oracle in evilsocket/sum's own test suites
  * parses here: node/service/compiled_benchmark_test.go:13-60,
  * master/service_test.go:270-690, master/service_legacy_test.go:34).
  *
  * Statements: function declarations, var (multi-declarator), if/else,
  * while, do/while, for(;;), for-in, return, break, continue, blocks,
  * throw, try/catch/finally, switch/case/default, expression statements.
  * Expressions: literals (number/string/bool/null/undefined/regex),
  * array/object literals, function expressions, member/index access,
  * calls, `new`, unary (+ - ! ~ typeof void delete, prefix/postfix
  * ++/--), binary arithmetic/relational/equality/bitwise/shift/`in`,
  * && ||, ternary, assignment (= and compound), comma. Semicolon
  * insertion is handled the pragmatic way: semicolons are optional at
  * newlines, `return`/`throw` do not consume an expression across a
  * newline. A `/` after a value-position token lexes as division,
  * otherwise as a regex literal (the same prev-token heuristic real
  * engines' lexers use).
  *
  * `this` is a primary expression; user-function constructors get the
  * full ES5 13.2 semantics (fresh instance as `this`, [[Prototype]] from
  * `F.prototype`, object returns win), method calls bind the receiver,
  * and `F.prototype` chains resolve/shadow/instanceof like ES5 — see
  * JsInterp.
  *
  * Labeled statements with labeled break/continue follow ES5 12.7-12.12
  * (a labeled signal resolves at the loop or statement carrying its
  * label; `break l` exits any labeled statement, switch consumes only
  * the unlabeled break).
  *
  * Still outside the subset (otto parses them; no reference-suite oracle
  * uses them), each a NAMED fail-loud rejection rather than a silent
  * misparse — the full delta table is in COVERAGE.md: `with` and
  * accessor literals reject at parse; `eval` / `new Function` /
  * `Object.defineProperty` reject at run (no such binding/member).
  */
object JsLang {

  // ----------------------------------------------------------------- AST
  sealed trait Stmt
  final case class VarDecl(decls: Seq[(String, Option[Expr])]) extends Stmt
  final case class FuncDecl(name: String, params: Seq[String], body: Seq[Stmt]) extends Stmt
  final case class ExprStmt(e: Expr) extends Stmt
  final case class If(cond: Expr, thenS: Stmt, elseS: Option[Stmt]) extends Stmt
  final case class While(cond: Expr, body: Stmt) extends Stmt
  final case class DoWhile(body: Stmt, cond: Expr) extends Stmt
  final case class For(init: Option[Stmt], cond: Option[Expr],
      update: Option[Expr], body: Stmt) extends Stmt
  final case class ForIn(name: String, declare: Boolean, obj: Expr, body: Stmt) extends Stmt
  final case class Return(e: Option[Expr]) extends Stmt
  final case class Block(stmts: Seq[Stmt]) extends Stmt
  final case class Throw(e: Expr) extends Stmt
  final case class TryStmt(body: Seq[Stmt], catchParam: Option[String],
      catchBody: Option[Seq[Stmt]], finallyBody: Option[Seq[Stmt]]) extends Stmt
  /** `cases` in source order; a `None` test is the `default` clause.
    * Execution falls through from the matched clause, per ES5.
    */
  final case class Switch(disc: Expr, cases: Seq[(Option[Expr], Seq[Stmt])]) extends Stmt
  final case class BreakStmt(label: Option[String]) extends Stmt
  final case class ContinueStmt(label: Option[String]) extends Stmt
  final case class Labeled(label: String, body: Stmt) extends Stmt
  case object EmptyStmt extends Stmt

  sealed trait Expr
  final case class NumLit(v: Double) extends Expr
  final case class StrLit(s: String) extends Expr
  final case class BoolLit(b: Boolean) extends Expr
  final case class RegexLit(pattern: String, flags: String) extends Expr
  final case class NewExpr(callee: Expr, args: Seq[Expr]) extends Expr
  case object NullLit extends Expr
  case object ThisExpr extends Expr
  final case class Ident(name: String) extends Expr
  final case class ArrLit(items: Seq[Expr]) extends Expr
  final case class ObjLit(fields: Seq[(String, Expr)]) extends Expr
  final case class FuncExpr(name: Option[String], params: Seq[String], body: Seq[Stmt]) extends Expr
  final case class Member(obj: Expr, name: String) extends Expr
  final case class Index(obj: Expr, idx: Expr) extends Expr
  final case class Call(fn: Expr, args: Seq[Expr]) extends Expr
  final case class Unary(op: String, e: Expr) extends Expr
  final case class Update(op: String, target: Expr, prefix: Boolean) extends Expr
  final case class Binary(op: String, l: Expr, r: Expr) extends Expr
  final case class Logical(op: String, l: Expr, r: Expr) extends Expr
  final case class Cond(c: Expr, t: Expr, f: Expr) extends Expr
  final case class Assign(op: String, target: Expr, value: Expr) extends Expr
  final case class Comma(l: Expr, r: Expr) extends Expr

  final case class ParseError(msg: String) extends RuntimeException(msg)

  // --------------------------------------------------------------- Lexer
  /** `start`/`end` are source offsets (end exclusive) — the master's
    * PatchCode equivalent ([[findSites]]) splices replacement text by
    * token span, the way the reference patches by otto node Idx0/Idx1
    * (master/ast_raccoon.go:94-149).
    */
  private final case class Tok(kind: String, text: String, line: Int,
      nlBefore: Boolean, start: Int, end: Int)

  private val keywords = Set("function", "var", "if", "else", "while", "do",
    "for", "in", "return", "break", "continue", "true", "false", "null",
    "typeof", "new", "delete", "void", "instanceof", "this",
    "throw", "try", "catch", "finally", "switch", "case", "default",
    // reserved-but-unsupported: rejected at parse with a named message
    // (otherwise `with (o) {...}` would silently parse as a CALL to an
    // undefined `with` function — a wrong-semantics trap, not fail-loud)
    "with")

  private val puncts = Seq(// longest first
    ">>>=", "===", "!==", ">>>", "<<=", ">>=", "==", "!=", "<=", ">=",
    "&&", "||", "++", "--", "+=", "-=", "*=", "/=", "%=", "&=", "|=",
    "^=", "<<", ">>", "{", "}", "(", ")", "[", "]", ";", ",", "<", ">",
    "+", "-", "*", "/", "%", "=", "!", "?", ":", ".", "&", "|", "^", "~")

  /** [[puncts]] by first character, still longest first. */
  private val punctsByFirst: Array[Seq[String]] =
    Array.tabulate(128)(c => puncts.filter(_.head == c))

  /** Token kinds after which a `/` is division, not a regex literal —
    * the previous token ended a VALUE (ident, literal, `)`, `]`, or a
    * postfix update). Everywhere else (operators, `(`, `,`, `return`,
    * `case`, start of input…) a `/` opens a regex.
    */
  private val valueEnders = Set("ident", "num", "str", "regex", ")", "]",
    "true", "false", "null", "this", "++", "--")

  private def lex(src: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    var line = 1
    var nl = false
    var prev = "" // kind of the last emitted token, for regex detection
    var tokStart = 0
    val n = src.length
    def err(m: String) = throw ParseError(s"Line $line: $m")
    // every emit happens after `i` advanced past the token, so [tokStart, i)
    // is the token's exact source span
    def emit(kind: String, text: String): Unit = {
      out += Tok(kind, text, line, nl, tokStart, i)
      prev = kind
      nl = false
    }
    while (i < n) {
      val c = src(i)
      tokStart = i
      if (c == '\n') { line += 1; nl = true; i += 1 }
      else if (c.isWhitespace) i += 1
      else if (c == '/' && i + 1 < n && src(i + 1) == '/') {
        while (i < n && src(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && src(i + 1) == '*') {
        i += 2
        while (i + 1 < n && !(src(i) == '*' && src(i + 1) == '/')) {
          if (src(i) == '\n') line += 1
          i += 1
        }
        if (i + 1 >= n) err("unterminated comment")
        i += 2
      } else if (c == '/' && !valueEnders(prev)) {
        // regex literal: /pattern/flags — an unescaped `/` inside a char
        // class does not terminate it
        val start = i + 1
        i += 1
        var inClass = false
        while (i < n && src(i) != '\n' &&
            !(src(i) == '/' && !inClass)) {
          if (src(i) == '\\' && i + 1 < n) i += 1
          else if (src(i) == '[') inClass = true
          else if (src(i) == ']') inClass = false
          i += 1
        }
        if (i >= n || src(i) != '/') err("unterminated regular expression")
        val pattern = src.substring(start, i)
        i += 1
        val fStart = i
        while (i < n && src(i).isLetter) i += 1
        // pattern cannot contain a raw newline, so '\n' is a safe joiner
        emit("regex", pattern + "\n" + src.substring(fStart, i))
      } else if (c.isDigit || (c == '.' && i + 1 < n && src(i + 1).isDigit)) {
        val start = i
        if (c == '0' && i + 1 < n && (src(i + 1) == 'x' || src(i + 1) == 'X')) {
          i += 2
          while (i < n && (src(i).isDigit || "abcdefABCDEF".contains(src(i)))) i += 1
          emit("num", java.lang.Long.parseLong(
            src.substring(start + 2, i), 16).toString)
        } else {
          while (i < n && src(i).isDigit) i += 1
          if (i < n && src(i) == '.') { i += 1; while (i < n && src(i).isDigit) i += 1 }
          if (i < n && (src(i) == 'e' || src(i) == 'E')) {
            i += 1
            if (i < n && (src(i) == '+' || src(i) == '-')) i += 1
            while (i < n && src(i).isDigit) i += 1
          }
          emit("num", src.substring(start, i))
        }
      } else if (c == '"' || c == '\'') {
        val quote = c
        val sb = new StringBuilder
        i += 1
        while (i < n && src(i) != quote) {
          if (src(i) == '\\' && i + 1 < n) {
            i += 1
            sb += (src(i) match {
              case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
              case 'b' => '\b'; case 'f' => '\f'; case '0' => '\u0000'
              case 'u' if i + 4 < n =>
                val h = src.substring(i + 1, i + 5); i += 4
                Integer.parseInt(h, 16).toChar
              case other => other
            })
            i += 1
          } else {
            if (src(i) == '\n') err("unterminated string")
            sb += src(i); i += 1
          }
        }
        if (i >= n) err("unterminated string")
        i += 1
        emit("str", sb.toString)
      } else if (c.isLetter || c == '_' || c == '$') {
        val start = i
        while (i < n && (src(i).isLetterOrDigit || src(i) == '_' || src(i) == '$')) i += 1
        val word = src.substring(start, i)
        emit(if (keywords(word)) word else "ident", word)
      } else {
        val candidates = if (c < 128) punctsByFirst(c) else Nil
        candidates.find(p => src.startsWith(p, i)) match {
          case Some(p) => i += p.length; emit(p, p)
          case None    => err(s"unexpected character '$c'")
        }
      }
    }
    out += Tok("eof", "", line, nl, n, n)
    out.result()
  }

  // -------------------------------------------------------------- Parser
  private final class Parser(toks: Vector[Tok]) {
    private var pos = 0
    private def peek: Tok = toks(pos)
    private def at(kind: String): Boolean = peek.kind == kind
    private def advance(): Tok = { val t = toks(pos); pos += 1; t }
    private def expect(kind: String): Tok = {
      if (!at(kind)) fail(s"expected '$kind' but found '${peek.text}'")
      advance()
    }
    private def eat(kind: String): Boolean =
      if (at(kind)) { pos += 1; true } else false
    private def fail(m: String): Nothing =
      throw ParseError(s"Line ${peek.line}: $m")

    /** Optional semicolon: explicit `;`, or a newline/`}`/eof boundary. */
    private def endStatement(): Unit = {
      if (eat(";")) return
      if (at("}") || at("eof") || peek.nlBefore) return
      fail(s"expected ';' but found '${peek.text}'")
    }

    def program(): Seq[Stmt] = {
      val stmts = mutable.ArrayBuffer.empty[Stmt]
      while (!at("eof")) stmts += statement()
      stmts.toSeq
    }

    /** The first top-level function declaration — the entry the compiler
      * picks — with the index of its `function` token. Parses only up to
      * it.
      */
    def entry(): Option[(FuncDecl, Int)] = {
      while (!at("eof")) {
        val start = pos
        statement() match {
          case f: FuncDecl => return Some((f, start))
          case _           =>
        }
      }
      None
    }

    /** The labels of the labelled statements enclosing the current one,
      * within the current function body (ES5 12.12).
      */
    private var labels = List.empty[String]

    private def statement(): Stmt = peek.kind match {
      case ";" => advance(); EmptyStmt
      case "{" => block()
      case "with" =>
        // otto parses `with`; no reference-suite oracle uses it, and its
        // dynamic-scope semantics poison every binding in its body. A
        // named parse rejection (pinned in JsOracleSpec) beats silently
        // parsing `with (o) {...}` as a call to an undefined function.
        fail("with statements are not supported")
      case "function" =>
        val FuncExpr(Some(nm), ps, body) = funcLiteral(requireName = true)
        FuncDecl(nm, ps, body)
      case "var" =>
        advance()
        val decls = mutable.ArrayBuffer.empty[(String, Option[Expr])]
        var more = true
        while (more) {
          val nm = expect("ident").text
          val init = if (eat("=")) Some(assignExpr()) else None
          decls += ((nm, init))
          more = eat(",")
        }
        endStatement()
        VarDecl(decls.toSeq)
      case "if" =>
        advance(); expect("(")
        val c = expression(); expect(")")
        val t = statement()
        val e = if (eat("else")) Some(statement()) else None
        If(c, t, e)
      case "while" =>
        advance(); expect("(")
        val c = expression(); expect(")")
        While(c, statement())
      case "do" =>
        advance()
        val body = statement()
        expect("while"); expect("(")
        val c = expression(); expect(")")
        endStatement()
        DoWhile(body, c)
      case "for" =>
        advance(); expect("(")
        // for-in: `for (var k in o)` or `for (k in o)`
        if (at("var") && toks(pos + 2).kind == "in") {
          advance()
          val nm = expect("ident").text
          expect("in")
          val obj = expression(); expect(")")
          ForIn(nm, declare = true, obj, statement())
        } else if (at("ident") && toks(pos + 1).kind == "in") {
          val nm = advance().text
          expect("in")
          val obj = expression(); expect(")")
          ForIn(nm, declare = false, obj, statement())
        } else {
          val init: Option[Stmt] =
            if (at(";")) { advance(); None }
            else if (at("var")) {
              advance()
              val decls = mutable.ArrayBuffer.empty[(String, Option[Expr])]
              var more = true
              while (more) {
                val nm = expect("ident").text
                val iv = if (eat("=")) Some(assignExpr()) else None
                decls += ((nm, iv))
                more = eat(",")
              }
              expect(";")
              Some(VarDecl(decls.toSeq))
            } else { val e = expression(); expect(";"); Some(ExprStmt(e)) }
          val cond = if (at(";")) None else Some(expression())
          expect(";")
          val upd = if (at(")")) None else Some(expression())
          expect(")")
          For(init, cond, upd, statement())
        }
      case "return" =>
        advance()
        val v = if (at(";") || at("}") || at("eof") || peek.nlBefore) None
                else Some(expression())
        endStatement()
        Return(v)
      case "break" =>
        advance()
        // ASI: a label must follow on the SAME line (ES5 12.8)
        val l = if (at("ident") && !peek.nlBefore) Some(advance().text)
                else None
        endStatement(); BreakStmt(l)
      case "continue" =>
        advance()
        val l = if (at("ident") && !peek.nlBefore) Some(advance().text)
                else None
        endStatement(); ContinueStmt(l)
      case "throw" =>
        advance()
        if (peek.nlBefore) fail("illegal newline after throw")
        val e = expression()
        endStatement()
        Throw(e)
      case "try" =>
        advance()
        val body = block().stmts
        val (cp, cb) =
          if (eat("catch")) {
            expect("(")
            val nm = expect("ident").text
            expect(")")
            (Some(nm), Some(block().stmts))
          } else (None, None)
        val fb = if (eat("finally")) Some(block().stmts) else None
        if (cb.isEmpty && fb.isEmpty)
          fail("missing catch or finally after try")
        TryStmt(body, cp, cb, fb)
      case "switch" =>
        advance(); expect("(")
        val disc = expression(); expect(")")
        expect("{")
        val cases = mutable.ArrayBuffer.empty[(Option[Expr], Seq[Stmt])]
        var sawDefault = false
        while (!at("}")) {
          val test: Option[Expr] =
            if (eat("case")) { val e = expression(); expect(":"); Some(e) }
            else if (eat("default")) {
              if (sawDefault) fail("more than one default clause in switch")
              sawDefault = true
              expect(":"); None
            } else fail(s"expected 'case' or 'default' but found '${peek.text}'")
          val stmts = mutable.ArrayBuffer.empty[Stmt]
          while (!at("case") && !at("default") && !at("}"))
            stmts += statement()
          cases += ((test, stmts.toSeq))
        }
        expect("}")
        Switch(disc, cases.toSeq)
      case _ =>
        // labeled statement: `ident :` at statement position (ES5 12.12)
        if (at("ident") && toks(pos + 1).kind == ":") {
          if (labels.contains(peek.text))
            fail(s"Label '${peek.text}' has already been declared")
          val l = advance().text
          advance() // ':'
          labels = l :: labels
          try Labeled(l, statement())
          finally labels = labels.tail
        } else {
          val e = expression()
          endStatement()
          ExprStmt(e)
        }
    }

    private def block(): Block = {
      expect("{")
      val stmts = mutable.ArrayBuffer.empty[Stmt]
      while (!at("}")) stmts += statement()
      expect("}")
      Block(stmts.toSeq)
    }

    private def funcLiteral(requireName: Boolean): FuncExpr = {
      expect("function")
      val nm = if (at("ident")) Some(advance().text)
               else if (requireName) fail("expected function name") else None
      expect("(")
      val params = mutable.ArrayBuffer.empty[String]
      if (!at(")")) {
        params += expect("ident").text
        while (eat(",")) params += expect("ident").text
      }
      expect(")")
      // a function body starts a fresh label set (ES5 12.12)
      val outer = labels
      labels = Nil
      val body = try block().stmts finally labels = outer
      FuncExpr(nm, params.toSeq, body)
    }

    private def expression(): Expr = {
      var e = assignExpr()
      while (eat(",")) e = Comma(e, assignExpr())
      e
    }

    def assignExpr(): Expr = {
      val lhs = condExpr()
      val op = peek.kind
      if (op == "=" || op == "+=" || op == "-=" || op == "*=" ||
          op == "/=" || op == "%=" || op == "&=" || op == "|=" || op == "^=") {
        lhs match {
          case _: Ident | _: Member | _: Index =>
            advance()
            Assign(op, lhs, assignExpr())
          case _ => fail("invalid assignment target")
        }
      } else lhs
    }

    private def condExpr(): Expr = {
      val c = orExpr()
      if (eat("?")) {
        val t = assignExpr()
        expect(":")
        Cond(c, t, assignExpr())
      } else c
    }

    private def orExpr(): Expr = {
      var l = andExpr()
      while (at("||")) { advance(); l = Logical("||", l, andExpr()) }
      l
    }
    private def andExpr(): Expr = {
      var l = bitOrExpr()
      while (at("&&")) { advance(); l = Logical("&&", l, bitOrExpr()) }
      l
    }
    private def bitOrExpr(): Expr = {
      var l = bitXorExpr()
      while (at("|")) { advance(); l = Binary("|", l, bitXorExpr()) }
      l
    }
    private def bitXorExpr(): Expr = {
      var l = bitAndExpr()
      while (at("^")) { advance(); l = Binary("^", l, bitAndExpr()) }
      l
    }
    private def bitAndExpr(): Expr = {
      var l = eqExpr()
      while (at("&")) { advance(); l = Binary("&", l, eqExpr()) }
      l
    }
    private def eqExpr(): Expr = {
      var l = relExpr()
      while (at("==") || at("!=") || at("===") || at("!==")) {
        val op = advance().kind
        l = Binary(op, l, relExpr())
      }
      l
    }
    private def relExpr(): Expr = {
      var l = shiftExpr()
      // `in` is safe to accept here unconditionally: the for-in forms are
      // recognized by token lookahead before general expression parsing,
      // and ES5 forbids `in` inside a for(;;) initializer anyway.
      while (at("<") || at(">") || at("<=") || at(">=") || at("in") ||
          at("instanceof")) {
        val op = advance().kind
        l = Binary(op, l, shiftExpr())
      }
      l
    }
    private def shiftExpr(): Expr = {
      var l = addExpr()
      while (at("<<") || at(">>") || at(">>>")) {
        val op = advance().kind
        l = Binary(op, l, addExpr())
      }
      l
    }
    private def addExpr(): Expr = {
      var l = mulExpr()
      while (at("+") || at("-")) {
        val op = advance().kind
        l = Binary(op, l, mulExpr())
      }
      l
    }
    private def mulExpr(): Expr = {
      var l = unaryExpr()
      while (at("*") || at("/") || at("%")) {
        val op = advance().kind
        l = Binary(op, l, unaryExpr())
      }
      l
    }
    private def unaryExpr(): Expr = peek.kind match {
      case "-" | "+" | "!" | "~" => Unary(advance().kind, unaryExpr())
      case "typeof"              => advance(); Unary("typeof", unaryExpr())
      case "void"                => advance(); Unary("void", unaryExpr())
      case "delete"              => advance(); Unary("delete", unaryExpr())
      case "++" | "--" =>
        val op = advance().kind
        Update(op, unaryExpr(), prefix = true)
      case _ => postfixExpr()
    }
    private def postfixExpr(): Expr = {
      var e = callExpr()
      // no-newline rule for postfix ++/--
      while ((at("++") || at("--")) && !peek.nlBefore) {
        e = Update(advance().kind, e, prefix = false)
      }
      e
    }
    private def callExpr(): Expr = {
      var e = primary()
      var done = false
      while (!done) {
        if (eat(".")) {
          val nm = if (at("ident") || keywords(peek.kind)) advance().text
                   else fail("expected property name")
          e = Member(e, nm)
        } else if (eat("[")) {
          val idx = expression()
          expect("]")
          e = Index(e, idx)
        } else if (at("(")) {
          advance()
          val args = mutable.ArrayBuffer.empty[Expr]
          if (!at(")")) {
            args += assignExpr()
            while (eat(",")) args += assignExpr()
          }
          expect(")")
          e = Call(e, args.toSeq)
        } else done = true
      }
      e
    }
    private def primary(): Expr = peek.kind match {
      case "num"      => NumLit(advance().text.toDouble)
      case "str"      => StrLit(advance().text)
      case "regex" =>
        val txt = advance().text
        val sep = txt.indexOf('\n')
        RegexLit(txt.substring(0, sep), txt.substring(sep + 1))
      case "true"     => advance(); BoolLit(true)
      case "false"    => advance(); BoolLit(false)
      case "null"     => advance(); NullLit
      case "this"     => advance(); ThisExpr
      case "ident"    => Ident(advance().text)
      case "function" => funcLiteral(requireName = false)
      case "new" =>
        advance()
        // callee is a member expression (no calls); arguments optional:
        // `new Foo` == `new Foo()`
        var callee = primary()
        var dotting = true
        while (dotting) {
          if (eat(".")) {
            val nm = if (at("ident") || keywords(peek.kind)) advance().text
                     else fail("expected property name")
            callee = Member(callee, nm)
          } else if (eat("[")) {
            val idx = expression(); expect("]")
            callee = Index(callee, idx)
          } else dotting = false
        }
        val args = mutable.ArrayBuffer.empty[Expr]
        if (eat("(")) {
          if (!at(")")) {
            args += assignExpr()
            while (eat(",")) args += assignExpr()
          }
          expect(")")
        }
        NewExpr(callee, args.toSeq)
      case "(" =>
        advance()
        val e = expression()
        expect(")")
        e
      case "[" =>
        advance()
        val items = mutable.ArrayBuffer.empty[Expr]
        if (!at("]")) {
          items += assignExpr()
          while (eat(",")) { if (!at("]")) items += assignExpr() }
        }
        expect("]")
        ArrLit(items.toSeq)
      case "{" =>
        advance()
        val fields = mutable.ArrayBuffer.empty[(String, Expr)]
        if (!at("}")) {
          var more = true
          while (more) {
            val key = peek.kind match {
              case "ident" | "str" => advance().text
              case "num"           => advance().text
              case k if keywords(k) => advance().text
              case _ => fail("expected property key")
            }
            // `{ get x() {...} }` — an accessor literal (otto parses
            // them; no reference oracle uses them). Name the rejection
            // instead of the generic expected-':' message.
            if ((key == "get" || key == "set") && !at(":"))
              fail("accessor properties (get/set) are not supported")
            expect(":")
            fields += ((key, assignExpr()))
            more = eat(",") && !at("}")
          }
        }
        expect("}")
        ObjLit(fields.toSeq)
      case other => fail(s"unexpected token '${peek.text}'")
    }
  }

  /** Parse a program; throws [[ParseError]] on malformed input. */
  def parse(src: String): Seq[Stmt] = new Parser(lex(src)).program()

  // ----------------------------------------------- record-lookup binding
  /** A `records.Find(<ident>)` call site inside the entry's body: exact
    * source span [start, end) and the bare identifier argument. This is
    * the shape the reference master's AST walk collects
    * (master/ast_raccoon.go:157-199): a call whose whitespace-stripped
    * callee text is exactly `records.Find` and whose single argument is an
    * identifier — token matching gives the same set (comments, strings and
    * regexes are already stripped by the lexer, and a `foo.records.Find`
    * chain is excluded by the look-behind).
    */
  final case class FindSite(start: Int, end: Int, arg: String)

  /** The entry declaration and every [[FindSite]] in its body; None when
    * the source declares no function or does not parse up to one. The
    * entry is the first top-level function DECLARATION, the one the
    * compiler calls, not the first `function` token. The walk is
    * body-only like the reference's (`ast.Walk(a, function.Body)`,
    * ast_raccoon.go:47): a lookup inside a merger function is NOT a
    * distributable record parameter.
    */
  private def entrySites(src: String): Option[(FuncDecl, Seq[FindSite])] = {
    val toks =
      try lex(src)
      catch { case ParseError(_) => return None }
    val (decl, fnIdx) =
      try new Parser(toks).entry().getOrElse(return None)
      catch { case ParseError(_) | _: StackOverflowError => return None }
    // the parameter list holds no brace, so the next one opens the body
    val j = toks.indexWhere(_.kind == "{", fnIdx)
    var depth = 0
    var k = j
    while (k < toks.length && !(toks(k).kind == "}" && depth == 1)) {
      if (toks(k).kind == "{") depth += 1
      else if (toks(k).kind == "}") depth -= 1
      k += 1
    }
    val bodyEnd = k
    val out = Seq.newBuilder[FindSite]
    var i = j + 1
    while (i + 5 < bodyEnd) {
      val t = toks(i)
      if (t.kind == "ident" && t.text == "records" &&
          toks(i - 1).kind != "." &&
          toks(i + 1).kind == "." &&
          toks(i + 2).kind == "ident" && toks(i + 2).text == "Find" &&
          toks(i + 3).kind == "(" &&
          toks(i + 4).kind == "ident" &&
          toks(i + 5).kind == ")") {
        out += FindSite(t.start, toks(i + 5).end, toks(i + 4).text)
        i += 6
      } else i += 1
    }
    Some((decl, out.result()))
  }

  /** All [[FindSite]]s in `src`'s entry body; empty when the source has
    * no function declaration or does not parse up to one.
    */
  def recordFindSites(src: String): Seq[FindSite] =
    entrySites(src).fold(Seq.empty[FindSite])(_._2)

  /** An oracle's federated form: `code` takes the Run's resolved records
    * as one trailing argument, and `lookups` are the entry's parameter
    * positions whose record it reads there, in argument order.
    */
  final case class RecordBinding(code: String, lookups: Seq[Int])

  /** Bind the entry's record lookups to a Run argument — the reference's
    * PatchCode (ast_raccoon.go:94-149) without a record in the source, so
    * one binding serves every Run. Each `records.Find(p)` of an entry
    * parameter `p` becomes `records.New(G[k])`, k the rank of p's
    * position in `lookups`, and a wrapper entry declared first takes the
    * entry's parameters plus the resolved-record array R:
    * `function W(p1, …, pn, R) { G = R; return entry(p1, …, pn); }`. The
    * real entry therefore gets exactly its declared parameters, so its
    * `arguments` and `this` are what a direct run gives. W, G and R are
    * fresh names that occur nowhere in `src`, and the wrapper shares the
    * first line, so line numbers do not move. None when the entry has no
    * parameter lookup.
    */
  def bindRecordLookups(src: String): Option[RecordBinding] = {
    val (entry, sites) = entrySites(src).getOrElse(return None)
    val params = entry.params
    val siteArgs = sites.map(_.arg).toSet
    val lookups = params.indices.filter(i => siteArgs(params(i)))
    if (lookups.isEmpty) return None
    // a repeated parameter name reads its last position, like JS
    val slot = lookups.zipWithIndex.map { case (i, k) => params(i) -> k }.toMap
    def fresh(base: String): String =
      Iterator.from(0).map(base + _).find(!src.contains(_)).get
    val (w, g, r) = (fresh("$bindEntry"), fresh("$bindRecords"), fresh("$bindArg"))
    val out = new StringBuilder(s"var $g = null; function $w(" +
      (params :+ r).mkString(", ") + s") { $g = $r; return ${entry.name}(" +
      params.mkString(", ") + "); } ")
    var done = 0
    sites.foreach { s =>
      slot.get(s.arg).foreach { k =>
        out ++= src.substring(done, s.start) ++= s"records.New($g[$k])"
        done = s.end
      }
    }
    out ++= src.substring(done)
    Some(RecordBinding(out.toString, lookups))
  }
}
