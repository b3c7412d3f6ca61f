package graft.oracle.js

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import graft.oracle.OracleRunError
import JsInterp._
import JsLang._

/** The variables of one running function (or `catch` clause): its slots,
  * the frame it closes over, its `this`, and the run's global names.
  */
final class Frame(val parent: Frame, val slots: Array[JsVal],
    val thisVal: JsVal, val globals: JsInterp.Env)

/** One compiled function: its slot layout and body. Immutable, so one
  * copy serves every run and thread; each call runs it over a fresh
  * [[Frame]].
  */
final class FuncCode private[js] (val name: Option[String],
    val params: Seq[String], slotCount: Int, paramSlots: Array[Int],
    argumentsSlot: Int, selfSlot: Int, funcSlots: Array[Int],
    funcs: Array[FuncCode], body: Array[JsCompiler.SNode]) {
  import JsCompiler._

  /** Bind a fresh frame the ES5 way and run the body: params from the
    * actual arguments (missing ones undefined), `arguments` unless a
    * param takes the name, the function's own name unless a param or a
    * `var` takes it, then the hoisted function declarations; every other
    * slot (the hoisted `var`s) starts undefined.
    */
  def invoke(ip: JsInterp, fn: JsFunc, args: Seq[JsVal], thisVal: JsVal): JsVal = {
    val slots = new Array[JsVal](slotCount)
    java.util.Arrays.fill(slots.asInstanceOf[Array[AnyRef]], JsUndef)
    val f = new Frame(fn.closure, slots, thisVal, fn.closure.globals)
    val n = args.length
    var i = 0
    while (i < paramSlots.length) {
      slots(paramSlots(i)) = if (i < n) args(i) else JsUndef
      i += 1
    }
    // ES5 `arguments`, exposed as an array (otto's is array-like without
    // the Array methods, a subset of this); allocated only when the body
    // names it
    if (argumentsSlot >= 0)
      slots(argumentsSlot) = new JsArr(mutable.ArrayBuffer.from(args))
    if (selfSlot >= 0) slots(selfSlot) = fn
    i = 0
    while (i < funcs.length) {
      slots(funcSlots(i)) = new JsFunc(funcs(i), f)
      i += 1
    }
    runList(body, ip, f) match {
      case Normal => JsUndef
      case Returned => ip.completionValue
      // a break/continue naming a label no enclosing statement declares:
      // real engines reject it at parse; surface the same class of error
      case _ => throw undefinedLabel(ip)
    }
  }
}

/** A compiled program. Running it binds the hoisted function
  * declarations and `var`s in the global names, then runs the top level.
  */
final class JsProgram private[js] (funcs: Array[FuncCode],
    vars: Array[String], body: Array[JsCompiler.SNode]) {
  import JsCompiler._

  def run(ip: JsInterp, env: JsInterp.Env): Unit = {
    val global = new Frame(null, NoSlots, JsUndef, env)
    funcs.foreach(fc => env.declare(fc.name.get, new JsFunc(fc, global)))
    vars.foreach(v => if (!env.has(v)) env.declare(v, JsUndef))
    runList(body, ip, global) match {
      case Normal => ()
      case Returned => throw OracleRunError("SyntaxError: Illegal return statement")
      case _      => throw undefinedLabel(ip)
    }
  }
}

/** Compiles a parsed program once into a tree of nodes that run against
  * the current [[Frame]] (closure compilation: Feeley & Lapalme, "Using
  * closures for code generation", 1987).
  *
  * Scopes are resolved here, ES5-style: a function's scope holds its
  * params, its `var`s and function declarations (hoisted from anywhere in
  * its body, blocks and `catch` clauses included, as otto does),
  * `arguments`, and its own name; a `catch` parameter gets a one-slot
  * scope of its own. Every identifier is then bound to a (depth, slot)
  * pair or, when no enclosing function declares it, to a global name:
  * the globals stay a name-keyed map, where an assignment to an
  * undeclared name creates one. Each operator is bound to its own node.
  *
  * Evaluation order and step accounting are part of the engine's
  * contract (JsFuzzSpec's outcome corpus and JsOracleSpec's step counts
  * pin them): call arguments evaluate before the callee; an update or
  * compound assignment reads its target, then evaluates the target's
  * object and key again to write; and a run takes one step per
  * statement, expression node, function call and native or host method
  * call.
  */
object JsCompiler {

  // completion of a statement; a break/continue label and a return value
  // travel in the interpreter (JsInterp.completionLabel/completionValue)
  private[js] final val Normal = 0
  private[js] final val Broke = 1
  private[js] final val Continued = 2
  private[js] final val Returned = 3

  private[js] val NoSlots = new Array[JsVal](0)

  private[js] def undefinedLabel(ip: JsInterp): OracleRunError = OracleRunError(
    s"SyntaxError: undefined label '${Option(ip.completionLabel).getOrElse("")}'")

  private[js] def runList(body: Array[SNode], ip: JsInterp, f: Frame): Int = {
    var i = 0
    while (i < body.length) {
      val c = body(i).exec(ip, f)
      if (c != Normal) return c
      i += 1
    }
    Normal
  }

  /** Compile a parsed program. */
  def compile(program: Seq[Stmt]): JsProgram = {
    val d = declarations(program)
    new JsProgram(
      d.funcs.map(fd => function(Some(fd.name), fd.params, fd.body, TopLevel)).toArray,
      d.vars.toArray, program.map(stmt(_, TopLevel)).toArray)
  }

  // -------------------------------------------------------------- scopes
  /** A compile-time scope: a function's, or a `catch` parameter's. */
  private final class Scope(val parent: Scope, val isFunction: Boolean) {
    val slots = mutable.HashMap.empty[String, Int]
    def add(nm: String): Int = slots.getOrElseUpdate(nm, slots.size)
  }
  /** The top level has no scope of its own: its names are the globals. */
  private val TopLevel: Scope = null

  private sealed trait Binding
  private final case class SlotAt(depth: Int, slot: Int) extends Binding
  private final case class GlobalName(name: String) extends Binding

  private def resolve(nm: String, scope: Scope): Binding = {
    var s = scope
    var depth = 0
    while (s != TopLevel) {
      val hit = s.slots.get(nm)
      if (hit.isDefined) return SlotAt(depth, hit.get)
      // every function has its own `arguments`; it gets a slot on first use
      if (s.isFunction && nm == "arguments") return SlotAt(depth, s.add(nm))
      s = s.parent
      depth += 1
    }
    GlobalName(nm)
  }

  private final class Decls {
    val vars = mutable.LinkedHashSet.empty[String]
    val funcs = mutable.ArrayBuffer.empty[FuncDecl]
  }

  /** The `var`s and function declarations of one function body (or the
    * top level), nested statements included, nested functions not.
    */
  private def declarations(body: Seq[Stmt]): Decls = {
    val d = new Decls
    def visit(s: Stmt): Unit = s match {
      case VarDecl(ds)                 => ds.foreach(x => d.vars += x._1)
      case f: FuncDecl                 => d.funcs += f
      case If(_, t, e)                 => visit(t); e.foreach(visit)
      case While(_, b)                 => visit(b)
      case DoWhile(b, _)               => visit(b)
      case For(init, _, _, b)          => init.foreach(visit); visit(b)
      case ForIn(nm, declare, _, b)    => if (declare) d.vars += nm; visit(b)
      case Block(ss)                   => ss.foreach(visit)
      case TryStmt(b, _, cb, fb)       =>
        b.foreach(visit); cb.foreach(_.foreach(visit)); fb.foreach(_.foreach(visit))
      case Switch(_, cases)            => cases.foreach(_._2.foreach(visit))
      case Labeled(_, b)               => visit(b)
      case _                           => ()
    }
    body.foreach(visit)
    d
  }

  private def function(name: Option[String], params: Seq[String],
      body: Seq[Stmt], outer: Scope): FuncCode = {
    val d = declarations(body)
    val scope = new Scope(outer, isFunction = true)
    params.foreach(scope.add)
    name.foreach(scope.add)
    d.funcs.foreach(f => scope.add(f.name))
    d.vars.foreach(scope.add)
    val funcs = d.funcs.map(f => function(Some(f.name), f.params, f.body, scope))
    val nodes = body.map(stmt(_, scope)).toArray
    val argumentsSlot =
      if (params.contains("arguments")) -1 else scope.slots.getOrElse("arguments", -1)
    val selfSlot = name match {
      case Some(nm) if !params.contains(nm) && nm != "arguments" && !d.vars(nm) =>
        scope.slots(nm)
      case _ => -1
    }
    new FuncCode(name, params, scope.slots.size, params.map(scope.slots).toArray,
      argumentsSlot, selfSlot, d.funcs.map(f => scope.slots(f.name)).toArray,
      funcs.toArray, nodes)
  }

  // ---------------------------------------------------------- statements
  private[js] abstract class SNode {
    /** Run the statement; the result is its completion. */
    def exec(ip: JsInterp, f: Frame): Int
  }

  private def stmts(ss: Seq[Stmt], sc: Scope): Array[SNode] = ss.map(stmt(_, sc)).toArray

  private def stmt(s: Stmt, sc: Scope): SNode = s match {
    case EmptyStmt | _: FuncDecl => Nop // declarations are hoisted
    case ExprStmt(e) => new ExprS(expr(e, sc))
    case VarDecl(ds) =>
      val inits = ds.collect { case (nm, Some(init)) => (ref(Ident(nm), sc), expr(init, sc)) }
      new VarS(inits.map(_._1).toArray, inits.map(_._2).toArray)
    case Block(ss) => new BlockS(stmts(ss, sc))
    case If(c, t, e) => new IfS(expr(c, sc), stmt(t, sc), e.map(stmt(_, sc)).orNull)
    case _: While | _: DoWhile | _: For | _: ForIn => loop(s, sc, Array.empty)
    case Labeled(l, body) =>
      // ES5 12.12 label SETS: consecutive labels all attach to the same
      // statement, so `l1: l2: while (...) { continue l1; }` resolves at
      // the loop. The label statement takes the step; a loop under it
      // takes none of its own.
      val labels = mutable.ArrayBuffer(l)
      var inner = body
      while (inner.isInstanceOf[Labeled]) {
        val wrapped = inner.asInstanceOf[Labeled]
        labels += wrapped.label
        inner = wrapped.body
      }
      inner match {
        case _: While | _: DoWhile | _: For | _: ForIn => loop(inner, sc, labels.toArray)
        case other => new LabeledS(stmt(other, sc), labels.toArray)
      }
    case Return(e) => new ReturnS(e.map(expr(_, sc)).orNull)
    case Throw(e) => new ThrowS(expr(e, sc))
    case TryStmt(body, catchParam, catchBody, finallyBody) =>
      val catchScope = new Scope(sc, isFunction = false)
      catchParam.foreach(catchScope.add)
      new TryS(stmts(body, sc), catchBody.map(stmts(_, catchScope)).orNull,
        finallyBody.map(stmts(_, sc)).orNull)
    case Switch(disc, cases) =>
      val starts = cases.scanLeft(0)(_ + _._2.size).toArray
      new SwitchS(expr(disc, sc), cases.map(_._1.map(expr(_, sc)).orNull).toArray,
        starts, stmts(cases.flatMap(_._2), sc))
    case BreakStmt(l)    => new JumpS(Broke, l.orNull)
    case ContinueStmt(l) => new JumpS(Continued, l.orNull)
  }

  private def loop(s: Stmt, sc: Scope, labels: Array[String]): SNode = s match {
    case While(c, body)   => new WhileS(labels, expr(c, sc), stmt(body, sc))
    case DoWhile(body, c) => new DoWhileS(labels, stmt(body, sc), expr(c, sc))
    case For(init, cond, upd, body) =>
      new ForS(labels, init.map(stmt(_, sc)).orNull, cond.map(expr(_, sc)).orNull,
        upd.map(expr(_, sc)).orNull, stmt(body, sc))
    case ForIn(nm, _, obj, body) =>
      new ForInS(labels, ref(Ident(nm), sc), expr(obj, sc), stmt(body, sc))
    case other => throw new IllegalStateException(s"not a loop: $other")
  }

  private object Nop extends SNode {
    def exec(ip: JsInterp, f: Frame): Int = { ip.tick(); Normal }
  }

  private final class ExprS(e: ENode) extends SNode {
    def exec(ip: JsInterp, f: Frame): Int = { ip.tick(); e.eval(ip, f); Normal }
  }

  /** `var` with initializers; a declarator without one is only hoisted. */
  private final class VarS(targets: Array[Ref], inits: Array[ENode]) extends SNode {
    def exec(ip: JsInterp, f: Frame): Int = {
      ip.tick()
      var i = 0
      while (i < targets.length) {
        targets(i).write(ip, f, inits(i).eval(ip, f))
        i += 1
      }
      Normal
    }
  }

  private final class BlockS(body: Array[SNode]) extends SNode {
    def exec(ip: JsInterp, f: Frame): Int = { ip.tick(); runList(body, ip, f) }
  }

  private final class IfS(c: ENode, t: SNode, e: SNode) extends SNode {
    def exec(ip: JsInterp, f: Frame): Int = {
      ip.tick()
      if (truthy(c.eval(ip, f))) t.exec(ip, f)
      else if (e != null) e.exec(ip, f)
      else Normal
    }
  }

  /** A labeled non-loop statement: `break l` exits it (ES5 12.12); a
    * `continue` can only target a loop label, so one escaping here
    * surfaces as the undefined-label error.
    */
  private final class LabeledS(body: SNode, labels: Array[String]) extends SNode {
    def exec(ip: JsInterp, f: Frame): Int = {
      ip.tick()
      val c = body.exec(ip, f)
      if (c == Broke && ip.completionLabel != null && labels.contains(ip.completionLabel))
        Normal
      else c
    }
  }

  private final class ReturnS(e: ENode) extends SNode {
    def exec(ip: JsInterp, f: Frame): Int = {
      ip.tick()
      ip.completionValue = if (e == null) JsUndef else e.eval(ip, f)
      Returned
    }
  }

  private final class ThrowS(e: ENode) extends SNode {
    def exec(ip: JsInterp, f: Frame): Int = { ip.tick(); throw JsThrow(e.eval(ip, f)) }
  }

  private final class JumpS(kind: Int, label: String) extends SNode {
    def exec(ip: JsInterp, f: Frame): Int = {
      ip.tick()
      ip.completionLabel = label
      kind
    }
  }

  /** try/catch/finally. `catch` sees both user throws and runtime errors
    * (otto parity) and binds its parameter in a one-slot frame; control
    * flow and the step budget pass through. An abrupt `finally` wins over
    * the body's completion or exception, a normal one keeps it.
    */
  private final class TryS(body: Array[SNode], catchBody: Array[SNode],
      finallyBody: Array[SNode]) extends SNode {
    def exec(ip: JsInterp, f: Frame): Int = {
      ip.tick()
      var c = Normal
      var pending: Throwable = null
      try {
        c = try runList(body, ip, f)
        catch {
          case t @ (_: JsThrow | _: OracleRunError) if catchBody != null =>
            val cf = new Frame(f, Array[JsVal](ip.caughtValue(t)), f.thisVal, f.globals)
            runList(catchBody, ip, cf)
        }
      } catch { case t: Throwable if finallyBody != null => pending = t }
      if (finallyBody != null) {
        val value = ip.completionValue
        val label = ip.completionLabel
        val fc = runList(finallyBody, ip, f)
        if (fc != Normal) return fc
        ip.completionValue = value
        ip.completionLabel = label
        if (pending != null) throw pending
      }
      c
    }
  }

  /** ES5 switch: test the case clauses in order (default skipped), then
    * fall back to default; execution falls through until a break. Only
    * the unlabeled break ends the switch; a labeled one propagates.
    */
  private final class SwitchS(disc: ENode, tests: Array[ENode], starts: Array[Int],
      body: Array[SNode]) extends SNode {
    def exec(ip: JsInterp, f: Frame): Int = {
      ip.tick()
      val d = disc.eval(ip, f)
      var idx = -1
      var i = 0
      while (idx < 0 && i < tests.length) {
        if (tests(i) != null && strictEquals(tests(i).eval(ip, f), d)) idx = i
        i += 1
      }
      if (idx < 0) idx = tests.indexOf(null)
      if (idx < 0) return Normal
      var s = starts(idx)
      while (s < body.length) {
        val c = body(s).exec(ip, f)
        if (c != Normal)
          return if (c == Broke && ip.completionLabel == null) Normal else c
        s += 1
      }
      Normal
    }
  }

  /** A loop under a label SET (empty when unlabeled). An unlabeled
    * break/continue or one naming any of this loop's labels resolves
    * here; any other propagates (ES5 12.7/12.8).
    */
  private abstract class LoopS(labels: Array[String]) extends SNode {
    protected final def mine(ip: JsInterp): Boolean = {
      val l = ip.completionLabel
      l == null || labels.contains(l)
    }
    /** The loop's reaction to a body completion `c`: -1 to go on looping,
      * else the loop's own completion.
      */
    protected final def after(c: Int, ip: JsInterp): Int =
      if (c == Normal || (c == Continued && mine(ip))) -1
      else if (c == Broke && mine(ip)) Normal
      else c
  }

  private final class WhileS(labels: Array[String], c: ENode, body: SNode)
      extends LoopS(labels) {
    def exec(ip: JsInterp, f: Frame): Int = {
      ip.tick()
      while (truthy(c.eval(ip, f))) {
        val r = after(body.exec(ip, f), ip)
        if (r >= 0) return r
      }
      Normal
    }
  }

  private final class DoWhileS(labels: Array[String], body: SNode, c: ENode)
      extends LoopS(labels) {
    def exec(ip: JsInterp, f: Frame): Int = {
      ip.tick()
      var go = true
      while (go) {
        val r = after(body.exec(ip, f), ip)
        if (r >= 0) return r
        go = truthy(c.eval(ip, f))
      }
      Normal
    }
  }

  private final class ForS(labels: Array[String], init: SNode, cond: ENode,
      upd: ENode, body: SNode) extends LoopS(labels) {
    def exec(ip: JsInterp, f: Frame): Int = {
      ip.tick()
      if (init != null) init.exec(ip, f)
      while (cond == null || truthy(cond.eval(ip, f))) {
        val r = after(body.exec(ip, f), ip)
        if (r >= 0) return r // break skips the update, continue runs it
        if (upd != null) upd.eval(ip, f)
      }
      Normal
    }
  }

  private final class ForInS(labels: Array[String], target: Ref, obj: ENode,
      body: SNode) extends LoopS(labels) {
    def exec(ip: JsInterp, f: Frame): Int = {
      ip.tick()
      val keys: Seq[String] = obj.eval(ip, f) match {
        case o: JsObj =>
          // ES5 for-in: own enumerable keys, then inherited ones not
          // shadowed; the auto-seeded `constructor` is non-enumerable.
          val seen = mutable.LinkedHashSet.empty[String]
          var cur = o
          while (cur != null) {
            cur.fields.keys.foreach(k =>
              if (!cur.nonEnumerable.contains(k)) seen += k)
            cur = cur.proto
          }
          seen.toSeq
        case a: JsArr => a.items.indices.map(_.toString)
        case _        => Seq.empty
      }
      val it = keys.iterator
      while (it.hasNext) {
        target.write(ip, f, JsStr(it.next()))
        val r = after(body.exec(ip, f), ip)
        if (r >= 0) return r
      }
      Normal
    }
  }

  // --------------------------------------------------------- expressions
  private[js] abstract class ENode {
    def eval(ip: JsInterp, f: Frame): JsVal
  }

  private def frameAt(f: Frame, depth: Int): Frame = {
    var x = f
    var d = depth
    while (d > 0) { x = x.parent; d -= 1 }
    x
  }

  private def expr(e: Expr, sc: Scope): ENode = e match {
    case NumLit(v)          => new Const(JsNum(v))
    case StrLit(s)          => new Const(JsStr(s))
    case BoolLit(b)         => new Const(bool(b))
    case NullLit            => new Const(JsNull)
    case RegexLit(pat, fl)  => new RegexE(pat, fl)
    case ThisExpr           => ThisE
    case Ident("undefined") => new Const(JsUndef)
    case Ident("NaN")       => new Const(JsNum(Double.NaN))
    case Ident("Infinity")  => new Const(JsNum(Double.PositiveInfinity))
    case Ident(nm) => resolve(nm, sc) match {
      case SlotAt(depth, slot) => new SlotE(depth, slot)
      case GlobalName(g)       => new GlobalE(g)
    }
    case ArrLit(items) => new ArrE(exprs(items, sc))
    case ObjLit(fields) =>
      new ObjE(fields.map(_._1).toArray, exprs(fields.map(_._2), sc))
    case FuncExpr(nm, ps, body) => new FuncE(function(nm, ps, body, sc))
    case Member(o, nm)   => new MemberE(expr(o, sc), nm)
    case Index(o, i)     => new IndexE(expr(o, sc), expr(i, sc))
    case Call(fn, args) =>
      // a method call dispatches on its receiver so host methods and
      // array/string builtins see their object
      fn match {
        case Member(o, nm) => new CallMemberE(expr(o, sc), nm, exprs(args, sc))
        case Index(o, i)   => new CallIndexE(expr(o, sc), expr(i, sc), exprs(args, sc))
        case _             => new CallE(expr(fn, sc), exprs(args, sc))
      }
    case NewExpr(Ident(nm), args) if BuiltinCtors(nm) => new NewBuiltinE(nm, exprs(args, sc))
    case NewExpr(callee, args) => new NewE(expr(callee, sc), exprs(args, sc))
    case Unary(op, inner) => op match {
      case "-"      => new UnaryE(expr(inner, sc), v => JsNum(-toNum(v)))
      case "+"      => new UnaryE(expr(inner, sc), v => JsNum(toNum(v)))
      case "!"      => new UnaryE(expr(inner, sc), v => bool(!truthy(v)))
      case "~"      => new UnaryE(expr(inner, sc), v => JsNum((~toInt32(v)).toDouble))
      case "void"   => new UnaryE(expr(inner, sc), _ => JsUndef)
      case "delete" => inner match {
        case Member(o, nm) => new DeleteMemberE(expr(o, sc), nm)
        case Index(o, i)   => new DeleteIndexE(expr(o, sc), expr(i, sc))
        case _             => new Const(bool(true))
      }
      case "typeof" => inner match {
        case Ident("NaN" | "Infinity") => new Const(JsStr("number"))
        case Ident(nm) => new TypeofNameE(resolve(nm, sc))
        case other     => new TypeofE(expr(other, sc))
      }
      case other => throw new IllegalStateException(s"unknown unary operator $other")
    }
    case Update(op, target, prefix) =>
      new UpdateE(ref(target, sc), if (op == "++") 1.0 else -1.0, prefix)
    case Binary(op, l, r) => new BinE(binaryOp(op), expr(l, sc), expr(r, sc))
    case Logical("&&", l, r) => new AndE(expr(l, sc), expr(r, sc))
    case Logical("||", l, r) => new OrE(expr(l, sc), expr(r, sc))
    case Logical(op, _, _) => throw new IllegalStateException(s"unknown logical operator $op")
    case Cond(c, t, f)   => new CondE(expr(c, sc), expr(t, sc), expr(f, sc))
    case Assign("=", target, value) => new AssignE(ref(target, sc), expr(value, sc))
    case Assign(op, target, value) =>
      new CompoundE(ref(target, sc), binaryOp(op.stripSuffix("=")), expr(value, sc))
    case Comma(l, r)     => new CommaE(expr(l, sc), expr(r, sc))
  }

  private def exprs(es: Seq[Expr], sc: Scope): Array[ENode] = es.map(expr(_, sc)).toArray

  /** The constructible globals `new` builds directly, by name. */
  private val BuiltinCtors = Set("Error", "TypeError", "RangeError", "SyntaxError",
    "ReferenceError", "EvalError", "URIError", "Object", "Array", "RegExp", "Date")

  private final class Const(v: JsVal) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = { ip.tick(); v }
  }

  private final class RegexE(pat: String, flags: String) extends ENode {
    // a fresh regex per evaluation: `lastIndex` is per object
    def eval(ip: JsInterp, f: Frame): JsVal = { ip.tick(); mkRegex(pat, flags) }
  }

  private object ThisE extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = { ip.tick(); f.thisVal }
  }

  private final class SlotE(depth: Int, slot: Int) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = { ip.tick(); frameAt(f, depth).slots(slot) }
  }

  private final class GlobalE(nm: String) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      val v = f.globals.get(nm)
      if (v == null) throw OracleRunError(s"ReferenceError: '$nm' is not defined")
      v
    }
  }

  private final class ArrE(items: Array[ENode]) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      val a = new JsArr(new mutable.ArrayBuffer[JsVal](items.length))
      var i = 0
      while (i < items.length) { a.items += items(i).eval(ip, f); i += 1 }
      a
    }
  }

  private final class ObjE(keys: Array[String], vals: Array[ENode]) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      val o = new JsObj
      var i = 0
      while (i < keys.length) { o.fields(keys(i)) = vals(i).eval(ip, f); i += 1 }
      o
    }
  }

  private final class FuncE(code: FuncCode) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = { ip.tick(); new JsFunc(code, f) }
  }

  private final class MemberE(obj: ENode, nm: String) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = { ip.tick(); ip.getMember(obj.eval(ip, f), nm) }
  }

  private final class IndexE(obj: ENode, idx: ENode) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      val o = obj.eval(ip, f)
      ip.getIndexed(o, idx.eval(ip, f))
    }
  }

  private def evalArgs(args: Array[ENode], ip: JsInterp, f: Frame): Seq[JsVal] =
    if (args.length == 0) Nil
    else {
      val out = new Array[JsVal](args.length)
      var i = 0
      while (i < args.length) { out(i) = args(i).eval(ip, f); i += 1 }
      ArraySeq.unsafeWrapArray(out)
    }

  /** A method call `o.nm(args)`: ES5 11.2.3 evaluates the callee, its
    * base included, before the arguments, and 11.2.1 step 5 raises the
    * TypeError for a null or undefined base before any argument runs. An
    * object's method is read before the arguments too, so an argument
    * that reassigns it does not change which function is called.
    */
  private def callOn(ip: JsInterp, o: JsVal, nm: String, args: Array[ENode], f: Frame): JsVal =
    o match {
      case r: JsObj =>
        val fn = ip.getMember(r, nm)
        ip.callFunction(fn, evalArgs(args, ip, f), thisVal = r)
      case JsNull | JsUndef => ip.getMember(o, nm) // throws the TypeError
      case _ => ip.callMethod(o, nm, evalArgs(args, ip, f))
    }

  private final class CallMemberE(obj: ENode, nm: String, args: Array[ENode]) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      callOn(ip, obj.eval(ip, f), nm, args, f)
    }
  }

  private final class CallIndexE(obj: ENode, idx: ENode, args: Array[ENode]) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      val o = obj.eval(ip, f)
      callOn(ip, o, toStr(idx.eval(ip, f)), args, f)
    }
  }

  private final class CallE(fn: ENode, args: Array[ENode]) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      val callee = fn.eval(ip, f)
      ip.callFunction(callee, evalArgs(args, ip, f))
    }
  }

  private final class NewBuiltinE(nm: String, args: Array[ENode]) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      newBuiltin(nm, evalArgs(args, ip, f))
    }
  }

  private final class NewE(callee: ENode, args: Array[ENode]) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      val c = callee.eval(ip, f) // ES5 11.2.2: the constructor first
      ip.construct(c, evalArgs(args, ip, f))
    }
  }

  private final class UnaryE(e: ENode, op: JsVal => JsVal) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = { ip.tick(); op(e.eval(ip, f)) }
  }

  private final class DeleteMemberE(obj: ENode, nm: String) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      obj.eval(ip, f) match {
        case o: JsObj => o.fields.remove(nm)
        case _        => ()
      }
      bool(true)
    }
  }

  private final class DeleteIndexE(obj: ENode, idx: ENode) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      val o = obj.eval(ip, f)
      val i = idx.eval(ip, f)
      o match {
        case o: JsObj => o.fields.remove(toStr(i))
        case a: JsArr =>
          // delete leaves a hole, length unchanged (ES5)
          val n = toNum(i).toInt
          if (n >= 0 && n < a.items.length) a.items(n) = JsUndef
        case _ => ()
      }
      bool(true)
    }
  }

  /** `typeof name`: an undeclared name is "undefined", not an error. */
  private final class TypeofNameE(b: Binding) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      val v = b match {
        case SlotAt(depth, slot) => frameAt(f, depth).slots(slot)
        case GlobalName(nm)      => f.globals.get(nm)
      }
      JsStr(typeOf(if (v == null) JsUndef else v))
    }
  }

  private final class TypeofE(e: ENode) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = { ip.tick(); JsStr(typeOf(e.eval(ip, f))) }
  }

  private final class BinE(op: (JsVal, JsVal) => JsVal, l: ENode, r: ENode) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      val lv = l.eval(ip, f)
      op(lv, r.eval(ip, f))
    }
  }

  private final class AndE(l: ENode, r: ENode) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      val lv = l.eval(ip, f)
      if (!truthy(lv)) lv else r.eval(ip, f)
    }
  }

  private final class OrE(l: ENode, r: ENode) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      val lv = l.eval(ip, f)
      if (truthy(lv)) lv else r.eval(ip, f)
    }
  }

  private final class CondE(c: ENode, t: ENode, e: ENode) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      if (truthy(c.eval(ip, f))) t.eval(ip, f) else e.eval(ip, f)
    }
  }

  private final class CommaE(l: ENode, r: ENode) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = { ip.tick(); l.eval(ip, f); r.eval(ip, f) }
  }

  // ---------------------------------------------------------- assignment
  /** An assignment target: `read` evaluates it as an expression, `write`
    * stores into it, evaluating a member target's object (and key) anew.
    */
  private sealed abstract class Ref {
    def read: ENode
    def write(ip: JsInterp, f: Frame, v: JsVal): Unit
  }

  private final class SlotRef(depth: Int, slot: Int, val read: ENode) extends Ref {
    def write(ip: JsInterp, f: Frame, v: JsVal): Unit = frameAt(f, depth).slots(slot) = v
  }

  /** An undeclared name assigns a global (non-strict mode), which the
    * reference's oracles rely on (master/service_test.go:381 `result = {};`).
    */
  private final class GlobalRef(nm: String, val read: ENode) extends Ref {
    def write(ip: JsInterp, f: Frame, v: JsVal): Unit = f.globals.declare(nm, v)
  }

  private final class MemberRef(obj: ENode, nm: String) extends Ref {
    val read: ENode = new MemberE(obj, nm)
    def write(ip: JsInterp, f: Frame, v: JsVal): Unit = ip.setMember(obj.eval(ip, f), nm, v)
  }

  private final class IndexRef(obj: ENode, idx: ENode) extends Ref {
    val read: ENode = new IndexE(obj, idx)
    def write(ip: JsInterp, f: Frame, v: JsVal): Unit = {
      val o = obj.eval(ip, f)
      ip.setIndex(o, idx.eval(ip, f), v)
    }
  }

  private final class InvalidRef(val read: ENode) extends Ref {
    def write(ip: JsInterp, f: Frame, v: JsVal): Unit =
      throw OracleRunError("invalid assignment target")
  }

  /** The target `target` names. `undefined`, `NaN` and `Infinity` still
    * read as their constants when they are assigned.
    */
  private def ref(target: Expr, sc: Scope): Ref = target match {
    case Ident(nm) => resolve(nm, sc) match {
      case SlotAt(depth, slot) => new SlotRef(depth, slot, expr(target, sc))
      case GlobalName(g)       => new GlobalRef(g, expr(target, sc))
    }
    case Member(o, nm) => new MemberRef(expr(o, sc), nm)
    case Index(o, i)   => new IndexRef(expr(o, sc), expr(i, sc))
    case other         => new InvalidRef(expr(other, sc))
  }

  private final class AssignE(target: Ref, value: ENode) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      val v = value.eval(ip, f)
      target.write(ip, f, v)
      v
    }
  }

  private final class CompoundE(target: Ref, op: (JsVal, JsVal) => JsVal, value: ENode)
      extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      val cur = target.read.eval(ip, f)
      val v = op(cur, value.eval(ip, f))
      target.write(ip, f, v)
      v
    }
  }

  private final class UpdateE(target: Ref, delta: Double, prefix: Boolean) extends ENode {
    def eval(ip: JsInterp, f: Frame): JsVal = {
      ip.tick()
      val old = toNum(target.read.eval(ip, f))
      val nv = JsNum(old + delta)
      target.write(ip, f, nv)
      if (prefix) nv else JsNum(old)
    }
  }
}
