package graft.oracle.js

import scala.collection.mutable

import org.json4s._

import graft.oracle.OracleRunError
import JsLang._

/** Runtime values for the oracle JS subset. Numbers are IEEE doubles,
  * objects are insertion-ordered string maps, arrays are growable — the
  * semantics the reference's otto VM gives its oracles.
  */
sealed trait JsVal
final case class JsNum(v: Double) extends JsVal
final case class JsStr(s: String) extends JsVal
final case class JsBool(b: Boolean) extends JsVal
case object JsNull extends JsVal
case object JsUndef extends JsVal
final class JsObj(val fields: mutable.LinkedHashMap[String, JsVal] =
    mutable.LinkedHashMap.empty) extends JsVal {
  /** ES5 [[Prototype]] link — set once at construction (`new F()` points
    * it at `F.prototype`), so prototype graphs are acyclic by creation
    * order. Member reads walk it; writes always land on own fields.
    */
  var proto: JsObj = null
  /** Keys excluded from `for (k in o)` — the auto-seeded non-enumerable
    * `constructor` on a function's default prototype object.
    */
  var nonEnumerable: Set[String] = Set.empty
}
final class JsArr(val items: mutable.ArrayBuffer[JsVal] =
    mutable.ArrayBuffer.empty) extends JsVal
/** A JS function: compiled code plus the frame it closes over. */
final class JsFunc(val code: FuncCode, val closure: Frame) extends JsVal {
  def name: Option[String] = code.name
  /** `F.prototype` — auto-created on first touch with a non-enumerable
    * `constructor` back-link (ES5 13.2), replaceable by assignment
    * (`Child.prototype = new Parent()` is the ES5 inheritance idiom).
    */
  var prototypeObj: JsObj = null
  def prototypeRef: JsObj = {
    if (prototypeObj == null) {
      prototypeObj = new JsObj
      prototypeObj.fields("constructor") = this
      prototypeObj.nonEnumerable = Set("constructor")
    }
    prototypeObj
  }
}
final class JsNative(val name: String, val arity: Int,
    val fn: Seq[JsVal] => JsVal,
    /** Static members reachable as `Name.member` (e.g.
      * `String.fromCharCode`, `Array.isArray`, `Number.MAX_VALUE`).
      */
    val statics: Map[String, JsVal] = Map.empty) extends JsVal
/** A host object: named methods plus read-only properties (the wrapped
  * `records`/`ctx`/record objects the reference exposes to oracles). The
  * interpreter reaches members only through [[prop]], [[hasMethod]] and
  * [[invoke]], so a subclass can serve them without the maps (the record
  * wrapper shares one method table across every record).
  */
class JsHost(val hostName: String,
    methods: Map[String, Seq[JsVal] => JsVal],
    props: Map[String, () => JsVal] = Map.empty) extends JsVal {
  /** The value of property `nm`, if the host has one. */
  def prop(nm: String): Option[JsVal] = props.get(nm).map(_())
  def hasMethod(nm: String): Boolean = methods.contains(nm)
  /** Call method `nm`, which [[hasMethod]] has confirmed. */
  def invoke(nm: String, args: Seq[JsVal]): JsVal = methods(nm)(args)
  /** `nm in host`: a property or a method. */
  final def has(nm: String): Boolean = prop(nm).isDefined || hasMethod(nm)
}

/** A regex value (`/pat/flags` literal or `new RegExp`). `lastIndex` is
  * the ES5 stateful cursor `exec` advances on a global regex, so the
  * canonical `while ((m = re.exec(s)) !== null)` loop terminates.
  */
final class JsRegex(val source: String, val flags: String) extends JsVal {
  val global: Boolean = flags.contains('g')
  var lastIndex: Int = 0
  val pattern: java.util.regex.Pattern = {
    import java.util.regex.Pattern._
    var f = 0
    if (flags.contains('i')) f |= CASE_INSENSITIVE
    if (flags.contains('m')) f |= MULTILINE
    java.util.regex.Pattern.compile(source, f)
  }
}

/** A Date value: epoch milliseconds (NaN = Invalid Date). The engine is
  * UTC-pinned (the Spark sessions run with spark.sql.session.timeZone
  * UTC), so the local-time getters alias their getUTC* forms — the one
  * documented deviation from a host-zone-dependent ES5 Date.
  */
final class JsDate(var ms: Double) extends JsVal {
  def instant: java.time.ZonedDateTime = {
    if (ms.isNaN || ms.isInfinite)
      throw OracleRunError("RangeError: Invalid time value")
    java.time.Instant.ofEpochMilli(ms.toLong)
      .atZone(java.time.ZoneOffset.UTC)
  }
}

/** A JS `throw` in flight. Escapes the interpreter when uncaught; the
  * oracle layer converts it to a run error with otto's message (a thrown
  * string exports as the bare string — master/service_test.go:683 pins
  * `throw "apple cider"` -> "apple cider").
  */
final case class JsThrow(value: JsVal) extends RuntimeException
  with scala.util.control.NoStackTrace

/** The runtime of the oracle JS subset [[JsLang]] parses: values,
  * coercions, builtins, host dispatch and the step budget. Programs run
  * in the form [[JsCompiler]] builds once per oracle, with identifiers
  * resolved to frame slots and ES5 function-scoped `var`s; one
  * interpreter serves one run, the compiled program every run.
  *
  * Each run is budgeted (`maxSteps`) so a stored oracle with an
  * accidental infinite loop cannot wedge a serving thread — the reference
  * relies on gRPC deadlines for the same hazard. A step is a statement,
  * an expression node, a function call, or a native or host method call.
  */
final class JsInterp(maxSteps: Long = 50_000_000L) {
  import JsInterp._

  private var steps = 0L
  private var budget = maxSteps

  private[js] def tick(): Unit = {
    steps += 1
    if (steps > budget)
      // A dedicated type so a user `try { for(;;){} } catch(e) {}` cannot
      // swallow the budget and wedge the serving thread anyway.
      throw graft.oracle.OracleBudgetError(
        s"oracle exceeded the $budget-step budget")
  }

  /** Extend the step budget by `n`. The records host grants this per
    * record it serves, so the budget bounds interpreter work PER RECORD
    * OF DATA TOUCHED rather than per run: a linear records.ForEach/All
    * pass stays within budget at ANY corpus size (the sf10 replay caught
    * the fixed budget tripping at 1.25M records per partition — a
    * gate-sized constant, the defect class the sizing laws exist for),
    * while a data-free infinite loop still trips at the base budget and
    * a runaway loop inside one visit callback trips before the next
    * record grants more.
    */
  def grantSteps(n: Long): Unit =
    budget = math.min(Long.MaxValue / 2, budget + math.max(0L, n))

  /** The value of the last `return` and the label of the last
    * `break`/`continue` (null when unlabeled), read where the completion
    * lands.
    */
  private[js] var completionValue: JsVal = JsUndef
  private[js] var completionLabel: String = null

  // ------------------------------------------------------------- driving
  /** Compile and run a program in `env`. */
  def exec(stmts: Seq[Stmt], env: Env): Unit =
    JsCompiler.compile(stmts).run(this, env)

  def callFunction(f: JsVal, args: Seq[JsVal],
      thisVal: JsVal = JsUndef): JsVal = f match {
    // EVERY call binds `this` (undefined on plain calls), so a nested
    // plain call never sees the enclosing method's receiver through the
    // closure — the ES5 behavior the `var self = this` idiom exists for.
    case fn: JsFunc => tick(); fn.code.invoke(this, fn, args, thisVal)
    case nf: JsNative => tick(); nf.fn(args)
    case other =>
      throw OracleRunError(s"TypeError: ${typeOf(other)} is not a function")
  }

  /** The value a `catch` clause binds: the thrown value itself, or an
    * Error-shaped object ({name, message}) for interpreter run errors.
    */
  private[js] def caughtValue(t: Throwable): JsVal = t match {
    case JsThrow(v)         => v
    case OracleRunError(m)  => errorFromMessage(m)
    case other              => errorFromMessage(String.valueOf(other.getMessage))
  }

  /** `new F(...)` for a user function: ES5 13.2.2 — a fresh object whose
    * [[Prototype]] is F.prototype becomes `this`; an object return value
    * wins over the instance, any other return is discarded. Anything but
    * a user function is a loud TypeError rather than a silently wrong
    * instance.
    */
  private[js] def construct(callee: JsVal, args: Seq[JsVal]): JsVal = callee match {
    case f: JsFunc =>
      val inst = new JsObj
      inst.proto = f.prototypeRef
      callFunction(f, args, thisVal = inst) match {
        case o: JsObj => o
        case a: JsArr => a
        case _        => inst
      }
    case v =>
      throw OracleRunError(s"TypeError: ${typeOf(v)} is not a constructor")
  }

  /** `obj.nm = v`. A write to a string, number or boolean base is dropped
    * (ES5 8.7.2 PutValue, non-strict code: the property would go on a
    * temporary wrapper object); a null or undefined base is a TypeError.
    */
  private[js] def setMember(obj: JsVal, nm: String, v: JsVal): Unit = obj match {
    case o: JsObj => o.fields(nm) = v
    case _: JsStr | _: JsNum | _: JsBool => ()
    case f: JsFunc if nm == "prototype" => v match {
      case p: JsObj => f.prototypeObj = p
      case other => throw OracleRunError(
        "TypeError: a function prototype must be an object, got " +
          typeOf(other))
    }
    case re: JsRegex if nm == "lastIndex" =>
      re.lastIndex = math.max(0, toNum(v).toInt)
    case a: JsArr if nm == "length" =>
      val n = arrayLength(toNum(v))
      if (n < a.items.length) a.items.remove(n, a.items.length - n)
      else while (a.items.length < n) a.items += JsUndef
    case other =>
      throw OracleRunError(
        s"TypeError: cannot set property '$nm' of ${typeOf(other)}")
  }

  /** `obj[idx] = v`. On an array, an array index (ES5 15.4) writes the
    * element, growing the array within [[checkArrayLength]]'s bound; any
    * other key is a named write ([[setMember]]).
    */
  private[js] def setIndex(obj: JsVal, idx: JsVal, v: JsVal): Unit = obj match {
    case a: JsArr =>
      val key = idx match {
        case JsNum(d) if d.isWhole && d >= 0 && d < 4294967295.0 => d.toLong
        case _ => arrayIndex(toStr(idx))
      }
      if (key < 0) setMember(a, toStr(idx), v)
      else {
        checkArrayLength(key + 1.0)
        val i = key.toInt
        while (a.items.length <= i) a.items += JsUndef
        a.items(i) = v
      }
    case o: JsObj => o.fields(toStr(idx)) = v
    case _: JsStr | _: JsNum | _: JsBool => () // ES5 8.7.2, as in setMember
    case other =>
      throw OracleRunError(
        s"TypeError: cannot set index of ${typeOf(other)}")
  }

  // -------------------------------------------------- member/index access
  /** Property `nm` of `obj`. On an array or a string, a name that is an
    * array index (ES5 15.4: `'1'`, not `'01'` or `'1.0'`) reads the
    * element, so `a['1']` and a for-in key read like `a[1]`.
    */
  private[js] def getMember(obj: JsVal, nm: String): JsVal = obj match {
    case o: JsObj =>
      ownOrInherited(o, nm).orElse(protoMethod(o, nm)).getOrElse(JsUndef)
    case a: JsArr =>
      val i = arrayIndex(nm)
      if (i >= 0) { if (i < a.items.length) a.items(i.toInt) else JsUndef }
      else if (nm == "length") JsNum(a.items.length)
      else arrayMethod(a, nm).orElse(protoMethod(a, nm)).getOrElse(JsUndef)
    case s: JsStr =>
      val i = arrayIndex(nm)
      if (i >= 0) { if (i < s.s.length) JsStr(s.s.charAt(i.toInt).toString) else JsUndef }
      else if (nm == "length") JsNum(s.s.length)
      else stringMethod(s.s, nm).orElse(protoMethod(s, nm)).getOrElse(JsUndef)
    case h: JsHost =>
      h.prop(nm).getOrElse(
        if (h.hasMethod(nm))
          new JsNative(s"${h.hostName}.$nm", -1, args => h.invoke(nm, args))
        else JsUndef)
    case re: JsRegex => nm match {
      case "source"     => JsStr(re.source)
      case "flags"      => JsStr(re.flags)
      case "global"     => JsBool(re.global)
      case "ignoreCase" => JsBool(re.flags.contains('i'))
      case "multiline"  => JsBool(re.flags.contains('m'))
      case "lastIndex"  => JsNum(re.lastIndex.toDouble)
      case _            => regexMethod(re, nm).getOrElse(JsUndef)
    }
    case d: JsDate =>
      dateMethod(d, nm).orElse(protoMethod(d, nm)).getOrElse(JsUndef)
    case num: JsNum =>
      numberMethod(num.v, nm).orElse(protoMethod(num, nm)).getOrElse(JsUndef)
    case fn: JsFunc =>
      if (nm == "prototype") fn.prototypeRef
      else if (nm == "length") JsNum(fn.code.params.length)
      else if (nm == "name") JsStr(fn.name.getOrElse(""))
      else funcProto(fn, nm).orElse(protoMethod(fn, nm)).getOrElse(JsUndef)
    case nf: JsNative =>
      nf.statics.get(nm)
        .orElse(funcProto(nf, nm)).orElse(protoMethod(nf, nm))
        .getOrElse(JsUndef)
    case JsNull | JsUndef =>
      throw OracleRunError(
        s"TypeError: cannot read property '$nm' of ${typeOf(obj)}")
    case other => protoMethod(other, nm).getOrElse(JsUndef)
  }

  /** `Function.prototype.call/apply`: the first argument becomes `this`
    * for the invocation (`Math.max.apply(null, arr)` for variadics,
    * `Parent.call(this, ...)` for constructor chaining).
    */
  private def funcProto(f: JsVal, nm: String): Option[JsNative] = nm match {
    case "call" => Some(new JsNative("call", -1, args =>
      callFunction(f, args.drop(1),
        thisVal = args.headOption.getOrElse(JsUndef))))
    case "apply" => Some(new JsNative("apply", -1, args =>
      callFunction(f, args.lift(1) match {
        case Some(a: JsArr)               => a.items.toSeq
        case Some(JsNull) | Some(JsUndef) | None => Seq.empty
        case Some(other) => throw OracleRunError(
          s"TypeError: second argument to apply must be an array, got ${typeOf(other)}")
      }, thisVal = args.headOption.getOrElse(JsUndef))))
    case _ => None
  }

  private[js] def getIndexed(obj: JsVal, idx: JsVal): JsVal = obj match {
    case a: JsArr =>
      idx match {
        case JsNum(d) if d.isWhole =>
          val i = d.toInt
          if (i >= 0 && i < a.items.length) a.items(i) else JsUndef
        case _ => getMember(a, toStr(idx))
      }
    case o: JsObj => getMember(o, toStr(idx))
    case s: JsStr =>
      idx match {
        case JsNum(d) if d.isWhole && d >= 0 && d < s.s.length =>
          JsStr(s.s.charAt(d.toInt).toString)
        case _ => getMember(s, toStr(idx))
      }
    case _ => getMember(obj, toStr(idx))
  }

  private[js] def callMethod(obj: JsVal, nm: String, args: Seq[JsVal]): JsVal =
    obj match {
      case o: JsObj =>
        // a method call on an object binds the receiver as `this`
        callFunction(getMember(o, nm), args, thisVal = o)
      case h: JsHost =>
        if (h.hasMethod(nm)) { tick(); h.invoke(nm, args) }
        else h.prop(nm) match {
          case Some(f) => callFunction(f, args)
          case None =>
            throw OracleRunError(
              s"TypeError: '$nm' is not a function on ${h.hostName}")
        }
      case a: JsArr =>
        arrayMethod(a, nm) match {
          case Some(nf: JsNative) => tick(); nf.fn(args)
          case _ => callFunction(getMember(obj, nm), args)
        }
      case s: JsStr =>
        stringMethod(s.s, nm) match {
          case Some(nf: JsNative) => tick(); nf.fn(args)
          case _ => callFunction(getMember(obj, nm), args)
        }
      case re: JsRegex =>
        regexMethod(re, nm) match {
          case Some(nf: JsNative) => tick(); nf.fn(args)
          case _ => callFunction(getMember(obj, nm), args)
        }
      case d: JsDate =>
        dateMethod(d, nm) match {
          case Some(nf: JsNative) => tick(); nf.fn(args)
          case _ => callFunction(getMember(obj, nm), args)
        }
      case num: JsNum =>
        numberMethod(num.v, nm) match {
          case Some(nf: JsNative) => tick(); nf.fn(args)
          case _ => callFunction(getMember(obj, nm), args)
        }
      case _ => callFunction(getMember(obj, nm), args)
    }

  // ------------------------------------------- Object.prototype fallback
  /** The `Object.prototype` methods every value inherits in ES5 — the
    * fallback when no own field or type-specific builtin matched. The
    * `for (k in obj) if (obj.hasOwnProperty(k))` guard is the canonical
    * ES5 iteration idiom, so user oracles ported from otto rely on it
    * even though this object model has no prototype chain to filter out.
    */
  private def protoMethod(self: JsVal, nm: String): Option[JsNative] =
    nm match {
      case "hasOwnProperty" => Some(new JsNative("hasOwnProperty", 1,
        args => {
          val key = toStr(args.headOption.getOrElse(JsUndef))
          JsBool(self match {
            case o: JsObj => o.fields.contains(key)
            case a: JsArr => key == "length" ||
              isIndexBelow(key, a.items.length)
            case s: JsStr => key == "length" ||
              isIndexBelow(key, s.s.length)
            case _ => false
          })
        }))
      case "propertyIsEnumerable" => Some(new JsNative(
        "propertyIsEnumerable", 1, args => {
          val key = toStr(args.headOption.getOrElse(JsUndef))
          JsBool(self match {
            case o: JsObj => o.fields.contains(key)
            case a: JsArr => isIndexBelow(key, a.items.length)
            case _ => false
          })
        }))
      case "toString" =>
        Some(new JsNative("toString", 0, _ => JsStr(toStr(self))))
      case "valueOf" => Some(new JsNative("valueOf", 0, _ => self))
      case "isPrototypeOf" => // no user prototype chains in this model
        Some(new JsNative("isPrototypeOf", 1, _ => JsBool(false)))
      case _ => None
    }

  // ------------------------------------------------------ array builtins
  private def arrayMethod(a: JsArr, nm: String): Option[JsNative] = nm match {
    case "push" => Some(new JsNative("push", -1, args => {
      args.foreach(a.items += _)
      JsNum(a.items.length)
    }))
    case "pop" => Some(new JsNative("pop", 0, _ =>
      if (a.items.isEmpty) JsUndef else a.items.remove(a.items.length - 1)))
    case "forEach" => Some(new JsNative("forEach", 1, args => {
      val f = args.head
      a.items.zipWithIndex.foreach { case (v, i) =>
        callFunction(f, Seq(v, JsNum(i), a))
      }
      JsUndef
    }))
    case "map" => Some(new JsNative("map", 1, args => {
      val f = args.head
      val out = new JsArr
      a.items.zipWithIndex.foreach { case (v, i) =>
        out.items += callFunction(f, Seq(v, JsNum(i), a))
      }
      out
    }))
    case "filter" => Some(new JsNative("filter", 1, args => {
      val f = args.head
      val out = new JsArr
      a.items.zipWithIndex.foreach { case (v, i) =>
        if (truthy(callFunction(f, Seq(v, JsNum(i), a)))) out.items += v
      }
      out
    }))
    case "reduce" => Some(new JsNative("reduce", -1, args => {
      val f = args.head
      var (acc, start) =
        if (args.length > 1) (args(1), 0)
        else if (a.items.nonEmpty) (a.items.head, 1)
        else throw OracleRunError("TypeError: reduce of empty array with no initial value")
      (start until a.items.length).foreach { i =>
        acc = callFunction(f, Seq(acc, a.items(i), JsNum(i), a))
      }
      acc
    }))
    case "reduceRight" => Some(new JsNative("reduceRight", -1, args => {
      val f = args.head
      var (acc, start) =
        if (args.length > 1) (args(1), a.items.length - 1)
        else if (a.items.nonEmpty) (a.items.last, a.items.length - 2)
        else throw OracleRunError(
          "TypeError: reduceRight of empty array with no initial value")
      (start to 0 by -1).foreach { i =>
        acc = callFunction(f, Seq(acc, a.items(i), JsNum(i), a))
      }
      acc
    }))
    case "indexOf" => Some(new JsNative("indexOf", 1, args =>
      JsNum(a.items.indexWhere(strictEquals(_, args.head)).toDouble)))
    case "join" => Some(new JsNative("join", 1, args => {
      val sep = args.headOption.map(toStr).getOrElse(",")
      JsStr(a.items.map {
        case JsNull | JsUndef => ""
        case v                => toStr(v)
      }.mkString(sep))
    }))
    case "slice" => Some(new JsNative("slice", -1, args => {
      val n = a.items.length
      def clamp(d: Double): Int =
        if (d < 0) math.max(0, n + d.toInt) else math.min(n, d.toInt)
      val from = args.headOption.map(v => clamp(toNum(v))).getOrElse(0)
      val until = args.lift(1).map(v => clamp(toNum(v))).getOrElse(n)
      val out = new JsArr
      if (from < until) a.items.slice(from, until).foreach(out.items += _)
      out
    }))
    case "concat" => Some(new JsNative("concat", -1, args => {
      val out = new JsArr
      a.items.foreach(out.items += _)
      args.foreach {
        case other: JsArr => other.items.foreach(out.items += _)
        case v            => out.items += v
      }
      out
    }))
    case "shift" => Some(new JsNative("shift", 0, _ =>
      if (a.items.isEmpty) JsUndef else a.items.remove(0)))
    case "unshift" => Some(new JsNative("unshift", -1, args => {
      args.reverse.foreach(v => a.items.insert(0, v))
      JsNum(a.items.length)
    }))
    case "splice" => Some(new JsNative("splice", -1, args => {
      val n = a.items.length
      var start = toNum(args.headOption.getOrElse(JsNum(0))).toInt
      if (start < 0) start = math.max(0, n + start)
      start = math.min(start, n)
      val del = math.max(0, math.min(n - start,
        args.lift(1).map(v => toNum(v).toInt).getOrElse(n - start)))
      val removed = new JsArr
      (0 until del).foreach(_ => removed.items += a.items.remove(start))
      args.drop(2).zipWithIndex.foreach { case (v, i) => a.items.insert(start + i, v) }
      removed
    }))
    case "reverse" => Some(new JsNative("reverse", 0, _ => {
      val rev = a.items.reverse
      a.items.clear(); rev.foreach(a.items += _)
      a
    }))
    case "some" => Some(new JsNative("some", 1, args => {
      val f = args.head
      JsBool(a.items.zipWithIndex.exists { case (v, i) =>
        truthy(callFunction(f, Seq(v, JsNum(i), a))) })
    }))
    case "every" => Some(new JsNative("every", 1, args => {
      val f = args.head
      JsBool(a.items.zipWithIndex.forall { case (v, i) =>
        truthy(callFunction(f, Seq(v, JsNum(i), a))) })
    }))
    case "lastIndexOf" => Some(new JsNative("lastIndexOf", 1, args =>
      JsNum(a.items.lastIndexWhere(strictEquals(_, args.head)).toDouble)))
    case "toString" => Some(new JsNative("toString", 0, _ => JsStr(toStr(a))))
    case "sort" => Some(new JsNative("sort", -1, args => {
      val sorted = args.headOption match {
        case Some(f @ (_: JsFunc | _: JsNative)) =>
          a.items.sortWith((x, y) => toNum(callFunction(f, Seq(x, y))) < 0)
        case _ => a.items.sortBy(toStr)
      }
      a.items.clear(); sorted.foreach(a.items += _)
      a
    }))
    case _ => None
  }

  // ----------------------------------------------------- string builtins
  private def stringMethod(s: String, nm: String): Option[JsNative] = nm match {
    case "charAt" => Some(new JsNative("charAt", 1, args => {
      val i = toNum(args.headOption.getOrElse(JsNum(0))).toInt
      JsStr(if (i >= 0 && i < s.length) s.charAt(i).toString else "")
    }))
    case "indexOf" => Some(new JsNative("indexOf", 1, args =>
      JsNum(s.indexOf(toStr(args.head)).toDouble)))
    case "substring" => Some(new JsNative("substring", -1, args => {
      val a0 = math.max(0, math.min(s.length, toNum(args.headOption.getOrElse(JsNum(0))).toInt))
      val b0 = math.max(0, math.min(s.length, args.lift(1).map(v => toNum(v).toInt).getOrElse(s.length)))
      JsStr(s.substring(math.min(a0, b0), math.max(a0, b0)))
    }))
    case "slice" => Some(new JsNative("slice", -1, args => {
      val n = s.length
      def clamp(d: Double): Int =
        if (d < 0) math.max(0, n + d.toInt) else math.min(n, d.toInt)
      val from = args.headOption.map(v => clamp(toNum(v))).getOrElse(0)
      val until = args.lift(1).map(v => clamp(toNum(v))).getOrElse(n)
      JsStr(if (from < until) s.substring(from, until) else "")
    }))
    case "toLowerCase" => Some(new JsNative("toLowerCase", 0, _ => JsStr(s.toLowerCase)))
    case "toUpperCase" => Some(new JsNative("toUpperCase", 0, _ => JsStr(s.toUpperCase)))
    case "split" => Some(new JsNative("split", 1, args => {
      val out = new JsArr
      val parts = args.headOption match {
        case None | Some(JsUndef) => Array(s)
        case Some(re: JsRegex)    => re.pattern.split(s, -1)
        case Some(sep) =>
          val ss = toStr(sep)
          if (ss.isEmpty) s.map(_.toString).toArray
          else s.split(java.util.regex.Pattern.quote(ss), -1)
      }
      parts.foreach(p => out.items += JsStr(p))
      out
    }))
    case "trim"     => Some(new JsNative("trim", 0, _ => JsStr(s.trim)))
    case "toString" => Some(new JsNative("toString", 0, _ => JsStr(s)))
    case "localeCompare" => Some(new JsNative("localeCompare", 1, args =>
      // code-unit order (the ES5 default comparison; no locale tables)
      JsNum(Integer.signum(s.compareTo(
        toStr(args.headOption.getOrElse(JsUndef)))).toDouble)))
    case "charCodeAt" => Some(new JsNative("charCodeAt", 1, args => {
      val i = toNum(args.headOption.getOrElse(JsNum(0))).toInt
      JsNum(if (i >= 0 && i < s.length) s.charAt(i).toDouble else Double.NaN)
    }))
    case "lastIndexOf" => Some(new JsNative("lastIndexOf", 1, args =>
      JsNum(s.lastIndexOf(toStr(args.head)).toDouble)))
    case "concat" => Some(new JsNative("concat", -1, args =>
      JsStr(s + args.map(toStr).mkString)))
    case "substr" => Some(new JsNative("substr", -1, args => {
      // ES5 B.2.3: negative start counts from the end
      val n = s.length
      var start = toNum(args.headOption.getOrElse(JsNum(0))).toInt
      if (start < 0) start = math.max(0, n + start)
      start = math.min(start, n)
      val len = args.lift(1).map(v => toNum(v).toInt).getOrElse(n - start)
      JsStr(if (len <= 0) "" else s.substring(start, math.min(n, start + len)))
    }))
    case "search" => Some(new JsNative("search", 1, args => {
      val re = toRegex(args.headOption.getOrElse(JsUndef))
      val m = re.pattern.matcher(s)
      JsNum(if (m.find()) m.start.toDouble else -1.0)
    }))
    case "match" => Some(new JsNative("match", 1, args => {
      val re = toRegex(args.headOption.getOrElse(JsUndef))
      if (re.global) {
        val out = new JsArr
        val m = re.pattern.matcher(s)
        while (m.find()) out.items += JsStr(m.group())
        if (out.items.isEmpty) JsNull else out
      } else execOn(re, s, stateful = false)
    }))
    case "replace" => Some(new JsNative("replace", 2, args => {
      val repl = args.lift(1).getOrElse(JsUndef)
      def replFor(m: java.util.regex.Matcher): String = repl match {
        case f @ (_: JsFunc | _: JsNative) =>
          val cargs = mutable.ArrayBuffer[JsVal](JsStr(m.group()))
          (1 to m.groupCount).foreach(g => cargs +=
            (if (m.group(g) == null) JsUndef else JsStr(m.group(g))))
          cargs += JsNum(m.start.toDouble)
          cargs += JsStr(s)
          toStr(callFunction(f, cargs.toSeq))
        case v => expandDollars(toStr(v), m)
      }
      args.headOption.getOrElse(JsUndef) match {
        case re: JsRegex =>
          val m = re.pattern.matcher(s)
          val sb = new StringBuilder
          var last = 0
          var go = m.find()
          while (go) {
            sb.append(s.substring(last, m.start)).append(replFor(m))
            last = m.end
            // zero-width match: step forward so a global replace halts
            go = re.global && {
              val pos = if (m.end == m.start) m.end + 1 else m.end
              pos <= s.length && m.find(pos)
            }
          }
          sb.append(s.substring(last))
          JsStr(sb.toString)
        case pat => // string pattern: FIRST literal occurrence only (ES5)
          val p = toStr(pat)
          val at = s.indexOf(p)
          if (at < 0) JsStr(s)
          else repl match {
            case f @ (_: JsFunc | _: JsNative) =>
              JsStr(s.substring(0, at) +
                toStr(callFunction(f, Seq(JsStr(p), JsNum(at.toDouble), JsStr(s)))) +
                s.substring(at + p.length))
            case v =>
              JsStr(s.substring(0, at) + toStr(v).replace("$$", "$") +
                s.substring(at + p.length))
          }
      }
    }))
    case _ => None
  }

  /** `$&`, `$1`..`$99`, `$$` expansion for a string replacement. */
  private def expandDollars(tpl: String, m: java.util.regex.Matcher): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < tpl.length) {
      val c = tpl.charAt(i)
      if (c == '$' && i + 1 < tpl.length) {
        tpl.charAt(i + 1) match {
          case '$' => sb += '$'; i += 2
          case '&' => sb.append(m.group()); i += 2
          case d if d.isDigit =>
            var j = i + 1
            if (j + 1 < tpl.length && tpl.charAt(j + 1).isDigit &&
                (tpl.substring(i + 1, j + 2).toInt <= m.groupCount)) j += 1
            val g = tpl.substring(i + 1, j + 1).toInt
            if (g >= 1 && g <= m.groupCount) {
              Option(m.group(g)).foreach(sb.append)
              i = j + 1
            } else { sb += c; i += 1 }
          case _ => sb += c; i += 1
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  private def toRegex(v: JsVal): JsRegex = v match {
    case re: JsRegex => re
    case other       => mkRegex(java.util.regex.Pattern.quote(toStr(other)), "")
  }

  /** `exec` semantics: the match array [full, group1, ...] or null; a
    * GLOBAL regex advances `lastIndex` between calls (ES5 15.10.6.2) so
    * the canonical exec loop terminates.
    */
  private def execOn(re: JsRegex, s: String, stateful: Boolean): JsVal = {
    val start = if (stateful && re.global) re.lastIndex else 0
    if (start > s.length) { re.lastIndex = 0; return JsNull }
    val m = re.pattern.matcher(s)
    if (!m.find(start)) {
      if (stateful && re.global) re.lastIndex = 0
      JsNull
    } else {
      if (stateful && re.global)
        re.lastIndex = if (m.end == m.start) m.end + 1 else m.end
      val out = new JsArr
      out.items += JsStr(m.group())
      (1 to m.groupCount).foreach(g => out.items +=
        (if (m.group(g) == null) JsUndef else JsStr(m.group(g))))
      out
    }
  }

  // ------------------------------------------------------ regex builtins
  private def regexMethod(re: JsRegex, nm: String): Option[JsNative] = nm match {
    case "test" => Some(new JsNative("test", 1, args =>
      JsBool(re.pattern.matcher(toStr(args.headOption.getOrElse(JsUndef))).find())))
    case "exec" => Some(new JsNative("exec", 1, args =>
      execOn(re, toStr(args.headOption.getOrElse(JsUndef)), stateful = true)))
    case "toString" => Some(new JsNative("toString", 0, _ => JsStr(toStr(re))))
    case _ => None
  }

  // ------------------------------------------------------- date builtins
  private def dateMethod(d: JsDate, nm: String): Option[JsNative] = {
    // every getter returns NaN on an Invalid Date (ES5 15.9.5)
    def get(f: java.time.ZonedDateTime => Double): Seq[JsVal] => JsVal =
      _ => JsNum(if (d.ms.isNaN || d.ms.isInfinite) Double.NaN
                 else f(d.instant))
    def g(name: String)(f: java.time.ZonedDateTime => Double) =
      Some(new JsNative(name, 0, get(f)))
    nm match {
      case "getTime" | "valueOf" => Some(new JsNative(nm, 0, _ => JsNum(d.ms)))
      case "setTime" => Some(new JsNative("setTime", 1, args => {
        d.ms = timeClip(toNum(args.headOption.getOrElse(JsUndef)))
        JsNum(d.ms)
      }))
      // UTC-pinned engine: the local getters alias getUTC* (class doc)
      case "getFullYear" | "getUTCFullYear" => g(nm)(_.getYear.toDouble)
      case "getMonth" | "getUTCMonth" => g(nm)(_.getMonthValue - 1.0)
      case "getDate" | "getUTCDate" => g(nm)(_.getDayOfMonth.toDouble)
      case "getDay" | "getUTCDay" => // JS: 0 = Sunday; ISO: 7 = Sunday
        g(nm)(z => z.getDayOfWeek.getValue % 7.0)
      case "getHours" | "getUTCHours" => g(nm)(_.getHour.toDouble)
      case "getMinutes" | "getUTCMinutes" => g(nm)(_.getMinute.toDouble)
      case "getSeconds" | "getUTCSeconds" => g(nm)(_.getSecond.toDouble)
      case "getMilliseconds" | "getUTCMilliseconds" =>
        g(nm)(_.getNano / 1e6)
      case "getTimezoneOffset" => g(nm)(_ => 0.0)
      case "toISOString" => Some(new JsNative(nm, 0, _ =>
        JsStr(dateIso(d)))) // throws RangeError on Invalid Date via instant
      case "toJSON" => Some(new JsNative(nm, 0, _ =>
        if (d.ms.isNaN || d.ms.isInfinite) JsNull else JsStr(dateIso(d))))
      case "toString" | "toUTCString" | "toDateString" =>
        Some(new JsNative(nm, 0, _ => JsStr(toStr(d))))
      case _ => None
    }
  }

  // ----------------------------------------------------- number builtins
  private def numberMethod(d: Double, nm: String): Option[JsNative] = nm match {
    case "toFixed" => Some(new JsNative("toFixed", 1, args => {
      val digits = toNum(args.headOption.getOrElse(JsNum(0))).toInt
      if (d.isNaN) JsStr("NaN")
      else if (d.isInfinite) JsStr(if (d > 0) "Infinity" else "-Infinity")
      else JsStr(java.math.BigDecimal.valueOf(d)
        .setScale(digits, java.math.RoundingMode.HALF_UP).toPlainString)
    }))
    case "toString" => Some(new JsNative("toString", 1, args => {
      val radix = args.headOption.map(v => toNum(v).toInt).getOrElse(10)
      JsStr(numToStrRadix(d, radix))
    }))
    case "valueOf" => Some(new JsNative("valueOf", 0, _ => JsNum(d)))
    case _ => None
  }
}

object JsInterp {

  /** The global names of one run, keyed by name: the host objects and
    * builtins, the top level's `var`s and functions, and every name an
    * assignment to an undeclared identifier creates (non-strict ES5).
    * Function-local names live in [[Frame]] slots instead. A run's
    * globals start as a copy of `initial`, which the run never writes.
    */
  final class Env(initial: java.util.Map[String, JsVal] = java.util.Map.of()) {
    private val names = new java.util.HashMap[String, JsVal](initial)
    def declare(nm: String, v: JsVal): Unit = { names.put(nm, v); () }
    def has(nm: String): Boolean = names.containsKey(nm)
    def lookup(nm: String): Option[JsVal] = Option(get(nm))
    /** The value of `nm`; null when it is unbound. */
    private[js] def get(nm: String): JsVal = names.get(nm)
  }

  private[js] val True = JsBool(true)
  private[js] val False = JsBool(false)
  private[js] def bool(b: Boolean): JsBool = if (b) True else False

  /** `k` as an ES5 15.4 array index — `ToString(ToUint32(k)) == k` and
    * below 2^32 - 1, so `'1'` but not `'01'`, `'1.0'` or `'-1'` — or -1.
    */
  private[js] def arrayIndex(k: String): Long = {
    val n = k.length
    if (n == 0 || n > 10 || (n > 1 && k.charAt(0) == '0')) return -1
    var v = 0L
    var i = 0
    while (i < n) {
      val c = k.charAt(i)
      if (c < '0' || c > '9') return -1
      v = v * 10 + (c - '0')
      i += 1
    }
    if (v < 4294967295L) v else -1
  }

  /** Whether `k` is an array index below `length`: an own element. */
  private def isIndexBelow(k: String, length: Int): Boolean = {
    val i = arrayIndex(k)
    i >= 0 && i < length
  }

  /** The engine's memory bound on an array's length. A longer array, by
    * construction, index write or `length` write, fails the run with a
    * named error instead of exhausting the heap (otto materializes the Go
    * slice and relies on per-RPC panic recovery when the node dies).
    */
  private def checkArrayLength(len: Double): Unit =
    if (len > 16777216.0)
      throw OracleRunError(s"Array length ${numToStr(len)} exceeds the engine bound " +
        "of 16777216 elements")

  /** `d` as an array length (ES5 15.4.2.2, 15.4.5.1): a RangeError unless
    * a whole number below 2^32, then [[checkArrayLength]]'s bound.
    */
  private def arrayLength(d: Double): Int = {
    if (!d.isWhole || d < 0 || d >= 4294967296.0)
      throw JsThrow(errorObj("RangeError", "Invalid array length"))
    checkArrayLength(d)
    d.toInt
  }

  /** `new X(...)` over the constructible globals, which the compiler
    * binds by name: the Error family, Object, Array, RegExp and Date.
    */
  private[js] def newBuiltin(nm: String, args: Seq[JsVal]): JsVal = nm match {
    case "Object" => new JsObj
    case "Array" =>
      val a = new JsArr
      args match {
        case Seq(JsNum(d)) =>
          // ES5 15.4.2.2: the single numeric argument is the LENGTH
          // (Array(1e308) used to saturate .toInt and die in a raw
          // 2^31-element allocation; caught by JsFuzzSpec seed 5597)
          (0 until arrayLength(d)).foreach(_ => a.items += JsUndef)
        case _ => args.foreach(a.items += _)
      }
      a
    case "RegExp" =>
      mkRegex(args.headOption.map(toStr).getOrElse(""),
        args.lift(1).map(toStr).getOrElse(""))
    case "Date" =>
      new JsDate(args match {
        case Seq()           => System.currentTimeMillis.toDouble
        case Seq(s: JsStr)   => dateParse(s.s)
        case Seq(d: JsDate)  => d.ms
        case Seq(one)        => timeClip(toNum(one))
        case fields          => dateFromFields(fields.map(toNum))
      })
    case _ => errorObj(nm, args.headOption.map(toStr).getOrElse(""))
  }

  // ------------------------------------------------------------ operators
  /** The function of binary operator `op`, bound once at compile time. */
  private[js] def binaryOp(op: String): (JsVal, JsVal) => JsVal = op match {
    case "+"   => add
    case "-"   => (l, r) => JsNum(toNum(l) - toNum(r))
    case "*"   => (l, r) => JsNum(toNum(l) * toNum(r))
    case "/"   => (l, r) => JsNum(toNum(l) / toNum(r))
    case "%"   => (l, r) => JsNum(toNum(l) % toNum(r))
    case "=="  => (l, r) => bool(looseEquals(l, r))
    case "!="  => (l, r) => bool(!looseEquals(l, r))
    case "===" => (l, r) => bool(strictEquals(l, r))
    case "!==" => (l, r) => bool(!strictEquals(l, r))
    case "<"   => (l, r) => bool(compare(l, r) == -1)
    case ">"   => (l, r) => bool(compare(l, r) == 1)
    case "<="  => (l, r) => { val c = compare(l, r); bool(c == -1 || c == 0) }
    case ">="  => (l, r) => { val c = compare(l, r); bool(c == 0 || c == 1) }
    case "&"   => (l, r) => JsNum((toInt32(l) & toInt32(r)).toDouble)
    case "|"   => (l, r) => JsNum((toInt32(l) | toInt32(r)).toDouble)
    case "^"   => (l, r) => JsNum((toInt32(l) ^ toInt32(r)).toDouble)
    case "<<"  => (l, r) => JsNum((toInt32(l) << (toInt32(r) & 31)).toDouble)
    case ">>"  => (l, r) => JsNum((toInt32(l) >> (toInt32(r) & 31)).toDouble)
    case ">>>" => (l, r) =>
      JsNum(((toInt32(l).toLong & 0xFFFFFFFFL) >>> (toInt32(r) & 31)).toDouble)
    case "in"  => in
    case "instanceof" => instanceOf
    case other => throw new IllegalStateException(s"unknown binary operator $other")
  }

  private def add(l: JsVal, r: JsVal): JsVal = l match {
    case JsNum(a) if r.isInstanceOf[JsNum] => JsNum(a + r.asInstanceOf[JsNum].v)
    case _ =>
      val pl = toPrimitive(l)
      val pr = toPrimitive(r)
      pl match {
        case JsStr(a) => JsStr(a + toStr(pr))
        case _ => pr match {
          case JsStr(b) => JsStr(toStr(pl) + b)
          case _        => JsNum(toNum(pl) + toNum(pr))
        }
      }
  }

  /** ES5 11.8.5 relational comparison: -1, 0 or 1, or 2 when a NaN leaves
    * the operands unordered. Two strings compare by code units.
    */
  private def compare(l: JsVal, r: JsVal): Int = {
    val pl = toPrimitive(l)
    val pr = toPrimitive(r)
    if (pl.isInstanceOf[JsStr] && pr.isInstanceOf[JsStr])
      Integer.signum(pl.asInstanceOf[JsStr].s.compareTo(pr.asInstanceOf[JsStr].s))
    else {
      val x = toNum(pl)
      val y = toNum(pr)
      if (x.isNaN || y.isNaN) 2 else if (x < y) -1 else if (x > y) 1 else 0
    }
  }

  private def in(l: JsVal, r: JsVal): JsVal = {
    val key = toStr(l)
    r match {
      case o: JsObj => bool(ownOrInherited(o, key).isDefined)
      case a: JsArr =>
        val d = toNum(l)
        bool(key == "length" || (d.isWhole && d >= 0 && d < a.items.length))
      case h: JsHost => bool(h.has(key))
      case _ =>
        throw OracleRunError(
          s"TypeError: cannot use 'in' operator to search for '$key' in ${typeOf(r)}")
    }
  }

  private def instanceOf(l: JsVal, r: JsVal): JsVal = r match {
    // user constructor: walk the instance's [[Prototype]] chain for
    // identity with F.prototype (never auto-create it here — a function
    // whose prototype was never touched has no instances)
    case f: JsFunc =>
      var cur = l match { case o: JsObj => o.proto; case _ => null }
      var hit = false
      while (cur != null && !hit) {
        hit = f.prototypeObj != null && (cur eq f.prototypeObj)
        cur = cur.proto
      }
      bool(hit)
    case _ =>
      val ctor = r match {
        case n: JsNative => n.name
        case h: JsHost   => h.hostName
        case _ => throw OracleRunError(
          "TypeError: right-hand side of 'instanceof' is not callable")
      }
      bool(ctor match {
        case "Array"    => l.isInstanceOf[JsArr]
        case "Date"     => l.isInstanceOf[JsDate]
        case "Object"   => l.isInstanceOf[JsObj] || l.isInstanceOf[JsArr] ||
                           l.isInstanceOf[JsRegex] || l.isInstanceOf[JsDate]
        case "Function" => l.isInstanceOf[JsFunc] || l.isInstanceOf[JsNative]
        case "RegExp"   => l.isInstanceOf[JsRegex]
        case "Error"    => l match {
          case o: JsObj => o.fields.get("name").exists(n => toStr(n).endsWith("Error"))
          case _        => false
        }
        case n if n.endsWith("Error") => l match {
          case o: JsObj => o.fields.get("name").exists(x => toStr(x) == n)
          case _        => false
        }
        case _ => false
      })
  }

  private def looseEquals(l: JsVal, r: JsVal): Boolean = (l, r) match {
    case (JsNull, JsUndef) | (JsUndef, JsNull) => true
    case (JsNum(_), JsNum(_)) | (JsStr(_), JsStr(_)) | (JsBool(_), JsBool(_)) =>
      strictEquals(l, r)
    case (JsNull, JsNull) | (JsUndef, JsUndef) => true
    case (JsNum(a), JsStr(_))  => a == toNum(r)
    case (JsStr(_), JsNum(b))  => toNum(l) == b
    case (JsBool(_), _)        => looseEquals(JsNum(toNum(l)), r)
    case (_, JsBool(_))        => looseEquals(l, JsNum(toNum(r)))
    case (o @ (_: JsObj | _: JsArr), p) if !p.isInstanceOf[JsObj] &&
        !p.isInstanceOf[JsArr] && p != JsNull && p != JsUndef =>
      looseEquals(toPrimitive(o), p)
    case (p, o @ (_: JsObj | _: JsArr)) if !p.isInstanceOf[JsObj] &&
        !p.isInstanceOf[JsArr] && p != JsNull && p != JsUndef =>
      looseEquals(p, toPrimitive(o))
    case _ => strictEquals(l, r)
  }

  private[js] def strictEquals(l: JsVal, r: JsVal): Boolean = (l, r) match {
    case (JsNum(a), JsNum(b))   => a == b // NaN != NaN, +0 == -0, like JS
    case (JsStr(a), JsStr(b))   => a == b
    case (JsBool(a), JsBool(b)) => a == b
    case (JsNull, JsNull)       => true
    case (JsUndef, JsUndef)     => true
    case (a: AnyRef, b: AnyRef) => a eq b
  }

  /** Own field or one inherited through the [[Prototype]] chain. */
  private def ownOrInherited(o: JsObj, nm: String): Option[JsVal] = {
    var cur = o
    while (cur != null) {
      val hit = cur.fields.get(nm)
      if (hit.isDefined) return hit
      cur = cur.proto
    }
    None
  }

  def truthy(v: JsVal): Boolean = v match {
    case JsBool(b) => b
    case JsNum(d)  => d != 0 && !d.isNaN
    case JsStr(s)  => s.nonEmpty
    case JsNull | JsUndef => false
    case _ => true
  }

  def toNum(v: JsVal): Double = v match {
    case JsNum(d)  => d
    case JsBool(b) => if (b) 1 else 0
    case JsNull    => 0
    case JsUndef   => Double.NaN
    case JsStr(s) =>
      val t = s.trim
      if (t.isEmpty) 0
      else try t.toDouble catch { case _: NumberFormatException => Double.NaN }
    case d: JsDate => d.ms // arithmetic over dates works in epoch ms
    case o => toNum(toPrimitive(o))
  }

  def toInt32(v: JsVal): Int = {
    val d = toNum(v)
    if (d.isNaN || d.isInfinite) 0 else d.toLong.toInt
  }

  /** JS number formatting: integral doubles print without a decimal
    * point, everything else uses the shortest round-trip repr.
    */
  def numToStr(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d == Double.PositiveInfinity) "Infinity"
    else if (d == Double.NegativeInfinity) "-Infinity"
    else if (d.isWhole && math.abs(d) < 9.0e18) d.toLong.toString // exact
    else if (d.isWhole && math.abs(d) < 1e21)
      BigDecimal(d).toBigInt.toString
    else d.toString

  def toStr(v: JsVal): String =
    toStrSeen(v, java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]()))

  /** [[toStr]] with cycle detection: a self-referential array or object
    * would otherwise recurse the JVM stack to death (StackOverflowError —
    * an Error no catch layer maps, so it would fail a Spark task raw). A
    * re-entered container renders as "" inside a join, matching V8's
    * cyclic Array.prototype.join behavior; pinned by JsFuzzSpec.
    */
  private def toStrSeen(v: JsVal,
      active: java.util.Set[AnyRef]): String = v match {
    case JsNum(d)  => numToStr(d)
    case JsStr(s)  => s
    case JsBool(b) => b.toString
    case JsNull    => "null"
    case JsUndef   => "undefined"
    case a: JsArr  =>
      if (!active.add(a)) ""
      else try a.items.map {
        case JsNull | JsUndef => ""
        case x => toStrSeen(x, active)
      }.mkString(",")
      finally { active.remove(a); () }
    case o: JsObj =>
      // Error objects stringify as "name: message" (otto/ES5), which is
      // also what an uncaught throw of one reports
      if (active.contains(o)) "[object Object]"
      else if (o.fields.contains("message") && o.fields.get("name").exists(
          n => toStr(n).endsWith("Error"))) {
        active.add(o)
        try s"${toStrSeen(o.fields("name"), active)}: " +
          toStrSeen(o.fields("message"), active)
        finally { active.remove(o); () }
      } else "[object Object]"
    case re: JsRegex => s"/${re.source}/${re.flags}"
    case d: JsDate =>
      if (d.ms.isNaN || d.ms.isInfinite) "Invalid Date"
      else d.instant.format(java.time.format.DateTimeFormatter.ofPattern(
        "EEE MMM dd yyyy HH:mm:ss 'GMT+0000 (UTC)'", java.util.Locale.US))
    case f: JsFunc => s"function ${f.name.getOrElse("")}() { ... }"
    case n: JsNative => s"function ${n.name}() { [native] }"
    case h: JsHost => s"[object ${h.hostName}]"
  }

  private def toPrimitive(v: JsVal): JsVal = v match {
    case _: JsObj | _: JsArr | _: JsFunc | _: JsNative | _: JsHost |
         _: JsRegex | _: JsDate => // Date's default hint is String (ES5 8.12.8)
      JsStr(toStr(v))
    case prim => prim
  }

  /** ES5 15.9.1.15 ISO form, millisecond precision, Z suffix. */
  def dateIso(d: JsDate): String =
    d.instant.format(java.time.format.DateTimeFormatter.ofPattern(
      "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))

  /** Date.parse over the formats oracles see: ISO 8601 instants
    * (with offset or Z), ISO date-times without a zone (read as UTC),
    * and bare dates. Anything else, or a time past TimeClip's range, is
    * NaN, like ES5.
    */
  def dateParse(s: String): Double = {
    val t = s.trim
    def tryParse(f: => Double): Option[Double] =
      try Some(f) catch { case _: Exception => None }
    tryParse(java.time.OffsetDateTime.parse(t).toInstant.toEpochMilli.toDouble)
      .orElse(tryParse(java.time.Instant.parse(t).toEpochMilli.toDouble))
      .orElse(tryParse(java.time.LocalDateTime.parse(t)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli.toDouble))
      .orElse(tryParse(java.time.LocalDate.parse(t).atStartOfDay
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli.toDouble))
      .map(timeClip).getOrElse(Double.NaN)
  }

  /** Date.UTC / `new Date(y, m, d, h, mi, s, ms)` field constructor —
    * month is 0-based, out-of-range fields roll over (plusX arithmetic).
    */
  def dateFromFields(fields: Seq[Double]): Double = {
    // Date.UTC() with no args and non-finite fields are NaN, not a crash
    // (ES5 15.9.4.3 via TimeClip); same for any year/month that pushes
    // java.time past its representable range.
    if (fields.isEmpty || fields.exists(d => d.isNaN || d.isInfinite))
      return Double.NaN
    val year = fields.head.toInt match {
      case y if y >= 0 && y <= 99 => 1900 + y // two-digit years (ES5)
      case y => y
    }
    val ms = try {
      java.time.LocalDateTime.of(year, 1, 1, 0, 0)
        .plusMonths(fields.lift(1).map(_.toLong).getOrElse(0L))
        .plusDays(fields.lift(2).map(_.toLong - 1).getOrElse(0L))
        .plusHours(fields.lift(3).map(_.toLong).getOrElse(0L))
        .plusMinutes(fields.lift(4).map(_.toLong).getOrElse(0L))
        .plusSeconds(fields.lift(5).map(_.toLong).getOrElse(0L))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli.toDouble +
        fields.lift(6).getOrElse(0.0).toLong
    } catch {
      case _: java.time.DateTimeException => return Double.NaN
      case _: ArithmeticException => return Double.NaN
    }
    timeClip(ms)
  }

  /** ES5 15.9.1.14 TimeClip: NaN beyond ±8.64e15 ms (an invalid time
    * value), else ToInteger, with -0 turned into +0.
    */
  def timeClip(ms: Double): Double =
    if (ms.isNaN || math.abs(ms) > 8.64e15) Double.NaN
    else (if (ms < 0) math.ceil(ms) else math.floor(ms)) + 0.0

  /** ES5 15.8.2.15 Math.round: the integer closest to `d`, ties toward
    * +Infinity. Computed from floor, since `floor(d + 0.5)` rounds
    * 0.49999999999999994 up and loses the sign of -0 and of (-0.5, 0).
    */
  def round(d: Double): Double = {
    val f = math.floor(d)
    val r = if (d - f >= 0.5) f + 1 else f
    if (r == 0 && (d < 0 || 1 / d < 0)) -0.0 else r // d in [-0.5, 0) or -0
  }

  def mkRegex(pattern: String, flags: String): JsRegex =
    try new JsRegex(pattern, flags)
    catch {
      case e: java.util.regex.PatternSyntaxException =>
        throw OracleRunError(
          s"SyntaxError: invalid regular expression: ${e.getMessage}")
    }

  /** An Error-shaped object: what `new TypeError(msg)` builds and what a
    * `catch` clause binds for interpreter run errors.
    */
  def errorObj(name: String, message: String): JsObj = {
    val o = new JsObj
    o.fields("name") = JsStr(name)
    o.fields("message") = JsStr(message)
    o
  }

  /** Rebuild an Error object from a run-error message like
    * "TypeError: x is not a function".
    */
  def errorFromMessage(m: String): JsObj = {
    val sep = m.indexOf(": ")
    if (sep > 0 && m.substring(0, sep).matches("[A-Z][A-Za-z]*Error"))
      errorObj(m.substring(0, sep), m.substring(sep + 2))
    else errorObj("Error", m)
  }

  /** The message an UNCAUGHT `throw` surfaces: a thrown string exports as
    * the bare string (master/service_test.go:683), an Error object as
    * "name: message", anything else via toStr.
    */
  def throwMessage(v: JsVal): String = toStr(v)

  /** Number.prototype.toString(radix): ES5 integer digits plus up to 20
    * fractional digits, trailing zeros stripped.
    */
  def numToStrRadix(d: Double, radix: Int): String = {
    if (radix < 2 || radix > 36)
      throw OracleRunError("RangeError: toString() radix must be between 2 and 36")
    if (radix == 10 || d.isNaN || d.isInfinite) numToStr(d)
    else {
      val neg = d < 0
      var x = math.abs(d)
      val ip = math.floor(x).toLong
      var s = java.lang.Long.toString(ip, radix)
      x -= ip
      if (x > 0) {
        val sb = new StringBuilder(s).append('.')
        var i = 0
        while (x > 0 && i < 20) {
          x *= radix
          val digit = math.floor(x).toInt
          sb.append(Character.forDigit(digit, radix))
          x -= digit
          i += 1
        }
        s = sb.toString.reverse.dropWhile(_ == '0').reverse
        if (s.endsWith(".")) s = s.dropRight(1)
      }
      if (neg) "-" + s else s
    }
  }

  /** JSON.stringify over interpreter values: ES5 semantics — undefined/
    * functions are skipped in objects, null in arrays, None at the top;
    * non-finite numbers serialize as null; insertion key order.
    */
  def jsonStringify(v: JsVal, indent: String): Option[String] = {
    // Cycle guard (ES5 15.12.3 step JO/JA "cyclic structure" check): a
    // self-referential container is a TypeError, exactly V8's message —
    // without it the recursion would die as a raw StackOverflowError.
    val active = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def enter(c: AnyRef): Unit =
      if (!active.add(c))
        throw JsThrow(errorObj("TypeError",
          "Converting circular structure to JSON"))
    def quote(s: String): String = {
      val sb = new StringBuilder("\"")
      s.foreach {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"').toString
    }
    def go(v: JsVal, pad: String): Option[String] = v match {
      case JsNum(d)  => Some(if (d.isNaN || d.isInfinite) "null" else numToStr(d))
      case JsStr(s)  => Some(quote(s))
      case JsBool(b) => Some(b.toString)
      case JsNull    => Some("null")
      case JsUndef | _: JsFunc | _: JsNative | _: JsHost => None
      case _: JsRegex => Some("{}")
      case d: JsDate =>
        Some(if (d.ms.isNaN || d.ms.isInfinite) "null"
             else quote(dateIso(d)))
      case a: JsArr =>
        enter(a)
        try {
          val inner = pad + indent
          val items = a.items.map(x => go(x, inner).getOrElse("null"))
          Some(
            if (items.isEmpty) "[]"
            else if (indent.isEmpty) items.mkString("[", ",", "]")
            else items.mkString(s"[\n$inner", s",\n$inner", s"\n$pad]"))
        } finally { active.remove(a); () }
      case o: JsObj =>
        enter(o)
        try {
          val inner = pad + indent
          val sep = if (indent.isEmpty) ":" else ": "
          val fields = o.fields.toSeq.flatMap { case (k, x) =>
            go(x, inner).map(s => quote(k) + sep + s)
          }
          Some(
            if (fields.isEmpty) "{}"
            else if (indent.isEmpty) fields.mkString("{", ",", "}")
            else fields.mkString(s"{\n$inner", s",\n$inner", s"\n$pad}"))
        } finally { active.remove(o); () }
    }
    go(v, "")
  }

  def typeOf(v: JsVal): String = v match {
    case _: JsNum  => "number"
    case _: JsStr  => "string"
    case _: JsBool => "boolean"
    case JsUndef   => "undefined"
    case JsNull    => "object"
    case _: JsFunc | _: JsNative => "function"
    case _ => "object"
  }

  // ------------------------------------------------------- JSON bridge
  def fromJson(j: JValue): JsVal = j match {
    case JNull | JNothing => JsNull
    case JInt(i)          => JsNum(i.toDouble)
    case JLong(l)         => JsNum(l.toDouble)
    case JDouble(d)       => JsNum(d)
    case JDecimal(d)      => JsNum(d.toDouble)
    case JString(s)       => JsStr(s)
    case JBool(b)         => JsBool(b)
    case JArray(items) =>
      val a = new JsArr
      items.foreach(it => a.items += fromJson(it))
      a
    case JObject(fields) =>
      val o = new JsObj
      fields.foreach { case (k, v) => o.fields(k) = fromJson(v) }
      o
    case JSet(items) =>
      val a = new JsArr
      items.foreach(it => a.items += fromJson(it))
      a
  }

  /** To JSON with Go's encoding/json conventions (the reference marshals
    * the otto export): object keys sorted, integral doubles as integers.
    * Functions and host objects are unmarshalable, like Go funcs.
    */
  def toJson(v: JsVal): JValue =
    toJsonSeen(v, java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]()))

  /** [[toJson]] with cycle detection: Go's encoding/json reports a
    * self-referential value as an error ("encountered a cycle") rather
    * than recursing forever — so does the marshal of a cyclic oracle
    * result here, in the same `json:` error family the reference
    * surfaces (service_test.go:677-684 pins the non-finite spelling).
    */
  private def toJsonSeen(v: JsVal, active: java.util.Set[AnyRef]): JValue = v match {
    case JsNum(d) =>
      if (d.isWhole && !d.isInfinite && math.abs(d) <= 9.007199254740992e15)
        JInt(BigInt(d.toLong))
      else JDouble(d)
    case JsStr(s)  => JString(s)
    case JsBool(b) => JBool(b)
    case JsNull | JsUndef => JNull
    case a: JsArr =>
      if (!active.add(a))
        throw OracleRunError("json: unsupported value: encountered a cycle")
      try JArray(a.items.map(toJsonSeen(_, active)).toList)
      finally { active.remove(a); () }
    case _: JsRegex => JObject(Nil) // regexes marshal as {} (no data fields)
    case d: JsDate => // ES5 Date.prototype.toJSON: ISO string, null invalid
      if (d.ms.isNaN || d.ms.isInfinite) JNull else JString(dateIso(d))
    case o: JsObj =>
      if (!active.add(o))
        throw OracleRunError("json: unsupported value: encountered a cycle")
      try JObject(o.fields.toSeq.sortBy(_._1)
        .map { case (k, x) => k -> toJsonSeen(x, active) }.toList)
      finally { active.remove(o); () }
    case f: JsFunc =>
      throw OracleRunError(s"json: unsupported type: func ${f.name.getOrElse("")}")
    case _ =>
      throw OracleRunError(s"json: unsupported type: ${typeOf(v)}")
  }
}
