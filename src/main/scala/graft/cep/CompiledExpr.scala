package graft.cep

/** The one evaluator of the condition language ([[Expr]]): every DEFINE
  * condition and LET update runs through `eval`, and the semantics in
  * the `Expr` header are this fold's.
  *
  * `compile` turns the tree into a form for the NFA hot loop, the
  * innermost per-(run, edge, event) loop. BENCH.md's round-11 negative
  * result showed that compiling the tree to CLOSURES loses (megamorphic
  * call sites), and named the retry precondition: make `Ref` lookups
  * positional. This form keeps the shape that won — a sealed-trait tree
  * walked by a pattern match (JITs to a tableswitch) — and changes only
  * what the nodes carry:
  *
  *   - `CAttr(slot, name)`: a ref whose edge's declared event layout
  *     (from `CepQuery.schema`) puts `name` at `slot` — evaluated as a
  *     guarded array read on `event.attrs` (no map, no hash lookup).
  *     The guard re-checks the name at the slot, so a binding is an
  *     OPTIMIZATION HINT, never a soundness assumption: an event that
  *     does not match the declared layout (hand-built events, shared
  *     `Pred` objects bound for a different edge) falls back to the
  *     generic path below.
  *   - `CRef(name)`: generic resolution — scan `event.attrs`
  *     LAST-occurrence-first (a duplicated name resolves to its last
  *     occurrence, the reference's `{**env, **attrs}` dict merge), then
  *     the data registers, then the reference's NameError.
  *   - `CArith`/`CCmp` carry integer opcodes resolved at compile time.
  *
  * `compile(e, null)` is the GENERIC form: no layout, every ref a
  * `CRef`. `DstCompiler.bindSlots` binds every edge of a compiled `Dst`;
  * a `Pred` or `DataUpdate` built elsewhere compiles the generic form on
  * first use.
  *
  * Known (documented) divergence: an event that declares the SAME attr
  * name twice AND matches a bound layout at the slot resolves to that
  * slot's occurrence, where the generic form resolves to the last.
  * Duplicate attr names in one event are unconstructible through the
  * Spark operators (schema-driven) and ambiguous already (`Event.apply`
  * is first-wins); schema layouts with duplicate names are never bound
  * (see `DstCompiler.bindSlots`).
  *
  * Differentially verified against the CPython-eval corpora (5,000
  * numeric cases, the string tier, LIKE/ESCAPE) in the generic form and
  * under matched, absent, WRONG, and split attr/register layouts
  * (`ExprDifferentialSpec`, `CompiledExprSpec`,
  * `LikeEscapeDifferentialSpec`).
  */
object CompiledExpr {
  sealed trait CExpr extends Serializable
  final case class CLit(v: Long) extends CExpr
  final case class CAttr(slot: Int, name: String) extends CExpr
  final case class CRef(name: String) extends CExpr
  final case class CArith(op: Int, l: CExpr, r: CExpr) extends CExpr
  final case class CCmp(op: Int, l: CExpr, r: CExpr) extends CExpr
  final case class CAnd(l: CExpr, r: CExpr) extends CExpr
  final case class COr(l: CExpr, r: CExpr) extends CExpr
  final case class CNot(e: CExpr) extends CExpr
  final case class CNeg(e: CExpr) extends CExpr

  /** STRING tier (round 16): a string-typed side of an equality, and
    * the two boolean-valued string nodes. String sides exist only
    * under [[CStrCmp]]/[[CStrIn]] — compile-time typed via the
    * literal-side rule ([[Expr.StrLit]]), so the numeric hot path
    * never tests for them.
    */
  sealed trait CStr extends Serializable
  final case class CStrLit(v: String) extends CStr
  /** A ref read from `event.strs` (last occurrence wins, parity with
    * the numeric generic path); registers are never strings, so a miss
    * raises the NameError directly.
    */
  final case class CStrRef(name: String) extends CStr
  /** Comparison over two string sides — equality, and (round 17)
    * code-point ordering (`Expr.strCompare`); `op` is the shared
    * comparison opcode table.
    */
  final case class CStrCmp(op: Int, l: CStr, r: CStr) extends CExpr
  /** `x in ('a','b',…)` — literal-set membership. */
  final case class CStrIn(e: CStr, values: Set[String]) extends CExpr
  /** `x like '<pattern>'` — the regex is compiled once at expression
    * compile time (`Expr.likeRegex`), anchored, DOTALL.
    */
  final case class CLike(e: CStr, rx: java.util.regex.Pattern)
      extends CExpr

  // opcodes (compile-time resolved; the parser only emits these)
  private final val ADD = 0; private final val SUB = 1
  private final val MUL = 2; private final val MOD = 3
  private final val FDIV = 4
  private final val EQ = 0; private final val NE = 1
  private final val LT = 2; private final val LE = 3
  private final val GT = 4; private final val GE = 5

  /** Compile against a declared attr layout (`null` = no layout: ε
    * edges, wildcard-type edges, unknown types — every ref generic).
    */
  def compile(e: Expr, layout: Vector[String]): CExpr = e match {
    case Expr.Lit(v)     => CLit(v)
    case Expr.BoolLit(b) => CLit(if (b) 1L else 0L)
    case Expr.StrLit(s) => throw new Expr.EvalException(
      s"string literal '$s' in a numeric position — strings are " +
        "equality/IN-only")
    case Expr.Ref(n) =>
      val slot = if (layout == null) -1 else layout.indexOf(n)
      if (slot >= 0) CAttr(slot, n) else CRef(n)
    case Expr.InSet(x, vs) => CStrIn(compileStr(x), vs.toSet)
    case Expr.Like(x, p, esc) => CLike(compileStr(x), Expr.likeRegex(p, esc))
    case Expr.Arith(op, l, r) =>
      val code = op match {
        case "+" => ADD; case "-" => SUB; case "*" => MUL
        case "%" => MOD; case "//" => FDIV
        case other => throw new Expr.EvalException(s"bad arith op $other")
      }
      CArith(code, compile(l, layout), compile(r, layout))
    // the literal side types the comparison as a string comparison
    case Expr.Cmp(op, l, r)
        if l.isInstanceOf[Expr.StrLit] || r.isInstanceOf[Expr.StrLit] =>
      val code = op match {
        case "==" => EQ; case "!=" => NE; case "<" => LT
        case "<=" => LE; case ">" => GT; case ">=" => GE
        case other => throw new Expr.EvalException(s"bad cmp op $other")
      }
      CStrCmp(code, compileStr(l), compileStr(r))
    case Expr.Cmp(op, l, r) =>
      val code = op match {
        case "==" => EQ; case "!=" => NE; case "<" => LT
        case "<=" => LE; case ">" => GT; case ">=" => GE
        case other => throw new Expr.EvalException(s"bad cmp op $other")
      }
      CCmp(code, compile(l, layout), compile(r, layout))
    case Expr.And(l, r) => CAnd(compile(l, layout), compile(r, layout))
    case Expr.Or(l, r)  => COr(compile(l, layout), compile(r, layout))
    case Expr.Not(x)    => CNot(compile(x, layout))
    case Expr.Neg(x)    => CNeg(compile(x, layout))
  }

  /** Compile a string-typed side (literal or string-attribute ref). */
  private def compileStr(e: Expr): CStr = e match {
    case Expr.StrLit(s) => CStrLit(s)
    case Expr.Ref(n)    => CStrRef(n)
    case other => throw new Expr.EvalException(
      s"expression $other cannot be string-typed — string comparisons " +
        "take an attribute name or a literal on each side")
  }

  /** Evaluate a string side against the event's string attributes
    * (last occurrence wins, parity with the numeric generic path).
    */
  private def evalStr(e: CStr, ev: Event): String = e match {
    case CStrLit(s) => s
    case CStrRef(name) =>
      if (ev != null) {
        val a = ev.strs
        var i = a.length - 1
        while (i >= 0) {
          val kv = a(i)
          if ((kv._1 eq name) || kv._1 == name) return kv._2
          i -= 1
        }
      }
      throw new Expr.EvalException(
        s"string attribute '$name' is not defined")
  }

  /** Generic name resolution: event attrs (last occurrence wins) shadow
    * the data registers, as the reference's `{**env, **attrs}` merge
    * does; an unbound name raises the reference's NameError.
    */
  private def lookup(name: String, ev: Event, eta: Map[String, Long]): Long = {
    if (ev != null) {
      val a = ev.attrs
      var i = a.length - 1
      while (i >= 0) {
        val kv = a(i)
        if ((kv._1 eq name) || kv._1 == name) return kv._2
        i -= 1
      }
    }
    eta.getOrElse(name,
      throw new Expr.EvalException(s"name '$name' is not defined"))
  }

  /** Evaluate to a primitive long: truthiness == nonzero, Python
    * operand-returning `and`/`or`, floor division/modulo (the `Expr`
    * header). `ev` is nullable (ε evaluations).
    */
  def eval(e: CExpr, ev: Event, eta: Map[String, Long]): Long = e match {
    case CLit(v) => v
    case CAttr(slot, name) =>
      if (ev != null) {
        val a = ev.attrs
        if (slot < a.length) {
          val kv = a(slot)
          if ((kv._1 eq name) || kv._1 == name) return kv._2
        }
      }
      lookup(name, ev, eta)
    case CRef(name) => lookup(name, ev, eta)
    case CArith(op, l, r) =>
      val a = eval(l, ev, eta); val b = eval(r, ev, eta)
      op match {
        case ADD => a + b
        case SUB => a - b
        case MUL => a * b
        case MOD => Math.floorMod(a, b)
        case _   => Math.floorDiv(a, b) // FDIV
      }
    case CCmp(op, l, r) =>
      val a = eval(l, ev, eta); val b = eval(r, ev, eta)
      val res = op match {
        case EQ => a == b
        case NE => a != b
        case LT => a < b
        case LE => a <= b
        case GT => a > b
        case _  => a >= b // GE
      }
      if (res) 1L else 0L
    case CStrCmp(op, l, r) =>
      val a = evalStr(l, ev); val b = evalStr(r, ev)
      val res = op match {
        case EQ => a == b
        case NE => a != b
        case LT => Expr.strCompare(a, b) < 0
        case LE => Expr.strCompare(a, b) <= 0
        case GT => Expr.strCompare(a, b) > 0
        case _  => Expr.strCompare(a, b) >= 0 // GE
      }
      if (res) 1L else 0L
    case CStrIn(x, vs) =>
      if (vs.contains(evalStr(x, ev))) 1L else 0L
    case CLike(x, rx) =>
      if (rx.matcher(evalStr(x, ev)).matches()) 1L else 0L
    case CAnd(l, r) =>
      val a = eval(l, ev, eta); if (a == 0L) a else eval(r, ev, eta)
    case COr(l, r) =>
      val a = eval(l, ev, eta); if (a != 0L) a else eval(r, ev, eta)
    case CNot(x) => if (eval(x, ev, eta) == 0L) 1L else 0L
    case CNeg(x) => -eval(x, ev, eta)
  }

  def evalBool(e: CExpr, ev: Event, eta: Map[String, Long]): Boolean =
    eval(e, ev, eta) != 0L
}
