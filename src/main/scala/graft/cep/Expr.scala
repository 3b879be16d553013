package graft.cep

/** Condition-expression language for pattern predicates and register updates.
  *
  * The reference evaluates Python expression strings over event attributes and
  * data variables (`/root/reference/reflinkcep/DST.py:84-89`). The observed
  * grammar in the corpus is: int literals, identifiers, `== != < <= >= >`,
  * `+ - * % //`, `and or not`, parentheses, `True`/`False`
  * (SURVEY.md §1.3). This object holds that subset's AST, its parser and
  * its static walks (`refs`, `strRefs`); [[CompiledExpr]] is its one
  * evaluator. It folds every value to a primitive long with
  * Python-faithful semantics:
  *   - truthiness is `value != 0`; `True`/`False` are 1/0, so bools
  *     compare equal to 0/1 and take part in arithmetic;
  *   - `and`/`or` short-circuit and return an *operand* (not a bool);
  *   - `%` and `//` are Python's floor modulo and floor division;
  *   - an unknown identifier raises (like Python's NameError) — conditions
  *     must not silently null-propagate;
  *   - a string literal outside a string comparison, `in` or `like` is
  *     rejected when the expression compiles.
  */
sealed trait Expr extends Serializable

object Expr {
  final case class Lit(v: Long) extends Expr
  final case class BoolLit(v: Boolean) extends Expr
  final case class Ref(name: String) extends Expr
  /** A STRING literal (`'a.com'` — round 16, beyond-reference). String
    * values enter conditions ONLY through comparison against a literal
    * ([[Cmp]] — equality, and since round 17 code-point ordering),
    * literal-set membership ([[InSet]]) or pattern match ([[Like]]);
    * arithmetic, truthiness and registers stay Long-only by design.
    * The literal side is what types the comparison: `host == 'a.com'`
    * resolves `host` as a string attribute of the event (`Event.strs`)
    * — two bare refs always compare numerically.
    */
  final case class StrLit(v: String) extends Expr
  /** `e in ('a', 'b', …)` — string-literal-set membership; `not in`
    * parses to `Not(InSet(…))`.
    */
  final case class InSet(e: Expr, values: Vector[String]) extends Expr
  /** `e like '<pattern>' [escape '<c>']` — SQL LIKE over the string
    * tier (round 17; ESCAPE round 18): `%` matches any sequence
    * (including newlines), `_` any single character, every other
    * character itself. With an ESCAPE character `c` (SQL:2016
    * `<like predicate>`, any single code point), `c%`/`c_`/`cc` match
    * the literal `%`/`_`/`c`; `c` before anything else — or ending the
    * pattern — is rejected at parse time, exactly Spark's `LIKE ...
    * ESCAPE` rule, so the prefilter pushdown stays exact. Without
    * ESCAPE there is no escape character at all: backslash is an
    * ordinary literal (the dialect's string literals have no escapes).
    * `not like` parses to `Not(Like(…))`. The pattern compiles once, in
    * `CompiledExpr.compile`; matching is anchored (whole-string), as in
    * SQL.
    */
  final case class Like(e: Expr, pattern: String,
      escape: Option[String] = None) extends Expr

  /** LIKE pattern → anchored regex (`%`→`.*`, `_`→`.`, rest quoted),
    * DOTALL so wildcards cross newlines (SQL semantics; Spark's `like`
    * agrees, which keeps the prefilter pushdown exact). Literal runs
    * are quoted as RUNS, never per UTF-16 char: `Pattern.quote` of a
    * lone surrogate half never matches the intact astral code point
    * (round-18 advisor fix — a supplementary character in a pattern
    * used to be split into two separately-quoted surrogates and the
    * NFA missed every match). The escape character is compared by CODE
    * POINT, so an astral escape works too.
    */
  private[cep] def likeRegex(pattern: String,
      escape: Option[String] = None): java.util.regex.Pattern = {
    escape.foreach { e =>
      require(e.codePointCount(0, e.length) == 1,
        s"LIKE ESCAPE must be a single character, got '$e'")
    }
    val escCp = escape.map(_.codePointAt(0)).getOrElse(-1)
    val sb = new StringBuilder
    val run = new StringBuilder // pending literal run, quoted as one \Q…\E
    def flush(): Unit = if (run.nonEmpty) {
      sb.append(java.util.regex.Pattern.quote(run.toString)); run.clear()
    }
    var i = 0
    while (i < pattern.length) {
      val cp = pattern.codePointAt(i)
      i += Character.charCount(cp)
      if (cp == escCp) {
        if (i >= pattern.length)
          throw new IllegalArgumentException(
            s"LIKE pattern '$pattern' must not end with its escape " +
              s"character '${escape.get}'")
        val nx = pattern.codePointAt(i)
        if (nx != '%' && nx != '_' && nx != escCp)
          throw new IllegalArgumentException(
            s"LIKE pattern '$pattern': the escape character " +
              s"'${escape.get}' may only precede '%', '_' or itself")
        run.appendAll(Character.toChars(nx))
        i += Character.charCount(nx)
      } else if (cp == '%') { flush(); sb.append(".*") }
      else if (cp == '_') { flush(); sb.append('.') }
      else run.appendAll(Character.toChars(cp))
    }
    flush()
    java.util.regex.Pattern.compile(sb.toString,
      java.util.regex.Pattern.DOTALL)
  }

  /** Code-point string ordering (round 17): equals UTF-8 byte order —
    * Spark's `UTF8String` comparison and DuckDB's binary collation —
    * for all valid strings, so the NFA, the pushed-down prefilter and
    * the oracle agree. (`String.compareTo` would diverge when a
    * supplementary character meets a char in U+E000..U+FFFF: UTF-16
    * code units order surrogates below them.)
    */
  def strCompare(a: String, b: String): Int = {
    val la = a.length; val lb = b.length
    var i = 0
    while (i < la && i < lb) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(i)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
    }
    Integer.compare(la, lb)
  }
  /** op in + - * % // */
  final case class Arith(op: String, l: Expr, r: Expr) extends Expr
  /** op in == != < <= > >= */
  final case class Cmp(op: String, l: Expr, r: Expr) extends Expr
  final case class And(l: Expr, r: Expr) extends Expr
  final case class Or(l: Expr, r: Expr) extends Expr
  final case class Not(e: Expr) extends Expr
  final case class Neg(e: Expr) extends Expr

  final class EvalException(msg: String) extends RuntimeException(msg)

  val True: Expr = BoolLit(true)

  /** Every name the expression references — event attributes and stream
    * registers alike (the grammar does not distinguish them; callers
    * subtract the declared register names to get the free attributes).
    */
  def refs(e: Expr): Set[String] = e match {
    case Lit(_) | BoolLit(_) | StrLit(_) => Set.empty
    case Ref(n)              => Set(n)
    case InSet(x, _)         => refs(x)
    case Like(x, _, _)       => refs(x)
    case Arith(_, l, r)      => refs(l) ++ refs(r)
    case Cmp(_, l, r)        => refs(l) ++ refs(r)
    case And(l, r)           => refs(l) ++ refs(r)
    case Or(l, r)            => refs(l) ++ refs(r)
    case Not(x)              => refs(x)
    case Neg(x)              => refs(x)
  }

  /** The names the expression reads as STRING attributes: refs compared
    * against a string literal and refs inside `in` sets — the only
    * positions the string tier admits. NOTE: the Spark-side projection
    * is NOT driven by this — it is type-driven from the input schema
    * (`SparkCep.attrProj`); this walker feeds the BUILD-TIME typing
    * audit (`SparkCep.checkStrTyping`), which rejects a query whose
    * condition reads a non-string input column (or a LET register) in
    * a string position, instead of failing per event at runtime.
    */
  def strRefs(e: Expr): Set[String] = e match {
    case Cmp(_, Ref(n), StrLit(_)) => Set(n)
    case Cmp(_, StrLit(_), Ref(n)) => Set(n)
    case InSet(Ref(n), _)          => Set(n)
    case Like(Ref(n), _, _)        => Set(n)
    case Like(x, _, _)             => strRefs(x)
    case Arith(_, l, r)            => strRefs(l) ++ strRefs(r)
    case Cmp(_, l, r)              => strRefs(l) ++ strRefs(r)
    case And(l, r)                 => strRefs(l) ++ strRefs(r)
    case Or(l, r)                  => strRefs(l) ++ strRefs(r)
    case Not(x)                    => strRefs(x)
    case Neg(x)                    => strRefs(x)
    case InSet(x, _)               => strRefs(x)
    case _                         => Set.empty
  }

  /** Parse the Python-expression subset. */
  def parse(s: String): Expr = new ExprParser(s).parseAll()
}

/** Recursive-descent parser for the condition grammar. Precedence (loosest to
  * tightest), as in Python: or < and < not < comparison < add/sub < mul/mod <
  * unary minus.
  */
private[cep] final class ExprParser(input: String) {
  private var pos = 0

  def parseAll(): Expr = {
    val e = orExpr()
    skipWs()
    if (pos != input.length)
      fail(s"unexpected trailing input at $pos: '${input.substring(pos)}'")
    e
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"bad expression '$input': $msg")

  private def skipWs(): Unit =
    while (pos < input.length && input.charAt(pos).isWhitespace) pos += 1

  private def peek: Char = if (pos < input.length) input.charAt(pos) else '\u0000'

  private def eat(s: String): Boolean = {
    skipWs()
    if (input.startsWith(s, pos)) { pos += s.length; true } else false
  }

  /** Match a keyword (must not be followed by an identifier char). */
  private def eatKw(kw: String): Boolean = {
    skipWs()
    if (input.startsWith(kw, pos)) {
      val end = pos + kw.length
      val boundary = end >= input.length || !isIdentChar(input.charAt(end))
      if (boundary) { pos = end; true } else false
    } else false
  }

  private def isIdentStart(c: Char) = c.isLetter || c == '_'
  private def isIdentChar(c: Char) = c.isLetterOrDigit || c == '_'

  private def orExpr(): Expr = {
    var e = andExpr()
    while (eatKw("or")) e = Expr.Or(e, andExpr())
    e
  }

  private def andExpr(): Expr = {
    var e = notExpr()
    while (eatKw("and")) e = Expr.And(e, notExpr())
    e
  }

  private def notExpr(): Expr =
    if (eatKw("not")) Expr.Not(notExpr()) else comparison()

  private def comparison(): Expr = {
    val l = addExpr()
    skipWs()
    val op =
      if (eat("==")) "==" else if (eat("!=")) "!="
      else if (eat("<=")) "<=" else if (eat(">=")) ">="
      else if (eat("<")) "<" else if (eat(">")) ">"
      else null
    if (op != null) Expr.Cmp(op, l, addExpr())
    else if (eatKw("in")) Expr.InSet(l, inList())
    else if (eatKw("like")) likeTail(l)
    else {
      // Python's `not in` / `not like` (the only infix `not`s)
      val save = pos
      if (eatKw("not")) {
        if (eatKw("in")) Expr.Not(Expr.InSet(l, inList()))
        else if (eatKw("like")) Expr.Not(likeTail(l))
        else { pos = save; l }
      } else l
    }
  }

  /** `'<pattern>' [escape '<c>']` after a `like` keyword. The regex is
    * compiled here once to surface a bad pattern (trailing or misplaced
    * escape character, SQL:2016 rule) as a parse error at the statement
    * rather than at first evaluation.
    */
  private def likeTail(l: Expr): Expr.Like = {
    val p = likePattern("'like' takes a string-literal pattern")
    val esc =
      if (eatKw("escape")) {
        val e = likePattern("'escape' takes a single-character " +
          "string literal")
        if (e.codePointCount(0, e.length) != 1)
          fail(s"'escape' takes exactly one character, got '$e'")
        Some(e)
      } else None
    try Expr.likeRegex(p, esc)
    catch { case ex: IllegalArgumentException => fail(ex.getMessage) }
    Expr.Like(l, p, esc)
  }

  /** The string-literal operand of a `like` / `escape`. */
  private def likePattern(what: String): String = {
    skipWs()
    atom() match {
      case Expr.StrLit(s) => s
      case other => fail(s"$what, got $other")
    }
  }

  /** `( 'a' , 'b' , … )` — the literal set of an `in` membership. */
  private def inList(): Vector[String] = {
    if (!eat("(")) fail(s"expected '(' after 'in' at $pos")
    val vs = Vector.newBuilder[String]
    var go = true
    while (go) {
      skipWs()
      atom() match {
        case Expr.StrLit(s) => vs += s
        case other => fail(s"'in' takes string literals, got $other")
      }
      if (!eat(",")) go = false
    }
    if (!eat(")")) fail(s"expected ')' closing 'in' list at $pos")
    vs.result()
  }

  private def addExpr(): Expr = {
    var e = mulExpr()
    var go = true
    while (go) {
      skipWs()
      if (eat("+")) e = Expr.Arith("+", e, mulExpr())
      else if (peek == '-' && !input.startsWith("->", pos)) { pos += 1; e = Expr.Arith("-", e, mulExpr()) }
      else go = false
    }
    e
  }

  private def mulExpr(): Expr = {
    var e = unary()
    var go = true
    while (go) {
      skipWs()
      if (eat("//")) e = Expr.Arith("//", e, unary())
      else if (eat("*")) e = Expr.Arith("*", e, unary())
      else if (eat("%")) e = Expr.Arith("%", e, unary())
      else go = false
    }
    e
  }

  private def unary(): Expr = {
    skipWs()
    if (eat("-")) Expr.Neg(unary()) else atom()
  }

  private def atom(): Expr = {
    skipWs()
    if (peek == '\'') {
      // string literal: single-quoted, no escapes (a quote cannot
      // appear inside — beyond-reference string tier, equality/IN only)
      pos += 1
      val start = pos
      while (pos < input.length && input.charAt(pos) != '\'') pos += 1
      if (pos >= input.length) fail("unterminated string literal")
      val s = input.substring(start, pos)
      pos += 1
      Expr.StrLit(s)
    } else if (eat("(")) {
      val e = orExpr()
      if (!eat(")")) fail(s"expected ')' at $pos")
      e
    } else if (peek.isDigit) {
      val start = pos
      while (pos < input.length && input.charAt(pos).isDigit) pos += 1
      Expr.Lit(input.substring(start, pos).toLong)
    } else if (isIdentStart(peek)) {
      val start = pos
      while (pos < input.length && isIdentChar(input.charAt(pos))) pos += 1
      input.substring(start, pos) match {
        case "True"  => Expr.BoolLit(true)
        case "False" => Expr.BoolLit(false)
        case name    => Expr.Ref(name)
      }
    } else fail(s"unexpected char '${peek}' at $pos")
  }
}
