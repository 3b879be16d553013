package graft.cep

import org.scalatest.funsuite.AnyFunSuite

/** STRING ORDERING + LIKE (round 17, beyond-reference extension of the
  * round-16 string tier): ordering comparisons between a string
  * attribute and a literal use code-point order (`Expr.strCompare` —
  * UTF-8 byte order, the collation Spark's UTF8String and DuckDB's
  * binary collation share), and `x like '<pattern>'` / `x not like`
  * implement SQL LIKE (`%`/`_`, no escape, anchored, DOTALL). Pinned
  * here: parser round-trips, generic == bound compiled-form parity, LIKE
  * semantics against a model, strCompare vs UTF-8 byte order, and the
  * build-time typing audit (`SparkCep.checkStrTyping`).
  */
class ExprStringOrderLikeSpec extends AnyFunSuite {

  /** The generic form (`layout = null`) over an event with `v` and `host`. */
  private def num(src: String, host: String = "a.com", v: Long = 7L): Long =
    CompiledExpr.eval(CompiledExpr.compile(Expr.parse(src), null),
      Event("T", Vector("v" -> v), Vector("host" -> host)), Map.empty)

  /** The form bound to the layout `[v]`, over the same event. */
  private def comp(src: String, host: String = "a.com", v: Long = 7L): Long = {
    val ev = Event("T", Vector("v" -> v), Vector("host" -> host))
    CompiledExpr.eval(CompiledExpr.compile(Expr.parse(src), Vector("v")),
      ev, Map.empty)
  }

  /** Whether `h like pattern [escape esc]` holds for `h = s`, in the
    * generic form.
    */
  private def like(pattern: String, esc: Option[String] = None)(
      s: String): Boolean =
    CompiledExpr.eval(CompiledExpr.compile(
      Expr.Like(Expr.Ref("h"), pattern, esc), null),
      Event("T", Vector.empty, Vector("h" -> s)), Map.empty) == 1L

  test("parser: like / not like parse, render round-trips") {
    val e = Expr.parse("host like 'a%.com'")
    assert(e == Expr.Like(Expr.Ref("host"), "a%.com"))
    val ne = Expr.parse("host not like '%.org'")
    assert(ne == Expr.Not(Expr.Like(Expr.Ref("host"), "%.org")))
    val mix = Expr.parse("host like 'h_' and v > 3 or host >= 'b'")
    for (x <- Seq(e, ne, mix))
      assert(Expr.parse(Pattern.ExprRepr(x)) == x, x)
    // like needs a string-literal pattern
    intercept[IllegalArgumentException](Expr.parse("host like 5"))
    intercept[IllegalArgumentException](Expr.parse("host like x"))
  }

  test("string ordering: all six comparators, both literal sides, " +
    "all three tiers agree") {
    for (src <- Seq(
        "host < 'b.com'", "host <= 'a.com'", "host > 'a.c'",
        "host >= 'a.com'", "'b' > host", "'a.com' <= host",
        "host < 'a.com'", "host > 'b'")) {
      val i = num(src)
      val c = comp(src)
      assert(i == c, src)
      assert(i == 0L || i == 1L, src) // a comparison folds to a bool
    }
    assert(num("host < 'b.com'") == 1L)
    assert(num("host > 'b.com'") == 0L)
    assert(num("host <= 'a.com' and host >= 'a.com'") == 1L)
    // prefix is smaller
    assert(num("host > 'a.co'") == 1L)
    assert(num("'' < host") == 1L)
  }

  test("strCompare is UTF-8 byte order (code points), not UTF-16 " +
    "code-unit order") {
    // U+FFFD (replacement char, BMP) vs U+1F600 (supplementary):
    // compareTo orders the surrogate pair FIRST (0xD83D < 0xFFFD);
    // code-point/UTF-8 order puts the supplementary char LAST
    val bmp = "\uFFFD"
    val supp = new String(Character.toChars(0x1F600))
    assert(bmp.compareTo(supp) > 0) // UTF-16 order: bmp AFTER surrogate
    assert(Expr.strCompare(bmp, supp) < 0) // code-point order: bmp first
    def utf8Cmp(a: String, b: String): Int = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      while (i < x.length && i < y.length) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return Integer.signum(d)
        i += 1
      }
      Integer.signum(x.length - y.length)
    }
    val rnd = new scala.util.Random(20260822L)
    // code-point pool (picking raw UTF-16 chars could produce lone
    // surrogates, which are not valid strings \u2014 out of contract)
    val cps = Vector("a", "b", "0", "_", " ", "\n", ".", "%",
      "\u00e9", "\u4e2d", new String(Character.toChars(0x1F600)))
    def rndStr(): String = (0 until rnd.nextInt(6)).map(_ =>
      cps(rnd.nextInt(cps.length))).mkString
    for (_ <- 0 until 2000) {
      val a = rndStr(); val b = rndStr()
      assert(Integer.signum(Expr.strCompare(a, b)) == utf8Cmp(a, b),
        s"'$a' vs '$b'")
    }
  }

  test("LIKE semantics: %/_ wildcards, anchoring, DOTALL, literal " +
    "regex metachars; model differential") {
    assert(num("host like 'a.com'") == 1L)
    assert(num("host like 'a_com'") == 1L) // _ matches the dot
    assert(num("host like 'a%'") == 1L)
    assert(num("host like '%.com'") == 1L)
    assert(num("host like '%com%'") == 1L)
    assert(num("host like 'com'") == 0L) // anchored, not contains
    assert(num("host like '_.com'") == 1L)
    assert(num("host like '__.com'") == 0L)
    assert(num("host not like '%.org'") == 1L)
    // regex metachars in the pattern are literal
    assert(num("host like 'a.c_m'", host = "a.com") == 1L)
    assert(num("host like 'a.c_m'", host = "axcom") == 0L)
    assert(num("host like '(x)%'", host = "(x)y") == 1L)
    assert(num("host like '[a]'", host = "[a]") == 1L)
    assert(num("host like '[a]'", host = "a") == 0L)
    // DOTALL: wildcards cross newlines (SQL/Spark semantics)
    assert(num("host like 'a%b'", host = "a\nb") == 1L)
    assert(num("host like 'a_b'", host = "a\nb") == 1L)
    // empty-string edges
    assert(num("host like ''", host = "") == 1L)
    assert(num("host like '%'", host = "") == 1L)
    assert(num("host like '_'", host = "") == 0L)
    // model differential: LIKE == hand-rolled greedy matcher
    def model(s: String, p: String): Boolean = {
      def go(si: Int, pi: Int): Boolean =
        if (pi == p.length) si == s.length
        else p(pi) match {
          case '%' => (si to s.length).exists(k => go(k, pi + 1))
          case '_' => si < s.length && go(si + 1, pi + 1)
          case c   => si < s.length && s(si) == c && go(si + 1, pi + 1)
        }
      go(0, 0)
    }
    val rnd = new scala.util.Random(20260823L)
    val chars = "ab%_."
    def rndS(n: Int): String = (0 until rnd.nextInt(n)).map(_ =>
      chars(rnd.nextInt(chars.length))).mkString
    for (_ <- 0 until 3000) {
      val s = rndS(7).replace("%", "x").replace("_", "y")
      val p = rndS(6)
      val got = like(p)(s)
      assert(got == model(s, p), s"'$s' like '$p'")
    }
  }

  test("like + ordering: interpreted == compiled fuzz over mixed trees") {
    val rnd = new scala.util.Random(20260824L)
    val hosts = Vector("a.com", "b.org", "h1.com", "h2", "")
    def leaf(): String = rnd.nextInt(5) match {
      case 0 => s"host like '${Vector("%.com", "h_", "a%", "%")(rnd.nextInt(4))}'"
      case 1 => s"host not like '%.org'"
      case 2 => s"host ${Vector("<", "<=", ">", ">=")(rnd.nextInt(4))} " +
        s"'${hosts(rnd.nextInt(hosts.length))}'"
      case 3 => s"'${hosts(rnd.nextInt(hosts.length))}' " +
        s"${Vector("<", ">=")(rnd.nextInt(2))} host"
      case 4 => s"v ${Vector("==", "<", ">=")(rnd.nextInt(3))} ${rnd.nextInt(9)}"
    }
    def tree(d: Int): String =
      if (d == 0) leaf()
      else rnd.nextInt(3) match {
        case 0 => s"(${tree(d - 1)}) and (${tree(d - 1)})"
        case 1 => s"(${tree(d - 1)}) or (${tree(d - 1)})"
        case 2 => s"not (${tree(d - 1)})"
      }
    for (_ <- 0 until 500) {
      val src = tree(rnd.nextInt(3))
      val e = Expr.parse(src)
      assert(Expr.parse(Pattern.ExprRepr(e)) == e, src)
      val host = hosts(rnd.nextInt(hosts.length))
      val v = rnd.nextInt(9).toLong
      assert(num(src, host, v) == comp(src, host, v), s"$src @host=$host")
    }
  }

  test("astral (supplementary) characters in LIKE patterns match the " +
    "intact code point — r18 advisor fix") {
    val emoji = new String(Character.toChars(0x1F600)) // 😀, non-BMP
    // the old per-UTF-16-char quoting split the surrogate pair into two
    // separately-quoted halves and Java regex never matched
    assert(like(emoji)(emoji))
    assert(like(s"a$emoji%")(s"a${emoji}xyz"))
    assert(!like(emoji)("a"))
    // `_` is one CODE POINT: it matches the astral char whole
    assert(like("a_b")(s"a${emoji}b"))
    // astral ESCAPE character works (compared by code point)
    assert(like(s"$emoji%x", Some(emoji))("%x"))
    // the bound form agrees
    val ev = Event("T", Vector("v" -> 1L), Vector("host" -> emoji))
    assert(CompiledExpr.eval(CompiledExpr.compile(
      Expr.parse(s"host like '$emoji'"), Vector("v")), ev, Map.empty) == 1L)
  }

  test("LIKE ESCAPE (r18): parse, render round-trip, semantics, and " +
    "the SQL:2016 invalid-pattern rejections") {
    val e = Expr.parse("host like 'h!_c%' escape '!'")
    assert(e == Expr.Like(Expr.Ref("host"), "h!_c%", Some("!")))
    assert(Expr.parse(Pattern.ExprRepr(e)) == e)
    val ne = Expr.parse("host not like '100!%' escape '!'")
    assert(ne == Expr.Not(Expr.Like(Expr.Ref("host"), "100!%", Some("!"))))
    assert(Expr.parse(Pattern.ExprRepr(ne)) == ne)

    // escaped wildcards are literal; unescaped ones still wild
    val hc = like("h!_c%", Some("!")) _
    assert(hc("h_com"))
    assert(hc("h_c"))
    assert(!hc("hXcom")) // `_` is literal under the escape
    // escape before itself is the literal escape char
    assert(like("a!!b", Some("!"))("a!b"))
    // escaped % is literal
    assert(like("100!%", Some("!"))("100%"))
    assert(!like("100!%", Some("!"))("1000"))
    // backslash with NO escape clause stays an ordinary literal
    assert(like("p\\1%")("p\\1x"))
    assert(!like("p\\1%")("p1x"))

    // Spark's rule: escape may precede only %, _ or itself; a pattern
    // must not END with the escape char — rejected AT PARSE TIME
    intercept[IllegalArgumentException](
      Expr.parse("host like 'a!bc' escape '!'"))
    intercept[IllegalArgumentException](
      Expr.parse("host like 'abc!' escape '!'"))
    // escape must be exactly one character
    intercept[IllegalArgumentException](
      Expr.parse("host like 'a%' escape '!!'"))
    intercept[IllegalArgumentException](
      Expr.parse("host like 'a%' escape ''"))

    // generic == bound form parity incl. escapes
    for ((src, host, want) <- Seq(
        ("host like 'h!_c%' escape '!'", "h_com", 1L),
        ("host like 'h!_c%' escape '!'", "hXcom", 0L),
        ("host not like '1!%' escape '!'", "1%", 0L),
        ("host like 'p\\1%'", "p\\1z", 1L))) {
      assert(num(src, host) == want, src)
      assert(comp(src, host) == want, src)
    }
    // strRefs sees through the escape form
    assert(Expr.strRefs(Expr.parse("host like 'a!%' escape '!'"))
      == Set("host"))
  }

  test("LIKE ESCAPE model differential: token-level greedy matcher " +
    "over random valid AND invalid patterns — r18") {
    // independent model: tokenize under the SQL:2016 escape rule
    // (escape before %/_/itself only; None = invalid pattern), then
    // greedy-match over the token stream — shares NOTHING with
    // likeRegex's quoted-run regex construction
    def toks(p: String, esc: Char): Option[Vector[Either[Char, Char]]] = {
      val out = Vector.newBuilder[Either[Char, Char]]
      var i = 0
      while (i < p.length) {
        val c = p(i)
        if (c == esc) {
          if (i + 1 >= p.length) return None
          val n = p(i + 1)
          if (n != '%' && n != '_' && n != esc) return None
          out += Left(n); i += 2
        } else if (c == '%' || c == '_') { out += Right(c); i += 1 }
        else { out += Left(c); i += 1 }
      }
      Some(out.result())
    }
    def model(s: String, ts: Vector[Either[Char, Char]]): Boolean = {
      def go(si: Int, pi: Int): Boolean =
        if (pi == ts.length) si == s.length
        else ts(pi) match {
          case Right('%') => (si to s.length).exists(k => go(k, pi + 1))
          case Right(_)   => si < s.length && go(si + 1, pi + 1)
          case Left(c)    => si < s.length && s(si) == c && go(si + 1, pi + 1)
        }
      go(0, 0)
    }
    val rnd = new scala.util.Random(20260830L)
    val chars = "ab%_!"
    def rndS(n: Int): String = (0 until rnd.nextInt(n)).map(_ =>
      chars(rnd.nextInt(chars.length))).mkString
    var valid = 0
    var invalid = 0
    for (_ <- 0 until 4000) {
      val s = rndS(8) // raw — inputs carry literal %/_/! to hit the
      val p = rndS(7) // escaped-wildcard-matches-literally cases
      toks(p, '!') match {
        case Some(ts) =>
          valid += 1
          val got = like(p, Some("!"))(s)
          assert(got == model(s, ts), s"'$s' like '$p' escape '!'")
        case None =>
          invalid += 1
          intercept[IllegalArgumentException](
            Expr.likeRegex(p, Some("!")))
      }
    }
    assert(valid > 500 && invalid > 500, s"$valid/$invalid")
  }

  test("strRefs covers ordering and like positions") {
    assert(Expr.strRefs(Expr.parse("host < 'b'")) == Set("host"))
    assert(Expr.strRefs(Expr.parse("'b' >= host")) == Set("host"))
    assert(Expr.strRefs(Expr.parse("host like 'a%'")) == Set("host"))
    assert(Expr.strRefs(Expr.parse("host not like 'a%'")) == Set("host"))
    assert(Expr.strRefs(Expr.parse("v < 3 and host like 'a%'"))
      == Set("host"))
    assert(Expr.strRefs(Expr.parse("v < 3")) == Set.empty)
  }
}
