package graft.cep

import org.scalatest.funsuite.AnyFunSuite

/** Binding gate for the compiled evaluator ([[CompiledExpr]]) over the
  * CPython-eval corpora (`ExprCorpus`, numeric and string tier; a string
  * case keeps its string attrs on the event). Under every binding
  * scenario of the numeric attrs the NFA can produce, the bound form
  * must give the same value and the same error key as the generic form
  * (`layout = null`) over the same inputs, and the same value,
  * truthiness and error-ness as the corpus:
  *
  *   1. registers only (ε evaluations: event = null);
  *   2. event attrs under a MATCHING bound layout (the fast path);
  *   3. event attrs under a WRONG bound layout (guard miss → generic
  *      fallback must stay exact);
  *   4. bound layout but an event that lacks the attrs (slot out of
  *      range / name mismatch → register fallback);
  *   5. env split across attrs and registers;
  *   6. a name bound in BOTH attrs and registers — attrs must shadow
  *      (the `{**env, **attrs}` merge of the reference).
  */
class CompiledExprSpec extends AnyFunSuite {

  /** Error key: exact message for the engine's own EvalException
    * (NameError wording must match); class name only for VM-thrown
    * arithmetic errors, whose message the JIT's fast-throw
    * optimization (OmitStackTraceInFastThrow) nulls out once the
    * throwing site is hot — message equality there would be flaky.
    */
  private def errKey(ex: Exception): String = ex match {
    case ee: Expr.EvalException => s"EvalException:${ee.getMessage}"
    case other                  => other.getClass.getSimpleName
  }

  /** Verdict of `e` compiled against `layout`: Right(value) or
    * Left(error key), compile errors included.
    */
  private def comp(e: Expr, layout: Vector[String], ev: Event,
      eta: Map[String, Long]): Either[String, Long] =
    try Right(CompiledExpr.eval(CompiledExpr.compile(e, layout), ev, eta))
    catch { case ex: Exception => Left(errKey(ex)) }

  /** Runs the six scenarios over `cases` of `corpus`; returns (cases,
    * checks).
    */
  private def scenarios(corpus: String,
      cases: Iterator[ExprCorpus.Case]): (Int, Long) = {
    var n = 0
    var checked = 0L
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def fail1(msg: String): Unit =
      if (failures.length < 5) failures += s"$corpus $msg"
    cases.foreach { c =>
      n += 1
      val parsed =
        try Some(Expr.parse(c.expr)) catch { case _: Exception => None }
      if (parsed.isEmpty && c.expected.nonEmpty)
        fail1(s"case ${c.id}: '${c.expr}' does not parse, want ${c.expected}")
      parsed.foreach { e =>
        // the bound form against the generic form over the same inputs,
        // and both against the corpus
        def check(tag: String, layout: Vector[String], ev: Event,
            eta: Map[String, Long]): Unit = {
          checked += 1
          val generic = comp(e, null, ev, eta)
          val got = comp(e, layout, ev, eta)
          val corpus = generic.toOption.map(v => (v, v != 0L))
          if (got != generic)
            fail1(s"case ${c.id} [$tag]: generic=$generic bound=$got")
          if (corpus != c.expected)
            fail1(s"case ${c.id} [$tag]: corpus=${c.expected} got=$generic")
        }
        val names = c.env.keys.toVector.sorted
        val strs = c.strenv.toVector
        // 1. registers only, no layout (ε path; strings need an event)
        check("eta-only", null, if (strs.isEmpty) null
          else Event("t", Vector.empty, strs), c.env)
        // 2. attrs under a matching layout
        val ev = Event("t", names.map(k => k -> c.env(k)), strs)
        check("attrs-matched", names, ev, Map.empty)
        // 3. attrs under a WRONG layout (reversed + a bogus head slot)
        check("attrs-wrong-layout", "__bogus__" +: names.reverse, ev,
          Map.empty)
        // 4. layout bound but the event has no attrs — register fallback
        check("guard-miss-to-eta", names, Event("t", Vector.empty, strs),
          c.env)
        // 5. env split across attrs and registers
        val (aPart, ePart) = names.splitAt(names.length / 2)
        check("split", aPart, Event("t", aPart.map(k => k -> c.env(k)), strs),
          ePart.map(k => k -> c.env(k)).toMap)
        // 6. shadowing: every name also in eta with a different value;
        // attrs must win in both forms
        check("shadow", names, ev,
          c.env.map { case (k, v) => k -> (v + 1000L) })
      }
    }
    assert(failures.isEmpty, s"diverged:\n${failures.mkString("\n")}")
    (n, checked)
  }

  test("compiled == interpreted over the corpus, all binding scenarios") {
    val (n, checked) = scenarios("numeric", ExprCorpus.numeric())
    val (ns, checkedS) = scenarios("string-tier", ExprCorpus.strings())
    info(s"$n numeric + $ns string-tier corpus cases x 6 scenarios = " +
      s"${checked + checkedS} checks, all equal")
  }

  test("bound predicates keep exact semantics on layout-mismatched events") {
    // a compiled DST evaluated against events whose layout differs from
    // the declared schema (attrs permuted + an extra attr) must match
    // the generic-form run (Pred falls back through the slot guard)
    val schema = Vector("purchase" -> Vector("event_id", "value"))
    val q = CepQuery(
      Pattern.lpat("a", "purchase", "value < 40", Contiguity.Relaxed, 2, 2),
      schema)
    val events = (0 until 200).map { i =>
      // permuted layout with a leading extra attr: slot guesses all miss
      Event("purchase", Vector("extra" -> -1L, "value" -> (i * 37 % 100).toLong,
        "event_id" -> i.toLong))
    }
    val got = CepOperator.run(q, events)
    // reference run: rebuild the DST and bind every transition to the
    // generic form
    val dst = DstCompiler.compile(q)
    dst.delta.foreach { t =>
      t.p.bind(null)
      if (!t.alpha.isId) t.alpha.bind(null)
    }
    val ex = new Executor(dst, q.strategy)
    ex.reset()
    val want = events.flatMap(ex.feed)
    assert(got == want.toVector)
    assert(got.nonEmpty)
  }
}
