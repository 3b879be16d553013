package graft.cep

import org.scalatest.funsuite.AnyFunSuite

/** Condition-language differential: 5,000 generated expressions evaluated
  * by Python's `eval` (the reference's path, `DST.py:84-89`, builtins
  * disabled — see `tools/gen_expr_differential.py`, which also validates
  * its own renderer against CPython). The engine's parser + evaluator
  * ([[CompiledExpr]]) must agree on value, truthiness (`value != 0`), and
  * error-ness for every case — including floor-division/modulo sign
  * corners, operand-returning `and`/`or`, bool/int coercions, and
  * NameError/ZeroDivision raising. Both compiled forms are checked: the
  * generic form (`layout = null`, every ref resolved by name) and the
  * form bound to the event's own attr layout.
  */
class ExprDifferentialSpec extends AnyFunSuite {

  /** The verdict of the case over an event carrying `env` as its integer
    * attrs (sorted by name) and `strenv` as its string attrs, compiled in
    * the generic form or, when `bound`, to that attr order:
    * Some((value, truthiness)), or None when parsing, compiling or
    * evaluating raises.
    */
  private def verdict(c: ExprCorpus.Case,
      bound: Boolean): Option[(Long, Boolean)] =
    try {
      val names = c.env.keys.toVector.sorted
      val ev = Event("T", names.map(k => k -> c.env(k)), c.strenv.toVector)
      val ce = CompiledExpr.compile(Expr.parse(c.expr),
        if (bound) names else null)
      val v = CompiledExpr.eval(ce, ev, Map.empty)
      Some((v, v != 0L))
    } catch {
      case _: Exception => None
    }

  private def matchCorpus(cases: Iterator[ExprCorpus.Case]): Int = {
    var n = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    cases.foreach { c =>
      n += 1
      for (bound <- Seq(false, true)) {
        val got = verdict(c, bound)
        if (got != c.expected && failures.length < 5)
          failures += s"case ${c.id} (bound=$bound): '${c.expr}' " +
            s"env=${c.env} strenv=${c.strenv} want=${c.expected} got=$got"
      }
    }
    assert(failures.isEmpty,
      s"${failures.length}+ of $n diverged:\n${failures.mkString("\n")}")
    n
  }

  test("all expression cases match Python eval semantics, both evaluators") {
    val n = matchCorpus(ExprCorpus.numeric())
    info(s"$n expression cases matched, generic and bound forms")
  }

  /** STRING-TIER corpus (round 17 — `tools/gen_str_expr_differential
    * .py`): string ordering/equality/membership atoms mixed into the
    * numeric grammar, Python-eval oracle (Python compares str by CODE
    * POINT — exactly `Expr.strCompare`, including the corpus's astral
    * and multi-byte cases). Both compiled forms must agree with it; the
    * bound form reads the numeric attrs by slot.
    */
  test("all STRING-tier cases match Python eval semantics — boxed, " +
    "fast, and compiled evaluators") {
    val n = matchCorpus(ExprCorpus.strings())
    info(s"$n string-tier cases matched, generic and bound forms")
  }
}
