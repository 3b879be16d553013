package graft.cep

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** LIKE / LIKE ESCAPE cross-engine differential (round 18): 3,000
  * generated (pattern, escape?, input) cases evaluated by DUCKDB — the
  * same engine the correctness gate replays oracles in — against
  * `Expr.Like` through [[CompiledExpr]] (`CLike`), in the generic form
  * and under an (empty) bound layout. See
  * `tools/gen_like_escape_differential.py` for the domain notes: `kind = "ok"` cases carry DuckDB's verdict and must
  * match; `"trailing"` (pattern ends with its escape char) must be
  * rejected by both engines — here at pattern-compile time;
  * `"misplaced"` (escape before an ordinary character) is the one
  * DOCUMENTED divergence — SQL:2016, Spark and this dialect reject it,
  * DuckDB leniently reads the escaped char as a literal — so those
  * cases assert only the engine-side rejection. Patterns and inputs
  * include `%`/`_`/`!`/backslash/newline, a multi-byte BMP char and an
  * astral char (the round-18 code-point run-quoting fix).
  */
class LikeEscapeDifferentialSpec extends AnyFunSuite {

  private def loadCases(): Iterator[(Int, String, Option[String], String,
      String, Option[Boolean])] = {
    val in =
      getClass.getResourceAsStream("/exprdiff/like_escape_cases.jsonl.gz")
    require(in != null,
      "corpus missing — run tools/gen_like_escape_differential.py")
    val gz = new java.util.zip.GZIPInputStream(in)
    scala.io.Source.fromInputStream(gz, "UTF-8").getLines().map { line =>
      val j = JsonMethods.parse(line)
      val JInt(id) = (j \ "id"): @unchecked
      val JString(pattern) = (j \ "pattern"): @unchecked
      val esc = (j \ "escape") match {
        case JString(e) => Some(e)
        case _          => None
      }
      val JString(input) = (j \ "input"): @unchecked
      val JString(kind) = (j \ "kind"): @unchecked
      val matches = (j \ "matches") match {
        case JBool(b) => Some(b)
        case _        => None
      }
      (id.toInt, pattern, esc, input, kind, matches)
    }
  }

  test("all LIKE/ESCAPE cases match DuckDB; invalid patterns reject") {
    var nOk = 0
    var nRej = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    loadCases().foreach { case (id, pattern, esc, input, kind, matches) =>
      def show = s"case $id: '$input' like '$pattern' escape $esc"
      if (kind == "ok") {
        nOk += 1
        val want = matches.get
        def run(layout: Vector[String]): Boolean =
          try CompiledExpr.eval(CompiledExpr.compile(
            Expr.Like(Expr.Ref("h"), pattern, esc), layout),
            Event("T", Vector.empty, Vector("h" -> input)), Map.empty) == 1L
          catch { case e: Exception => fail(s"$show threw $e") }
        val generic = run(null)
        val bound = run(Vector.empty)
        if (generic != want && failures.length < 5)
          failures += s"$show: duckdb=$want engine=$generic"
        if (bound != generic && failures.length < 5)
          failures += s"$show: generic=$generic bound=$bound"
      } else {
        // trailing AND misplaced: the SQL:2016 side rejects at
        // pattern-compile time (DuckDB also rejects trailing; its
        // lenient misplaced reading is the documented divergence)
        nRej += 1
        intercept[IllegalArgumentException](Expr.likeRegex(pattern, esc))
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(nOk > 2000 && nRej > 300, s"$nOk/$nRej")
    info(s"$nOk matched DuckDB, $nRej invalid patterns rejected")
  }
}
