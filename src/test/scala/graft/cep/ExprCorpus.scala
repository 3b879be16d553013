package graft.cep

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The CPython-eval corpora of the condition language, the reference for
  * [[CompiledExpr]]: `cases.jsonl.gz` (5,000 numeric cases,
  * `tools/gen_expr_differential.py`) and `str_cases.jsonl.gz` (the
  * string tier, `tools/gen_str_expr_differential.py`). `expected` is
  * Some((value, truthiness)) for a case Python evaluates, None for one
  * it raises on.
  */
object ExprCorpus {
  final case class Case(id: Int, expr: String, env: Map[String, Long],
      strenv: Map[String, String], expected: Option[(Long, Boolean)])

  def numeric(): Iterator[Case] = load("cases.jsonl.gz",
    "expr corpus missing — run tools/gen_expr_differential.py")

  def strings(): Iterator[Case] = load("str_cases.jsonl.gz",
    "string corpus missing — run tools/gen_str_expr_differential.py")

  private def load(name: String, missing: String): Iterator[Case] = {
    val in = getClass.getResourceAsStream(s"/exprdiff/$name")
    require(in != null, missing)
    val gz = new java.util.zip.GZIPInputStream(in)
    scala.io.Source.fromInputStream(gz, "UTF-8").getLines().map { line =>
      val j = JsonMethods.parse(line)
      val JInt(id) = (j \ "id"): @unchecked
      val JString(expr) = (j \ "expr"): @unchecked
      val env = (j \ "env") match {
        case JObject(fields) => fields.map {
          case (k, JInt(v)) => k -> v.toLong
          case other        => sys.error(s"bad env $other")
        }.toMap
        case _ => Map.empty[String, Long]
      }
      val strenv = (j \ "strenv") match {
        case JObject(fields) => fields.map {
          case (k, JString(v)) => k -> v
          case other           => sys.error(s"bad strenv $other")
        }.toMap
        case _ => Map.empty[String, String]
      }
      val JBool(error) = (j \ "error"): @unchecked
      val expected =
        if (error) None
        else {
          val JInt(v) = (j \ "value"): @unchecked
          val JBool(t) = (j \ "truthy"): @unchecked
          Some((v.toLong, t))
        }
      Case(id.toInt, expr, env, strenv, expected)
    }
  }
}
