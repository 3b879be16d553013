package graft.cep

import org.scalatest.funsuite.AnyFunSuite

/** Every MATCH_RECOGNIZE MEASURES item form, pinned end to end: the
  * rendered text of the parsed statement, the value the item folds to
  * over one fixed hand-built match, and the error each malformed form
  * raises. The statement and the match are the same for every row, so a
  * row reads as "this item text renders as this and is worth this".
  */
class CepMeasureFormsSpec extends AnyFunSuite {

  private val schema: Vector[(String, Vector[String])] = Vector(
    "S" -> Vector("id", "v", "w"),
    "C" -> Vector("id", "v", "w"),
    "P" -> Vector("id", "v", "w"))

  private def statement(item: String): String =
    s"PATTERN (a -> b -> c{1,3} -> p) MEASURES $item " +
      "SUBSET u = (a, c) DEFINE a AS S; b AS S; c AS C; p AS P"

  /** The match: a=[1], b=[2], c=[3,4,5], p=[6] by order id `id`. The `a`
    * event carries the navigation columns the batch operator would
    * materialize for PREV(_, 2), PREV(_, 1) and NEXT(_, 1) over `v`.
    */
  private val byName: Map[String, Vector[Event]] = Map(
    "a" -> Vector(Event("S", Vector("id" -> 1L, "v" -> 5L, "w" -> 2L,
      "__nav_has_p2_v" -> 1L, "__nav_p2_v" -> 11L,
      "__nav_has_p1_v" -> 1L, "__nav_p1_v" -> 13L,
      "__nav_has_n1_v" -> 1L, "__nav_n1_v" -> -7L))),
    "b" -> Vector(Event("S", Vector("id" -> 2L, "v" -> -7L, "w" -> 3L))),
    "c" -> Vector(
      Event("C", Vector("id" -> 3L, "v" -> 4L, "w" -> 1L)),
      Event("C", Vector("id" -> 4L, "v" -> 4L, "w" -> 0L)),
      Event("C", Vector("id" -> 5L, "v" -> 9L, "w" -> 6L))),
    "p" -> Vector(Event("P", Vector("id" -> 6L, "v" -> 10L, "w" -> 7L))))

  /** (item as written, its MEASURES text after render, its value). */
  private val valid: Seq[(String, String, Any)] = Seq(
    ("COUNT(*) AS x", "COUNT(a) + COUNT(b) + COUNT(c) + COUNT(p) AS x", 6L),
    ("COUNT(c.*) AS x", "COUNT(c) AS x", 3L),
    ("COUNT(a) AS x", "COUNT(a) AS x", 1L),
    ("COUNT(u) AS x", "COUNT(u) AS x", 4L),
    ("COUNT(c.v) AS x", "COUNT(c.v) AS x", 3L),
    ("COUNT(DISTINCT c.v) AS x", "COUNT(DISTINCT c.v) AS x", 2L),
    ("SUM(DISTINCT c.v) AS x", "SUM(DISTINCT c.v) AS x", 13L),
    ("SUM(u.v) AS x", "SUM(u.v) AS x", 22L),
    ("FIRST(a.v) AS x", "FIRST(a.v) AS x", 5L),
    ("FIRST(a) AS x", "FIRST(a) AS x", 1L),
    ("LAST(u) AS x", "LAST(u) AS x", 5L),
    ("LAST(c.v, 1) AS x", "LAST(c.v, 1) AS x", 4L),
    ("FIRST(a.v, 2) AS x", "FIRST(a.v, 2) AS x", null),
    ("AVG(u.v) AS x", "AVG(u.v) AS x", 5L),
    ("AVG(b.v) AS x", "AVG(b.v) AS x", -7L),
    ("MIN(c.v) AS x", "MIN(c.v) AS x", 4L),
    ("MAX(c.v) AS x", "MAX(c.v) AS x", 9L),
    ("CLASSIFIER() AS x", "CLASSIFIER() AS x", "p"),
    ("CLASSIFIER(u) AS x", "CLASSIFIER(u) AS x", "c"),
    ("MATCH_NUMBER() AS x", "MATCH_NUMBER() AS x", 3L),
    ("PREV(FIRST(a.v), 2) AS x", "PREV(FIRST(a.v), 2) AS x", 11L),
    ("NEXT(LAST(a.v)) AS x", "NEXT(LAST(a.v)) AS x", -7L),
    ("PREV(a.v) AS x", "PREV(LAST(a.v)) AS x", 13L),
    ("SUM(c.v * 2 + c.w) AS x", "SUM(c.v * 2 + c.w) AS x", 41L),
    ("SUM(c.v - (c.w - 1)) AS x", "SUM(c.v - (c.w - 1)) AS x", 13L),
    ("SUM((c.v + 1) * 2) AS x", "SUM((c.v + 1) * 2) AS x", 40L),
    ("SUM(c.v / 2) AS x", "SUM(c.v / 2) AS x", 8L),
    ("SUM(c.v / (c.w - 1)) AS x", "SUM(c.v / (c.w - 1)) AS x", -3L),
    ("MAX(c.v - c.w * 2) AS x", "MAX(c.v - c.w * 2) AS x", 4L),
    ("FIRST(c.v * 2, 1) AS x", "FIRST(c.v * 2, 1) AS x", 8L),
    ("SUM(DISTINCT c.v * 10) AS x", "SUM(DISTINCT c.v * 10) AS x", 130L),
    ("SUM(3 * c.v) AS x", "SUM(3 * c.v) AS x", 51L),
    ("SUM((c.v)) AS x", "SUM(c.v) AS x", 17L),
    ("(FIRST(a.v)) AS x", "FIRST(a.v) AS x", 5L),
    ("LAST(c.v) - FIRST(a.v) AS x", "LAST(c.v) - FIRST(a.v) AS x", 4L),
    ("100 * COUNT(c) + COUNT(p) AS x", "100 * COUNT(c) + COUNT(p) AS x",
      301L),
    ("SUM(c.v) / COUNT(a) AS x", "SUM(c.v) / COUNT(a) AS x", 17L),
    ("FIRST(b.v) / 2 AS x", "FIRST(b.v) / 2 AS x", -3L),
    ("SUM(c.v) / (COUNT(a) - 1) AS x", "SUM(c.v) / (COUNT(a) - 1) AS x",
      null),
    ("(LAST(c.v) - FIRST(a.v)) * 2 AS x",
      "(LAST(c.v) - FIRST(a.v)) * 2 AS x", 8L),
    ("1 - (2 - COUNT(c)) AS x", "1 - (2 - COUNT(c)) AS x", 2L),
    ("MATCH_NUMBER() * 10 + 1 AS x", "MATCH_NUMBER() * 10 + 1 AS x", 31L),
    ("FIRST(a.v, 2) + 1 AS x", "FIRST(a.v, 2) + 1 AS x", null),
    ("RUNNING LAST(c.v) AS x", "LAST(c.v) AS x", 9L),
    ("FINAL COUNT(c) AS x", "FINAL COUNT(c) AS x", 3L),
    ("FINAL LAST(c.v) - FIRST(c.v) AS x",
      "FINAL LAST(c.v) - FIRST(c.v) AS x", 5L),
    ("FINAL CLASSIFIER() AS x", "FINAL CLASSIFIER() AS x", "p"),
    ("FIRST ( c . v , 2 ) AS x", "FIRST(c.v, 2) AS x", 9L),
    ("SUM ( c . v * 2 ) AS x", "SUM(c.v * 2) AS x", 34L),
    ("PREV ( FIRST ( a . v ) , 2 ) AS x", "PREV(FIRST(a.v), 2) AS x", 11L))

  /** (item as written, a fragment of the error it raises). */
  private val invalid: Seq[(String, String)] = Seq(
    ("SUM(a.v * b.v) AS x", "exactly one pattern"),
    ("SUM(v * 2) AS x", "must be qualified"),
    ("SUM(1 + 2) AS x", "exactly one pattern"),
    ("FIRST(a.v, 3000000000) AS x", "out of range"),
    ("MATCH_NUMBER(x) AS y", "expected ')' at offset 13"),
    ("CLASSIFIER() + 1 AS x", "STRING-typed"),
    ("CLASSIFIER(u.v) AS x", "bare variable or SUBSET name"),
    ("PREV(NEXT(LAST(a.v))) AS x", "do not nest in each other"),
    ("COUNT(a)", "no 'AS alias' suffix"),
    ("SUM(a) AS x", "needs an attribute"),
    ("MIN(DISTINCT c.v) AS x", "DISTINCT applies to COUNT/SUM only"),
    ("COUNT(DISTINCT c) AS x", "positional DISTINCT is the plain form"),
    ("COUNT(a.nope) AS x", "no attribute 'nope'"),
    ("SUM(c.v * 2, 1) AS x", "only FIRST/LAST take an offset"),
    ("FIRST(q.v) AS x", "'q' has no DEFINE or SUBSET"),
    ("LAST(c.v) - AS x", "expected an identifier"),
    ("FIRST(a.v) 7 AS x", "trailing input"),
    ("NOPE(a.v) AS x", "unknown function 'NOPE'"))

  test("every valid MEASURES item form renders and evaluates as pinned") {
    valid.foreach { case (item, rendered, value) =>
      val st = CepSql.parseStatement(statement(item), schema)
      val measLine = CepSql.render(st).linesIterator
        .find(_.startsWith("MEASURES ")).getOrElse(fail(s"no MEASURES in " +
          CepSql.render(st)))
      assert(measLine == s"MEASURES $rendered", item)
      assert(CepSql.parseStatement(CepSql.render(st), schema) == st,
        s"parse∘render of $item")
      val got = CepMeasures.evalItemBoxed(st.measures.head, byName, "id",
        st.subsets.toMap, matchNo = Some(3L))
      val want = value match {
        case v: Long => Long.box(v)
        case other   => other
      }
      assert(got == want, s"$item: $got != $want")
    }
  }

  test("every malformed MEASURES item form fails with its message") {
    invalid.foreach { case (item, frag) =>
      val e = intercept[IllegalArgumentException] {
        CepSql.parseStatement(statement(item), schema)
      }
      assert(e.getMessage.contains(frag),
        s"$item: '${e.getMessage}' !~ '$frag'")
    }
  }
}
