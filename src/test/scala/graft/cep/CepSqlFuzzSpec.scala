package graft.cep

import org.scalatest.funsuite.AnyFunSuite

/** Parser robustness: `CepSql.parseStatement` on adversarial input must
  * either parse or throw `IllegalArgumentException` with a message — no
  * NPEs, no StackOverflow, no StringIndexOutOfBounds, no hangs. Two
  * generators: (1) pure garbage (random bytes over the token alphabet),
  * (2) mutations of VALID statements (drop/duplicate/swap a token),
  * which land much closer to the error paths users actually hit.
  *
  * Plus a statement-level render round-trip property: random measures ×
  * spec sections × output mode × the full random query AST generator —
  * `parseStatement(render(st)) == st` (the query-level property in
  * `CepSqlSpec` covers the AST; this covers the statement envelope).
  */
class CepSqlFuzzSpec extends AnyFunSuite {

  private val schema: Vector[(String, Vector[String])] = Vector(
    "A" -> Vector("id", "v", "w"), "B" -> Vector("id", "v", "w"),
    "C" -> Vector("id", "v", "w"))

  private def mustNotCrash(sql: String): Unit =
    try { CepSql.parseStatement(sql, schema); () }
    catch {
      case e: IllegalArgumentException =>
        assert(e.getMessage != null && e.getMessage.nonEmpty,
          s"empty error message for input: $sql")
      case e: Throwable =>
        fail(s"non-IAE ${e.getClass.getName}: ${e.getMessage}\n" +
          s"  for input: $sql")
    }

  test("pure-garbage fuzz: 2000 random strings parse or fail loudly") {
    val rnd = new scala.util.Random(20260815L)
    val alphabet =
      "PATTERN DEFINE MEASURES WITHIN AFTER MATCH SKIP ALL ONE ROWS " +
        "ROW PER BY ORDER TYPE AS GROUP UNTIL LET THEN WHERE FINAL " +
        "RUNNING PREV NEXT PERMUTE UNMATCHED WITH " +
        "DISTINCT INTERVAL MINUTE SECOND HOUR DAY " +
        "abc v {}()->~>!?*+,.;:0123456789-{- -}^$' \n\t"
    for (_ <- 0 until 2000) {
      val n = 1 + rnd.nextInt(80)
      val s = new StringBuilder
      for (_ <- 0 until n) s += alphabet(rnd.nextInt(alphabet.length))
      mustNotCrash(s.toString)
    }
  }

  test("mutation fuzz: 2000 single-token mutations of valid statements") {
    val rnd = new scala.util.Random(20260816L)
    val valid = Vector(
      "PATTERN (a -> b{1,2}~! ~> c) MEASURES COUNT(b) AS n, " +
        "FINAL SUM(b.v) AS s ALL ROWS PER MATCH PARTITION BY k " +
        "ORDER BY id TYPE t DEFINE a AS A; b AS B WHERE v > 2; c AS C " +
        "WITHIN 9 AFTER MATCH SKIP TO NEXT",
      "PATTERN ((a b){1,}:g) DEFINE a AS A; b AS B; " +
        "g AS GROUP UNTIL v > 5",
      "PATTERN (a ->!fby(x) b) MEASURES AVG(b.w) AS aw " +
        "DEFINE a AS A LET R = 0 THEN R + v; x AS B; b AS C " +
        "WITHIN 100 ON w AFTER MATCH SKIP PAST LAST EVENT",
      "PATTERN (x y) MEASURES FIRST(x) AS i PARTITION BY k ORDER BY " +
        "id TYPE t DEFINE x AS A; y AS A WHERE v > PREV(v, 2) and " +
        "v > NEXT(w) or PREV(v) == 0",
      "PATTERN (a -> PERMUTE(b, c{1,2})) MEASURES CLASSIFIER() AS w, " +
        "MATCH_NUMBER() AS mn DEFINE a AS A; b AS B; c AS C WITHIN 9",
      "PATTERN (a {- b -} c) MEASURES COUNT(b) AS n " +
        "ALL ROWS PER MATCH WITH UNMATCHED ROWS PARTITION BY k " +
        "ORDER BY id TYPE t DEFINE a AS A; b AS B; c AS C",
      "PATTERN (a -> b) MEASURES LAST(b.v) - FIRST(a.v, 1) AS spread, " +
        "10 * (COUNT(a) + COUNT(b)) AS n10 " +
        "DEFINE a AS A; b AS B WHERE v > 1",
      "PATTERN (^ a -> b{1,2} $) MEASURES FIRST(a) AS i " +
        "DEFINE a AS A; b AS B WHERE v > 1",
      "PATTERN (a -> b{1,3}) MEASURES SUM(b.v) / COUNT(b) AS rate " +
        "DEFINE a AS A WHERE SUM(a.v) < 100; b AS B",
      "PATTERN (a b{2}) MEASURES FIRST(a) AS i SUBSET u = (a, b) " +
        "DEFINE a AS A; b AS B WHERE SUM(u.v) <= 50",
      "PATTERN (x -> PERMUTE(a, (b c))) MEASURES COUNT(a) AS n " +
        "DEFINE x AS A; a AS B; b AS C; c AS A",
      "PATTERN (a -> b{1,2}) MEASURES SUM(b.v * b.v) AS energy, " +
        "AVG(2 * b.w + 1) AS sc, PREV(LAST(b.v)) AS pl, " +
        "NEXT(FIRST(b.v * 3), 2) AS nf " +
        "DEFINE a AS A; b AS B WHERE v >= FIRST(b.v)",
      "PATTERN (a*? -> b{1,3}?~ c??) DEFINE a AS A " +
        "WHERE v > LAST(a.v) - 5; b AS B; c AS C",
      "PATTERN (a -> b{1,3}) MEASURES COUNT(DISTINCT b.v) AS dv, " +
        "SUM(DISTINCT b.v * b.w) AS ds, COUNT(b.w) AS nw " +
        "DEFINE a AS A; b AS B",
      "PATTERN (a{,3} -> b) DEFINE a AS A; b AS B " +
        "WITHIN INTERVAL '5' MINUTE ON w",
      "PATTERN (b{0,3}) MEASURES COUNT(*) AS n, COUNT(b.*) AS nb " +
        "ALL ROWS PER MATCH SHOW EMPTY MATCHES PARTITION BY k, k2 " +
        "ORDER BY id TYPE t DEFINE b AS B AFTER MATCH SKIP PAST " +
        "LAST ROW",
      "PATTERN (a b{0,2}) MEASURES COUNT(*) AS n " +
        "ONE ROW PER MATCH OMIT EMPTY MATCHES " +
        "DEFINE a AS A; b AS B AFTER MATCH SKIP TO a")
    for (_ <- 0 until 2000) {
      val base = valid(rnd.nextInt(valid.length)).split(' ').toBuffer
      rnd.nextInt(4) match {
        case 0 => base.remove(rnd.nextInt(base.length))
        case 1 =>
          val t = base(rnd.nextInt(base.length))
          base.insert(rnd.nextInt(base.length + 1), t)
        case 2 =>
          val i = rnd.nextInt(base.length)
          val j = rnd.nextInt(base.length)
          val t = base(i); base(i) = base(j); base(j) = t
        case 3 =>
          val i = rnd.nextInt(base.length)
          base(i) = base(i).drop(1 + rnd.nextInt(2))
      }
      mustNotCrash(base.mkString(" "))
    }
  }

  test("property: parseStatement(render(st)) == st over random " +
    "statement envelopes (200 trials)") {
    val rnd = new scala.util.Random(20260817L)
    val fns = CepMeasures.Fn.all
    for (trial <- 0 until 200) {
      // a small random query with known binding names
      val names = Vector("a", "b", "c").take(1 + rnd.nextInt(3))
      val units: Vector[Pattern] = names.map { n =>
        rnd.nextInt(3) match {
          case 0 => Pattern.spat(n, "A", "True")
          case 1 => Pattern.lpat(n, "B", "v > 1",
            Contiguity.Relaxed, 1, 1 + rnd.nextInt(3))
          case 2 => Pattern.lpat(n, "C", "True",
            Contiguity.Strict, if (rnd.nextBoolean()) 0 else 1, 2)
        }
      }
      val pat = units.reduceLeft[Pattern]((l, r) =>
        Pattern.Combine(Contiguity.Relaxed, l, r))
      val query = CepQuery(pat, schema,
        if (rnd.nextBoolean()) AfterMatchStrategy.NoSkip
        else AfterMatchStrategy.SkipToNext,
        if (rnd.nextBoolean()) Some(1 + rnd.nextInt(50)) else None,
        None,
        anchorStart = rnd.nextInt(4) == 0,
        anchorEnd = rnd.nextInt(4) == 0)
      // an alias-less atom for expression trees (alias "" by the Atom
      // convention), or an aliased plain measure
      def rndMeasure(alias: String, allowNullary: Boolean)
          : CepMeasures.Measure = {
        val nm = names(rnd.nextInt(names.length))
        val fn = fns(rnd.nextInt(fns.length))
        if (CepMeasures.Fn.isNullary(fn))
          if (allowNullary)
            CepMeasures.Measure(fn,
              // a CLASSIFIER sometimes carries a TARGET (SQL:2016
              // CLASSIFIER(U)) — round-trips through the general regex
              if (fn == CepMeasures.Fn.Classifier && rnd.nextBoolean())
                names(rnd.nextInt(names.length))
              else "",
              None, alias, alias.nonEmpty && rnd.nextBoolean())
          else // arithmetic: MATCH_NUMBER only (CLASSIFIER is a string)
            CepMeasures.Measure(CepMeasures.Fn.MatchNo, "", None, alias)
        else {
          // FIRST/LAST may carry a logical offset (SQL:2016 second arg)
          val off = fn match {
            case CepMeasures.Fn.First | CepMeasures.Fn.Last =>
              rnd.nextInt(3)
            case _ => 0
          }
          // 1-in-4 aggregate-ARGUMENT expression (`SUM(a.v * a.w)`);
          // compound by construction — a bare ref is the plain form
          val m =
            if (fn != CepMeasures.Fn.Count && rnd.nextInt(4) == 0)
              CepMeasures.Measure(fn, nm, None, alias,
                alias.nonEmpty && rnd.nextBoolean(), offset = off,
                argExpr = Some(rndArg()))
            else {
              val attr = fn match {
                // attributed COUNT (non-NULL count) 1-in-3
                case CepMeasures.Fn.Count =>
                  if (rnd.nextInt(3) == 0) Some("v") else None
                case CepMeasures.Fn.Sum | CepMeasures.Fn.Min |
                     CepMeasures.Fn.Max | CepMeasures.Fn.Avg => Some("v")
                case _ => if (rnd.nextBoolean()) Some("w") else None
              }
              // DISTINCT: COUNT/SUM with a value side only
              val dist = attr.isDefined &&
                (fn == CepMeasures.Fn.Count || fn == CepMeasures.Fn.Sum) &&
                rnd.nextInt(3) == 0
              CepMeasures.Measure(fn, nm, attr, alias,
                alias.nonEmpty && rnd.nextBoolean(), offset = off,
                distinct = dist)
            }
          // 1-in-4 nested physical navigation around an attribute-tier
          // FIRST/LAST (PREV/NEXT of the resolved target's row)
          if ((m.fn == CepMeasures.Fn.First ||
              m.fn == CepMeasures.Fn.Last) &&
              (m.attr.isDefined || m.argExpr.isDefined) &&
              rnd.nextInt(4) == 0)
            m.copy(phys = Some(CepMeasures.PhysNav(rnd.nextBoolean(),
              1 + rnd.nextInt(3))))
          else m
        }
      }
      // aggregate-argument tree: refs over the shared attrs v/w plus
      // literals; rndArg forces an operator top with a ref on the left
      // so the tree is compound and references ≥1 attribute
      def rndAExpr(depth: Int): CepMeasures.Arith[String] =
        if (depth == 0) {
          if (rnd.nextInt(3) == 0)
            CepMeasures.Arith.Lit(rnd.nextInt(50).toLong)
          else CepMeasures.Arith.Leaf(if (rnd.nextBoolean()) "v" else "w")
        } else rnd.nextInt(4) match {
          case 0 => CepMeasures.Arith.Add(rndAExpr(depth - 1),
            rndAExpr(rnd.nextInt(depth)))
          case 1 => CepMeasures.Arith.Sub(rndAExpr(depth - 1),
            rndAExpr(rnd.nextInt(depth)))
          case 2 => CepMeasures.Arith.Mul(rndAExpr(depth - 1),
            rndAExpr(rnd.nextInt(depth)))
          case 3 => CepMeasures.Arith.Div(rndAExpr(depth - 1),
            rndAExpr(rnd.nextInt(depth)))
        }
      def rndArg(): CepMeasures.Arith[String] = {
        val l = CepMeasures.Arith.Leaf(if (rnd.nextBoolean()) "v" else "w")
        val r = rndAExpr(rnd.nextInt(2))
        rnd.nextInt(4) match {
          case 0 => CepMeasures.Arith.Add(l, r)
          case 1 => CepMeasures.Arith.Sub(l, r)
          case 2 => CepMeasures.Arith.Mul(l, r)
          case 3 => CepMeasures.Arith.Div(l, r)
        }
      }
      // random expression tree; any shape round-trips (the renderer
      // parenthesizes exactly where the left-assoc parser needs it)
      def rndExpr(depth: Int): CepMeasures.Arith[CepMeasures.Measure] =
        if (depth == 0) {
          if (rnd.nextInt(4) == 0)
            CepMeasures.Arith.Lit(rnd.nextInt(100).toLong)
          else CepMeasures.Arith.Leaf(rndMeasure("", allowNullary = false))
        } else rnd.nextInt(4) match {
          case 0 => CepMeasures.Arith.Add(rndExpr(depth - 1),
            rndExpr(rnd.nextInt(depth)))
          case 1 => CepMeasures.Arith.Sub(rndExpr(depth - 1),
            rndExpr(rnd.nextInt(depth)))
          case 2 => CepMeasures.Arith.Mul(rndExpr(depth - 1),
            rndExpr(rnd.nextInt(depth)))
          case 3 => CepMeasures.Arith.Div(rndExpr(depth - 1),
            rndExpr(rnd.nextInt(depth)))
        }
      val measures: Vector[CepMeasures.MeasureItem] =
        (0 until rnd.nextInt(4)).toVector.map { i =>
          if (rnd.nextInt(3) == 0) {
            // top is an operator with an atom forced on the left, so the
            // tree never collapses to a bare (plain-measure) atom and
            // always references ≥1 atom
            val l = CepMeasures.Arith.Leaf(
              rndMeasure("", allowNullary = false))
            val r = rndExpr(rnd.nextInt(3))
            val top = rnd.nextInt(4) match {
              case 0 => CepMeasures.Arith.Add(l, r)
              case 1 => CepMeasures.Arith.Sub(l, r)
              case 2 => CepMeasures.Arith.Mul(l, r)
              case 3 => CepMeasures.Arith.Div(l, r)
            }
            CepMeasures.ExprMeasure(top, s"m$i", rnd.nextBoolean())
          } else rndMeasure(s"m$i", allowNullary = true)
        }
      val multiKey = rnd.nextInt(4) == 0
      val st = CepSql.CepSqlStatement(query, measures,
        partitionBy =
          if (!multiKey && rnd.nextBoolean()) Some("k") else None,
        partitionByCols =
          if (multiKey) Vector("k", "k2") else Vector.empty,
        orderBy = if (rnd.nextBoolean()) Some("id") else None,
        typeCol = if (rnd.nextBoolean()) Some("t") else None,
        rowsPerMatch = rnd.nextInt(5) match {
          case 0 => CepSql.RowsPerMatch.OneRow
          case 1 => CepSql.RowsPerMatch.AllRows
          case 2 => CepSql.RowsPerMatch.AllRowsShowEmpty
          case 3 => CepSql.RowsPerMatch.AllRowsUnmatched
          case 4 => CepSql.RowsPerMatch.OneRowShowEmpty
        })
      val again = CepSql.parseStatement(CepSql.render(st), schema)
      assert(again == st, s"trial $trial:\n${CepSql.render(st)}")
    }
  }
}
