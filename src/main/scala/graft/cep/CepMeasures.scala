package graft.cep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import SparkCep.CepSpec

/** MATCH_RECOGNIZE `MEASURES` for the CEP SQL surface (`CepSql`): ONE
  * FLAT ROW PER MATCH of scalar aggregates (`ONE ROW PER MATCH`), or ONE
  * ROW PER BOUND EVENT with running measures (`ALL ROWS PER MATCH`).
  *
  * One evaluator for batch and stream. The executor emits each match as
  * a map from pattern name to its bound events, and every measure folds
  * over that map in O(match) pure Scala ([[evalItemBoxed]]): the bound
  * events still carry all their attributes, so no measure needs a join
  * back to the event table. The streaming operators fold at emission;
  * the batch operator (`CepMatchExec`'s `Measures` emission) renders a
  * key's matches once their place in the key's match order, empty-match
  * sites and unmatched rows is fixed ([[KeyMatches]]).
  *
  * Empty bindings (a `{0,n}` loop that took zero events) yield COUNT 0
  * and NULL for every other measure, mirroring SQL
  * aggregate-over-empty.
  */
object CepMeasures {

  sealed trait Fn extends Serializable { def sqlName: String }
  object Fn {
    case object Count extends Fn { val sqlName = "COUNT" }
    case object First extends Fn { val sqlName = "FIRST" }
    case object Last extends Fn { val sqlName = "LAST" }
    case object Sum extends Fn { val sqlName = "SUM" }
    case object Min extends Fn { val sqlName = "MIN" }
    case object Max extends Fn { val sqlName = "MAX" }
    case object Avg extends Fn { val sqlName = "AVG" }
    /** SQL:2016 `CLASSIFIER([U])` — nullary, or with an optional bare
      * variable/SUBSET TARGET (`Measure.name`; empty = nullary): the
      * pick below restricted to the last row mapped to (a member of)
      * the target, NULL when none is. In
      * `ONE ROW PER MATCH` it is the pattern name of the match's LAST
      * bound event (the standard's final-classifier reading) — with an
      * alternation this is the "which branch matched" projection. In
      * `ALL ROWS PER MATCH` it is the current row's classifier
      * (RUNNING, the column the mode already emits) or the last row's
      * under `FINAL`. STRING-typed ([[evalClassifier]]).
      */
    case object Classifier extends Fn { val sqlName = "CLASSIFIER" }
    /** SQL:2016 `MATCH_NUMBER()` — NULLARY. The deterministic per-key
      * match sequence number in temporal (order-found) order: the
      * key's matches sorted by earliest bound ordinal, binding arrays
      * as tiebreaker — the same sequence `ALL ROWS PER MATCH` emits as
      * `match_no` (see [[KeyMatches]]). Batch-only: an unbounded stream
      * cannot close a key's total match order (same reason ALL ROWS is
      * batch-only).
      */
    case object MatchNo extends Fn { val sqlName = "MATCH_NUMBER" }
    val all: Vector[Fn] =
      Vector(Count, First, Last, Sum, Min, Max, Avg, Classifier, MatchNo)
    /** The nullary, match-level functions (no `name` target). */
    def isNullary(fn: Fn): Boolean = fn == Classifier || fn == MatchNo
    def fromName(s: String): Fn = all.find(_.sqlName == s).getOrElse(
      throw new IllegalArgumentException(
        s"MEASURES: unknown function '$s' (expected one of " +
          all.map(_.sqlName).mkString(", ") + ")"))
  }

  /** One MEASURES item: a plain [[Measure]] atom (`SUM(a.v) AS x`) or an
    * [[ExprMeasure]] value expression combining atoms with integer
    * arithmetic (`LAST(a.v) - FIRST(a.v) AS spread` — SQL:2016's
    * <measure expression>, integer fragment).
    */
  sealed trait MeasureItem extends Serializable {
    def alias: String
    def isFinal: Boolean
  }
  object MeasureItem {
    /** Every atom the item evaluates — itself for a plain measure. */
    def atomsOf(i: MeasureItem): Vector[Measure] = i match {
      case m: Measure     => Vector(m)
      case e: ExprMeasure => Arith.leaves(e.expr)
    }
  }

  /** One measure: `fn(name)` (positional — `attr` empty) or
    * `fn(name.attr)` (attribute). `COUNT` is positional-only;
    * `SUM`/`MIN`/`MAX`/`AVG` need an attribute; `FIRST`/`LAST` allow
    * both (`FIRST(a)` = order id of the first bound event, `FIRST(a.v)`
    * = attribute `v` of that event). `AVG` is exact integer mean:
    * FLOORED quotient of sum by count (DuckDB's `//`), computed without
    * a double detour.
    *
    * `offset` is SQL:2016's optional second argument to FIRST/LAST:
    * `FIRST(a.v, k)` reads the (k+1)-th bound event from the start,
    * `LAST(a.v, k)` the (k+1)-th from the end — NULL when the binding
    * is shorter (aggregate-over-missing). Supported by every output
    * mode; under `ALL ROWS PER MATCH` RUNNING reads the bound events up
    * to the current row, FINAL the whole match.
    *
    * `isFinal` is the SQL:2016 `FINAL` modifier and only matters in
    * `ALL ROWS PER MATCH`: a FINAL measure shows the aggregate over the
    * WHOLE match on every row, where the default (`RUNNING`) shows the
    * aggregate up to the current row. In `ONE ROW PER MATCH` every
    * measure is final by definition and the modifier is a no-op.
    */
  /** SQL:2016 nested PHYSICAL navigation around a FIRST/LAST measure —
    * `PREV(LAST(a.v), k)` / `NEXT(FIRST(a.v), k)`: once the logical
    * target event is resolved (the first/last bound event, offsets
    * included), read the attribute from the row `steps` PHYSICAL rows
    * before/after it in the key's partition input order — any event
    * type, bound or not, exactly the DEFINE-side `PREV(attr, k)`
    * convention ([[Nav]]). Past a partition edge the value is NULL
    * (SQL's navigation-out-of-frame). `steps >= 1`; `PREV(x)` is
    * `steps = 1`, the standard's default.
    */
  final case class PhysNav(isNext: Boolean, steps: Int) {
    require(steps >= 1, s"physical navigation needs steps >= 1 ($steps)")
    /** Signed shift: negative = PREV (lag), positive = NEXT (lead). */
    def signed: Int = if (isNext) steps else -steps
  }

  final case class Measure(fn: Fn, name: String, attr: Option[String],
      alias: String, isFinal: Boolean = false, offset: Int = 0,
      argExpr: Option[Arith[String]] = None, phys: Option[PhysNav] = None,
      distinct: Boolean = false)
      extends MeasureItem {
    if (distinct) {
      require(fn == Fn.Count || fn == Fn.Sum,
        s"MEASURES: DISTINCT applies to COUNT/SUM only (${fn.sqlName} — " +
          "MIN/MAX are distinct-invariant, AVG(DISTINCT) has no " +
          "exact-integer-mean reading worth the trap)")
      require(attr.isDefined || argExpr.isDefined,
        s"MEASURES: ${fn.sqlName}(DISTINCT $name) needs an attribute or " +
          "argument expression — order ids are unique, so positional " +
          "DISTINCT is the plain form")
      require(phys.isEmpty,
        "MEASURES: DISTINCT and PREV/NEXT physical navigation do not " +
          "compose (navigation is FIRST/LAST-only)")
    }
    phys.foreach { _ =>
      require(fn == Fn.First || fn == Fn.Last,
        s"MEASURES: PREV/NEXT nest around FIRST/LAST only " +
          s"(${fn.sqlName})")
      require(attr.isDefined || argExpr.isDefined,
        s"MEASURES: PREV/NEXT(${fn.sqlName}($name)) — physical " +
          "navigation reads an attribute of the navigated row; the " +
          "positional form has no navigable value")
    }
    argExpr.foreach { ae =>
      require(attr.isEmpty,
        s"MEASURES: ${fn.sqlName}($name) — an attribute target and an " +
          "argument expression are mutually exclusive")
      require(!Fn.isNullary(fn),
        s"MEASURES: ${fn.sqlName} takes no argument expression " +
          "(FIRST/LAST/COUNT/SUM/MIN/MAX/AVG only)")
      require(Arith.leaves(ae).nonEmpty,
        s"MEASURES: ${fn.sqlName}($name) argument expression references " +
          "no attribute — a constant aggregate argument is positional " +
          s"(${fn.sqlName}($name)) or a literal in the outer expression")
      require(!ae.isInstanceOf[Arith.Leaf[_]],
        s"MEASURES: a bare attribute ref is the plain " +
          s"${fn.sqlName}($name.attr) form, not an argument expression " +
          "(canonical representation — parse∘render identity)")
    }
    fn match {
      // COUNT(name) = bound-event count (positional); COUNT(name.attr)
      // = SQL's non-NULL count over the attribute/argument (attribute
      // tier), with or without DISTINCT
      case Fn.Count => ()
      case Fn.Sum | Fn.Min | Fn.Max | Fn.Avg =>
        require(attr.isDefined || argExpr.isDefined,
          s"MEASURES: ${fn.sqlName}($name) needs an attribute " +
            s"(${fn.sqlName}($name.attr)) or an argument expression")
      // SQL:2016 CLASSIFIER([U]): optional bare variable/SUBSET target
      // — the name of the LAST row mapped to (a member of) U; nullary
      // form = over every variable. Never an attribute.
      case Fn.Classifier =>
        require(attr.isEmpty && argExpr.isEmpty,
          s"MEASURES: CLASSIFIER takes a bare variable or SUBSET " +
            "name (or none) — no attribute or expression")
      case Fn.MatchNo =>
        require(name.isEmpty && attr.isEmpty && argExpr.isEmpty,
          s"MEASURES: ${fn.sqlName}() is nullary — no pattern name or " +
            "attribute")
      case _ => ()
    }
    if (!Fn.isNullary(fn)) require(name.nonEmpty,
      s"MEASURES: ${fn.sqlName} needs a pattern (or SUBSET) name")
    require(offset >= 0, s"MEASURES: negative offset $offset")
    if (offset != 0) require(fn == Fn.First || fn == Fn.Last,
      s"MEASURES: only FIRST/LAST take an offset (${fn.sqlName})")
  }

  /** Whether the measure reads event attributes (an `attr` target or an
    * argument expression) — the ATTRIBUTE tier — as opposed to the
    * POSITIONAL tier, which reads bound order ids only.
    */
  private[cep] def isAttrTier(m: Measure): Boolean =
    m.attr.isDefined || m.argExpr.isDefined

  /** The STRING-typed attributes of the events table under `spec`
    * (round 16, type-driven — the input column's Spark type decides,
    * mirroring `SparkCep.attrProj`).
    */
  private[cep] def strAttrsOf(events: DataFrame, spec: CepSpec)
      : Set[String] =
    spec.attrCols.filter(a =>
      events.columns.contains(a) &&
        events.schema(a).dataType == StringType).toSet

  /** The string tier's measure envelope: a string attribute is readable
    * by plain `FIRST`/`LAST` (the value — STRING-typed output) and
    * `COUNT` (non-null count, with or without DISTINCT) measures only.
    * Arithmetic of any kind — SUM/MIN/MAX/AVG, aggregate-argument
    * expressions, measure expressions — stays Long-only by design and
    * rejects loudly.
    */
  private[cep] def requireStrMeasuresSupported(measures: Vector[MeasureItem],
      strAttrs: Set[String]): Unit =
    if (strAttrs.nonEmpty) measures.foreach { item =>
      val strAtoms = MeasureItem.atomsOf(item)
        .filter(m => attrsOf(m).exists(strAttrs.contains))
      strAtoms.foreach { m =>
        require(m.argExpr.isEmpty,
          s"MEASURES: '${item.alias}' — argument expressions are long " +
            "arithmetic; string attributes are FIRST/LAST/COUNT-only")
        require(m.fn == Fn.First || m.fn == Fn.Last || m.fn == Fn.Count,
          s"MEASURES: ${m.fn.sqlName}(${m.name}.${m.attr.getOrElse("")}) " +
            "— a string attribute supports FIRST/LAST (the value) and " +
            "COUNT (non-null count) only; no arithmetic aggregates")
      }
      if (strAtoms.nonEmpty) require(item.isInstanceOf[Measure],
        s"MEASURES: expression '${item.alias}' reads a string " +
          "attribute — measure expressions are long arithmetic; use a " +
          "plain FIRST/LAST/COUNT measure")
    }

  /** Every event attribute the measure reads at its bound events. */
  private[cep] def attrsOf(m: Measure): Vector[String] =
    m.attr.map(Vector(_)).getOrElse(m.argExpr.fold(Vector.empty[String])(
      Arith.leaves))

  /** The navigations a measure set's `PREV/NEXT(FIRST/LAST(..))` atoms
    * read: one [[Nav]] per (attribute, signed steps), materialized on
    * every event by the DEFINE-side machinery
    * (`SparkCep.prepareWithFilter`) so [[evalMeasure]] reads the
    * shifted value off the target event.
    */
  private[cep] def navsOf(items: Seq[MeasureItem]): Seq[Nav] =
    items.flatMap(MeasureItem.atomsOf).flatMap(m => m.phys.toSeq.flatMap(
      pn => attrsOf(m).map(a => Nav(!pn.isNext, a, pn.steps)))).distinct

  /** Nullary measure constructors. */
  def classifier(alias: String, isFinal: Boolean = false): Measure =
    Measure(Fn.Classifier, "", None, alias, isFinal)
  def matchNumber(alias: String): Measure =
    Measure(Fn.MatchNo, "", None, alias)

  /** Integer arithmetic over leaves of type `L` — SQL:2016's <value
    * expression>, integer fragment: `+ - * /` over leaves and
    * non-negative integer literals. One tree serves both places the
    * MEASURES grammar admits arithmetic:
    *
    *  - a measure ARGUMENT (`Measure.argExpr`, `Arith[String]`):
    *    `SUM(a.price * a.qty)`, leaves are attribute names of the one
    *    pattern (or SUBSET) variable the owning [[Measure]] names (the
    *    standard requires all refs inside one aggregate to share a
    *    variable, and the parser rejects mixed names), folded PER BOUND
    *    EVENT before the aggregate: a NULL attribute poisons that
    *    event's value, so SUM/MIN/MAX/AVG skip it (SQL
    *    aggregate-over-expression) while FIRST/LAST read their target
    *    event's possibly-NULL value as-is;
    *  - a measure EXPRESSION (`ExprMeasure.expr`, `Arith[Measure]`):
    *    `LAST(a.v) - FIRST(a.v)`, `100 * COUNT(c) + COUNT(p)`, leaves
    *    are measure atoms folded over the whole match; a NULL atom
    *    (measure-over-missing) poisons the whole expression, exactly SQL.
    *
    * `/` is DuckDB `//` exactly: truncation toward zero (`7 / -2 = -3`,
    * unlike Python's floored `//`), NULL on a zero divisor, long-exact
    * (JVM `/`). AVG keeps its separate FLOORED exact-mean convention.
    *
    * OVERFLOW: `+ - *` are non-ANSI 64-bit and silently WRAP. DuckDB —
    * the oracle the correctness gate replays — ERRORS on BIGINT overflow
    * instead, so a magnitude outside long range surfaces as an oracle
    * failure, not a silent mismatch; keep measured products inside long
    * range.
    */
  sealed trait Arith[+L] extends Serializable
  object Arith {
    final case class Leaf[+L](l: L) extends Arith[L]
    final case class Lit(v: Long) extends Arith[Nothing]
    final case class Add[+L](l: Arith[L], r: Arith[L]) extends Arith[L]
    final case class Sub[+L](l: Arith[L], r: Arith[L]) extends Arith[L]
    final case class Mul[+L](l: Arith[L], r: Arith[L]) extends Arith[L]
    final case class Div[+L](l: Arith[L], r: Arith[L]) extends Arith[L]

    /** The distinct leaves, in first-occurrence order. */
    def leaves[L](e: Arith[L]): Vector[L] = {
      def walk(e: Arith[L]): Vector[L] = e match {
        case Leaf(l)   => Vector(l)
        case Lit(_)    => Vector.empty
        case Add(l, r) => walk(l) ++ walk(r)
        case Sub(l, r) => walk(l) ++ walk(r)
        case Mul(l, r) => walk(l) ++ walk(r)
        case Div(l, r) => walk(l) ++ walk(r)
      }
      walk(e).distinct
    }

    /** The long value, `leaf` resolving each leaf (None = NULL, which
      * poisons the result); a zero divisor yields None.
      */
    def eval[L](e: Arith[L], leaf: L => Option[Long]): Option[Long] = {
      def go(e: Arith[L]): Option[Long] = e match {
        case Leaf(l)   => leaf(l)
        case Lit(v)    => Some(v)
        case Add(l, r) => for (a <- go(l); b <- go(r)) yield a + b
        case Sub(l, r) => for (a <- go(l); b <- go(r)) yield a - b
        case Mul(l, r) => for (a <- go(l); b <- go(r)) yield a * b
        case Div(l, r) => for (a <- go(l); b <- go(r) if b != 0L) yield a / b
      }
      go(e)
    }

    /** The text form, `leaf` printing each leaf: `+ -` bind at level 1,
      * `* /` at 2, leaves and literals at 3. The parser is
      * left-associative, so a LEFT child at its parent's level needs no
      * parentheses but a RIGHT one does (it could not have been parsed
      * unparenthesized) — parse∘render is the identity.
      */
    def render[L](e: Arith[L], leaf: L => String): String = {
      def lvl(e: Arith[L]): Int = e match {
        case _: Add[_] | _: Sub[_] => 1
        case _: Mul[_] | _: Div[_] => 2
        case _                     => 3
      }
      def go(e: Arith[L]): String = {
        def sub(c: Arith[L], minLvl: Int): String =
          if (lvl(c) < minLvl) s"(${go(c)})" else go(c)
        e match {
          case Leaf(l)   => leaf(l)
          case Lit(v)    => v.toString
          case Add(l, r) => s"${sub(l, 1)} + ${sub(r, 2)}"
          case Sub(l, r) => s"${sub(l, 1)} - ${sub(r, 2)}"
          case Mul(l, r) => s"${sub(l, 2)} * ${sub(r, 3)}"
          case Div(l, r) => s"${sub(l, 2)} / ${sub(r, 3)}"
        }
      }
      go(e)
    }
  }

  /** A compound measure: `expr AS alias` where `expr` combines ≥1 atom
    * with long arithmetic ([[Arith]]). Evaluates by folding each atom
    * exactly as a plain [[Measure]] would over the same match and
    * combining the results ([[evalItem]]). An atom carries no alias (the
    * item names the output column) and no FINAL flag (the item's
    * RUNNING/FINAL applies to every atom). `CLASSIFIER()` is STRING-typed
    * and cannot enter arithmetic; `MATCH_NUMBER()` can (it is a long).
    */
  final case class ExprMeasure(expr: Arith[Measure], alias: String,
      isFinal: Boolean = false) extends MeasureItem {
    require(Arith.leaves(expr).nonEmpty,
      s"MEASURES: expression '$alias' references no measure atom — a " +
        "constant column is a SELECT concern, not a measure")
    Arith.leaves(expr).foreach { m =>
      require(m.alias.isEmpty,
        "measure-expression atoms carry no alias (the item names the " +
          "output column)")
      require(!m.isFinal,
        "measure-expression atoms carry no FINAL flag (the item's " +
          "RUNNING/FINAL applies to every atom)")
      require(m.fn != Fn.Classifier,
        "MEASURES: CLASSIFIER() is STRING-typed — not usable in " +
          "measure arithmetic")
    }
  }

  /** Shared validation for both output modes. `reserved` = output-shape
    * column names the mode itself emits. `subsets` = SQL:2016 SUBSET
    * union variables (subset name → member pattern names). Expression
    * items validate every atom like a plain measure; alias rules apply
    * at the item level.
    */
  private[cep] def validate(query: CepQuery, spec: CepSpec,
      measures: Vector[MeasureItem], reserved: Set[String],
      subsets: Map[String, Vector[String]] = Map.empty): Vector[String] = {
    val names = SparkCep.patternNames(query.patseq)
    subsets.foreach { case (u, ms) =>
      require(!names.contains(u),
        s"SUBSET: '$u' collides with a pattern name")
      require(!u.startsWith("__"),
        s"SUBSET: '$u' uses the reserved '__' prefix")
      require(ms.nonEmpty, s"SUBSET: '$u' has no members")
      require(ms.distinct == ms, s"SUBSET: '$u' repeats a member")
      ms.foreach(n => require(names.contains(n),
        s"SUBSET: '$u' member '$n' is not a pattern name " +
          s"(have ${names.mkString(", ")})"))
    }
    measures.foreach { item =>
      MeasureItem.atomsOf(item).foreach { m =>
        // a targeted CLASSIFIER(U) names like any other measure
        if (!Fn.isNullary(m.fn) ||
            (m.fn == Fn.Classifier && m.name.nonEmpty))
          require(names.contains(m.name) || subsets.contains(m.name),
            s"MEASURES: '${m.name}' is not a pattern or SUBSET name " +
              s"(have ${(names ++ subsets.keys).mkString(", ")})")
        attrsOf(m).foreach(a => require(
          a == spec.orderCol || spec.attrCols.contains(a),
          s"MEASURES: attribute '$a' is not in the CEP spec " +
            s"(order '${spec.orderCol}', attrs " +
            s"${spec.attrCols.mkString(", ")})"))
      }
      // an alias that shadows a frame column (a pattern name, the key,
      // an internal __ name, or a mode output column) would survive to a
      // deep ambiguous-reference AnalysisException — reject loudly here
      require(!names.contains(item.alias),
        s"MEASURES: alias '${item.alias}' collides with a pattern name")
      require(!subsets.contains(item.alias),
        s"MEASURES: alias '${item.alias}' collides with a SUBSET name")
      spec.keyCol.foreach(k => require(item.alias != k,
        s"MEASURES: alias '${item.alias}' collides with the key column"))
      require(!item.alias.startsWith("__"),
        s"MEASURES: alias '${item.alias}' uses the reserved '__' prefix")
      require(!reserved.contains(item.alias),
        s"MEASURES: alias '${item.alias}' collides with an output column " +
          s"of this mode (${reserved.toVector.sorted.mkString(", ")})")
    }
    measures.groupBy(_.alias).foreach { case (a, ms) =>
      require(ms.length == 1, s"MEASURES: duplicate alias '$a'") }
    names
  }

  /** The SHOW EMPTY MATCHES support envelope: every after-match
    * strategy has a site rule ([[siteSpan]]), and so does the `^` START
    * anchor (every match must start at the partition's first event, so
    * that event is the ONLY attempt site — a key contributes one empty
    * match iff it reports no match at all). The `$` END anchor stays
    * rejected: a zero-width match "ending at the partition's last
    * event" has no defined position (the standard's anchors mark row
    * boundaries; an empty match under `$` would sit after the last
    * row, which is not an input row to emit).
    */
  private def requireShowEmptySupported(query: CepQuery): Unit = {
    require(!query.anchorEnd,
      "SHOW EMPTY MATCHES with the '$' partition-end anchor is not " +
        "supported — a zero-width match ending at the partition edge " +
        "has no input row to emit ('^' is supported: the key's first " +
        "event is the only attempt site)")
  }

  /** `SHOW EMPTY MATCHES` site rule: the input rows a reported match
    * COVERS, `[start, end]` by ordinal, per the after-match discipline.
    * Every row of the key is an attempt site, and an empty match occurs
    * at each site no reported match covers:
    *
    *  - `NoSkip` / `SkipToNext`: attempts start at EVERY event, so a
    *    match covers only its own start, `[start, start]`;
    *  - `SkipPastLastEvent`: attempts resume after the match's last
    *    bound event, `[start, last bound]` (under relaxed contiguity,
    *    ignored mid-span rows never receive an attempt — covered);
    *  - `SkipToFirst(a)` / `SkipToLast(a)`: attempts resume AT the
    *    anchor event (the first/last event bound to `a`), so the
    *    prune-adjusted span is `[start, max(start, anchor - 1)]` — the
    *    anchor itself gets a fresh attempt and can host an empty match.
    *    A match where `a` never binds prunes nothing (the NoSkip
    *    fallback): `[start, start]`.
    *
    * The `^` anchor is no span: its key's first event is the only site,
    * covered by any match. None for a match binding nothing. Shared by
    * the batch renderer ([[KeyMatches]]) and the streaming site tracker
    * (`StreamingCep.EmptySiteTracker`).
    */
  private[cep] def siteSpan(byName: Map[String, Vector[Event]],
      orderName: String, strategy: AfterMatchStrategy)
      : Option[(Long, Long)] = {
    val ords = byName.valuesIterator.flatten.map(_(orderName)).toVector
    if (ords.isEmpty) None
    else {
      val start = ords.min
      def anchorEnd(a: String, first: Boolean): Long = {
        val bound = byName.getOrElse(a, Vector.empty).map(_(orderName))
        if (bound.isEmpty) start
        else math.max(start, (if (first) bound.min else bound.max) - 1)
      }
      Some(start -> (strategy match {
        case AfterMatchStrategy.SkipPastLastEvent => ords.max
        case AfterMatchStrategy.SkipToFirst(a) => anchorEnd(a, first = true)
        case AfterMatchStrategy.SkipToLast(a) => anchorEnd(a, first = false)
        case _ => start // NoSkip / SkipToNext: non-starts host empties
      }))
    }
  }

  /** The bound events of `name` — a pattern name, or a SUBSET's union
    * binding in stream order (each member's vector already is).
    */
  private def bindingOf(name: String, byName: Map[String, Vector[Event]],
      orderName: String, subsets: Map[String, Vector[String]])
      : Vector[Event] =
    subsets.get(name) match {
      case None => byName.getOrElse(name, Vector.empty)
      case Some(members) =>
        members.flatMap(n => byName.getOrElse(n, Vector.empty))
          .sortBy(_(orderName))
    }

  /** The target event of FIRST/LAST in `binding`: `FIRST(_, k)` reads
    * index k, `LAST(_, k)` index len-1-k; None out of range
    * (measure-over-missing).
    */
  private def pick(m: Measure, binding: collection.IndexedSeq[Event])
      : Option[Event] =
    if (m.fn == Fn.First) binding.lift(m.offset)
    else binding.lift(binding.length - 1 - m.offset)

  /** The navigation a `PREV/NEXT(FIRST/LAST(..))` measure reads for
    * attribute `a` at event `ev`. Only the batch operator materializes
    * navigation attributes ([[navsOf]]); a streamed event carries none
    * and is refused.
    */
  private def navigation(pn: PhysNav, a: String, ev: Event): Nav = {
    val nav = Nav(!pn.isNext, a, pn.steps)
    require(ev.get(nav.hasName).isDefined,
      "PREV/NEXT physical navigation has no emission-time fold — the " +
        "navigated row may be an unbound neighbor the match never " +
        "carried (batch-only; the streaming operator rejects it at " +
        "construction)")
    nav
  }

  /** An attribute-tier measure's long value at one bound event: the
    * attribute (of the row `steps` rows away under PREV/NEXT), or the
    * argument expression folded over the event's attributes
    * ([[Arith.eval]] — None poisons the event).
    */
  private def valueOf(m: Measure)(ev: Event): Option[Long] = {
    def ref(a: String): Option[Long] = m.phys match {
      case None     => ev.get(a)
      case Some(pn) => ev.get(navigation(pn, a, ev).valueName)
    }
    (m.attr, m.argExpr) match {
      case (Some(a), _)    => ref(a)
      case (None, Some(e)) => Arith.eval(e, ref)
      case (None, None)    => throw new IllegalStateException(
        "positional measure reached the attribute fold") // unreachable
    }
  }

  /** FIRST/LAST's value at its target event: the order id (positional
    * tier) or the attribute value.
    */
  private def targetValue(m: Measure, orderName: String)(ev: Event)
      : Option[Long] =
    if (isAttrTier(m)) valueOf(m)(ev) else Some(ev(orderName))

  /** A string attribute's value at one bound event (of the row `steps`
    * rows away under PREV/NEXT).
    */
  private def strOf(m: Measure, a: String)(ev: Event): Option[String] =
    m.phys match {
      case None     => ev.getStr(a)
      case Some(pn) => ev.getStr(navigation(pn, a, ev).valueName)
    }

  /** COUNT/SUM/MIN/MAX/AVG over a binding's non-NULL values, fed one
    * value at a time: the one-shot fold of [[evalMeasure]] and the
    * running fold of ALL ROWS ([[KeyMatches]]) alike.
    */
  private final class Agg {
    private var n = 0L
    private var sum = 0L
    private var min = Long.MaxValue
    private var max = Long.MinValue
    def add(v: Long): Unit = {
      n += 1; sum += v
      if (v < min) min = v
      if (v > max) max = v
    }
    /** COUNT is 0 over nothing, every other function NULL; AVG is the
      * floored integer quotient.
      */
    def result(fn: Fn): Option[Long] =
      if (fn == Fn.Count) Some(n)
      else if (n == 0) None
      else fn match {
        case Fn.Sum => Some(sum)
        case Fn.Min => Some(min)
        case Fn.Max => Some(max)
        case Fn.Avg => Some(Math.floorDiv(sum, n))
        case _ => throw new IllegalStateException("unreachable")
      }
  }

  /** Evaluation of one measure over a completed match: the match carries
    * its bound events with ALL their attributes, so every measure folds
    * in O(match) pure Scala. Aggregates skip events missing the
    * attribute, FIRST/LAST take the first/last bound event's value (NULL
    * if that event lacks it), AVG is the floored integer quotient, and
    * every measure over an empty binding is NULL except COUNT = 0.
    *
    * `matchNo` is the match's `MATCH_NUMBER()`, known only to the batch
    * renderer. A `PREV/NEXT(FIRST/LAST(..))` measure reads the target
    * event's navigation attributes ([[navigation]]).
    */
  def evalMeasure(m: Measure, byName: Map[String, Vector[Event]],
      orderName: String,
      subsets: Map[String, Vector[String]] = Map.empty,
      matchNo: Option[Long] = None): Option[Long] = {
    if (m.fn == Fn.MatchNo && matchNo.isDefined) return matchNo
    require(!Fn.isNullary(m.fn),
      s"${m.fn.sqlName}() has no emission-time fold (batch-only; the " +
        "streaming operator rejects it at construction)")
    val binding = bindingOf(m.name, byName, orderName, subsets)
    m.fn match {
      case Fn.First | Fn.Last =>
        pick(m, binding).flatMap(targetValue(m, orderName))
      case Fn.Count if !isAttrTier(m) => Some(binding.length.toLong)
      case _ =>
        // attributed COUNT is SQL's non-NULL count; DISTINCT (COUNT/SUM
        // only, ctor-checked) collapses duplicate per-event values
        // BEFORE the fold
        val vals = binding.flatMap(valueOf(m))
        val agg = new Agg
        (if (m.distinct) vals.distinct else vals).foreach(agg.add)
        agg.result(m.fn)
    }
  }

  /** `CLASSIFIER()` — the pattern name of the match's LAST bound event
    * (the standard's final-classifier reading: the name whose binding
    * ends at the greatest order id; order ids are unique within a
    * match, so there is no tie), restricted to `members` when targeted.
    * None for a match binding nothing (an empty match).
    */
  def evalClassifier(byName: Map[String, Vector[Event]],
      orderName: String,
      members: Option[Vector[String]] = None): Option[String] = {
    val within = members.map(_.toSet)
    val cands = byName.iterator.collect {
      case (n, evs) if evs.nonEmpty && within.forall(_.contains(n)) =>
        n -> evs.last(orderName)
    }.toVector
    if (cands.isEmpty) None else Some(cands.maxBy(_._2)._1)
  }

  /** The Spark-SQL type of one measure item's output column:
    * `CLASSIFIER()` is STRING, as is a `FIRST`/`LAST` over a
    * string-typed attribute (`strAttrs` — round 16); everything else
    * long. (A classifier inside arithmetic is rejected at [[ExprMeasure]]
    * construction, so a classifier atom is always a plain [[Measure]];
    * string atoms in arithmetic are rejected by
    * `requireStrMeasuresSupported` / `validateStreamingMeasures`.)
    */
  def itemDataType(item: MeasureItem,
      strAttrs: Set[String] = Set.empty): DataType = item match {
    case m: Measure if m.fn == Fn.Classifier => StringType
    case m: Measure if (m.fn == Fn.First || m.fn == Fn.Last) &&
        m.attr.exists(strAttrs.contains) => StringType
    case _                                   => LongType
  }

  /** The value of a measure item, boxed for an output row: the
    * classifier's string, a string-attribute FIRST/LAST's string (or
    * COUNT's non-null long — `strAttrs`, round 16), or the long fold
    * ([[evalItem]]); null for measure-over-missing either way.
    */
  def evalItemBoxed(item: MeasureItem, byName: Map[String, Vector[Event]],
      orderName: String,
      subsets: Map[String, Vector[String]] = Map.empty,
      strAttrs: Set[String] = Set.empty,
      matchNo: Option[Long] = None): AnyRef =
    item match {
      case m: Measure if m.fn == Fn.Classifier =>
        evalClassifier(byName, orderName,
          if (m.name.isEmpty) None
          else Some(subsets.getOrElse(m.name, Vector(m.name)))).orNull
      case m: Measure if m.attr.exists(strAttrs.contains) =>
        // FIRST/LAST read the target event's (possibly absent → null)
        // string value, COUNT counts the events carrying one
        val binding = bindingOf(m.name, byName, orderName, subsets)
        val str = strOf(m, m.attr.get) _
        m.fn match {
          case Fn.First | Fn.Last => pick(m, binding).flatMap(str).orNull
          case Fn.Count =>
            val vs = binding.flatMap(str)
            Long.box((if (m.distinct) vs.distinct else vs).length.toLong)
          case other => throw new IllegalStateException(
            s"${other.sqlName} over a string attribute — rejected at " +
              "validation") // unreachable
        }
      case _ =>
        evalItem(item, byName, orderName, subsets, matchNo)
          .map(Long.box).orNull
    }

  /** Evaluation of a measure ITEM: a plain measure folds via
    * [[evalMeasure]]; an expression folds its atoms and combines with
    * long arithmetic (a NULL atom poisons the whole expression).
    */
  def evalItem(item: MeasureItem, byName: Map[String, Vector[Event]],
      orderName: String,
      subsets: Map[String, Vector[String]] = Map.empty,
      matchNo: Option[Long] = None): Option[Long] =
    combine(item, evalMeasure(_, byName, orderName, subsets, matchNo))

  /** A measure item's long value from its atoms' values (`atom`). */
  private def combine(item: MeasureItem, atom: Measure => Option[Long])
      : Option[Long] = item match {
    case m: Measure     => atom(m)
    case e: ExprMeasure => Arith.eval(e.expr, atom)
  }

  /** A validated measured statement as the batch CEP operator renders it
    * (`CepEmission.Measures`): its output-mode flags and the columns of
    * its output block. `orderName` is the order column, `strAttrs` the
    * string-typed attributes.
    */
  private[graft] final case class Rendering(st: CepSql.CepSqlStatement,
      orderName: String, strAttrs: Set[String]) {
    import CepSql.RowsPerMatch._
    val allRows: Boolean = st.rowsPerMatch match {
      case AllRows | AllRowsUnmatched | AllRowsShowEmpty => true
      case _ => false
    }
    val unmatched: Boolean = st.rowsPerMatch == AllRowsUnmatched
    /** SHOW EMPTY, live only for a NULLABLE pattern (`canMatchEmpty`). */
    val showEmpty: Boolean =
      (st.rowsPerMatch == OneRowShowEmpty ||
        st.rowsPerMatch == AllRowsShowEmpty) &&
        Pattern.canMatchEmpty(st.query.patseq)
    /** Renders rows the NFA never binds, so its feed takes no prefilter. */
    def seesEveryRow: Boolean = unmatched || showEmpty
    /** The key's matches are numbered (`match_no`, `MATCH_NUMBER()`). */
    val numbered: Boolean = allRows ||
      st.measures.flatMap(MeasureItem.atomsOf).exists(_.fn == Fn.MatchNo)
    /** `(key?, match_no, classifier, <order>, measures…)` for ALL ROWS
      * PER MATCH, `(key?, measures…)` for ONE ROW — the block is all but
      * the key.
      */
    def fields: Seq[(String, DataType)] =
      (if (allRows) Seq("match_no" -> LongType, "classifier" -> StringType,
        orderName -> LongType) else Nil) ++
        st.measures.map(it => it.alias -> itemDataType(it, strAttrs))
  }

  /** One task's matches of one measured statement for the current key,
    * rendered as soon as their place in the output is fixed. An
    * un-numbered ONE ROW statement without SHOW EMPTY renders each match
    * as it is found ([[immediate]]). Every other mode keeps the found
    * matches until [[flush]] gets a watermark `w` that no later match of
    * the key starts before (`CepMeasuresSink` takes it from the
    * executors' live runs), and then renders every match, empty match
    * and unmatched row before `w`; the key's last event flushes the
    * rest. Matches are numbered in temporal order: by earliest bound
    * ordinal (an empty match: its site), then by each name's bound order
    * ids in declared order, compared as arrays (element-wise, a prefix
    * first). Values are in Catalyst's internal form.
    */
  private[graft] final class KeyMatches(r: Rendering) {
    private val st = r.st
    private val on = r.orderName
    private val names = Pattern.names(st.query.patseq)
    private val subsets = st.subsetMap
    private val excluded = st.excluded.toSet
    /** Nothing to number and no empty-match site to place. */
    val immediate: Boolean = !r.numbered && !r.showEmpty
    private val kept = scala.collection.mutable.ArrayBuffer.empty[Entry]
    // the key's state across flushes: the next match number, how far
    // the flushed matches cover the key's rows (SHOW EMPTY), whether the
    // key matched at all (the `^` site), and the rows bound by flushed
    // matches that lie past the last watermark (WITH UNMATCHED ROWS)
    private var nextNo = 1L
    private var coverEnd = Long.MinValue
    private var anyMatch = false
    private val boundAhead = new java.util.PriorityQueue[java.lang.Long]()

    /** Matches kept for a later flush. */
    def size: Int = kept.length

    def add(m: Match, out: Array[Any] => Unit): Unit = {
      val byName = m.toMap
      anyMatch = true
      if (immediate) render(new Entry(byName, 0L), 0L, out)
      else kept += new Entry(byName, byName.valuesIterator.flatten
        .map(_(on)).minOption.getOrElse(Long.MinValue))
    }

    /** Renders every kept match that starts before `w` — every one at
      * the key's last event (`keyEnd`) — and, among the key's fed
      * ordinals below `w` (`ords(0 until n)`, ascending, filled when
      * [[Rendering.seesEveryRow]]), the empty matches and unmatched rows.
      * `first` is the key's first fed ordinal: the `^` anchor's only
      * site.
      */
    def flush(w: Long, keyEnd: Boolean, ords: Array[Long], n: Int,
        first: Long, out: Array[Any] => Unit): Unit = {
      val ready = kept.iterator.filter(keyEnd || _.start < w).toVector
      if (keyEnd) kept.clear() else kept.filterInPlace(_.start >= w)
      val sites =
        if (!r.showEmpty) Vector.empty
        else if (st.query.anchorStart) {
          if (keyEnd && !anyMatch) Vector(new Entry(Map.empty, first))
          else Vector.empty
        } else emptySites(ready, ords, n)
      val entries = ready ++ sites
      (if (r.numbered) entries.sortWith(before) else entries).foreach { e =>
        render(e, nextNo, out); nextNo += 1
      }
      if (r.unmatched) unmatchedRows(ready, ords, n, w, out)
      if (keyEnd) {
        nextNo = 1L; coverEnd = Long.MinValue; anyMatch = false
        boundAhead.clear()
      }
    }

    /** The empty-match sites among `ords(0 until n)`: one sorted sweep
      * of the matches' covered spans ([[siteSpan]]) against the
      * ordinals, the cover carried from flush to flush. Every match that
      * can cover an ordinal below the watermark starts before it, so is
      * in `ready` or an earlier flush.
      */
    private def emptySites(ready: Vector[Entry], ords: Array[Long],
        n: Int): Vector[Entry] = {
      val spans = ready.flatMap(e => siteSpan(e.byName, on,
        st.query.strategy)).sortBy(_._1)
      val sites = Vector.newBuilder[Entry]
      var j = 0
      var i = 0
      while (i < n) {
        val o = ords(i)
        while (j < spans.length && spans(j)._1 <= o) {
          coverEnd = math.max(coverEnd, spans(j)._2); j += 1
        }
        if (coverEnd < o) sites += new Entry(Map.empty, o)
        i += 1
      }
      spans.iterator.drop(j).foreach(s => coverEnd = math.max(coverEnd, s._2))
      sites.result()
    }

    /** Every fed row below `w` bound by NO match (pre-exclusion: an
      * excluded row is matched), with NULL match_no, classifier and
      * measures. A match that starts before `w` may bind rows past it;
      * those wait in `boundAhead` for a later flush.
      */
    private def unmatchedRows(ready: Vector[Entry], ords: Array[Long],
        n: Int, w: Long, out: Array[Any] => Unit): Unit = {
      ready.foreach(_.byName.valuesIterator.foreach(
        _.foreach(ev => boundAhead.add(ev(on)))))
      val nulls = st.measures.map(_ => null)
      var i = 0
      while (i < n) {
        val o = ords(i)
        while (!boundAhead.isEmpty && boundAhead.peek.longValue < o)
          boundAhead.poll()
        if (boundAhead.isEmpty || boundAhead.peek.longValue != o)
          out(Array[Any](null, null, o) ++ nulls)
        i += 1
      }
      while (!boundAhead.isEmpty && boundAhead.peek.longValue < w)
        boundAhead.poll()
    }

    /** A match — or an empty match at its site `start` — and its order
      * ids per name in declared order.
      */
    private final class Entry(val byName: Map[String, Vector[Event]],
        val start: Long) {
      lazy val ids: Array[Array[Long]] = names.map(nm =>
        byName.getOrElse(nm, Vector.empty).map(_(on)).toArray).toArray
    }

    /** Temporal match order (see the class doc). */
    private def before(a: Entry, b: Entry): Boolean =
      if (a.start != b.start) a.start < b.start
      else {
        var i = 0
        var c = 0
        while (c == 0 && i < names.length) {
          val (x, y) = (a.ids(i), b.ids(i))
          var e = 0
          while (c == 0 && e < x.length && e < y.length) {
            c = java.lang.Long.compare(x(e), y(e)); e += 1
          }
          if (c == 0) c = Integer.compare(x.length, y.length)
          i += 1
        }
        c < 0
      }

    private def value(item: MeasureItem, byName: Map[String, Vector[Event]],
        no: Long): Any = internal(evalItemBoxed(item, byName, on, subsets,
      r.strAttrs, Some(no)))

    private def internal(v: AnyRef): Any = v match {
      case s: String => UTF8String.fromString(s)
      case v => v
    }

    /** One match's output rows, numbered `no`. */
    private def render(e: Entry, no: Long, out: Array[Any] => Unit): Unit = {
      val b = e.byName
      if (!r.allRows) out(st.measures.map(value(_, b, no)).toArray[Any])
      else if (b.isEmpty)
        // an empty match: one NULL-classifier row at its site
        out(Array[Any](no, null, e.start) ++ st.measures.map(value(_, b, no)))
      else {
        // one row per bound event in order: RUNNING measures see the
        // match's rows up to this one, FINAL the whole match; an
        // excluded row still feeds the measures, it is only not output
        val finals = st.measures.map(it =>
          if (it.isFinal) value(it, b, no) else null)
        val fold = new RunningFold(no)
        b.toVector.flatMap { case (nm, evs) => evs.map(nm -> _) }
          .sortBy(_._2(on)).foreach { case (nm, ev) =>
            fold.add(nm, ev)
            if (!excluded.contains(nm))
              out(Array[Any](no, UTF8String.fromString(nm), ev(on)) ++
                st.measures.indices.map(j =>
                  if (st.measures(j).isFinal) finals(j)
                  else fold.value(st.measures(j))))
          }
      }
    }

    // ALL ROWS' RUNNING atoms, and for each pattern name the atoms its
    // rows feed (a SUBSET feeds from each member; nullary CLASSIFIER()
    // from every name)
    private val runAtoms: Vector[Measure] = st.measures.filterNot(_.isFinal)
      .flatMap(MeasureItem.atomsOf).distinct
    private val atomIx: Map[Measure, Int] = runAtoms.zipWithIndex.toMap
    private val feeds: Map[String, Array[Int]] = names.map(nm =>
      nm -> runAtoms.indices.filter { i =>
        val m = runAtoms(i)
        m.fn != Fn.MatchNo && (m.name.isEmpty ||
          subsets.getOrElse(m.name, Vector(m.name)).contains(nm))
      }.toArray).toMap

    /** ALL ROWS' RUNNING measures over one match, advanced a row at a
      * time: each atom keeps its binding so far (FIRST/LAST), its
      * aggregate ([[Agg]]) or its last classified row, so a row costs
      * O(1) per atom rather than a fold over the match so far.
      */
    private final class RunningFold(no: Long) {
      private val bufs =
        runAtoms.map(_ => scala.collection.mutable.ArrayBuffer.empty[Event])
      private val aggs = runAtoms.map(_ => new Agg)
      private val lastName = new Array[String](runAtoms.length)

      def add(nm: String, ev: Event): Unit =
        feeds.getOrElse(nm, Array.emptyIntArray).foreach { i =>
          val m = runAtoms(i)
          m.fn match {
            case Fn.First | Fn.Last => bufs(i) += ev
            case Fn.Classifier => lastName(i) = nm
            case Fn.Count if !isAttrTier(m) => aggs(i).add(0L)
            case _ => m.attr.filter(r.strAttrs.contains) match {
              // COUNT of a string attribute: the events carrying one
              case Some(a) => if (ev.getStr(a).isDefined) aggs(i).add(0L)
              case None    => valueOf(m)(ev).foreach(aggs(i).add)
            }
          }
        }

      private def atom(m: Measure): Option[Long] = m.fn match {
        case Fn.MatchNo => Some(no)
        case Fn.First | Fn.Last =>
          pick(m, bufs(atomIx(m))).flatMap(targetValue(m, on))
        case _ => aggs(atomIx(m)).result(m.fn)
      }

      def value(item: MeasureItem): Any = item match {
        case m: Measure if m.fn == Fn.Classifier =>
          internal(lastName(atomIx(m)))
        case m: Measure if m.attr.exists(r.strAttrs.contains) &&
            m.fn != Fn.Count =>
          internal(pick(m, bufs(atomIx(m))).flatMap(strOf(m, m.attr.get))
            .orNull)
        case _ => combine(item, atom).map(Long.box).orNull
      }
    }
  }

  /** Validate `st` for the batch operator and describe its rendering.
    * ALL ROWS refuses PREV/NEXT physical navigation and DISTINCT.
    */
  private def rendering(df: DataFrame, st: CepSql.CepSqlStatement,
      spec: CepSpec): Rendering = {
    val r = Rendering(st, spec.orderCol, strAttrsOf(df, spec))
    if (st.rowsPerMatch == CepSql.RowsPerMatch.OneRowShowEmpty ||
        st.rowsPerMatch == CepSql.RowsPerMatch.AllRowsShowEmpty)
      requireShowEmptySupported(st.query)
    if (!r.allRows)
      require(st.measures.nonEmpty, "MEASURES: empty measure list")
    else st.measures.flatMap(MeasureItem.atomsOf).foreach { m =>
      require(m.phys.isEmpty,
        s"ALL ROWS PER MATCH: PREV/NEXT(${m.fn.sqlName}(...)) physical " +
          "navigation is ONE ROW PER MATCH only")
      // a running distinct aggregate is not defined here — a
      // documented deviation
      require(!m.distinct,
        s"ALL ROWS PER MATCH: ${m.fn.sqlName}(DISTINCT ...) is " +
          "ONE ROW PER MATCH only")
    }
    val names = validate(st.query, spec, st.measures,
      if (r.allRows) Set("match_no", "classifier", spec.orderCol)
      else Set.empty, st.subsetMap)
    requireStrMeasuresSupported(st.measures, r.strAttrs)
    st.excluded.foreach(n => require(names.contains(n),
      s"exclusion: '$n' is not a pattern name " +
        s"(have ${names.mkString(", ")})"))
    r
  }

  /** Match `st.query` over `df` on the Catalyst-planned CEP operator and
    * render `st.measures` in the statement's output mode inside it
    * (`SparkCep.matchMeasures`). Output: the key column (when keyed),
    * then [[Rendering.fields]].
    *
    *  - `ONE ROW PER MATCH`: one row per match, every measure over the
    *    whole match. `SHOW EMPTY MATCHES` (engine extension spelling of
    *    the SQL:2016 ONE ROW default) adds one summary row per empty
    *    match — COUNT 0, other measures NULL, CLASSIFIER() NULL,
    *    `MATCH_NUMBER()` interleaved by site ordinal.
    *  - `ALL ROWS PER MATCH`: one row per bound event, `(match_no,
    *    classifier, <order>, measures…)` with RUNNING measure semantics
    *    (each row sees the match's rows up to and including itself;
    *    FINAL the whole match). `match_no` is the deterministic per-key
    *    sequence in temporal order ([[KeyMatches]]); unkeyed input
    *    numbers over its single global sequence. `{- x -}` exclusion
    *    drops x's rows from the output only — they still feed the
    *    measures. `SHOW EMPTY MATCHES` adds one NULL-classifier row per
    *    empty match at its site ordinal, numbered in sequence.
    *  - `ALL ROWS PER MATCH WITH UNMATCHED ROWS`: also every input row
    *    bound by NO match, with NULL match_no, classifier and measures.
    *    "Unmatched" is judged against ALL bound rows, pre-exclusion (an
    *    excluded row is matched). A row with a NULL key belongs to no
    *    partition: the operator drops it, so it is never output.
    *    DOCUMENTED DEVIATION: SQL:2016 and Trino prohibit `{- -}` under
    *    WITH UNMATCHED ROWS; this engine accepts the combination with the
    *    semantics above (spec-pinned in `CepExclusionSpec`).
    *
    * SHOW EMPTY and WITH UNMATCHED ROWS render rows the NFA never binds,
    * so their feed takes no pre-NFA filter; the other modes keep it.
    */
  def run(df: DataFrame, st: CepSql.CepSqlStatement,
      spec: CepSpec): DataFrame =
    SparkCep.matchMeasures(df, Seq("" -> rendering(df, st, spec)), spec,
      None, shared = false)

  /** Self-contained form: the statement carries its own `PARTITION BY` /
    * `ORDER BY` / `TYPE` spec sections. A multi-column `PARTITION BY`
    * routes through [[runMultiKey]].
    */
  def run(df: DataFrame, st: CepSql.CepSqlStatement): DataFrame =
    if (st.partitionByCols.nonEmpty) runMultiKey(df, st)
    else run(df, st, st.spec)

  /** SQL:2016 multi-column `PARTITION BY a, b, …`: the single-key match
    * operators take one key column, so the composite key is derived as
    * ONE STRUCT column over the list — EXACT, like every other key type
    * (the operators carry non-numeric keys through verbatim), so two
    * distinct column tuples can never merge and no restore join is
    * needed: the output simply expands the struct's fields back into
    * the original leading columns, per the standard. A row with ANY
    * NULL partition column gets a NULL composite key and is dropped by
    * the operator's null-key drop, exactly like a NULL single key
    * (`struct(a, b)` itself is never NULL, hence the explicit guard).
    */
  private def runMultiKey(df: DataFrame,
      st: CepSql.CepSqlStatement): DataFrame = {
    val res = run(df.withColumn("__mkey", multiKeyExpr(df, st.partitionByCols)),
      st, st.specWithKey(Some("__mkey")))
    val rest = res.columns.filterNot(_ == "__mkey").toSeq
    res.select(st.partitionByCols.map(c =>
      col("__mkey").getField(c).as(c)) ++ rest.map(col): _*)
  }

  /** The composite-key struct for a multi-column `PARTITION BY`: NULL
    * when any member column is NULL (the operator's null-key drop then
    * applies), the exact column tuple otherwise. Shared by the batch
    * dispatch above and the streaming operators
    * (`StreamingCep.matchPatternMeasures`).
    */
  private[cep] def multiKeyExpr(df: DataFrame,
      cols: Seq[String]): Column = {
    require(cols.nonEmpty, "multi-column PARTITION BY: empty column list")
    cols.foreach(c => require(df.columns.contains(c),
      s"multi-column PARTITION BY: '$c' is not a column of the input " +
        s"(have ${df.columns.mkString(", ")})"))
    when(cols.map(col(_).isNotNull).reduce(_ && _),
      struct(cols.map(col): _*))
  }

  /** k MEASURED statements on ONE shared scan: one scan, one union
    * pushdown filter, one key exchange and one NFA pass feed every
    * member, and the operator renders each member's rows in its own
    * column block (`SparkCep.matchMeasures`); each returned frame is
    * its member's slice. Every rows-per-match mode may be a member. ONE
    * ROW members need a non-empty MEASURES list; ALL ROWS members may
    * measure nothing (the mode's own columns remain). Solo-vs-shared
    * equality is differential-pinned in `CepMeasuresSpec` (ONE ROW) and
    * `CepSharedSinglePassSpec` (ALL ROWS shapes).
    *
    * The shared frame is MATERIALIZED ONCE before the per-member slices
    * are built: without that, each returned frame carries its own copy
    * of the full shared `CepMatchExec` subtree, and although ReuseExchange
    * dedupes the scan and key shuffle below the operator, the NFA sweep
    * itself re-runs k times — each time matching all k patterns. With a
    * [[graft.ops.CacheLease]] the frame is `persist`ed (MEMORY_AND_DISK,
    * replayable on executor loss) and tracked on the lease, which the
    * caller closes after consuming the results; without one it is
    * `localCheckpoint`ed eagerly — self-releasing (swept by the
    * ContextCleaner on GC and by `CacheScope.withCaches` at harness
    * boundaries) at the cost of cut lineage, the right default for
    * one-shot jobs. Single execution is pinned by
    * `CepSharedSinglePassSpec` via the operator's `numEvents` metric.
    */
  def runShared(df: DataFrame,
      stmts: Seq[(String, CepSql.CepSqlStatement)], spec: CepSpec,
      maxRunsPerKey: Option[Int] = None,
      lease: Option[graft.ops.CacheLease] = None)
      : Seq[(String, DataFrame)] = {
    require(stmts.nonEmpty, "runShared: empty member set")
    stmts.foreach { case (n, st) =>
      require(st.measures.nonEmpty ||
        st.rowsPerMatch != CepSql.RowsPerMatch.OneRow &&
        st.rowsPerMatch != CepSql.RowsPerMatch.OneRowShowEmpty,
        s"runShared: member '$n' has no MEASURES — use " +
          "SparkCep.matchPatternsShared for the plain binding shape")
    }
    val members = stmts.map { case (n, st) => n -> rendering(df, st, spec) }
    val sharedPlan = SparkCep.matchMeasures(df, members, spec,
      maxRunsPerKey, shared = true)
    val shared = lease match {
      case Some(l) => l.track(sharedPlan.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      case None => sharedPlan.localCheckpoint(eager = true)
    }
    val keyOut = spec.keyCol.map(col).toSeq
    members.zipWithIndex.map { case ((n, r), i) =>
      n -> shared.where(col("qname") === n).select(keyOut ++
        r.fields.map { case (f, _) => col(sharedName(i, f)).as(f) }: _*)
    }
  }

  /** Member `i`'s name for its column `f` in the shared output. */
  private[graft] def sharedName(i: Int, f: String): String = s"__m${i}_$f"

  /** One-call `ALL ROWS PER MATCH` over the Catalyst-planned operator:
    * a ONE ROW statement renders as plain ALL ROWS.
    */
  def runAllRows(df: DataFrame, st: CepSql.CepSqlStatement,
      spec: CepSpec): DataFrame =
    run(df, st.copy(rowsPerMatch = st.rowsPerMatch match {
      case m @ (CepSql.RowsPerMatch.AllRowsUnmatched |
          CepSql.RowsPerMatch.AllRowsShowEmpty) => m
      case _ => CepSql.RowsPerMatch.AllRows
    }), spec)

  def runAllRows(df: DataFrame, st: CepSql.CepSqlStatement): DataFrame =
    runAllRows(df, st, st.spec)
}
