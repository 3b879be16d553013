package graft.cep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

import SparkCep.CepSpec

/** Per-match MEASURES projection — the MATCH_RECOGNIZE `MEASURES` clause
  * for the CEP SQL surface (`CepSql`): turn a match frame (key + one
  * `array<long>` of bound order ids per pattern name) into ONE FLAT ROW
  * PER MATCH of scalar aggregates (`project`), or into ONE ROW PER BOUND
  * EVENT with running measures (`allRows` — the `ALL ROWS PER MATCH`
  * output mode).
  *
  * Two evaluation tiers, chosen per measure:
  *
  *  - POSITIONAL (`COUNT(a)`, `FIRST(a)`, `LAST(a)`): pure column
  *    expressions over the binding arrays (`size`/`get`) — no join, no
  *    shuffle, whole-stage codegen.
  *  - ATTRIBUTE (`SUM/MIN/MAX/AVG(a.v)`, `FIRST/LAST(a.v)`): the match
  *    operator only retains order ids, so attribute measures explode the
  *    bindings of every measured name into `(name, order)` pairs, join
  *    the event table ONCE on (key, order), and re-aggregate per match
  *    with name-guarded conditional aggregates. One join + one
  *    aggregation TOTAL, regardless of how many names are measured.
  *    When no measured name can bind empty the join is INNER, and AQE
  *    broadcasts the small match side at runtime at typical
  *    selectivities (measured in `DriveMeasuresScale`; see
  *    `possiblyEmptyNames` for why the sentinel LEFT join cannot
  *    broadcast and what it costs).
  *
  * The per-match identity (`__mid`) is `monotonically_increasing_id`,
  * which is nondeterministic per Spark's contract — safe here because
  * the id is generated once and consumed by a SINGLE downstream pipeline
  * (explode → join → aggregate). Positional measures and the key are
  * computed BEFORE the explode and carried through the aggregation as
  * grouping columns (each is functionally dependent on the match id), so
  * the frame is never self-joined: there is no second evaluation whose
  * ids must agree. (The previous formulation joined two independent
  * evaluations of the frame on `__mid`; under a non-total input sort or
  * a stage retry the sides could disagree and attach measures to the
  * wrong match — `CepMeasuresDeterminismSpec` pins the hazard and this
  * fix.)
  *
  * Empty bindings (a `{0,n}` loop that took zero events) yield COUNT 0
  * and NULL for every other measure — `get` out-of-bounds is NULL, the
  * explode keeps all-empty matches via one `explode_outer` sentinel row,
  * and the name-guarded aggregates see no rows for the name — mirroring
  * SQL aggregate-over-empty.
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
      * under `FINAL`. STRING-typed. The single-query streaming
      * measures operators emit it at emission time ([[evalClassifier]]
      * — the fold needs no state beyond the match itself); the SHARED
      * streaming shape rejects it (its measures column is a
      * long-valued map).
      */
    case object Classifier extends Fn { val sqlName = "CLASSIFIER" }
    /** SQL:2016 `MATCH_NUMBER()` — NULLARY. The deterministic per-key
      * match sequence number in temporal (order-found) order:
      * `row_number` by the match's earliest bound ordinal, binding
      * arrays as tiebreaker — the same
      * never-`monotonically_increasing_id` sequence `ALL ROWS PER
      * MATCH` emits as `match_no` (see `matchSeqWindow`). Adds one
      * window pass over the (small) match frame in `ONE ROW PER MATCH`.
      * Batch-only: an unbounded stream cannot close a key's total match
      * order (same reason ALL ROWS is batch-only).
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
      case e: ExprMeasure => MExpr.atoms(e.expr)
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
    * is shorter (aggregate-over-missing). Supported by ONE ROW PER
    * MATCH, the streaming fold, and `ALL ROWS PER MATCH` for every
    * FINAL/RUNNING FIRST/LAST combination (round 17; RUNNING LAST
    * closed round 18 — nth_value over the per-match windows, the LAST
    * forms over descending twins).
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
      argExpr: Option[AExpr] = None, phys: Option[PhysNav] = None,
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
      require(AExpr.refs(ae).nonEmpty,
        s"MEASURES: ${fn.sqlName}($name) argument expression references " +
          "no attribute — a constant aggregate argument is positional " +
          s"(${fn.sqlName}($name)) or a literal in the outer expression")
      require(!ae.isInstanceOf[AExpr.Ref],
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

  /** Whether the measure needs the per-event attribute join (an `attr`
    * target or an argument expression) — the ATTRIBUTE tier — as opposed
    * to the pure binding-array POSITIONAL tier.
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

  /** Every event attribute the measure reads at the joined event. */
  private[cep] def attrsOf(m: Measure): Vector[String] =
    m.attr.map(Vector(_)).getOrElse(m.argExpr.fold(Vector.empty[String])(
      AExpr.refs))

  /** The per-event value column of an attribute-tier measure over the
    * joined `__a_<attr>` columns: the attribute itself, or the argument
    * expression evaluated per bound event (NULL attribute → NULL value,
    * which the enclosing aggregate then skips — SQL
    * aggregate-over-expression).
    */
  private def valueCol(m: Measure): Column = {
    // a physically-navigated measure reads the SHIFTED columns the
    // event side precomputed (lag/lead over the key partition) — the
    // join still lands on the bound event's row, the shift rides it
    def ref(a: String): Column = m.phys match {
      case Some(pn) => col(shiftName(a, pn.signed))
      case None     => col(s"__a_$a")
    }
    m.argExpr match {
      case Some(ae) => AExpr.toColumn(ae, ref, truncDiv)
      case None     => ref(m.attr.get)
    }
  }

  /** Internal name of attribute `a` shifted by `s` physical rows. */
  private def shiftName(a: String, s: Int): String =
    if (s < 0) s"__a_${a}_p${-s}" else s"__a_${a}_n$s"

  /** The (attr, signed shift) pairs a measure set needs precomputed. */
  private def shiftsOf(ms: Seq[Measure]): Seq[(String, Int)] =
    ms.flatMap(m => m.phys.toSeq.flatMap(pn =>
      attrsOf(m).map(a => (a, pn.signed)))).distinct

  /** Nullary measure constructors. */
  def classifier(alias: String, isFinal: Boolean = false): Measure =
    Measure(Fn.Classifier, "", None, alias, isFinal)
  def matchNumber(alias: String): Measure =
    Measure(Fn.MatchNo, "", None, alias)

  /** Aggregate-ARGUMENT expression — SQL:2016's <value expression>
    * inside a measure aggregate (`SUM(a.price * a.qty)`), integer
    * fragment: long arithmetic over ONE pattern (or SUBSET) variable's
    * attributes and non-negative integer literals, evaluated PER BOUND
    * EVENT before the aggregate folds. [[Ref]] leaves are attribute
    * names; the owning [[Measure]]'s `name` qualifies every ref (the
    * standard requires all refs inside one aggregate to share a
    * variable, and so do we — the parser rejects mixed names).
    *
    * Semantics mirror the outer <measure expression> ([[MExpr]])
    * operator-for-operator: `+ - *` are non-ANSI 64-bit (silent wrap on
    * overflow — DuckDB, the oracle, errors instead; keep magnitudes in
    * long range), `/` is DuckDB-`//`-exact integer division (truncation
    * toward zero, NULL on a zero divisor), and a NULL attribute poisons
    * the EVENT's value — SUM/MIN/MAX/AVG then skip that event (SQL
    * aggregate-over-expression), while FIRST/LAST read their target
    * event's possibly-NULL value as-is. Both tiers agree: the batch
    * column lowering ([[AExpr.toColumn]]) and the streaming emission
    * fold ([[AExpr.eval]]) are differential-pinned batch==stream in
    * `StreamingCepMeasuresSpec`.
    */
  sealed trait AExpr extends Serializable
  object AExpr {
    /** Attribute `attr` of the bound event under evaluation. */
    final case class Ref(attr: String) extends AExpr
    final case class Lit(v: Long) extends AExpr
    final case class Add(l: AExpr, r: AExpr) extends AExpr
    final case class Sub(l: AExpr, r: AExpr) extends AExpr
    final case class Mul(l: AExpr, r: AExpr) extends AExpr
    /** Integer `/` — DuckDB-`//` semantics like [[MExpr.Div]]. */
    final case class Div(l: AExpr, r: AExpr) extends AExpr

    /** Distinct referenced attributes, first-occurrence order. */
    def refs(e: AExpr): Vector[String] = {
      def walk(e: AExpr): Vector[String] = e match {
        case Ref(a)    => Vector(a)
        case Lit(_)    => Vector.empty
        case Add(l, r) => walk(l) ++ walk(r)
        case Sub(l, r) => walk(l) ++ walk(r)
        case Mul(l, r) => walk(l) ++ walk(r)
        case Div(l, r) => walk(l) ++ walk(r)
      }
      walk(e).distinct
    }

    /** Column lowering over the joined event side: `ref` resolves an
      * attribute name to its column; `div` is the caller's
      * DuckDB-`//`-exact division (NULL on zero divisor). Plain Spark
      * `+ - *` NULL-propagate, which is exactly the poison-the-event
      * contract.
      */
    def toColumn(e: AExpr, ref: String => Column,
        div: (Column, Column) => Column): Column = e match {
      case Ref(a)    => ref(a)
      case Lit(v)    => lit(v)
      case Add(l, r) => toColumn(l, ref, div) + toColumn(r, ref, div)
      case Sub(l, r) => toColumn(l, ref, div) - toColumn(r, ref, div)
      case Mul(l, r) => toColumn(l, ref, div) * toColumn(r, ref, div)
      case Div(l, r) => div(toColumn(l, ref, div), toColumn(r, ref, div))
    }

    /** Emission-time fold over one bound event: `ref` resolves an
      * attribute (None = missing → poisons the value). JVM `/`
      * truncates toward zero like IntegralDivide and DuckDB `//`; a
      * zero divisor yields None.
      */
    def eval(e: AExpr, ref: String => Option[Long]): Option[Long] =
      e match {
        case Ref(a)    => ref(a)
        case Lit(v)    => Some(v)
        case Add(l, r) =>
          for (a <- eval(l, ref); b <- eval(r, ref)) yield a + b
        case Sub(l, r) =>
          for (a <- eval(l, ref); b <- eval(r, ref)) yield a - b
        case Mul(l, r) =>
          for (a <- eval(l, ref); b <- eval(r, ref)) yield a * b
        case Div(l, r) =>
          for (a <- eval(l, ref); b <- eval(r, ref) if b != 0L) yield a / b
      }
  }

  /** A measure VALUE EXPRESSION tree — SQL:2016's <measure expression>,
    * integer fragment: `+`/`-`/`*` over measure atoms and non-negative
    * integer literals, e.g. `LAST(a.v) - FIRST(a.v)` or
    * `100 * COUNT(c) + COUNT(p)`. All-long arithmetic; a NULL atom
    * (measure-over-missing) propagates NULL through the whole
    * expression, exactly SQL. `/` is the one [[Div]] documents: DuckDB
    * `//` exact (truncation toward zero, NULL on a zero divisor); `AVG`
    * keeps its separate FLOORED exact-mean convention.
    *
    * OVERFLOW: `+ - *` are non-ANSI 64-bit and silently WRAP in both
    * tiers (the Spark column lowering and `evalItem`'s long fold agree
    * bit-for-bit). DuckDB — the oracle the correctness gate replays —
    * ERRORS on BIGINT overflow instead, so a measured magnitude outside
    * long range surfaces as an oracle failure, not a silent mismatch;
    * keep measured products inside long range.
    */
  sealed trait MExpr extends Serializable
  object MExpr {
    /** A leaf `fn(name[.attr][, k])`. The wrapped [[Measure]] carries no
      * alias (the enclosing [[ExprMeasure]] names the column) and no
      * FINAL flag (the item's applies to every atom). `CLASSIFIER()` is
      * STRING-typed and cannot enter arithmetic; `MATCH_NUMBER()` can
      * (it is a long).
      */
    final case class Atom(m: Measure) extends MExpr {
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
    final case class Lit(v: Long) extends MExpr
    final case class Add(l: MExpr, r: MExpr) extends MExpr
    final case class Sub(l: MExpr, r: MExpr) extends MExpr
    final case class Mul(l: MExpr, r: MExpr) extends MExpr
    /** Integer division `/` — DuckDB `//` semantics EXACTLY: truncation
      * toward zero (`7 / -2 = -3`, unlike Python's floored `//`), NULL
      * on a zero divisor. Lowered to Catalyst `IntegralDivide` (`div`),
      * which is long-exact — no double round-trip. Note AVG is the one
      * deliberate exception: it keeps the FLOORED quotient (the
      * documented exact-integer-mean convention, visible only on
      * negative sums).
      */
    final case class Div(l: MExpr, r: MExpr) extends MExpr

    /** The distinct atoms of an expression, in first-occurrence order. */
    def atoms(e: MExpr): Vector[Measure] = {
      def walk(e: MExpr): Vector[Measure] = e match {
        case Atom(m)   => Vector(m)
        case Lit(_)    => Vector.empty
        case Add(l, r) => walk(l) ++ walk(r)
        case Sub(l, r) => walk(l) ++ walk(r)
        case Mul(l, r) => walk(l) ++ walk(r)
        case Div(l, r) => walk(l) ++ walk(r)
      }
      walk(e).distinct
    }
  }

  /** A compound measure: `expr AS alias` where `expr` combines ≥1 atom
    * with long arithmetic. Evaluates by computing each distinct atom
    * exactly as a plain [[Measure]] would (same tiers, same join shape —
    * the lowering is shared) and combining the resulting columns, so an
    * expression costs no extra pass over the match frame.
    */
  final case class ExprMeasure(expr: MExpr, alias: String,
      isFinal: Boolean = false) extends MeasureItem {
    require(MExpr.atoms(expr).nonEmpty,
      s"MEASURES: expression '$alias' references no measure atom — a " +
        "constant column is a SELECT concern, not a measure")
  }

  /** Exact integer floor-division `sum // cnt` (DuckDB `//` floors where
    * Spark `DIV` truncates toward zero): `pmod` is non-negative, so
    * subtracting it before the division makes the quotient exact and
    * floored with pure long arithmetic. `cnt = 0` → `pmod` NULL → NULL,
    * which is exactly AVG-over-empty.
    */
  private def floorDiv(sumC: Column, cntC: Column): Column =
    ((sumC - pmod(sumC, cntC)) / cntC).cast(LongType)

  /** Measure-expression `/`: DuckDB-`//`-exact integer division —
    * truncation toward zero, NULL on a zero divisor — via Catalyst
    * `IntegralDivide` (long-exact, no double round-trip). Distinct from
    * [[floorDiv]], which AVG keeps for the floored exact mean.
    */
  private def truncDiv(l: Column, r: Column): Column = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    // TryEval pins NULL-on-zero-divisor regardless of the session's
    // ANSI setting (Spark 4 defaults ANSI on, which would otherwise
    // throw DIVIDE_BY_ZERO where DuckDB returns NULL; a bare
    // EvalMode.TRY on the node still throws — the registry wraps
    // try_* functions in TryEval, so we do the same)
    GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.TryEval(
        org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          GraftColumnBridge.expression(l), GraftColumnBridge.expression(r),
          org.apache.spark.sql.catalyst.expressions.EvalMode.TRY)))
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
        (m.attr.toVector ++ m.argExpr.fold(Vector.empty[String])(
          AExpr.refs)).foreach(a => require(
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

  /** Lower measure items to a flat ATOM list plus one output column per
    * item: a plain [[Measure]] passes through under its own alias; an
    * [[ExprMeasure]]'s distinct atoms get hidden `__x<i>` aliases
    * (deduplicated ACROSS items, keyed by (atom, isFinal) since the
    * item's RUNNING/FINAL applies to each of its atoms) and the output
    * column re-combines them with long arithmetic — NULL propagates
    * through the whole expression like SQL. The atom pipeline below
    * (`project`'s single join / `allRows`' windows) computes the lowered
    * list exactly as if the user had declared each atom, so an
    * expression costs no extra pass.
    */
  private def lowerItems(items: Vector[MeasureItem])
      : (Vector[Measure], Vector[Column]) = {
    val hidden = scala.collection.mutable.LinkedHashMap
      .empty[Measure, String]
    items.foreach {
      case e: ExprMeasure =>
        MExpr.atoms(e.expr).foreach { a =>
          val k = a.copy(isFinal = e.isFinal)
          if (!hidden.contains(k)) hidden(k) = s"__x${hidden.size}"
        }
      case _ => ()
    }
    def exprCol(e: MExpr, isFinal: Boolean): Column = e match {
      case MExpr.Atom(m)   => col(hidden(m.copy(isFinal = isFinal)))
      case MExpr.Lit(v)    => lit(v)
      case MExpr.Add(l, r) => exprCol(l, isFinal) + exprCol(r, isFinal)
      case MExpr.Sub(l, r) => exprCol(l, isFinal) - exprCol(r, isFinal)
      case MExpr.Mul(l, r) => exprCol(l, isFinal) * exprCol(r, isFinal)
      case MExpr.Div(l, r) => truncDiv(exprCol(l, isFinal),
        exprCol(r, isFinal))
    }
    val atoms = items.collect { case m: Measure => m } ++
      hidden.map { case (m, al) => m.copy(alias = al) }
    val outCols = items.map {
      case m: Measure     => col(m.alias)
      case e: ExprMeasure => exprCol(e.expr, e.isFinal).as(e.alias)
    }
    (atoms, outCols)
  }

  /** Positional measure over the binding arrays. A multi-member SUBSET
    * target is the UNION binding: order ids ascend in stream order
    * within every array, so FIRST/LAST of the union are the min/max
    * over the concatenation and COUNT is the size sum — still pure
    * column expressions, no join.
    */
  private def positional(m: Measure, members: Vector[String]): Column =
    if (members.length == 1) {
      val c = col(members.head)
      m.fn match {
        case Fn.Count => size(c).cast(LongType)
        // arrays ascend in stream order; `get` is NULL out of bounds
        // (incl. the negative index a too-large LAST offset produces) —
        // exactly measure-over-missing
        case Fn.First => get(c, lit(m.offset))
        case Fn.Last  => get(c, size(c) - 1 - m.offset)
        case other => throw new IllegalStateException(
          s"${other.sqlName} is attribute-only") // unreachable (ctor check)
      }
    } else m.fn match {
      case Fn.Count =>
        members.map(n => size(col(n)).cast(LongType)).reduce(_ + _)
      case Fn.First | Fn.Last =>
        // union binding in stream order = the members' arrays merged
        val u = sort_array(concat(members.map(col): _*))
        if (m.fn == Fn.First) get(u, lit(m.offset))
        else get(u, size(u) - 1 - m.offset)
      case other => throw new IllegalStateException(
        s"${other.sqlName} is attribute-only") // unreachable (ctor check)
    }

  /** `(name, order)` pairs over the given binding-array columns, ready to
    * explode — one struct per bound event across all listed names.
    */
  private def bindingPairs(names: Seq[String]): Column =
    flatten(array(names.map(nm =>
      transform(col(nm), o => struct(lit(nm).as("nm"), o.as("ord")))): _*))

  /** The deterministic per-key match-sequence window shared by
    * `MATCH_NUMBER()` and `ALL ROWS PER MATCH`'s `match_no`: row_number
    * ordered by the match's EARLIEST bound ordinal (`array_min` over the
    * concatenation of every name's binding array — the match's starting
    * row, SQL:2016's order-found numbering), with the binding-array
    * tuple itself as a deterministic tiebreaker for matches sharing a
    * start (frames within a key differ in at least one bound set).
    * Ordering by the arrays ALONE is not temporal once a name can bind
    * empty — an alternation-headed pattern `(p | x) s` sorts `p = []`
    * (the x-branch match) before `p = [1]` regardless of when each match
    * occurred — so the start ordinal must lead the sort. (An all-empty
    * match has a NULL start and sorts first; no pattern yields one.)
    * Never `monotonically_increasing_id`.
    */
  private def matchSeqWindow(keyName: Option[String],
      names: Vector[String]) =
    keyName.fold(Window.partitionBy())(k => Window.partitionBy(k))
      .orderBy(array_min(concat(names.map(col): _*)) +: names.map(col): _*)

  /** `CLASSIFIER()` in ONE ROW PER MATCH: the pattern name of the
    * match's LAST bound event — the name whose binding array ends at
    * the greatest order id (names with empty bindings are NULL
    * candidates, which `greatest` skips). Pure column expressions over
    * the binding arrays; no join.
    */
  private def classifierCol(names: Vector[String]): Column = {
    val cands = names.map(n => when(size(col(n)) > 0,
      struct(get(col(n), size(col(n)) - 1).as("o"), lit(n).as("n"))))
    val best = if (cands.length == 1) cands.head else greatest(cands: _*)
    best.getField("n")
  }

  /** Names whose binding can be EMPTY in some match: a `{0,n}`/optional
    * quantifier, or any ancestor group repeated `{0,…}`. Statically
    * decidable from the pattern, and it decides the join shape below:
    * only a possibly-empty measured name needs the `explode_outer`
    * sentinel + LEFT join (so all-empty matches survive to the
    * aggregation). When every measured name binds at least one event,
    * the tier uses a plain explode + INNER join — semantically identical
    * there, and AT SCALE the difference is decisive: an inner join lets
    * AQE broadcast the small match side at runtime, while a left-outer
    * join PRESERVES the left (match) side, which is therefore not
    * broadcastable, and the plan is stuck shuffling the full event table
    * by (key, order) (`DriveMeasuresScale` measures both shapes).
    */
  private[cep] def possiblyEmptyNames(p: Pattern,
      underZero: Boolean = false): Set[String] = p match {
    case s: Pattern.Spat =>
      if (underZero) Set(s.name) else Set.empty
    case l: Pattern.Lpat =>
      if (underZero || l.from == 0) Set(l.name) else Set.empty
    case l: Pattern.LpatInf =>
      if (underZero || l.from == 0) Set(l.name) else Set.empty
    case c: Pattern.Combine =>
      possiblyEmptyNames(c.left, underZero) ++
        possiblyEmptyNames(c.right, underZero)
    case c: Pattern.CombineNot =>
      possiblyEmptyNames(c.left, underZero) ++
        possiblyEmptyNames(c.right, underZero)
    // EVERY name of an alternation can be unbound: a match through one
    // branch binds nothing of the other
    case a: Pattern.Alt =>
      SparkCep.patternNames(a.left).toSet ++
        SparkCep.patternNames(a.right).toSet
    // UNLIKE an alternation, a PERMUTE binds EVERY unit in every match
    // (the branches are orderings of the same units) — emptiness is
    // each unit's own quantifier's affair
    case pm: Pattern.Permute =>
      pm.units.map(u => possiblyEmptyNames(u, underZero)).reduce(_ ++ _)
    case g: Pattern.Gpat => possiblyEmptyNames(g.child, underZero)
    case g: Pattern.GpatTimes =>
      possiblyEmptyNames(g.child, underZero || g.from == 0)
    case g: Pattern.GpatInf =>
      possiblyEmptyNames(g.child, underZero || g.from == 0)
  }

  /** Events projected to the join shape: hashed key, long order, long
    * attrs under collision-free internal names. `shifts` adds one
    * lag/lead column per (attr, signed steps) pair — physical
    * navigation for `PREV/NEXT(FIRST/LAST(...))` measures. The window
    * is ONE per-key sort pass over the event side (Spark coalesces all
    * shifts into a single Window node: same partition, same order) —
    * the identical cost class as the DEFINE-side `PREV(attr)` batch
    * lag, and absent entirely when no measure navigates.
    */
  private def eventSide(events: DataFrame, spec: CepSpec,
      attrs: Seq[String], shifts: Seq[(String, Int)] = Nil): DataFrame = {
    // type-driven (round 16): STRING attr columns stay strings — the
    // FIRST/LAST string-measure values; everything else keeps the
    // integer model (mirrors SparkCep.attrProj)
    def proj(a: String): Column = events.schema(a).dataType match {
      case StringType => col(a).as(s"__a_$a")
      case _          => col(a).cast(LongType).as(s"__a_$a")
    }
    val base = events.select(
      SparkCep.keyExpr(events, spec).as("__k") +:
        col(spec.orderCol).cast(LongType).as("__eord") +:
        attrs.map(proj): _*)
    if (shifts.isEmpty) base
    else {
      val w = Window.partitionBy(col("__k")).orderBy(col("__eord"))
      shifts.foldLeft(base) { case (df, (a, s)) =>
        df.withColumn(shiftName(a, s),
          if (s < 0) lag(col(s"__a_$a"), -s).over(w)
          else lead(col(s"__a_$a"), s).over(w))
      }
    }
  }

  /** Project `measures` over a match frame produced by the `SparkCep`
    * operators from `events` under `spec`. Output: the key column (when
    * keyed) followed by one column per measure item, in declared order —
    * ONE ROW PER MATCH. Expression items ([[ExprMeasure]]) lower to
    * hidden atoms computed in the SAME single pass, then re-combine in
    * one final narrow projection.
    */
  def project(matches: DataFrame, events: DataFrame, query: CepQuery,
      spec: CepSpec, measures: Vector[MeasureItem],
      subsets: Map[String, Vector[String]] = Map.empty,
      showEmpty: Boolean = false): DataFrame = {
    require(measures.nonEmpty, "MEASURES: empty measure list")
    val names = validate(query, spec, measures, Set.empty, subsets)
    requireStrMeasuresSupported(measures, strAttrsOf(events, spec))
    val keyName = spec.keyCol.filter(matches.columns.contains)
    val keyOut = keyName.map(col).toSeq
    val (atoms, outCols) = lowerItems(measures)
    // `ONE ROW PER MATCH SHOW EMPTY MATCHES` (engine extension — the
    // standard has no SHOW/OMIT option under ONE ROW, where empty
    // matches of a nullable pattern are simply always output; the
    // explicit spelling opts into exactly that standard behavior while
    // the engine's bare default stays OMIT): each empty-match site
    // ([[emptySites]] — same rules and restrictions as the ALL ROWS
    // mode) becomes a synthetic empty-binding seed in the match frame,
    // so it projects to one summary row with empty-set measures (COUNT
    // 0, others NULL, CLASSIFIER() NULL, MATCH_NUMBER() interleaved by
    // site ordinal).
    val doEmpty = showEmpty && Pattern.canMatchEmpty(query.patseq)
    if (showEmpty) requireShowEmptySupported(query)
    val frame =
      if (!doEmpty) matches
      else
        // the seed union + site derivation both consume the match
        // frame — materialize it ONCE so the NFA sweep below doesn't
        // run twice (see the identical note in [[allRows]])
        emptySeedUnion(matches.localCheckpoint(eager = true), events,
          spec, keyName, keyOut, names, query.strategy,
          query.anchorStart)
    projectAtoms(frame, events, query, spec, atoms, subsets, names,
      keyName, keyOut, anchored = doEmpty)
      .select(keyOut ++ outCols: _*)
  }

  /** The atom pipeline behind [[project]]: every measure here is a plain
    * [[Measure]] (user-declared or a lowered expression atom under a
    * hidden `__x` alias), already validated.
    */
  private def projectAtoms(matches: DataFrame, events: DataFrame,
      query: CepQuery, spec: CepSpec, measures: Vector[Measure],
      subsets: Map[String, Vector[String]], names: Vector[String],
      keyName: Option[String], keyOut: Seq[Column],
      anchored: Boolean = false): DataFrame = {
    def membersOf(n: String): Vector[String] =
      subsets.getOrElse(n, Vector(n))

    // MATCH_NUMBER() stamps the frame once, BEFORE any branch below —
    // a deterministic per-key window over the binding arrays (one pass
    // over the small match frame), carried through explode/aggregate
    // like any positional measure. An `anchored` frame (SHOW EMPTY
    // MATCHES) carries empty-binding seeds whose start would be NULL —
    // its explicit `__anchor` column leads the sort instead, so empty
    // matches number in sequence with the real ones.
    val withSeq =
      if (measures.exists(_.fn == Fn.MatchNo)) {
        val w =
          if (anchored) anchoredSeqWindow(keyName, names)
          else matchSeqWindow(keyName, names)
        matches.withColumn("__match_no",
          row_number().over(w).cast(LongType))
      } else matches
    // positional-tier column for one measure (nullary measures are
    // match-level: classifier reads the binding arrays, match_no the
    // stamped sequence)
    def posCol(m: Measure): Column = m.fn match {
      // CLASSIFIER(U): last row mapped to a member of U — the same
      // greatest-last-ordinal pick restricted to the target's members
      case Fn.Classifier =>
        classifierCol(if (m.name.isEmpty) names
          else membersOf(m.name).toVector)
      case Fn.MatchNo    => col("__match_no")
      case _             => positional(m, membersOf(m.name))
    }
    val attrMeasures = measures.filter(isAttrTier)
    if (attrMeasures.isEmpty) {
      // pure positional: no identity, no join, no shuffle
      withSeq.select(
        keyOut ++ measures.map(m => posCol(m).as(m.alias)): _*)
    } else {
      val posMeasures = measures.filterNot(isAttrTier)
      val measuredNames =
        attrMeasures.flatMap(m => membersOf(m.name)).distinct.sorted
      val attrsNeeded = attrMeasures.flatMap(attrsOf).distinct
      // FIRST/LAST(name.attr, k): the TARGET ordinal is positionally
      // computable from the binding arrays BEFORE the explode (the k-th
      // order id from the relevant end, NULL when the binding is
      // shorter) — carried through the aggregation like a positional
      // measure, so the offset costs no extra join or shuffle
      val offsetMeasures = attrMeasures.filter(_.offset != 0)
      // sentinel + LEFT join only when a measured binding can actually
      // be empty; otherwise plain explode + INNER join, which AQE can
      // flip to a broadcast of the (small) match side at runtime — a
      // left-outer join preserves its left side and can never broadcast
      // it, pinning the plan to a full event-table shuffle. A SUBSET
      // target is empty only when EVERY member is.
      val mayBeEmpty = anchored || {
        val pe = possiblyEmptyNames(query.patseq)
        attrMeasures.exists(m => membersOf(m.name).forall(pe.contains))
      }
      val withMid = withSeq.withColumn("__mid",
        monotonically_increasing_id())
      val pairs = bindingPairs(measuredNames)
      val exploded = withMid.select(
        ((Seq(col("__mid")) ++ keyOut ++
          posMeasures.map(m => posCol(m).as(s"__p_${m.alias}")) ++
          offsetMeasures.map(m =>
            // the positional TARGET ordinal — strip the value-side
            // fields (attr/argExpr/phys); the k-th bound order id is
            // the same whatever the measure reads at it
            positional(m.copy(attr = None, argExpr = None, phys = None),
              membersOf(m.name))
              .as(s"__t_${m.alias}"))) :+
          (if (mayBeEmpty) explode_outer(pairs)
           else explode(pairs)).as("__pr")): _*)
        .withColumn("__nm", col("__pr.nm"))
        .withColumn("__ord", col("__pr.ord"))
        .drop("__pr")
      val ev = eventSide(events, spec, attrsNeeded, shiftsOf(attrMeasures))
      val cond = keyName match {
        case Some(k) =>
          exploded(k) === ev("__k") && exploded("__ord") === ev("__eord")
        case None => exploded("__ord") === ev("__eord")
      }
      val joined =
        exploded.join(ev, cond, if (mayBeEmpty) "left" else "inner")
      val grp = col("__mid") +: (keyOut ++
        posMeasures.map(m => col(s"__p_${m.alias}")) ++
        offsetMeasures.map(m => col(s"__t_${m.alias}")))
      val aggs = attrMeasures.map { m =>
        val isNm = col("__nm").isin(membersOf(m.name): _*)
        val v = when(isNm, valueCol(m))
        (m.fn match {
          case Fn.Sum   => if (m.distinct) sum_distinct(v) else sum(v)
          case Fn.Min   => min(v)
          case Fn.Max   => max(v)
          case Fn.Avg   => floorDiv(sum(v), count(v))
          // attributed COUNT: SQL's non-NULL count (DISTINCT collapses
          // duplicate values) — never NULL, 0 over an empty binding
          case Fn.Count =>
            if (m.distinct) count_distinct(v) else count(v)
          // an offset FIRST/LAST reads exactly the row whose order id is
          // the pre-computed target (order ids are unique within a
          // key+match, so at most one row matches; a NULL target — the
          // binding was shorter than the offset — matches none → NULL)
          case Fn.First | Fn.Last if m.offset != 0 =>
            min(when(col("__ord") === col(s"__t_${m.alias}"), v))
          // rows whose ordering expression is NULL (other names, the
          // sentinel) are ignored by min_by/max_by
          case Fn.First => min_by(v, when(isNm, col("__ord")))
          case Fn.Last  => max_by(v, when(isNm, col("__ord")))
        }).as(m.alias)
      }
      val perMatch = joined.groupBy(grp: _*).agg(aggs.head, aggs.tail: _*)
      perMatch.select(keyOut ++ measures.map { m =>
        if (!isAttrTier(m)) col(s"__p_${m.alias}").as(m.alias)
        else col(m.alias)
      }: _*)
    }
  }

  /** `ALL ROWS PER MATCH`: ONE ROW PER BOUND EVENT — `(key?, match_no,
    * classifier, <orderCol>, measures…)` with RUNNING measure semantics
    * (each row sees the aggregate over the match's rows up to and
    * including itself, the MATCH_RECOGNIZE default in this mode).
    *
    * DOCUMENTED DEVIATION (exclusion × `withUnmatched`): SQL:2016 and
    * Trino prohibit `{- -}` row-pattern exclusion under WITH UNMATCHED
    * ROWS; this engine accepts the combination with defined semantics —
    * an excluded row is MATCHED (it binds and feeds measures), so it is
    * omitted from the output and can never surface as an unmatched row.
    * Spec-pinned in `CepExclusionSpec`.
    *
    * `match_no` is a DETERMINISTIC per-key sequence in temporal order:
    * `row_number` ordered by the match's earliest bound ordinal with the
    * binding arrays as tiebreaker (see [[matchSeqWindow]] for why the
    * start ordinal must lead once names can bind empty). Never
    * `monotonically_increasing_id`, whose values change across
    * evaluations. Unkeyed mode numbers matches over a single global
    * window — same serialization the unkeyed match feed already has.
    *
    * Running attribute measures join events once on (key, order) like
    * `project`, then aggregate over `(key, match_no) ROWS UNBOUNDED
    * PRECEDING` windows — per-match frames, so window state is O(match),
    * not O(partition).
    *
    * `showEmpty` — SQL:2016 `SHOW EMPTY MATCHES` (see the grammar
    * contract in [[CepSql]]): when the pattern is nullable, empty-match
    * sites ([[emptySites]]) union into the match frame as synthetic
    * empty-binding seeds BEFORE numbering (so `match_no` interleaves
    * temporally), explode (outer) to one NULL-classifier row each at
    * the site ordinal, and ride the same classifier-guarded measure
    * windows — COUNT 0, other measures NULL, `MATCH_NUMBER()` the
    * interleaved number, FINAL/RUNNING CLASSIFIER() NULL — with no
    * extra pass beyond the one site join.
    */
  def allRows(matches: DataFrame, events: DataFrame, query: CepQuery,
      spec: CepSpec, measures: Vector[MeasureItem],
      subsets: Map[String, Vector[String]] = Map.empty,
      excluded: Set[String] = Set.empty,
      withUnmatched: Boolean = false,
      showEmpty: Boolean = false): DataFrame = {
    val keyName = spec.keyCol.filter(matches.columns.contains)
    val reserved = Set("match_no", "classifier", spec.orderCol)
    if (showEmpty) {
      // SQL:2016 `SHOW EMPTY MATCHES`: see the mode's contract at the
      // grammar (`CepSql` scaladoc) — sites below, numbering at the
      // seed union, measures ride the classifier-guarded windows
      require(!withUnmatched,
        "SHOW EMPTY MATCHES and WITH UNMATCHED ROWS are mutually " +
          "exclusive rows-per-match options (as in SQL:2016)")
      requireShowEmptySupported(query)
    }
    // FIRST/LAST offsets (round 17; RUNNING LAST closed round 18):
    // FINAL FIRST/LAST(x, k) is the (k+1)-th bound event from the
    // start/end of the WHOLE match — nth_value over the existing
    // per-match unbounded windows (the LAST form over the descending
    // twin); RUNNING FIRST(x, k) is the (k+1)-th so far — nth_value
    // over the running frame; RUNNING LAST(x, k) is the (k+1)-th from
    // the END of the rows so far — nth_value over the DESCENDING
    // running twin (`ORDER BY __ord DESC ROWS BETWEEN CURRENT ROW AND
    // UNBOUNDED FOLLOWING`: the frame walks backwards from the current
    // row, so its (k+1)-th ignoreNulls value IS the k-th-from-the-end
    // take so far, current row included — the round-17 "no window
    // form" deviation had missed the reversed running frame).
    measures.flatMap(MeasureItem.atomsOf).foreach { m =>
      // the running windows resolve FIRST/LAST with ignoreNulls over the
      // name-guarded value, which cannot tell a partition-edge NULL from
      // an other-name row — a documented deviation
      require(m.phys.isEmpty,
        s"ALL ROWS PER MATCH: PREV/NEXT(${m.fn.sqlName}(...)) physical " +
          "navigation is ONE ROW PER MATCH only")
      // Spark window functions take no DISTINCT, and a running distinct
      // count has no window-function form — a documented deviation
      require(!m.distinct,
        s"ALL ROWS PER MATCH: ${m.fn.sqlName}(DISTINCT ...) is " +
          "ONE ROW PER MATCH only")
    }
    val names = validate(query, spec, measures, reserved, subsets)
    requireStrMeasuresSupported(measures, strAttrsOf(events, spec))
    excluded.foreach(n => require(names.contains(n),
      s"exclusion: '$n' is not a pattern name " +
        s"(have ${names.mkString(", ")})"))
    def membersOf(n: String): Vector[String] =
      subsets.getOrElse(n, Vector(n))
    // expression items lower to hidden atoms evaluated over the SAME
    // windows (RUNNING exprs combine running atoms per row), re-combined
    // in the final projection
    val (atoms, outCols) = lowerItems(measures)

    val keyOut = keyName.map(col).toSeq
    // `SHOW EMPTY MATCHES` is live only when the pattern is NULLABLE
    // (can match zero events) — otherwise empty matches cannot occur
    // and the mode degrades to plain ALL ROWS at zero extra cost
    val doEmpty = showEmpty && Pattern.canMatchEmpty(query.patseq)
    // The two-consumer modes re-read the match frame (seed union +
    // sites / output + bound set); each consumer would re-run the
    // whole NFA sweep below it (ReuseExchange dedupes exchanges, not
    // the match operator). Same hazard and fix as `runShared`:
    // localCheckpoint the SMALL side once — self-releasing, batch-only
    // here so cut lineage is fine (`DriveShowEmptyScale` measures the
    // win; `CepShowEmptySinglePassSpec` pins it). Gated on the ACTUAL
    // double consumption, after validation — an inert SHOW EMPTY
    // (non-nullable pattern) stays zero-cost.
    val matchFrame =
      if (doEmpty || withUnmatched) matches.localCheckpoint(eager = true)
      else matches
    val withNo =
      if (!doEmpty)
        matchFrame.withColumn("match_no",
          row_number().over(matchSeqWindow(keyName, names)).cast(LongType))
      else
        // Empty matches are SYNTHETIC SEED ROWS unioned into the match
        // frame BEFORE numbering ([[emptySeedUnion]]); numbering then
        // interleaves real and empty matches temporally in one
        // row_number pass ([[anchoredSeqWindow]] — anchor leads; a site
        // is never a real match's start under any site rule, so
        // anchors cannot tie across the union; the binding arrays stay
        // as the deterministic real-vs-real tiebreaker). Downstream,
        // the empty seed explodes (outer) to exactly one
        // NULL-classifier row that rides the same classifier-guarded
        // measure windows — COUNT 0, everything else NULL, per SQL
        // aggregate-over-empty.
        emptySeedUnion(matchFrame, events, spec, keyName, keyOut, names,
          query.strategy, query.anchorStart)
          .withColumn("match_no",
            row_number().over(anchoredSeqWindow(keyName, names))
              .cast(LongType))
    val exploded = withNo.select(
      (keyOut :+ col("match_no")) ++
        (if (doEmpty) Seq(col("__anchor")) else Nil) :+
        (if (doEmpty) explode_outer(bindingPairs(names))
         else explode(bindingPairs(names))).as("__pr"): _*)
      .withColumn("classifier", col("__pr.nm"))
      // the empty seed's single outer row has a NULL pair — its output
      // ordinal is the SITE itself (the row where the empty match
      // occurred, SQL:2016's one-output-row-per-empty-match). Its
      // (key, ordinal) is a real input event, so the attribute join
      // below keeps it on the inner path; every measure is
      // classifier-guarded, so the joined values never leak into one.
      .withColumn("__ord",
        if (doEmpty) coalesce(col("__pr.ord"), col("__anchor"))
        else col("__pr.ord"))
      .drop("__pr")
      .drop("__anchor")

    val attrMeasures = atoms.filter(isAttrTier)
    val joined =
      if (attrMeasures.isEmpty) exploded
      else {
        val ev = eventSide(events, spec, attrMeasures.flatMap(attrsOf).distinct)
        val cond = keyName match {
          case Some(k) =>
            exploded(k) === ev("__k") && exploded("__ord") === ev("__eord")
          case None => exploded("__ord") === ev("__eord")
        }
        // inner: every exploded row's (key, order) is a bound event of
        // THIS event table, so inner ≡ left here — and inner lets AQE
        // broadcast the small match side (see possiblyEmptyNames)
        joinedDrop(exploded.join(ev, cond, "inner"))
      }

    // per-match windows: RUNNING sees this match's rows up to the
    // current one; FINAL sees the whole match on every row
    val matchW = keyName.fold(Window.partitionBy(col("match_no")))(k =>
      Window.partitionBy(col(k), col("match_no")))
      .orderBy(col("__ord"))
    val runWdefault =
      matchW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val finalW = matchW.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    // descending twin for FINAL LAST(x, k): the k+1-th from the END is
    // the k+1-th from the start of the reversed frame (whole-match
    // frame, so the value is constant per match either way)
    val finalWDesc = keyName.fold(Window.partitionBy(col("match_no")))(k =>
      Window.partitionBy(col(k), col("match_no")))
      .orderBy(col("__ord").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // descending RUNNING twin for RUNNING LAST(x, k): under the desc
    // order the frame [CURRENT ROW, UNBOUNDED FOLLOWING] is exactly the
    // rows UP TO the current one walked backwards, so nth_value(k+1)
    // reads the k-th-from-the-end take SO FAR (round 18)
    val runWDesc = keyName.fold(Window.partitionBy(col("match_no")))(k =>
      Window.partitionBy(col(k), col("match_no")))
      .orderBy(col("__ord").desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val measureCols = atoms.map { m =>
      if (m.fn == Fn.Classifier) {
        if (m.name.isEmpty)
          // RUNNING = the current row's classifier (the mode's own
          // column — the last row so far is the current one); FINAL =
          // the match's last row's
          (if (m.isFinal) last(col("classifier")).over(finalW)
           else col("classifier")).as(m.alias)
        else {
          // CLASSIFIER(U): the variable of the last row SO FAR (or of
          // the whole match under FINAL) mapped to a member of U —
          // NULL until one is
          val g = when(
            col("classifier").isin(membersOf(m.name): _*),
            col("classifier"))
          last(g, ignoreNulls = true)
            .over(if (m.isFinal) finalW else runWdefault).as(m.alias)
        }
      } else if (m.fn == Fn.MatchNo) {
        col("match_no").as(m.alias) // constant per match; FINAL ≡ RUNNING
      } else if (m.offset > 0) {
        // offset FIRST/LAST (round 17; RUNNING LAST round 18).
        // nth_value(…, k+1, ignoreNulls) over the name-guarded value
        // skips other-name rows; the attribute tier wraps the value in
        // a STRUCT first, so a bound event with a NULL attribute is
        // still COUNTED by the walk and contributes its NULL — exactly
        // SQL's "attribute of the (k+1)-th bound event", not "the
        // (k+1)-th non-NULL value". LAST walks the descending twin —
        // whole-match frame under FINAL, backwards-from-current-row
        // frame under RUNNING.
        val isNm = col("classifier").isin(membersOf(m.name): _*)
        val w =
          if (m.fn == Fn.Last) { if (m.isFinal) finalWDesc else runWDesc }
          else if (m.isFinal) finalW
          else runWdefault
        (if (!isAttrTier(m))
           nth_value(when(isNm, col("__ord")), m.offset + 1,
             ignoreNulls = true).over(w)
         else
           nth_value(when(isNm, struct(valueCol(m).as("v"))),
             m.offset + 1, ignoreNulls = true).over(w).getField("v")
        ).as(m.alias)
      } else {
      val runW = if (m.isFinal) finalW else runWdefault
      val isNm = col("classifier").isin(membersOf(m.name): _*)
      (if (!isAttrTier(m)) m.fn match {
          case Fn.Count => count(when(isNm, lit(1))).over(runW)
          case Fn.First => min(when(isNm, col("__ord"))).over(runW)
          case Fn.Last  => max(when(isNm, col("__ord"))).over(runW)
          case other => throw new IllegalStateException(
            s"${other.sqlName} is attribute-only") // unreachable
        }
        else {
          val v = when(isNm, valueCol(m))
          m.fn match {
            case Fn.Sum   => sum(v).over(runW)
            case Fn.Min   => min(v).over(runW)
            case Fn.Max   => max(v).over(runW)
            case Fn.Avg   => floorDiv(sum(v).over(runW), count(v).over(runW))
            case Fn.First => first(v, ignoreNulls = true).over(runW)
            case Fn.Last  => last(v, ignoreNulls = true).over(runW)
            // attributed COUNT: running non-NULL count (DISTINCT is
            // rejected above — window functions take no DISTINCT)
            case Fn.Count => count(v).over(runW)
            case other => throw new IllegalStateException(
              s"${other.sqlName} is nullary") // unreachable (dispatch above)
          }
      }).as(m.alias)
      }
    }
    val out = joined.select((keyOut :+ col("match_no") :+
      col("classifier") :+ col("__ord").as(spec.orderCol)) ++
      measureCols: _*)
      .select((keyOut :+ col("match_no") :+ col("classifier") :+
        col(spec.orderCol)) ++ outCols: _*)
    // SQL:2016 `{- x -}` exclusion: excluded rows are omitted from the
    // OUTPUT only — they already fed the running/final window measures
    // above, and Catalyst cannot push a classifier predicate below the
    // window (it only pushes predicates on the window's PARTITION
    // columns: key + match_no), so the filter stays above the measure
    // computation by construction (spec-pinned in `CepExclusionSpec`)
    val matched =
      if (excluded.isEmpty) out
      // an empty match's classifier is NULL — `isin` over NULL is NULL,
      // which a bare `!…` filter would drop; empty-match rows are never
      // excluded (an excluded VARIABLE binds no rows in them)
      else if (doEmpty) out.where(col("classifier").isNull ||
        !col("classifier").isin(excluded.toSeq: _*))
      else out.where(!col("classifier").isin(excluded.toSeq: _*))
    if (!withUnmatched) matched
    else {
      // `WITH UNMATCHED ROWS` (SQL:2016): every input row bound by NO
      // match joins the output with NULL match_no/classifier/measures.
      // "Unmatched" is judged against ALL bound rows (pre-exclusion:
      // an excluded row is matched, never unmatched). Anti-join events
      // against the distinct bound (key, order) pairs — the bound side
      // is the small one, so AQE broadcasts it.
      val bound = exploded.select(
        (keyOut :+ col("__ord").as(spec.orderCol)): _*).distinct()
      val evProj = events.select(
        (keyName.map(k => SparkCep.keyExpr(events, spec).as(k)).toSeq :+
          col(spec.orderCol).cast(LongType).as(spec.orderCol)): _*)
      val unmatchedRows = evProj.join(bound,
        keyName.toSeq :+ spec.orderCol, "left_anti")
      val nullMeasures = measures.map { item =>
        lit(null).cast(itemDataType(item, strAttrsOf(events, spec)))
          .as(item.alias)
      }
      val unmatchedOut = unmatchedRows.select(
        (keyOut :+ lit(null).cast(LongType).as("match_no") :+
          lit(null).cast(StringType).as("classifier") :+
          col(spec.orderCol)) ++ nullMeasures: _*)
      matched.unionByName(unmatchedOut)
    }
  }

  private def joinedDrop(df: DataFrame): DataFrame =
    df.drop("__k", "__eord")

  /** The SHOW EMPTY seed union shared by [[project]] and [[allRows]]:
    * the (materialized) match frame plus ONE synthetic empty-binding
    * row per site ([[emptySites]]), every row carrying its `__anchor`
    * ordinal — real matches their earliest bound ordinal, empty seeds
    * the site itself — ready for [[anchoredSeqWindow]] numbering.
    */
  private def emptySeedUnion(matchFrame: DataFrame, events: DataFrame,
      spec: CepSpec, keyName: Option[String], keyOut: Seq[Column],
      names: Vector[String], strategy: AfterMatchStrategy,
      anchorStart: Boolean = false): DataFrame = {
    val emptyArr = array().cast(ArrayType(LongType))
    val sites = emptySites(matchFrame, events, spec, keyName, names,
      strategy, anchorStart)
    val emptySeed = sites.select(
      keyOut ++ names.map(n => emptyArr.as(n)) :+
        col("__site").as("__anchor"): _*)
    val realSeed = matchFrame.select(
      keyOut ++ names.map(col) :+
        array_min(concat(names.map(col): _*)).as("__anchor"): _*)
    realSeed.unionByName(emptySeed)
  }

  /** Deterministic numbering window over a seed union: the explicit
    * `__anchor` leads (an all-empty seed has a NULL binding start), the
    * binding arrays tiebreak real matches sharing an anchor.
    */
  private def anchoredSeqWindow(keyName: Option[String],
      names: Vector[String]) =
    keyName.fold(Window.partitionBy())(k => Window.partitionBy(k))
      .orderBy(col("__anchor") +: names.map(col): _*)

  /** The SHOW EMPTY MATCHES support envelope, shared by [[project]] and
    * [[allRows]]: every after-match strategy has a site rule
    * ([[emptySites]] — NoSkip/SkipToNext anti-join on starts,
    * SkipPastLastEvent full-span coverage, SkipToFirst/SkipToLast
    * prune-adjusted-span coverage), and so does the `^` START anchor
    * (every match must start at the partition's first event, so that
    * event is the ONLY attempt site — a key contributes one empty
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

  /** `SHOW EMPTY MATCHES` sites — the input rows where an EMPTY match
    * occurs, `(key?, __site)`, derived from the reported (non-empty)
    * match frame per the after-match discipline:
    *
    *  - `SkipPastLastEvent`: attempts resume after a match's last bound
    *    event, so sites are the events NOT COVERED by any match's
    *    closed ordinal span `[earliest bound, latest bound]` (under
    *    relaxed contiguity, ignored mid-span rows never receive an
    *    attempt — they are covered). Coverage is a RUNNING-MAX WINDOW
    *    MERGE, not an interval join: span rows `(key, start, end)`
    *    union with event rows `(key, ord)`, one per-key window ordered
    *    by position (span-before-event on ties) computes the running
    *    max span end, and an event is a site iff that max is NULL or
    *    < its ordinal — O(1) per row. (The first formulation kept an
    *    array of spans per key and `exists`-scanned it per event:
    *    O(events × spans-per-key), which `DriveShowEmptyProfile`
    *    measured at 21 s of a 24 s total on a 2M-event/1000-spans-per-
    *    key stream — the window merge collapses it to one sort pass.)
    *  - `SkipToFirst(a)` / `SkipToLast(a)`: attempts resume AT the
    *    anchor event (the first/last event bound to `a` in the match),
    *    so the PRUNE-ADJUSTED span a match covers is
    *    `[earliest bound, max(start, anchor - 1)]` — the anchor itself
    *    gets a fresh attempt and can host an empty match (e.g. the
    *    matched click that ends an `s -> c` match under SKIP TO LAST c
    *    is a site; under SKIP PAST LAST ROW it would be covered). A
    *    match where `a` never binds prunes nothing (the documented
    *    NoSkip fallback) — its span degenerates to its own start. Every
    *    span covers its own start (`anchor >= start`), so "uncovered"
    *    still implies "starts no reported match". Same running-max
    *    window merge as skip-past.
    *  - `NoSkip` / `SkipToNext`: attempts start at EVERY event, so
    *    sites are the events that START no reported match — one
    *    anti-join against the distinct (key, start) pairs, the small
    *    side broadcast-eligible.
    *
    * Both shapes add exactly one pass over the event table and touch
    * only the (key, order) projection of it.
    */
  private def emptySites(matches: DataFrame, events: DataFrame,
      spec: CepSpec, keyName: Option[String], names: Vector[String],
      strategy: AfterMatchStrategy,
      anchorStart: Boolean = false): DataFrame = {
    // mirror the match operators' NULL-KEY DROP (`SparkCep.prepare`):
    // a NULL-keyed row never reaches the NFA, so it is not an attempt
    // site either — without this filter it would survive the anti-join
    // (NULL never equals a start) and surface as a phantom empty match
    val evBase = spec.keyCol.fold(events)(k =>
      events.where(col(k).isNotNull))
    val evProj = evBase.select(
      keyName.map(k => SparkCep.keyExpr(evBase, spec).as(k)).toSeq :+
        col(spec.orderCol).cast(LongType).as("__site"): _*)
    val startCol = array_min(concat(names.map(col): _*))
    // running-max merge shared by the span-shaped strategies: span rows
    // sort BEFORE the event at the same position (__mk 0 < 1), so a
    // span starting AT an event's ordinal covers it; the running max of
    // span ends over all spans at or before the event's position is
    // >= the ordinal exactly when some span covers it
    def spanMerge(endCol: Column): DataFrame = {
      val spanRows = matches.select(
        keyName.map(col).toSeq :+ startCol.as("__pos") :+
          endCol.as("__end") :+
          lit(0).as("__mk"): _*)
      val evRows = evProj.select(
        keyName.map(col).toSeq :+ col("__site").as("__pos") :+
          lit(null).cast(LongType).as("__end") :+
          lit(1).as("__mk"): _*)
      val w = keyName
        .fold(Window.partitionBy())(k => Window.partitionBy(k))
        .orderBy(col("__pos"), col("__mk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spanRows.unionByName(evRows)
        .withColumn("__cov", max(col("__end")).over(w))
        .where(col("__mk") === 1 &&
          (col("__cov").isNull || col("__cov") < col("__pos")))
        .select(keyName.map(col).toSeq :+
          col("__pos").as("__site"): _*)
    }
    // prune-adjusted span end for the anchor strategies: the event
    // just before the anchor (the resume point gets a fresh attempt),
    // never before the match's own start; anchor-never-bound = the
    // NoSkip fallback — the span degenerates to the start alone. An
    // anchor that is not a pattern name at all (programmatic queries
    // only — SQL rejects it at parse) is the same fallback for EVERY
    // match.
    def anchorSpans(a: String, isFirst: Boolean): DataFrame = {
      val anchorCol =
        if (!names.contains(a)) lit(null).cast(LongType)
        else if (isFirst) when(size(col(a)) > 0, element_at(col(a), 1))
        else when(size(col(a)) > 0, element_at(col(a), -1))
      spanMerge(coalesce(greatest(startCol, anchorCol - 1), startCol))
    }
    // `^` START anchor: every match starts at the key's FIRST event,
    // so that event is the only attempt site regardless of strategy —
    // a key hosts one empty match iff it reports no match at all. One
    // per-key min + one anti-join against the matched keys.
    if (anchorStart) {
      val firsts = keyName match {
        case Some(k) =>
          evProj.groupBy(col(k)).agg(min(col("__site")).as("__site"))
        case None =>
          // a GLOBAL agg emits one row even over an empty input (NULL
          // min) — and matches is empty too, so the anti-join would
          // keep it and an empty table would emit a phantom empty-match
          // seed with a NULL anchor; the keyed groupBy branch has no
          // such row to begin with
          evProj.agg(min(col("__site")).as("__site"))
            .where(col("__site").isNotNull)
      }
      return keyName match {
        case Some(k) =>
          firsts.join(matches.select(col(k)).distinct(), Seq(k),
            "left_anti")
        case None =>
          // unkeyed: ANY reported match covers the single global site
          firsts.join(matches.select(lit(1).as("__m")).limit(1),
            lit(true), "left_anti")
      }
    }
    strategy match {
      case AfterMatchStrategy.SkipPastLastEvent =>
        spanMerge(array_max(concat(names.map(col): _*)))
      case AfterMatchStrategy.SkipToFirst(a) =>
        anchorSpans(a, isFirst = true)
      case AfterMatchStrategy.SkipToLast(a) =>
        anchorSpans(a, isFirst = false)
      case _ => // NoSkip / SkipToNext
        val starts = matches.select(
          keyName.map(col).toSeq :+ startCol.as("__site"): _*).distinct()
        evProj.join(starts, keyName.toSeq :+ "__site", "left_anti")
    }
  }

  /** Emission-time evaluation of one measure over a completed match —
    * the STREAMING tier: at emission the match still carries its bound
    * events with ALL their attributes, so every measure folds in
    * O(match) pure Scala with no join, no aggregation and no extra
    * state (the join-back exists in batch only because the relational
    * match frame keeps order ids alone). Semantics mirror the batch
    * tier exactly (pinned by `StreamingCepMeasuresSpec`'s batch==stream
    * gate): aggregates skip events missing the attribute, FIRST/LAST
    * take the first/last bound event's value (NULL if that event lacks
    * it), AVG is the floored integer quotient, and every measure over
    * an empty binding is NULL except COUNT = 0.
    */
  def evalMeasure(m: Measure, byName: Map[String, Vector[Event]],
      orderName: String,
      subsets: Map[String, Vector[String]] = Map.empty): Option[Long] = {
    require(!Fn.isNullary(m.fn),
      s"${m.fn.sqlName}() has no emission-time fold (batch-only; the " +
        "streaming operator rejects it at construction)")
    require(m.phys.isEmpty,
      "PREV/NEXT physical navigation has no emission-time fold — the " +
        "navigated row may be an unbound neighbor the match never " +
        "carried (batch-only; the streaming operator rejects it at " +
        "construction)")
    val binding = subsets.get(m.name) match {
      case None => byName.getOrElse(m.name, Vector.empty)
      case Some(members) =>
        // union binding in stream order (each member's vector already is)
        members.flatMap(n => byName.getOrElse(n, Vector.empty))
          .sortBy(_(orderName))
    }
    // FIRST(_, k) reads index k, LAST(_, k) index len-1-k; `lift` is
    // None out of range — measure-over-missing, matching the batch tier
    def firstAt: Option[Event] = binding.lift(m.offset)
    def lastAt: Option[Event] = binding.lift(binding.length - 1 - m.offset)
    // per-event value: the attribute, or the argument expression folded
    // over the event's attributes (AExpr.eval — None poisons the event)
    def evVal(a: String)(ev: Event): Option[Long] = ev.get(a)
    def valOf: Event => Option[Long] = (m.attr, m.argExpr) match {
      case (Some(a), _)    => evVal(a)
      case (None, Some(e)) => ev => AExpr.eval(e, a => ev.get(a))
      case (None, None)    => throw new IllegalStateException(
        "positional measure reached the attribute fold") // unreachable
    }
    if (!isAttrTier(m)) m.fn match {
      case Fn.Count => Some(binding.length.toLong)
      case Fn.First => firstAt.map(_(orderName))
      case Fn.Last  => lastAt.map(_(orderName))
      case other => throw new IllegalStateException(
        s"${other.sqlName} is attribute-only") // unreachable (ctor)
    }
    else m.fn match {
      case Fn.First => firstAt.flatMap(valOf)
      case Fn.Last  => lastAt.flatMap(valOf)
      case _ =>
        // DISTINCT (COUNT/SUM only, ctor-checked) collapses duplicate
        // per-event values BEFORE the fold — O(match) like the rest
        val rawVals = binding.flatMap(valOf)
        val vals = if (m.distinct) rawVals.distinct else rawVals
        // attributed COUNT is SQL's non-NULL count: 0, never NULL
        if (m.fn == Fn.Count) Some(vals.length.toLong)
        else if (vals.isEmpty) None
        else m.fn match {
          case Fn.Sum => Some(vals.sum)
          case Fn.Min => Some(vals.min)
          case Fn.Max => Some(vals.max)
          case Fn.Avg => Some(Math.floorDiv(vals.sum, vals.length.toLong))
          case _ => throw new IllegalStateException("unreachable")
        }
    }
  }

  /** Emission-time `CLASSIFIER()` — the pattern name of the match's
    * LAST bound event (the standard's final-classifier reading,
    * mirroring [[classifierCol]] exactly: the name whose binding ends
    * at the greatest order id; order ids are unique within a match, so
    * there is no tie). None for a match binding nothing — unreachable
    * from the NFA (acceptance requires a take) but total here.
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

  /** The Spark-SQL type of one measure item in a streaming sink row:
    * `CLASSIFIER()` is STRING, as is a `FIRST`/`LAST` over a
    * string-typed attribute (`strAttrs` — round 16); everything else
    * long. (A classifier inside arithmetic is rejected at `MExpr.Atom`
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

  /** Emission-time value of a measure item, boxed for a streaming sink
    * `Row`: the classifier's string, a string-attribute FIRST/LAST's
    * string (or COUNT's non-null long — `strAttrs`, round 16), or the
    * long fold ([[evalItem]]); null for measure-over-missing either way.
    */
  def evalItemBoxed(item: MeasureItem, byName: Map[String, Vector[Event]],
      orderName: String,
      subsets: Map[String, Vector[String]] = Map.empty,
      strAttrs: Set[String] = Set.empty): AnyRef =
    item match {
      case m: Measure if m.fn == Fn.Classifier =>
        evalClassifier(byName, orderName,
          if (m.name.isEmpty) None
          else Some(subsets.getOrElse(m.name, Vector(m.name)))).orNull
      case m: Measure if m.attr.exists(strAttrs.contains) =>
        // the string tier mirrors the batch join: FIRST/LAST read the
        // target event's (possibly absent → null) string value, COUNT
        // counts the events carrying one
        val binding = subsets.get(m.name) match {
          case None => byName.getOrElse(m.name, Vector.empty)
          case Some(members) =>
            members.flatMap(n => byName.getOrElse(n, Vector.empty))
              .sortBy(_(orderName))
        }
        val a = m.attr.get
        m.fn match {
          case Fn.First => binding.lift(m.offset).flatMap(_.getStr(a)).orNull
          case Fn.Last =>
            binding.lift(binding.length - 1 - m.offset)
              .flatMap(_.getStr(a)).orNull
          case Fn.Count =>
            val vs = binding.flatMap(_.getStr(a))
            Long.box((if (m.distinct) vs.distinct else vs).length.toLong)
          case other => throw new IllegalStateException(
            s"${other.sqlName} over a string attribute — rejected at " +
              "validation") // unreachable
        }
      case _ =>
        evalItem(item, byName, orderName, subsets).map(Long.box).orNull
    }

  /** Emission-time evaluation of a measure ITEM: a plain measure folds
    * via [[evalMeasure]]; an expression folds its atoms and combines
    * with long arithmetic (a NULL atom poisons the whole expression,
    * matching the batch tier's column arithmetic).
    */
  def evalItem(item: MeasureItem, byName: Map[String, Vector[Event]],
      orderName: String,
      subsets: Map[String, Vector[String]] = Map.empty): Option[Long] = {
    def eval(e: MExpr): Option[Long] = e match {
      case MExpr.Atom(m)   => evalMeasure(m, byName, orderName, subsets)
      case MExpr.Lit(v)    => Some(v)
      case MExpr.Add(l, r) => for (a <- eval(l); b <- eval(r)) yield a + b
      case MExpr.Sub(l, r) => for (a <- eval(l); b <- eval(r)) yield a - b
      case MExpr.Mul(l, r) => for (a <- eval(l); b <- eval(r)) yield a * b
      case MExpr.Div(l, r) => // JVM `/` truncates toward zero, like
        // IntegralDivide and DuckDB `//`; zero divisor -> NULL
        for (a <- eval(l); b <- eval(r) if b != 0L) yield a / b
    }
    item match {
      case m: Measure     => evalMeasure(m, byName, orderName, subsets)
      case e: ExprMeasure => eval(e.expr)
    }
  }

  /** One-call convenience: match `st.query` over `df` on the
    * Catalyst-planned operator and project `st.measures`, dispatching on
    * the statement's output mode (`ONE ROW PER MATCH` → [[project]],
    * `ALL ROWS PER MATCH` → [[allRows]]).
    */
  def run(df: DataFrame, st: CepSql.CepSqlStatement,
      spec: CepSpec): DataFrame = {
    val frames = SparkCep.matchPatternExec(df, st.query, spec)
    st.rowsPerMatch match {
      case CepSql.RowsPerMatch.OneRow =>
        project(frames, df, st.query, spec, st.measures, st.subsetMap)
      case CepSql.RowsPerMatch.OneRowShowEmpty =>
        project(frames, df, st.query, spec, st.measures, st.subsetMap,
          showEmpty = true)
      case CepSql.RowsPerMatch.AllRows =>
        allRows(frames, df, st.query, spec, st.measures, st.subsetMap,
          st.excluded.toSet)
      case CepSql.RowsPerMatch.AllRowsUnmatched =>
        allRows(frames, df, st.query, spec, st.measures, st.subsetMap,
          st.excluded.toSet, withUnmatched = true)
      case CepSql.RowsPerMatch.AllRowsShowEmpty =>
        allRows(frames, df, st.query, spec, st.measures, st.subsetMap,
          st.excluded.toSet, showEmpty = true)
    }
  }

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
    * (Earlier rounds derived an xxhash64 composite and joined the
    * original tuples back — retired with the hashed-key contract: the
    * join was an extra broadcast pass and a 64-bit collision both
    * merged partitions AND duplicated restore rows.)
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

  /** k MEASURED statements on ONE shared scan: match every member with
    * `SparkCep.matchPatternsShared` (one scan, one union pushdown
    * filter, one key exchange, one state pass) and project each
    * member's MEASURES from its slice of the shared output. The shared
    * operator's reporting shape serializes each match's bound order ids
    * (`','` within a component, `';'` across components in declared
    * order); this reconstructs the per-name binding arrays with pure
    * column functions — `split` keeps trailing empty components, and an
    * empty component parses to an empty array, exactly the
    * possibly-empty convention [[project]] consumes. `ALL ROWS PER
    * MATCH` members (plain, WITH UNMATCHED ROWS, SHOW EMPTY MATCHES)
    * ride the SAME slice: order ids suffice — [[allRows]] already
    * reconstructs the per-event rows from binding arrays + the events
    * table, so k ALL-ROWS statements cost one scan and one NFA sweep
    * like their ONE-ROW siblings (each member then pays its own
    * explode + event join, which it would pay solo too). ONE ROW
    * members need a non-empty MEASURES list ([[project]] requires
    * one); ALL ROWS members may measure nothing (the mode's own
    * relabeling columns remain). Solo-vs-shared equality is
    * differential-pinned in `CepMeasuresSpec` (ONE ROW) and
    * `CepSharedSinglePassSpec` (ALL ROWS shapes).
    *
    * The shared frame is MATERIALIZED ONCE before the per-member slices
    * are built: without that, each returned frame carries its own copy
    * of the full shared `CepMatchExec` subtree, and although ReuseExchange
    * dedupes the scan and key shuffle below the operator, the NFA sweep
    * itself re-runs k times — each time matching all k patterns —
    * asymptotically worse than k solo passes. With a [[graft.ops
    * .CacheLease]] the frame is `persist`ed (MEMORY_AND_DISK, replayable
    * on executor loss) and tracked on the lease, which the caller closes
    * after consuming the results; without one it is `localCheckpoint`ed
    * eagerly — self-releasing (swept by the ContextCleaner on GC and by
    * `CacheScope.withCaches` at harness boundaries) at the cost of
    * cut lineage, the right default for one-shot jobs. Either way the
    * match frame being materialized is the SMALL side (matches, not
    * events). Single execution is pinned by `CepSharedSinglePassSpec`
    * via the skew gauge's event count.
    *
    * @param skewAcc passed through to the shared operator (fires once
    *   per fed event — with the materialization above, exactly once).
    */
  def runShared(df: DataFrame,
      stmts: Seq[(String, CepSql.CepSqlStatement)], spec: CepSpec,
      maxRunsPerKey: Option[Int] = None,
      lease: Option[graft.ops.CacheLease] = None,
      skewAcc: Option[CepSkewAccumulator] = None)
      : Seq[(String, DataFrame)] = {
    require(stmts.nonEmpty, "runShared: empty member set")
    stmts.foreach { case (n, st) =>
      require(st.measures.nonEmpty ||
        st.rowsPerMatch != CepSql.RowsPerMatch.OneRow &&
        st.rowsPerMatch != CepSql.RowsPerMatch.OneRowShowEmpty,
        s"runShared: member '$n' has no MEASURES — use " +
          "SparkCep.matchPatternsShared for the plain binding shape")
    }
    val sharedPlan = SparkCep.matchPatternsShared(df,
      stmts.map { case (n, st) => n -> st.query }, spec, maxRunsPerKey,
      skewAcc)
    val shared = lease match {
      case Some(l) => l.track(sharedPlan.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      case None => sharedPlan.localCheckpoint(eager = true)
    }
    val keyOut = spec.keyCol.map(col).toSeq
    stmts.map { case (n, st) =>
      val names = SparkCep.patternNames(st.query.patseq)
      val parts = split(col("binding"), ";", -1)
      val arrays = names.zipWithIndex.map { case (nm, i) =>
        transform(
          filter(split(element_at(parts, i + 1), ",", -1),
            s => s =!= lit("")),
          s => s.cast(LongType)).as(nm)
      }
      val frames = shared.where(col("qname") === n)
        .select(keyOut ++ arrays: _*)
      // a SHOW EMPTY / UNMATCHED member re-consumes its slice: the
      // frame below the mode's own localCheckpoint is already the
      // materialized shared one, so the sweep still runs once for the
      // whole set
      n -> (st.rowsPerMatch match {
        case CepSql.RowsPerMatch.OneRow =>
          project(frames, df, st.query, spec, st.measures, st.subsetMap)
        case CepSql.RowsPerMatch.OneRowShowEmpty =>
          project(frames, df, st.query, spec, st.measures, st.subsetMap,
            showEmpty = true)
        case CepSql.RowsPerMatch.AllRows =>
          allRows(frames, df, st.query, spec, st.measures, st.subsetMap,
            st.excluded.toSet)
        case CepSql.RowsPerMatch.AllRowsUnmatched =>
          allRows(frames, df, st.query, spec, st.measures, st.subsetMap,
            st.excluded.toSet, withUnmatched = true)
        case CepSql.RowsPerMatch.AllRowsShowEmpty =>
          allRows(frames, df, st.query, spec, st.measures, st.subsetMap,
            st.excluded.toSet, showEmpty = true)
      })
    }
  }

  /** One-call `ALL ROWS PER MATCH` over the Catalyst-planned operator. */
  def runAllRows(df: DataFrame, st: CepSql.CepSqlStatement,
      spec: CepSpec): DataFrame =
    allRows(SparkCep.matchPatternExec(df, st.query, spec), df, st.query,
      spec, st.measures, st.subsetMap, st.excluded.toSet,
      withUnmatched =
        st.rowsPerMatch == CepSql.RowsPerMatch.AllRowsUnmatched,
      showEmpty =
        st.rowsPerMatch == CepSql.RowsPerMatch.AllRowsShowEmpty)

  def runAllRows(df: DataFrame, st: CepSql.CepSqlStatement): DataFrame =
    runAllRows(df, st, st.spec)
}
