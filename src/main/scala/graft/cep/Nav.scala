package graft.cep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** SQL:2016 MATCH_RECOGNIZE row navigation — `PREV(attr[, k])` /
  * `NEXT(attr[, k])` inside DEFINE `WHERE`/`UNTIL` conditions.
  *
  * Navigation is PHYSICAL: `PREV(v)` is attribute `v` of the previous
  * row of the engine's input (the key's partition, in `ORDER BY` order),
  * regardless of whether that row binds to anything — exactly the SQL
  * semantics, where the pattern runs over the full partition. It is NOT
  * "the previous bound event" (that is what `LET` registers and
  * iterative conditions express).
  *
  * Representation: `CepSql` rewrites `PREV(v, 2)` to the reserved
  * attribute name `__nav_p2_v` (NEXT → `__nav_n2_v`) before the
  * condition parse, so the whole engine below the text surface sees
  * plain attributes — the DST/Executor/CompiledExpr layers need no
  * navigation concept at all. `SparkCep.prepare` detects the reserved
  * names in the query's free references and materializes them with
  * `lag`/`lead` window columns BEFORE the pre-NFA pushdown filter
  * (navigation must see rows the pushdown would drop; the window's
  * hash-partitioning on the key is the same exchange the NFA needs, so
  * AQE reuses it and the extra cost is one in-partition `lag`).
  *
  * NULL semantics: at a partition edge (or over a NULL attribute) SQL's
  * `PREV` is NULL and any predicate over it is not-true. The engine's
  * condition language has no NULL (an absent attribute raises, like the
  * reference's Python NameError) — so the text parse wraps every
  * boolean ATOM that references navigation with a guard on the
  * always-present 0/1 indicator attribute (`__nav_has_p2_v`):
  * `v > PREV(v)` becomes `__nav_has_p1_v and v > PREV(v)`, and the
  * short-circuiting `and` never dereferences the missing value. Guards
  * wrap atoms, not whole conditions, so `v > PREV(v) or v == 0` still
  * matches a first row with `v == 0` — SQL's three-valued outcome
  * exactly, without three-valued logic in the engine.
  *
  * `prev = true` for `PREV`, offset `k >= 1` (`PREV(v)` = `PREV(v, 1)`).
  */
final case class Nav(prev: Boolean, base: String, k: Int) {
  def valueName: String = s"__nav_${if (prev) "p" else "n"}${k}_$base"
  def hasName: String = s"__nav_has_${if (prev) "p" else "n"}${k}_$base"
  /** The text form this name renders back to. */
  def sqlForm: String =
    (if (prev) "PREV(" else "NEXT(") + base +
      (if (k == 1) ")" else s", $k)")
}

object Nav {

  /** Reserved attribute-name prefix. Statement text may not contain it
    * literally (rejected at parse), so every `__nav_*` reference in a
    * parsed query provably came from the `PREV`/`NEXT` rewrite.
    */
  val Prefix = "__nav_"
  private val HasPrefix = "__nav_has_"
  private val ValueRe = """__nav_([pn])(\d+)_(.+)""".r

  /** Decode a VALUE name (`__nav_p2_v`); `None` for has-indicators and
    * non-navigation names.
    */
  def fromValueName(s: String): Option[Nav] =
    if (s.startsWith(HasPrefix)) None
    else s match {
      case ValueRe(pn, k, base) => Some(Nav(pn == "p", base, k.toInt))
      case _                    => None
    }

  /** Decode either a value or a has-indicator name. */
  def fromAnyName(s: String): Option[Nav] =
    if (s.startsWith(HasPrefix))
      s.stripPrefix(HasPrefix) match {
        case ValueRe(pn, k, base) => Some(Nav(pn == "p", base, k.toInt))
        case _                    => None
      }
    else fromValueName(s)

  /** Every navigation the query's conditions reference (DEFINE WHERE,
    * UNTIL stops, negation conditions), deterministic order.
    */
  def ofQuery(q: CepQuery): Vector[Nav] =
    CepSql.patternRefs(q.patseq).toVector.flatMap(fromAnyName)
      .distinct.sortBy(_.valueName)

  // ------------------------------------------------------------- parse side

  private val CallRe =
    """\b(PREV|NEXT)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*(?:,\s*(\d+)\s*)?\)""".r

  /** Rewrite `PREV(attr[, k])` / `NEXT(attr[, k])` calls in a condition
    * text to their reserved attribute names, before `Expr.parse`.
    */
  def rewriteText(text: String): String = {
    require(!text.contains(Prefix),
      s"CEP SQL: '$Prefix' is a reserved name prefix (write PREV(attr)" +
        " / NEXT(attr) instead of the internal form)")
    CallRe.replaceAllIn(text, m => {
      val k = Option(m.group(3)).map { d =>
        val n = try d.toInt catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"CEP SQL: navigation offset '$d' out of range")
        }
        require(n >= 1,
          s"CEP SQL: navigation offset must be >= 1, got $n " +
            s"(${m.group(1)}(${m.group(2)}, $n))")
        n
      }.getOrElse(1)
      Nav(m.group(1) == "PREV", m.group(2), k).valueName
    })
  }

  /** Wrap every boolean ATOM referencing navigation with has-indicator
    * guards (see class doc). `and`/`or` recurse; anything else — a
    * comparison, a `not`, a bare truthiness term — is an atom and is
    * wrapped wholesale, which reproduces SQL's "any predicate over NULL
    * is not-true" without descending into arithmetic.
    */
  def guard(e: Expr): Expr = e match {
    case Expr.And(l, r) => Expr.And(guard(l), guard(r))
    case Expr.Or(l, r)  => Expr.Or(guard(l), guard(r))
    case atom =>
      val navs = Expr.refs(atom).filter(n => fromValueName(n).isDefined)
      if (navs.isEmpty) atom
      else navs.toVector.sorted.foldRight(atom)((n, acc) =>
        Expr.And(Expr.Ref(HasPrefix + n.stripPrefix(Prefix)), acc))
  }

  // ------------------------------------------------------------ render side

  /** Exact inverse of [[guard]]: drop the has-indicator conjuncts the
    * parse added (user text cannot contain `__nav_` refs, so every such
    * conjunct is a guard).
    */
  def stripGuards(e: Expr): Expr = e match {
    case Expr.And(Expr.Ref(h), r) if h.startsWith(HasPrefix) =>
      stripGuards(r)
    case Expr.And(l, r) => Expr.And(stripGuards(l), stripGuards(r))
    case Expr.Or(l, r)  => Expr.Or(stripGuards(l), stripGuards(r))
    case atom           => atom
  }

  /** Map navigation value refs back to their `PREV(...)`/`NEXT(...)`
    * text form (as a pseudo-identifier the expression printer emits
    * verbatim and the parse rewrite re-lexes to the same name).
    */
  def display(e: Expr): Expr = e match {
    case Expr.Ref(n) =>
      fromValueName(n).map(nv => Expr.Ref(nv.sqlForm)).getOrElse(e)
    case Expr.Arith(op, l, r) => Expr.Arith(op, display(l), display(r))
    case Expr.Cmp(op, l, r)   => Expr.Cmp(op, display(l), display(r))
    case Expr.And(l, r)       => Expr.And(display(l), display(r))
    case Expr.Or(l, r)        => Expr.Or(display(l), display(r))
    case Expr.Not(x)          => Expr.Not(display(x))
    case Expr.Neg(x)          => Expr.Neg(display(x))
    case _                    => e
  }

  // ---------------------------------------------------------- Spark columns

  /** Materialize the navigation columns on the raw input frame:
    * `lag`/`lead` of the base attribute (long-cast; a STRING base keeps
    * its type, like `SparkCep.attrProj`) over the key partition in input
    * order, plus the 0/1 has-indicator. Must run on
    * the UN-pushed-down frame (navigation observes rows the pre-NFA
    * filter drops) but after the null-key drop (null-key rows are not
    * part of any sequence — the engine's input excludes them). Every
    * value column is one window expression of the SAME projection, so
    * all navigations share one Window node: one per-key sort pass.
    */
  def addColumns(df: DataFrame, partKey: Option[Column], orderCol: String,
      navs: Seq[Nav]): DataFrame = {
    val w = partKey match {
      case Some(k) => Window.partitionBy(k).orderBy(col(orderCol))
      case None    => Window.orderBy(col(orderCol))
    }
    val values = navs.map { nv =>
      require(df.columns.contains(nv.base),
        s"CEP navigation ${nv.sqlForm}: no column '${nv.base}' in the " +
          "input")
      val base =
        if (df.schema(nv.base).dataType == StringType) col(nv.base)
        else col(nv.base).cast(LongType)
      (if (nv.prev) lag(base, nv.k).over(w) else lead(base, nv.k).over(w))
        .as(nv.valueName)
    }
    df.select(col("*") +: values: _*)
      .select(col("*") +: navs.map(nv =>
        col(nv.valueName).isNotNull.cast(LongType).as(nv.hasName)): _*)
  }

  /** Streaming-side navigation: augment ONE event from its key's
    * history of previously-fed PHYSICAL rows (newest last, already
    * trimmed to the maximum offset). `PREV` only — `NEXT` references
    * rows the unbounded stream has not produced (the operators reject it
    * up front). Absent/NULL base at the offset row leaves the value
    * attribute absent and the indicator 0, byte-for-byte
    * [[augmentEvents]]' look-back semantics, so the streaming feed
    * equals the batch window path row-for-row.
    */
  def augmentFromHistory(ev: Event, hist: Vector[Event],
      navs: Seq[Nav]): Event =
    withValues(ev, navs, { nv =>
      require(nv.prev, s"augmentFromHistory: ${nv.sqlForm} is not PREV")
      val j = hist.length - nv.k
      if (j < 0) None else Some(hist(j))
    })

  /** `ev` plus each navigation's value read from the row `at` returns:
    * a long base into `attrs`, a STRING base into `strs` (the batch
    * decode of an [[addColumns]] column), and the 0/1 indicator. No
    * row, or an absent/NULL base on it, leaves the value attribute
    * absent and the indicator 0.
    */
  private[cep] def withValues(ev: Event, navs: Seq[Nav],
      at: Nav => Option[Event]): Event = {
    val extra = Vector.newBuilder[(String, Long)]
    var strs = ev.strs
    navs.foreach { nv =>
      val row = at(nv)
      row.flatMap(_.get(nv.base)) match {
        case Some(x) =>
          extra += nv.valueName -> x
          extra += nv.hasName -> 1L
        case None => row.flatMap(_.getStr(nv.base)) match {
          case Some(x) =>
            strs :+= nv.valueName -> x
            extra += nv.hasName -> 1L
          case None =>
            extra += nv.hasName -> 0L
        }
      }
    }
    Event(ev.tpe, ev.attrs ++ extra.result(), strs)
  }

  /** Project an event to the attributes the navigation history needs —
    * the stored history is O(maxK × |bases|) per key, not O(row width).
    * The type is dropped too (navigation reads attributes only).
    */
  def historyEntry(ev: Event, bases: Set[String]): Event =
    Event("", ev.attrs.filter(a => bases.contains(a._1)),
      ev.strs.filter(a => bases.contains(a._1)))

  /** Pure-Scala twin of [[addColumns]] for the executor-level
    * differentials: augment an ordered event vector (ONE key's
    * partition) with the navigation attributes. An absent/NULL base at
    * the offset row leaves the value attribute absent and the indicator
    * 0 — byte-for-byte the semantics the Spark path's null-skipping
    * feed loop produces.
    */
  def augmentEvents(events: Vector[Event], navs: Seq[Nav])
      : Vector[Event] =
    events.zipWithIndex.map { case (ev, i) =>
      withValues(ev, navs, { nv =>
        val j = if (nv.prev) i - nv.k else i + nv.k
        if (j < 0 || j >= events.length) None else Some(events(j))
      })
    }
}
