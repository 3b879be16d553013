package graft.cep

/** Pattern-sequence AST, the user-facing query surface.
  *
  * One case class per AST node kind of the reference
  * (`/root/reference/reflinkcep/compile.py:41-49` dispatch set:
  * `spat | lpat | lpat-inf | combine | gpat | gpat-times | gpat-inf`).
  */
sealed trait Pattern extends Serializable

/** Per-run data register: `initial` value, `update` expression applied on
  * every take (`/root/reference/reflinkcep/compile.py:22-27`).
  */
final case class VarDef(name: String, initial: Long, update: Expr)
    extends Serializable

sealed abstract class Contiguity(val yamlName: String) extends Serializable
object Contiguity {
  case object Strict extends Contiguity("strict")
  case object Relaxed extends Contiguity("relaxed")
  case object NdRelaxed extends Contiguity("nd-relaxed")
  def fromName(s: String): Contiguity = s match {
    case "strict"     => Strict
    case "relaxed"    => Relaxed
    case "nd-relaxed" => NdRelaxed
    case other => throw new IllegalArgumentException(s"bad contiguity: $other")
  }
}

object Pattern {
  /** Match exactly one event of type `event` satisfying `cndt`. */
  final case class Spat(
      name: String,
      event: String,
      cndt: Expr,
      vars: Vector[VarDef] = Vector.empty
  ) extends Pattern

  /** Bounded loop: `from..to` events, per-iteration contiguity.
    *
    * `greedy` (beyond-parity — FlinkCEP's `.greedy()` quantifier; the
    * reference's loops are reluctant by NFA construction): the loop
    * refuses to stop at an event it could consume — the proceed-ε into
    * the following pattern is suppressed whenever the loop's take edge
    * fires on the same event (lookahead-1 branch priority, exactly
    * FlinkCEP's NFA semantics; internal relaxed/nd-relaxed ignore forks
    * are untouched). A greedy loop must be followed by a non-optional
    * pattern — greedy-in-trailing-position is rejected at compile time,
    * as in FlinkCEP ("greedy not supported for the last pattern").
    */
  final case class Lpat(
      name: String,
      event: String,
      cndt: Expr,
      contiguity: Contiguity,
      from: Int,
      to: Int,
      vars: Vector[VarDef] = Vector.empty,
      greedy: Boolean = false
  ) extends Pattern

  /** Unbounded loop: `>= from` events; optional `until` stop-condition.
    * `greedy` as on [[Lpat]] (the cut guard is the post-`until` take
    * predicate, so an until-stopped loop may proceed).
    */
  final case class LpatInf(
      name: String,
      event: String,
      cndt: Expr,
      contiguity: Contiguity,
      from: Int,
      until: Option[Expr] = None,
      vars: Vector[VarDef] = Vector.empty,
      greedy: Boolean = false
  ) extends Pattern

  /** Sequence concatenation with boundary contiguity. */
  final case class Combine(
      contiguity: Contiguity,
      left: Pattern,
      right: Pattern
  ) extends Pattern

  /** Negative-pattern link mode (beyond-parity: FlinkCEP `notNext` /
    * `notFollowedBy`; the reference's dispatch set is closed —
    * `compile.py:41-49` — so neither exists there).
    */
  sealed abstract class NegMode(val yamlName: String) extends Serializable
  object NegMode {
    /** The event IMMEDIATELY after `left`'s match must not match. */
    case object NotNext extends NegMode("not_next")
    /** NO event between `left`'s match and `right`'s first event may
      * match.
      */
    case object NotFollowedBy extends NegMode("not_followed_by")
    def fromName(s: String): NegMode = s match {
      case "not_next"        => NotNext
      case "not_followed_by" => NotFollowedBy
      case other => throw new IllegalArgumentException(s"bad neg mode: $other")
    }
  }

  /** The negated component of a `CombineNot`: type + condition, no
    * capture (a not-pattern matches nothing, so it binds no events and
    * contributes no output column — FlinkCEP semantics). `name` is for
    * display/YAML only.
    */
  final case class NegSpec(name: String, event: String, cndt: Expr)
      extends Serializable

  /** Sequence concatenation with a NEGATIVE pattern at the boundary:
    * `left`, then NOT `neg` (per `mode`), then `right`, with `contiguity`
    * governing the left→right boundary exactly as in `Combine`.
    *
    * Semantics (hand-derived from FlinkCEP's documented behavior, with
    * divergences spelled out in `DstCompiler.compileCombineNot`):
    *  - `NotNext`: a run that completes `left` is killed if the next
    *    event fed to the NFA matches `neg` (type + condition, evaluated
    *    with the run's data registers) — even if that event also matches
    *    `right`'s head; otherwise matching proceeds unchanged.
    *  - `NotFollowedBy`: every event from after `left`'s match up to (and
    *    including) the one `right` first takes is checked; any that
    *    matches `neg` kills the run. Events after `right`'s first take
    *    are out of scope ("between two events", the FlinkCEP reading).
    *
    * A trailing negative pattern is structurally impossible (`right` is
    * required) — FlinkCEP likewise rejects a sequence ending in
    * `notFollowedBy`. An optional (ε-accepting) `left` is rejected at
    * compile time, mirroring FlinkCEP's "NOT pattern cannot be preceded
    * by an optional one".
    */
  final case class CombineNot(
      contiguity: Contiguity,
      left: Pattern,
      neg: NegSpec,
      mode: NegMode,
      right: Pattern
  ) extends Pattern

  /** Alternation — match `left` OR `right` (beyond-parity: SQL:2016
    * MATCH_RECOGNIZE `a | b`; neither the reference's dispatch set —
    * `compile.py:41-49` — nor FlinkCEP has pattern-level alternation).
    *
    * Semantics: the compiled NFA forks at the alternation point (one ε
    * edge per branch, LEFT FIRST — branch priority follows textual
    * order, so under NoSkip a left-branch match precedes a right-branch
    * match completed by the same event). Branches are independent
    * sub-automata with their own output maps: a match binds ONLY the
    * names of the branch it went through; the other branch's names
    * project as empty bindings (empty arrays in the match frame, the
    * same convention as a `{0,n}` loop that took zero events). Under
    * `NoSkip` the match multiset equals the union of the multisets of
    * the two branch rewrites (pattern with `left` substituted for the
    * alternation, plus pattern with `right`) — the differential spec
    * pins this. Skip strategies act on the single fused run set, so
    * they CAN interact across branches (a left-branch match may prune
    * right-branch partials) — that is the defined semantics, as in SQL.
    *
    * Branch pattern names and LET register names must be disjoint
    * (checked at compile): a shared sink would silently merge the
    * branches' bindings, and a shared register would merge `eta0`.
    */
  final case class Alt(left: Pattern, right: Pattern) extends Pattern

  /** Permutation — match the units in ANY order (beyond-parity:
    * SQL:2016 MATCH_RECOGNIZE `PERMUTE(a, b, c)`; neither the
    * reference's dispatch set — `compile.py:41-49` — nor FlinkCEP has
    * it). Semantically sugar for the alternation of every ordering of
    * the units, in LEXICOGRAPHIC order of the unit list (the SQL:2016
    * expansion — `PERMUTE(a, b)` ≡ `a b | b a`, so the textual-order
    * branch is the priority branch), with units sequenced STRICTLY
    * within a branch (juxtaposition, as in the standard's expansion).
    *
    * UNLIKE a hand-written alternation, the branches legitimately share
    * every pattern name and LET register: each branch binds the SAME
    * units (same DEFINEs, same initials), a run walks exactly one
    * branch, and every name binds in every match — so the compiler
    * skips the disjoint-branch check it imposes on `Alt` (where shared
    * names would be an authoring mistake).
    *
    * COMPILED as a subset lattice, not the k! union: one junction per
    * set of already-matched units, a copy of each remaining unit's
    * automaton between adjacent junctions — so the per-event start
    * sweep is k head predicates, not k! (`DstCompiler
    * .compilePermuteLattice`; 20× at k = 5 on the sparse-stream probe,
    * `DrivePermuteScale`). One observable consequence: a match's
    * OUTPUT MAP lists the units in DECLARATION order regardless of
    * which ordering bound (the shared accepting junction's out map) —
    * the relational column contract, pinned in `PermuteSpec`.
    *
    * The UNITS must bind pairwise-disjoint names and registers (the
    * same unit set is shared across branches, but within one branch
    * each name still binds one sink). 2–5 units: the match/run
    * semantics are still the k! expansion's (120 orderings at k = 5 —
    * a unit-dense stream can keep that many live runs per start).
    */
  final case class Permute(units: Vector[Pattern]) extends Pattern {
    require(units.length >= 2, "PERMUTE needs at least 2 units")
    require(units.length <= 5,
      s"PERMUTE of ${units.length} units expands to ${units.length}! " +
        "branches — capped at 5 (120 branches); restructure the pattern")
    for (i <- units.indices; j <- i + 1 until units.length) {
      val dupN = Pattern.names(units(i)).toSet
        .intersect(Pattern.names(units(j)).toSet)
      require(dupN.isEmpty,
        s"PERMUTE units must bind disjoint pattern names; " +
          s"${dupN.toVector.sorted.mkString(", ")} appear(s) in both")
      val dupX = Pattern.registers(units(i))
        .intersect(Pattern.registers(units(j)))
      require(dupX.isEmpty,
        s"PERMUTE units must declare disjoint LET registers; " +
          s"${dupX.toVector.sorted.mkString(", ")} appear(s) in both")
    }
  }

  /** The SQL:2016 expansion of a [[Permute]]: one strict-contiguity
    * sequence per ordering of the units, in lexicographic order of the
    * original unit list (branch priority = textual order, so
    * `PERMUTE(a, b)` prefers `a b`).
    */
  def permuteBranches(p: Permute): Vector[Pattern] =
    p.units.indices.toVector.permutations.map { ix =>
      ix.map(p.units).reduceLeft[Pattern](Combine(Contiguity.Strict, _, _))
    }.toVector

  /** Declared pattern names in left-to-right order (negation guards and
    * group labels bind nothing). The Spark layer's
    * `SparkCep.patternNames` delegates here.
    */
  def names(p: Pattern): Vector[String] = p match {
    case s: Spat       => Vector(s.name)
    case l: Lpat       => Vector(l.name)
    case l: LpatInf    => Vector(l.name)
    case c: Combine    => names(c.left) ++ names(c.right)
    case c: CombineNot => names(c.left) ++ names(c.right)
    case a: Alt        => names(a.left) ++ names(a.right)
    // every unit binds in every match; declaration order is unit order
    case p: Permute    => p.units.flatMap(names)
    case g: Gpat       => names(g.child)
    case g: GpatTimes  => names(g.child)
    case g: GpatInf    => names(g.child)
  }

  /** Declared LET register names. */
  def registers(p: Pattern): Set[String] = p match {
    case s: Spat       => s.vars.map(_.name).toSet
    case l: Lpat       => l.vars.map(_.name).toSet
    case l: LpatInf    => l.vars.map(_.name).toSet
    case c: Combine    => registers(c.left) ++ registers(c.right)
    case c: CombineNot => registers(c.left) ++ registers(c.right)
    case a: Alt        => registers(a.left) ++ registers(a.right)
    case p: Permute    => p.units.map(registers).reduce(_ ++ _)
    case g: Gpat       => registers(g.child)
    case g: GpatTimes  => registers(g.child)
    case g: GpatInf    => registers(g.child)
  }

  /** Every condition expression the pattern evaluates: take conditions,
    * negative-spec conditions, `until` stop-conditions and LET register
    * updates — the build-time string-typing audit walks these
    * (`SparkCep.checkStrTyping`).
    */
  def conditions(p: Pattern): Vector[Expr] = p match {
    case s: Spat       => s.cndt +: s.vars.map(_.update)
    case l: Lpat       => l.cndt +: l.vars.map(_.update)
    case l: LpatInf    => (l.cndt +: l.vars.map(_.update)) ++ l.until
    case c: Combine    => conditions(c.left) ++ conditions(c.right)
    case c: CombineNot =>
      conditions(c.left) ++ conditions(c.right) :+ c.neg.cndt
    case a: Alt        => conditions(a.left) ++ conditions(a.right)
    case p: Permute    => p.units.flatMap(conditions)
    case g: Gpat       => conditions(g.child)
    case g: GpatTimes  => conditions(g.child)
    case g: GpatInf    => conditions(g.child) ++ g.until
  }

  /** Transparent grouping. */
  final case class Gpat(child: Pattern) extends Pattern

  /** Repeat child group `from..to` times. `greedy` as on [[Lpat]],
    * lifted to group iterations: the group's proceed-ε is suppressed
    * whenever the NEXT iteration's head take (any consuming edge in the
    * ε-closure of the next copy's start) fires on the same event.
    */
  final case class GpatTimes(child: Pattern, from: Int, to: Int,
      greedy: Boolean = false)
      extends Pattern

  /** Repeat child group `>= from` times; optional `until`; `greedy` as
    * on [[GpatTimes]] (the cut guards are the post-`until` head takes).
    */
  final case class GpatInf(
      child: Pattern,
      from: Int,
      until: Option[Expr] = None,
      greedy: Boolean = false
  ) extends Pattern

  /** Pretty-printer mirroring the reference's `ast_repr`
    * (`/root/reference/reflinkcep/ast.py:16-58`): contiguity glyphs
    * `⋅ ∘ ⊙`, loops as `_g{n,m}` suffixes, groups parenthesised,
    * `U(expr)` for until.
    */
  def repr(p: Pattern): String = {
    def glyph(c: Contiguity): String = c match {
      case Contiguity.Strict    => "⋅"
      case Contiguity.Relaxed   => "∘"
      case Contiguity.NdRelaxed => "⊙"
    }
    p match {
      case s: Spat => s"${s.name}:${s.event}:[${ExprRepr(s.cndt)}]"
      // `!` after the braces marks a greedy loop (no reference repr
      // exists for greedy — the reference's loops are all reluctant)
      case l: Lpat =>
        val g = if (l.greedy) "!" else ""
        s"${l.name}:${l.event}:[${ExprRepr(l.cndt)}]_${glyph(l.contiguity)}{${l.from},${l.to}}$g"
      case l: LpatInf =>
        val u = l.until.map(e => s"U(${ExprRepr(e)})").getOrElse("")
        val g = if (l.greedy) "!" else ""
        s"${l.name}:${l.event}:[${ExprRepr(l.cndt)}]_${glyph(l.contiguity)}{${l.from},inf}$g$u"
      case c: Combine => s"${repr(c.left)}${glyph(c.contiguity)}${repr(c.right)}"
      // beyond-parity node — no reference repr exists; SQL's `|`,
      // parenthesised so nesting stays re-readable
      case a: Alt => s"(${repr(a.left)} | ${repr(a.right)})"
      // beyond-parity node — SQL's PERMUTE, units comma-separated
      case p: Permute => s"PERMUTE(${p.units.map(repr).mkString(", ")})"
      // beyond-parity node — no reference repr exists; `!next[...]` /
      // `!fby[...]` between the sides keeps the string re-readable
      case c: CombineNot =>
        val neg = s"${c.neg.name}:${c.neg.event}:[${ExprRepr(c.neg.cndt)}]"
        val kind = c.mode match {
          case NegMode.NotNext       => "!next"
          case NegMode.NotFollowedBy => "!fby"
        }
        s"${repr(c.left)}${glyph(c.contiguity)}$kind($neg)${repr(c.right)}"
      case g: Gpat    => s"(${repr(g.child)})"
      case g: GpatTimes =>
        val gr = if (g.greedy) "!" else ""
        s"(${repr(g.child)}){${g.from},${g.to}}$gr"
      case g: GpatInf =>
        val u = g.until.map(e => s"U(${ExprRepr(e)})").getOrElse("")
        val gr = if (g.greedy) "!" else ""
        s"(${repr(g.child)}){${g.from},inf}$gr$u"
    }
  }

  /** Render an expression back to the reference's condition syntax, with
    * precedence parentheses so the output re-parses to the same AST
    * (e.g. `(a or b) and c`, `-(a + b)`, `a - (b - c)`).
    */
  private[cep] object ExprRepr {
    private def prec(e: Expr): Int = e match {
      case _: Expr.Or  => 1
      case _: Expr.And => 2
      case _: Expr.Not => 3
      case _: Expr.Cmp => 4
      case _: Expr.InSet => 4
      case _: Expr.Like => 4
      case Expr.Arith(op, _, _) => if (op == "+" || op == "-") 5 else 6
      case _: Expr.Neg => 7
      case _           => 10
    }

    def apply(e: Expr): String = {
      // left-assoc binary: parenthesise a left child of lower precedence
      // and a right child of lower-or-equal precedence
      def lhs(c: Expr) = if (prec(c) < prec(e)) s"(${apply(c)})" else apply(c)
      def rhs(c: Expr) = if (prec(c) <= prec(e)) s"(${apply(c)})" else apply(c)
      e match {
        case Expr.Lit(v)          => v.toString
        case Expr.BoolLit(b)      => if (b) "True" else "False"
        case Expr.StrLit(s)       => s"'$s'"
        case Expr.Ref(n)          => n
        case Expr.InSet(x, vs) =>
          s"${rhs(x)} in (${vs.map(v => s"'$v'").mkString(", ")})"
        case Expr.Like(x, p, esc) =>
          s"${rhs(x)} like '$p'" + esc.fold("")(e => s" escape '$e'")
        case Expr.Arith(op, l, r) => s"${lhs(l)} $op ${rhs(r)}"
        // comparison is non-associative in our grammar — parenthesise an
        // equal-precedence child on either side
        case Expr.Cmp(op, l, r) => s"${rhs(l)} $op ${rhs(r)}"
        case Expr.And(l, r)       => s"${lhs(l)} and ${rhs(r)}"
        case Expr.Or(l, r)        => s"${lhs(l)} or ${rhs(r)}"
        case Expr.Not(x)          => s"not (${apply(x)})"
        case Expr.Neg(x) =>
          if (prec(x) < 7) s"-(${apply(x)})" else s"-${apply(x)}"
      }
    }
  }

  /** Does the pattern contain an UNBOUNDED loop (`lpat-inf` /
    * `gpat-inf`)? These are the shapes whose per-key live-run set can
    * grow without limit on a pathological key (hot entity + permissive
    * contiguity + NoSkip keeps every partial run alive forever), which
    * is how a distributed CEP job OOMs at corpus scale. Used by
    * `SparkCep.resolveMaxRuns` to apply the default state valve.
    */
  def hasUnboundedLoop(p: Pattern): Boolean = p match {
    case _: LpatInf | _: GpatInf => true
    case c: Combine    => hasUnboundedLoop(c.left) || hasUnboundedLoop(c.right)
    case c: CombineNot => hasUnboundedLoop(c.left) || hasUnboundedLoop(c.right)
    case a: Alt        => hasUnboundedLoop(a.left) || hasUnboundedLoop(a.right)
    case p: Permute    => p.units.exists(hasUnboundedLoop)
    case g: Gpat       => hasUnboundedLoop(g.child)
    case g: GpatTimes  => hasUnboundedLoop(g.child)
    case _: Spat | _: Lpat => false
  }

  /** Whether the pattern can match the EMPTY event sequence — SQL:2016
    * "nullability", the gate for `SHOW EMPTY MATCHES` sites
    * (`CepMeasures.run`): an empty match can
    * occur only when the whole pattern accepts zero events.
    *
    *  - a single event (`Spat`) never does; a loop does iff its lower
    *    bound is 0;
    *  - a sequence (`Combine`) does iff BOTH sides do; an alternation
    *    iff EITHER branch; a `PERMUTE` iff EVERY unit;
    *  - a group does iff its child does, or its own quantifier admits
    *    zero iterations (`{0,n}` / `{0,}`);
    *  - a NEGATION (`CombineNot`) is treated as NOT nullable — the
    *    meaning of a zero-width guard ("no event between two empty
    *    matches") is undefined here, so negation patterns never
    *    produce empty matches (documented deviation; the engine's
    *    negatives are beyond SQL:2016 anyway).
    *
    * NOTE this is the can-match-ZERO-EVENTS predicate, not which NAMES
    * can be unbound inside a NON-empty match. `DstCompiler`'s chain-head
    * analysis calls it too, on patterns it has already compiled: a
    * `CombineNot` whose left or right can match empty is rejected when
    * it compiles, so the conservative `false` is exact there.
    */
  def canMatchEmpty(p: Pattern): Boolean = p match {
    case _: Spat       => false
    case l: Lpat       => l.from == 0
    case l: LpatInf    => l.from == 0
    case c: Combine    => canMatchEmpty(c.left) && canMatchEmpty(c.right)
    case _: CombineNot => false // conservative: see scaladoc
    case a: Alt        => canMatchEmpty(a.left) || canMatchEmpty(a.right)
    case p: Permute    => p.units.forall(canMatchEmpty)
    case g: Gpat       => canMatchEmpty(g.child)
    case g: GpatTimes  => g.from == 0 || canMatchEmpty(g.child)
    case g: GpatInf    => g.from == 0 || canMatchEmpty(g.child)
  }

  // -- convenience constructors with string conditions ---------------------
  def spat(name: String, event: String, cndt: String): Spat =
    Spat(name, event, Expr.parse(cndt))
  def lpat(name: String, event: String, cndt: String, contiguity: Contiguity,
      from: Int, to: Int, vars: Vector[VarDef] = Vector.empty,
      greedy: Boolean = false): Lpat =
    Lpat(name, event, Expr.parse(cndt), contiguity, from, to, vars, greedy)
  def lpatInf(name: String, event: String, cndt: String,
      contiguity: Contiguity, from: Int, until: Option[String] = None,
      vars: Vector[VarDef] = Vector.empty, greedy: Boolean = false): LpatInf =
    LpatInf(name, event, Expr.parse(cndt), contiguity, from,
      until.map(Expr.parse), vars, greedy)
  def varDef(name: String, initial: Long, update: String): VarDef =
    VarDef(name, initial, Expr.parse(update))
  def negSpec(name: String, event: String, cndt: String): NegSpec =
    NegSpec(name, event, Expr.parse(cndt))
}

sealed abstract class AfterMatchStrategy(val name: String) extends Serializable
object AfterMatchStrategy {
  /** Emit every match; keep all partial runs. */
  case object NoSkip extends AfterMatchStrategy("NoSkip")
  /** On accept, kill all partial runs with the same start index. */
  case object SkipToNext extends AfterMatchStrategy("SkipToNext")
  /** On first accept in a step, emit it and drop all partial runs. */
  case object SkipPastLastEvent extends AfterMatchStrategy("SkipPastLastEvent")
  /** Beyond-parity (FlinkCEP `skipToFirst(name)`; the reference's strategy
    * set is the closed NoSkip/SkipToNext/SkipPastLastEvent of
    * `executor.py:13-19`): on accept, prune every partial run whose FIRST
    * taken event precedes the first event the match bound to pattern name
    * `anchor`. A match that bound nothing to `anchor` (e.g. an optional
    * loop that matched zero times) prunes nothing — FlinkCEP's default
    * no-throw behavior on an anchor miss. Untaken runs are never pruned:
    * they are bit-identical to runs freshly spawned at the current step
    * (the duplicate-equivalence argument on `Dst.hasUntakenIgnorePrefix`),
    * which no threshold can precede.
    */
  final case class SkipToFirst(anchor: String)
      extends AfterMatchStrategy(s"SkipToFirst[$anchor]")
  /** As `SkipToFirst`, but the threshold is the LAST event the match bound
    * to `anchor`.
    */
  final case class SkipToLast(anchor: String)
      extends AfterMatchStrategy(s"SkipToLast[$anchor]")
  private val ToFirstRe = """SkipToFirst[\[(]([A-Za-z_]\w*)[\])]""".r
  private val ToLastRe = """SkipToLast[\[(]([A-Za-z_]\w*)[\])]""".r
  def fromName(s: String): AfterMatchStrategy = s match {
    case "NoSkip"            => NoSkip
    case "SkipToNext"        => SkipToNext
    case "SkipPastLastEvent" => SkipPastLastEvent
    case ToFirstRe(a)        => SkipToFirst(a)
    case ToLastRe(a)         => SkipToLast(a)
    case other => throw new IllegalArgumentException(s"bad strategy: $other")
  }
}

/** A complete CEP query: pattern + schema context + after-match strategy.
  *
  * `schema` enumerates the event-type universe (insertion-ordered — the
  * order determines relaxed-contiguity ignore-edge generation order, which
  * pins match output order; see `/root/reference/reflinkcep/compile.py:132`).
  */
final case class CepQuery(
    patseq: Pattern,
    schema: Vector[(String, Vector[String])],
    strategy: AfterMatchStrategy = AfterMatchStrategy.NoSkip,
    /** Beyond-parity window (FlinkCEP `.within` over stream position):
      * keep matches whose first and last taken events are fewer than
      * `w` steps apart, and prune dead runs — bounding per-key state on
      * unbounded streams. `None` = exact reference semantics.
      */
    within: Option[Int] = None,
    /** EVENT-TIME window (FlinkCEP `.within(Time)` proper): keep matches
      * whose first and last taken events carry timestamps fewer than
      * `span` apart, the timestamp being the event's `tsAttr` attribute.
      * Requires events to be fed in non-decreasing `tsAttr` order (the
      * batch operator's order column must be time-monotone; the
      * event-time streaming path feeds in watermark order by
      * construction) — the executor prunes runs whose window the clock
      * has passed, which is what bounds state, and that is only sound
      * when time never goes backwards. Composable with `within` (both
      * gates then apply). `None` = no time window.
      */
    withinTime: Option[WithinTime] = None,
    /** SQL:2016 `^` partition-start anchor: the match must START at the
      * partition's first event — its first taken event is the key's
      * first event. Operationally the executor seeds a run only at the
      * first event per key (a pure state win: later seeds could never
      * match) AND gates emission on `firstTake == 1`, which closes the
      * optional-prefix hole where the step-1 run ignores events before
      * its first take (`Dst.hasUntakenIgnorePrefix`); both are
      * differential-pinned in `CepAnchorSpec` against the filtered
      * model "earliest bound ordinal == partition's first ordinal".
      * Streams fine (the per-key step counter rides the state codec).
      */
    anchorStart: Boolean = false,
    /** SQL:2016 `$` partition-end anchor: the match must END at the
      * partition's last event — a match is emitted only when the event
      * completing it (its last take; acceptance always rides a take,
      * `Dst.accept`) is the partition's final event. Mid-partition
      * accepts are not matches at all, so they trigger NO after-match
      * skip effects. BATCH-ONLY: an unbounded stream has no partition
      * end, so every streaming operator rejects it loudly
      * (`SparkCep.checkWithinStateBound`) — a documented deviation
      * from engines that fake it with inactivity timeouts.
      */
    anchorEnd: Boolean = false
) extends Serializable {
  // validate at query construction (driver side) — the Executor's own
  // require would otherwise surface as repeated task failures
  require(within.forall(_ >= 1), s"within must be >= 1, got $within")

  def eventTypes: Vector[String] = schema.map(_._1)

  /** `Strategy(pattern-repr)`, as the reference's `Query.__repr__`. */
  override def toString: String =
    s"${strategy.name}(${Pattern.repr(patseq)})"
}

/** Event-time window parameters for `CepQuery.withinTime`: `tsAttr`
  * names the integer event attribute carrying event time (any unit —
  * epoch seconds, millis, a logical clock); a match is kept iff
  * `ts(lastTake) - ts(firstTake) < span`. An event lacking `tsAttr`
  * fails the run loudly ("event attr" error), matching how conditions
  * treat undefined names.
  */
final case class WithinTime(tsAttr: String, span: Long)
    extends Serializable {
  require(span >= 1, s"withinTime span must be >= 1, got $span")
}
