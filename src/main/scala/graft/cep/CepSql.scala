package graft.cep

/** SQL-native CEP entry point — a MATCH_RECOGNIZE-shaped text form that
  * lowers to the existing [[Pattern]] AST (parser-only: execution is the
  * same compiled DST every other surface uses). Relational users reach
  * CEP without leaving SQL-ish text:
  *
  * {{{
  * CepSql.parse("""
  *   PATTERN (a -> b{1,3}~!)
  *   DEFINE a AS signup;
  *          b AS click WHERE value < 50 LET X = 0 THEN X + value
  *   WITHIN 5
  *   AFTER MATCH SKIP TO NEXT
  * """, schema)
  * }}}
  *
  * Grammar (keywords UPPERCASE; `n`/`m` integers; `expr` the engine's
  * condition language, handed to `Expr.parse` after the row-navigation
  * rewrite: in WHERE/UNTIL conditions, `PREV(attr)` / `PREV(attr, k)` /
  * `NEXT(attr[, k])` reference attribute `attr` of the k-th
  * previous/following PHYSICAL row of the key's partition in input
  * order — SQL:2016 MATCH_RECOGNIZE navigation; at a partition edge the
  * navigated value is NULL and the containing boolean atom is not-true,
  * see [[Nav]]):
  *
  * {{{
  * query  := PATTERN '(' ['^'] alt ['$'] ')'
  *           (SQL:2016 partition anchors, TOP LEVEL ONLY — a documented
  *            deviation from per-branch anchors. '^': the match must
  *            START at the partition's first event (runs seed only
  *            there — also a state bound). '$': the match must END at
  *            the partition's last event; mid-partition accepts are
  *            not matches and trigger no skip effects. '$' is
  *            BATCH-ONLY — an unbounded stream has no partition end;
  *            every streaming operator rejects it loudly. Anchored
  *            queries drop the alphabet pushdown: the anchor observes
  *            the TRUE partition edge, which a prefiltered stream
  *            cannot witness.)
  *           [MEASURES meas (',' meas)*]
  *           [SUBSET u '=' '(' name (',' name)* ')'
  *                   (',' u '=' '(' … ')')*]     (union variables:
  *            a measure over `u` sees the members' bindings merged in
  *            stream order — COUNT(u), FIRST(u), SUM(u.attr), …)
  *           [ONE ROW PER MATCH
  *            [SHOW EMPTY MATCHES | OMIT EMPTY MATCHES]
  *            | ALL ROWS PER MATCH
  *            [SHOW EMPTY MATCHES | OMIT EMPTY MATCHES
  *             | WITH UNMATCHED ROWS]]   (unmatched rows join the ALL
  *            ROWS output with NULL match_no/classifier/measures.
  *            The default is SQL:2016's OMIT EMPTY MATCHES (the
  *            explicit spelling parses to the same statement; the NFA
  *            itself never reports a zero-width match — acceptance
  *            requires a take, `Dst.accept`). SHOW EMPTY MATCHES
  *            surfaces them relationally: when the pattern is NULLABLE
  *            (`Pattern.canMatchEmpty` — e.g. `c{0,3}`), every input
  *            row where a match attempt yields only the empty match
  *            emits ONE row with NULL classifier and empty-set
  *            measures (COUNT 0, others NULL), numbered in sequence
  *            with the real matches by site ordinal. Attempt sites
  *            follow the skip discipline: NoSkip/SKIP TO NEXT ROW —
  *            every event that starts no reported match; SKIP PAST
  *            LAST ROW — every event outside all reported matches'
  *            closed [first-bound, last-bound] ordinal spans; SKIP TO
  *            FIRST/LAST a — every event outside the PRUNE-ADJUSTED
  *            spans [first-bound, max(start, anchor - 1)] (the anchor
  *            event gets a fresh attempt and can itself host an empty
  *            match; a match never binding `a` prunes nothing — the
  *            documented NoSkip fallback — so its span degenerates to
  *            its own start). '^'/'$' anchors and negation patterns
  *            (treated as non-nullable) are rejected/inert with this
  *            mode — documented deviations. Under ONE ROW
  *            PER MATCH the engine's bare default is ALSO OMIT (a
  *            documented deviation — SQL:2016 always outputs empty
  *            matches there and has no OMIT option); the extension
  *            spelling ONE ROW PER MATCH SHOW EMPTY MATCHES opts into
  *            the standard behavior — one summary row per empty match
  *            (COUNT 0, NULL measures, NULL CLASSIFIER(), interleaved
  *            MATCH_NUMBER()), same site rules and restrictions.
  *            DOCUMENTED DEVIATION: SQL:2016 — and Trino — PROHIBIT
  *            `{- -}` exclusion under WITH UNMATCHED ROWS; this
  *            grammar accepts the combination with defined semantics:
  *            an excluded row is MATCHED, so it is omitted from the
  *            output and never surfaces as an unmatched row —
  *            spec-pinned in `CepExclusionSpec`)
  *           [PARTITION BY col (',' col)*] [ORDER BY col]
  *           (a MULTI-column PARTITION BY derives ONE composite
  *            STRUCT key for matching — exact, like every key type —
  *            and the execution paths (`CepMeasures.run`,
  *            `StreamingCep.matchPatternMeasures`) expand the struct's
  *            fields back into the output's leading columns. The
  *            shared scan rejects it. ORDER BY stays single-column:
  *            the order column must be one unique-per-key sequence —
  *            a documented deviation.)
  *           [TYPE col [IN '(' t (',' t)* ')']]
  *           (the optional IN-list declares the EVENT-TYPE UNIVERSE
  *            inline, making the statement fully self-contained — the
  *            FROM-clause / spark.sql surface, where no caller schema
  *            exists. It is mutually exclusive with a caller-supplied
  *            schema, must cover every DEFINEd event type, and drives
  *            relaxed-contiguity ignore-edge enumeration exactly like
  *            a schema; per-type attribute lists become the
  *            statement's referenced attrs. `render` prints the plain
  *            TYPE form — the IN-list is parse-side sugar.)
  *           DEFINE def (';' def)*
  *           [WITHIN n [ON attr]
  *            | WITHIN INTERVAL q unit ON attr]   (INTERVAL sugar for
  *            the event-time window only: `INTERVAL '5' MINUTE ON ts`
  *            = `300 ON ts`; unit SECOND|MINUTE|HOUR|DAY, the ts
  *            attribute is in seconds; render prints the plain form)
  *           [AFTER MATCH SKIP skip]
  * meas   := [RUNNING | FINAL] arith(atom) AS alias
  *           (SQL:2016 <measure expression>, integer fragment: long
  *           arithmetic over measure atoms — `LAST(c.v) - FIRST(c.v)
  *           AS spread`. A NULL atom (measure-over-missing) propagates
  *           NULL through the whole expression; a lone atom, also a
  *           parenthesized one, is a plain measure. CLASSIFIER() is
  *           STRING-typed and rejected in arithmetic; MATCH_NUMBER()
  *           participates, batch-only. RUNNING/FINAL only differ in
  *           ALL ROWS PER MATCH (running = up to the current row, the
  *           default; final = the whole match on every row).
  *           `parse` rejects MEASURES —
  *           use `parseStatement`, whose result carries them.
  *           PARTITION BY / ORDER BY / TYPE make the statement
  *           self-contained: `CepSqlStatement.spec` derives the full
  *           CepSpec, with attrCols = the attributes the statement
  *           references)
  * arith(leaf) := term (('+' | '-') term)*
  *           (the ONE integer arithmetic of MEASURES, over two kinds of
  *           leaf: measure atoms in a measure expression, and one
  *           variable's attributes in an aggregate argument. Literals
  *           are non-negative integers; operators are left-associative.
  *           `+ - *` are non-ANSI 64-bit and silently WRAP on overflow
  *           (DuckDB, the oracle, errors on BIGINT overflow instead —
  *           keep measured magnitudes inside long range). '/' is
  *           integer division with DuckDB-`//` semantics EXACTLY:
  *           truncation toward zero, NULL on a zero divisor. AVG
  *           remains the FLOORED exact mean, visible only on negative
  *           sums. See [[CepMeasures.Arith]].)
  * term   := factor (('*' | '/') factor)*
  * factor := INT | '(' arith(leaf) ')' | leaf
  * atom   := FN '(' ['DISTINCT'] arg [',' k] ')'
  *           (FN := COUNT|FIRST|LAST|SUM|MIN|MAX|AVG; see
  *            [[CepMeasures]]. AVG is exact integer mean: floored
  *            quotient, DuckDB's `//`. DISTINCT — COUNT/SUM only —
  *            collapses duplicate per-event values before the
  *            aggregate: COUNT(DISTINCT c.v) distinct non-NULL values,
  *            SUM(DISTINCT c.v) sum of distinct values. Attributed
  *            COUNT(name.attr) without DISTINCT is SQL's non-NULL
  *            count. ONE ROW PER MATCH only — window functions take no
  *            DISTINCT, so ALL ROWS rejects it. The `,k` logical offset
  *            is SQL:2016's optional second argument to FIRST/LAST:
  *            FIRST(a.v, k) reads the (k+1)-th bound event from the
  *            start, LAST(a.v, k) from the end; NULL when the binding
  *            is shorter. ONE ROW PER MATCH and streaming only — ALL
  *            ROWS PER MATCH rejects a non-zero offset, a documented
  *            deviation)
  *         | 'COUNT' '(' [name '.'] '*' ')'
  *           (SQL:2016 row counts: `COUNT(name.*)` ≡ the positional
  *            `COUNT(name)`; `COUNT(*)` — a whole measure, not an
  *            arithmetic operand — desugars to
  *            `COUNT(n1) + … + COUNT(nk)` over the EVENT-BINDING
  *            pattern names in declaration order (GROUP labels bind no
  *            events and are excluded; plain `COUNT(n)` when one name
  *            binds), riding every tier — batch, ALL ROWS running,
  *            streaming fold. `render` prints the desugared form.)
  *         | 'CLASSIFIER' '(' [name] ')'
  *           (the last bound event's pattern name — under an
  *           alternation, which branch matched; STRING-typed; FINAL in
  *           ALL ROWS = last row's. SQL:2016's optional TARGET — a
  *           variable or SUBSET name — restricts the pick to the last
  *           row mapped to (a member of) it: ONE ROW = its last bound
  *           member's name, ALL ROWS RUNNING = the target's variable
  *           among the rows so far (NULL until one binds), FINAL = over
  *           the whole match; streams via the emission fold)
  *         | 'MATCH_NUMBER' '(' ')'   (deterministic per-key match
  *           sequence in temporal order-found order — row_number by the
  *           match's earliest bound ordinal, binding arrays as
  *           tiebreaker, never monotonically_increasing_id; batch-only
  *           in streaming)
  *         | ('PREV' | 'NEXT') '(' FL '(' arg [',' k] ')' [',' steps] ')'
  *           (SQL:2016 NESTED PHYSICAL NAVIGATION, FL := FIRST | LAST:
  *            resolve the logical target event, then read the
  *            attribute/argument from the row `steps` (default 1)
  *            PHYSICAL rows before/after it in the key's partition
  *            input order — any event type, bound or not, the
  *            DEFINE-side PREV/NEXT convention. NULL past a partition
  *            edge. Batch ONE ROW PER MATCH only: ALL ROWS and the
  *            streaming operators reject it loudly — the navigated row
  *            may be an unbound neighbor the match state never
  *            carried. Costs one per-key lag/lead window over the
  *            event side, shared across all navigated measures.
  *            The un-nested SQL:2016 spelling `PREV(name.attr
  *            [, steps])` is accepted as sugar for
  *            `PREV(LAST(name.attr)[, steps])` — the standard's
  *            implicit-LAST reading under final semantics.)
  * arg    := name                         (positional — order ids)
  *         | arith(name '.' attr)         (SQL:2016 aggregate over a
  *           VALUE EXPRESSION of one variable's attributes —
  *           `SUM(a.price * a.qty)`, `AVG(2 * c.v + 1)` — folded per
  *           bound event: a NULL attribute poisons the EVENT's value
  *           and the aggregate skips that event (FIRST/LAST read the
  *           target event's possibly-NULL value). Every ref must be
  *           qualified (`name.attr`) and all refs must share ONE
  *           pattern or SUBSET name — SQL:2016's one-variable rule. A
  *           lone `name.attr` is the plain attribute form.)
  * alt    := seq ('|' seq)*     (alternation, SQL:2016 `a | b`: match
  *           either branch; binds LOOSER than concatenation, so
  *           `a b | c` = `(a b) | c`. A match binds only the names of
  *           the branch it went through — the other branch's columns
  *           are empty. SAME-VARIABLE BRANCHES (SQL:2016's rule that a
  *           variable may appear in several branches) are supported
  *           for TOP-LEVEL branches, once per branch, in ONE ROW PER
  *           MATCH statements with MEASURES over event DEFINEs: the
  *           parser renames per branch (`__b<i>_<name>`, same DEFINE)
  *           and merges with a hidden auto-SUBSET under the original
  *           name — the trick PERMUTE's desugaring uses — so measures
  *           over the shared name see whichever branch bound. Outside
  *           that scope (nested alternations, the raw binding frame,
  *           ALL ROWS, CLASSIFIER(), LET/aggregate registers on the
  *           reused DEFINE, user SUBSETs over it) the reuse rejects
  *           loudly — documented deviations. The PATTERN
  *           body and every '(...)' group hold an `alt`.)
  * seq    := unit (sep [neg] unit)*
  * sep    :=            (juxtaposition = strict contiguity)
  *         | '->'       (relaxed)
  *         | '~>'       (nd-relaxed)
  * neg    := '!next(' name ')' | '!fby(' name ')'      (negative pattern
  *           at the boundary; the name's DEFINE gives its type/condition)
  * unit   := name [quant]
  *         | '(' alt ')' [gquant] [':' name]
  *         | 'PERMUTE' '(' pmember (',' pmember)* ')'
  *           (SQL:2016 permutation: match the members in ANY order,
  *            sequenced strictly within an ordering; expands to the
  *            k! orderings in lexicographic (= priority) order but
  *            compiles as a subset lattice. pmember := name [quant]
  *            | '(' alt ')' [gquant] — a group member permutes as one
  *            unit with its internal structure intact. Members bind in
  *            EVERY match — 2..5 members, pairwise-disjoint names; see
  *            [[Pattern.Permute]])
  *         | '{-' name [quant] '-}'
  *           (SQL:2016 output exclusion: the unit matches, binds and
  *            feeds MEASURES normally, but its rows are OMITTED from
  *            `ALL ROWS PER MATCH` output — and it requires that mode,
  *            rejected under ONE ROW PER MATCH)
  * quant  := ('+' | '*' | '?' | '{' [n] ',' [m] '}' | '{' n '}') ['?']
  *           ['~' | '~~'] ['!']
  *           ('+' = {1,}, '*' = {0,}, '?' = {0,1} (optional);
  *            '{n}' = exactly n (SQL:2016, = '{n,n}');
  *            open upper bound '{n,}' = unbounded loop;
  *            open lower bound '{,m}' = '{0,m}' (SQL:2016);
  *            the optional second '?' is SQL:2016's RELUCTANT marker
  *            ('*?', '+?', '??', '{n,m}?') — the engine's quantifiers
  *            are reluctant BY DEFAULT (SQL:2016 defaults to greedy: a
  *            documented deviation, shared with FlinkCEP), so the
  *            standard spelling parses as an explicit no-op and
  *            combining it with the greedy '!' is rejected;
  *            '~' relaxed / '~~' nd-relaxed ITERATION contiguity, strict
  *            by default; trailing '!' = greedy)
  * gquant := ('+' | '*' | '{' n ',' [m] '}') ['?'] ['!']  (group repeat;
  *           trailing '!' = greedy iterations and '?' = the reluctant
  *           no-op marker, as on name quantifiers)
  *           (':' name labels an unbounded group so a DEFINE of the
  *            form `name AS GROUP UNTIL expr` can attach its stop
  *            condition — groups bind no events of their own)
  * def    := name AS event [WHERE expr]
  *           [LET x '=' init THEN update (',' x '=' init THEN update)*]
  *           [UNTIL expr]                              (unbounded loops)
  *         | name AS GROUP [UNTIL expr]                (group labels)
  *           (a WHERE may embed SQL:2016 RUNNING aggregates
  *            `SUM/COUNT/MIN/MAX/AVG(x[.attr])` and LOGICAL NAVIGATION
  *            `FIRST/LAST(x.attr)` — both desugar at parse time to LET
  *            registers; see `rewriteAggs` for targets, semantics and
  *            the empty-fold/unbound-read 0 deviation)
  * skip   := TO NEXT | PAST LAST EVENT | TO FIRST name | TO LAST name
  * }}}
  *
  * `WITHIN n` is the step window; `WITHIN n ON attr` the event-time
  * window over integer attribute `attr`. Sequences of 3+ units fold
  * LEFT: `a b c` = `Combine(Combine(a, b), c)`. A name used in the
  * pattern must have exactly one DEFINE; a defined name may appear once
  * in BINDING position — a unit or group label — because the DST binds
  * sinks by name. Negation guards (`!next`/`!fby`) bind nothing and are
  * exempt: the same DEFINE may guard several boundaries, or guard one
  * while also binding a unit. Conditions/updates must not contain
  * the UPPERCASE section keywords — use lowercase attribute names (the
  * engine's attribute convention throughout).
  */
object CepSql {

  // ---------------------------------------------------------------- lexer
  private sealed trait Tok
  private case class TName(s: String) extends Tok
  private case class TNum(n: Int) extends Tok
  private case object TLPar extends Tok
  private case object TRPar extends Tok
  private case object TArrow extends Tok     // ->
  private case object TNdArrow extends Tok   // ~>
  private case object TPlus extends Tok
  private case object TStar extends Tok
  private case object TQmark extends Tok    // ? = {0,1}
  private case object TLBrace extends Tok
  private case object TRBrace extends Tok
  private case object TComma extends Tok
  private case object TColon extends Tok
  private case object TTilde extends Tok     // ~
  private case object TTilde2 extends Tok    // ~~
  private case object TBang extends Tok      // !
  private case object TPipe extends Tok      // | (alternation)
  private case object TExclOpen extends Tok  // {- (output exclusion)
  private case object TExclClose extends Tok // -}
  private case class TNeg(mode: Pattern.NegMode) extends Tok // !next( / !fby(
  private case object TCaret extends Tok     // ^ (partition-start anchor)
  private case object TDollar extends Tok    // $ (partition-end anchor)

  private def lex(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    def err(msg: String) = throw new IllegalArgumentException(
      s"CEP SQL pattern: $msg at '${s.drop(i).take(20)}'")
    while (i < s.length) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') { out += TLPar; i += 1 }
      else if (c == ')') { out += TRPar; i += 1 }
      else if (c == '{') {
        if (i + 1 < s.length && s(i + 1) == '-') { out += TExclOpen; i += 2 }
        else { out += TLBrace; i += 1 }
      }
      else if (c == '}') { out += TRBrace; i += 1 }
      else if (c == ',') { out += TComma; i += 1 }
      else if (c == ':') { out += TColon; i += 1 }
      else if (c == '^') { out += TCaret; i += 1 }
      else if (c == '$') { out += TDollar; i += 1 }
      else if (c == '+') { out += TPlus; i += 1 }
      else if (c == '*') { out += TStar; i += 1 }
      else if (c == '?') { out += TQmark; i += 1 }
      else if (c == '|') { out += TPipe; i += 1 }
      else if (c == '-') {
        if (i + 1 < s.length && s(i + 1) == '>') { out += TArrow; i += 2 }
        else if (i + 1 < s.length && s(i + 1) == '}') {
          out += TExclClose; i += 2
        } else err("expected '->' or '-}'")
      } else if (c == '~') {
        if (i + 1 < s.length && s(i + 1) == '>') { out += TNdArrow; i += 2 }
        else if (i + 1 < s.length && s(i + 1) == '~') { out += TTilde2; i += 2 }
        else { out += TTilde; i += 1 }
      } else if (c == '!') {
        if (s.startsWith("!next(", i)) {
          out += TNeg(Pattern.NegMode.NotNext); out += TLPar; i += 6
        } else if (s.startsWith("!fby(", i)) {
          out += TNeg(Pattern.NegMode.NotFollowedBy); out += TLPar; i += 5
        } else { out += TBang; i += 1 }
      } else if (c.isDigit) {
        val j = s.indexWhere(!_.isDigit, i)
        val end = if (j < 0) s.length else j
        val digits = s.substring(i, end)
        val n =
          try digits.toInt
          catch { case _: NumberFormatException =>
            err(s"integer '$digits' out of range") }
        out += TNum(n); i = end
      } else if (c.isLetter || c == '_') {
        val j = s.indexWhere(ch => !(ch.isLetterOrDigit || ch == '_'), i)
        val end = if (j < 0) s.length else j
        out += TName(s.substring(i, end)); i = end
      } else err(s"unexpected character '$c'")
    }
    out.result()
  }

  // ------------------------------------------------- pattern-section parse
  /** Quantifier: (from, to — None = unbounded), iteration contiguity,
    * greedy.
    */
  private case class Quant(from: Int, to: Option[Int],
      contig: Contiguity, greedy: Boolean)

  private sealed trait PU
  private case class PName(name: String, quant: Option[Quant]) extends PU
  private case class PGroup(alt: PAlt,
      gquant: Option[(Int, Option[Int], Boolean)],
      label: Option[String]) extends PU
  /** `PERMUTE(a, b{1,2}~, …)` — members are name units only. */
  /** `PERMUTE(a, (b -> c), d{1,2})` — members are name units or
    * parenthesised groups (SQL:2016 allows any primary; groups cover
    * the sequenced/alternation cases — the engine's `Pattern.Permute`
    * takes arbitrary units already).
    */
  private case class PPermute(members: Vector[PU]) extends PU
  /** `{- b{1,2} -}` — SQL:2016 output exclusion: the unit matches and
    * measures normally but its rows are omitted from `ALL ROWS PER
    * MATCH` output. Name units only.
    */
  private case class PExcl(member: PName) extends PU
  /** head unit + (separator contiguity, optional neg name+mode, unit)* */
  private case class PSeq(head: PU,
      tail: Vector[(Contiguity, Option[(Pattern.NegMode, String)], PU)])
  /** `seq ('|' seq)*` — alternation binds LOOSER than concatenation
    * (`a b | c` = `(a b) | c`), the SQL:2016 precedence.
    */
  private case class PAlt(branches: Vector[PSeq])

  private final class PParser(toks: Vector[Tok]) {
    private var i = 0
    private def peek: Option[Tok] = if (i < toks.length) Some(toks(i)) else None
    private def next(): Tok =
      if (i < toks.length) { val t = toks(i); i += 1; t }
      else throw new IllegalArgumentException(
        "CEP SQL pattern: unexpected end of pattern")
    private def expect(t: Tok, what: String): Unit =
      if (peek.contains(t)) { i += 1 }
      else throw new IllegalArgumentException(
        s"CEP SQL pattern: expected $what, got ${peek.getOrElse("end")}")

    def parseAlt(): PAlt = {
      val branches = Vector.newBuilder[PSeq]
      branches += parseSeq()
      while (peek.contains(TPipe)) {
        next()
        branches += parseSeq()
      }
      PAlt(branches.result())
    }

    def parseSeq(): PSeq = {
      val head = parseUnit()
      val tail = Vector.newBuilder[
        (Contiguity, Option[(Pattern.NegMode, String)], PU)]
      var done = false
      while (!done) {
        val contig = peek match {
          case Some(TArrow)   => next(); Contiguity.Relaxed
          case Some(TNdArrow) => next(); Contiguity.NdRelaxed
          case Some(TName(_)) | Some(TLPar) | Some(TNeg(_)) |
               Some(TExclOpen) =>
            Contiguity.Strict
          case _ => done = true; Contiguity.Strict
        }
        if (!done) {
          val neg = peek match {
            case Some(TNeg(mode)) =>
              next(); expect(TLPar, "'('")
              val n = next() match {
                case TName(s) => s
                case other => throw new IllegalArgumentException(
                  s"CEP SQL pattern: expected negation name, got $other")
              }
              expect(TRPar, "')'")
              Some((mode, n))
            case _ => None
          }
          tail += ((contig, neg, parseUnit()))
        }
      }
      PSeq(head, tail.result())
    }

    private def parseUnit(): PU = next() match {
      case TExclOpen =>
        val inner = next() match {
          case TName(n) => PName(n, parseQuant())
          case other => throw new IllegalArgumentException(
            "CEP SQL pattern: '{- ... -}' exclusion wraps a name unit, " +
              s"got $other")
        }
        expect(TExclClose, "'-}'")
        PExcl(inner)
      case TName("PERMUTE") if peek.contains(TLPar) =>
        next() // consume '('
        val members = Vector.newBuilder[PU]
        def member(): PU = next() match {
          case TName(n) => PName(n, parseQuant())
          case TLPar =>
            val g = parseAlt()
            expect(TRPar, "')'")
            PGroup(g, parseGQuant(), None)
          case other => throw new IllegalArgumentException(
            "CEP SQL pattern: PERMUTE members are name units or " +
              s"'(...)' groups, got $other")
        }
        members += member()
        while (peek.contains(TComma)) { next(); members += member() }
        expect(TRPar, "')'")
        PPermute(members.result())
      case TName(n) => PName(n, parseQuant())
      case TLPar =>
        val s = parseAlt()
        expect(TRPar, "')'")
        val gq = parseGQuant()
        val label = peek match {
          case Some(TColon) =>
            next()
            next() match {
              case TName(l) => Some(l)
              case other => throw new IllegalArgumentException(
                s"CEP SQL pattern: expected a group label after ':', " +
                  s"got $other")
            }
          case _ => None
        }
        PGroup(s, gq, label)
      case other => throw new IllegalArgumentException(
        s"CEP SQL pattern: expected a name or '(', got $other")
    }

    private def parseBounds(): Option[(Int, Option[Int])] = peek match {
      case Some(TPlus)  => next(); Some((1, None))
      case Some(TStar)  => next(); Some((0, None))
      case Some(TQmark) => next(); Some((0, Some(1)))
      case Some(TLBrace) =>
        next()
        // SQL:2016 `{,m}` = open LOWER bound = `{0,m}`
        if (peek.contains(TComma)) {
          next()
          val m = next() match {
            case TNum(n) => n
            case other => throw new IllegalArgumentException(
              s"CEP SQL pattern: expected loop upper bound after " +
                s"'{,', got $other")
          }
          expect(TRBrace, "'}'")
          Some((0, Some(m)))
        } else {
        val from = next() match {
          case TNum(n) => n
          case other => throw new IllegalArgumentException(
            s"CEP SQL pattern: expected loop lower bound, got $other")
        }
        // SQL:2016 `{n}` = exactly n (= `{n,n}`); `{n,}` open upper
        val to = peek match {
          case Some(TComma) =>
            next()
            peek match {
              case Some(TNum(m)) => next(); Some(m)
              case _             => None
            }
          case _ => Some(from)
        }
        expect(TRBrace, "'}'")
        Some((from, to))
        }
      case _ => None
    }

    /** SQL:2016 reluctant marker (`*?`, `+?`, `??`, `{n,m}?`): the
      * engine's quantifiers are RELUCTANT BY DEFAULT (the SQL:2016
      * default is greedy — a documented deviation, shared with
      * FlinkCEP), so the standard spelling parses as an explicit no-op.
      * Combining it with the trailing greedy `!` is a contradiction and
      * rejected. `render` prints the canonical (unmarked) form.
      */
    private def parseReluctant(): Boolean = peek match {
      case Some(TQmark) => next(); true
      case _            => false
    }

    private def parseQuant(): Option[Quant] = parseBounds().map {
      case (from, to) =>
        val reluctant = parseReluctant()
        val contig = peek match {
          case Some(TTilde)  => next(); Contiguity.Relaxed
          case Some(TTilde2) => next(); Contiguity.NdRelaxed
          case _             => Contiguity.Strict
        }
        val greedy = peek match {
          case Some(TBang) => next(); true
          case _           => false
        }
        if (reluctant && greedy) throw new IllegalArgumentException(
          "CEP SQL pattern: a quantifier cannot be both reluctant " +
            "('?') and greedy ('!')")
        Quant(from, to, contig, greedy)
    }

    private def parseGQuant(): Option[(Int, Option[Int], Boolean)] =
      parseBounds().map { case (f, t) =>
        val reluctant = parseReluctant()
        val g = peek match {
          case Some(TBang) => next(); true
          case _           => false
        }
        if (reluctant && g) throw new IllegalArgumentException(
          "CEP SQL pattern: a group quantifier cannot be both " +
            "reluctant ('?') and greedy ('!')")
        (f, t, g)
      }

    def assertDone(): Unit =
      if (i < toks.length) throw new IllegalArgumentException(
        s"CEP SQL pattern: trailing tokens from ${toks(i)}")
  }

  // -------------------------------------------------- DEFINE-section parse
  /** Reserved `AS`-word marking a group-label DEFINE (carries only an
    * UNTIL; groups bind no events).
    */
  private val GroupEvent = "GROUP"

  private case class Def(event: String, cndt: Expr,
      vars: Vector[VarDef], until: Option[Expr])

  /** Scan `text` for the first top-level occurrence of any keyword in
    * `kws` (word-bounded, outside parentheses); return (before, kw,
    * after) or None.
    */
  private def splitAtKeyword(text: String,
      kws: Seq[String]): Option[(String, String, String)] = {
    var depth = 0
    var i = 0
    while (i < text.length) {
      val c = text(i)
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0 && c.isUpper) {
        for (kw <- kws) {
          val ok = text.startsWith(kw, i) &&
            (i == 0 || !text(i - 1).isLetterOrDigit) &&
            (i + kw.length >= text.length ||
              !text(i + kw.length).isLetterOrDigit)
          if (ok)
            return Some((text.substring(0, i), kw,
              text.substring(i + kw.length)))
        }
      }
      i += 1
    }
    None
  }

  /** SQL:2016 running aggregates as DEFINE conditions —
    * `b AS click WHERE SUM(b.value) < 100` — desugared AT PARSE TIME to
    * the LET register machinery the engine already evaluates exactly
    * (`cep_iter_budget`): each distinct aggregate atom becomes a hidden
    * integer register (`__agg<k>`) folded on the TARGET name's takes,
    * and the atom's occurrence in the condition becomes plain register
    * arithmetic. RUNNING semantics only, per the standard's DEFINE rule:
    * the current row is tentatively classified as the defining variable,
    * so a SELF-targeted atom includes the current event
    * (`SUM(b.value)` in b's own WHERE → `(R + value)` with
    * `LET R = 0 THEN R + value`), while a CROSS-targeted atom reads the
    * register as-is (`SUM(a.price)` in b's WHERE → `R` folded on a's
    * takes). Supported: SUM/COUNT (self + cross + SUBSET targets; an
    * empty fold reads 0 — a documented deviation from SQL's NULL
    * empty-SUM. A SUBSET target attaches ONE shared register to every
    * member def, and includes the current candidate exactly when the
    * defining name is itself a member; members spread across
    * ALTERNATION branches are rejected downstream by the compiler's
    * branch-register disjointness — sequential members compose
    * freely), MIN/MAX/AVG
    * (SELF-only: their empty state has no honest integer encoding —
    * MIN/MAX desugar to the boolean-arithmetic fold
    * `R*(R<=v) + v*(v<R)` off `Long.MaxValue`/`MinValue`, AVG to a
    * floored SUM/COUNT quotient, DuckDB `//`).
    *
    * SQL:2016 LOGICAL NAVIGATION rides the same registers:
    * `FIRST(x.attr)` / `LAST(x.attr)` in a WHERE read the first/latest
    * take of `x` (self/cross/SUBSET targets like SUM — LAST is one
    * register re-set per take; FIRST is a set-once pair gated by a seen
    * flag, atomic because updates read the pre-update η). Self reads
    * follow the standard's running rule — the current row is
    * tentatively the defining variable, so self-`LAST` IS the current
    * attr and self-`FIRST` falls back to it before the first take. A
    * CROSS read before the target ever binds reads the register's
    * init 0 — same documented deviation as the empty SUM fold (SQL
    * would say NULL; sequence later variables after their targets to
    * never observe it). No offsets (`FIRST(x.attr, k)` is a MEASURES
    * form) and no PREV/NEXT nesting.
    *
    * Rejected loudly:
    * `FINAL`/`RUNNING` prefixes (FINAL is meaningless mid-match; the
    * running form is the default and only form), aggregates/navigation
    * in UNTIL/LET sections, unknown or GROUP targets, attribute-less
    * SUM/MIN/MAX/AVG/FIRST/LAST and attributed COUNT. The desugared
    * form is what the statement carries — `render` prints the
    * LET/arithmetic form, which re-parses to the same query (the sugar
    * itself does not round-trip; spec-pinned in `CepDefineAggSpec`).
    */
  private val AggRe =
    """\b(SUM|COUNT|MIN|MAX|AVG|FIRST|LAST)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*(?:\.\s*([A-Za-z_][A-Za-z0-9_]*)\s*)?\)""".r
  private val AggPrefixRe =
    """\b(FINAL|RUNNING)\s+(SUM|COUNT|MIN|MAX|AVG|FIRST|LAST)\s*\(""".r

  private final class AggCtx {
    var n: Int = 0
    /** (target name, hidden register) — attached to the target's Def
      * after every DEFINE has parsed (the target may parse later).
      */
    val pending =
      scala.collection.mutable.ArrayBuffer.empty[(String, VarDef)]
    /** one register set per distinct (fn, target, attr) atom. */
    val seen =
      scala.collection.mutable.HashMap.empty[(String, String, String), String]
  }

  private def rewriteAggs(section: String, selfName: String,
      ctx: AggCtx, subsets: Map[String, Vector[String]]): String = {
    AggPrefixRe.findFirstMatchIn(section).foreach { m =>
      throw new IllegalArgumentException(
        s"CEP SQL DEFINE: '${m.group(1)} ${m.group(2)}(...)' — DEFINE " +
          "aggregates are RUNNING by definition (the only form); drop " +
          s"the ${m.group(1)} prefix")
    }
    AggRe.replaceAllIn(section, m => {
      val fn = m.group(1)
      val target = m.group(2)
      val attr = Option(m.group(3))
      // a SUBSET target folds on EVERY member's takes (one shared
      // register attached to each member def); the current candidate is
      // included exactly when the defining name is itself a member (the
      // standard's current-row-classified-as-self rule, lifted to the
      // union). SUM/COUNT only — like cross-name targets.
      val members: Vector[String] =
        subsets.getOrElse(target, Vector(target))
      val self =
        if (subsets.contains(target)) members.contains(selfName)
        else target == selfName
      if (fn == "COUNT") require(attr.isEmpty,
        s"CEP SQL DEFINE: COUNT($target.${attr.getOrElse("")}) — COUNT " +
          "takes no attribute")
      else require(attr.isDefined,
        s"CEP SQL DEFINE: $fn($target) needs an attribute " +
          s"($fn($target.<attr>))")
      if ((!self || subsets.contains(target)) &&
          fn != "SUM" && fn != "COUNT" && fn != "FIRST" && fn != "LAST")
        throw new IllegalArgumentException(
          s"CEP SQL DEFINE: $fn($target${attr.fold("")("." + _)}) in " +
            s"'$selfName' — MIN/MAX/AVG aggregates are self-only (their " +
            "empty fold has no honest integer encoding); SUM/COUNT and " +
            "FIRST/LAST navigation may target another name or a SUBSET")
      val a = attr.getOrElse("")
      val reg = ctx.seen.getOrElseUpdate((fn, target, a), {
        val base = s"__agg${ctx.n}"
        ctx.n += 1
        fn match {
          case "SUM" =>
            members.foreach(t => ctx.pending += t -> VarDef(base, 0L,
              Expr.parse(s"$base + $a")))
          case "COUNT" =>
            members.foreach(t => ctx.pending += t -> VarDef(base, 0L,
              Expr.parse(s"$base + 1")))
          case "MIN" =>
            ctx.pending += target -> VarDef(base, Long.MaxValue,
              Expr.parse(s"$base * ($base <= $a) + $a * ($a < $base)"))
          case "MAX" =>
            ctx.pending += target -> VarDef(base, Long.MinValue,
              Expr.parse(s"$base * ($base >= $a) + $a * ($a > $base)"))
          case "AVG" =>
            ctx.pending += target -> VarDef(base + "s", 0L,
              Expr.parse(s"${base}s + $a"))
            ctx.pending += target -> VarDef(base + "c", 0L,
              Expr.parse(s"${base}c + 1"))
          // SQL:2016 logical navigation — LAST: the latest take's attr;
          // FIRST: set-once (the seen flag `<base>s` gates the update;
          // both expressions read the PRE-update η, so the pair commits
          // atomically per take — see DataUpdate)
          case "LAST" =>
            members.foreach(t => ctx.pending += t -> VarDef(base, 0L,
              Expr.parse(a)))
          case "FIRST" =>
            members.foreach { t =>
              ctx.pending += t -> VarDef(base, 0L,
                Expr.parse(
                  s"$base * (${base}s >= 1) + $a * (${base}s < 1)"))
              ctx.pending += t -> VarDef(base + "s", 0L, Expr.parse("1"))
            }
        }
        base
      })
      val repl = (fn, self) match {
        case ("SUM", true)    => s"($reg + $a)"
        case ("COUNT", true)  => s"($reg + 1)"
        case ("MIN", true)    =>
          s"($reg * ($reg <= $a) + $a * ($a < $reg))"
        case ("MAX", true)    =>
          s"($reg * ($reg >= $a) + $a * ($a > $reg))"
        case ("AVG", true)    => s"((${reg}s + $a) // (${reg}c + 1))"
        // running-navigation self reads: the current row is tentatively
        // the defining variable, so LAST = the current attr, FIRST = the
        // register once seen, else the current attr
        case ("LAST", true)   => s"($a)"
        case ("FIRST", true)  =>
          s"($reg * (${reg}s >= 1) + $a * (${reg}s < 1))"
        case (_, false)       => reg // SUM/COUNT/FIRST/LAST cross-target
      }
      java.util.regex.Matcher.quoteReplacement(repl)
    })
  }

  private def parseDef(text: String, aggCtx: AggCtx,
      subsets: Map[String, Vector[String]]): (String, Def) = {
    val t = text.trim
    val (name, rest0) = splitAtKeyword(t, Seq("AS")) match {
      case Some((n, _, r)) => (n.trim, r.trim)
      case None => throw new IllegalArgumentException(
        s"CEP SQL DEFINE: missing AS in '$t'")
    }
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"CEP SQL DEFINE: bad name '$name'")
    // event word, then optional WHERE / LET / UNTIL in order
    val (event, rest1) = splitAtKeyword(rest0, Seq("WHERE", "LET", "UNTIL"))
      .map { case (e, kw, r) => (e.trim, Some((kw, r))) }
      .getOrElse((rest0.trim, None))
    require(event.nonEmpty && !event.contains(' '),
      s"CEP SQL DEFINE: bad event type '$event' for '$name'")
    var cndt: Expr = Expr.True
    var vars = Vector.empty[VarDef]
    var until: Option[Expr] = None
    var cursor: Option[(String, String)] = rest1
    while (cursor.isDefined) {
      val (kw, body) = cursor.get
      val (section, nextCur) =
        splitAtKeyword(body, Seq("WHERE", "LET", "UNTIL")) match {
          case Some((b, k2, r2)) => (b.trim, Some((k2, r2)))
          case None              => (body.trim, None)
        }
      kw match {
        // conditions get the aggregate desugaring (see `rewriteAggs`),
        // then the PREV/NEXT navigation rewrite + NULL guards (Nav):
        // navigation is only meaningful where a row is being judged,
        // i.e. in boolean contexts
        case "WHERE" => cndt = Nav.guard(Expr.parse(
          Nav.rewriteText(rewriteAggs(section, name, aggCtx, subsets))))
        case "UNTIL" =>
          AggRe.findFirstMatchIn(section).foreach { m =>
            throw new IllegalArgumentException(
              s"CEP SQL DEFINE: aggregate/navigation '${m.matched}' in the UNTIL " +
                "of '" + name + "' — aggregates desugar to per-take " +
                "registers, whose value at a stop event (not taken as " +
                "any name) has no standard meaning; fold a LET " +
                "register by hand if you need one")
          }
          until = Some(Nav.guard(Expr.parse(Nav.rewriteText(section))))
        case "LET" =>
          AggRe.findFirstMatchIn(section).foreach { m =>
            throw new IllegalArgumentException(
              s"CEP SQL DEFINE: aggregate/navigation '${m.matched}' in a LET of '" +
                name + "' — registers fold takes directly; write the " +
                "fold out instead of nesting an aggregate")
          }
          vars = section.split(',').toVector.map { item =>
            val eq = item.indexOf('=')
            require(eq > 0, s"CEP SQL LET: expected 'x = init THEN " +
              s"update', got '$item'")
            val vname = item.substring(0, eq).trim
            splitAtKeyword(item.substring(eq + 1), Seq("THEN")) match {
              case Some((init, _, upd)) =>
                val initV = try init.trim.toLong catch {
                  case _: NumberFormatException =>
                    throw new IllegalArgumentException(
                      s"CEP SQL LET: bad initial value '${init.trim}'")
                }
                require(Nav.rewriteText(upd) == upd,
                  s"CEP SQL LET: navigation (PREV/NEXT) is only " +
                    s"allowed in WHERE/UNTIL conditions, not register " +
                    s"updates ('${upd.trim}')")
                VarDef(vname, initV, Expr.parse(upd.trim))
              case None => throw new IllegalArgumentException(
                s"CEP SQL LET: missing THEN in '$item'")
            }
          }
      }
      cursor = nextCur
    }
    name -> Def(event, cndt, vars, until)
  }

  // ------------------------------------------------------------- lowering
  /** Branches fold LEFT (`a | b | c` = `Alt(Alt(a, b), c)`), the same
    * normal form combines use; a single branch lowers to itself (no Alt
    * node), so `(a b)` still means a plain group.
    */
  private def lowerAlt(alt: PAlt, defs: Map[String, Def],
      excl: scala.collection.mutable.Set[String]): Pattern =
    alt.branches.map(lower(_, defs, excl)).reduceLeft(Pattern.Alt(_, _))

  private def lower(seq: PSeq, defs: Map[String, Def],
      excl: scala.collection.mutable.Set[String]): Pattern = {
    def defOf(n: String): Def = defs.getOrElse(n,
      throw new IllegalArgumentException(
        s"CEP SQL: pattern name '$n' has no DEFINE"))
    def lowerUnit(u: PU): Pattern = u match {
      case PName(n, None) =>
        val d = defOf(n)
        require(d.event != GroupEvent,
          s"CEP SQL: '$n' is DEFINEd AS GROUP — group labels attach to " +
            "'(...)' units, not names")
        require(d.until.isEmpty,
          s"CEP SQL: UNTIL on '$n' needs an unbounded loop quantifier")
        Pattern.Spat(n, d.event, d.cndt, d.vars)
      case PName(n, Some(q)) =>
        val d = defOf(n)
        require(d.event != GroupEvent,
          s"CEP SQL: '$n' is DEFINEd AS GROUP — group labels attach to " +
            "'(...)' units, not names")
        q.to match {
          case Some(m) =>
            require(d.until.isEmpty,
              s"CEP SQL: UNTIL on '$n' needs an unbounded loop " +
                "quantifier ('+', '*' or '{n,}')")
            Pattern.Lpat(n, d.event, d.cndt, q.contig, q.from, m, d.vars,
              q.greedy)
          case None =>
            Pattern.LpatInf(n, d.event, d.cndt, q.contig, q.from, d.until,
              d.vars, q.greedy)
        }
      case PPermute(members) =>
        Pattern.Permute(members.map(lowerUnit))
      case PExcl(member) =>
        excl += member.name
        lowerUnit(member)
      case PGroup(s, gq, label) =>
        val child = lowerAlt(s, defs, excl)
        val until = label.map { l =>
          val d = defOf(l)
          require(d.event == GroupEvent && d.vars.isEmpty &&
            d.cndt == Expr.True,
            s"CEP SQL: group label '$l' needs 'DEFINE $l AS GROUP " +
              "[UNTIL expr]'")
          require(gq.exists(_._2.isEmpty),
            s"CEP SQL: group label '$l' is only meaningful on an " +
              "UNBOUNDED group ('(...)+' / '(...)*' / '(...){n,}')")
          d.until
        }
        gq match {
          case None => Pattern.Gpat(child)
          case Some((f, Some(m), g)) => Pattern.GpatTimes(child, f, m, g)
          case Some((f, None, g)) =>
            Pattern.GpatInf(child, f, until.flatten, g)
        }
    }
    seq.tail.foldLeft(lowerUnit(seq.head)) {
      case (acc, (contig, None, u)) =>
        Pattern.Combine(contig, acc, lowerUnit(u))
      case (acc, (contig, Some((mode, negName)), u)) =>
        val d = defOf(negName)
        require(d.vars.isEmpty && d.until.isEmpty,
          s"CEP SQL: negation '$negName' takes only AS/WHERE")
        Pattern.CombineNot(contig, acc,
          Pattern.NegSpec(negName, d.event, d.cndt), mode, lowerUnit(u))
    }
  }

  // ------------------------------------------------------------ top level
  /** Parse the MATCH_RECOGNIZE-shaped text into a [[CepQuery]] over
    * `schema` (the event-type universe, insertion-ordered — the same
    * schema every other query surface takes; it describes the data, not
    * the pattern).
    */
  /** MATCH_RECOGNIZE output mode: one flat row of measures per match
    * (the default), one row per bound event with running measures
    * (`ALL ROWS PER MATCH`), or the latter
    * plus every input row bound by NO match with NULL
    * match_no/classifier/measures (`... WITH UNMATCHED ROWS`).
    */
  sealed trait RowsPerMatch extends Serializable
  object RowsPerMatch {
    case object OneRow extends RowsPerMatch
    /** `ONE ROW PER MATCH SHOW EMPTY MATCHES` — engine extension
      * spelling (SQL:2016 puts no SHOW/OMIT option under ONE ROW,
      * where empty matches are always output; the engine's bare
      * default is OMIT — documented deviation). The explicit spelling
      * opts into the standard behavior: one summary row per empty
      * match with COUNT 0 / NULL measures and interleaved
      * `MATCH_NUMBER()` ([[CepMeasures.run]]).
      */
    case object OneRowShowEmpty extends RowsPerMatch
    /** `ALL ROWS PER MATCH` — the engine's fixed default is SQL:2016's
      * `OMIT EMPTY MATCHES` (the explicit spelling parses to this).
      */
    case object AllRows extends RowsPerMatch
    /** `ALL ROWS PER MATCH WITH UNMATCHED ROWS` (SQL:2016). */
    case object AllRowsUnmatched extends RowsPerMatch
    /** `ALL ROWS PER MATCH SHOW EMPTY MATCHES` (SQL:2016) — zero-width
      * matches of a NULLABLE pattern surface as one NULL-classifier row
      * each, numbered in sequence with the real matches
      * ([[CepMeasures.run]]; batch-only like the mode's other
      * variants).
      */
    case object AllRowsShowEmpty extends RowsPerMatch
  }

  /** A parsed CEP SQL statement: the lowered query plus any MEASURES
    * (empty when the statement has no MEASURES clause), the output mode
    * (`ONE ROW PER MATCH` / `ALL ROWS PER MATCH`), and the optional
    * in-statement spec sections (`PARTITION BY key`, `ORDER BY ord`,
    * `TYPE typecol`) that make the statement self-contained the way real
    * MATCH_RECOGNIZE is. Execute with [[CepMeasures.run]], which
    * renders the output mode inside the CEP operator.
    */
  final case class CepSqlStatement(query: CepQuery,
      measures: Vector[CepMeasures.MeasureItem],
      partitionBy: Option[String] = None,
      orderBy: Option[String] = None,
      typeCol: Option[String] = None,
      rowsPerMatch: RowsPerMatch = RowsPerMatch.OneRow,
      subsets: Vector[(String, Vector[String])] = Vector.empty,
      excluded: Vector[String] = Vector.empty,
      /** SQL:2016 multi-column `PARTITION BY a, b, …` — non-empty (and
        * then always length >= 2) ONLY for a composite key;
        * `partitionBy` is None in that case. Executes through
        * [[CepMeasures.run]] (batch) or
        * `StreamingCep.matchPatternMeasures` (streaming), which derive
        * one EXACT composite struct-key column for matching and expand
        * its fields back into the output's leading columns
        * ([[CepMeasures]] `runMultiKey`); `spec` rejects it (the
        * single-key operators cannot take a column LIST).
        */
      partitionByCols: Vector[String] = Vector.empty) {
    require(partitionByCols.isEmpty || partitionByCols.length >= 2,
      "partitionByCols is the MULTI-column form — use partitionBy for " +
        "a single key column")
    require(partitionByCols.isEmpty || partitionBy.isEmpty,
      "partitionBy and partitionByCols are mutually exclusive")

    /** SUBSET union variables as the lookup the measures tiers take. */
    def subsetMap: Map[String, Vector[String]] = subsets.toMap

    /** The statement's own [[SparkCep.CepSpec]] — requires the `ORDER
      * BY` and `TYPE` sections (a CEP feed needs an order and a type
      * column; `PARTITION BY` is optional = unkeyed). Attribute columns
      * are derived from the statement itself: every name a condition /
      * LET update / UNTIL references (minus the declared registers),
      * plus measure attributes and the event-time window attribute.
      */
    def spec: SparkCep.CepSpec = {
      require(partitionByCols.isEmpty,
        "CEP SQL: multi-column PARTITION BY has no single-key CepSpec " +
          "— execute the statement with CepMeasures.run, which derives " +
          "the composite key")
      specWithKey(partitionBy)
    }

    /** [[spec]] with the key column overridden — the composite-key
      * execution path ([[CepMeasures]] `runMultiKey`) passes its
      * derived struct column.
      */
    private[cep] def specWithKey(key: Option[String]): SparkCep.CepSpec = {
      val ord = orderBy.getOrElse(throw new IllegalArgumentException(
        "CEP SQL: statement has no ORDER BY section — supply one (or " +
          "pass an explicit CepSpec)"))
      val tc = typeCol.getOrElse(throw new IllegalArgumentException(
        "CEP SQL: statement has no TYPE section — supply one (or pass " +
          "an explicit CepSpec)"))
      val free = patternRefs(query.patseq) -- patternVars(query.patseq)
      val attrs = free ++
        measures.flatMap(CepMeasures.MeasureItem.atomsOf)
          .flatMap(CepMeasures.attrsOf) ++
        query.withinTime.map(_.tsAttr)
      SparkCep.CepSpec(key, ord, tc, (attrs - ord).toVector.sorted)
    }
  }

  /** Names referenced by the pattern's conditions, LET updates and UNTIL
    * stops (attributes and registers alike).
    */
  private[cep] def patternRefs(p: Pattern): Set[String] = {
    def ofVars(vs: Vector[VarDef]): Set[String] =
      vs.iterator.flatMap(v => Expr.refs(v.update)).toSet
    p match {
      case s: Pattern.Spat => Expr.refs(s.cndt) ++ ofVars(s.vars)
      case l: Pattern.Lpat => Expr.refs(l.cndt) ++ ofVars(l.vars)
      case l: Pattern.LpatInf =>
        Expr.refs(l.cndt) ++ ofVars(l.vars) ++
          l.until.map(Expr.refs).getOrElse(Set.empty)
      case c: Pattern.Combine => patternRefs(c.left) ++ patternRefs(c.right)
      case c: Pattern.CombineNot =>
        patternRefs(c.left) ++ Expr.refs(c.neg.cndt) ++ patternRefs(c.right)
      case a: Pattern.Alt => patternRefs(a.left) ++ patternRefs(a.right)
      case pm: Pattern.Permute =>
        pm.units.map(patternRefs).reduce(_ ++ _)
      case g: Pattern.Gpat      => patternRefs(g.child)
      case g: Pattern.GpatTimes => patternRefs(g.child)
      case g: Pattern.GpatInf =>
        patternRefs(g.child) ++ g.until.map(Expr.refs).getOrElse(Set.empty)
    }
  }

  /** Declared LET register names across the whole pattern. */
  private def patternVars(p: Pattern): Set[String] = p match {
    case s: Pattern.Spat    => s.vars.iterator.map(_.name).toSet
    case l: Pattern.Lpat    => l.vars.iterator.map(_.name).toSet
    case l: Pattern.LpatInf => l.vars.iterator.map(_.name).toSet
    case c: Pattern.Combine => patternVars(c.left) ++ patternVars(c.right)
    case c: Pattern.CombineNot =>
      patternVars(c.left) ++ patternVars(c.right)
    case a: Pattern.Alt => patternVars(a.left) ++ patternVars(a.right)
    case pm: Pattern.Permute => pm.units.map(patternVars).reduce(_ ++ _)
    case g: Pattern.Gpat      => patternVars(g.child)
    case g: Pattern.GpatTimes => patternVars(g.child)
    case g: Pattern.GpatInf   => patternVars(g.child)
  }

  /** Parse a named set of CEP SQL statements into the `(name, query)`
    * member list [[SparkCep.matchPatternsShared]] takes — the TEXT form
    * of the shared multi-pattern scan (k statements, ONE scan, ONE
    * pre-NFA union filter, ONE key exchange). Statements must be
    * measure-free (the shared operator's output is the
    * `(qname, key, binding)` reporting shape) and carry no spec
    * sections of their own (the member set shares one spec; per-member
    * PARTITION BY would be contradictory). The per-member pushdown
    * legality audit (`SparkCep.prefilter` / `memberFeedTypes`) applies
    * to the lowered queries exactly as to builder-declared members.
    */
  def parseQueries(stmts: Seq[(String, String)],
      schema: Vector[(String, Vector[String])]): Seq[(String, CepQuery)] =
    stmts.map { case (name, sql) =>
      val st = parseStatement(sql, schema)
      require(st.measures.isEmpty,
        s"CEP SQL shared scan: member '$name' declares MEASURES — the " +
          "shared operator emits the (qname, key, binding) reporting " +
          "shape; run the statement alone with CepMeasures.run instead")
      require(st.partitionBy.isEmpty && st.partitionByCols.isEmpty &&
        st.orderBy.isEmpty && st.typeCol.isEmpty,
        s"CEP SQL shared scan: member '$name' carries its own " +
          "PARTITION BY/ORDER BY/TYPE — the member set shares ONE spec, " +
          "passed to matchPatternsShared")
      require(st.rowsPerMatch == RowsPerMatch.OneRow,
        s"CEP SQL shared scan: member '$name' declares a rows-per-match " +
          "mode other than plain ONE ROW PER MATCH — the measure-free " +
          "shared operator emits one binding row per match (SHOW EMPTY " +
          "MATCHES needs a MEASURES projection: use parseStatements + " +
          "CepMeasures.runShared, or run the member solo)")
      name -> st.query
    }

  /** The MEASURED shared-scan parse: k statements WITH MEASURES onto
    * one shared operator pass (`CepMeasures.runShared`). Spec sections
    * are still per-SET (one spec, passed to runShared). Any
    * rows-per-match mode is admitted — `runShared` reconstructs ONE ROW
    * members' measures and ALL ROWS members' per-event rows from the
    * same order-id frame.
    */
  def parseStatements(stmts: Seq[(String, String)],
      schema: Vector[(String, Vector[String])])
      : Seq[(String, CepSqlStatement)] =
    stmts.map { case (name, sql) =>
      val st = parseStatement(sql, schema)
      require(st.partitionBy.isEmpty && st.partitionByCols.isEmpty &&
        st.orderBy.isEmpty && st.typeCol.isEmpty,
        s"CEP SQL shared scan: member '$name' carries its own " +
          "PARTITION BY/ORDER BY/TYPE — the member set shares ONE spec, " +
          "passed to CepMeasures.runShared")
      name -> st
    }

  /** As [[parseStatement]], for statements without MEASURES (rejects a
    * MEASURES clause loudly — a `CepQuery` cannot carry it).
    */
  def parse(sql: String,
      schema: Vector[(String, Vector[String])]): CepQuery = {
    val st = parseStatement(sql, schema)
    require(st.measures.isEmpty,
      "CEP SQL: statement has a MEASURES clause — use parseStatement " +
        "(and CepMeasures.run) instead of parse")
    st.query
  }

  /** Split at commas OUTSIDE parentheses — the item separator of the
    * MEASURES and SUBSET sections, whose items carry nested commas
    * (`FIRST(a.v, 2)`, `u = (a, b)`).
    */
  private def splitTopLevelCommas(text: String): Vector[String] = {
    val items = Vector.newBuilder[String]
    var depth = 0
    var start = 0
    for (i <- 0 until text.length) text(i) match {
      case '(' => depth += 1
      case ')' => depth -= 1
      case ',' if depth == 0 =>
        items += text.substring(start, i); start = i + 1
      case _ => ()
    }
    items += text.substring(start)
    items.result()
  }

  /** SQL:2016 `SUBSET u = (a, b), u2 = (c, d)` — union pattern
    * variables for MEASURES. Items split at top-level commas (commas
    * inside the member parentheses separate members).
    */
  private def parseSubsets(text: String): Vector[(String, Vector[String])] = {
    def ident(s: String, what: String): String = {
      val t = s.trim
      require(t.nonEmpty && t.forall(c => c.isLetterOrDigit || c == '_') &&
        !t.head.isDigit,
        s"CEP SQL SUBSET: bad $what '${t}'")
      t
    }
    val out = splitTopLevelCommas(text).map { item =>
      val eq = item.indexOf('=')
      require(eq > 0,
        s"CEP SQL SUBSET: expected 'u = (a, b)', got '${item.trim}'")
      val name = ident(item.substring(0, eq), "name")
      val rhs = item.substring(eq + 1).trim
      require(rhs.startsWith("(") && rhs.endsWith(")") && rhs.length > 2,
        s"CEP SQL SUBSET: '$name' needs a parenthesised member list, " +
          s"got '$rhs'")
      val members = rhs.substring(1, rhs.length - 1).split(',').toVector
        .map(m => ident(m, s"member of '$name'"))
      require(members.distinct == members,
        s"CEP SQL SUBSET: '$name' repeats a member")
      name -> members
    }
    require(out.nonEmpty, "CEP SQL: empty SUBSET section")
    out.groupBy(_._1).foreach { case (n, us) =>
      require(us.length == 1, s"CEP SQL SUBSET: duplicate name '$n'") }
    out
  }

  private val MeasureItemRe =
    """(?s)^(?:(RUNNING|FINAL)\s+)?(.*\S)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)$""".r

  /** One MEASURES item, `[RUNNING|FINAL] expr AS alias` (the `meas`
    * production of the grammar above). One recursive descent parses the
    * one arithmetic, `arith(leaf)`, for both kinds of leaf: a measure
    * atom at the item level, and a qualified `name.attr` inside an
    * aggregate argument, where every ref must name the same pattern
    * (or SUBSET) variable.
    *
    * A lone atom, parenthesized or not, yields a plain
    * [[CepMeasures.Measure]], anything else an
    * [[CepMeasures.ExprMeasure]]; likewise a lone `name.attr` argument
    * is the plain attribute form. So parse∘render is the identity.
    * `COUNT(*)` parses to a '*'-named placeholder that the statement
    * assembler desugars once the pattern names are known.
    */
  private def parseMeasure(text: String): CepMeasures.MeasureItem = {
    import CepMeasures.{Arith, Fn, Measure}
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      "CEP SQL MEASURES: expected '[RUNNING|FINAL] FN(name[.attr]" +
        "[, offset]) AS alias', 'CLASSIFIER() / MATCH_NUMBER() AS " +
        s"alias', or arithmetic over them — $why in '${text.trim}'")
    val (sem, body, alias) = text.trim match {
      case MeasureItemRe(s, b, a) => (s, b, a)
      case _ => fail("no 'AS alias' suffix")
    }
    var i = 0
    def ws(): Unit = while (i < body.length && body(i).isWhitespace) i += 1
    def peek: Char = if (i < body.length) body(i) else ' '
    def eat(c: Char): Unit =
      if (peek == c) i += 1 else fail(s"expected '$c' at offset $i")
    def ident(): String = {
      ws()
      val start = i
      while (i < body.length &&
        (body(i).isLetterOrDigit || body(i) == '_')) i += 1
      if (i == start || body(start).isDigit)
        fail(s"expected an identifier at offset $start")
      body.substring(start, i)
    }
    def number(): Long = {
      ws()
      val start = i
      while (i < body.length && body(i).isDigit) i += 1
      try body.substring(start, i).toLong
      catch { case _: NumberFormatException =>
        fail(s"integer literal out of range at offset $start") }
    }
    // an optional `, n` argument in [min, Int.MaxValue], else `default`
    def intArg(default: Int, min: Int, why: Long => String): Int = {
      ws()
      if (peek == ',') { i += 1
        val n = number()
        if (n < min || n > Int.MaxValue) fail(why(n))
        n.toInt
      } else default
    }
    // the one arithmetic descent, over any leaf parser
    def factor[L](leaf: () => Arith[L]): Arith[L] = {
      ws()
      if (peek == '(') { i += 1
        val e = arith(leaf); ws(); eat(')'); e
      } else if (peek.isDigit) Arith.Lit(number())
      else leaf()
    }
    def term[L](leaf: () => Arith[L]): Arith[L] = {
      var e = factor(leaf)
      ws()
      while (peek == '*' || peek == '/') {
        val op = peek; i += 1
        e = if (op == '*') Arith.Mul(e, factor(leaf))
            else Arith.Div(e, factor(leaf))
        ws()
      }
      e
    }
    def arith[L](leaf: () => Arith[L]): Arith[L] = {
      var e = term(leaf)
      ws()
      while (peek == '+' || peek == '-') {
        val op = peek; i += 1
        e = if (op == '+') Arith.Add(e, term(leaf))
            else Arith.Sub(e, term(leaf))
        ws()
      }
      e
    }
    // the aggregate argument after `FN(`: (name, attr, argument expr)
    def argument(fn: Fn)
        : (String, Option[String], Option[Arith[String]]) = {
      val start = i
      val name = if (peek.isDigit || peek == '(') "" else ident()
      ws()
      val afterDot = body.indexWhere(!_.isWhitespace, i + 1)
      if (name.nonEmpty && (peek == ',' || peek == ')'))
        (name, None, None) // positional fn(name[, k])
      else if (fn == Fn.Count && peek == '.' && afterDot > 0 &&
          body(afterDot) == '*') {
        i = afterDot + 1 // COUNT(name.*) ≡ COUNT(name)
        (name, None, None)
      } else {
        i = start
        val names = scala.collection.mutable.LinkedHashSet.empty[String]
        val e = arith { () =>
          val n = ident()
          ws()
          if (peek != '.') fail(
            s"aggregate-argument refs must be qualified ('$n.attr')")
          i += 1
          names += n
          Arith.Leaf(ident())
        }
        if (names.size != 1) fail(
          "an aggregate argument must reference exactly one pattern " +
            s"(or SUBSET) name, got {${names.mkString(", ")}}")
        e match {
          case Arith.Leaf(attr) => (names.head, Some(attr), None)
          case other            => (names.head, None, Some(other))
        }
      }
    }
    def atom(fnName: String): Measure =
      if (fnName == "PREV" || fnName == "NEXT") {
        // SQL:2016 nested physical navigation:
        //   PREV(FIRST/LAST(name.attr[, k])[, steps])
        // the navigated row is `steps` PHYSICAL rows before/after the
        // logical target (default 1); batch-only downstream
        ws(); eat('(')
        val inner = ident()
        if (inner == "PREV" || inner == "NEXT")
          fail("PREV/NEXT do not nest in each other — one physical " +
            "hop around one FIRST/LAST")
        ws()
        // the un-nested SQL:2016 form `PREV(name.attr[, steps])` is, in
        // ONE ROW PER MATCH's final semantics, sugar for
        // `PREV(LAST(name.attr)[, steps])` (render prints the nested form)
        val m =
          if (peek == '.') { i += 1
            Measure(Fn.Last, inner, Some(ident()), "")
          } else atom(inner)
        val steps =
          intArg(1, 1, _ => "PREV/NEXT steps must be a positive integer")
        ws(); eat(')')
        m.copy(phys = Some(CepMeasures.PhysNav(fnName == "NEXT", steps)))
      } else {
        val fn = Fn.fromName(fnName)
        ws(); eat('('); ws()
        if (fn == Fn.MatchNo || (fn == Fn.Classifier && peek == ')')) {
          eat(')')
          Measure(fn, "", None, "")
        } else if (fn == Fn.Count && peek == '*') {
          i += 1; ws(); eat(')')
          Measure(fn, "*", None, "")
        } else {
          // SQL DISTINCT set quantifier — COUNT/SUM over the distinct
          // per-event values (word-bounded so a ref named "DISTINCTx"
          // still parses as a ref); positional DISTINCT is rejected by
          // the Measure ctor
          val distinct =
            if (body.regionMatches(i, "DISTINCT", 0, 8) &&
                (i + 8 >= body.length ||
                  (!body(i + 8).isLetterOrDigit && body(i + 8) != '_'))) {
              i += 8; ws(); true
            } else false
          val (name, attr, argExpr) = argument(fn)
          val offset = intArg(0, 0, n => s"offset '$n' out of range")
          ws(); eat(')')
          Measure(fn, name, attr, "", offset = offset, argExpr = argExpr,
            distinct = distinct)
        }
      }
    val e = arith(() => Arith.Leaf(atom(ident())))
    ws()
    if (i != body.length) fail(s"trailing input at offset $i")
    val isFinal = sem == "FINAL"
    e match {
      case Arith.Leaf(m) => m.copy(alias = alias, isFinal = isFinal)
      case other =>
        if (Arith.leaves(other).exists(_.name == "*"))
          fail("COUNT(*) is a whole measure, not an arithmetic operand")
        CepMeasures.ExprMeasure(other, alias, isFinal)
    }
  }

  def parseStatement(sql: String,
      callerSchema: Vector[(String, Vector[String])]): CepSqlStatement = {
    val text = sql.trim
    val (_, _, afterPattern) = splitAtKeyword(text, Seq("PATTERN"))
      .getOrElse(throw new IllegalArgumentException(
        "CEP SQL: missing PATTERN section"))
    // the pattern body is the first balanced (...) group
    val open = afterPattern.indexOf('(')
    require(open >= 0, "CEP SQL: PATTERN needs a parenthesised body")
    var depth = 0
    var close = -1
    var i = open
    while (i < afterPattern.length && close < 0) {
      val c = afterPattern(i)
      if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth == 0) close = i }
      i += 1
    }
    require(close > open, "CEP SQL: unbalanced PATTERN parentheses")
    val patBody = afterPattern.substring(open + 1, close)
    val afterPat = afterPattern.substring(close + 1)

    val (preDefine, _, afterDefineKw) = splitAtKeyword(afterPat,
      Seq("DEFINE"))
      .getOrElse(throw new IllegalArgumentException(
        "CEP SQL: missing DEFINE section"))
    // pre-DEFINE sections: MEASURES, and the in-statement spec
    // (PARTITION BY / ORDER BY / TYPE) that lets a statement carry its
    // own key/order/type mapping instead of requiring an external CepSpec
    var measures = Vector.empty[CepMeasures.MeasureItem]
    var partitionBy: Option[String] = None
    var partitionByCols: Vector[String] = Vector.empty
    var orderByCol: Option[String] = None
    var typeColOpt: Option[String] = None
    var rowsPerMatch: Option[RowsPerMatch] = None
    var inTypes: Option[Vector[String]] = None
    val specKws = Seq("MEASURES", "SUBSET", "PARTITION", "ORDER", "TYPE",
      "ONE", "ALL")
    var subsets = Vector.empty[(String, Vector[String])]
    def specIdent(kw: String, s: String): String = {
      val t = s.trim
      require(t.nonEmpty && t.forall(c => c.isLetterOrDigit || c == '_'),
        s"CEP SQL: $kw expects a single column name, got '$t'")
      t
    }
    def byIdent(kw: String, s: String): String = {
      val t = s.trim
      require(t.startsWith("BY") &&
        (t.length > 2 && t(2).isWhitespace),
        s"CEP SQL: expected '$kw BY <column>', got '$kw ${t}'")
      specIdent(s"$kw BY", t.drop(2))
    }
    // `PARTITION BY a, b, …` — a comma list of distinct identifiers
    def byIdents(kw: String, s: String): Vector[String] = {
      val t = s.trim
      require(t.startsWith("BY") &&
        (t.length > 2 && t(2).isWhitespace),
        s"CEP SQL: expected '$kw BY <column[, column…]>', got '$kw $t'")
      val cols = t.drop(2).split(',').toVector
        .map(c => specIdent(s"$kw BY", c))
      require(cols.distinct.length == cols.length,
        s"CEP SQL: duplicate column in $kw BY list " +
          s"(${cols.mkString(", ")})")
      cols
    }
    splitAtKeyword(preDefine, specKws) match {
      case None => require(preDefine.trim.isEmpty,
        s"CEP SQL: unexpected text before DEFINE: '${preDefine.trim}'")
      case Some((before, kw0, rest0)) =>
        require(before.trim.isEmpty,
          s"CEP SQL: unexpected text before $kw0: '${before.trim}'")
        var cursor: Option[(String, String)] = Some((kw0, rest0))
        while (cursor.isDefined) {
          val (kw, body) = cursor.get
          val (section, nextCur) = splitAtKeyword(body, specKws) match {
            case Some((b, k2, r2)) => (b, Some((k2, r2)))
            case None              => (body, None)
          }
          def once(prev: Option[String]): Unit = require(prev.isEmpty,
            s"CEP SQL: duplicate $kw section")
          kw match {
            case "MEASURES" =>
              require(measures.isEmpty, "CEP SQL: duplicate MEASURES section")
              // top-level commas only: FIRST(a.v, 2) nests one
              measures = splitTopLevelCommas(section).map(parseMeasure)
              require(measures.nonEmpty, "CEP SQL: empty MEASURES section")
            case "SUBSET" =>
              require(subsets.isEmpty, "CEP SQL: duplicate SUBSET section")
              subsets = parseSubsets(section)
            case "PARTITION" =>
              once(partitionBy)
              require(partitionByCols.isEmpty,
                "CEP SQL: duplicate PARTITION section")
              byIdents("PARTITION", section) match {
                case Vector(one) => partitionBy = Some(one)
                case many        => partitionByCols = many
              }
            case "ORDER" =>
              once(orderByCol)
              orderByCol = Some(byIdent("ORDER", section))
            case "TYPE" =>
              once(typeColOpt)
              // `TYPE col [IN (t1, ..., tn)]`: the optional IN-list
              // declares the EVENT-TYPE UNIVERSE inline, making the
              // statement fully self-contained (the FROM-clause /
              // spark.sql surface, where no caller schema exists). The
              // universe drives relaxed-contiguity ignore-edge
              // enumeration exactly like a caller-supplied schema; per-
              // type attribute lists become the statement's referenced
              // attrs (real column existence is checked at plan time).
              splitAtKeyword(section, Seq("IN")) match {
                case Some((colPart, _, rest)) =>
                  typeColOpt = Some(specIdent("TYPE", colPart))
                  val r = rest.trim
                  require(r.startsWith("(") && r.endsWith(")"),
                    s"CEP SQL: TYPE ... IN expects '(t1, ..., tn)', " +
                      s"got '$r'")
                  val ts = r.substring(1, r.length - 1).split(',')
                    .map(_.trim).toVector
                  ts.foreach(t => require(t.nonEmpty &&
                    t.forall(c => c.isLetterOrDigit || c == '_'),
                    s"CEP SQL: bad event type '$t' in TYPE ... IN"))
                  require(ts.distinct.length == ts.length,
                    "CEP SQL: duplicate event types in TYPE ... IN")
                  inTypes = Some(ts)
                case None =>
                  typeColOpt = Some(specIdent("TYPE", section))
              }
            case "ONE" | "ALL" =>
              require(rowsPerMatch.isEmpty,
                "CEP SQL: duplicate rows-per-match clause")
              val got = section.trim.replaceAll("\\s+", " ")
              rowsPerMatch = (kw, got) match {
                case ("ONE", "ROW PER MATCH") => Some(RowsPerMatch.OneRow)
                // engine-extension spellings: the bare default is OMIT
                case ("ONE", "ROW PER MATCH OMIT EMPTY MATCHES") =>
                  Some(RowsPerMatch.OneRow)
                case ("ONE", "ROW PER MATCH SHOW EMPTY MATCHES") =>
                  Some(RowsPerMatch.OneRowShowEmpty)
                case ("ALL", "ROWS PER MATCH") => Some(RowsPerMatch.AllRows)
                // the explicit spelling of the default (SQL:2016)
                case ("ALL", "ROWS PER MATCH OMIT EMPTY MATCHES") =>
                  Some(RowsPerMatch.AllRows)
                case ("ALL", "ROWS PER MATCH SHOW EMPTY MATCHES") =>
                  Some(RowsPerMatch.AllRowsShowEmpty)
                case ("ALL", "ROWS PER MATCH WITH UNMATCHED ROWS") =>
                  Some(RowsPerMatch.AllRowsUnmatched)
                case _ => throw new IllegalArgumentException(
                  s"CEP SQL: expected '${
                    if (kw == "ONE") "ONE ROW PER MATCH [SHOW EMPTY " +
                      "MATCHES | OMIT EMPTY MATCHES]"
                    else "ALL ROWS PER MATCH [SHOW EMPTY MATCHES | " +
                      "OMIT EMPTY MATCHES | WITH UNMATCHED ROWS]"
                  }', got '$kw $got'")
              }
          }
          cursor = nextCur
        }
    }
    val (defsText, tailOpt) =
      splitAtKeyword(afterDefineKw, Seq("WITHIN", "AFTER")) match {
        case Some((d, kw, r)) => (d, Some((kw, r)))
        case None             => (afterDefineKw, None)
      }
    val aggCtx = new AggCtx
    val defs = defsText.split(';').filter(_.trim.nonEmpty)
      .map(parseDef(_, aggCtx, subsets.toMap)).toVector
    defs.groupBy(_._1).foreach { case (n, ds) =>
      require(ds.length == 1, s"CEP SQL: duplicate DEFINE for '$n'") }
    // attach the desugared aggregate registers to their TARGET defs
    // (the target may have parsed after the referencing condition)
    val defMap0: Map[String, Def] =
      if (aggCtx.pending.isEmpty) defs.toMap
      else {
        defs.foreach { case (_, d) =>
          d.vars.foreach(v => require(!v.name.startsWith("__agg"),
            s"CEP SQL LET: register '${v.name}' uses the reserved " +
              "'__agg' prefix (aggregate desugaring)"))
        }
        val byTarget = aggCtx.pending.groupBy(_._1)
        byTarget.keys.foreach { t =>
          val d = defs.collectFirst { case (n, d0) if n == t => d0 }
            .getOrElse(throw new IllegalArgumentException(
              s"CEP SQL DEFINE: aggregate over '$t' — no such DEFINE"))
          require(d.event != GroupEvent,
            s"CEP SQL DEFINE: aggregate over '$t' — a GROUP label binds " +
              "no events to aggregate")
        }
        defs.map { case (n, d) =>
          byTarget.get(n) match {
            case Some(extra) => n -> d.copy(vars = d.vars ++ extra.map(_._2))
            case None        => n -> d
          }
        }.toMap
      }

    var within: Option[Int] = None
    var withinTime: Option[WithinTime] = None
    var strategy: AfterMatchStrategy = AfterMatchStrategy.NoSkip
    var cursor = tailOpt
    while (cursor.isDefined) {
      val (kw, body) = cursor.get
      val (section, nextCur) =
        splitAtKeyword(body, Seq("WITHIN", "AFTER")) match {
          case Some((b, k2, r2)) => (b.trim, Some((k2, r2)))
          case None              => (body.trim, None)
        }
      kw match {
        case "WITHIN" =>
          def num(s: String): Long =
            try s.toLong
            catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"CEP SQL: WITHIN expects an integer, got '$s'") }
          // the step window is an Int downstream — reject out-of-range
          // values in BOTH directions here rather than let `.toInt`
          // truncate (WITHIN 4294967301 must not silently become
          // within=5, and WITHIN -4294967291 must not wrap POSITIVE
          // past the Executor's within >= 1 check)
          def stepWindow(n: String): Int = {
            val v = num(n)
            if (v > Int.MaxValue || v < 1)
              throw new IllegalArgumentException(
                s"CEP SQL: WITHIN step window must be in [1, " +
                  s"${Int.MaxValue}], got $v")
            v.toInt
          }
          // SQL INTERVAL sugar for the EVENT-TIME window: `WITHIN
          // INTERVAL '5' MINUTE ON ts` = `WITHIN 300 ON ts` (the span
          // is seconds, so the ts attribute must be in seconds —
          // INTERVAL has no reading for the step window). Canonical
          // render stays the plain-integer form.
          def intervalSeconds(qty: String, unit: String): Long = {
            val q = qty.stripPrefix("'").stripSuffix("'")
            val n = num(q)
            require(n >= 1, s"CEP SQL: INTERVAL '$q' must be >= 1")
            val mult = unit match {
              case "SECOND" | "SECONDS" => 1L
              case "MINUTE" | "MINUTES" => 60L
              case "HOUR" | "HOURS"     => 3600L
              case "DAY" | "DAYS"       => 86400L
              case other => throw new IllegalArgumentException(
                s"CEP SQL: INTERVAL unit SECOND|MINUTE|HOUR|DAY, " +
                  s"got '$other'")
            }
            require(n <= Long.MaxValue / mult,
              s"CEP SQL: INTERVAL '$q' $unit overflows")
            n * mult
          }
          section.split("\\s+").toVector match {
            case Vector(n) => within = Some(stepWindow(n))
            case Vector(n, "ON", attr) =>
              withinTime = Some(WithinTime(attr, num(n)))
            case Vector("INTERVAL", qty, unit, "ON", attr) =>
              withinTime =
                Some(WithinTime(attr, intervalSeconds(qty, unit)))
            case _ => throw new IllegalArgumentException(
              s"CEP SQL: WITHIN expects 'n', 'n ON attr', or " +
                s"'INTERVAL <q> <unit> ON attr', got '$section'")
          }
        case "AFTER" =>
          val norm = section.replaceAll("\\s+", " ").trim
          strategy = norm match {
            // FlinkCEP spellings (canonical — render emits these) plus
            // the SQL:2016 names as accepted aliases
            case "MATCH SKIP TO NEXT" | "MATCH SKIP TO NEXT ROW" =>
              AfterMatchStrategy.SkipToNext
            case "MATCH SKIP PAST LAST EVENT" |
                 "MATCH SKIP PAST LAST ROW" =>
              AfterMatchStrategy.SkipPastLastEvent
            // the anchor operand must be a SINGLE identifier at the
            // parse site: the bare-TO sugar below would otherwise
            // accept any trailing text ('SKIP TO FIRST' → anchor
            // "FIRST", 'SKIP TO NEXT ROWS' → anchor "NEXT ROWS"), and
            // since an anchor that never binds falls back to NoSkip at
            // the Executor, such typos would silently change match
            // semantics instead of failing here
            case s if s.startsWith("MATCH SKIP TO FIRST ") =>
              AfterMatchStrategy.SkipToFirst(specIdent(
                "AFTER MATCH SKIP TO FIRST",
                s.stripPrefix("MATCH SKIP TO FIRST ")))
            case s if s.startsWith("MATCH SKIP TO LAST ") =>
              AfterMatchStrategy.SkipToLast(specIdent(
                "AFTER MATCH SKIP TO LAST",
                s.stripPrefix("MATCH SKIP TO LAST ")))
            // SQL:2016's bare `SKIP TO <variable>` ≡ SKIP TO LAST
            // <variable> (the standard's implicit-LAST reading; the
            // exact TO NEXT [ROW] spellings matched above, so a bare
            // name here is unambiguous). Parse sugar — render prints
            // the explicit TO LAST form.
            case s if s.startsWith("MATCH SKIP TO ") =>
              AfterMatchStrategy.SkipToLast(specIdent(
                "AFTER MATCH SKIP TO",
                s.stripPrefix("MATCH SKIP TO ")))
            case other => throw new IllegalArgumentException(
              "CEP SQL: AFTER MATCH SKIP expects TO NEXT | PAST LAST " +
                s"EVENT | TO [FIRST | LAST] <name>, got '$other'")
          }
      }
      cursor = nextCur
    }

    // SQL:2016 partition anchors: `^` leads, `$` trails, TOP LEVEL ONLY
    // (a documented deviation — SQL:2016 permits anchors per alternation
    // branch; here they are query-level modifiers, see CepQuery)
    val toks0 = lex(patBody)
    val anchorStart = toks0.headOption.contains(TCaret)
    val afterStart = if (anchorStart) toks0.tail else toks0
    val anchorEnd = afterStart.lastOption.contains(TDollar)
    val toks = if (anchorEnd) afterStart.init else afterStart
    toks.foreach {
      case TCaret => throw new IllegalArgumentException(
        "CEP SQL pattern: '^' is only supported as the very first " +
          "element of the PATTERN body (top-level partition-start " +
          "anchor; per-branch anchors are a documented deviation)")
      case TDollar => throw new IllegalArgumentException(
        "CEP SQL pattern: '$' is only supported as the very last " +
          "element of the PATTERN body (top-level partition-end " +
          "anchor; per-branch anchors are a documented deviation)")
      case _ => ()
    }
    val parser = new PParser(toks)
    val alt0 = parser.parseAlt()
    parser.assertDone()
    // a DEFINEd name may appear at most once in BINDING position (units
    // and group labels): sinks bind by name, so PATTERN (a -> a) would
    // silently merge both positions' bindings into one stream register
    // instead of failing. Negation names (!next/!fby) are EXEMPT — a
    // negation is a non-binding boundary guard, so reusing one DEFINE
    // across several negations (a !fby(x) b !fby(x) c) is well-defined.
    def bindingNamesOfAlt(a: PAlt): Vector[String] =
      a.branches.flatMap(bindingNamesOf)
    def bindingNamesOf(s: PSeq): Vector[String] = {
      def unit(u: PU): Vector[String] = u match {
        case PName(n, _)         => Vector(n)
        case PGroup(g, _, label) => bindingNamesOfAlt(g) ++ label.toVector
        // each member binds ONE sink (set) shared across the orderings
        case PPermute(ms)        => ms.flatMap(unit)
        // exclusion is output-only: the member binds normally
        case PExcl(m)            => Vector(m.name)
      }
      unit(s.head) ++ s.tail.flatMap { case (_, _, u) => unit(u) }
    }
    // SQL:2016 SAME-VARIABLE ALTERNATION: a name binding ONCE in each
    // of several TOP-LEVEL branches desugars to per-branch hidden names
    // (`__b<i>_<name>`, same DEFINE) merged by an auto-SUBSET under the
    // original name — the rename+union trick PERMUTE's desugaring
    // already uses, so measures over the shared name see whichever
    // branch bound. Supported scope (everything outside rejects loudly
    // as before — documented deviations): TOP-LEVEL branches only, ONE
    // ROW PER MATCH with MEASURES (the raw binding frame and ALL ROWS
    // classifier would expose the hidden names), no LET or
    // desugared-aggregate registers on the reused DEFINE (the copies
    // would collide at the compiler's branch-register disjointness),
    // no CLASSIFIER() measure, and no user SUBSET over the reused name.
    val topOcc: Map[String, Vector[Int]] = alt0.branches.zipWithIndex
      .flatMap { case (b, i) => bindingNamesOf(b).map(_ -> i) }
      .groupBy(_._1).map { case (n, v) => n -> v.map(_._2) }
    val reused: Map[String, Vector[Int]] = topOcc.filter {
      case (n, bs) => bs.length > 1 && bs.distinct.length == bs.length
    }
    val (alt, hiddenDefs, autoSubsets) =
      if (reused.isEmpty)
        (alt0, Map.empty[String, Def], Vector.empty[(String,
          Vector[String])])
      else {
        def unsupported(why: String): Nothing =
          throw new IllegalArgumentException(
            "CEP SQL: a pattern name binding in several alternation " +
              s"branches is supported only as ONE ROW PER MATCH with " +
              s"MEASURES over event DEFINEs — $why")
        if (measures.isEmpty) unsupported(
          "add MEASURES (the raw binding frame would expose the hidden " +
            "per-branch columns)")
        if (!rowsPerMatch.forall(_ == RowsPerMatch.OneRow)) unsupported(
          "a rows-per-match mode other than plain ONE ROW PER MATCH " +
            "would surface the hidden per-branch classifiers/rows")
        measures.flatMap(CepMeasures.MeasureItem.atomsOf).foreach(m =>
          if (m.fn == CepMeasures.Fn.Classifier) unsupported(
            "CLASSIFIER() would print the hidden per-branch names"))
        reused.keys.toVector.sorted.foreach { n =>
          val d = defMap0.getOrElse(n, throw new IllegalArgumentException(
            s"CEP SQL: pattern name '$n' has no DEFINE"))
          if (d.event == GroupEvent) unsupported(
            s"'$n' is a GROUP label (labels carry run-scoped UNTIL " +
              "state that cannot be branch-copied)")
          if (d.vars.nonEmpty) unsupported(
            s"'$n' carries LET/aggregate registers, whose branch copies " +
              "would collide (fold by hand per branch instead)")
          if (aggCtx.pending.exists(_._1 == n)) unsupported(
            s"a DEFINE aggregate/navigation targets '$n' — its register " +
              "would attach to the unbound original name")
          if (subsets.exists { case (u, ms) =>
            u == n || ms.contains(n) }) unsupported(
            s"a user SUBSET names '$n'")
        }
        def renameSeq(s: PSeq, from: String, to: String): PSeq = {
          def unit(u: PU): PU = u match {
            case p: PName if p.name == from => p.copy(name = to)
            case p: PName                   => p
            // group LABELS are GROUP defs, rejected above — only the
            // body renames; negation guards reference the DEFINE (not a
            // sink) and stay untouched by design
            case g: PGroup =>
              g.copy(alt = PAlt(g.alt.branches.map(renameSeq(_, from, to))))
            case pm: PPermute => pm.copy(members = pm.members.map(unit))
            case e: PExcl if e.member.name == from =>
              PExcl(e.member.copy(name = to))
            case e: PExcl => e
          }
          PSeq(unit(s.head),
            s.tail.map { case (c, neg, u) => (c, neg, unit(u)) })
        }
        var branches = alt0.branches
        val hidden = scala.collection.mutable.LinkedHashMap.empty[String,
          Def]
        val autos = Vector.newBuilder[(String, Vector[String])]
        reused.toVector.sortBy(_._1).foreach { case (n, bs) =>
          val members = bs.map { bi =>
            val nn = s"__b${bi}_$n"
            require(!defMap0.contains(nn) && !topOcc.contains(nn),
              s"CEP SQL: hidden branch name '$nn' collides with a " +
                "declared name — rename it")
            branches = branches.updated(bi, renameSeq(branches(bi), n, nn))
            hidden(nn) = defMap0(n)
            nn
          }
          autos += n -> members
        }
        (PAlt(branches), hidden.toMap, autos.result())
      }
    val autoSubsetNames = autoSubsets.map(_._1).toSet
    subsets = subsets ++ autoSubsets
    val defMap: Map[String, Def] = defMap0 ++ hiddenDefs
    // ALSO rejects the same name binding in two alternation BRANCHES —
    // a shared sink would merge the branches' bindings (the compiler
    // enforces branch disjointness too; this is the earlier, named error)
    bindingNamesOfAlt(alt).groupBy(identity).foreach { case (n, uses) =>
      require(uses.length == 1,
        s"CEP SQL: pattern name '$n' appears ${uses.length} times — " +
          "each DEFINEd name may appear at most once in binding " +
          "position in PATTERN (negation guards are exempt; once per " +
          "TOP-LEVEL alternation branch desugars to an auto-SUBSET)")
    }
    // SUBSET members must be event-binding DEFINEs that actually bind
    val subsetMap = subsets.toMap
    subsets.foreach { case (u, ms) =>
      require(autoSubsetNames.contains(u) || !defMap.contains(u),
        s"CEP SQL SUBSET: '$u' collides with a DEFINEd name")
      ms.foreach { n =>
        val d = defMap.getOrElse(n, throw new IllegalArgumentException(
          s"CEP SQL SUBSET: '$u' member '$n' has no DEFINE"))
        require(d.event != GroupEvent,
          s"CEP SQL SUBSET: '$u' member '$n' is a GROUP label — groups " +
            "bind no events")
      }
    }
    // lowering happens here (not at the tail) so the inline-universe
    // schema below can reuse the spec's exact reference derivation
    val excl = scala.collection.mutable.Set.empty[String]
    val lowered = lowerAlt(alt, defMap, excl)
    // effective schema: the caller's, or the inline `TYPE ... IN`
    // universe (FROM-clause surface) with per-type attrs = everything
    // the statement references (the same derivation
    // `CepSqlStatement.spec` uses for attrCols, plus the order column)
    // — measure validation then passes exactly for referenced attrs,
    // and real column existence is checked when the spec's attrCols
    // hit the actual table at plan time
    val schema: Vector[(String, Vector[String])] = inTypes match {
      case None => callerSchema
      case Some(ts) =>
        require(callerSchema.isEmpty,
          "CEP SQL: TYPE ... IN (...) declares the event-type universe " +
            "inline — drop the IN-list when a schema is supplied by the " +
            "caller (the two could silently disagree)")
        val defEvents = defMap.values.map(_.event)
          .filter(_ != GroupEvent).toSet
        val missing = defEvents -- ts.toSet
        require(missing.isEmpty,
          s"CEP SQL: DEFINE event type(s) " +
            s"${missing.toVector.sorted.mkString(", ")} missing from " +
            "the TYPE ... IN universe")
        val refAttrs = (patternRefs(lowered) -- patternVars(lowered)) ++
          measures.flatMap(CepMeasures.MeasureItem.atomsOf)
            .flatMap(CepMeasures.attrsOf) ++
          orderByCol ++ withinTime.map(_.tsAttr)
        val attrs = refAttrs.toVector.sorted
        ts.map(_ -> attrs)
    }
    // COUNT(*) desugar (see the grammar): one-name pattern → plain
    // COUNT(n); else COUNT(n1) + … + COUNT(nk) over the names in
    // declaration order (each bound event maps to exactly one name).
    // GROUP labels bind no events — they contribute nothing to the row
    // count and would be rejected as measure targets, so they are
    // excluded from the sum. Before target validation, which knows
    // nothing of '*'.
    measures = measures.map {
      case m: CepMeasures.Measure
          if m.fn == CepMeasures.Fn.Count && m.name == "*" =>
        val ordered = bindingNamesOfAlt(alt).distinct
          .filterNot(n => defMap.get(n).exists(_.event == GroupEvent))
        if (ordered.size == 1) m.copy(name = ordered.head)
        else CepMeasures.ExprMeasure(
          ordered.map(n => CepMeasures.Arith.Leaf(
            CepMeasures.Measure(CepMeasures.Fn.Count, n, None, "")))
            .reduceLeft[CepMeasures.Arith[CepMeasures.Measure]](
              CepMeasures.Arith.Add(_, _)),
          m.alias, m.isFinal)
      case other => other
    }
    // measure targets must be event-binding DEFINEs (or SUBSETs of
    // them) with known attrs — a SUBSET attribute must exist on EVERY
    // member's event type. An expression item validates every atom.
    measures.flatMap(CepMeasures.MeasureItem.atomsOf).foreach { m =>
      if (CepMeasures.Fn.isNullary(m.fn) && m.name.isEmpty) {
        // nullary match-level measures have no name/attr to validate
        // (a TARGETED CLASSIFIER(U) carries a name and validates below)
      } else {
      val events: Vector[String] = subsetMap.get(m.name) match {
        case Some(ms) => ms.map(defMap(_).event)
        case None =>
          val d = defMap.getOrElse(m.name,
            throw new IllegalArgumentException(
              s"CEP SQL MEASURES: '${m.name}' has no DEFINE or SUBSET"))
          require(d.event != GroupEvent,
            s"CEP SQL MEASURES: '${m.name}' is a GROUP label — groups " +
              "bind no events to measure")
          Vector(d.event)
      }
      CepMeasures.attrsOf(m).foreach { a =>
        events.foreach { ev =>
          val attrs = schema.collectFirst { case (e, as) if e == ev => as }
            .getOrElse(Vector.empty)
          require(attrs.contains(a),
            s"CEP SQL MEASURES: '${m.name}.$a' — event '$ev' has " +
              s"no attribute '$a' in the schema")
        }
      }
      }
    }
    measures.groupBy(_.alias).foreach { case (a, ms) =>
      require(ms.length == 1,
        s"CEP SQL MEASURES: duplicate alias '$a'") }
    // an alias that shadows a match-frame column would survive to a deep
    // ambiguous-reference AnalysisException at execution — reject here
    // (CepMeasures revalidates against the actual runtime spec)
    val bindingNames = bindingNamesOfAlt(alt).toSet
    measures.foreach { m =>
      require(!bindingNames.contains(m.alias),
        s"CEP SQL MEASURES: alias '${m.alias}' collides with a pattern " +
          "name")
      require(!subsetMap.contains(m.alias),
        s"CEP SQL MEASURES: alias '${m.alias}' collides with a SUBSET " +
          "name")
      (partitionBy.toVector ++ partitionByCols).foreach(k =>
        require(m.alias != k,
          s"CEP SQL MEASURES: alias '${m.alias}' collides with a " +
            "PARTITION BY column"))
      require(!m.alias.startsWith("__"),
        s"CEP SQL MEASURES: alias '${m.alias}' uses the reserved '__' " +
          "prefix")
    }
    subsets.foreach { case (u, ms) =>
      ms.foreach(n => require(bindingNames.contains(n),
        s"CEP SQL SUBSET: '$u' member '$n' never binds (it appears " +
          "only as a negation guard)"))
    }
    // SKIP TO FIRST/LAST anchors must be DEFINEd event-binding names:
    // the Executor treats an anchor that never binds as the documented
    // NoSkip fallback, so an unknown (typo'd) anchor would silently
    // change match semantics — reject it at parse time instead. SUBSET
    // names are not anchors (the strategy resumes at one bound EVENT).
    strategy match {
      case AfterMatchStrategy.SkipToFirst(a) =>
        require(bindingNamesOfAlt(alt).contains(a),
          s"CEP SQL: AFTER MATCH SKIP TO FIRST $a — '$a' is not a " +
            s"pattern variable (have ${bindingNamesOfAlt(alt).distinct
              .mkString(", ")})")
      case AfterMatchStrategy.SkipToLast(a) =>
        require(bindingNamesOfAlt(alt).contains(a),
          s"CEP SQL: AFTER MATCH SKIP TO LAST $a — '$a' is not a " +
            s"pattern variable (have ${bindingNamesOfAlt(alt).distinct
              .mkString(", ")})")
      case _ => ()
    }
    val excluded = excl.toVector.sorted
    // SQL:2016 ties the exclusion syntax to ALL ROWS PER MATCH — with
    // one row per match there are no per-event rows to omit, so a
    // silent no-op would hide an authoring mistake (Trino/Flink reject
    // it the same way)
    require(excluded.isEmpty ||
      rowsPerMatch.contains(RowsPerMatch.AllRows) ||
      rowsPerMatch.contains(RowsPerMatch.AllRowsShowEmpty) ||
      rowsPerMatch.contains(RowsPerMatch.AllRowsUnmatched),
      "CEP SQL: '{- ... -}' exclusion requires ALL ROWS PER MATCH " +
        "(with ONE ROW PER MATCH there are no per-event output rows " +
        "to exclude)")
    CepSqlStatement(
      CepQuery(lowered, schema, strategy, within, withinTime,
        anchorStart = anchorStart, anchorEnd = anchorEnd),
      measures, partitionBy, orderByCol, typeColOpt,
      rowsPerMatch.getOrElse(RowsPerMatch.OneRow), subsets, excluded,
      partitionByCols)
  }

  // --------------------------------------------------------------- render
  /** Render a [[CepQuery]] back to its SQL form —
    * `parse(render(q), q.schema) == q` for every query the grammar can
    * express (property-pinned in `CepSqlSpec` over random ASTs).
    * Combines must be LEFT-nested, the parser's fold normal form: a
    * `Combine`/`CombineNot` as the RIGHT child of a combine has no
    * textual form (parenthesising it would introduce a `Gpat`) and is
    * rejected loudly. A group-nested `gpat-inf` `until` renders through
    * a synthesized group label (`:__g<k>` + `__g<k> AS GROUP UNTIL`).
    * Conditions render via the engine's precedence-parenthesised
    * expression printer, which re-parses to the same AST.
    */
  def render(st: CepSqlStatement): String =
    render(st.query, st.measures, st.partitionBy, st.orderBy, st.typeCol,
      st.rowsPerMatch, st.subsets, st.excluded, st.partitionByCols)

  def render(q: CepQuery,
      measures: Vector[CepMeasures.MeasureItem] = Vector.empty,
      partitionBy: Option[String] = None,
      orderBy: Option[String] = None,
      typeCol: Option[String] = None,
      rowsPerMatch: RowsPerMatch = RowsPerMatch.OneRow,
      subsets: Vector[(String, Vector[String])] = Vector.empty,
      excluded: Vector[String] = Vector.empty,
      partitionByCols: Vector[String] = Vector.empty): String = {
    val defs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val bindingSeen = scala.collection.mutable.Set.empty[String]
    def bindOnce(name: String): Unit = {
      require(bindingSeen.add(name),
        s"CEP SQL render: pattern name '$name' binds twice")
    }
    var groupN = 0
    // inverse of the parse side's navigation handling: drop the NULL
    // guards Nav.guard added, print nav value refs as PREV(...)/NEXT(...)
    def exprS(e: Expr): String =
      Pattern.ExprRepr(Nav.display(Nav.stripGuards(e)))
    def addDef(name: String, event: String, cndt: Expr,
        vars: Vector[VarDef], until: Option[Expr],
        allowDupIdentical: Boolean = false): Unit = {
      val sb = new StringBuilder(s"$name AS $event")
      if (cndt != Expr.True) sb ++= s" WHERE ${exprS(cndt)}"
      if (vars.nonEmpty)
        sb ++= " LET " + vars.map(v =>
          s"${v.name} = ${v.initial} THEN ${exprS(v.update)}")
          .mkString(", ")
      until.foreach(u => sb ++= s" UNTIL ${exprS(u)}")
      val text = sb.toString
      if (defs.contains(name)) {
        // a negation guard may reuse a DEFINE (several !fby(x) sites, or
        // a name that both binds and guards) — but only with IDENTICAL
        // content, since the text form has one DEFINE per name
        require(allowDupIdentical && defs(name) == text,
          s"CEP SQL render: pattern name '$name' is used twice with " +
            "differing definitions")
      } else defs(name) = text
    }
    def mark(c: Contiguity): String = c match {
      case Contiguity.Strict    => ""
      case Contiguity.Relaxed   => "~"
      case Contiguity.NdRelaxed => "~~"
    }
    def sep(c: Contiguity): String = c match {
      case Contiguity.Strict    => " "
      case Contiguity.Relaxed   => " -> "
      case Contiguity.NdRelaxed => " ~> "
    }
    // re-emit the `{- ... -}` exclusion around an excluded name unit
    def exclWrap(name: String, s: String): String =
      if (excluded.contains(name)) s"{- $s -}" else s
    def unit(p: Pattern): String = p match {
      case s: Pattern.Spat =>
        bindOnce(s.name)
        addDef(s.name, s.event, s.cndt, s.vars, None,
          allowDupIdentical = true)
        exclWrap(s.name, s.name)
      case l: Pattern.Lpat =>
        bindOnce(l.name)
        addDef(l.name, l.event, l.cndt, l.vars, None,
          allowDupIdentical = true)
        exclWrap(l.name,
          s"${l.name}{${l.from},${l.to}}${mark(l.contiguity)}" +
            (if (l.greedy) "!" else ""))
      case l: Pattern.LpatInf =>
        bindOnce(l.name)
        addDef(l.name, l.event, l.cndt, l.vars, l.until,
          allowDupIdentical = true)
        exclWrap(l.name,
          s"${l.name}{${l.from},}${mark(l.contiguity)}" +
            (if (l.greedy) "!" else ""))
      case pm: Pattern.Permute =>
        s"PERMUTE(${pm.units.map(unit).mkString(", ")})"
      case g: Pattern.Gpat      => s"(${topS(g.child)})"
      case g: Pattern.GpatTimes =>
        val gr = if (g.greedy) "!" else ""
        s"(${topS(g.child)}){${g.from},${g.to}}$gr"
      case g: Pattern.GpatInf =>
        val gr = if (g.greedy) "!" else ""
        val label = g.until.map { u =>
          groupN += 1
          val n = s"__g$groupN"
          addDef(n, GroupEvent, Expr.True, Vector.empty, Some(u))
          s":$n"
        }.getOrElse("")
        s"(${topS(g.child)}){${g.from},}$gr$label"
      // combines never reach `unit` (seqS flattens the left spine and
      // rightUnit rejects them); parenthesising one here would silently
      // introduce a Gpat on re-parse, so fail instead
      case _: Pattern.Combine | _: Pattern.CombineNot =>
        throw new IllegalStateException(
          "CEP SQL render: combine reached unit position")
      // a BARE alternation in unit position (a combine child) has no
      // textual form: alternation binds looser than concatenation, so
      // printing it inline would re-parse with the wrong shape, and
      // parenthesising it would introduce a Gpat — reject loudly
      case _: Pattern.Alt =>
        throw new IllegalArgumentException(
          "CEP SQL render: a bare alternation cannot be a combine " +
            "child — wrap it in an explicit Gpat group (the parser's " +
            "'(a | b)' form)")
    }
    def rightUnit(p: Pattern): String = p match {
      case _: Pattern.Combine | _: Pattern.CombineNot =>
        throw new IllegalArgumentException(
          "CEP SQL render: combines must be LEFT-nested (the parser's " +
            "fold normal form) — a combine as the right child of a " +
            "combine has no textual form; restructure the pattern or " +
            "wrap the right side in an explicit Gpat group")
      case other => unit(other)
    }
    // alternation level — binds looser than concatenation; branches fold
    // LEFT like combines, so only the left spine flattens (an Alt as the
    // RIGHT child of an Alt has no textual form; Gpat-wrap it)
    def topS(p: Pattern): String = p match {
      case a: Pattern.Alt =>
        val r = a.right match {
          case _: Pattern.Alt =>
            throw new IllegalArgumentException(
              "CEP SQL render: alternations must be LEFT-nested (the " +
                "parser's fold normal form) — an Alt as the right child " +
                "of an Alt has no textual form; wrap the right side in " +
                "an explicit Gpat group")
          case other => seqS(other)
        }
        s"${topS(a.left)} | $r"
      case other => seqS(other)
    }
    def seqS(p: Pattern): String = p match {
      case c: Pattern.Combine =>
        s"${seqS(c.left)}${sep(c.contiguity)}${rightUnit(c.right)}"
      case c: Pattern.CombineNot =>
        addDef(c.neg.name, c.neg.event, c.neg.cndt, Vector.empty, None,
          allowDupIdentical = true)
        val tok = c.mode match {
          case Pattern.NegMode.NotNext       => "!next"
          case Pattern.NegMode.NotFollowedBy => "!fby"
        }
        val s = sep(c.contiguity)
        // the strict separator is juxtaposition; keep one space before
        // the negation marker
        val sepTok = if (s == " ") " " else s
        s"${seqS(c.left)}$sepTok$tok(${c.neg.name}) ${rightUnit(c.right)}"
      case other => unit(other)
    }
    val body = (if (q.anchorStart) "^ " else "") + topS(q.patseq) +
      (if (q.anchorEnd) " $" else "")
    def atomS(m: CepMeasures.Measure): String = {
      val arg = m.argExpr match {
        case Some(ae) =>
          CepMeasures.Arith.render(ae, (a: String) => s"${m.name}.$a")
        case None     => s"${m.name}${m.attr.fold("")("." + _)}"
      }
      val base = s"${m.fn.sqlName}(" +
        (if (m.distinct) "DISTINCT " else "") + arg +
        (if (m.offset != 0) s", ${m.offset}" else "") + ")"
      m.phys match {
        case Some(pn) =>
          (if (pn.isNext) "NEXT(" else "PREV(") + base +
            (if (pn.steps != 1) s", ${pn.steps}" else "") + ")"
        case None => base
      }
    }
    val measS =
      if (measures.isEmpty) ""
      else "\nMEASURES " + measures.map { item =>
        (if (item.isFinal) "FINAL " else "") + (item match {
          case m: CepMeasures.Measure     => atomS(m)
          case e: CepMeasures.ExprMeasure =>
            CepMeasures.Arith.render(e.expr, atomS)
        }) + s" AS ${item.alias}"
      }.mkString(", ") + "\n"
    val subS =
      if (subsets.isEmpty) ""
      else "\nSUBSET " + subsets.map { case (u, ms) =>
        s"$u = (${ms.mkString(", ")})"
      }.mkString(", ") + "\n"
    val rpmS = rowsPerMatch match {
      case RowsPerMatch.OneRow  => Seq.empty[String] // the default
      case RowsPerMatch.OneRowShowEmpty =>
        Seq("ONE ROW PER MATCH SHOW EMPTY MATCHES")
      case RowsPerMatch.AllRows => Seq("ALL ROWS PER MATCH")
      case RowsPerMatch.AllRowsShowEmpty =>
        Seq("ALL ROWS PER MATCH SHOW EMPTY MATCHES")
      case RowsPerMatch.AllRowsUnmatched =>
        Seq("ALL ROWS PER MATCH WITH UNMATCHED ROWS")
    }
    val partS =
      if (partitionByCols.nonEmpty)
        Seq(s"PARTITION BY ${partitionByCols.mkString(", ")}")
      else partitionBy.map(k => s"PARTITION BY $k").toSeq
    val specS = (rpmS ++ partS ++
      orderBy.map(o => s"ORDER BY $o").toSeq ++
      typeCol.map(t => s"TYPE $t").toSeq) match {
      case Seq() => ""
      case parts => "\n" + parts.mkString(" ") + "\n"
    }
    val sb = new StringBuilder(s"PATTERN ($body)$measS$subS$specS DEFINE ")
    sb ++= defs.values.mkString(";\n       ")
    q.within.foreach(w => sb ++= s"\nWITHIN $w")
    q.withinTime.foreach(wt => sb ++= s"\nWITHIN ${wt.span} ON ${wt.tsAttr}")
    q.strategy match {
      case AfterMatchStrategy.NoSkip => ()
      case AfterMatchStrategy.SkipToNext =>
        sb ++= "\nAFTER MATCH SKIP TO NEXT"
      case AfterMatchStrategy.SkipPastLastEvent =>
        sb ++= "\nAFTER MATCH SKIP PAST LAST EVENT"
      case AfterMatchStrategy.SkipToFirst(a) =>
        sb ++= s"\nAFTER MATCH SKIP TO FIRST $a"
      case AfterMatchStrategy.SkipToLast(a) =>
        sb ++= s"\nAFTER MATCH SKIP TO LAST $a"
    }
    sb.toString
  }
}
