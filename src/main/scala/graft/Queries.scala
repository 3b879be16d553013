package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cep._
import graft.cep.SparkCep.CepSpec

/** The query registry behind `SparkEntry.queries` / `oracleSql`.
  *
  * Every entry returns a *deterministically ordered* DataFrame whose column
  * names and types match its DuckDB oracle exactly (the driver sorts columns
  * by name and hashes values — see the builder contract). Monetary doubles
  * are reduced to exact integer cents via `decimal(18,2) * 100 → bigint` on
  * both sides so float-summation order can never flip a hash.
  */
object Queries {

  /** Reads `dir/name.parquet` with its `ts` column normalized to long
    * epoch micros (`normalizeTs`).
    *
    * Session contract: every call sets
    * `spark.sql.legacy.parquet.nanosAsLong=true` on the CALLER's session
    * (Spark has no per-reader option for it) and never resets it. The
    * conf then also applies to every other parquet read of that session:
    * a timestamp[ns] column anywhere reads as long instead of failing the
    * scan. The current fixtures carry timestamp[us], for which the flag
    * is a no-op; it keeps a ns-typed fixture readable (the ns column
    * lands in `normalizeTs`'s LongType branch). `EventSource.parquet`
    * sets the same conf.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // driver-side footer schema: skips the per-read inference JOB
    // (~110 ms/build at sf0.1 — ReadOverheadLab; ParquetSchema scaladoc)
    normalizeTs(graft.ops.ParquetSchema.read(spark, s"$dir/$name.parquet"),
      s"$dir/$name.parquet")
  }

  /** Canonical event-time: `ts` is always LONG EPOCH MICROS after this —
    * every downstream consumer (session gap, day bucket, within-time
    * window) does integer micros arithmetic, and the DuckDB oracles
    * mirror it with `epoch_us(ts)`.
    *
    * The fixture's physical type has drifted across driver rounds
    * (timestamp[ns] through r5, timestamp[us]/TIMESTAMP_NTZ since r6 —
    * the r6/r7 silent breakage), so the normalization is by *type*, not
    * by assumption, and an unrecognized type fails LOUDLY naming the
    * drift instead of letting queries die one by one downstream.
    *
    * TIMESTAMP_NTZ → micros uses `timestampdiff` from the epoch NTZ
    * literal: pure wall-clock arithmetic, independent of
    * `spark.sql.session.timeZone` (a `cast(ts as timestamp)` detour
    * would shift by the session zone — verified off-by-5h under
    * America/New_York). This matches DuckDB's `epoch_us` on naive
    * timestamps exactly.
    */
  private[graft] def normalizeTs(df: DataFrame, where: String): DataFrame =
    df.schema.fields.find(_.name == "ts") match {
      case None => df
      case Some(f) => f.dataType match {
        case TimestampNTZType =>
          df.withColumn("ts", expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"))
        case TimestampType =>
          df.withColumn("ts", unix_micros(col("ts")))
        case LongType => // legacy nanosAsLong read of timestamp[ns]
          // Magnitude guard (ADVICE r8): a long ts is only rescaled /1000
          // if it is plausibly NANOS — >= 1e16 ns (1970-04-26; the fixture
          // epoch is 2020s ≈ 1.7e18 ns). If the driver ever regenerates
          // the fixture with ts already in micros (~1.7e15) or millis
          // (~1.7e12), this fails LOUDLY in the Verify/bench runtime
          // instead of silently scaling every timestamp 1000×. Runs as a
          // codegen'd per-row expression, so no extra job is spent on it.
          df.withColumn("ts", expr(
            "CASE WHEN ts < 10000000000000000 THEN CAST(raise_error(" +
              "concat('FIXTURE SCHEMA DRIFT: " + where + " carries long " +
              "ts=', ts, ' — too small for legacy nanosAsLong (>=1e16); " +
              "the fixture likely moved to micros/millis. Teach " +
              "Queries.normalizeTs the new unit.')) AS LONG) " +
              "ELSE (ts - pmod(ts, 1000)) DIV 1000 END"))
        case other => throw new IllegalStateException(
          s"FIXTURE SCHEMA DRIFT: $where carries ts: ${other.sql}; this " +
            "engine knows TIMESTAMP_NTZ (us), TIMESTAMP, and LONG (legacy " +
            "nanosAsLong). Teach Queries.normalizeTs the new type and " +
            "re-check every ts consumer + oracle (epoch_us arithmetic).")
      }
    }

  /** events → CEP event model mapping (FIXTURES.md §3): keyed by user,
    * ordered by the monotone event_id, `value` visible to conditions as a
    * truncated long.
    */
  private[graft] val eventSpec =
    CepSpec(Some("user_id"), "event_id", "event_type", Seq("value"))

  private val eventSchema: Vector[(String, Vector[String])] = Vector(
    "click" -> Vector("event_id", "value"),
    "purchase" -> Vector("event_id", "value"),
    "error" -> Vector("event_id", "value"),
    "signup" -> Vector("event_id", "value"),
    "view" -> Vector("event_id", "value"))

  /** Registry CEP queries run the Catalyst-planned operator
    * (`matchPatternExec`): InternalRow end-to-end, declared
    * distribution/ordering — measured ~4-8× the typed-mapPartitions
    * formulation on the 4M/16M-event scale probes, byte-identical output
    * (gated per registry pattern by `CepExecSpec`).
    */
  private def cep(spark: SparkSession, dir: String, q: CepQuery): DataFrame =
    SparkCep.matchPatternExec(table(spark, dir, "events"), q, eventSpec)

  /** array<long> → "1,2,3" (string ids survive any hash comparison). */
  private def idsCol(c: String) =
    expr(s"array_join(transform($c, x -> cast(x as string)), ',')")

  // =======================================================================
  // CEP queries over the events table — one per operator of SURVEY.md §2.
  // =======================================================================

  /** §2 #1 spat: single purchase below 40. */
  val cepSpatPurchaseQuery: CepQuery =
    CepQuery(Pattern.spat("a", "purchase", "value < 40"), eventSchema)

  def cepSpatPurchase(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepSpatPurchaseQuery)
      .select(col("user_id"), element_at(col("a"), 1).as("a_id"))
      .orderBy("user_id", "a_id")

  val cepSpatPurchaseSql: String =
    """SELECT user_id, event_id AS a_id FROM events
      |WHERE event_type = 'purchase' AND CAST(FLOOR(value) AS BIGINT) < 40
      |ORDER BY user_id, a_id""".stripMargin

  /** §2 #4+#11 combine strict: signup immediately followed by purchase. */
  val cepNextSignupPurchaseQuery: CepQuery =
    CepQuery(
      Pattern.Combine(Contiguity.Strict,
        Pattern.spat("a", "signup", "True"),
        Pattern.spat("b", "purchase", "True")),
      eventSchema)

  def cepNextSignupPurchase(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepNextSignupPurchaseQuery)
      .select(col("user_id"), element_at(col("a"), 1).as("a_id"),
        element_at(col("b"), 1).as("b_id"))
      .orderBy("user_id", "a_id")

  val cepNextSignupPurchaseSql: String =
    """SELECT user_id, event_id AS a_id, next_id AS b_id FROM (
      |  SELECT user_id, event_id, event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS next_type,
      |    LEAD(event_id)   OVER (PARTITION BY user_id ORDER BY event_id) AS next_id
      |  FROM events) t
      |WHERE event_type = 'signup' AND next_type = 'purchase'
      |ORDER BY user_id, a_id""".stripMargin

  /** Beyond-parity negative pattern (FlinkCEP `notFollowedBy`): signup
    * followed by purchase with NO error event in between — an error
    * between the signup and the first subsequent purchase kills the run
    * (compiled to guarded junction edges, `DstCompiler.compileCombineNot`;
    * golden semantics in `GoldenNegativeSpec`). The oracle mirrors the
    * per-run scope: first purchase after each signup, kept iff no error
    * sits between them.
    */
  val cepNotFollowedByPurchaseQuery: CepQuery =
    CepQuery(
      Pattern.CombineNot(Contiguity.Relaxed,
        Pattern.spat("a", "signup", "True"),
        Pattern.negSpec("n", "error", "True"),
        Pattern.NegMode.NotFollowedBy,
        Pattern.spat("b", "purchase", "True")),
      eventSchema)

  def cepNotFollowedByPurchase(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepNotFollowedByPurchaseQuery)
      .select(col("user_id"), element_at(col("a"), 1).as("a_id"),
        element_at(col("b"), 1).as("b_id"))
      .orderBy("user_id", "a_id")

  val cepNotFollowedByPurchaseSql: String =
    """WITH s AS (
      |  SELECT user_id, event_id AS a_id FROM events
      |  WHERE event_type = 'signup'),
      |p AS (
      |  SELECT user_id, event_id FROM events
      |  WHERE event_type = 'purchase'),
      |fp AS (
      |  SELECT s.user_id, s.a_id, min(p.event_id) AS b_id
      |  FROM s JOIN p ON p.user_id = s.user_id AND p.event_id > s.a_id
      |  GROUP BY 1, 2)
      |SELECT f.user_id, f.a_id, f.b_id
      |FROM fp f
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM events e
      |  WHERE e.user_id = f.user_id AND e.event_type = 'error'
      |    AND e.event_id > f.a_id AND e.event_id < f.b_id)
      |ORDER BY f.user_id, f.a_id""".stripMargin

  /** Multi-query shared-scan CEP (`SparkCep.matchPatternsShared`): three
    * registry patterns over ONE events scan and ONE key shuffle — the
    * at-scale deployment shape, where the 100 TB read and the exchange
    * amortize across the whole query set. NOTE: this trio runs with NO
    * union pushdown — the strict `next_signup_purchase` member declines a
    * prefilter (strict contiguity observes every event), which disables
    * the OR-filter for the whole set; what this query measures is the
    * shared scan + shared exchange, full-stream. See
    * `cep_multi_shared_pushdown` for the trio where the union filter
    * engages. Output is the canonical `(qname, user_id, binding)`
    * reporting form; the oracle is the UNION ALL of the constituent
    * oracles rendered to the same binding string, so a hash match proves
    * the shared pass produces exactly the union of the per-query match
    * sets.
    */
  def cepMultiShared(spark: SparkSession, dir: String): DataFrame =
    SparkCep.matchPatternsShared(table(spark, dir, "events"),
      Seq(
        "spat_purchase" -> cepSpatPurchaseQuery,
        "next_signup_purchase" -> cepNextSignupPurchaseQuery,
        "not_followed_by_purchase" -> cepNotFollowedByPurchaseQuery),
      eventSpec)
      .orderBy("qname", "user_id", "binding")

  val cepMultiSharedSql: String =
    """WITH spat AS (
      |  SELECT 'spat_purchase' AS qname, user_id,
      |    CAST(event_id AS VARCHAR) AS binding
      |  FROM events
      |  WHERE event_type = 'purchase' AND CAST(FLOOR(value) AS BIGINT) < 40),
      |nxt AS (
      |  SELECT 'next_signup_purchase' AS qname, user_id,
      |    CAST(event_id AS VARCHAR) || ';' || CAST(next_id AS VARCHAR)
      |      AS binding
      |  FROM (
      |    SELECT user_id, event_id, event_type,
      |      LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
      |        AS next_type,
      |      LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
      |        AS next_id
      |    FROM events) t
      |  WHERE event_type = 'signup' AND next_type = 'purchase'),
      |s AS (
      |  SELECT user_id, event_id AS a_id FROM events
      |  WHERE event_type = 'signup'),
      |p AS (
      |  SELECT user_id, event_id FROM events
      |  WHERE event_type = 'purchase'),
      |fp AS (
      |  SELECT s.user_id, s.a_id, min(p.event_id) AS b_id
      |  FROM s JOIN p ON p.user_id = s.user_id AND p.event_id > s.a_id
      |  GROUP BY 1, 2),
      |nfb AS (
      |  SELECT 'not_followed_by_purchase' AS qname, f.user_id,
      |    CAST(f.a_id AS VARCHAR) || ';' || CAST(f.b_id AS VARCHAR)
      |      AS binding
      |  FROM fp f
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM events e
      |    WHERE e.user_id = f.user_id AND e.event_type = 'error'
      |      AND e.event_id > f.a_id AND e.event_id < f.b_id))
      |SELECT qname, user_id, binding FROM (
      |  SELECT * FROM spat
      |  UNION ALL SELECT * FROM nxt
      |  UNION ALL SELECT * FROM nfb)
      |ORDER BY qname, user_id, binding""".stripMargin

  /** Shared-scan CEP with the union pushdown ENGAGED: every member has a
    * prefilter (spat, relaxed lpat, relaxed NotFollowedBy), so the shared
    * stream is the OR of the three scan-level filters — at corpus scale
    * the dominant win on top of the shared exchange, since only
    * {signup, purchase, error} rows ever leave the scan. Plan-pinned by
    * `CepMultiSharedSpec` ("engaged union filter reaches the scan; one
    * exchange total"); semantics pinned by the same spec's differential
    * against the per-query operators.
    */
  def cepMultiSharedPushdown(spark: SparkSession, dir: String): DataFrame =
    SparkCep.matchPatternsShared(table(spark, dir, "events"),
      Seq(
        "spat_purchase" -> cepSpatPurchaseQuery,
        "lpat_relaxed_purchase_pairs" -> cepLpatRelaxedPurchasePairsQuery,
        "not_followed_by_purchase" -> cepNotFollowedByPurchaseQuery),
      eventSpec)
      .orderBy("qname", "user_id", "binding")

  val cepMultiSharedPushdownSql: String =
    """WITH spat AS (
      |  SELECT 'spat_purchase' AS qname, user_id,
      |    CAST(event_id AS VARCHAR) AS binding
      |  FROM events
      |  WHERE event_type = 'purchase' AND CAST(FLOOR(value) AS BIGINT) < 40),
      |lp AS (
      |  SELECT 'lpat_relaxed_purchase_pairs' AS qname, user_id,
      |    CAST(a1 AS VARCHAR) || ',' || CAST(a2 AS VARCHAR) AS binding
      |  FROM (
      |    SELECT user_id, event_id AS a1,
      |      LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
      |        AS a2
      |    FROM events
      |    WHERE event_type = 'purchase'
      |      AND CAST(FLOOR(value) AS BIGINT) < 40) t
      |  WHERE a2 IS NOT NULL),
      |s AS (
      |  SELECT user_id, event_id AS a_id FROM events
      |  WHERE event_type = 'signup'),
      |p AS (
      |  SELECT user_id, event_id FROM events
      |  WHERE event_type = 'purchase'),
      |fp AS (
      |  SELECT s.user_id, s.a_id, min(p.event_id) AS b_id
      |  FROM s JOIN p ON p.user_id = s.user_id AND p.event_id > s.a_id
      |  GROUP BY 1, 2),
      |nfb AS (
      |  SELECT 'not_followed_by_purchase' AS qname, f.user_id,
      |    CAST(f.a_id AS VARCHAR) || ';' || CAST(f.b_id AS VARCHAR)
      |      AS binding
      |  FROM fp f
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM events e
      |    WHERE e.user_id = f.user_id AND e.event_type = 'error'
      |      AND e.event_id > f.a_id AND e.event_id < f.b_id))
      |SELECT qname, user_id, binding FROM (
      |  SELECT * FROM spat
      |  UNION ALL SELECT * FROM lp
      |  UNION ALL SELECT * FROM nfb)
      |ORDER BY qname, user_id, binding""".stripMargin

  /** The shared multi-pattern scan DECLARED AS SQL TEXT
    * (`CepSql.parseQueries` → `SparkCep.matchPatternsShared`): the
    * pushdown trio again, but every member arrives as a
    * MATCH_RECOGNIZE-shaped statement instead of Pattern builders —
    * certifying that SQL-declared members lower onto the
    * one-scan/one-filter/one-exchange operator with the same union
    * pushdown (all three members keep their prefilters after lowering,
    * so the OR-filter engages; plan + shared-vs-solo differential in
    * `CepMultiSharedSpec`). Oracle: identical to the builder-declared
    * trio's, so a hash match proves text and builder declarations are
    * the same operator.
    */
  val cepSqlMultiSharedStatements: Seq[(String, String)] = Seq(
    "spat_purchase" ->
      "PATTERN (a) DEFINE a AS purchase WHERE value < 40",
    "lpat_relaxed_purchase_pairs" ->
      "PATTERN (a{2,2}~) DEFINE a AS purchase WHERE value < 40",
    "not_followed_by_purchase" ->
      ("PATTERN (a ->!fby(n) b) DEFINE a AS signup; n AS error; " +
        "b AS purchase"))

  def cepSqlMultiShared(spark: SparkSession, dir: String): DataFrame =
    SparkCep.matchPatternsShared(table(spark, dir, "events"),
      CepSql.parseQueries(cepSqlMultiSharedStatements, eventSchema),
      eventSpec)
      .orderBy("qname", "user_id", "binding")

  val cepSqlMultiSharedSql: String = cepMultiSharedPushdownSql

  /** MEASURED statements on the shared scan (`CepMeasures.runShared` /
    * `CepSql.parseStatements`): three adjacent-pair statements with a
    * COMMON measure schema, matched in ONE operator pass (one scan, one
    * union pushdown, one key exchange, one state sweep) and rendered
    * per member in the operator — the text form of "k funnels, one pass,
    * flat measure rows out". Members are union'd under `qname` for the
    * gate; the oracle is one LEAD pass classified three ways.
    * Solo-vs-shared equality is differential-pinned in
    * `CepMeasuresSpec`.
    */
  val cepSqlMultiMeasuresStatements: Seq[(String, String)] = Seq(
    "pair_sp" ->
      ("PATTERN (s p) MEASURES FIRST(s) AS s_id, SUM(p.value) AS val " +
        "DEFINE s AS signup; p AS purchase"),
    "pair_se" ->
      ("PATTERN (s x) MEASURES FIRST(s) AS s_id, SUM(x.value) AS val " +
        "DEFINE s AS signup; x AS error"),
    "pair_cp" ->
      ("PATTERN (c p) MEASURES FIRST(c) AS s_id, SUM(p.value) AS val " +
        "DEFINE c AS click; p AS purchase"))

  def cepSqlMultiMeasures(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.runShared(table(spark, dir, "events"),
      CepSql.parseStatements(cepSqlMultiMeasuresStatements, eventSchema),
      eventSpec)
      .map { case (n, df) => df.select(lit(n).as("qname"),
        col("user_id"), col("s_id"), col("val")) }
      .reduce(_ unionByName _)
      .orderBy("qname", "user_id", "s_id")

  val cepSqlMultiMeasuresSql: String =
    """WITH w AS (
      |  SELECT user_id, event_id, event_type,
      |    LEAD(event_type) OVER win AS nt,
      |    LEAD(CAST(FLOOR(value) AS BIGINT)) OVER win AS nv
      |  FROM events
      |  WINDOW win AS (PARTITION BY user_id ORDER BY event_id))
      |SELECT qname, user_id, s_id, val FROM (
      |  SELECT 'pair_sp' AS qname, user_id, event_id AS s_id, nv AS val
      |  FROM w WHERE event_type = 'signup' AND nt = 'purchase'
      |  UNION ALL
      |  SELECT 'pair_se', user_id, event_id, nv
      |  FROM w WHERE event_type = 'signup' AND nt = 'error'
      |  UNION ALL
      |  SELECT 'pair_cp', user_id, event_id, nv
      |  FROM w WHERE event_type = 'click' AND nt = 'purchase')
      |ORDER BY qname, user_id, s_id""".stripMargin

  /** `ALL ROWS PER MATCH` members on the SHARED scan
    * (`CepMeasures.runShared` now admits every rows-per-match mode):
    * two adjacent-pair statements matched in ONE operator pass, each
    * emitting one row PER BOUND EVENT with running measures, rendered
    * in the operator from the matches' bound events. Under the
    * strict pairs the running SUM is NULL on the head row and the
    * purchase value on the pair row, `match_no` is the per-user pair
    * sequence, and the oracle is one LEAD pass expanded two-rows-per-
    * pair. Mixed-mode sets (ONE ROW + ALL ROWS + UNMATCHED + SHOW
    * EMPTY) are single-sweep-pinned in `CepSharedSinglePassSpec`.
    */
  val cepSqlSharedAllRowsStatements: Seq[(String, String)] = Seq(
    "sp_rows" ->
      ("PATTERN (s p) MEASURES SUM(p.value) AS val " +
        "ALL ROWS PER MATCH DEFINE s AS signup; p AS purchase"),
    "cp_rows" ->
      ("PATTERN (c p) MEASURES SUM(p.value) AS val " +
        "ALL ROWS PER MATCH DEFINE c AS click; p AS purchase"))

  def cepSqlSharedAllRows(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.runShared(table(spark, dir, "events"),
      CepSql.parseStatements(cepSqlSharedAllRowsStatements, eventSchema),
      eventSpec)
      .map { case (n, df) => df.select(lit(n).as("qname"),
        col("user_id"), col("match_no"), col("classifier"),
        col("event_id"), col("val")) }
      .reduce(_ unionByName _)
      .orderBy("qname", "user_id", "match_no", "event_id")

  val cepSqlSharedAllRowsSql: String =
    """WITH w AS (
      |  SELECT user_id, event_id, event_type,
      |    LEAD(event_type) OVER win AS nt,
      |    LEAD(event_id) OVER win AS nid,
      |    LEAD(CAST(FLOOR(value) AS BIGINT)) OVER win AS nv
      |  FROM events
      |  WINDOW win AS (PARTITION BY user_id ORDER BY event_id)),
      |sp AS (
      |  SELECT user_id, event_id AS s_id, nid AS p_id, nv AS val,
      |    CAST(row_number() OVER
      |      (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS mno
      |  FROM w WHERE event_type = 'signup' AND nt = 'purchase'),
      |cp AS (
      |  SELECT user_id, event_id AS s_id, nid AS p_id, nv AS val,
      |    CAST(row_number() OVER
      |      (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS mno
      |  FROM w WHERE event_type = 'click' AND nt = 'purchase')
      |SELECT qname, user_id, match_no, classifier, event_id, val FROM (
      |  SELECT 'sp_rows' AS qname, user_id, mno AS match_no,
      |    's' AS classifier, s_id AS event_id, CAST(NULL AS BIGINT) AS val
      |  FROM sp
      |  UNION ALL
      |  SELECT 'sp_rows', user_id, mno, 'p', p_id, val FROM sp
      |  UNION ALL
      |  SELECT 'cp_rows', user_id, mno, 'c', s_id, CAST(NULL AS BIGINT)
      |  FROM cp
      |  UNION ALL
      |  SELECT 'cp_rows', user_id, mno, 'p', p_id, val FROM cp)
      |ORDER BY qname, user_id, match_no, event_id""".stripMargin

  /** Beyond-parity negative pattern (FlinkCEP `notNext`): signup
    * immediately followed by a purchase that is NOT cheap (`value < 50`
    * negated) — a cheap purchase right after the signup is a stop, not a
    * take, even though it matches the positive head's type. The "next"
    * event is the next event of the user's FULL declared-type stream
    * (the alphabet prefilter is disabled for notNext — position
    * sensitivity, see `SparkCep.prefilter`), which the oracle mirrors
    * with a lead window over all events.
    */
  val cepNotNextPurchaseQuery: CepQuery =
    CepQuery(
      Pattern.CombineNot(Contiguity.Strict,
        Pattern.spat("a", "signup", "True"),
        Pattern.negSpec("n", "purchase", "value < 50"),
        Pattern.NegMode.NotNext,
        Pattern.spat("b", "purchase", "True")),
      eventSchema)

  def cepNotNextPurchase(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepNotNextPurchaseQuery)
      .select(col("user_id"), element_at(col("a"), 1).as("a_id"),
        element_at(col("b"), 1).as("b_id"))
      .orderBy("user_id", "a_id")

  val cepNotNextPurchaseSql: String =
    """SELECT user_id, event_id AS a_id, next_id AS b_id FROM (
      |  SELECT user_id, event_id, event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS next_type,
      |    LEAD(event_id)   OVER (PARTITION BY user_id ORDER BY event_id) AS next_id,
      |    LEAD(value)      OVER (PARTITION BY user_id ORDER BY event_id) AS next_value
      |  FROM events) t
      |WHERE event_type = 'signup' AND next_type = 'purchase'
      |  AND NOT (CAST(FLOOR(next_value) AS BIGINT) < 50)
      |ORDER BY user_id, a_id""".stripMargin

  /** Beyond-parity `within` window: relaxed signup→purchase, but only
    * when the pair sits fewer than 5 stream positions apart (FlinkCEP
    * `.within` over order position). The executor prunes expired runs,
    * so per-key state is bounded by the window — the oracle reproduces
    * the step arithmetic with a row_number window.
    */
  val cepWithinSignupPurchaseQuery: CepQuery =
    CepQuery(
      Pattern.Combine(Contiguity.Relaxed,
        Pattern.spat("a", "signup", "True"),
        Pattern.spat("b", "purchase", "True")),
      eventSchema, within = Some(5))

  def cepWithinSignupPurchase(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepWithinSignupPurchaseQuery)
      .select(col("user_id"), element_at(col("a"), 1).as("a_id"),
        element_at(col("b"), 1).as("b_id"))
      .orderBy("user_id", "a_id")

  val cepWithinSignupPurchaseSql: String =
    """WITH r AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS step
      |  FROM events),
      |s AS (SELECT user_id, event_id AS a_id, step AS astep
      |      FROM r WHERE event_type = 'signup'),
      |p AS (SELECT user_id, step FROM r WHERE event_type = 'purchase'),
      |fp AS (
      |  SELECT s.user_id, s.a_id, s.astep, min(p.step) AS bstep
      |  FROM s JOIN p ON p.user_id = s.user_id AND p.step > s.astep
      |  GROUP BY 1, 2, 3)
      |SELECT f.user_id, f.a_id, r.event_id AS b_id
      |FROM fp f JOIN r ON r.user_id = f.user_id AND r.step = f.bstep
      |WHERE f.bstep - f.astep < 5
      |ORDER BY f.user_id, f.a_id""".stripMargin

  /** EVENT-TIME `within` (FlinkCEP `.within(Time)` proper): relaxed
    * signup→purchase kept only when the purchase's event time is fewer
    * than 24 h after the signup's. The clock is the `ts_sec` attribute
    * (epoch seconds of the `ts` column); spans are measured on
    * timestamps, not positions, so — unlike the position window — the
    * pre-NFA type pushdown stays ON (`SparkCep.prefilter`): dropping
    * ignorable events can't change any timestamp. Feeding stays ordered
    * by `event_id`, which is time-monotone in this stream (the
    * documented `withinTime` requirement).
    */
  val cepWithinTimeSignupPurchaseQuery: CepQuery =
    CepQuery(
      Pattern.Combine(Contiguity.Relaxed,
        Pattern.spat("a", "signup", "True"),
        Pattern.spat("b", "purchase", "True")),
      eventSchema.map { case (t, attrs) => (t, attrs :+ "ts_sec") },
      withinTime = Some(WithinTime("ts_sec", 86400L)))

  private[graft] val eventSpecTs =
    CepSpec(Some("user_id"), "event_id", "event_type",
      Seq("value", "ts_sec"))

  def cepWithinTimeSignupPurchase(spark: SparkSession, dir: String)
      : DataFrame =
    SparkCep.matchPatternExec(
      // ts is LONG EPOCH MICROS (normalizeTs) — reduce to epoch seconds
      // with FLOOR division (pmod keeps the remainder non-negative),
      // mirroring the oracle's floor(epoch(ts)) for pre-1970 timestamps
      // too; bare DIV truncates toward zero and would split the mirrors
      // one second on negative micros.
      table(spark, dir, "events")
        .withColumn("ts_sec",
          expr("(ts - pmod(ts, 1000000)) DIV 1000000")),
      cepWithinTimeSignupPurchaseQuery, eventSpecTs)
      .select(col("user_id"), element_at(col("a"), 1).as("a_id"),
        element_at(col("b"), 1).as("b_id"))
      .orderBy("user_id", "a_id")

  val cepWithinTimeSignupPurchaseSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS tss
      |  FROM events),
      |s AS (SELECT user_id, event_id AS a_id, tss AS ats
      |      FROM e WHERE event_type = 'signup'),
      |p AS (SELECT user_id, event_id, tss FROM e
      |      WHERE event_type = 'purchase'),
      |fp AS (
      |  SELECT s.user_id, s.a_id, s.ats, min(p.event_id) AS b_id
      |  FROM s JOIN p ON p.user_id = s.user_id AND p.event_id > s.a_id
      |  GROUP BY 1, 2, 3)
      |SELECT f.user_id, f.a_id, f.b_id
      |FROM fp f JOIN p ON p.user_id = f.user_id AND p.event_id = f.b_id
      |WHERE p.tss - f.ats < 86400
      |ORDER BY f.user_id, f.a_id""".stripMargin

  /** CEP composed with a downstream relational aggregation: matches per
    * user of the strict signup→purchase pattern. Exercises the
    * Catalyst-planned operator's `outputPartitioning` contract end-to-end:
    * the groupBy rides on the CEP exchange instead of re-shuffling
    * (pinned by `CepExecSpec`).
    */
  def cepAggMatchCounts(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepNextSignupPurchaseQuery)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_matches"))
      .orderBy("user_id")

  val cepAggMatchCountsSql: String =
    """WITH pairs AS (
      |  SELECT user_id FROM (
      |    SELECT user_id, event_type,
      |      LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
      |        AS next_type
      |    FROM events) t
      |  WHERE event_type = 'signup' AND next_type = 'purchase')
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_matches
      |FROM pairs GROUP BY user_id ORDER BY user_id""".stripMargin

  /** §2 #2+#11 lpat strict {3,3}: three consecutive clicks (every window). */
  val cepLpatStrictClicksQuery: CepQuery =
    CepQuery(
      Pattern.lpat("a", "click", "True", Contiguity.Strict, 3, 3),
      eventSchema)

  def cepLpatStrictClicks(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepLpatStrictClicksQuery)
      .select(col("user_id"), element_at(col("a"), 1).as("a1"),
        element_at(col("a"), 2).as("a2"), element_at(col("a"), 3).as("a3"))
      .orderBy("user_id", "a1")

  val cepLpatStrictClicksSql: String =
    """SELECT user_id, event_id AS a1, i1 AS a2, i2 AS a3 FROM (
      |  SELECT user_id, event_id, event_type,
      |    LEAD(event_type, 1) OVER w AS t1, LEAD(event_id, 1) OVER w AS i1,
      |    LEAD(event_type, 2) OVER w AS t2, LEAD(event_id, 2) OVER w AS i2
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)) t
      |WHERE event_type = 'click' AND t1 = 'click' AND t2 = 'click'
      |ORDER BY user_id, a1""".stripMargin

  /** §2 #2+#12 lpat relaxed {2,2}: consecutive pairs in the per-user
    * subsequence of cheap purchases (relaxed skips only non-matching events).
    */
  val cepLpatRelaxedPurchasePairsQuery: CepQuery =
    CepQuery(
      Pattern.lpat("a", "purchase", "value < 40", Contiguity.Relaxed, 2, 2),
      eventSchema)

  def cepLpatRelaxedPurchasePairs(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepLpatRelaxedPurchasePairsQuery)
      .select(col("user_id"), element_at(col("a"), 1).as("a1"),
        element_at(col("a"), 2).as("a2"))
      .orderBy("user_id", "a1")

  val cepLpatRelaxedPurchasePairsSql: String =
    """SELECT user_id, a1, a2 FROM (
      |  SELECT user_id, event_id AS a1,
      |    LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS a2
      |  FROM events
      |  WHERE event_type = 'purchase' AND CAST(FLOOR(value) AS BIGINT) < 40) t
      |WHERE a2 IS NOT NULL
      |ORDER BY user_id, a1""".stripMargin

  /** §2 #2+#13 lpat nd-relaxed {2,2}: *all* ordered pairs of clicks. */
  val cepNdRelaxedClickPairsQuery: CepQuery =
    CepQuery(
      Pattern.lpat("a", "click", "True", Contiguity.NdRelaxed, 2, 2),
      eventSchema)

  def cepNdRelaxedClickPairs(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepNdRelaxedClickPairsQuery)
      .select(col("user_id"), element_at(col("a"), 1).as("a1"),
        element_at(col("a"), 2).as("a2"))
      .orderBy("user_id", "a1", "a2")

  val cepNdRelaxedClickPairsSql: String =
    """SELECT a.user_id AS user_id, a.event_id AS a1, b.event_id AS a2
      |FROM (SELECT user_id, event_id FROM events WHERE event_type = 'click') a
      |JOIN (SELECT user_id, event_id FROM events WHERE event_type = 'click') b
      |  ON a.user_id = b.user_id AND b.event_id > a.event_id
      |ORDER BY 1, 2, 3""".stripMargin

  /** §2 #6 gpat-times {2,2} of (signup · purchase): four consecutive events
    * alternating signup/purchase — exercises group unrolling.
    */
  val cepGpatTimesSp2Query: CepQuery =
    CepQuery(
      Pattern.GpatTimes(
        Pattern.Combine(Contiguity.Strict,
          Pattern.spat("a", "signup", "True"),
          Pattern.spat("b", "purchase", "True")),
        2, 2),
      eventSchema)

  def cepGpatTimesSp2(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepGpatTimesSp2Query)
      .select(col("user_id"), element_at(col("a"), 1).as("a1"),
        element_at(col("b"), 1).as("b1"), element_at(col("a"), 2).as("a2"),
        element_at(col("b"), 2).as("b2"))
      .orderBy("user_id", "a1")

  val cepGpatTimesSp2Sql: String =
    """SELECT user_id, event_id AS a1, i1 AS b1, i2 AS a2, i3 AS b2 FROM (
      |  SELECT user_id, event_id, event_type,
      |    LEAD(event_type, 1) OVER w AS t1, LEAD(event_id, 1) OVER w AS i1,
      |    LEAD(event_type, 2) OVER w AS t2, LEAD(event_id, 2) OVER w AS i2,
      |    LEAD(event_type, 3) OVER w AS t3, LEAD(event_id, 3) OVER w AS i3
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)) t
      |WHERE event_type = 'signup' AND t1 = 'purchase'
      |  AND t2 = 'signup' AND t3 = 'purchase'
      |ORDER BY user_id, a1""".stripMargin

  /** §2 #5 gpat (plain transparent group): the outermost node is a bare
    * `Gpat` wrapping (error · cheap click) — the group compiles to exactly
    * its child's automaton (reference `compile.py:477-479`, shape of
    * `example-patseq-asts/gpat-hello.yml`), so the output equals the
    * ungrouped combine. This is the dedicated oracle row for the gpat
    * operator itself.
    */
  val cepGpatPlainErrorClickQuery: CepQuery =
    CepQuery(
      Pattern.Gpat(
        Pattern.Combine(Contiguity.Strict,
          Pattern.spat("a", "error", "True"),
          Pattern.spat("b", "click", "value < 50"))),
      eventSchema)

  def cepGpatPlainErrorClick(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepGpatPlainErrorClickQuery)
      .select(col("user_id"), element_at(col("a"), 1).as("a_id"),
        element_at(col("b"), 1).as("b_id"))
      .orderBy("user_id", "a_id")

  val cepGpatPlainErrorClickSql: String =
    """SELECT user_id, event_id AS a_id, next_id AS b_id FROM (
      |  SELECT user_id, event_id, event_type,
      |    LEAD(event_type) OVER w AS next_type,
      |    LEAD(event_id)   OVER w AS next_id,
      |    LEAD(value)      OVER w AS next_value
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)) t
      |WHERE event_type = 'error' AND next_type = 'click'
      |  AND CAST(FLOOR(next_value) AS BIGINT) < 50
      |ORDER BY user_id, a_id""".stripMargin

  /** §2 #16 SkipPastLastEvent: greedy non-overlapping consecutive click
    * pairs (each accept clears all partial runs).
    */
  val cepSkipPastClickPairsQuery: CepQuery =
    CepQuery(
      Pattern.lpat("a", "click", "True", Contiguity.Strict, 2, 2),
      eventSchema, AfterMatchStrategy.SkipPastLastEvent)

  def cepSkipPastClickPairs(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepSkipPastClickPairsQuery)
      .select(col("user_id"), element_at(col("a"), 1).as("a1"),
        element_at(col("a"), 2).as("a2"))
      .orderBy("user_id", "a1")

  val cepSkipPastClickPairsSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |clicks AS (
      |  SELECT user_id, event_id, seq,
      |    row_number() OVER (PARTITION BY user_id ORDER BY seq) AS rn
      |  FROM seqd WHERE event_type = 'click'),
      |segs AS (
      |  SELECT user_id, event_id, seq, seq - rn AS seg,
      |    row_number() OVER (PARTITION BY user_id, seq - rn ORDER BY seq) AS prn
      |  FROM clicks),
      |paired AS (
      |  SELECT user_id, event_id AS a1, prn,
      |    LEAD(event_id) OVER (PARTITION BY user_id, seg ORDER BY seq) AS a2
      |  FROM segs)
      |SELECT user_id, a1, a2 FROM paired
      |WHERE prn % 2 = 1 AND a2 IS NOT NULL
      |ORDER BY user_id, a1""".stripMargin

  /** Beyond-§2 `SkipToFirst(a)` (FlinkCEP's `skipToFirst`; the reference
    * strategy set stops at SkipPastLastEvent — `executor.py:13-19`), on
    * the same nd-relaxed click-pair pattern as `cep_ndrelaxed_click_pairs`
    * so the three rows demonstrate three distinct strategy semantics on
    * one pattern: each accept prunes runs first-taken before the match's
    * FIRST bound click, leaving the last two clicks live — the output is
    * exactly the ordered click pairs at click-rank distance 1 or 2
    * (derivation + differential in `SkipToAnchorSpec`).
    */
  val cepSkipToFirstClickPairsQuery: CepQuery =
    CepQuery(
      Pattern.lpat("a", "click", "True", Contiguity.NdRelaxed, 2, 2),
      eventSchema, AfterMatchStrategy.SkipToFirst("a"))

  def cepSkipToFirstClickPairs(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepSkipToFirstClickPairsQuery)
      .select(col("user_id"), element_at(col("a"), 1).as("a1"),
        element_at(col("a"), 2).as("a2"))
      .orderBy("user_id", "a1", "a2")

  val cepSkipToFirstClickPairsSql: String =
    """WITH clicks AS (
      |  SELECT user_id, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |  FROM events WHERE event_type = 'click')
      |SELECT a.user_id AS user_id, a.event_id AS a1, b.event_id AS a2
      |FROM clicks a JOIN clicks b
      |  ON a.user_id = b.user_id AND b.rn - a.rn BETWEEN 1 AND 2
      |ORDER BY 1, 2, 3""".stripMargin

  /** Beyond-§2 `SkipToLast(a)`: the match's LAST bound click prunes every
    * older taken run, so only consecutive click pairs survive — the
    * non-overlapping-ish middle ground between NoSkip (all pairs) and
    * SkipPastLastEvent (disjoint pairs).
    */
  val cepSkipToLastClickPairsQuery: CepQuery =
    CepQuery(
      Pattern.lpat("a", "click", "True", Contiguity.NdRelaxed, 2, 2),
      eventSchema, AfterMatchStrategy.SkipToLast("a"))

  def cepSkipToLastClickPairs(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepSkipToLastClickPairsQuery)
      .select(col("user_id"), element_at(col("a"), 1).as("a1"),
        element_at(col("a"), 2).as("a2"))
      .orderBy("user_id", "a1")

  val cepSkipToLastClickPairsSql: String =
    """SELECT user_id, a1, a2 FROM (
      |  SELECT user_id, event_id AS a1,
      |    LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS a2
      |  FROM events WHERE event_type = 'click') t
      |WHERE a2 IS NOT NULL
      |ORDER BY user_id, a1""".stripMargin

  /** Beyond-§2 greedy quantifier (`loop.greedy` — FlinkCEP `.greedy()`;
    * the reference's loops are all reluctant): up-to-3 consecutive
    * clicks that refuse to stop while another click follows, then the
    * first subsequent purchase. Per click start p the loop length is
    * exactly `min(3, remaining length of p's consecutive click run)` —
    * the reluctant variant would emit every shorter prefix too (1,080-
    * case differential in `GreedyLoopSpec`). Oracle: gaps-and-islands
    * over clicks (run segment id = seq - rank), capped run length, ids
    * assembled from LEADs within the segment, then the first purchase
    * past the run.
    */
  val cepGreedyClickRunsQuery: CepQuery =
    CepQuery(
      Pattern.Combine(Contiguity.Relaxed,
        Pattern.lpat("a", "click", "True", Contiguity.Strict, 1, 3,
          greedy = true),
        Pattern.spat("b", "purchase", "True")),
      eventSchema)

  def cepGreedyClickRuns(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepGreedyClickRunsQuery)
      .select(col("user_id"), idsCol("a").as("ids"),
        element_at(col("b"), 1).as("b_id"))
      .orderBy("user_id", "ids", "b_id")

  val cepGreedyClickRunsSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |clicks AS (
      |  SELECT user_id, event_id, seq,
      |    seq - row_number() OVER (PARTITION BY user_id ORDER BY seq) AS seg
      |  FROM seqd WHERE event_type = 'click'),
      |runs AS (
      |  SELECT user_id, event_id, seq, seg,
      |    max(seq) OVER (PARTITION BY user_id, seg) AS segend,
      |    LEAD(event_id, 1) OVER w AS n1,
      |    LEAD(event_id, 2) OVER w AS n2
      |  FROM clicks WINDOW w AS (PARTITION BY user_id, seg ORDER BY seq)),
      |g AS (
      |  SELECT user_id, seq,
      |    LEAST(3, segend - seq + 1) AS k,
      |    CASE LEAST(3, segend - seq + 1)
      |      WHEN 1 THEN CAST(event_id AS VARCHAR)
      |      WHEN 2 THEN CAST(event_id AS VARCHAR) || ',' || CAST(n1 AS VARCHAR)
      |      ELSE CAST(event_id AS VARCHAR) || ',' || CAST(n1 AS VARCHAR)
      |        || ',' || CAST(n2 AS VARCHAR) END AS ids
      |  FROM runs),
      |m AS (
      |  SELECT g.user_id, g.ids, p.event_id AS b_id,
      |    row_number() OVER (PARTITION BY g.user_id, g.seq
      |      ORDER BY p.seq) AS prn
      |  FROM g JOIN seqd p
      |    ON p.user_id = g.user_id AND p.seq > g.seq + g.k - 1
      |   AND p.event_type = 'purchase')
      |SELECT user_id, ids, b_id FROM m WHERE prn = 1
      |ORDER BY user_id, ids, b_id""".stripMargin

  /** The SQL-surface registry row: a signup → 1-2 clicks → purchase
    * funnel within an 8-step window, DECLARED through `CepSql.parse`
    * (the MATCH_RECOGNIZE-shaped text form) instead of the Pattern
    * builders — certifying the SQL front-end end-to-end against a
    * DuckDB oracle, not just by AST round-trip (`CepSqlSpec`).
    * Semantics under the compiled NFA: per signup s, c1 is the FIRST
    * click after s (relaxed boundary — a click cannot be ignored while
    * waiting for one); the strict {1,2} loop extends exactly when the
    * event immediately after c1 is a click; p is the first purchase
    * after the loop's last click; emit iff p's position is fewer than 8
    * steps after s's.
    */
  val cepSqlFunnelQuery: CepQuery = CepSql.parse(
    "PATTERN (s -> c{1,2} -> p) DEFINE s AS signup; c AS click; " +
      "p AS purchase WITHIN 8",
    eventSchema)

  def cepSqlFunnel(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepSqlFunnelQuery)
      .select(col("user_id"), element_at(col("s"), 1).as("s_id"),
        idsCol("c").as("c_ids"), element_at(col("p"), 1).as("p_id"))
      .orderBy("user_id", "s_id", "c_ids", "p_id")

  val cepSqlFunnelSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |c1 AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c1_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |arms AS (
      |  SELECT user_id, s_id, s_seq, c1_seq, NULL AS c2_seq FROM c1
      |  UNION ALL
      |  SELECT c1.user_id, c1.s_id, c1.s_seq, c1.c1_seq, n.seq
      |  FROM c1 JOIN seqd n ON n.user_id = c1.user_id
      |    AND n.seq = c1.c1_seq + 1 AND n.event_type = 'click'),
      |m AS (
      |  SELECT a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq,
      |    min(p.seq) AS p_seq
      |  FROM arms a JOIN seqd p ON p.user_id = a.user_id
      |    AND p.seq > COALESCE(a.c2_seq, a.c1_seq)
      |    AND p.event_type = 'purchase'
      |  GROUP BY a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq
      |  HAVING min(p.seq) - a.s_seq < 8)
      |SELECT m.user_id, m.s_id,
      |  CAST(e1.event_id AS VARCHAR)
      |    || COALESCE(',' || CAST(e2.event_id AS VARCHAR), '') AS c_ids,
      |  ep.event_id AS p_id
      |FROM m
      |JOIN seqd e1 ON e1.user_id = m.user_id AND e1.seq = m.c1_seq
      |LEFT JOIN seqd e2 ON e2.user_id = m.user_id AND e2.seq = m.c2_seq
      |JOIN seqd ep ON ep.user_id = m.user_id AND ep.seq = m.p_seq
      |ORDER BY m.user_id, m.s_id, c_ids, p_id""".stripMargin

  /** The MEASURES clause end-to-end (`CepMeasures` — MATCH_RECOGNIZE's
    * per-match aggregate projection): the funnel pattern emitting ONE
    * FLAT ROW PER MATCH of scalar measures instead of binding arrays.
    * Exercises both measure tiers — positional (`FIRST(s)`,
    * `COUNT(c)`, `LAST(p)`: bound order ids) and attribute
    * (`SUM/MIN/LAST(c.value)`, `FIRST(p.value)`: the bound events'
    * attributes), folded inside the CEP operator. The oracle recomputes
    * every measure from the funnel CTEs' bound positions, certifying
    * the fold value-exactly (`value` truncates to long on both
    * engines: CAST(FLOOR(...)), the conditions' convention).
    */
  val cepSqlMeasuresStatement: CepSql.CepSqlStatement = CepSql.parseStatement(
    "PATTERN (s -> c{1,2} -> p) " +
      "MEASURES FIRST(s) AS s_id, COUNT(c) AS n_clicks, " +
      "SUM(c.value) AS c_value, MIN(c.value) AS min_c_value, " +
      "LAST(c.value) AS last_c_value, LAST(p) AS p_id, " +
      "FIRST(p.value) AS p_value " +
      "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8",
    eventSchema)

  def cepSqlMeasuresFunnel(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlMeasuresStatement,
      eventSpec)
      .orderBy("user_id", "s_id", "n_clicks", "c_value", "min_c_value",
        "last_c_value", "p_id", "p_value")

  val cepSqlMeasuresFunnelSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |c1 AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c1_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |arms AS (
      |  SELECT user_id, s_id, s_seq, c1_seq, NULL AS c2_seq FROM c1
      |  UNION ALL
      |  SELECT c1.user_id, c1.s_id, c1.s_seq, c1.c1_seq, n.seq
      |  FROM c1 JOIN seqd n ON n.user_id = c1.user_id
      |    AND n.seq = c1.c1_seq + 1 AND n.event_type = 'click'),
      |m AS (
      |  SELECT a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq,
      |    min(p.seq) AS p_seq
      |  FROM arms a JOIN seqd p ON p.user_id = a.user_id
      |    AND p.seq > COALESCE(a.c2_seq, a.c1_seq)
      |    AND p.event_type = 'purchase'
      |  GROUP BY a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq
      |  HAVING min(p.seq) - a.s_seq < 8)
      |SELECT m.user_id, m.s_id,
      |  CAST(CASE WHEN m.c2_seq IS NULL THEN 1 ELSE 2 END AS BIGINT)
      |    AS n_clicks,
      |  e1.v + COALESCE(e2.v, 0) AS c_value,
      |  LEAST(e1.v, COALESCE(e2.v, e1.v)) AS min_c_value,
      |  COALESCE(e2.v, e1.v) AS last_c_value,
      |  ep.event_id AS p_id,
      |  ep.v AS p_value
      |FROM m
      |JOIN seqd e1 ON e1.user_id = m.user_id AND e1.seq = m.c1_seq
      |LEFT JOIN seqd e2 ON e2.user_id = m.user_id AND e2.seq = m.c2_seq
      |JOIN seqd ep ON ep.user_id = m.user_id AND ep.seq = m.p_seq
      |ORDER BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin

  /** SQL:2016 `^` partition-start anchor end-to-end: did the user's
    * JOURNEY start with a signup, and when did it first convert to a
    * click? `^` pins `s` to the partition's true first event (runs seed
    * only there — also a state bound), so users whose first event is
    * anything else produce nothing; `->` then binds the first following
    * click. At most one match per user by construction. Anchored
    * queries decline the alphabet pushdown (the anchor observes the
    * TRUE partition edge — `SparkCep.prefilter`); the oracle reads the
    * same two positions with window functions.
    */
  val cepSqlAnchorFirstStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (^ s -> c) MEASURES FIRST(s) AS s_id, LAST(c) AS c_id " +
        "DEFINE s AS signup; c AS click", eventSchema)

  def cepSqlAnchorFirst(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"),
      cepSqlAnchorFirstStatement, eventSpec)
      .orderBy("user_id", "s_id", "c_id")

  val cepSqlAnchorFirstSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id)
      |      AS seq
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id AS s_id
      |  FROM seqd WHERE seq = 1 AND event_type = 'signup')
      |SELECT f.user_id, f.s_id, min(c.event_id) AS c_id
      |FROM f JOIN seqd c ON c.user_id = f.user_id
      |  AND c.event_type = 'click' AND c.seq > 1
      |GROUP BY f.user_id, f.s_id
      |ORDER BY f.user_id, s_id, c_id""".stripMargin

  /** SQL:2016 `$` partition-end anchor end-to-end: did the user's
    * journey END in a click immediately followed by a purchase? `$`
    * requires the match's completing event to be the partition's true
    * last event — mid-stream click→purchase pairs are not matches and
    * fire no skip effects. Strict adjacency + `$` pins the pair to the
    * final two events, so the oracle is a reverse row_number read.
    * `$` is batch-only (streaming rejects it loudly — an unbounded
    * stream has no partition end; spec-pinned in `CepAnchorSpec`).
    */
  val cepSqlAnchorLastStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (c p $) MEASURES FIRST(c) AS c_id, LAST(p) AS p_id " +
        "DEFINE c AS click; p AS purchase", eventSchema)

  def cepSqlAnchorLast(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"),
      cepSqlAnchorLastStatement, eventSpec)
      .orderBy("user_id", "c_id", "p_id")

  val cepSqlAnchorLastSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC)
      |      AS rseq
      |  FROM events)
      |SELECT p.user_id, c.event_id AS c_id, p.event_id AS p_id
      |FROM seqd p JOIN seqd c ON c.user_id = p.user_id AND c.rseq = 2
      |WHERE p.rseq = 1 AND p.event_type = 'purchase'
      |  AND c.event_type = 'click'
      |ORDER BY p.user_id, c_id, p_id""".stripMargin

  /** Division in measure expressions end-to-end: the funnel emitting a
    * length-normalized rate (`SUM(c.value) / COUNT(c)` — the motivating
    * case for lifting the old no-division restriction) plus a NEGATIVE
    * quotient (`(MIN - MAX) / 2`) that makes the semantics observable:
    * '/' is DuckDB-`//`-exact TRUNCATION toward zero (-7/2 = -3; a
    * floored division would say -4 and hash-mismatch this oracle),
    * lowered to Catalyst `IntegralDivide` under `TryEval` — long-exact,
    * NULL on a zero divisor even with ANSI on. AVG deliberately keeps
    * the floored exact mean (both appear here).
    */
  val cepSqlMeasuresDivStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES FIRST(s) AS s_id, SUM(c.value) / COUNT(c) AS c_rate, " +
        "(MIN(c.value) - MAX(c.value)) / 2 AS half_drop, " +
        "AVG(c.value) AS c_avg " +
        "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8",
      eventSchema)

  def cepSqlMeasuresDiv(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"),
      cepSqlMeasuresDivStatement, eventSpec)
      .orderBy("user_id", "s_id", "c_rate", "half_drop", "c_avg")

  val cepSqlMeasuresDivSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |c1 AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c1_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |arms AS (
      |  SELECT user_id, s_id, s_seq, c1_seq, NULL AS c2_seq FROM c1
      |  UNION ALL
      |  SELECT c1.user_id, c1.s_id, c1.s_seq, c1.c1_seq, n.seq
      |  FROM c1 JOIN seqd n ON n.user_id = c1.user_id
      |    AND n.seq = c1.c1_seq + 1 AND n.event_type = 'click'),
      |m AS (
      |  SELECT a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq,
      |    min(p.seq) AS p_seq
      |  FROM arms a JOIN seqd p ON p.user_id = a.user_id
      |    AND p.seq > COALESCE(a.c2_seq, a.c1_seq)
      |    AND p.event_type = 'purchase'
      |  GROUP BY a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq
      |  HAVING min(p.seq) - a.s_seq < 8)
      |SELECT m.user_id, m.s_id,
      |  CAST((e1.v + COALESCE(e2.v, 0)) //
      |    (CASE WHEN m.c2_seq IS NULL THEN 1 ELSE 2 END) AS BIGINT)
      |    AS c_rate,
      |  CAST((LEAST(e1.v, COALESCE(e2.v, e1.v)) -
      |        GREATEST(e1.v, COALESCE(e2.v, e1.v))) // 2 AS BIGINT)
      |    AS half_drop,
      |  CAST(FLOOR((e1.v + COALESCE(e2.v, 0)) /
      |    (CASE WHEN m.c2_seq IS NULL THEN 1.0 ELSE 2.0 END)) AS BIGINT)
      |    AS c_avg
      |FROM m
      |JOIN seqd e1 ON e1.user_id = m.user_id AND e1.seq = m.c1_seq
      |LEFT JOIN seqd e2 ON e2.user_id = m.user_id AND e2.seq = m.c2_seq
      |ORDER BY 1, 2, 3, 4, 5""".stripMargin

  /** MATCH_RECOGNIZE as a true FROM-clause table operator (`GraftSql`):
    * the statement text goes through the SQL surface — table name
    * resolved from the catalog, `TYPE ... IN` declaring the event-type
    * universe inline, outer SELECT/ORDER BY composing over the match
    * frame — and lowers to the same Catalyst-planned operator +
    * MEASURES projection as every other cep row. This row drives the
    * extension-less `GraftSql.sql` entry (the Verify session is built
    * without extensions); the literal `spark.sql(...)` route through
    * the injected parser is the SAME rewrite, pinned end-to-end on an
    * extension-enabled session in `GraftSqlSpec`.
    */
  def cepSqlFromClause(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "events").createOrReplaceTempView("graft_mr_events")
    GraftSql.sql(spark,
      """SELECT user_id, s_id, c_id FROM graft_mr_events MATCH_RECOGNIZE (
        |  PATTERN (s -> c)
        |  MEASURES FIRST(s) AS s_id, LAST(c) AS c_id
        |  PARTITION BY user_id ORDER BY event_id
        |  TYPE event_type IN (click, purchase, error, signup, view)
        |  DEFINE s AS signup; c AS click
        |) ORDER BY user_id, s_id, c_id""".stripMargin)
  }

  val cepSqlFromClauseSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup')
      |SELECT g.user_id, g.s_id, min(c.event_id) AS c_id
      |FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |  AND c.seq > g.s_seq AND c.event_type = 'click'
      |GROUP BY g.user_id, g.s_id
      |ORDER BY g.user_id, s_id, c_id""".stripMargin

  /** FROM-clause COMPOSABILITY (round 16 — the one-per-statement and
    * named-table-only restrictions are gone, [[graft.GraftSql]]): TWO
    * `MATCH_RECOGNIZE` fragments in ONE statement under a UNION ALL,
    * the second sourced from a PARENTHESISED SUBQUERY (errors filtered
    * out BEFORE matching, so its strict click→purchase adjacency is
    * judged on the filtered stream — visibly different from the raw
    * one, which the oracle's second LEAD pass replays over the same
    * filter). Each fragment lowers independently and the outer set op
    * composes over both match frames.
    */
  def cepSqlFromUnion(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "events").createOrReplaceTempView("graft_mr_events")
    GraftSql.sql(spark,
      """SELECT 'sp' AS q, user_id, a_id, b_id
        |FROM graft_mr_events MATCH_RECOGNIZE (
        |  PATTERN (s p) MEASURES FIRST(s) AS a_id, LAST(p) AS b_id
        |  PARTITION BY user_id ORDER BY event_id
        |  TYPE event_type IN (click, purchase, error, signup, view)
        |  DEFINE s AS signup; p AS purchase)
        |UNION ALL
        |SELECT 'cp', user_id, a_id, b_id FROM
        |(SELECT * FROM graft_mr_events WHERE event_type <> 'error')
        |MATCH_RECOGNIZE (
        |  PATTERN (c p) MEASURES FIRST(c) AS a_id, LAST(p) AS b_id
        |  PARTITION BY user_id ORDER BY event_id
        |  TYPE event_type IN (click, purchase, signup, view)
        |  DEFINE c AS click; p AS purchase)
        |ORDER BY q, user_id, a_id""".stripMargin)
  }

  val cepSqlFromUnionSql: String =
    """WITH w1 AS (
      |  SELECT user_id, event_id, event_type,
      |    LEAD(event_type) OVER win AS nt, LEAD(event_id) OVER win AS nid
      |  FROM events
      |  WINDOW win AS (PARTITION BY user_id ORDER BY event_id)),
      |w2 AS (
      |  SELECT user_id, event_id, event_type,
      |    LEAD(event_type) OVER win AS nt, LEAD(event_id) OVER win AS nid
      |  FROM events WHERE event_type <> 'error'
      |  WINDOW win AS (PARTITION BY user_id ORDER BY event_id))
      |SELECT q, user_id, a_id, b_id FROM (
      |  SELECT 'sp' AS q, user_id, event_id AS a_id, nid AS b_id
      |  FROM w1 WHERE event_type = 'signup' AND nt = 'purchase'
      |  UNION ALL
      |  SELECT 'cp', user_id, event_id, nid
      |  FROM w2 WHERE event_type = 'click' AND nt = 'purchase')
      |ORDER BY q, user_id, a_id""".stripMargin

  /** PERMUTE with a GROUP member end-to-end: `PERMUTE(s, (c p))` —
    * a signup and an adjacent click→purchase pair in EITHER order, the
    * pair permuting as ONE unit with its internal sequence intact
    * (SQL:2016 allows any primary as a permute member; the grammar
    * accepts name units and '(...)' groups). Strict within an ordering,
    * so matches are adjacent triples: (signup, click, purchase) or
    * (click, purchase, signup) — one LEAD window pass in the oracle,
    * classified both ways.
    */
  val cepSqlPermuteGroupStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (PERMUTE(s, (c p))) " +
        "MEASURES FIRST(s) AS s_id, FIRST(c) AS c_id, LAST(p) AS p_id " +
        "DEFINE s AS signup; c AS click; p AS purchase", eventSchema)

  def cepSqlPermuteGroup(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"),
      cepSqlPermuteGroupStatement, eventSpec)
      .orderBy("user_id", "s_id", "c_id", "p_id")

  val cepSqlPermuteGroupSql: String =
    """WITH w AS (
      |  SELECT user_id, event_id, event_type,
      |    LEAD(event_type, 1) OVER win AS t1,
      |    LEAD(event_id, 1) OVER win AS i1,
      |    LEAD(event_type, 2) OVER win AS t2,
      |    LEAD(event_id, 2) OVER win AS i2
      |  FROM events
      |  WINDOW win AS (PARTITION BY user_id ORDER BY event_id))
      |SELECT user_id, s_id, c_id, p_id FROM (
      |  SELECT user_id, event_id AS s_id, i1 AS c_id, i2 AS p_id
      |  FROM w WHERE event_type = 'signup' AND t1 = 'click'
      |    AND t2 = 'purchase'
      |  UNION ALL
      |  SELECT user_id, i2, event_id, i1
      |  FROM w WHERE event_type = 'click' AND t1 = 'purchase'
      |    AND t2 = 'signup')
      |ORDER BY user_id, s_id, c_id, p_id""".stripMargin

  /** Aggregates in DEFINE over a SUBSET union variable: adjacent
    * signup→purchase pairs within a JOINT budget —
    * `p AS purchase WHERE SUM(u.value) <= 120` with `u = (s, p)`. One
    * shared register folds both members' takes, and the current
    * candidate is included because `p` is itself a member (the
    * standard's current-row rule lifted to the union) — so the
    * condition is exactly `floor(s.value) + floor(p.value) <= 120`,
    * one LEAD window pass in the oracle.
    */
  val cepSqlSubsetAggStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s p) MEASURES FIRST(s) AS s_id, LAST(p) AS p_id " +
        "SUBSET u = (s, p) " +
        "DEFINE s AS signup; p AS purchase WHERE SUM(u.value) <= 120",
      eventSchema)

  def cepSqlSubsetAgg(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"),
      cepSqlSubsetAggStatement, eventSpec)
      .orderBy("user_id", "s_id", "p_id")

  val cepSqlSubsetAggSql: String =
    """WITH w AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    LEAD(event_type) OVER win AS t1,
      |    LEAD(event_id) OVER win AS i1,
      |    CAST(FLOOR(LEAD(value) OVER win) AS BIGINT) AS v1
      |  FROM events
      |  WINDOW win AS (PARTITION BY user_id ORDER BY event_id))
      |SELECT user_id, event_id AS s_id, i1 AS p_id
      |FROM w WHERE event_type = 'signup' AND t1 = 'purchase'
      |  AND v + v1 <= 120
      |ORDER BY user_id, s_id, p_id""".stripMargin

  /** AVG measures + the SELF-CONTAINED statement form: the funnel again,
    * but the statement carries its own `PARTITION BY user_id ORDER BY
    * event_id TYPE event_type` sections, so `CepMeasures.run(df, st)`
    * derives the full `CepSpec` (key, order, type, referenced attrs)
    * from the text — no external spec object, the way real
    * MATCH_RECOGNIZE is self-contained. `AVG` is the exact integer mean
    * — FLOORED quotient computed in pure long arithmetic
    * (`sum - pmod(sum, n)) / n`), matching DuckDB's `//` where Spark's
    * `DIV` would truncate toward zero.
    */
  val cepSqlMeasuresAvgStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES FIRST(s) AS s_id, COUNT(c) AS n_clicks, " +
        "AVG(c.value) AS avg_c_value, AVG(p.value) AS p_value " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8",
      eventSchema)

  def cepSqlMeasuresAvg(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlMeasuresAvgStatement)
      .orderBy("user_id", "s_id", "n_clicks", "avg_c_value", "p_value")

  val cepSqlMeasuresAvgSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |c1 AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c1_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |arms AS (
      |  SELECT user_id, s_id, s_seq, c1_seq, NULL AS c2_seq FROM c1
      |  UNION ALL
      |  SELECT c1.user_id, c1.s_id, c1.s_seq, c1.c1_seq, n.seq
      |  FROM c1 JOIN seqd n ON n.user_id = c1.user_id
      |    AND n.seq = c1.c1_seq + 1 AND n.event_type = 'click'),
      |m AS (
      |  SELECT a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq,
      |    min(p.seq) AS p_seq
      |  FROM arms a JOIN seqd p ON p.user_id = a.user_id
      |    AND p.seq > COALESCE(a.c2_seq, a.c1_seq)
      |    AND p.event_type = 'purchase'
      |  GROUP BY a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq
      |  HAVING min(p.seq) - a.s_seq < 8)
      |SELECT m.user_id, m.s_id,
      |  CAST(CASE WHEN m.c2_seq IS NULL THEN 1 ELSE 2 END AS BIGINT)
      |    AS n_clicks,
      |  CAST((e1.v + COALESCE(e2.v, 0)) //
      |    (CASE WHEN m.c2_seq IS NULL THEN 1 ELSE 2 END) AS BIGINT)
      |    AS avg_c_value,
      |  ep.v AS p_value
      |FROM m
      |JOIN seqd e1 ON e1.user_id = m.user_id AND e1.seq = m.c1_seq
      |LEFT JOIN seqd e2 ON e2.user_id = m.user_id AND e2.seq = m.c2_seq
      |JOIN seqd ep ON ep.user_id = m.user_id AND ep.seq = m.p_seq
      |ORDER BY 1, 2, 3, 4, 5""".stripMargin

  /** SQL:2016 FIRST/LAST logical offsets (`FIRST(x, k)` = the (k+1)-th
    * bound event from the start, `LAST(x, k)` from the end; NULL when
    * the binding is shorter) over the funnel, on BOTH evaluation tiers
    * and a SUBSET union target: `FIRST(c.value, 1)` (attribute tier —
    * the target ordinal is computed positionally BEFORE the explode and
    * matched in the aggregation, so the offset costs no extra join),
    * `LAST(c, 1)` (positional tier — `get` from the end), and
    * `FIRST(u, 1)` / `LAST(u.value, 1)` over `SUBSET u = (s, p)` (the
    * union binding merged in stream order). The 1-click arm is shorter
    * than the offset → NULL, the oracle's LEFT-join arm.
    */
  val cepSqlMeasuresOffsetStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES FIRST(s) AS s_id, COUNT(c) AS n_clicks, " +
        "FIRST(c.value, 1) AS c2_value, LAST(c, 1) AS c_pen_id, " +
        "FIRST(u, 1) AS u2_id, LAST(u.value, 1) AS u_pen_value " +
        "SUBSET u = (s, p) " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8",
      eventSchema)

  def cepSqlMeasuresOffset(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"),
      cepSqlMeasuresOffsetStatement)
      .orderBy("user_id", "s_id", "n_clicks")

  val cepSqlMeasuresOffsetSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |c1 AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c1_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |arms AS (
      |  SELECT user_id, s_id, s_seq, c1_seq, NULL AS c2_seq FROM c1
      |  UNION ALL
      |  SELECT c1.user_id, c1.s_id, c1.s_seq, c1.c1_seq, n.seq
      |  FROM c1 JOIN seqd n ON n.user_id = c1.user_id
      |    AND n.seq = c1.c1_seq + 1 AND n.event_type = 'click'),
      |m AS (
      |  SELECT a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq,
      |    min(p.seq) AS p_seq
      |  FROM arms a JOIN seqd p ON p.user_id = a.user_id
      |    AND p.seq > COALESCE(a.c2_seq, a.c1_seq)
      |    AND p.event_type = 'purchase'
      |  GROUP BY a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq
      |  HAVING min(p.seq) - a.s_seq < 8)
      |SELECT m.user_id, m.s_id,
      |  CAST(CASE WHEN m.c2_seq IS NULL THEN 1 ELSE 2 END AS BIGINT)
      |    AS n_clicks,
      |  e2.v AS c2_value,
      |  CASE WHEN m.c2_seq IS NULL THEN NULL ELSE e1.event_id END
      |    AS c_pen_id,
      |  ep.event_id AS u2_id,
      |  es.v AS u_pen_value
      |FROM m
      |JOIN seqd es ON es.user_id = m.user_id AND es.seq = m.s_seq
      |JOIN seqd e1 ON e1.user_id = m.user_id AND e1.seq = m.c1_seq
      |LEFT JOIN seqd e2 ON e2.user_id = m.user_id AND e2.seq = m.c2_seq
      |JOIN seqd ep ON ep.user_id = m.user_id AND ep.seq = m.p_seq
      |ORDER BY 1, 2, 3""".stripMargin

  /** Measure EXPRESSIONS (SQL:2016 <measure expression>, integer
    * fragment — `CepMeasures.ExprMeasure`): long arithmetic over measure
    * atoms, e.g. `LAST(c.value) - FIRST(c.value)`. Each expression
    * lowers to hidden atoms computed in the SAME single
    * explode→join→aggregate pass as plain measures (no extra join, no
    * extra shuffle) and re-combines in one final narrow projection; a
    * NULL atom poisons its expression, exactly SQL arithmetic. The
    * oracle recomputes every expression from the funnel CTEs' bound
    * positions in closed form.
    */
  val cepSqlMeasuresExprStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES FIRST(s) AS s_id, " +
        "LAST(c.value) - FIRST(c.value) AS c_spread, " +
        "100 * COUNT(c) + COUNT(p) AS n_code, " +
        "SUM(c.value) - MIN(c.value) AS above_min, " +
        "FIRST(p.value) * (COUNT(c) + 1) AS p_scaled " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8",
      eventSchema)

  def cepSqlMeasuresExpr(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlMeasuresExprStatement)
      .orderBy("user_id", "s_id", "n_code")

  val cepSqlMeasuresExprSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |c1 AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c1_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |arms AS (
      |  SELECT user_id, s_id, s_seq, c1_seq, NULL AS c2_seq FROM c1
      |  UNION ALL
      |  SELECT c1.user_id, c1.s_id, c1.s_seq, c1.c1_seq, n.seq
      |  FROM c1 JOIN seqd n ON n.user_id = c1.user_id
      |    AND n.seq = c1.c1_seq + 1 AND n.event_type = 'click'),
      |m AS (
      |  SELECT a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq,
      |    min(p.seq) AS p_seq
      |  FROM arms a JOIN seqd p ON p.user_id = a.user_id
      |    AND p.seq > COALESCE(a.c2_seq, a.c1_seq)
      |    AND p.event_type = 'purchase'
      |  GROUP BY a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq
      |  HAVING min(p.seq) - a.s_seq < 8)
      |SELECT m.user_id, m.s_id,
      |  COALESCE(e2.v, e1.v) - e1.v AS c_spread,
      |  CAST(100 * (CASE WHEN m.c2_seq IS NULL THEN 1 ELSE 2 END) + 1
      |    AS BIGINT) AS n_code,
      |  (e1.v + COALESCE(e2.v, 0))
      |    - LEAST(e1.v, COALESCE(e2.v, e1.v)) AS above_min,
      |  ep.v * (CASE WHEN m.c2_seq IS NULL THEN 1 ELSE 2 END + 1)
      |    AS p_scaled
      |FROM m
      |JOIN seqd e1 ON e1.user_id = m.user_id AND e1.seq = m.c1_seq
      |LEFT JOIN seqd e2 ON e2.user_id = m.user_id AND e2.seq = m.c2_seq
      |JOIN seqd ep ON ep.user_id = m.user_id AND ep.seq = m.p_seq
      |ORDER BY 1, 2, 4""".stripMargin

  /** Aggregate-ARGUMENT expressions (SQL:2016 <value expression> inside
    * a measure aggregate — `CepMeasures.AExpr`): per-event arithmetic
    * over ONE variable's attributes feeds SUM/MIN/MAX/AVG/FIRST/LAST,
    * e.g. `SUM(c.value * c.value)`. The lowered plan is IDENTICAL to
    * plain attribute measures — the same single explode→join→aggregate
    * pass; the argument is a column expression over the joined event
    * attributes, so an expression argument costs no extra join or
    * shuffle (and at scale inherits the same AQE broadcast of the small
    * match side). The oracle recomputes each aggregate from the funnel
    * CTEs' bound positions in closed form (`value` is non-negative in
    * this corpus, so DuckDB's floored `//` agrees with the engine's
    * truncating `/`).
    */
  val cepSqlAggArgStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES FIRST(s) AS s_id, COUNT(c) AS n_c, " +
        "SUM(c.value * c.value) AS c_energy, " +
        "AVG(2 * c.value + 1) AS c_scaled, " +
        "MAX(c.value * c.value - c.value) AS c_hi, " +
        "LAST(p.value / 2) AS p_half " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8",
      eventSchema)

  def cepSqlAggArg(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlAggArgStatement)
      .orderBy("user_id", "s_id", "n_c")

  val cepSqlAggArgSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |c1 AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c1_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |arms AS (
      |  SELECT user_id, s_id, s_seq, c1_seq, NULL AS c2_seq FROM c1
      |  UNION ALL
      |  SELECT c1.user_id, c1.s_id, c1.s_seq, c1.c1_seq, n.seq
      |  FROM c1 JOIN seqd n ON n.user_id = c1.user_id
      |    AND n.seq = c1.c1_seq + 1 AND n.event_type = 'click'),
      |m AS (
      |  SELECT a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq,
      |    min(p.seq) AS p_seq
      |  FROM arms a JOIN seqd p ON p.user_id = a.user_id
      |    AND p.seq > COALESCE(a.c2_seq, a.c1_seq)
      |    AND p.event_type = 'purchase'
      |  GROUP BY a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq
      |  HAVING min(p.seq) - a.s_seq < 8)
      |SELECT m.user_id, m.s_id,
      |  CAST(CASE WHEN m.c2_seq IS NULL THEN 1 ELSE 2 END AS BIGINT)
      |    AS n_c,
      |  e1.v * e1.v + COALESCE(e2.v * e2.v, 0) AS c_energy,
      |  ((2 * e1.v + 1) + COALESCE(2 * e2.v + 1, 0))
      |    // (CASE WHEN m.c2_seq IS NULL THEN 1 ELSE 2 END) AS c_scaled,
      |  GREATEST(e1.v * e1.v - e1.v,
      |    COALESCE(e2.v * e2.v - e2.v, e1.v * e1.v - e1.v)) AS c_hi,
      |  ep.v // 2 AS p_half
      |FROM m
      |JOIN seqd e1 ON e1.user_id = m.user_id AND e1.seq = m.c1_seq
      |LEFT JOIN seqd e2 ON e2.user_id = m.user_id AND e2.seq = m.c2_seq
      |JOIN seqd ep ON ep.user_id = m.user_id AND ep.seq = m.p_seq
      |ORDER BY 1, 2, 3""".stripMargin

  /** SQL:2016 SAME-VARIABLE ALTERNATION (`CepSql` rename +
    * auto-SUBSET desugar): `s` binds in BOTH branches of
    * `(s -> c | s -> x)` — the standard permits it; the engine's sinks
    * bind by name, so the parser renames per branch (`__b0_s`/`__b1_s`,
    * same DEFINE) and merges them with a hidden SUBSET under `s`, the
    * trick PERMUTE's desugaring already uses. Measures over `s` see
    * whichever branch bound; COUNT(c)/COUNT(x) tell the branches apart.
    * The oracle is the two arms in closed form — first click (or first
    * error) after each signup inside the step window.
    */
  val cepSqlAltSharedVarStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c | s -> x) " +
        "MEASURES FIRST(s) AS s_id, FIRST(s.value) AS s_v, " +
        "COUNT(c) AS n_c, COUNT(x) AS n_x " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; c AS click; x AS error WITHIN 5",
      eventSchema)

  def cepSqlAltSharedVar(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlAltSharedVarStatement)
      .orderBy("user_id", "s_id", "n_c")

  val cepSqlAltSharedVarSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, v AS s_v, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |arm_c AS (
      |  SELECT g.user_id, g.s_id, g.s_v
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_v, g.s_seq
      |  HAVING min(c.seq) - g.s_seq < 5),
      |arm_x AS (
      |  SELECT g.user_id, g.s_id, g.s_v
      |  FROM sig g JOIN seqd x ON x.user_id = g.user_id
      |    AND x.seq > g.s_seq AND x.event_type = 'error'
      |  GROUP BY g.user_id, g.s_id, g.s_v, g.s_seq
      |  HAVING min(x.seq) - g.s_seq < 5)
      |SELECT user_id, s_id, s_v, CAST(1 AS BIGINT) AS n_c,
      |  CAST(0 AS BIGINT) AS n_x FROM arm_c
      |UNION ALL
      |SELECT user_id, s_id, s_v, CAST(0 AS BIGINT) AS n_c,
      |  CAST(1 AS BIGINT) AS n_x FROM arm_x
      |ORDER BY 1, 2, 4""".stripMargin

  /** DISTINCT aggregates and attributed COUNT in MEASURES:
    * `COUNT(DISTINCT c.value / 100)` / `SUM(DISTINCT ...)` collapse
    * duplicate per-event values before the aggregate (the `/ 100`
    * bucketing makes real duplicates common in this corpus);
    * `COUNT(c.value)` is SQL's non-NULL count. Batch lowers to
    * `count_distinct`/`sum_distinct` inside the SAME single
    * explode→join→aggregate pass; streaming folds `.distinct` per match
    * at emission. ONE ROW PER MATCH only (window functions take no
    * DISTINCT). The oracle computes the 1- and 2-click distinct sets in
    * closed form over the funnel CTEs.
    */
  val cepSqlDistinctAggStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES FIRST(s) AS s_id, COUNT(c) AS n_c, " +
        "COUNT(c.value) AS n_cv, " +
        "COUNT(DISTINCT c.value / 100) AS n_db, " +
        "SUM(DISTINCT c.value / 100) AS s_db " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8",
      eventSchema)

  def cepSqlDistinctAgg(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlDistinctAggStatement)
      .orderBy("user_id", "s_id", "n_c")

  val cepSqlDistinctAggSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |c1 AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c1_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |arms AS (
      |  SELECT user_id, s_id, s_seq, c1_seq, NULL AS c2_seq FROM c1
      |  UNION ALL
      |  SELECT c1.user_id, c1.s_id, c1.s_seq, c1.c1_seq, n.seq
      |  FROM c1 JOIN seqd n ON n.user_id = c1.user_id
      |    AND n.seq = c1.c1_seq + 1 AND n.event_type = 'click'),
      |m AS (
      |  SELECT a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq,
      |    min(p.seq) AS p_seq
      |  FROM arms a JOIN seqd p ON p.user_id = a.user_id
      |    AND p.seq > COALESCE(a.c2_seq, a.c1_seq)
      |    AND p.event_type = 'purchase'
      |  GROUP BY a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq
      |  HAVING min(p.seq) - a.s_seq < 8)
      |SELECT m.user_id, m.s_id,
      |  CAST(CASE WHEN m.c2_seq IS NULL THEN 1 ELSE 2 END AS BIGINT)
      |    AS n_c,
      |  CAST(CASE WHEN m.c2_seq IS NULL THEN 1 ELSE 2 END AS BIGINT)
      |    AS n_cv,
      |  CAST(CASE WHEN m.c2_seq IS NULL OR e2.v // 100 = e1.v // 100
      |    THEN 1 ELSE 2 END AS BIGINT) AS n_db,
      |  e1.v // 100 + CASE WHEN m.c2_seq IS NULL
      |    OR e2.v // 100 = e1.v // 100 THEN 0 ELSE e2.v // 100 END
      |    AS s_db
      |FROM m
      |JOIN seqd e1 ON e1.user_id = m.user_id AND e1.seq = m.c1_seq
      |LEFT JOIN seqd e2 ON e2.user_id = m.user_id AND e2.seq = m.c2_seq
      |ORDER BY 1, 2, 3""".stripMargin

  /** Nested PHYSICAL navigation in MEASURES (SQL:2016
    * `PREV/NEXT(FIRST/LAST(...))` — `CepMeasures.PhysNav`): resolve the
    * logical target event, then read the attribute from the row k
    * PHYSICAL rows away in the user's partition — any event type, bound
    * or not. Lowered as lag/lead columns on the event side of the ONE
    * measures join (a single per-key window pass shared by all
    * navigated measures — the same cost class as the DEFINE-side
    * PREV batch lag), so navigation adds no extra join. NULL past a
    * partition edge, exactly the oracle's LEFT JOIN at seq±k.
    */
  val cepSqlNavPhysStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES FIRST(s) AS s_id, COUNT(c) AS n_c, " +
        "PREV(LAST(c.value)) AS before_last_c, " +
        "NEXT(FIRST(c.value), 2) AS two_after_c1, " +
        "PREV(FIRST(s.value)) AS before_s " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8",
      eventSchema)

  def cepSqlNavPhys(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlNavPhysStatement)
      .orderBy("user_id", "s_id", "n_c")

  val cepSqlNavPhysSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |c1 AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c1_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |arms AS (
      |  SELECT user_id, s_id, s_seq, c1_seq, NULL AS c2_seq FROM c1
      |  UNION ALL
      |  SELECT c1.user_id, c1.s_id, c1.s_seq, c1.c1_seq, n.seq
      |  FROM c1 JOIN seqd n ON n.user_id = c1.user_id
      |    AND n.seq = c1.c1_seq + 1 AND n.event_type = 'click'),
      |m AS (
      |  SELECT a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq,
      |    min(p.seq) AS p_seq
      |  FROM arms a JOIN seqd p ON p.user_id = a.user_id
      |    AND p.seq > COALESCE(a.c2_seq, a.c1_seq)
      |    AND p.event_type = 'purchase'
      |  GROUP BY a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq
      |  HAVING min(p.seq) - a.s_seq < 8)
      |SELECT m.user_id, m.s_id,
      |  CAST(CASE WHEN m.c2_seq IS NULL THEN 1 ELSE 2 END AS BIGINT)
      |    AS n_c,
      |  eb.v AS before_last_c,
      |  ea.v AS two_after_c1,
      |  es.v AS before_s
      |FROM m
      |LEFT JOIN seqd eb ON eb.user_id = m.user_id
      |  AND eb.seq = COALESCE(m.c2_seq, m.c1_seq) - 1
      |LEFT JOIN seqd ea ON ea.user_id = m.user_id
      |  AND ea.seq = m.c1_seq + 2
      |LEFT JOIN seqd es ON es.user_id = m.user_id
      |  AND es.seq = m.s_seq - 1
      |ORDER BY 1, 2, 3""".stripMargin

  /** `ALL ROWS PER MATCH` (`CepMeasures.run`): the other
    * MATCH_RECOGNIZE output shape — ONE ROW PER BOUND EVENT with the
    * per-key `match_no` sequence, the `classifier` (which pattern name
    * bound the event), the event's order id, and RUNNING measures (each
    * row aggregates the match's rows up to itself). `match_no` is
    * DETERMINISTIC and temporal: per key, ordered by the match's
    * earliest bound ordinal, binding arrays as tiebreaker; the oracle
    * reproduces the sequence by ordering the funnel's bound positions
    * the same way — `s_id` (the start ordinal, since `s` always binds)
    * first, then the shorter-prefix-first array comparison (`c2 NULLS
    * FIRST`).
    */
  val cepSqlAllRowsStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES COUNT(c) AS n_c, SUM(c.value) AS c_sum, " +
        "FIRST(s) AS s_ord " +
        "ALL ROWS PER MATCH " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8",
      eventSchema)

  def cepSqlAllRows(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlAllRowsStatement)
      .orderBy("user_id", "match_no", "event_id")

  val cepSqlAllRowsSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |c1 AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c1_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |arms AS (
      |  SELECT user_id, s_id, s_seq, c1_seq, NULL AS c2_seq FROM c1
      |  UNION ALL
      |  SELECT c1.user_id, c1.s_id, c1.s_seq, c1.c1_seq, n.seq
      |  FROM c1 JOIN seqd n ON n.user_id = c1.user_id
      |    AND n.seq = c1.c1_seq + 1 AND n.event_type = 'click'),
      |m0 AS (
      |  SELECT a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq,
      |    min(p.seq) AS p_seq
      |  FROM arms a JOIN seqd p ON p.user_id = a.user_id
      |    AND p.seq > COALESCE(a.c2_seq, a.c1_seq)
      |    AND p.event_type = 'purchase'
      |  GROUP BY a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq
      |  HAVING min(p.seq) - a.s_seq < 8),
      |m AS (
      |  SELECT m0.user_id, m0.s_id,
      |    e1.event_id AS c1_id, e1.v AS c1_v,
      |    e2.event_id AS c2_id, e2.v AS c2_v,
      |    ep.event_id AS p_id,
      |    row_number() OVER (PARTITION BY m0.user_id
      |      ORDER BY m0.s_id, e1.event_id, e2.event_id ASC NULLS FIRST,
      |        ep.event_id) AS mno
      |  FROM m0
      |  JOIN seqd e1 ON e1.user_id = m0.user_id AND e1.seq = m0.c1_seq
      |  LEFT JOIN seqd e2 ON e2.user_id = m0.user_id AND e2.seq = m0.c2_seq
      |  JOIN seqd ep ON ep.user_id = m0.user_id AND ep.seq = m0.p_seq)
      |SELECT user_id, CAST(mno AS BIGINT) AS match_no, classifier,
      |  event_id, n_c, c_sum, s_ord FROM (
      |  SELECT user_id, mno, 's' AS classifier, s_id AS event_id,
      |    CAST(0 AS BIGINT) AS n_c, CAST(NULL AS BIGINT) AS c_sum,
      |    s_id AS s_ord
      |  FROM m
      |  UNION ALL
      |  SELECT user_id, mno, 'c', c1_id, CAST(1 AS BIGINT), c1_v, s_id
      |  FROM m
      |  UNION ALL
      |  SELECT user_id, mno, 'c', c2_id, CAST(2 AS BIGINT), c1_v + c2_v,
      |    s_id
      |  FROM m WHERE c2_id IS NOT NULL
      |  UNION ALL
      |  SELECT user_id, mno, 'p', p_id,
      |    CAST(CASE WHEN c2_id IS NULL THEN 1 ELSE 2 END AS BIGINT),
      |    c1_v + COALESCE(c2_v, 0), s_id
      |  FROM m)
      |ORDER BY user_id, match_no, event_id""".stripMargin

  /** ALL ROWS offset navigation (`CepMeasures.run` FINAL/RUNNING
    * FIRST/LAST offsets): the same funnel measured with
    * `FINAL FIRST(c.value, 1)` (the SECOND bound click's value, NULL on
    * one-click matches — constant per match), `FINAL LAST(c, 1)` (the
    * second-from-the-end click's ORDINAL), RUNNING `FIRST(c.value, 1)`
    * (NULL until two clicks bound SO FAR) and RUNNING `LAST(c.value, 1)` (the
    * second-from-the-end take SO FAR — NULL until two clicks bound,
    * then the first click's value). Oracle: the `cep_sql_all_rows`
    * closed form with the offset values stated per arm in closed form.
    */
  val cepSqlAllRowsOffsetsStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES FINAL FIRST(c.value, 1) AS ff1, " +
        "FINAL LAST(c, 1) AS fl1_ord, FIRST(c.value, 1) AS rf1, " +
        "RUNNING LAST(c.value, 1) AS rl1 " +
        "ALL ROWS PER MATCH " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8",
      eventSchema)

  def cepSqlAllRowsOffsets(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"),
      cepSqlAllRowsOffsetsStatement)
      .orderBy("user_id", "match_no", "event_id")

  val cepSqlAllRowsOffsetsSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |c1 AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c1_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |arms AS (
      |  SELECT user_id, s_id, s_seq, c1_seq, NULL AS c2_seq FROM c1
      |  UNION ALL
      |  SELECT c1.user_id, c1.s_id, c1.s_seq, c1.c1_seq, n.seq
      |  FROM c1 JOIN seqd n ON n.user_id = c1.user_id
      |    AND n.seq = c1.c1_seq + 1 AND n.event_type = 'click'),
      |m0 AS (
      |  SELECT a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq,
      |    min(p.seq) AS p_seq
      |  FROM arms a JOIN seqd p ON p.user_id = a.user_id
      |    AND p.seq > COALESCE(a.c2_seq, a.c1_seq)
      |    AND p.event_type = 'purchase'
      |  GROUP BY a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq
      |  HAVING min(p.seq) - a.s_seq < 8),
      |m AS (
      |  SELECT m0.user_id, m0.s_id,
      |    e1.event_id AS c1_id, e1.v AS c1_v,
      |    e2.event_id AS c2_id, e2.v AS c2_v,
      |    ep.event_id AS p_id,
      |    row_number() OVER (PARTITION BY m0.user_id
      |      ORDER BY m0.s_id, e1.event_id, e2.event_id ASC NULLS FIRST,
      |        ep.event_id) AS mno
      |  FROM m0
      |  JOIN seqd e1 ON e1.user_id = m0.user_id AND e1.seq = m0.c1_seq
      |  LEFT JOIN seqd e2 ON e2.user_id = m0.user_id AND e2.seq = m0.c2_seq
      |  JOIN seqd ep ON ep.user_id = m0.user_id AND ep.seq = m0.p_seq)
      |SELECT user_id, CAST(mno AS BIGINT) AS match_no, classifier,
      |  event_id, ff1, fl1_ord, rf1, rl1 FROM (
      |  SELECT user_id, mno, 's' AS classifier, s_id AS event_id,
      |    c2_v AS ff1,
      |    CASE WHEN c2_id IS NULL THEN NULL ELSE c1_id END AS fl1_ord,
      |    CAST(NULL AS BIGINT) AS rf1, CAST(NULL AS BIGINT) AS rl1
      |  FROM m
      |  UNION ALL
      |  SELECT user_id, mno, 'c', c1_id, c2_v,
      |    CASE WHEN c2_id IS NULL THEN NULL ELSE c1_id END,
      |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
      |  FROM m
      |  UNION ALL
      |  SELECT user_id, mno, 'c', c2_id, c2_v, c1_id, c2_v, c1_v
      |  FROM m WHERE c2_id IS NOT NULL
      |  UNION ALL
      |  SELECT user_id, mno, 'p', p_id, c2_v,
      |    CASE WHEN c2_id IS NULL THEN NULL ELSE c1_id END, c2_v,
      |    CASE WHEN c2_id IS NULL THEN NULL ELSE c1_v END
      |  FROM m)
      |ORDER BY user_id, match_no, event_id""".stripMargin

  /** SQL:2016 `{- x -}` output exclusion over the same `ALL ROWS`
    * funnel (`CepSql` exclusion unit + `CepMeasures.run`): the
    * clicks are excluded from the OUTPUT but still match and still feed
    * the running measures — the surviving `p` row carries the full
    * click count/sum, which is exactly what distinguishes exclusion
    * from a downstream filter on a click-less pattern. Oracle: the
    * `cep_sql_all_rows` closed form with the two click arms dropped
    * (match numbering is unchanged — exclusion is output-only).
    */
  val cepSqlExclFunnelStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> {- c{1,2} -} -> p) " +
        "MEASURES COUNT(c) AS n_c, SUM(c.value) AS c_sum, " +
        "FIRST(s) AS s_ord " +
        "ALL ROWS PER MATCH " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8",
      eventSchema)

  def cepSqlExclFunnel(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlExclFunnelStatement)
      .orderBy("user_id", "match_no", "event_id")

  val cepSqlExclFunnelSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |c1 AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c1_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |arms AS (
      |  SELECT user_id, s_id, s_seq, c1_seq, NULL AS c2_seq FROM c1
      |  UNION ALL
      |  SELECT c1.user_id, c1.s_id, c1.s_seq, c1.c1_seq, n.seq
      |  FROM c1 JOIN seqd n ON n.user_id = c1.user_id
      |    AND n.seq = c1.c1_seq + 1 AND n.event_type = 'click'),
      |m0 AS (
      |  SELECT a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq,
      |    min(p.seq) AS p_seq
      |  FROM arms a JOIN seqd p ON p.user_id = a.user_id
      |    AND p.seq > COALESCE(a.c2_seq, a.c1_seq)
      |    AND p.event_type = 'purchase'
      |  GROUP BY a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq
      |  HAVING min(p.seq) - a.s_seq < 8),
      |m AS (
      |  SELECT m0.user_id, m0.s_id,
      |    e1.event_id AS c1_id, e1.v AS c1_v,
      |    e2.event_id AS c2_id, e2.v AS c2_v,
      |    ep.event_id AS p_id,
      |    row_number() OVER (PARTITION BY m0.user_id
      |      ORDER BY m0.s_id, e1.event_id, e2.event_id ASC NULLS FIRST,
      |        ep.event_id) AS mno
      |  FROM m0
      |  JOIN seqd e1 ON e1.user_id = m0.user_id AND e1.seq = m0.c1_seq
      |  LEFT JOIN seqd e2 ON e2.user_id = m0.user_id AND e2.seq = m0.c2_seq
      |  JOIN seqd ep ON ep.user_id = m0.user_id AND ep.seq = m0.p_seq)
      |SELECT user_id, CAST(mno AS BIGINT) AS match_no, classifier,
      |  event_id, n_c, c_sum, s_ord FROM (
      |  SELECT user_id, mno, 's' AS classifier, s_id AS event_id,
      |    CAST(0 AS BIGINT) AS n_c, CAST(NULL AS BIGINT) AS c_sum,
      |    s_id AS s_ord
      |  FROM m
      |  UNION ALL
      |  SELECT user_id, mno, 'p', p_id,
      |    CAST(CASE WHEN c2_id IS NULL THEN 1 ELSE 2 END AS BIGINT),
      |    c1_v + COALESCE(c2_v, 0), s_id
      |  FROM m)
      |ORDER BY user_id, match_no, event_id""".stripMargin

  /** SQL:2016 `WITH UNMATCHED ROWS` over the `ALL ROWS` funnel
    * (`CepMeasures.run`): every input row bound by NO match joins the
    * output with NULL match_no/classifier/measures — the
    * MATCH_RECOGNIZE way to keep the full partition in view
    * (lineage/debugging: which events never participated). The CEP
    * operator renders them once no live run can still bind them. Oracle:
    * the `cep_sql_all_rows` closed form plus a NOT-IN-bound arm.
    */
  val cepSqlUnmatchedStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES COUNT(c) AS n_c, SUM(c.value) AS c_sum, " +
        "FIRST(s) AS s_ord " +
        "ALL ROWS PER MATCH WITH UNMATCHED ROWS " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8",
      eventSchema)

  def cepSqlUnmatched(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlUnmatchedStatement)
      .orderBy("user_id", "match_no", "event_id")

  val cepSqlUnmatchedSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |c1 AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c1_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |arms AS (
      |  SELECT user_id, s_id, s_seq, c1_seq, NULL AS c2_seq FROM c1
      |  UNION ALL
      |  SELECT c1.user_id, c1.s_id, c1.s_seq, c1.c1_seq, n.seq
      |  FROM c1 JOIN seqd n ON n.user_id = c1.user_id
      |    AND n.seq = c1.c1_seq + 1 AND n.event_type = 'click'),
      |m0 AS (
      |  SELECT a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq,
      |    min(p.seq) AS p_seq
      |  FROM arms a JOIN seqd p ON p.user_id = a.user_id
      |    AND p.seq > COALESCE(a.c2_seq, a.c1_seq)
      |    AND p.event_type = 'purchase'
      |  GROUP BY a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq
      |  HAVING min(p.seq) - a.s_seq < 8),
      |m AS (
      |  SELECT m0.user_id, m0.s_id,
      |    e1.event_id AS c1_id, e1.v AS c1_v,
      |    e2.event_id AS c2_id, e2.v AS c2_v,
      |    ep.event_id AS p_id,
      |    row_number() OVER (PARTITION BY m0.user_id
      |      ORDER BY m0.s_id, e1.event_id, e2.event_id ASC NULLS FIRST,
      |        ep.event_id) AS mno
      |  FROM m0
      |  JOIN seqd e1 ON e1.user_id = m0.user_id AND e1.seq = m0.c1_seq
      |  LEFT JOIN seqd e2 ON e2.user_id = m0.user_id AND e2.seq = m0.c2_seq
      |  JOIN seqd ep ON ep.user_id = m0.user_id AND ep.seq = m0.p_seq),
      |bound AS (
      |  SELECT user_id, s_id AS event_id FROM m
      |  UNION SELECT user_id, c1_id FROM m
      |  UNION SELECT user_id, c2_id FROM m WHERE c2_id IS NOT NULL
      |  UNION SELECT user_id, p_id FROM m)
      |SELECT user_id, CAST(mno AS BIGINT) AS match_no, classifier,
      |  event_id, n_c, c_sum, s_ord FROM (
      |  SELECT user_id, mno, 's' AS classifier, s_id AS event_id,
      |    CAST(0 AS BIGINT) AS n_c, CAST(NULL AS BIGINT) AS c_sum,
      |    s_id AS s_ord
      |  FROM m
      |  UNION ALL
      |  SELECT user_id, mno, 'c', c1_id, CAST(1 AS BIGINT), c1_v, s_id
      |  FROM m
      |  UNION ALL
      |  SELECT user_id, mno, 'c', c2_id, CAST(2 AS BIGINT), c1_v + c2_v,
      |    s_id
      |  FROM m WHERE c2_id IS NOT NULL
      |  UNION ALL
      |  SELECT user_id, mno, 'p', p_id,
      |    CAST(CASE WHEN c2_id IS NULL THEN 1 ELSE 2 END AS BIGINT),
      |    c1_v + COALESCE(c2_v, 0), s_id
      |  FROM m
      |  UNION ALL
      |  SELECT e.user_id, CAST(NULL AS BIGINT),
      |    CAST(NULL AS VARCHAR), e.event_id, CAST(NULL AS BIGINT),
      |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
      |  FROM seqd e LEFT JOIN bound b
      |    ON b.user_id = e.user_id AND b.event_id = e.event_id
      |  WHERE b.event_id IS NULL)
      |ORDER BY user_id, match_no, event_id""".stripMargin

  /** SQL:2016 `ALL ROWS PER MATCH SHOW EMPTY MATCHES`
    * (`CepMeasures.run`): the pattern `c{0,3}` is
    * NULLABLE, so every event where the attempt yields only the empty
    * match emits one NULL-classifier row with empty-set measures
    * (COUNT 0, SUM NULL), numbered in sequence with the real matches.
    * Under the reluctant default + SKIP PAST LAST ROW each click is its
    * own singleton match and every non-click event is an empty-match
    * site, so the output is a TOTAL relabeling of the events table —
    * `match_no` (and the `MATCH_NUMBER()` measure) is exactly the
    * per-user event sequence number, which is the closed form the
    * oracle states directly. The CEP operator finds the sites in one
    * sorted sweep of the key's match spans.
    */
  val cepSqlShowEmptyStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (c{0,3}) " +
        "MEASURES COUNT(c) AS n_c, SUM(c.value) AS c_v, " +
        "MATCH_NUMBER() AS mn " +
        "ALL ROWS PER MATCH SHOW EMPTY MATCHES " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE c AS click AFTER MATCH SKIP PAST LAST ROW",
      eventSchema)

  def cepSqlShowEmpty(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlShowEmptyStatement)
      .orderBy("user_id", "event_id")

  val cepSqlShowEmptySql: String =
    """SELECT user_id,
      |  CAST(row_number() OVER w AS BIGINT) AS match_no,
      |  CASE WHEN event_type = 'click' THEN 'c' END AS classifier,
      |  event_id,
      |  CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
      |    AS BIGINT) AS n_c,
      |  CASE WHEN event_type = 'click'
      |    THEN CAST(FLOOR(value) AS BIGINT) END AS c_v,
      |  CAST(row_number() OVER w AS BIGINT) AS mn
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** `ONE ROW PER MATCH SHOW EMPTY MATCHES` (engine extension spelling
    * of the SQL:2016 default ONE-ROW behavior, where empty matches are
    * always output — [[graft.cep.CepMeasures.run]]):
    * same nullable `c{0,3}` matcher as `cep_sql_show_empty`, projected
    * to one SUMMARY row per match — real singleton clicks carry COUNT 1
    * and the click's value, empty matches COUNT 0 / NULL, and
    * `MATCH_NUMBER()` interleaves both by site ordinal, so `mn` is
    * again the per-user event sequence number. Exercises the
    * positional AND attribute tiers over empty matches.
    */
  val cepSqlOneRowEmptyStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (c{0,3}) " +
        "MEASURES COUNT(c) AS n_c, SUM(c.value) AS c_v, " +
        "MATCH_NUMBER() AS mn " +
        "ONE ROW PER MATCH SHOW EMPTY MATCHES " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE c AS click AFTER MATCH SKIP PAST LAST ROW",
      eventSchema)

  def cepSqlOneRowEmpty(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlOneRowEmptyStatement)
      .orderBy("user_id", "mn")

  val cepSqlOneRowEmptySql: String =
    """SELECT user_id,
      |  CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
      |    AS BIGINT) AS n_c,
      |  CASE WHEN event_type = 'click'
      |    THEN CAST(FLOOR(value) AS BIGINT) END AS c_v,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id)
      |    AS BIGINT) AS mn
      |FROM events
      |ORDER BY user_id, mn""".stripMargin

  /** `SHOW EMPTY MATCHES` under an ANCHOR skip strategy (`AFTER MATCH
    * SKIP TO LAST c`): sites are the events outside the PRUNE-ADJUSTED
    * spans `[start, max(start, anchor - 1)]` — the resume-point event
    * gets a fresh attempt and can itself host an empty match. With
    * strict click pairs (`c{2,2}`), anchor pruning keeps every
    * overlapping pair (a run first-taking at the raised threshold
    * survives), each pair's span covers only its START, and an `error`
    * match binds no `c` (NoSkip fallback — degenerate span covers
    * itself). So: a click followed by a click starts a pair match; an
    * error is an `x` match; EVERY other event — including the second
    * click of a pair that starts none — is an empty-match site. Every
    * event anchors exactly one match or site, so `match_no` is the
    * per-user event sequence number and the oracle is the closed
    * lead()-form below.
    */
  val cepSqlShowEmptyAnchorStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (c{2,2} | x{0,1}) " +
        "MEASURES COUNT(c) AS n_c, SUM(c.value) AS sv " +
        "ALL ROWS PER MATCH SHOW EMPTY MATCHES " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE c AS click; x AS error AFTER MATCH SKIP TO LAST c",
      eventSchema)

  def cepSqlShowEmptyAnchor(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"),
      cepSqlShowEmptyAnchorStatement)
      .orderBy("user_id", "match_no", "event_id")

  val cepSqlShowEmptyAnchorSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    lead(event_type) OVER w AS nt,
      |    lead(event_id) OVER w AS nid,
      |    CAST(FLOOR(lead(value) OVER w) AS BIGINT) AS nv,
      |    CAST(row_number() OVER w AS BIGINT) AS mno
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
      |SELECT * FROM (
      |  SELECT user_id, mno AS match_no, 'c' AS classifier, event_id,
      |    CAST(1 AS BIGINT) AS n_c, v AS sv
      |  FROM seqd WHERE event_type = 'click' AND nt = 'click'
      |  UNION ALL
      |  SELECT user_id, mno, 'c', nid, CAST(2 AS BIGINT), v + nv
      |  FROM seqd WHERE event_type = 'click' AND nt = 'click'
      |  UNION ALL
      |  SELECT user_id, mno, 'x', event_id, CAST(0 AS BIGINT),
      |    CAST(NULL AS BIGINT)
      |  FROM seqd WHERE event_type = 'error'
      |  UNION ALL
      |  SELECT user_id, mno, CAST(NULL AS VARCHAR), event_id,
      |    CAST(0 AS BIGINT), CAST(NULL AS BIGINT)
      |  FROM seqd WHERE event_type <> 'error'
      |    AND NOT (event_type = 'click' AND COALESCE(nt, '') = 'click'))
      |ORDER BY user_id, match_no, event_id""".stripMargin

  /** `SHOW EMPTY MATCHES` under the `^` START anchor (round 16 — the
    * last SHOW EMPTY gap with a defined reading): every match must
    * start at the key's FIRST event, so that event is the ONLY attempt
    * site — a user emits one singleton click match if their journey
    * starts with a click (the reluctant loop's first accept under
    * skip-past), else exactly one empty-match row at their first
    * event. One row per user either way, which is the closed form the
    * oracle states over `row_number() = 1`. `$` stays rejected
    * (documented: a zero-width match at the partition end has no input
    * row to emit).
    */
  val cepSqlShowEmptyStartStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (^ c{0,2}) " +
        "MEASURES COUNT(c) AS n_c, SUM(c.value) AS sv " +
        "ALL ROWS PER MATCH SHOW EMPTY MATCHES " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE c AS click AFTER MATCH SKIP PAST LAST ROW",
      eventSchema)

  def cepSqlShowEmptyStart(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"),
      cepSqlShowEmptyStartStatement)
      .orderBy("user_id", "event_id")

  val cepSqlShowEmptyStartSql: String =
    """WITH f AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id)
      |      AS rn
      |  FROM events)
      |SELECT user_id, CAST(1 AS BIGINT) AS match_no,
      |  CASE WHEN event_type = 'click' THEN 'c' END AS classifier,
      |  event_id,
      |  CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
      |    AS BIGINT) AS n_c,
      |  CASE WHEN event_type = 'click' THEN v END AS sv
      |FROM f WHERE rn = 1
      |ORDER BY user_id, event_id""".stripMargin

  /** TYPED STRING ATTRIBUTES (round 16, beyond-reference —
    * [[graft.cep.Event]] `strs`): a STRING input column rides the CEP
    * event model end-to-end, type-driven from the input schema
    * (`SparkCep.attrProj`). Here a derived `host` column (`'h' +
    * props.k % 3` — a real string dimension of the events table)
    * gates the click take in DEFINE (`host == 'h1'` — equality against
    * a literal, the string tier's admission rule) and surfaces through
    * a STRING-typed `LAST(c.host)` measure. Long-only invariants hold
    * everywhere else (arithmetic/registers reject loudly —
    * `CepStringAttrSpec`). The oracle replays the derivation and the
    * first-qualifying-click-within-6 semantics in closed form
    * (positional WITHIN disables the pushdown, so steps are RAW
    * per-user positions — same discipline as `cep_within_*`).
    */
  val eventSchemaHost: Vector[(String, Vector[String])] =
    eventSchema.map { case (t, attrs) => (t, attrs :+ "host") }

  val cepSqlStringAttrStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c) " +
        "MEASURES FIRST(s) AS s_id, LAST(c) AS c_id, " +
        "LAST(c.host) AS c_host, SUM(c.value) AS c_v " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; c AS click WHERE host == 'h1' WITHIN 6",
      eventSchemaHost)

  def cepSqlStringAttr(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(
      table(spark, dir, "events").withColumn("host",
        concat(lit("h"), (regexp_extract(col("props"), "[0-9]+", 0)
          .cast("long") % 3).cast("string"))),
      cepSqlStringAttrStatement)
      .orderBy("user_id", "s_id")

  val cepSqlStringAttrSql: String =
    """WITH r AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    'h' || CAST(CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT)
      |      % 3 AS VARCHAR) AS host,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id)
      |      AS step
      |  FROM events),
      |s AS (SELECT user_id, event_id AS s_id, step AS astep
      |      FROM r WHERE event_type = 'signup'),
      |c AS (SELECT user_id, step FROM r
      |      WHERE event_type = 'click' AND host = 'h1'),
      |fp AS (
      |  SELECT s.user_id, s.s_id, min(c.step) AS bstep
      |  FROM s JOIN c ON c.user_id = s.user_id AND c.step > s.astep
      |    AND c.step - s.astep < 6
      |  GROUP BY 1, 2)
      |SELECT f.user_id, f.s_id, r.event_id AS c_id, r.host AS c_host,
      |  r.v AS c_v
      |FROM fp f JOIN r ON r.user_id = f.user_id AND r.step = f.bstep
      |ORDER BY f.user_id, f.s_id""".stripMargin

  /** STRING LIKE + ordering in DEFINE (round 17, beyond-reference —
    * `Expr.Like` / code-point `Cmp` over string attributes): a derived
    * two-dimensional `host` string (`h<k%3>` + `.com`/`.org` by k's
    * parity) gates the click take with `like`-pattern and `not like`
    * predicates. No WITHIN → the all-relaxed shape keeps the type
    * PREFILTER PUSHDOWN (`event_type IN (signup, click)` at the scan;
    * a single-spat query would push the like itself — `ExprToColumn`
    * lowers it to Spark's own `like`, exact for backslash-free
    * patterns). One match per signup: the first subsequent
    * qualifying click (a relaxed ignore edge never skips a qualifying
    * event). The oracle replays the derivation and LIKE in DuckDB
    * (same `%`/`_`, no-escape semantics; binary collation == the
    * engine's code-point order).
    */
  private val hostDeriveSpark: org.apache.spark.sql.Column = {
    val k = regexp_extract(col("props"), "[0-9]+", 0).cast("long")
    concat(lit("h"), (k % 3).cast("string"),
      when(k % 2 === 0, ".com").otherwise(".org"))
  }

  private val hostDeriveSql: String =
    "'h' || CAST(CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT) " +
      "% 3 AS VARCHAR) || CASE WHEN " +
      "CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT) % 2 = 0 " +
      "THEN '.com' ELSE '.org' END"

  val cepSqlStringLikeStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c) " +
        "MEASURES FIRST(s) AS s_id, LAST(c) AS c_id, " +
        "LAST(c.host) AS c_host " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; " +
        "c AS click WHERE host like 'h%.com' and host not like 'h0%'",
      eventSchemaHost)

  def cepSqlStringLike(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(
      table(spark, dir, "events").withColumn("host", hostDeriveSpark),
      cepSqlStringLikeStatement)
      .orderBy("user_id", "s_id")

  val cepSqlStringLikeSql: String =
    s"""WITH r AS (
      |  SELECT user_id, event_id, event_type,
      |    $hostDeriveSql AS host
      |  FROM events),
      |s AS (SELECT user_id, event_id AS s_id FROM r
      |      WHERE event_type = 'signup'),
      |c AS (SELECT user_id, event_id, host FROM r
      |      WHERE event_type = 'click'
      |        AND host LIKE 'h%.com' AND host NOT LIKE 'h0%'),
      |fp AS (
      |  SELECT s.user_id, s.s_id, min(c.event_id) AS c_id
      |  FROM s JOIN c ON c.user_id = s.user_id AND c.event_id > s.s_id
      |  GROUP BY 1, 2)
      |SELECT f.user_id, f.s_id, f.c_id, c.host AS c_host
      |FROM fp f JOIN c ON c.user_id = f.user_id AND c.event_id = f.c_id
      |ORDER BY f.user_id, f.s_id""".stripMargin

  /** STRING ORDERING in DEFINE (round 17): the same derived host gated
    * by code-point range predicates (`host >= 'h1' and host < 'h2'` —
    * selects h1.com/h1.org). `Expr.strCompare` is UTF-8 byte order =
    * Spark UTF8String = DuckDB binary collation, so the NFA, the
    * pushed-down range filter and the oracle agree exactly.
    */
  val cepSqlStringOrderStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c) " +
        "MEASURES FIRST(s) AS s_id, LAST(c) AS c_id, " +
        "LAST(c.host) AS c_host " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; " +
        "c AS click WHERE host >= 'h1' and host < 'h2'",
      eventSchemaHost)

  def cepSqlStringOrder(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(
      table(spark, dir, "events").withColumn("host", hostDeriveSpark),
      cepSqlStringOrderStatement)
      .orderBy("user_id", "s_id")

  val cepSqlStringOrderSql: String =
    s"""WITH r AS (
      |  SELECT user_id, event_id, event_type,
      |    $hostDeriveSql AS host
      |  FROM events),
      |s AS (SELECT user_id, event_id AS s_id FROM r
      |      WHERE event_type = 'signup'),
      |c AS (SELECT user_id, event_id, host FROM r
      |      WHERE event_type = 'click'
      |        AND host >= 'h1' AND host < 'h2'),
      |fp AS (
      |  SELECT s.user_id, s.s_id, min(c.event_id) AS c_id
      |  FROM s JOIN c ON c.user_id = s.user_id AND c.event_id > s.s_id
      |  GROUP BY 1, 2)
      |SELECT f.user_id, f.s_id, f.c_id, c.host AS c_host
      |FROM fp f JOIN c ON c.user_id = f.user_id AND c.event_id = f.c_id
      |ORDER BY f.user_id, f.s_id""".stripMargin

  /** SQL:2016 `LIKE ... ESCAPE` + literal-backslash LIKE patterns in
    * DEFINE (round 18, beyond-reference): two derived string attrs —
    * `tag` = `h<k%3>_<com|org>` (contains a literal underscore) and
    * `path` = `p\<k%5>` (contains a literal backslash) — gate a
    * single-variable pattern, so BOTH predicates push into the scan
    * (`ExprToColumn`: the escape form lowers to Spark's own
    * `like(str, pat, esc)`; the no-escape backslash form pushes with
    * doubled backslashes — round 18 closed the old backslash-free
    * restriction). `'h1!_c%' escape '!'` is h1 + LITERAL `_` + c… —
    * matches `h1_com` only (misreading `!` literally, or `_` as a
    * wildcard, selects nothing / everything); `'p\1%'` has NO escape
    * char, so the backslash is an ordinary literal — exactly DuckDB's
    * reading of both patterns (ESCAPE clause; no default escape).
    */
  val eventSchemaTagPath: Vector[(String, Vector[String])] =
    eventSchema.map { case (t, attrs) => (t, attrs :+ "tag" :+ "path") }

  private val tagDeriveSpark: org.apache.spark.sql.Column = {
    val k = regexp_extract(col("props"), "[0-9]+", 0).cast("long")
    concat(lit("h"), (k % 3).cast("string"), lit("_"),
      when(k % 2 === 0, "com").otherwise("org"))
  }
  private val pathDeriveSpark: org.apache.spark.sql.Column = {
    val k = regexp_extract(col("props"), "[0-9]+", 0).cast("long")
    concat(lit("p\\"), (k % 5).cast("string"))
  }

  val cepSqlLikeEscapeStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (c) " +
        "MEASURES FIRST(c) AS c_id, LAST(c.tag) AS c_tag, " +
        "LAST(c.path) AS c_path " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE c AS click WHERE tag like 'h1!_c%' escape '!' " +
        "and path like 'p\\1%'",
      eventSchemaTagPath)

  def cepSqlLikeEscape(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(
      table(spark, dir, "events")
        .withColumn("tag", tagDeriveSpark)
        .withColumn("path", pathDeriveSpark),
      cepSqlLikeEscapeStatement)
      .orderBy("user_id", "c_id")

  val cepSqlLikeEscapeSql: String = {
    val kExpr = "CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT)"
    s"""WITH r AS (
      |  SELECT user_id, event_id, event_type,
      |    'h' || CAST($kExpr % 3 AS VARCHAR) || '_' ||
      |      CASE WHEN $kExpr % 2 = 0 THEN 'com' ELSE 'org' END AS tag,
      |    'p\\' || CAST($kExpr % 5 AS VARCHAR) AS path
      |  FROM events)
      |SELECT user_id, event_id AS c_id, tag AS c_tag, path AS c_path
      |FROM r
      |WHERE event_type = 'click'
      |  AND tag LIKE 'h1!_c%' ESCAPE '!' AND path LIKE 'p\\1%'
      |ORDER BY user_id, c_id""".stripMargin
  }

  /** SQL:2016 `COUNT(*)` / `COUNT(name.*)` in MEASURES (parse-side
    * sugar — `COUNT(*)` desugars to the sum of the per-name positional
    * counts, `COUNT(c.*)` to `COUNT(c)`): the funnel's row count is
    * always the click count plus the two anchor events, which is the
    * closed form the oracle states.
    */
  val cepSqlCountStarStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES COUNT(*) AS n_rows, FIRST(s) AS s_id, " +
        "COUNT(c.*) AS n_c " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8",
      eventSchema)

  def cepSqlCountStar(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlCountStarStatement)
      .orderBy("user_id", "s_id", "n_c")

  val cepSqlCountStarSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |c1 AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c1_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |arms AS (
      |  SELECT user_id, s_id, s_seq, c1_seq, NULL AS c2_seq FROM c1
      |  UNION ALL
      |  SELECT c1.user_id, c1.s_id, c1.s_seq, c1.c1_seq, n.seq
      |  FROM c1 JOIN seqd n ON n.user_id = c1.user_id
      |    AND n.seq = c1.c1_seq + 1 AND n.event_type = 'click'),
      |m AS (
      |  SELECT a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq,
      |    min(p.seq) AS p_seq
      |  FROM arms a JOIN seqd p ON p.user_id = a.user_id
      |    AND p.seq > COALESCE(a.c2_seq, a.c1_seq)
      |    AND p.event_type = 'purchase'
      |  GROUP BY a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq
      |  HAVING min(p.seq) - a.s_seq < 8)
      |SELECT user_id,
      |  CAST(CASE WHEN c2_seq IS NULL THEN 3 ELSE 4 END AS BIGINT)
      |    AS n_rows,
      |  s_id,
      |  CAST(CASE WHEN c2_seq IS NULL THEN 1 ELSE 2 END AS BIGINT)
      |    AS n_c
      |FROM m
      |ORDER BY user_id, s_id, n_c""".stripMargin

  /** SQL:2016 multi-column `PARTITION BY user_id, event_type`
    * ([[graft.cep.CepMeasures]] `runMultiKey`): matching keys on ONE
    * EXACT composite struct column whose fields expand back in front
    * of the output. Strict `a b` adjacency inside
    * a (user, type) partition means "consecutive clicks in the user's
    * CLICK SUBSEQUENCE" — a different relation than single-key
    * adjacency (other-type events between two clicks don't break the
    * pair here), which is what the oracle's type-filtered lag window
    * states directly.
    */
  val cepSqlMultiKeyStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (a b) " +
        "MEASURES FIRST(a) AS a_id, LAST(b) AS b_id, SUM(b.value) AS b_v " +
        "PARTITION BY user_id, event_type ORDER BY event_id " +
        "TYPE event_type DEFINE a AS click; b AS click",
      eventSchema)

  def cepSqlMultiKey(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlMultiKeyStatement)
      .orderBy("user_id", "a_id")

  val cepSqlMultiKeySql: String =
    """WITH c AS (
      |  SELECT user_id, event_type, event_id,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
      |      AS p_id
      |  FROM events WHERE event_type = 'click')
      |SELECT user_id, event_type, p_id AS a_id, event_id AS b_id,
      |  v AS b_v
      |FROM c WHERE p_id IS NOT NULL
      |ORDER BY user_id, a_id""".stripMargin

  /** EXACT STRING-keyed CEP — the registry face of the exact-key
    * contract (round 16; retires the xxhash64 hashed-key trade-off):
    * the partition key is a derived STRING id `'u' || user_id`, carried
    * through the match operator, the measures join and the output
    * verbatim. The oracle keys on the SAME string expression in DuckDB,
    * so the hash-exact gate proves key identity is exact end to end —
    * no collision budget at any cardinality. The statement routes
    * through the full SQL surface (`CepMeasures.run` → prepare →
    * `matchPatternExec` → attribute-tier measures join on the string
    * key).
    */
  val cepStringKeyStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (a b) " +
        "MEASURES FIRST(a) AS a_id, LAST(b.value) AS b_val " +
        "PARTITION BY ukey ORDER BY event_id TYPE event_type " +
        "DEFINE a AS signup; b AS purchase",
      eventSchema)

  def cepStringKey(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(
      table(spark, dir, "events").withColumn("ukey",
        concat(lit("u"), col("user_id").cast("string"))),
      cepStringKeyStatement)
      .orderBy("ukey", "a_id")

  val cepStringKeySql: String =
    """SELECT 'u' || CAST(user_id AS VARCHAR) AS ukey,
      |  event_id AS a_id, CAST(FLOOR(next_value) AS BIGINT) AS b_val
      |FROM (
      |  SELECT user_id, event_id, event_type,
      |    LEAD(event_type) OVER w AS next_type,
      |    LEAD(value) OVER w AS next_value
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)) t
      |WHERE event_type = 'signup' AND next_type = 'purchase'
      |ORDER BY ukey, a_id""".stripMargin

  /** SQL:2016 row navigation in DEFINE conditions ([[graft.cep.Nav]]):
    * `PREV(value)` is attribute `value` of the previous PHYSICAL row of
    * the user's partition in `event_id` order — not the previous bound
    * event — so with strict juxtaposition `x y` the pattern is exactly
    * "two adjacent rows, both clicks, value strictly rising". The lag
    * column is materialized once per key partition before the NFA (the
    * window's key exchange is the one the NFA needs anyway); at a
    * partition's first row `PREV` is NULL and the guarded atom is
    * not-true, so runs simply cannot start there. `SUM(y.value)`
    * exercises an attribute measure over a navigation query.
    */
  val cepSqlPrevAscendingStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (x y) " +
        "MEASURES FIRST(x) AS x_id, LAST(y) AS y_id, " +
        "SUM(y.value) AS y_value " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE x AS click; y AS click WHERE value > PREV(value)",
      eventSchema)

  def cepSqlPrevAscending(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlPrevAscendingStatement)
      .orderBy("user_id", "x_id", "y_id", "y_value")

  val cepSqlPrevAscendingSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events)
      |SELECT a.user_id, a.event_id AS x_id, b.event_id AS y_id,
      |  b.v AS y_value
      |FROM seqd a JOIN seqd b
      |  ON b.user_id = a.user_id AND b.seq = a.seq + 1
      |WHERE a.event_type = 'click' AND b.event_type = 'click'
      |  AND b.v > a.v
      |ORDER BY 1, 2, 3, 4""".stripMargin

  /** `PREV` + `NEXT` in one atom-guarded condition: local value peaks —
    * clicks strictly above BOTH physical neighbors (of any type). A
    * single-spat navigation pattern: the pre-NFA pushdown falls back to
    * the type-only filter (the nav condition is not column-translatable
    * and, in the navigation path, the filter runs above the lag/lead
    * window — rows it drops still contribute their values to their
    * neighbors' PREV/NEXT). First/last rows of a partition can never
    * match (their guard indicator is 0).
    */
  val cepSqlNavPeaksStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (p) " +
        "MEASURES FIRST(p) AS p_id, FIRST(p.value) AS p_value " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE p AS click WHERE value > PREV(value) and " +
        "value > NEXT(value)",
      eventSchema)

  def cepSqlNavPeaks(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlNavPeaksStatement)
      .orderBy("user_id", "p_id", "p_value")

  val cepSqlNavPeaksSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |nav AS (
      |  SELECT *,
      |    lag(v) OVER (PARTITION BY user_id ORDER BY seq) AS pv,
      |    lead(v) OVER (PARTITION BY user_id ORDER BY seq) AS nv
      |  FROM seqd)
      |SELECT user_id, event_id AS p_id, v AS p_value
      |FROM nav
      |WHERE event_type = 'click'
      |  AND pv IS NOT NULL AND nv IS NOT NULL
      |  AND v > pv AND v > nv
      |ORDER BY 1, 2, 3""".stripMargin

  /** SQL:2016 `SUBSET` union variables: `u = (c, p)` merges the click
    * and purchase bindings in stream order, and every measure tier
    * handles the union — positional COUNT/FIRST/LAST as size-sums and
    * min/max over the concatenated binding arrays (still pure codegen,
    * no join), attribute SUM/MIN/AVG through the one events join with
    * an `IN (members)` name guard. `u` provably binds ≥ 1 event (c has
    * `{1,2}`), so the join stays INNER/broadcast-eligible. The oracle
    * recomputes every union measure from the funnel CTEs' bound
    * positions.
    */
  val cepSqlSubsetFunnelStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> c{1,2} -> p) " +
        "MEASURES COUNT(u) AS n_u, FIRST(u) AS u_first, " +
        "LAST(u) AS u_last, SUM(u.value) AS u_sum, " +
        "MIN(u.value) AS u_min, AVG(u.value) AS u_avg " +
        "SUBSET u = (c, p) " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8",
      eventSchema)

  def cepSqlSubsetFunnel(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlSubsetFunnelStatement)
      .orderBy("user_id", "u_first", "n_u", "u_last", "u_sum", "u_min",
        "u_avg")

  val cepSqlSubsetFunnelSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |c1 AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c1_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |arms AS (
      |  SELECT user_id, s_id, s_seq, c1_seq, NULL AS c2_seq FROM c1
      |  UNION ALL
      |  SELECT c1.user_id, c1.s_id, c1.s_seq, c1.c1_seq, n.seq
      |  FROM c1 JOIN seqd n ON n.user_id = c1.user_id
      |    AND n.seq = c1.c1_seq + 1 AND n.event_type = 'click'),
      |m AS (
      |  SELECT a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq,
      |    min(p.seq) AS p_seq
      |  FROM arms a JOIN seqd p ON p.user_id = a.user_id
      |    AND p.seq > COALESCE(a.c2_seq, a.c1_seq)
      |    AND p.event_type = 'purchase'
      |  GROUP BY a.user_id, a.s_id, a.s_seq, a.c1_seq, a.c2_seq
      |  HAVING min(p.seq) - a.s_seq < 8)
      |SELECT m.user_id,
      |  CAST(CASE WHEN m.c2_seq IS NULL THEN 2 ELSE 3 END AS BIGINT)
      |    AS n_u,
      |  e1.event_id AS u_first,
      |  ep.event_id AS u_last,
      |  e1.v + COALESCE(e2.v, 0) + ep.v AS u_sum,
      |  LEAST(e1.v, COALESCE(e2.v, e1.v), ep.v) AS u_min,
      |  CAST((e1.v + COALESCE(e2.v, 0) + ep.v) //
      |    (CASE WHEN m.c2_seq IS NULL THEN 2 ELSE 3 END) AS BIGINT)
      |    AS u_avg
      |FROM m
      |JOIN seqd e1 ON e1.user_id = m.user_id AND e1.seq = m.c1_seq
      |LEFT JOIN seqd e2 ON e2.user_id = m.user_id AND e2.seq = m.c2_seq
      |JOIN seqd ep ON ep.user_id = m.user_id AND ep.seq = m.p_seq
      |ORDER BY 1, 3, 2, 4, 5, 6, 7""".stripMargin

  /** PATTERN ALTERNATION (SQL:2016 `a | b`, beyond-parity —
    * `Pattern.Alt` / `DstCompiler.compileCombineAltRight`): a signup
    * strictly followed by EITHER a sub-50 purchase or an error. The
    * match binds only the branch it went through — the other branch's
    * column is an empty binding, projected as NULL by `get(col, 0)` —
    * and under NoSkip the match multiset is the union of the two branch
    * rewrites (the union law, differential-pinned in `AltSpec`), which
    * is exactly what the oracle computes: one LEAD pass classified by
    * the next event's type.
    */
  val cepSqlAltOutcomeQuery: CepQuery =
    CepSql.parse(
      "PATTERN (s (p | x)) DEFINE s AS signup; " +
        "p AS purchase WHERE value < 50; x AS error",
      eventSchema)

  def cepSqlAltOutcome(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepSqlAltOutcomeQuery)
      .select(col("user_id"), element_at(col("s"), 1).as("s_id"),
        get(col("p"), lit(0)).as("p_id"),
        get(col("x"), lit(0)).as("x_id"))
      .orderBy("user_id", "s_id")

  val cepSqlAltOutcomeSql: String =
    """SELECT user_id, event_id AS s_id,
      |  CASE WHEN next_type = 'purchase' AND next_val < 50
      |       THEN next_id END AS p_id,
      |  CASE WHEN next_type = 'error' THEN next_id END AS x_id
      |FROM (
      |  SELECT user_id, event_id, event_type,
      |    LEAD(event_type) OVER w AS next_type,
      |    LEAD(event_id) OVER w AS next_id,
      |    LEAD(CAST(FLOOR(value) AS BIGINT)) OVER w AS next_val
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)) t
      |WHERE event_type = 'signup'
      |  AND (next_type = 'error'
      |       OR (next_type = 'purchase' AND next_val < 50))
      |ORDER BY user_id, s_id""".stripMargin

  /** COMPOSITION row: multi-column `PARTITION BY user_id, event_type`
    * × `ALL ROWS PER MATCH SHOW EMPTY MATCHES` × `COUNT(*)` in one
    * statement — the composite-key restore join feeding the seed-union
    * projection. Within each (user, type) partition the nullable
    * `c{0,2}` matcher makes every click of the click-partition a
    * singleton match and EVERY other row an empty-match site, so the
    * output is a total relabeling of the events table with `match_no`
    * = the per-(user, type) sequence number — the closed form the
    * oracle states directly.
    */
  val cepSqlMultiKeyEmptyStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (c{0,2}) MEASURES COUNT(*) AS n_rows " +
        "ALL ROWS PER MATCH SHOW EMPTY MATCHES " +
        "PARTITION BY user_id, event_type ORDER BY event_id " +
        "TYPE event_type DEFINE c AS click " +
        "AFTER MATCH SKIP PAST LAST ROW",
      eventSchema)

  def cepSqlMultiKeyEmpty(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"),
      cepSqlMultiKeyEmptyStatement)
      .orderBy("user_id", "event_id")

  val cepSqlMultiKeyEmptySql: String =
    """SELECT user_id, event_type,
      |  CAST(row_number() OVER (PARTITION BY user_id, event_type
      |    ORDER BY event_id) AS BIGINT) AS match_no,
      |  CASE WHEN event_type = 'click' THEN 'c' END AS classifier,
      |  event_id,
      |  CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
      |    AS BIGINT) AS n_rows
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin

  /** SQL:2016 TARGETED `CLASSIFIER(U)` ([[graft.cep.CepMeasures]]):
    * `CLASSIFIER(u)` over the SUBSET of the two branches names which
    * outcome closed the match (the last row mapped to a member of u);
    * `CLASSIFIER(p)` is that name only when the p-branch bound — NULL
    * on the x-branch, exercising the target-never-binds arm on real
    * data. Same strict signup→(purchase|error) shape as
    * `cep_sql_alt_outcome`, so the oracle is the same single LEAD
    * window with CASE arms producing the names directly.
    */
  val cepSqlClassifierTargetStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s (p | x)) " +
        "MEASURES FIRST(s) AS s_id, CLASSIFIER(u) AS outcome, " +
        "CLASSIFIER(p) AS p_cl " +
        "SUBSET u = (p, x) " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; p AS purchase WHERE value < 50; x AS error",
      eventSchema)

  def cepSqlClassifierTarget(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"),
      cepSqlClassifierTargetStatement)
      .orderBy("user_id", "s_id")

  val cepSqlClassifierTargetSql: String =
    """SELECT user_id, event_id AS s_id,
      |  CASE WHEN next_type = 'purchase' AND next_val < 50
      |       THEN 'p' ELSE 'x' END AS outcome,
      |  CASE WHEN next_type = 'purchase' AND next_val < 50
      |       THEN 'p' END AS p_cl
      |FROM (
      |  SELECT user_id, event_id, event_type,
      |    LEAD(event_type) OVER w AS next_type,
      |    LEAD(event_id) OVER w AS next_id,
      |    LEAD(CAST(FLOOR(value) AS BIGINT)) OVER w AS next_val
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)) t
      |WHERE event_type = 'signup'
      |  AND (next_type = 'error'
      |       OR (next_type = 'purchase' AND next_val < 50))
      |ORDER BY user_id, s_id""".stripMargin

  /** MEASURES over an alternation: `SUBSET u = (p, x)` unions the two
    * branches, so `SUM(u.value)` reads whichever branch bound — the
    * MATCH_RECOGNIZE way to project "the outcome's value" without
    * knowing the branch — and the per-branch COUNTs classify the match.
    * Every alternation name is possibly-empty by construction, so this
    * row exercises measures over empty bindings end-to-end.
    * Self-contained statement (PARTITION BY / ORDER BY / TYPE in-text).
    */
  val cepSqlAltSubsetValueStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s (p | x)) " +
        "MEASURES FIRST(s) AS s_id, SUM(u.value) AS branch_value, " +
        "COUNT(p) AS n_p, COUNT(x) AS n_x " +
        "SUBSET u = (p, x) " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; p AS purchase WHERE value < 50; x AS error",
      eventSchema)

  def cepSqlAltSubsetValue(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"),
      cepSqlAltSubsetValueStatement)
      .orderBy("user_id", "s_id")

  val cepSqlAltSubsetValueSql: String =
    """SELECT user_id, event_id AS s_id, next_val AS branch_value,
      |  CAST(CASE WHEN next_type = 'purchase' THEN 1 ELSE 0 END
      |    AS BIGINT) AS n_p,
      |  CAST(CASE WHEN next_type = 'error' THEN 1 ELSE 0 END
      |    AS BIGINT) AS n_x
      |FROM (
      |  SELECT user_id, event_id, event_type,
      |    LEAD(event_type) OVER w AS next_type,
      |    LEAD(CAST(FLOOR(value) AS BIGINT)) OVER w AS next_val
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)) t
      |WHERE event_type = 'signup'
      |  AND (next_type = 'error'
      |       OR (next_type = 'purchase' AND next_val < 50))
      |ORDER BY user_id, s_id""".stripMargin

  /** SQL:2016 `PERMUTE` ([[graft.cep.Pattern.Permute]] /
    * `DstCompiler.compilePermute`): a signup relaxed-followed by a click
    * and a purchase in EITHER order, adjacent to each other (PERMUTE
    * sequences its units strictly). Exercises the per-branch relaxed
    * wait machinery over permute-expanded branches: after `s`, the
    * `c p` branch waits for the first click (ignoring everything else)
    * and then requires an adjacent purchase; the `p c` branch waits for
    * the first purchase and requires an adjacent click — the NoSkip
    * match set is the union (the expansion law, differential-pinned in
    * `PermuteSpec`). Every name binds in every match, so the MEASURES
    * join stays inner/broadcast-eligible; `CLASSIFIER()` reports which
    * unit ended the match (= which order bound). The oracle replays
    * both branches in closed form from per-user sequence numbers.
    */
  val cepSqlPermuteStatement: CepSql.CepSqlStatement =
    CepSql.parseStatement(
      "PATTERN (s -> PERMUTE(c, p)) " +
        "MEASURES FIRST(s) AS s_id, FIRST(c) AS c_id, FIRST(p) AS p_id, " +
        "CLASSIFIER() AS ended_with " +
        "PARTITION BY user_id ORDER BY event_id TYPE event_type " +
        "DEFINE s AS signup; c AS click; p AS purchase WITHIN 8",
      eventSchema)

  def cepSqlPermute(spark: SparkSession, dir: String): DataFrame =
    CepMeasures.run(table(spark, dir, "events"), cepSqlPermuteStatement)
      .orderBy("user_id", "s_id", "c_id")

  val cepSqlPermuteSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id)
      |      AS seq
      |  FROM events),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |cp AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(c.seq) AS c_seq
      |  FROM sig g JOIN seqd c ON c.user_id = g.user_id
      |    AND c.seq > g.s_seq AND c.event_type = 'click'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |cpm AS (
      |  SELECT b.user_id, b.s_id, cc.event_id AS c_id, pp.event_id AS p_id,
      |    'p' AS ended_with
      |  FROM cp b
      |  JOIN seqd cc ON cc.user_id = b.user_id AND cc.seq = b.c_seq
      |  JOIN seqd pp ON pp.user_id = b.user_id AND pp.seq = b.c_seq + 1
      |    AND pp.event_type = 'purchase'
      |  WHERE b.c_seq + 1 - b.s_seq < 8),
      |pc AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(p.seq) AS p_seq
      |  FROM sig g JOIN seqd p ON p.user_id = g.user_id
      |    AND p.seq > g.s_seq AND p.event_type = 'purchase'
      |  GROUP BY g.user_id, g.s_id, g.s_seq),
      |pcm AS (
      |  SELECT b.user_id, b.s_id, pp.event_id AS p_id, cc.event_id AS c_id,
      |    'c' AS ended_with
      |  FROM pc b
      |  JOIN seqd pp ON pp.user_id = b.user_id AND pp.seq = b.p_seq
      |  JOIN seqd cc ON cc.user_id = b.user_id AND cc.seq = b.p_seq + 1
      |    AND cc.event_type = 'click'
      |  WHERE b.p_seq + 1 - b.s_seq < 8)
      |SELECT user_id, s_id, c_id, p_id, ended_with FROM (
      |  SELECT user_id, s_id, c_id, p_id, ended_with FROM cpm
      |  UNION ALL
      |  SELECT user_id, s_id, c_id, p_id, ended_with FROM pcm)
      |ORDER BY user_id, s_id, c_id""".stripMargin

  /** The shed valve's registry gauge (`SparkCep.shedGauge`): nd-relaxed
    * click pairs under the shed-oldest salvage at cap 1, one row per
    * user with the surviving-match and shed-run counts as DATA. With
    * cap 1 the semantics close over the fixture exactly: after every
    * click only the newest waiting run survives, so the salvage keeps
    * precisely the CONSECUTIVE click pairs — `n_matches = clicks - 1` —
    * and each click beyond a user's first sheds 3 configurations (the
    * post-take, its accepted projection, and the elder waiting fork;
    * the transients count because they occupy the run set until the
    * next event sweeps them) — `shed_runs = 3 * (clicks - 1)`. The
    * oracle certifies both closed forms per user, pinning the shed
    * semantics (deterministic, sub-multiset under NoSkip) in the
    * correctness gate, not just in specs.
    */
  def cepShedGauge(spark: SparkSession, dir: String): DataFrame =
    SparkCep.shedGauge(table(spark, dir, "events"), cepShedGaugeQuery,
      eventSpec, cap = 1)
      .orderBy("user_id")

  val cepShedGaugeQuery: CepQuery =
    CepQuery(Pattern.lpat("a", "click", "True", Contiguity.NdRelaxed,
      2, 2), eventSchema)

  val cepShedGaugeSql: String =
    """SELECT user_id,
      |  GREATEST(n_clicks - 1, 0) AS n_matches,
      |  3 * GREATEST(n_clicks - 1, 0) AS shed_runs,
      |  CAST(1 AS BIGINT) AS cap
      |FROM (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_clicks
      |  FROM events GROUP BY user_id)
      |ORDER BY user_id""".stripMargin

  /** The timeout side output as a registry row (beyond-§2 — FlinkCEP's
    * `TimedOutPartialMatchHandler`): signups whose 6-step window closed
    * WITHOUT a purchase — the funnel-drop-off table. Exact semantics
    * (`SparkCep.timedOutPartials`, spec-pinned in
    * `TimeoutPartialSpec`): the run matches iff the first purchase
    * after the signup arrives fewer than 6 steps later; otherwise it is
    * reported timed out exactly when the stream reaches the window's
    * close step (a signup too close to end-of-input is neither — its
    * window never provably closed). The oracle replays that rule in
    * closed form from per-user sequence numbers.
    */
  def cepTimeoutAbandonedSignups(spark: SparkSession, dir: String)
      : DataFrame =
    SparkCep.timedOutPartials(table(spark, dir, "events"),
      cepTimeoutAbandonedSignupsQuery, eventSpec)
      .select(col("user_id"), element_at(col("s"), 1).as("s_id"))
      .orderBy("user_id", "s_id")

  val cepTimeoutAbandonedSignupsQuery: CepQuery =
    CepQuery(
      Pattern.Combine(Contiguity.Relaxed,
        Pattern.spat("s", "signup", "True"),
        Pattern.spat("p", "purchase", "True")),
      eventSchema, within = Some(6))

  val cepTimeoutAbandonedSignupsSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |mx AS (SELECT user_id, max(seq) AS max_seq FROM seqd GROUP BY user_id),
      |sig AS (
      |  SELECT user_id, event_id AS s_id, seq AS s_seq
      |  FROM seqd WHERE event_type = 'signup'),
      |fp AS (
      |  SELECT g.user_id, g.s_id, g.s_seq, min(p.seq) AS p_seq
      |  FROM sig g LEFT JOIN seqd p ON p.user_id = g.user_id
      |    AND p.seq > g.s_seq AND p.event_type = 'purchase'
      |  GROUP BY g.user_id, g.s_id, g.s_seq)
      |SELECT f.user_id, f.s_id
      |FROM fp f JOIN mx ON mx.user_id = f.user_id
      |WHERE (f.p_seq IS NULL OR f.p_seq - f.s_seq >= 6)
      |  AND f.s_seq + 5 <= mx.max_seq
      |ORDER BY f.user_id, f.s_id""".stripMargin

  /** §2 #9 iterative condition: 2–3 consecutive purchases whose running
    * value-sum stays ≤ 100 (per-take register fold).
    */
  val cepIterBudgetQuery: CepQuery =
    CepQuery(
      Pattern.lpat("a", "purchase", "X + value <= 100", Contiguity.Strict,
        2, 3, Vector(Pattern.varDef("X", 0, "X + value"))),
      eventSchema)

  def cepIterBudget(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepIterBudgetQuery)
      .select(col("user_id"), idsCol("a").as("ids"))
      .orderBy("user_id", "ids")

  val cepIterBudgetSql: String =
    """WITH w AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v0,
      |    LEAD(event_type, 1) OVER w1 AS t1, LEAD(event_id, 1) OVER w1 AS i1,
      |    CAST(FLOOR(LEAD(value, 1) OVER w1) AS BIGINT) AS v1,
      |    LEAD(event_type, 2) OVER w1 AS t2, LEAD(event_id, 2) OVER w1 AS i2,
      |    CAST(FLOOR(LEAD(value, 2) OVER w1) AS BIGINT) AS v2
      |  FROM events WINDOW w1 AS (PARTITION BY user_id ORDER BY event_id))
      |SELECT user_id, CAST(event_id AS VARCHAR) || ',' || CAST(i1 AS VARCHAR) AS ids
      |FROM w WHERE event_type = 'purchase' AND t1 = 'purchase'
      |  AND v0 <= 100 AND v0 + v1 <= 100
      |UNION ALL
      |SELECT user_id,
      |  CAST(event_id AS VARCHAR) || ',' || CAST(i1 AS VARCHAR) || ',' || CAST(i2 AS VARCHAR)
      |FROM w WHERE event_type = 'purchase' AND t1 = 'purchase' AND t2 = 'purchase'
      |  AND v0 <= 100 AND v0 + v1 <= 100 AND v0 + v1 + v2 <= 100
      |ORDER BY user_id, ids""".stripMargin

  /** SQL:2016 aggregates in DEFINE end-to-end: the SAME budget query as
    * `cep_iter_budget`, declared in the standard syntax
    * (`WHERE SUM(a.value) <= 100`) instead of the hand-written LET
    * register. The parse-time desugaring (`CepSql.rewriteAggs`) lowers
    * it to a hidden `__agg0` register with exactly the iter-budget
    * fold — the condition judges each candidate with the current event
    * tentatively included (the standard's DEFINE rule), so the two
    * formulations share one oracle. Solo-vs-manual equality is also
    * differential-pinned in `CepDefineAggSpec`.
    */
  val cepSqlDefineAggQuery: CepQuery = CepSql.parse(
    "PATTERN (a{2,3}) DEFINE a AS purchase WHERE SUM(a.value) <= 100",
    eventSchema)

  def cepSqlDefineAgg(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepSqlDefineAggQuery)
      .select(col("user_id"), idsCol("a").as("ids"))
      .orderBy("user_id", "ids")

  val cepSqlDefineAggSql: String = cepIterBudgetSql

  /** SQL:2016 logical navigation in DEFINE — `FIRST(a.value)`: runs of
    * 2–3 consecutive purchases that never fall below the run's FIRST
    * value. Desugars at parse time to a set-once register pair
    * (`CepSql.rewriteAggs`: value register + seen flag, atomic via the
    * pre-update η); the NoSkip loop emits every 2- and 3-prefix exactly
    * like `cep_iter_budget`, so the oracle is the same LEAD-window
    * pair/triple closed form with the ascending-from-first condition.
    */
  val cepSqlNavFirstQuery: CepQuery = CepSql.parse(
    "PATTERN (a{2,3}) DEFINE a AS purchase WHERE value >= FIRST(a.value)",
    eventSchema)

  def cepSqlNavFirst(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepSqlNavFirstQuery)
      .select(col("user_id"), idsCol("a").as("ids"))
      .orderBy("user_id", "ids")

  val cepSqlNavFirstSql: String =
    """WITH w AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v0,
      |    LEAD(event_type, 1) OVER w1 AS t1, LEAD(event_id, 1) OVER w1 AS i1,
      |    CAST(FLOOR(LEAD(value, 1) OVER w1) AS BIGINT) AS v1,
      |    LEAD(event_type, 2) OVER w1 AS t2, LEAD(event_id, 2) OVER w1 AS i2,
      |    CAST(FLOOR(LEAD(value, 2) OVER w1) AS BIGINT) AS v2
      |  FROM events WINDOW w1 AS (PARTITION BY user_id ORDER BY event_id))
      |SELECT user_id, CAST(event_id AS VARCHAR) || ',' || CAST(i1 AS VARCHAR) AS ids
      |FROM w WHERE event_type = 'purchase' AND t1 = 'purchase'
      |  AND v1 >= v0
      |UNION ALL
      |SELECT user_id,
      |  CAST(event_id AS VARCHAR) || ',' || CAST(i1 AS VARCHAR) || ',' || CAST(i2 AS VARCHAR)
      |FROM w WHERE event_type = 'purchase' AND t1 = 'purchase' AND t2 = 'purchase'
      |  AND v1 >= v0 AND v2 >= v0
      |ORDER BY user_id, ids""".stripMargin

  /** SQL:2016 logical navigation in DEFINE — cross-target
    * `LAST(c.value)`: consecutive click pairs followed by the first
    * purchase that beats the SECOND click's value (`value >
    * LAST(c.value)` — the register re-set on each take of `c`, so the
    * purchase is judged against the pair's latest click, not its
    * first). Relaxed contiguity skips purchases failing the condition,
    * so the bound `p` is the min-seq satisfying purchase — exactly the
    * oracle's GROUP BY/min closed form.
    */
  val cepSqlNavLastQuery: CepQuery = CepSql.parse(
    "PATTERN (c{2,2}~ -> p) DEFINE c AS click; " +
      "p AS purchase WHERE value > LAST(c.value)",
    eventSchema)

  def cepSqlNavLast(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepSqlNavLastQuery)
      .select(col("user_id"), idsCol("c").as("c_ids"),
        idsCol("p").as("p_ids"))
      .orderBy("user_id", "c_ids", "p_ids")

  val cepSqlNavLastSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(value) AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |clk AS (
      |  SELECT user_id, event_id, seq, v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY seq) AS cn
      |  FROM seqd WHERE event_type = 'click'),
      |pairs AS (
      |  SELECT a.user_id, a.event_id AS c1_id, b.event_id AS c2_id,
      |    b.seq AS c2_seq, b.v AS c2_v
      |  FROM clk a JOIN clk b ON b.user_id = a.user_id AND b.cn = a.cn + 1),
      |m AS (
      |  SELECT pr.user_id, pr.c1_id, pr.c2_id, min(p.seq) AS p_seq
      |  FROM pairs pr JOIN seqd p ON p.user_id = pr.user_id
      |    AND p.seq > pr.c2_seq AND p.event_type = 'purchase'
      |    AND p.v > pr.c2_v
      |  GROUP BY pr.user_id, pr.c1_id, pr.c2_id)
      |SELECT m.user_id,
      |  CAST(m.c1_id AS VARCHAR) || ',' || CAST(m.c2_id AS VARCHAR)
      |    AS c_ids,
      |  CAST(ep.event_id AS VARCHAR) AS p_ids
      |FROM m JOIN seqd ep ON ep.user_id = m.user_id AND ep.seq = m.p_seq
      |ORDER BY 1, 2, 3""".stripMargin

  /** §2 #7 gpat-inf {1,∞} of (signup · purchase): maximal-and-partial
    * alternating chains — every (start, repetition-count) combination, as
    * NoSkip group loops emit. Oracle: gaps-and-islands, NOT a recursive
    * CTE — consecutive signup→purchase pairs chain when their starts are
    * 2 apart (`s0 - 2·row_number()` constant within a chain; gaps are
    * ≥ 2 by construction since a pair's purchase position cannot start
    * another pair), each maximal chain carries its id LISTS, and every
    * contiguous (i ≤ j) slice is enumerated with `generate_series` +
    * list slicing. Output-linear — the equivalent recursive CTE
    * re-joined per extension and blew past the sf0.1 replay budget
    * (round-9 exclusion); this one replays in under a second there.
    */
  val cepGpatInfSpQuery: CepQuery =
    CepQuery(
      Pattern.GpatInf(
        Pattern.Combine(Contiguity.Strict,
          Pattern.spat("a", "signup", "True"),
          Pattern.spat("b", "purchase", "True")),
        1),
      eventSchema)

  def cepGpatInfSp(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepGpatInfSpQuery)
      .select(col("user_id"), idsCol("a").as("a_ids"),
        idsCol("b").as("b_ids"))
      .orderBy("user_id", "a_ids", "b_ids")

  val cepGpatInfSpSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |  FROM events),
      |pairs AS (
      |  SELECT s.user_id, s.seq AS s0,
      |    s.event_id AS a_id, p.event_id AS b_id
      |  FROM seqd s JOIN seqd p
      |    ON p.user_id = s.user_id AND p.seq = s.seq + 1
      |  WHERE s.event_type = 'signup' AND p.event_type = 'purchase'),
      |keyed AS (
      |  SELECT user_id, s0, a_id, b_id,
      |    s0 - 2 * row_number() OVER (PARTITION BY user_id ORDER BY s0) AS ck
      |  FROM pairs),
      |chains AS (
      |  SELECT user_id, ck,
      |    list(a_id ORDER BY s0) AS al, list(b_id ORDER BY s0) AS bl
      |  FROM keyed GROUP BY user_id, ck),
      |li AS (
      |  SELECT user_id, al, bl,
      |    unnest(generate_series(1, len(al))) AS i
      |  FROM chains),
      |sp AS (
      |  SELECT user_id, al, bl, i,
      |    unnest(generate_series(i, len(al))) AS j
      |  FROM li)
      |SELECT user_id,
      |  array_to_string(list_transform(al[i:j], x -> CAST(x AS VARCHAR)), ',') AS a_ids,
      |  array_to_string(list_transform(bl[i:j], x -> CAST(x AS VARCHAR)), ',') AS b_ids
      |FROM sp ORDER BY user_id, a_ids, b_ids""".stripMargin

  /** §2 #3+#10+#15 lpat-inf{2,∞} + until + SkipToNext: per signup, the
    * first two cheap purchases after it — unless a value≥400 event lands
    * between them (the until stop-condition kills the run). SkipToNext
    * emits only the first accept per start, so each signup yields at most
    * one row.
    */
  val cepUntilErrorRunsQuery: CepQuery =
    CepQuery(
      Pattern.Combine(Contiguity.Relaxed,
        Pattern.spat("s", "signup", "True"),
        Pattern.lpatInf("p", "purchase", "value < 40", Contiguity.Relaxed,
          2, Some("value >= 400"))),
      eventSchema, AfterMatchStrategy.SkipToNext)

  def cepUntilErrorRuns(spark: SparkSession, dir: String): DataFrame =
    cep(spark, dir, cepUntilErrorRunsQuery)
      .select(col("user_id"), element_at(col("s"), 1).as("s_id"),
        idsCol("p").as("p_ids"))
      .orderBy("user_id", "s_id", "p_ids")

  val cepUntilErrorRunsSql: String =
    """WITH cheap AS (
      |  SELECT user_id, event_id FROM events
      |  WHERE event_type = 'purchase' AND CAST(FLOOR(value) AS BIGINT) < 40),
      |firsts AS (
      |  SELECT s.user_id, s.event_id AS s_id, MIN(p.event_id) AS p1
      |  FROM (SELECT user_id, event_id FROM events
      |        WHERE event_type = 'signup') s
      |  JOIN cheap p ON p.user_id = s.user_id AND p.event_id > s.event_id
      |  GROUP BY s.user_id, s.event_id),
      |seconds AS (
      |  SELECT f.user_id, f.s_id, f.p1, MIN(p.event_id) AS p2
      |  FROM firsts f
      |  JOIN cheap p ON p.user_id = f.user_id AND p.event_id > f.p1
      |  GROUP BY f.user_id, f.s_id, f.p1)
      |SELECT user_id, s_id,
      |  CAST(p1 AS VARCHAR) || ',' || CAST(p2 AS VARCHAR) AS p_ids
      |FROM seconds sec
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM events b
      |  WHERE b.user_id = sec.user_id
      |    AND b.event_id > sec.p1 AND b.event_id < sec.p2
      |    AND CAST(FLOOR(b.value) AS BIGINT) >= 400)
      |ORDER BY user_id, s_id, p_ids""".stripMargin

  // =======================================================================
  // Relational queries (Spark built-ins; exact-integer outputs for hashing)
  // =======================================================================

  /** Exact cents: double → decimal(18,2) → ×100 → bigint (both engines). */
  private def cents(c: String) =
    (col(c).cast(DecimalType(18, 2)) * 100).cast(LongType)

  /** TPC-H Q1-style pricing summary (scan → partial agg → final agg). */
  def relQ1Pricing(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(cents("l_quantity")).as("sum_qty_c"),
        sum(cents("l_extendedprice")).as("sum_price_c"),
        sum(cents("l_discount")).as("sum_disc_c"))
      .orderBy("l_returnflag", "l_linestatus")

  val relQ1PricingSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
      |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty_c,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_price_c,
      |  CAST(sum(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_disc_c
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Exact per-group order statistics: discrete percentiles of the line
    * price in integer cents. `percentile_disc` is Spark's exact sort-based
    * aggregate (NOT `approx_percentile`) and picks the smallest value with
    * cume_dist ≥ p — the value at 1-based index ⌈p·n⌉, which is precisely
    * DuckDB's `quantile_disc`, so integer outputs hash identically. One
    * shuffle on the group key; partial aggregation ships per-group value
    * buffers.
    */
  def relPercentiles(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .select(col("l_returnflag"), cents("l_extendedprice").as("price_c"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("cnt"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY price_c)")
          .cast(LongType).as("p50_c"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY price_c)")
          .cast(LongType).as("p90_c"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY price_c)")
          .cast(LongType).as("p99_c"))
      .orderBy("l_returnflag")

  val relPercentilesSql: String =
    """SELECT l_returnflag, count(*) AS cnt,
      |  CAST(quantile_disc(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT), 0.5) AS BIGINT) AS p50_c,
      |  CAST(quantile_disc(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT), 0.9) AS BIGINT) AS p90_c,
      |  CAST(quantile_disc(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT), 0.99) AS BIGINT) AS p99_c
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** PIVOT: quantity cents cross-tabbed returnflag × linestatus —
    * Spark's `pivot` with EXPLICIT values (never the value-discovery
    * scan) lowers to one conditional aggregate, partial map-side; the
    * oracle is the equivalent SUM(CASE) spelling.
    */
  def relPivotReturns(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(cents("l_quantity")))
      .select(col("l_linestatus"),
        coalesce(col("A"), lit(0L)).as("qty_a_c"),
        coalesce(col("N"), lit(0L)).as("qty_n_c"),
        coalesce(col("R"), lit(0L)).as("qty_r_c"))
      .orderBy("l_linestatus")

  val relPivotReturnsSql: String = {
    val q = (f: String) =>
      s"coalesce(CAST(sum(CASE WHEN l_returnflag = '$f' THEN " +
        s"CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) END) " +
        s"AS BIGINT), 0)"
    s"""SELECT l_linestatus,
       |  ${q("A")} AS qty_a_c,
       |  ${q("N")} AS qty_n_c,
       |  ${q("R")} AS qty_r_c
       |FROM lineitem GROUP BY l_linestatus
       |ORDER BY l_linestatus""".stripMargin
  }

  /** Mergeable log-bucket quantile sketch vs the exact order statistic —
    * the scale path for `rel_percentiles`: the sketch shuffles ≤ ~2k
    * cells per group (map-side combined) where `percentile_disc` ships
    * the whole per-group value buffer. `est ≤ exact < est·33/32 + 1` is
    * the one-sided bucket guarantee, audited row by row.
    */
  def sketchQuantiles(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.quantileReport(
      table(spark, dir, "lineitem")
        .select(col("l_returnflag"), cents("l_extendedprice").as("price_c")),
      "price_c", Seq("l_returnflag"), Seq(500, 900, 990))
      .orderBy("l_returnflag", "q_permille")

  /** Shared DuckDB mirror of `Quantiles.quantileReport`: `posCte` must
    * yield (g, v) with the null/negative filter already applied.
    */
  private def quantileReportOracle(posCte: String, outCol: String,
      qs: Seq[Int]): String = {
    val qb = graft.ops.Quantiles.bucketSql("v", graft.ops.Quantiles.duckDiv)
    val rep = graft.ops.Quantiles.repSql("pb")
    s"""WITH pos AS ($posCte),
       |qs AS (SELECT unnest([${qs.mkString(", ")}]) AS q),
       |sk AS (SELECT g, $qb AS qb, count(*) AS cnt FROM pos GROUP BY g, 2),
       |skc AS (
       |  SELECT g, qb, cnt,
       |    sum(cnt) OVER (PARTITION BY g ORDER BY qb) AS cum,
       |    sum(cnt) OVER (PARTITION BY g) AS n
       |  FROM sk),
       |est AS (
       |  SELECT g, q, max(n) AS n,
       |    min(CASE WHEN cum >= (n * q + 999) // 1000 THEN qb END) AS pb
       |  FROM skc CROSS JOIN qs GROUP BY g, q),
       |vh AS (SELECT g, v, count(*) AS cnt FROM pos GROUP BY g, v),
       |vhc AS (
       |  SELECT g, v, cnt,
       |    sum(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
       |    sum(cnt) OVER (PARTITION BY g) AS n
       |  FROM vh),
       |ex AS (
       |  SELECT g, q,
       |    min(CASE WHEN cum >= (n * q + 999) // 1000 THEN v END) AS exact_v
       |  FROM vhc CROSS JOIN qs GROUP BY g, q)
       |SELECT est.g AS $outCol, CAST(est.q AS BIGINT) AS q_permille,
       |  CAST(est.n AS BIGINT) AS n, CAST($rep AS BIGINT) AS est_v,
       |  CAST(ex.exact_v AS BIGINT) AS exact_v
       |FROM est JOIN ex ON est.g = ex.g AND est.q = ex.q
       |ORDER BY $outCol, q_permille""".stripMargin
  }

  val sketchQuantilesSql: String = quantileReportOracle(
    """
      |  SELECT l_returnflag AS g,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL
      |    AND CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) >= 0""".stripMargin,
    "l_returnflag", Seq(500, 900, 990))

  /** Per-DAY event-value percentiles via the same sketch — the batch
    * form of `StreamingSessions.windowedQuantileSketch`'s per-window
    * profile, oracle-gated. The day bucket is pure integer micros
    * division (`epoch_us` in the oracle — exact int64, where `epoch`'s
    * double seconds loses sub-second precision past 2^53).
    */
  def sketchQuantilesDaily(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.quantileReport(
      table(spark, dir, "events").select(
        // FLOORED day division via pmod: Spark DIV truncates toward
        // zero while DuckDB // floors, so a pre-1970 timestamp would
        // split the mirrors under plain DIV (fixture data is
        // post-epoch, but the mirror should be exact by construction)
        expr("(ts - ((ts % 86400000000) + 86400000000) % " +
          "86400000000) DIV 86400000000").as("day"),
        expr("CAST(FLOOR(value) AS BIGINT)").as("v")),
      "v", Seq("day"), Seq(500, 990))
      .orderBy("day", "q_permille")

  val sketchQuantilesDailySql: String = quantileReportOracle(
    """
      |  SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS g,
      |    CAST(FLOOR(value) AS BIGINT) AS v
      |  FROM events
      |  WHERE value IS NOT NULL AND CAST(FLOOR(value) AS BIGINT) >= 0""".stripMargin,
    "day", Seq(500, 990))

  /** TPC-H Q3-style: 3-way join, revenue top-10. The customer filter is a
    * broadcast-able dimension side.
    */
  def relQ3TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val orders = table(spark, dir, "orders")
      .select("o_orderkey", "o_custkey")
    val li = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), cents("l_extendedprice").as("price_c"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"))
      .agg(sum(col("price_c")).as("revenue_c"))
      .orderBy(col("revenue_c").desc, col("o_orderkey"))
      .limit(10)
  }

  val relQ3TopOrdersSql: String =
    """SELECT o_orderkey,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_c
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey
      |ORDER BY revenue_c DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** Broadcast dimension join: per-nation customer stats. */
  def relNationStats(spark: SparkSession, dir: String): DataFrame = {
    val nation = table(spark, dir, "nation").select(
      col("n_nationkey"), col("n_name"))
    table(spark, dir, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("cnt"), sum(cents("c_acctbal")).as("bal_c"))
      .orderBy("n_name")
  }

  val relNationStatsSql: String =
    """SELECT n_name, count(*) AS cnt,
      |  CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS bal_c
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Window ranking: top-3 orders per customer by price (deterministic
    * tie-break on orderkey).
    */
  def relWindowTop3(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(cents("o_totalprice").desc, col("o_orderkey"))
    table(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        cents("o_totalprice").as("price_c"),
        row_number().over(w).cast(LongType).as("rnk"))
      .filter(col("rnk") <= 3)
      .orderBy("o_custkey", "rnk")
  }

  val relWindowTop3Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
      |  rnk
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DESC,
      |               o_orderkey) AS rnk
      |  FROM orders) t
      |WHERE rnk <= 3
      |ORDER BY o_custkey, rnk""".stripMargin

  /** JSON scalar functions: extract `props.k` and aggregate per type. */
  def relJsonProps(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(get_json_object(col("props"), "$.k").cast(LongType)).as("sum_k"))
      .orderBy("event_type")

  val relJsonPropsSql: String =
    """SELECT event_type, count(*) AS cnt,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Gap-based sessionization (4h inactivity splits a session) — the
    * batch formulation of a streaming session window: lag + cumulative
    * split-count per user, then per-session aggregates. The event
    * timestamp is canonical long micros (`normalizeTs`), used directly.
    */
  def relSessionStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val gapUs = 14400000000L // 4 hours
    table(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts").as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(wOrd))
      .withColumn("session_id",
        sum(when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs,
          1L).otherwise(0L)).over(wOrd).cast(LongType))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("start_id"), max(col("event_id")).as("end_id"))
      .orderBy("user_id", "session_id")
  }

  val relSessionStatsSql: String =
    """WITH t AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_us
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id,
      |    CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 14400000000
      |      THEN 1 ELSE 0 END) OVER (
      |        PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS session_id
      |  FROM t)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(event_id) AS start_id, max(event_id) AS end_id
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** As-of join shape: for every purchase, the user's most recent earlier
    * signup (windowed last-before, the standard point-in-time lookup).
    */
  def relAsofSignup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    table(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        max(when(col("event_type") === "signup", col("event_id")))
          .over(w).as("last_signup"))
      .filter(col("event_type") === "purchase" && col("last_signup").isNotNull)
      .select(col("user_id"), col("event_id"), col("last_signup"))
      .orderBy("user_id", "event_id")
  }

  val relAsofSignupSql: String =
    """SELECT user_id, event_id, last_signup FROM (
      |  SELECT user_id, event_id, event_type,
      |    MAX(CASE WHEN event_type = 'signup' THEN event_id END) OVER (
      |      PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_signup
      |  FROM events) t
      |WHERE event_type = 'purchase' AND last_signup IS NOT NULL
      |ORDER BY user_id, event_id""".stripMargin

  /** Hierarchical aggregation: ROLLUP over (returnflag, linestatus) with
    * grouping id; group nulls coalesced to 'ALL' for engine-stable hashing.
    */
  def relRollupPricing(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast(LongType).as("gid"),
        count(lit(1)).as("cnt"), sum(cents("l_quantity")).as("sum_qty_c"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("gid"), col("cnt"), col("sum_qty_c"))
      .orderBy("gid", "l_returnflag", "l_linestatus")

  val relRollupPricingSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
      |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS cnt,
      |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty_c
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  /** CUBE over (returnflag, linestatus): all four grouping-set levels
    * with the grouping id disambiguating the coalesced ALLs — rollup's
    * full-lattice sibling.
    */
  def relCubePricing(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast(LongType).as("gid"),
        count(lit(1)).as("cnt"), sum(cents("l_quantity")).as("sum_qty_c"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("gid"), col("cnt"), col("sum_qty_c"))
      .orderBy("gid", "l_returnflag", "l_linestatus")

  val relCubePricingSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
      |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS cnt,
      |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty_c
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  /** 7-day moving revenue via a RANGE window frame (value-based, the
    * frame kind `rowsBetween` windows don't cover): daily totals first,
    * then `RANGE BETWEEN 6 PRECEDING` over the integer epoch-day — a
    * gap-aware trailing week (missing days shrink the frame, which a
    * ROWS frame would silently misread). The window runs over the
    * POST-AGGREGATE daily frame — rows are calendar days, structurally
    * bounded, so the unpartitioned ordering is not a data-sized
    * single-task sort. The day bucket is calendar date arithmetic
    * (`datediff` from the epoch date) — the timestamp is NTZ, and an
    * epoch-millis conversion would interpret it in the session
    * timezone; date subtraction is tz-free in both engines.
    */
  def relMovingRevenue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = table(spark, dir, "orders")
      .select(expr(
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') " +
          "AS BIGINT)").as("day"),
        cents("o_totalprice").as("p"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_orders"), sum(col("p")).as("rev_c"))
    val w = Window.orderBy(col("day")).rangeBetween(-6, 0)
    daily.withColumn("rev_7d_c", sum(col("rev_c")).over(w))
      .orderBy("day")
  }

  val relMovingRevenueSql: String =
    """WITH daily AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
      |    AS BIGINT) AS day,
      |    count(*) AS n_orders,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS rev_c
      |  FROM orders GROUP BY 1)
      |SELECT day, n_orders, rev_c,
      |  CAST(sum(rev_c) OVER (ORDER BY day
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rev_7d_c
      |FROM daily
      |ORDER BY day""".stripMargin

  /** Set operations: nations with customers, intersected with / minus
    * nations with suppliers (INTERSECT and EXCEPT legs, tagged).
    */
  def relNationsSet(spark: SparkSession, dir: String): DataFrame = {
    val nation = table(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val custN = table(spark, dir, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select("n_name").distinct()
    val suppN = table(spark, dir, "supplier")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select("n_name").distinct()
    custN.intersect(suppN).withColumn("tag", lit("both"))
      .unionAll(custN.except(suppN).withColumn("tag", lit("cust_only")))
      .orderBy("tag", "n_name")
  }

  val relNationsSetSql: String =
    """WITH custN AS (
      |  SELECT DISTINCT n_name FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey),
      |suppN AS (
      |  SELECT DISTINCT n_name FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey)
      |SELECT n_name, 'both' AS tag FROM (
      |  SELECT n_name FROM custN INTERSECT SELECT n_name FROM suppN) a
      |UNION ALL
      |SELECT n_name, 'cust_only' AS tag FROM (
      |  SELECT n_name FROM custN EXCEPT SELECT n_name FROM suppN) b
      |ORDER BY tag, n_name""".stripMargin

  /** Anti join: customers with no order before the cutoff date. The date
    * predicate keeps the result non-empty at every fixture scale factor
    * (every customer has *some* order, but not all have early orders), so a
    * broken anti-join that returns empty for the wrong reason cannot pass
    * vacuously. Session timezone is pinned UTC (Verify/Bench), so the
    * timestamp literal mirrors DuckDB's naive-midnight comparison exactly.
    */
  def relCustNoOrders(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer").select(col("c_custkey"))
      .join(
        table(spark, dir, "orders")
          .filter(col("o_orderdate") < to_timestamp(lit("1996-06-01")))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .orderBy("c_custkey")

  val relCustNoOrdersSql: String =
    """SELECT c_custkey FROM customer
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderdate < TIMESTAMP '1996-06-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  // =======================================================================
  // Training-data pipeline operators (graft.ops) over documents/embeddings
  // =======================================================================

  import graft.ops.{Codebooks, DedupOps, IncrementalDedup, MultiModal, Sampling, Similarity, TextOps}

  /** Token/char/punct counting + lexical-diversity quality score. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    TextOps.textStats(table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val textStatsSql: String =
    """SELECT doc_id,
      |  len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
      |  len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS n_distinct,
      |  length(text) AS n_chars_obs,
      |  length(text) - length(translate(text, '.,!?;:', '')) AS n_punct,
      |  CASE WHEN len(list_filter(string_split(text, ' '), t -> t <> '')) > 0
      |    THEN (len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) * 1000)
      |         // len(list_filter(string_split(text, ' '), t -> t <> ''))
      |    ELSE 0 END AS qscore_milli
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Intra-document n-gram repetition (Gopher/RefinedWeb-style quality
    * signal): fraction of bigram occurrences repeating an earlier bigram.
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    TextOps.repetitionScore(table(spark, dir, "documents"), "doc_id",
      "text", n = 2)
      .orderBy("doc_id")

  val textRepetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) >= 2 THEN
      |      list_transform(generate_series(1, len(t) - 1),
      |        i -> t[i] || ' ' || t[i+1])
      |    ELSE CAST([] AS VARCHAR[]) END AS grams
      |  FROM toks)
      |SELECT doc_id,
      |  CAST(len(grams) AS BIGINT) AS n_grams,
      |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams,
      |  CASE WHEN len(grams) > 0 THEN
      |    CAST(floor((len(grams) - len(list_distinct(grams))) * 1000.0
      |      / len(grams)) AS BIGINT)
      |  ELSE 0 END AS rep_milli
      |FROM g ORDER BY doc_id""".stripMargin

  /** Marker-token language-ID heuristic (scores + arg-max prediction). */
  def langIdQuery(spark: SparkSession, dir: String): DataFrame =
    TextOps.langId(table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val langIdSql: String = {
    val score = TextOps.langMarkers.map { case (lang, ms) =>
      val set = ms.map(m => s"'$m'").mkString("[", ", ", "]")
      s"len(list_filter(list_filter(string_split(text, ' '), t -> t <> ''), t -> list_contains($set, t))) AS score_$lang"
    }.mkString(",\n      ")
    val mx = TextOps.langMarkers.map(m => s"score_${m._1}").mkString("greatest(", ", ", ")")
    val cases = TextOps.langMarkers.map { case (lang, _) =>
      s"WHEN score_$lang = mx AND mx > 0 THEN '$lang'"
    }.mkString(" ")
    s"""SELECT doc_id, ${TextOps.langMarkers.map(m => s"score_${m._1}").mkString(", ")},
       |  CASE $cases ELSE 'und' END AS lang_pred
       |FROM (SELECT doc_id, $score, $mx AS mx FROM (SELECT doc_id,
       |  $score, text FROM documents) s0) s1
       |ORDER BY doc_id""".stripMargin
  }

  /** Pre-training-filter quality heuristics: stopword / word-length /
    * punctuation ratios plus the composite gate.
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    TextOps.qualityScore(table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val textQualitySql: String = {
    val stops = TextOps.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, text, len(toks) AS n_tokens,
       |    len(list_filter(toks, x -> list_contains($stops, lower(x)))) AS n_stop,
       |    list_sum(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(toks, x -> CAST(length(x) AS BIGINT)))) AS char_sum,
       |    length(text) - length(translate(text, '.,!?;:', '')) AS n_punct
       |  FROM t)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(CASE WHEN n_tokens > 0 THEN n_stop * 1000 // n_tokens ELSE 0 END AS BIGINT)
       |    AS stop_ratio_milli,
       |  CAST(CASE WHEN n_tokens > 0 THEN char_sum * 1000 // n_tokens ELSE 0 END AS BIGINT)
       |    AS mean_word_len_milli,
       |  CAST(CASE WHEN length(text) > 0 THEN n_punct * 1000 // length(text) ELSE 0 END AS BIGINT)
       |    AS punct_ratio_milli,
       |  (n_tokens > 0
       |    AND (CASE WHEN n_tokens > 0 THEN n_stop * 1000 // n_tokens ELSE 0 END) > 0
       |    AND (CASE WHEN n_tokens > 0 THEN char_sum * 1000 // n_tokens ELSE 0 END) BETWEEN 2000 AND 12000
       |    AND (CASE WHEN length(text) > 0 THEN n_punct * 1000 // length(text) ELSE 0 END) < 200)
       |    AS quality_ok
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** TRAINED quality classifier (fastText-style hashed-token linear
    * model, committed integer weights `data/codebooks/quality_lr.parquet`
    * trained by `graft.tools.TrainQualityModel` on the heuristic gate's
    * labels): score = bias + Σ_token w[poly131(token) % 4096], label =
    * score > 0. Inference is one narrow broadcast pass; the oracle
    * buckets tokens with the same hash, joins the committed weights, and
    * replays the integer dot product.
    */
  def textQualityModel(spark: SparkSession, dir: String): DataFrame = {
    val model = graft.ops.QualityModel.loadWeights(spark,
      graft.ops.QualityModel.weightsPath)
    graft.ops.QualityModel.scoreDocs(table(spark, dir, "documents"),
      "doc_id", "text", model)
      .orderBy("doc_id")
  }

  val textQualityModelSql: String = {
    val polyTok =
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(generate_series(1, length(tok)), " +
        "i -> CAST(ascii(tok[i]) AS BIGINT))), " +
        "(acc, c) -> (acc * 131 + c) % 1000000007)"
    s"""WITH w AS (
       |  SELECT bucket, weight
       |  FROM read_parquet('${graft.ops.QualityModel.weightsPath}/*.parquet')),
       |bias AS (SELECT weight AS b FROM w WHERE bucket = -1),
       |toks AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
       |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |bk AS (SELECT doc_id, ($polyTok) % 4096 AS bucket FROM toks),
       |s AS (
       |  SELECT bk.doc_id, sum(coalesce(w.weight, 0)) AS sw
       |  FROM bk LEFT JOIN w ON w.bucket = bk.bucket
       |  GROUP BY bk.doc_id),
       |d AS (SELECT doc_id FROM documents
       |      WHERE doc_id IS NOT NULL AND text IS NOT NULL)
       |SELECT d.doc_id,
       |  CAST((SELECT b FROM bias) + coalesce(s.sw, 0) AS BIGINT)
       |    AS model_score,
       |  ((SELECT b FROM bias) + coalesce(s.sw, 0)) > 0 AS model_ok
       |FROM d LEFT JOIN s ON s.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** DSIR importance scores: per-doc hashed-bigram log-likelihood ratio
    * vs the committed λ artifact (Xie et al. 2023) — exact integer-micro
    * sums, λ broadcast, zero shuffles.
    */
  def textDsirScore(spark: SparkSession, dir: String): DataFrame = {
    val w = graft.ops.Dsir.loadWeights(spark, graft.ops.Dsir.weightsPath)
    graft.ops.Dsir.scoreDocs(table(spark, dir, "documents"),
      "doc_id", "text", w)
      .orderBy("doc_id")
  }

  /** Shared oracle core: per-doc (n_grams, dsir_micro) from the committed
    * λ parquet — the bigram CTEs are the `text_lm_fluency` mirror, the
    * bucket is `shingleHash60 % 4096`.
    */
  private lazy val dsirScoredSql: String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |spans AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(t) >= 2 THEN
       |      list_transform(generate_series(1, len(t) - 1),
       |        i -> array_to_string(t[i:i+1], ' '))
       |    ELSE [array_to_string(t, ' ')] END) AS shingle
       |  FROM toks),
       |lam AS (SELECT bucket, lambda_micro
       |        FROM read_parquet('${graft.ops.Dsir.weightsPath}/*.parquet')),
       |bk AS (SELECT doc_id, ($shingleHash60Sql) % 4096 AS bucket FROM spans),
       |sums AS (
       |  SELECT bk.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(sum(lam.lambda_micro) AS BIGINT) AS dsir_micro
       |  FROM bk JOIN lam USING (bucket)
       |  GROUP BY bk.doc_id),
       |scored AS (
       |  SELECT doc_id, n_grams, dsir_micro,
       |    -- FLOORED per-gram mean via pmod (dialect-proof on negatives)
       |    CAST((dsir_micro - ((dsir_micro % n_grams) + n_grams) % n_grams)
       |      // n_grams AS BIGINT) AS dsir_pg_micro
       |  FROM sums)""".stripMargin

  lazy val textDsirScoreSql: String =
    s"""WITH $dsirScoredSql
       |SELECT doc_id, n_grams, dsir_micro, dsir_pg_micro FROM scored
       |ORDER BY doc_id""".stripMargin

  /** DSIR selection: deterministic top-200 manifest by (per-gram score
    * DESC, id) — the argmax variant of the paper's importance
    * resampling, on the length-normalized signal.
    */
  def sampleDsirTopk(spark: SparkSession, dir: String): DataFrame = {
    val w = graft.ops.Dsir.loadWeights(spark, graft.ops.Dsir.weightsPath)
    val scored = graft.ops.Dsir.scoreDocs(table(spark, dir, "documents"),
      "doc_id", "text", w)
    graft.ops.Dsir.selectTopK(scored, 200)
      .select(col("rnk"), col("doc_id"), col("n_grams"),
        col("dsir_pg_micro"))
      .orderBy("rnk")
  }

  lazy val sampleDsirTopkSql: String =
    s"""WITH $dsirScoredSql
       |SELECT CAST(row_number() OVER (ORDER BY dsir_pg_micro DESC, doc_id)
       |         AS INTEGER) AS rnk,
       |       doc_id, n_grams, dsir_pg_micro
       |FROM scored
       |ORDER BY dsir_pg_micro DESC, doc_id
       |LIMIT 200""".stripMargin

  /** Trained-LM perplexity scoring (CCNet-style): per-doc token count,
    * OOV count, total and per-token NLL in micros against the committed
    * stupid-backoff bigram LM. One broadcast narrow pass, no shuffle.
    */
  def textLmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val m = graft.ops.NgramLm.loadModel(spark, graft.ops.NgramLm.modelPath)
    graft.ops.NgramLm.scoreDocs(table(spark, dir, "documents"),
      "doc_id", "text", m)
      .orderBy("doc_id")
  }

  /** Shared oracle core for the LM queries: per-position stupid-backoff
    * costs from the committed artifact — first token scores on the
    * unigram (OOV floor when absent), later tokens on the bigram when
    * the capped table has it, else α + unigram. All integers; the
    * scalar meta lookups are the committed α/OOV constants.
    */
  private lazy val lmScoredSql: String =
    s"""lm AS (SELECT kind, h, cost_micro
       |       FROM read_parquet('${graft.ops.NgramLm.modelPath}/*.parquet')),
       |lmtoks AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS t
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |lmpos AS (
       |  SELECT doc_id, lang, t,
       |    unnest(generate_series(1, len(t))) AS i
       |  FROM lmtoks),
       |lmstr AS (
       |  SELECT doc_id, lang, i, t[i] AS tok,
       |    CASE WHEN i > 1 THEN t[i-1] || ' ' || t[i] END AS big
       |  FROM lmpos),
       |lmuh AS (SELECT doc_id, i, ($shingleHash60Sql) AS h
       |         FROM (SELECT doc_id, i, tok AS shingle FROM lmstr)),
       |lmbh AS (SELECT doc_id, i, ($shingleHash60Sql) AS h
       |         FROM (SELECT doc_id, i, big AS shingle FROM lmstr
       |               WHERE big IS NOT NULL)),
       |lmcosts AS (
       |  SELECT s.doc_id, s.lang,
       |    CASE WHEN u.cost_micro IS NULL THEN 1 ELSE 0 END AS oov,
       |    CASE
       |      WHEN s.i = 1 THEN coalesce(u.cost_micro,
       |        (SELECT cost_micro FROM lm WHERE kind = 'meta' AND h = 1))
       |      WHEN b.cost_micro IS NOT NULL THEN b.cost_micro
       |      ELSE (SELECT cost_micro FROM lm WHERE kind = 'meta' AND h = 0)
       |        + coalesce(u.cost_micro,
       |            (SELECT cost_micro FROM lm WHERE kind = 'meta' AND h = 1))
       |    END AS c
       |  FROM lmstr s
       |  JOIN lmuh ON lmuh.doc_id = s.doc_id AND lmuh.i = s.i
       |  LEFT JOIN lm u ON u.kind = 'uni' AND u.h = lmuh.h
       |  LEFT JOIN lmbh ON lmbh.doc_id = s.doc_id AND lmbh.i = s.i
       |  LEFT JOIN lm b ON b.kind = 'bi' AND b.h = lmbh.h),
       |lmscored AS (
       |  SELECT doc_id, any_value(lang) AS lang,
       |    CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(oov) AS BIGINT) AS n_oov,
       |    CAST(sum(c) AS BIGINT) AS nll_micro,
       |    -- nll ≥ 0 (every cost is −ln p, p ≤ 1): plain floor division
       |    CAST(sum(c) // count(*) AS BIGINT) AS nll_pt_micro
       |  FROM lmcosts GROUP BY doc_id)""".stripMargin

  lazy val textLmPerplexitySql: String =
    s"""WITH $lmScoredSql
       |SELECT doc_id, n_tokens, n_oov, nll_micro, nll_pt_micro
       |FROM lmscored ORDER BY doc_id""".stripMargin

  /** The CCNet perplexity gate: bucket per-token NLL by the committed
    * tercile cuts (head/middle/tail) and keep head+middle, with `lang`
    * carried through the narrow pass (no join-back).
    */
  def samplePerplexityGate(spark: SparkSession, dir: String): DataFrame = {
    val m = graft.ops.NgramLm.loadModel(spark, graft.ops.NgramLm.modelPath)
    val scored = graft.ops.NgramLm.scoreDocs(table(spark, dir, "documents"),
      "doc_id", "text", m, passthrough = Seq("lang"))
    graft.ops.NgramLm.perplexityGate(scored, m)
      .select(col("doc_id"), col("lang"), col("nll_pt_micro"),
        col("ppl_bucket"), col("keep"))
      .orderBy("doc_id")
  }

  lazy val samplePerplexityGateSql: String =
    s"""WITH $lmScoredSql
       |SELECT doc_id, lang, nll_pt_micro,
       |  CASE
       |    WHEN nll_pt_micro <=
       |      (SELECT cost_micro FROM lm WHERE kind = 'meta' AND h = 2)
       |      THEN 'head'
       |    WHEN nll_pt_micro <=
       |      (SELECT cost_micro FROM lm WHERE kind = 'meta' AND h = 3)
       |      THEN 'middle'
       |    ELSE 'tail' END AS ppl_bucket,
       |  nll_pt_micro <=
       |    (SELECT cost_micro FROM lm WHERE kind = 'meta' AND h = 3) AS keep
       |FROM lmscored ORDER BY doc_id""".stripMargin

  /** Trained language-ID (char-trigram Naive Bayes) over the held-out
    * test split of the committed multilingual corpus
    * (`GenLangCorpus` — real per-language character distributions;
    * the driver fixture's text is language-uniform and cannot certify
    * a classifier). θ trained on the train split only, so this green
    * certifies genuine per-language model quality; the oracle replays
    * hashing, integer scoring, and the argmax tie discipline in SQL.
    * One broadcast narrow pass.
    */
  def textLangidModel(spark: SparkSession, dir: String): DataFrame = {
    val m = graft.ops.LangIdModel.loadModel(
      spark, graft.ops.LangIdModel.modelPath)
    val docs = graft.ops.ParquetSchema.read(spark, graft.ops.LangIdModel.corpusPath)
      .filter(col("split") === "test")
    graft.ops.LangIdModel.predictDocs(docs, "doc_id", "lang", "text", m)
      .orderBy("doc_id")
  }

  lazy val textLangidModelSql: String =
    s"""WITH nb AS (
       |  SELECT lang AS mlang, bucket, theta_micro
       |  FROM read_parquet('${graft.ops.LangIdModel.modelPath}/*.parquet')),
       |lidocs AS (
       |  SELECT doc_id, lang, text AS etext
       |  FROM read_parquet('${graft.ops.LangIdModel.corpusPath}/*.parquet')
       |  WHERE split = 'test'),
       |litri AS (
       |  SELECT doc_id,
       |    unnest(generate_series(1, length(etext) - 2)) AS i, etext
       |  FROM lidocs),
       |libk AS (
       |  SELECT doc_id, ($shingleHash60Sql) % 1024 AS bucket
       |  FROM (SELECT doc_id, substr(etext, CAST(i AS INTEGER), 3)
       |          AS shingle FROM litri)),
       |licnt AS (
       |  SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS c
       |  FROM libk GROUP BY doc_id, bucket),
       |lisum AS (
       |  SELECT licnt.doc_id, nb.mlang,
       |    CAST(sum(licnt.c * nb.theta_micro) AS BIGINT) AS tsum
       |  FROM licnt JOIN nb USING (bucket)
       |  GROUP BY licnt.doc_id, nb.mlang),
       |liscore AS (
       |  SELECT d.doc_id, p.mlang,
       |    p.theta_micro + coalesce(s.tsum, 0) AS score
       |  FROM lidocs d
       |  CROSS JOIN (SELECT mlang, theta_micro FROM nb WHERE bucket = -1) p
       |  LEFT JOIN lisum s
       |    ON s.doc_id = d.doc_id AND s.mlang = p.mlang),
       |lipred AS (
       |  SELECT doc_id, mlang, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, mlang ASC) AS rn
       |  FROM liscore)
       |SELECT d.doc_id, d.lang AS lang_true, p.mlang AS lang_pred,
       |  d.lang = p.mlang AS correct
       |FROM lidocs d JOIN lipred p ON p.doc_id = d.doc_id AND p.rn = 1
       |ORDER BY d.doc_id""".stripMargin

  /** Distinct corpus words (text-not-null docs) for the BPE oracle
    * chain — the tokenize-then-merge loop runs per distinct word, never
    * per occurrence, on both sides.
    */
  private val bpeWordsCte: String =
    "SELECT DISTINCT tok AS word FROM (SELECT unnest(" +
      "list_filter(string_split(text, ' '), t -> t <> '')) AS tok " +
      "FROM documents WHERE text IS NOT NULL)"

  /** Trained-BPE tokenization stats: per-doc word/token counts and
    * fertility against the committed merges artifact — the tokenizer
    * leg of the curation ladder (token budgeting, fertility QA).
    */
  def textBpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val merges = graft.ops.Bpe.loadMerges(spark, graft.ops.Bpe.mergesPath)
    graft.ops.Bpe.tokenStats(table(spark, dir, "documents"),
      "doc_id", "text", merges)
      .orderBy("doc_id")
  }

  val textBpeTokensSql: String =
    s"""WITH ${graft.ops.Bpe.tokenizeSql(16, bpeWordsCte)},
       |base AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |dw AS (
       |  SELECT doc_id, unnest(
       |    list_filter(string_split(text, ' '), t -> t <> '')) AS word
       |  FROM base),
       |agg AS (
       |  SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS nw,
       |    CAST(sum(len(b.toks)) AS BIGINT) AS nt
       |  FROM dw JOIN bpe b USING (word)
       |  GROUP BY dw.doc_id)
       |SELECT base.doc_id,
       |  coalesce(agg.nw, 0) AS n_words,
       |  coalesce(agg.nt, 0) AS n_bpe_tokens,
       |  CASE WHEN coalesce(agg.nw, 0) = 0 THEN 0
       |    ELSE CAST((agg.nt * 1000) // agg.nw AS BIGINT) END
       |    AS fertility_milli
       |FROM base LEFT JOIN agg USING (doc_id)
       |ORDER BY base.doc_id""".stripMargin

  /** The learned subword vocabulary's top-20 by corpus occurrence —
    * real merges (`er</w>`, `st`, …) surface above raw characters iff
    * training worked; rank/count are exact.
    */
  def bpeVocabTop(spark: SparkSession, dir: String): DataFrame = {
    val merges = graft.ops.Bpe.loadMerges(spark, graft.ops.Bpe.mergesPath)
    graft.ops.Bpe.vocabTopK(table(spark, dir, "documents"), "text",
      merges, k = 20)
      .orderBy("rnk")
  }

  val bpeVocabTopSql: String =
    s"""WITH ${graft.ops.Bpe.tokenizeSql(16, bpeWordsCte)},
       |occ AS (
       |  SELECT unnest(
       |    list_filter(string_split(text, ' '), t -> t <> '')) AS word
       |  FROM documents WHERE text IS NOT NULL),
       |tk AS (
       |  SELECT unnest(b.toks) AS token
       |  FROM occ JOIN bpe b USING (word)),
       |cnt AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token)
       |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token)
       |         AS INTEGER) AS rnk,
       |       token, CAST(cnt AS BIGINT) AS cnt
       |FROM cnt
       |ORDER BY cnt DESC, token
       |LIMIT 20""".stripMargin

  /** Gopher repetition rules: top 2/3/4-gram occurrence counts and the
    * permille of token mass each covers, with the composite flag at the
    * paper's thresholds (token-mass adaptation of Rae et al. 2021
    * Appendix A) — the looping-generation/templated-spam filter.
    */
  def textGopherRepetition(spark: SparkSession, dir: String): DataFrame =
    TextOps.gopherRepetition(table(spark, dir, "documents"), "doc_id",
      "text")
      .orderBy("doc_id")

  val textGopherRepetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
      |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
      |g0 AS (
      |  SELECT doc_id, n,
      |    unnest(generate_series(1, len(toks) - n + 1)) AS i, toks
      |  FROM base, (SELECT unnest([2, 3, 4]) AS n) ns
      |  WHERE len(toks) >= n),
      |g AS (SELECT doc_id, n,
      |        array_to_string(toks[i:i+n-1], ' ') AS gm FROM g0),
      |c AS (SELECT doc_id, n, gm, count(*) AS c FROM g GROUP BY 1, 2, 3),
      |tp AS (SELECT doc_id, n, max(c) AS top_cnt FROM c GROUP BY 1, 2),
      |w AS (
      |  SELECT doc_id,
      |    max(CASE WHEN n = 2 THEN top_cnt END) AS t2,
      |    max(CASE WHEN n = 3 THEN top_cnt END) AS t3,
      |    max(CASE WHEN n = 4 THEN top_cnt END) AS t4
      |  FROM tp GROUP BY doc_id),
      |f AS (
      |  SELECT b.doc_id, b.n_tokens,
      |    CAST(coalesce(w.t2, 0) AS BIGINT) AS top2_cnt,
      |    CAST(coalesce(w.t3, 0) AS BIGINT) AS top3_cnt,
      |    CAST(coalesce(w.t4, 0) AS BIGINT) AS top4_cnt
      |  FROM base b LEFT JOIN w ON w.doc_id = b.doc_id)
      |SELECT doc_id, n_tokens,
      |  top2_cnt,
      |  CAST(CASE WHEN n_tokens > 0 THEN top2_cnt * 2000 // n_tokens ELSE 0 END AS BIGINT) AS top2_milli,
      |  top3_cnt,
      |  CAST(CASE WHEN n_tokens > 0 THEN top3_cnt * 3000 // n_tokens ELSE 0 END AS BIGINT) AS top3_milli,
      |  top4_cnt,
      |  CAST(CASE WHEN n_tokens > 0 THEN top4_cnt * 4000 // n_tokens ELSE 0 END AS BIGINT) AS top4_milli,
      |  ((CASE WHEN n_tokens > 0 THEN top2_cnt * 2000 // n_tokens ELSE 0 END) > 200
      |   OR (CASE WHEN n_tokens > 0 THEN top3_cnt * 3000 // n_tokens ELSE 0 END) > 180
      |   OR (CASE WHEN n_tokens > 0 THEN top4_cnt * 4000 // n_tokens ELSE 0 END) > 160)
      |    AS rep_flagged
      |FROM f ORDER BY doc_id""".stripMargin

  /** PII scrub over the corpus: emails/phones/IPv4s masked with typed
    * placeholders plus per-category match counts. The fixture text
    * contains no PII shapes, so the query injects deterministic PII
    * derived from `doc_id` (an email, an international phone, a dotted
    * quad) before scrubbing — non-vacuous by construction at every
    * scale factor, and the oracle replays the identical injection and
    * regex chain in DuckDB (patterns restricted to the Java-regex ∩ RE2
    * common subset; see `TextOps.emailRe`).
    */
  def textPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" reach user"), col("doc_id").cast(StringType),
        lit("@mail"), (col("doc_id") % 10).cast(StringType),
        lit(".example.com or +1-555-"),
        (col("doc_id") + 1000000L).cast(StringType),
        lit(" at host 10."), (col("doc_id") % 256).cast(StringType),
        lit("."), (TextOps.longDiv(col("doc_id"), lit(256L)) % 256)
          .cast(StringType),
        lit(".9")).as("text"))
    TextOps.piiScrub(raw, "doc_id", "text").orderBy("doc_id")
  }

  val textPiiScrubSql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+\\d{1,3}-\\d{3}-\\d{4,8}\\b"
    val ip = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
    s"""WITH raw AS (
       |  SELECT doc_id,
       |    text || ' reach user' || CAST(doc_id AS VARCHAR) || '@mail' ||
       |      CAST(doc_id % 10 AS VARCHAR) || '.example.com or +1-555-' ||
       |      CAST(doc_id + 1000000 AS VARCHAR) || ' at host 10.' ||
       |      CAST(doc_id % 256 AS VARCHAR) || '.' ||
       |      CAST((doc_id // 256) % 256 AS VARCHAR) || '.9' AS t
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, t,
       |    regexp_replace(t, '$email', '<EMAIL>', 'g') AS te
       |  FROM raw),
       |m2 AS (
       |  SELECT doc_id, t, te,
       |    regexp_replace(te, '$phone', '<PHONE>', 'g') AS tp
       |  FROM m)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(te, '$phone')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(tp, '$ip')) AS BIGINT) AS n_ips,
       |  regexp_replace(tp, '$ip', '<IP>', 'g') AS masked
       |FROM m2 ORDER BY doc_id""".stripMargin
  }

  /** Documents with deterministic doc_id-derived URLs appended (the
    * fixture text contains none — same non-vacuity trick as the PII
    * injection). Two URLs per doc, built to exercise every normalizer
    * step: uppercase host, https default port, utm_* params, fragment;
    * then a second bare http URL with its default port.
    */
  private def urlInjectedDocs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" see https://WWW.Example-"),
        (col("doc_id") % 50).cast(StringType),
        lit(".COM:443/Data/"), col("doc_id").cast(StringType),
        lit("?utm_source=feed&id="), col("doc_id").cast(StringType),
        lit("&utm_campaign=x#Sec"), (col("doc_id") % 7).cast(StringType),
        lit(" plus http://cdn"), (col("doc_id") % 20).cast(StringType),
        lit(".assets-"), (col("doc_id") % 11).cast(StringType),
        lit(".org:80/a/"), (col("doc_id") % 97).cast(StringType))
        .as("text"))

  /** SQL mirror of `urlInjectedDocs` (CTE named `raw`, text col `t`). */
  private val urlInjectSql: String =
    """raw AS (
      |  SELECT doc_id,
      |    text || ' see https://WWW.Example-' ||
      |      CAST(doc_id % 50 AS VARCHAR) || '.COM:443/Data/' ||
      |      CAST(doc_id AS VARCHAR) || '?utm_source=feed&id=' ||
      |      CAST(doc_id AS VARCHAR) || '&utm_campaign=x#Sec' ||
      |      CAST(doc_id % 7 AS VARCHAR) || ' plus http://cdn' ||
      |      CAST(doc_id % 20 AS VARCHAR) || '.assets-' ||
      |      CAST(doc_id % 11 AS VARCHAR) || '.org:80/a/' ||
      |      CAST(doc_id % 97 AS VARCHAR) AS t
      |  FROM documents)""".stripMargin

  /** SQL mirror of `TextOps.urlNormalize` + host/domain as a CTE chain:
    * reads CTE `in` columns (`$passCols`, `u`), ends with CTE `nu`
    * exposing (`$passCols`, url, host, domain). DuckDB group-reference
    * replacement syntax is `\1` where Java's is `$1` — the patterns
    * themselves stay in the shared Java∩RE2 subset.
    */
  private def urlNormSqlChain(inCte: String, passCols: String): String =
    s"""n1 AS (SELECT $passCols, regexp_replace(u, '#.*', '') AS nf
       |  FROM $inCte),
       |n2 AS (SELECT $passCols, nf,
       |    regexp_extract(nf,
       |      '^(https?://[A-Za-z0-9.-]+(?::\\d{1,5})?)', 1) AS pre
       |  FROM n1),
       |n3 AS (SELECT $passCols,
       |    regexp_replace(regexp_replace(lower(pre),
       |        '^(https://[a-z0-9.-]+):443$$', '\\1'),
       |      '^(http://[a-z0-9.-]+):80$$', '\\1') ||
       |      substr(nf, len(pre) + 1) AS j
       |  FROM n2),
       |n4 AS (SELECT $passCols, split_part(j, '?', 1) AS base,
       |    split_part(j, '?', 2) AS q
       |  FROM n3),
       |n5 AS (SELECT $passCols, base, q,
       |    array_to_string(list_filter(string_split(q, '&'),
       |      p -> NOT starts_with(p, 'utm_')), '&') AS kept
       |  FROM n4),
       |n6 AS (SELECT $passCols,
       |    CASE WHEN q = '' OR kept = '' THEN base
       |         ELSE base || '?' || kept END AS url
       |  FROM n5),
       |nu AS (SELECT $passCols, url,
       |    regexp_extract(url, '^https?://([a-z0-9.-]+)', 1) AS host,
       |    regexp_extract(regexp_extract(url,
       |        '^https?://([a-z0-9.-]+)', 1),
       |      '([a-z0-9-]+\\.[a-z0-9-]+)$$', 1) AS domain
       |  FROM n6)""".stripMargin

  /** URL extraction + canonicalization — the crawl-curation staple
    * (canonical URL is the dedup/provenance key). Every URL in every
    * document, exploded with its match position, normalized per
    * `TextOps.urlNormalize`, plus host and registered domain.
    */
  def textUrlNormalize(spark: SparkSession, dir: String): DataFrame =
    TextOps.urlExtract(urlInjectedDocs(spark, dir), "doc_id", "text")
      .orderBy("doc_id", "pos")

  val textUrlNormalizeSql: String =
    s"""WITH $urlInjectSql,
       |e AS (SELECT doc_id, regexp_extract_all(t, '${TextOps.urlRe}')
       |    AS l FROM raw),
       |g0 AS (SELECT doc_id, l,
       |    unnest(generate_series(1, len(l))) AS i FROM e),
       |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, l[i] AS u
       |  FROM g0),
       |${urlNormSqlChain("g", "doc_id, pos")}
       |SELECT doc_id, pos, url, host, domain FROM nu
       |ORDER BY doc_id, pos""".stripMargin

  /** Per-domain quota sampling: at most 6 docs per registered domain of
    * the document's primary (first) URL, selected in deterministic hash
    * order — crawl rebalancing so no single site dominates the corpus.
    * Composes the URL normalizer with `Sampling.quotaSample`; the only
    * shuffle is the ranking window on the domain key.
    */
  def sampleDomainQuota(spark: SparkSession, dir: String): DataFrame = {
    val withDomain = urlInjectedDocs(spark, dir).select(col("doc_id"),
      TextOps.urlDomain(TextOps.urlHost(TextOps.urlNormalize(
        regexp_extract(col("text"), TextOps.urlRe, 0)))).as("domain"))
    Sampling.quotaSample(withDomain, "doc_id", "domain", Map.empty,
      defaultQuota = 6L)
      .orderBy("doc_id")
  }

  val sampleDomainQuotaSql: String = {
    val idStr = "CAST(doc_id AS VARCHAR)"
    val poly =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length($idStr)), " +
        s"i -> CAST(ascii($idStr[i]) AS BIGINT))), " +
        s"(acc, c) -> (acc * 131 + c) % 1000000007)"
    s"""WITH $urlInjectSql,
       |g AS (SELECT doc_id, regexp_extract(t, '${TextOps.urlRe}', 0)
       |    AS u FROM raw),
       |${urlNormSqlChain("g", "doc_id")},
       |r AS (SELECT doc_id, domain,
       |    row_number() OVER (PARTITION BY domain ORDER BY $poly, doc_id)
       |      AS rk
       |  FROM nu WHERE doc_id IS NOT NULL)
       |SELECT doc_id, domain FROM r WHERE rk <= 6
       |ORDER BY doc_id""".stripMargin
  }

  /** Whitespace vs BPE-ish token counts (LLM budget accounting). */
  def textTokenCounts(spark: SparkSession, dir: String): DataFrame =
    TextOps.tokenCounts(table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val textTokenCountsSql: String =
    s"""SELECT doc_id,
       |  len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_ws,
       |  len(regexp_extract_all(text, '${TextOps.bpeishPattern}')) AS n_bpeish
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Sliding-token-window chunking (`ops.Chunking`): 32-token windows
    * every 24 tokens (8-token overlap) — the narrow, shuffle-free
    * doc→chunk explode of retrieval/training prep. Oracle mirrors the
    * window starts with `generate_series` and DuckDB list slicing.
    */
  def textChunks(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Chunking.chunkByTokens(table(spark, dir, "documents"),
      "doc_id", "text", chunkTokens = 32, overlapTokens = 8)
      .orderBy("doc_id", "chunk_id")

  val textChunksSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
      |s AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(0, n - 1, 24)) AS tok_off
      |  FROM n)
      |SELECT doc_id,
      |  CAST(tok_off // 24 AS BIGINT) AS chunk_id,
      |  CAST(tok_off AS BIGINT) AS tok_off,
      |  CAST(len(toks[tok_off + 1 : tok_off + 32]) AS BIGINT) AS n_tok,
      |  array_to_string(toks[tok_off + 1 : tok_off + 32], ' ') AS chunk_text
      |FROM s ORDER BY doc_id, chunk_id""".stripMargin

  /** Chunk-level sequence packing: chunk the corpus (32-token windows,
    * 8 overlap), then pack the CHUNKS into 128-token training shards
    * with the distributed global prefix-sum — the composed doc→chunk→
    * (shard, offset) path a sequence-packing loader consumes. Chunk
    * identity is `doc_id * 1e6 + chunk_id`: collision-free while no doc
    * has ≥ 1,000,000 chunks (~24 M tokens at stride 24 — far past any
    * real document; a collision would only make pack order among the
    * colliding rows nondeterministic). `pipelineIngestDay` reuses the
    * same encoding and caveat.
    */
  def pipelineChunkPack(spark: SparkSession, dir: String): DataFrame = {
    val chunks = graft.ops.Chunking.chunkByTokens(
        table(spark, dir, "documents"), "doc_id", "text",
        chunkTokens = 32, overlapTokens = 8)
      .withColumn("chunk_key", col("doc_id") * 1000000L + col("chunk_id"))
    graft.ops.Packing.packGlobalByBudget(chunks, "chunk_key", "chunk_text",
      budgetTokens = 128L)
      .orderBy("chunk_key")
  }

  val pipelineChunkPackSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
      |s AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(0, n - 1, 24)) AS tok_off
      |  FROM n),
      |c AS (
      |  SELECT doc_id * 1000000 + (tok_off // 24) AS chunk_key,
      |    CAST(len(toks[tok_off + 1 : tok_off + 32]) AS BIGINT) AS n_tok
      |  FROM s),
      |w AS (
      |  SELECT chunk_key, n_tok,
      |    CAST(sum(n_tok) OVER (ORDER BY chunk_key
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
      |      AS BIGINT) AS start_off
      |  FROM c)
      |SELECT chunk_key, n_tok, start_off, start_off // 128 AS shard_id
      |FROM w ORDER BY chunk_key""".stripMargin

  /** Polynomial rolling-hash document fingerprint. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    TextOps.fingerprints(table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val docFingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, length(text)),
      |        i -> CAST(ascii(text[i]) AS BIGINT))),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Exact dedup: doc → canonical keep-id + duplicate-group size. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    DedupOps.exactDedup(table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val dedupExactSql: String =
    """SELECT doc_id,
      |  min(doc_id) OVER (PARTITION BY text) AS keep_id,
      |  count(*) OVER (PARTITION BY text) AS group_cnt
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Normalization → exact dedup composition: documents collapsing to the
    * same canonical text map to one keep-id (the standard pre-dedup
    * normalize step as a pipeline stage).
    */
  def dedupNormalized(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), TextOps.normalize(col("text")).as("norm_text"))
    DedupOps.exactDedup(docs, "doc_id", "norm_text").orderBy("doc_id")
  }

  val dedupNormalizedSql: String =
    """WITH normed AS (
      |  SELECT doc_id,
      |    lower(trim(regexp_replace(translate(text, '.,!?;:', ''),
      |      '\s+', ' ', 'g'))) AS norm_text
      |  FROM documents)
      |SELECT doc_id,
      |  min(doc_id) OVER (PARTITION BY norm_text) AS keep_id,
      |  count(*) OVER (PARTITION BY norm_text) AS group_cnt
      |FROM normed ORDER BY doc_id""".stripMargin

  /** N-gram Jaccard near-dup pairs, J ≥ 0.5, inverted-index self-join with
    * the corpus-scale posting-list cap ON (`maxShingleFreq=64`: shingles in
    * more than 64 docs leave the index, the sets, and the counts — the
    * oracle reproduces the cap exactly). The benched plan is the shipped
    * plan: measured at t=0.5 the capped inverted-index join beats the
    * PPJoin-style prefix variant ~2.5× here, because a 0.5 threshold makes
    * prefixes ≈ half of each doc (weak filtering) while verification
    * shuffles full shingle arrays; `ngramJaccardPairsPrefix` is the right
    * plan at t ≥ 0.8 where prefixes shrink to a sliver.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    DedupOps.ngramJaccardPairs(table(spark, dir, "documents"),
      "doc_id", "text", n = 3, simMilli = 500, maxShingleFreq = 64L)
      .orderBy("id1", "id2")

  /** Shared CTE body reproducing the capped Jaccard pipeline (shingles →
    * 60-bit hashes → document-frequency cap → per-doc counts →
    * intersection counts) — used by the pair query and the clustering
    * query, so both oracles run the identical pipeline.
    */
  private val jaccardCtes: String = {
    val poly = (base: Int) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length(shingle)), " +
        s"i -> CAST(ascii(shingle[i]) AS BIGINT))), (acc, c) -> (acc * $base + c) % 1000000007)"
    // join on the same 60-bit shingle hash the engine shuffles on —
    // collisions (if any) are mirrored, keeping the compare exact
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
       |  FROM documents),
       |shs AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(t) >= 3 THEN
       |      list_transform(generate_series(1, len(t) - 2),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |    ELSE [array_to_string(t, ' ')] END)) AS shingle
       |  FROM toks),
       |sh0 AS (
       |  SELECT doc_id,
       |    (${poly(131)} + ${poly(257)} * 1073741824) AS h
       |  FROM shs),
       |freq AS (SELECT h, count(*) AS df FROM sh0 GROUP BY h),
       |sh AS (
       |  SELECT s.doc_id, s.h FROM sh0 s JOIN freq f ON f.h = s.h
       |  WHERE f.df <= 64),
       |cnts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |jpairs AS (
       |  SELECT id1, id2, inter, c1.n_sh + c2.n_sh - inter AS uni
       |  FROM inter
       |  JOIN cnts c1 ON c1.doc_id = id1
       |  JOIN cnts c2 ON c2.doc_id = id2
       |  WHERE inter * 1000 >= (c1.n_sh + c2.n_sh - inter) * 500)""".stripMargin
  }

  val dedupNgramJaccardSql: String =
    s"""WITH $jaccardCtes
       |SELECT id1, id2, inter, uni FROM jpairs
       |ORDER BY id1, id2""".stripMargin

  /** LSH-vs-exact CALIBRATION as data (the `knn_recall_at5` pattern for
    * the dedup ladder): how much of the exact capped-Jaccard ≥ 500‰
    * near-dup mass does the banded MinHash index find at the shipped
    * config, and how much of what it reports is real? One row:
    * pair counts of the exact arm, the LSH arm (signature agreement
    * ≥ 500‰), their intersection, and integer-milli recall/precision.
    * The number a data platform needs before trusting the scalable arm
    * at 100 TB, published where the gate checks it rather than claimed
    * in prose. Both arms are the registry's own operators
    * (`dedup_ngram_jaccard`, `dedup_minhash_lsh`), so this row also
    * pins their relationship. On the shipped fixture both arms agree
    * perfectly (25/25 at sf0.01, 256/256 at sf0.1) — MEASURED, not
    * assumed: the corpus's pair-similarity distribution is bimodal
    * (everything is either ≥ 500‰ or < 200‰, where 4-row banding at
    * sim s fires with probability 1-(1-s⁴)¹⁶ ≈ 0 — no boundary mass
    * exists for the arms to disagree on). On a real corpus with
    * borderline pairs the recall column is where LSH misses surface.
    */
  def dedupLshCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val exact = DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, simMilli = 500, maxShingleFreq = 64L)
      .select(col("id1"), col("id2"), lit(1L).as("he"), lit(0L).as("hl"))
    val lsh = DedupOps.minHashLshPairs(docs, "doc_id", "text",
        maxBucketSize = 64L)
      .filter(col("est_milli") >= 500L)
      .select(col("id1"), col("id2"), lit(0L).as("he"), lit(1L).as("hl"))
    exact.union(lsh)
      .groupBy("id1", "id2")
      .agg(max(col("he")).as("he"), max(col("hl")).as("hl"))
      .agg(
        sum(col("he")).as("n_exact"),
        sum(col("hl")).as("n_lsh"),
        sum(col("he") * col("hl")).as("n_hit"))
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        coalesce(expr("n_hit * 1000 DIV nullif(n_exact, 0)"), lit(0L))
          .as("recall_milli"),
        coalesce(expr("n_hit * 1000 DIV nullif(n_lsh, 0)"), lit(0L))
          .as("precision_milli"))
  }

  /** Near-dup clustering: connected components over the capped-Jaccard
    * pair graph (iterative min-label propagation); every doc maps to the
    * smallest doc id in its component (`cluster_id` — keeping
    * `doc_id == cluster_id` dedups the corpus to one representative per
    * cluster). The oracle re-runs the identical pair pipeline plus a
    * recursive reachability CTE — graph algorithms verified against SQL
    * recursion.
    */
  def dedupClusterKeep(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val pairs = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      simMilli = 500, maxShingleFreq = 64L)
    DedupOps.nearDupKeepMap(docs, "doc_id", pairs).orderBy("doc_id")
  }

  val dedupClusterKeepSql: String =
    s"""WITH RECURSIVE $jaccardCtes,
       |und AS (
       |  SELECT id1 AS a, id2 AS b FROM jpairs
       |  UNION ALL SELECT id2, id1 FROM jpairs),
       |reach AS (
       |  SELECT a AS node, b AS r FROM und
       |  UNION
       |  SELECT re.node, u.b FROM reach re JOIN und u ON u.a = re.r),
       |mins AS (SELECT node, min(r) AS minr FROM reach GROUP BY node)
       |SELECT d.doc_id,
       |  COALESCE(LEAST(d.doc_id, m.minr), d.doc_id) AS cluster_id
       |FROM documents d LEFT JOIN mins m ON m.node = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Leakage-free train/validation/test split: near-dup CLUSTERS (not
    * docs) are the split unit — a cluster's docs land in one split by
    * the deterministic polynomial hash of its canonical id, so a
    * near-duplicate of a training document can never leak into
    * validation or test. 80/10/10 by hash permille; same clustering as
    * `dedup_cluster_keep`, same engine-portable hash as the shuffled
    * packer, so the oracle replays the whole thing.
    */
  def splitLeakageFree(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val pairs = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      simMilli = 500, maxShingleFreq = 64L)
    val clusters = DedupOps.nearDupKeepMap(docs, "doc_id", pairs)
    val bucket = pmod(DedupOps.polyHash(
      concat(lit("split:"), col("cluster_id").cast(StringType))), lit(1000L))
    clusters.withColumn("split",
        when(bucket < 800L, "train")
          .when(bucket < 900L, "validation")
          .otherwise("test"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy("doc_id")
  }

  val splitLeakageFreeSql: String = {
    val s = "'split:' || CAST(cluster_id AS VARCHAR)"
    val poly =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length($s)), " +
        s"i -> CAST(ascii(($s)[i]) AS BIGINT))), " +
        s"(acc, c) -> (acc * 131 + c) % 1000000007)"
    s"""WITH RECURSIVE $jaccardCtes,
       |und AS (
       |  SELECT id1 AS a, id2 AS b FROM jpairs
       |  UNION ALL SELECT id2, id1 FROM jpairs),
       |reach AS (
       |  SELECT a AS node, b AS r FROM und
       |  UNION
       |  SELECT re.node, u.b FROM reach re JOIN und u ON u.a = re.r),
       |mins AS (SELECT node, min(r) AS minr FROM reach GROUP BY node),
       |clusters AS (
       |  SELECT d.doc_id,
       |    COALESCE(LEAST(d.doc_id, m.minr), d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN mins m ON m.node = d.doc_id)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN ($poly) % 1000 < 800 THEN 'train'
       |       WHEN ($poly) % 1000 < 900 THEN 'validation'
       |       ELSE 'test' END AS split
       |FROM clusters ORDER BY doc_id""".stripMargin
  }

  /** PPS SYSTEMATIC sampling (round 16 —
    * [[graft.ops.Sampling.ppsSystematicSample]]): ~20 docs per source
    * with inclusion probability proportional to `n_chars`, by walking
    * each source's cumulative-weight line with stride
    * `ceil(total/20)` — the standard probability-proportional-to-size
    * design (big docs more likely, never more than k picks). ALL
    * INTEGER (no float keys — exponential-key reservoir methods need
    * `ln`/`pow`, which are libm-dependent and hash-fragile across
    * engines), one window pass per stratum, exactly reproducible: the
    * oracle replays the same cumulative grid with SUM() OVER.
    */
  def samplePpsSystematic(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.ppsSystematicSample(
      table(spark, dir, "documents"), "doc_id", "source", "n_chars",
      k = 20)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .orderBy("source", "doc_id")

  val samplePpsSystematicSql: String =
    """WITH g AS (
      |  SELECT source, doc_id, n_chars,
      |    SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    (SUM(n_chars) OVER (PARTITION BY source) + 19) // 20 AS stride
      |  FROM documents)
      |SELECT source, doc_id, n_chars FROM g
      |WHERE cum // stride > (cum - n_chars) // stride
      |ORDER BY source, doc_id""".stripMargin

  /** Deterministic stratified sampling: permille rates per language
    * (downsample dominant `en`, keep tails) via the engine-portable
    * polynomial hash of the doc id — reproducible across engines, runs,
    * and partitionings, unlike positional `df.sample`.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(table(spark, dir, "documents"), "doc_id",
      "lang", Map("en" -> 300, "zh" -> 800), defaultMilli = 600)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  val sampleStratifiedSql: String = {
    val idStr = "CAST(doc_id AS VARCHAR)"
    val poly =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length($idStr)), " +
        s"i -> CAST(ascii($idStr[i]) AS BIGINT))), " +
        s"(acc, c) -> (acc * 131 + c) % 1000000007)"
    s"""SELECT doc_id, lang FROM documents
       |WHERE ($poly) % 1000 <
       |  CASE WHEN lang = 'en' THEN 300
       |       WHEN lang = 'zh' THEN 800
       |       ELSE 600 END
       |ORDER BY doc_id""".stripMargin
  }

  /** The curation ladder through the SQL surface (round 18 —
    * [[CurationSql]] FROM-clause table operators via [[GraftSql]]):
    * each `sql_*` row is the SAME computation as its programmatic
    * registry sibling (`dedup_exact` / `sample_stratified` /
    * `text_chunks`), invoked from a SQL statement a platform user could
    * type — the operator lowers to the identical op call, so these rows
    * pin hash-equality of the two surfaces against the siblings'
    * oracles. The temp view is (re)registered per call from the same
    * parquet read the siblings use.
    */
  private def curDocsView(spark: SparkSession, dir: String): Unit =
    table(spark, dir, "documents").createOrReplaceTempView("documents_v")

  def sqlDedupExact(spark: SparkSession, dir: String): DataFrame = {
    curDocsView(spark, dir)
    GraftSql.sql(spark,
      """SELECT doc_id, keep_id, group_cnt
        |FROM documents_v DEDUP_EXACT (ID doc_id TEXT text)
        |ORDER BY doc_id""".stripMargin)
  }

  def sqlSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    curDocsView(spark, dir)
    GraftSql.sql(spark,
      """SELECT doc_id, lang
        |FROM documents_v SAMPLE_STRATIFIED (ID doc_id STRATUM lang
        |  RATES ('en' 300, 'zh' 800) DEFAULT 600)
        |ORDER BY doc_id""".stripMargin)
  }

  def sqlChunkTokens(spark: SparkSession, dir: String): DataFrame = {
    curDocsView(spark, dir)
    GraftSql.sql(spark,
      """SELECT doc_id, chunk_id, tok_off, n_tok, chunk_text
        |FROM documents_v CHUNK_TOKENS (ID doc_id TEXT text
        |  SIZE 32 OVERLAP 8)
        |ORDER BY doc_id, chunk_id""".stripMargin)
  }

  def sqlPackShards(spark: SparkSession, dir: String): DataFrame = {
    curDocsView(spark, dir)
    GraftSql.sql(spark,
      """SELECT lang, source, doc_id, n_tok, start_off, shard_id
        |FROM documents_v PACK_SHARDS (ID doc_id TEXT text
        |  STRATA (lang, source) BUDGET 512)
        |ORDER BY lang, source, doc_id""".stripMargin)
  }

  /** End-to-end corpus curation — the canonical training-data pipeline as
    * ONE composed query: quality gate → deterministic stratified sample →
    * normalized exact-dedup keepers → per-language counts. Every stage is
    * a registry operator; the oracle re-runs the identical composition in
    * SQL. The narrow stages (quality, sampling, normalize) fuse into the
    * scan; the only shuffles are the dedup window and the final count.
    */
  def pipelineCurate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = table(spark, dir, "documents")
    // quality gate and sample are inline predicates (one scan, no metric
    // frame joined back); keeper selection is a window min over the
    // surviving rows — the only shuffles are that window and the count
    val sampled = Sampling.stratifiedSample(
      docs.filter(TextOps.qualityOk(col("text"))), "doc_id", "lang",
      Map("en" -> 500), defaultMilli = 800)
    sampled
      .withColumn("keep_id", min(col("doc_id")).over(
        Window.partitionBy(TextOps.normalize(col("text")))))
      .filter(col("doc_id") === col("keep_id"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }

  val pipelineCurateSql: String = {
    val stops = TextOps.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    val idStr = "CAST(doc_id AS VARCHAR)"
    val poly =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length($idStr)), " +
        s"i -> CAST(ascii($idStr[i]) AS BIGINT))), " +
        s"(acc, c) -> (acc * 131 + c) % 1000000007)"
    s"""WITH t AS (
       |  SELECT doc_id, text, lang,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, text, lang, len(toks) AS n_tokens,
       |    len(list_filter(toks, x -> list_contains($stops, lower(x)))) AS n_stop,
       |    list_sum(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(toks, x -> CAST(length(x) AS BIGINT)))) AS char_sum,
       |    length(text) - length(translate(text, '.,!?;:', '')) AS n_punct
       |  FROM t),
       |gated AS (
       |  SELECT doc_id, text, lang FROM m
       |  WHERE n_tokens > 0
       |    AND (CASE WHEN n_tokens > 0 THEN n_stop * 1000 // n_tokens ELSE 0 END) > 0
       |    AND (CASE WHEN n_tokens > 0 THEN char_sum * 1000 // n_tokens ELSE 0 END) BETWEEN 2000 AND 12000
       |    AND (CASE WHEN length(text) > 0 THEN n_punct * 1000 // length(text) ELSE 0 END) < 200),
       |sampled AS (
       |  SELECT doc_id, text, lang FROM gated
       |  WHERE ($poly) % 1000 <
       |    CASE WHEN lang = 'en' THEN 500 ELSE 800 END),
       |normed AS (
       |  SELECT doc_id, lang,
       |    lower(trim(regexp_replace(translate(text, '.,!?;:', ''),
       |      '\\s+', ' ', 'g'))) AS norm
       |  FROM sampled),
       |keep AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY norm) AS keep_id
       |    FROM normed) k
       |  WHERE doc_id = keep_id)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
       |FROM sampled JOIN keep USING (doc_id)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Shared SQL fragment: the two-base polynomial 60-bit hash of a column
    * named `shingle` (mirrors `DedupOps.tokenHash60Jvm` bit-for-bit).
    * Declared ahead of every val that splices it (Scala object vals
    * initialize in declaration order).
    */
  private val shingleHash60Sql: String = {
    val poly = (base: Int) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length(shingle)), " +
        s"i -> CAST(ascii(shingle[i]) AS BIGINT))), (acc, c) -> (acc * $base + c) % 1000000007)"
    s"(${poly(131)} + ${poly(257)} * 1073741824)"
  }

  /** The curation pipeline with the full gate set — quality →
    * benchmark decontamination (docs sharing any 5-gram span with the
    * held-out slice drop) → duplicated-passage gate (docs with ≥ half
    * their 8-gram spans shared drop) → stratified sample → normalized
    * dedup keepers → per-language counts. Every stage is a registry
    * operator; the oracle replays the identical composition. The two
    * contamination stages add three shuffles on 8-byte span hashes; the
    * benchmark set stays a broadcast semi-join.
    */
  def pipelineCurateFull(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Contamination
    val docs = table(spark, dir, "documents")
    val bench = docs.filter(col("doc_id") % 10 === 7)
    // the gated/clean frames each feed several downstream stages — cache
    // them so the quality gate and the decontam join run once, not per
    // consumer (caller releases via clearCache, the bench does)
    val train = docs.filter(col("doc_id") % 10 =!= 7)
      .filter(TextOps.qualityOk(col("text")))
      .select("doc_id", "text", "lang").cache()
    val clean = Contamination.decontaminate(train, bench,
      "doc_id", "text", n = 5).cache()
    val dup = Contamination.dupPassageStats(clean, "doc_id", "text", n = 8)
    val kept = clean.join(
      dup.filter(col("dup_milli") < 500).select("doc_id"), "doc_id")
    val sampled = Sampling.stratifiedSample(kept, "doc_id", "lang",
      Map("en" -> 500), defaultMilli = 800)
    sampled
      .withColumn("keep_id", min(col("doc_id")).over(
        Window.partitionBy(TextOps.normalize(col("text")))))
      .filter(col("doc_id") === col("keep_id"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }

  val pipelineCurateFullSql: String = {
    val stops = TextOps.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    val idStr = "CAST(doc_id AS VARCHAR)"
    val poly =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length($idStr)), " +
        s"i -> CAST(ascii($idStr[i]) AS BIGINT))), " +
        s"(acc, c) -> (acc * 131 + c) % 1000000007)"
    s"""WITH t AS (
       |  SELECT doc_id, text, lang,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents WHERE doc_id % 10 <> 7),
       |m AS (
       |  SELECT doc_id, text, lang, toks, len(toks) AS n_tokens,
       |    len(list_filter(toks, x -> list_contains($stops, lower(x)))) AS n_stop,
       |    list_sum(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(toks, x -> CAST(length(x) AS BIGINT)))) AS char_sum,
       |    length(text) - length(translate(text, '.,!?;:', '')) AS n_punct
       |  FROM t),
       |gated AS (
       |  SELECT doc_id, text, lang, toks FROM m
       |  WHERE n_tokens > 0
       |    AND (CASE WHEN n_tokens > 0 THEN n_stop * 1000 // n_tokens ELSE 0 END) > 0
       |    AND (CASE WHEN n_tokens > 0 THEN char_sum * 1000 // n_tokens ELSE 0 END) BETWEEN 2000 AND 12000
       |    AND (CASE WHEN length(text) > 0 THEN n_punct * 1000 // length(text) ELSE 0 END) < 200),
       |btoks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS bt
       |  FROM documents WHERE doc_id % 10 = 7),
       |bshs AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(bt) >= 5 THEN
       |      list_transform(generate_series(1, len(bt) - 4),
       |        i -> array_to_string(bt[i:i+4], ' '))
       |    ELSE [array_to_string(bt, ' ')] END)) AS shingle
       |  FROM btoks),
       |benchh AS (SELECT DISTINCT $shingleHash60Sql AS h FROM bshs),
       |gshs AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(toks) >= 5 THEN
       |      list_transform(generate_series(1, len(toks) - 4),
       |        i -> array_to_string(toks[i:i+4], ' '))
       |    ELSE [array_to_string(toks, ' ')] END)) AS shingle
       |  FROM gated),
       |gh AS (SELECT doc_id, $shingleHash60Sql AS h FROM gshs),
       |clean AS (
       |  SELECT doc_id, text, lang, toks FROM gated
       |  WHERE doc_id NOT IN (
       |    SELECT doc_id FROM gh WHERE h IN (SELECT h FROM benchh))),
       |cspans AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(toks) >= 8 THEN
       |      list_transform(generate_series(1, len(toks) - 7),
       |        i -> array_to_string(toks[i:i+7], ' '))
       |    ELSE [array_to_string(toks, ' ')] END) AS shingle
       |  FROM clean),
       |csh AS (SELECT doc_id, $shingleHash60Sql AS h FROM cspans),
       |cdf AS (
       |  SELECT h, count(*) AS nd
       |  FROM (SELECT DISTINCT doc_id, h FROM csh) GROUP BY h),
       |dstat AS (
       |  SELECT doc_id, count(*) AS n_spans,
       |    CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM csh JOIN cdf USING (h) GROUP BY doc_id),
       |kept AS (
       |  SELECT c.doc_id, c.text, c.lang FROM clean c
       |  JOIN dstat d ON d.doc_id = c.doc_id
       |  WHERE (d.n_dup * 1000) // d.n_spans < 500),
       |sampled AS (
       |  SELECT doc_id, text, lang FROM kept
       |  WHERE ($poly) % 1000 <
       |    CASE WHEN lang = 'en' THEN 500 ELSE 800 END),
       |normed AS (
       |  SELECT doc_id, lang,
       |    lower(trim(regexp_replace(translate(text, '.,!?;:', ''),
       |      '\\s+', ' ', 'g'))) AS norm
       |  FROM sampled),
       |keep AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY norm) AS keep_id
       |    FROM normed) k
       |  WHERE doc_id = keep_id)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
       |FROM sampled JOIN keep USING (doc_id)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** The full prep-for-training composition, ending at the loader
    * contract: quality gate → benchmark decontamination → substring
    * scrub (cross-doc 8-gram passages deleted, fully-scrubbed docs
    * drop) → per-language quota rebalance → GLOBAL context packing of
    * the scrubbed text (distributed prefix-sum) → per-doc
    * (shard, offset) address. Every stage is a registry operator; the
    * oracle replays the identical composition in SQL.
    */
  def pipelinePrepShards(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Contamination, Packing, Sampling}
    val docs = table(spark, dir, "documents")
    val bench = docs.filter(col("doc_id") % 10 === 7)
    val train = docs.filter(col("doc_id") % 10 =!= 7)
      .filter(TextOps.qualityOk(col("text")))
    // the scrub reads its input three times (span index, token explode,
    // per-doc counts) — cache the decontaminated set so the quality gate
    // and the decontamination semi-join run once, not three times
    // (measured 6.2 s -> ~2 s median at sf0.1; CacheScope releases)
    val kept = Contamination.decontaminate(train, bench, "doc_id", "text",
      n = 5).cache()
    val scrubbed = Contamination
      .scrubDupPassages(kept, "doc_id", "text", n = 8, minDocs = 2)
      .filter(col("n_tokens") - col("n_removed") > 0L)
    val withLang = scrubbed.join(
      docs.select(col("doc_id").cast(LongType).as("doc_id"), col("lang")),
      "doc_id")
    // both the pack and the final lang join read `balanced` — cache it
    // so the gate→decontaminate→scrub chain runs once (CacheScope
    // releases, same contract as the op-level caches)
    val balanced = Sampling.quotaSample(withLang, "doc_id", "lang",
      Map("en" -> 60L), defaultQuota = 40L).cache()
    Packing.packGlobalByBudget(balanced, "doc_id", "clean_text",
      budgetTokens = 256L)
      .join(balanced.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tok"), col("start_off"),
        col("shard_id"))
      .orderBy("doc_id")
  }

  val pipelinePrepShardsSql: String = {
    val stops = TextOps.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    val idStr = "CAST(doc_id AS VARCHAR)"
    val poly =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length($idStr)), " +
        s"i -> CAST(ascii($idStr[i]) AS BIGINT))), " +
        s"(acc, c) -> (acc * 131 + c) % 1000000007)"
    s"""WITH t AS (
       |  SELECT doc_id, text, lang,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents WHERE doc_id % 10 <> 7),
       |m AS (
       |  SELECT doc_id, text, lang, toks, len(toks) AS n_tokens,
       |    len(list_filter(toks, x -> list_contains($stops, lower(x)))) AS n_stop,
       |    list_sum(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(toks, x -> CAST(length(x) AS BIGINT)))) AS char_sum,
       |    length(text) - length(translate(text, '.,!?;:', '')) AS n_punct
       |  FROM t),
       |gated AS (
       |  SELECT doc_id, text, lang, toks FROM m
       |  WHERE n_tokens > 0
       |    AND (CASE WHEN n_tokens > 0 THEN n_stop * 1000 // n_tokens ELSE 0 END) > 0
       |    AND (CASE WHEN n_tokens > 0 THEN char_sum * 1000 // n_tokens ELSE 0 END) BETWEEN 2000 AND 12000
       |    AND (CASE WHEN length(text) > 0 THEN n_punct * 1000 // length(text) ELSE 0 END) < 200),
       |btoks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS bt
       |  FROM documents WHERE doc_id % 10 = 7),
       |bshs AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(bt) >= 5 THEN
       |      list_transform(generate_series(1, len(bt) - 4),
       |        i -> array_to_string(bt[i:i+4], ' '))
       |    ELSE [array_to_string(bt, ' ')] END)) AS shingle
       |  FROM btoks),
       |benchh AS (SELECT DISTINCT $shingleHash60Sql AS h FROM bshs),
       |gshs AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(toks) >= 5 THEN
       |      list_transform(generate_series(1, len(toks) - 4),
       |        i -> array_to_string(toks[i:i+4], ' '))
       |    ELSE [array_to_string(toks, ' ')] END)) AS shingle
       |  FROM gated),
       |gh AS (SELECT doc_id, $shingleHash60Sql AS h FROM gshs),
       |clean AS (
       |  SELECT doc_id, lang, toks FROM gated
       |  WHERE doc_id NOT IN (
       |    SELECT doc_id FROM gh WHERE h IN (SELECT h FROM benchh))),
       |sp0 AS (
       |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 8 THEN
       |      list_transform(generate_series(1, len(toks) - 7),
       |        i -> struct_pack(pos := i, slen := CAST(8 AS BIGINT),
       |                         shingle := array_to_string(toks[i:i+7], ' ')))
       |    ELSE [struct_pack(pos := CAST(1 AS BIGINT), slen := len(toks),
       |                      shingle := array_to_string(toks, ' '))] END) AS s
       |  FROM clean),
       |sp AS (SELECT doc_id, s.pos AS pos, s.slen AS slen,
       |         s.shingle AS shingle FROM sp0),
       |sph AS (SELECT doc_id, pos, slen, $shingleHash60Sql AS h FROM sp),
       |dup AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM sph)
       |        GROUP BY h HAVING count(*) >= 2),
       |cov AS (SELECT DISTINCT doc_id, tidx FROM (
       |  SELECT doc_id, unnest(generate_series(pos, pos + slen - 1)) AS tidx
       |  FROM sph WHERE h IN (SELECT h FROM dup)) c0),
       |tok0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
       |           i -> struct_pack(tidx := i, tok := toks[i]))) AS s FROM clean),
       |tok AS (SELECT doc_id, s.tidx AS tidx, s.tok AS tok FROM tok0),
       |keptt AS (
       |  SELECT t2.doc_id, t2.tidx, t2.tok FROM tok t2
       |  LEFT JOIN cov c ON c.doc_id = t2.doc_id AND c.tidx = t2.tidx
       |  WHERE c.tidx IS NULL),
       |scrub AS (SELECT doc_id, count(*) AS n_kept,
       |            string_agg(tok, ' ' ORDER BY tidx) AS clean_text
       |          FROM keptt GROUP BY doc_id),
       |surv AS (SELECT c.doc_id, c.lang, s.clean_text
       |         FROM clean c JOIN scrub s USING (doc_id)),
       |bal AS (SELECT doc_id, lang, clean_text FROM (
       |    SELECT doc_id, lang, clean_text,
       |      row_number() OVER (PARTITION BY lang ORDER BY $poly, doc_id)
       |        AS rk
       |    FROM surv) r
       |  WHERE rk <= CASE WHEN lang = 'en' THEN 60 ELSE 40 END),
       |pt AS (SELECT doc_id, lang,
       |         CAST(len(list_filter(string_split(clean_text, ' '),
       |           x -> x <> '')) AS BIGINT) AS n_tok FROM bal),
       |pw AS (SELECT doc_id, lang, n_tok,
       |         CAST(sum(n_tok) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
       |           AS BIGINT) AS start_off
       |       FROM pt)
       |SELECT doc_id, lang, n_tok, start_off, start_off // 256 AS shard_id
       |FROM pw ORDER BY doc_id""".stripMargin
  }

  /** The round-5 prep pipeline: same shape as `pipeline_prep_shards`
    * but every upgraded stage swapped in — TRAINED quality gate
    * (committed perceptron weights instead of heuristics), benchmark
    * decontamination, MAXIMAL-REGION substring scrub (published Lee et
    * al. semantics instead of the cover approximation), per-language
    * quota rebalance, and stratified packing with the SEEDED SHUFFLE
    * order (shard visit keys + within-shard positions) — ending at the
    * exact record a training loader consumes: (lang, doc, shard,
    * offset, shard_key, shuffled_pos). One oracle replays the whole
    * composition.
    */
  /** The round-6 rungs composed end-to-end: DSIR selection (top-400 by
    * per-gram importance) → temperature (τ=1/2) language rebalance to a
    * 300-doc budget → trained-BPE token counting → token-budget shard
    * packing at 256 BPE tokens. Every stage is the committed-artifact
    * scale path (λ broadcast, ⌊√n⌋ quota frame broadcast, merges
    * broadcast, stratum-windowed pack) and the oracle replays the whole
    * chain — importance sums, integer sqrt quotas, the BPE merge loop,
    * and the running-sum shard addresses — in one SQL statement.
    */
  def pipelineDsirPack(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Bpe, Dsir, Packing, Sampling}
    val docs = table(spark, dir, "documents")
    val lam = Dsir.loadWeights(spark, Dsir.weightsPath)
    val sel = Dsir.selectTopK(
      Dsir.scoreDocs(docs, "doc_id", "text", lam), 400)
      .select("doc_id")
    val seld = docs.select(col("doc_id").cast(LongType).as("doc_id"),
        col("lang"), col("text"))
      .join(sel, "doc_id")
    val bal = Sampling.temperatureQuotaSample(seld, "doc_id", "lang", 300L)
    val merges = Bpe.loadMerges(spark, Bpe.mergesPath)
    val stats = Bpe.tokenStats(bal, "doc_id", "text", merges)
      .select(col("doc_id"), col("n_bpe_tokens"))
    val withTok = bal.select("lang", "doc_id").join(stats, "doc_id")
    Packing.packByWeight(withTok, "doc_id", "n_bpe_tokens", Seq("lang"),
      budget = 256L)
      .select(col("lang"), col("doc_id"), col("n_bpe_tokens"),
        col("start_off"), col("shard_id"))
      .orderBy("doc_id")
  }

  lazy val pipelineDsirPackSql: String = {
    val idStr = "CAST(doc_id AS VARCHAR)"
    val poly =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length($idStr)), " +
        s"i -> CAST(ascii($idStr[i]) AS BIGINT))), " +
        s"(acc, c) -> (acc * 131 + c) % 1000000007)"
    s"""WITH $dsirScoredSql,
       |sel AS (
       |  SELECT doc_id FROM scored
       |  ORDER BY dsir_pg_micro DESC, doc_id LIMIT 400),
       |seld AS (
       |  SELECT d.doc_id, d.lang, d.text
       |  FROM documents d JOIN sel USING (doc_id)
       |  WHERE d.lang IS NOT NULL),
       |tc AS (
       |  SELECT lang, count(*) AS n_stratum,
       |    CAST(FLOOR(SQRT(CAST(count(*) AS DOUBLE))) AS BIGINT) AS s
       |  FROM seld GROUP BY lang),
       |tt AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM tc),
       |tq AS (
       |  SELECT lang, CAST((300 * s) // t AS BIGINT) AS quota
       |  FROM tc CROSS JOIN tt),
       |trk AS (
       |  SELECT doc_id, lang, text,
       |    row_number() OVER (PARTITION BY lang ORDER BY $poly, doc_id)
       |      AS rk
       |  FROM seld),
       |bal AS (
       |  SELECT trk.doc_id, trk.lang, trk.text
       |  FROM trk JOIN tq USING (lang) WHERE trk.rk <= tq.quota),
       |${graft.ops.Bpe.tokenizeSql(16, bpeWordsCte)},
       |dw AS (
       |  SELECT doc_id, unnest(
       |    list_filter(string_split(text, ' '), t -> t <> '')) AS word
       |  FROM bal),
       |ntk AS (
       |  SELECT bal.doc_id, bal.lang,
       |    coalesce(agg.nt, 0) AS n_bpe_tokens
       |  FROM bal LEFT JOIN (
       |    SELECT dw.doc_id, CAST(sum(len(b.toks)) AS BIGINT) AS nt
       |    FROM dw JOIN bpe b USING (word) GROUP BY dw.doc_id) agg
       |    USING (doc_id)),
       |packed AS (
       |  SELECT lang, doc_id, n_bpe_tokens,
       |    CAST(sum(n_bpe_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
       |      - n_bpe_tokens AS BIGINT) AS start_off
       |  FROM ntk)
       |SELECT lang, doc_id, n_bpe_tokens, start_off,
       |  CAST(start_off // 256 AS BIGINT) AS shard_id
       |FROM packed
       |ORDER BY doc_id""".stripMargin
  }

  def pipelinePrepShardsV2(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Contamination, Packing, QualityModel, Sampling}
    val docs = table(spark, dir, "documents")
    val model = QualityModel.loadWeights(spark, QualityModel.weightsPath)
    val bench = docs.filter(col("doc_id") % 10 === 7)
    val trainAll = docs.filter(col("doc_id") % 10 =!= 7)
    // trained gate: one narrow broadcast pass; keep ids whose score > 0
    val okIds = QualityModel.scoreDocs(trainAll, "doc_id", "text", model)
      .filter(col("model_ok")).select(col("doc_id"))
    val train = trainAll
      .select(col("doc_id").cast(LongType).as("doc_id"), col("text"))
      .join(okIds, "doc_id")
    val kept = Contamination.decontaminate(train, bench, "doc_id", "text",
      n = 5).cache()
    val scrubbed = Contamination
      .scrubDupPassagesMaximal(kept, "doc_id", "text", n = 8, minDocs = 2,
        minRepeatLen = 16)
      .filter(col("n_tokens") - col("n_removed") > 0L)
    val withLang = scrubbed.join(
      docs.select(col("doc_id").cast(LongType).as("doc_id"), col("lang")),
      "doc_id")
    val balanced = Sampling.quotaSample(withLang, "doc_id", "lang",
      Map("en" -> 60L), defaultQuota = 40L).cache()
    Packing.packShuffled(
        balanced.select(col("doc_id"), col("clean_text"), col("lang")),
        "doc_id", "clean_text", Seq("lang"), budgetTokens = 256L,
        seed = 7L)
      .select(col("lang"), col("doc_id"), col("n_tok"), col("start_off"),
        col("shard_id"), col("shard_key"), col("shuffled_pos"))
      .orderBy("doc_id")
  }

  val pipelinePrepShardsV2Sql: String = {
    val idStr = "CAST(doc_id AS VARCHAR)"
    val polyOf = (s: String, base: Int) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length($s)), " +
        s"i -> CAST(ascii(($s)[i]) AS BIGINT))), " +
        s"(acc, c) -> (acc * $base + c) % 1000000007)"
    val poly = polyOf(idStr, 131)
    val mixed = (s: String) =>
      s"((${polyOf(s, 131)}) * (${polyOf(s, 257)})) % 1000000007"
    val polyTok = polyOf("tok", 131)
    s"""WITH t AS (
       |  SELECT doc_id, text, lang,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents
       |  WHERE doc_id % 10 <> 7 AND doc_id IS NOT NULL AND text IS NOT NULL),
       |w AS (
       |  SELECT bucket, weight
       |  FROM read_parquet('${graft.ops.QualityModel.weightsPath}/*.parquet')),
       |bias AS (SELECT weight AS b FROM w WHERE bucket = -1),
       |btk AS (SELECT doc_id, unnest(toks) AS tok FROM t),
       |bkt AS (SELECT doc_id, ($polyTok) % 4096 AS bucket FROM btk),
       |sc AS (
       |  SELECT bkt.doc_id, sum(coalesce(w.weight, 0)) AS sw
       |  FROM bkt LEFT JOIN w ON w.bucket = bkt.bucket
       |  GROUP BY bkt.doc_id),
       |gated AS (
       |  SELECT t.doc_id, t.text, t.lang, t.toks
       |  FROM t LEFT JOIN sc ON sc.doc_id = t.doc_id
       |  WHERE (SELECT b FROM bias) + coalesce(sc.sw, 0) > 0),
       |btoks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS bt
       |  FROM documents WHERE doc_id % 10 = 7),
       |bshs AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(bt) >= 5 THEN
       |      list_transform(generate_series(1, len(bt) - 4),
       |        i -> array_to_string(bt[i:i+4], ' '))
       |    ELSE [array_to_string(bt, ' ')] END)) AS shingle
       |  FROM btoks),
       |benchh AS (SELECT DISTINCT $shingleHash60Sql AS h FROM bshs),
       |gshs AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(toks) >= 5 THEN
       |      list_transform(generate_series(1, len(toks) - 4),
       |        i -> array_to_string(toks[i:i+4], ' '))
       |    ELSE [array_to_string(toks, ' ')] END)) AS shingle
       |  FROM gated),
       |gh AS (SELECT doc_id, $shingleHash60Sql AS h FROM gshs),
       |clean AS (
       |  SELECT doc_id, lang, toks FROM gated
       |  WHERE doc_id NOT IN (
       |    SELECT doc_id FROM gh WHERE h IN (SELECT h FROM benchh))),
       |sp0 AS (
       |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 8 THEN
       |      list_transform(generate_series(1, len(toks) - 7),
       |        i -> struct_pack(pos := i, slen := CAST(8 AS BIGINT),
       |                         shingle := array_to_string(toks[i:i+7], ' ')))
       |    ELSE [struct_pack(pos := CAST(1 AS BIGINT), slen := len(toks),
       |                      shingle := array_to_string(toks, ' '))] END) AS s
       |  FROM clean),
       |sp AS (SELECT doc_id, s.pos AS pos, s.slen AS slen,
       |         s.shingle AS shingle FROM sp0),
       |sph AS (SELECT doc_id, pos, slen, $shingleHash60Sql AS h FROM sp),
       |dup AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM sph)
       |        GROUP BY h HAVING count(*) >= 2),
       |occ AS (SELECT doc_id, pos, pos + slen - 1 AS endp
       |        FROM sph WHERE h IN (SELECT h FROM dup) AND slen > 0),
       |mx AS (SELECT doc_id, pos, endp,
       |         max(endp) OVER (PARTITION BY doc_id ORDER BY pos, endp
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |           AS prev_end
       |       FROM occ),
       |isl AS (SELECT doc_id, pos, endp,
       |          sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
       |                THEN 1 ELSE 0 END)
       |            OVER (PARTITION BY doc_id ORDER BY pos, endp
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |        FROM mx),
       |reg AS (SELECT doc_id, min(pos) AS rstart, max(endp) AS rend
       |        FROM isl GROUP BY doc_id, g
       |        HAVING max(endp) - min(pos) + 1 >= 16),
       |cov AS (SELECT doc_id, unnest(generate_series(rstart, rend)) AS tidx
       |        FROM reg),
       |tok0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
       |           i -> struct_pack(tidx := i, tok := toks[i]))) AS s FROM clean),
       |tok AS (SELECT doc_id, s.tidx AS tidx, s.tok AS tok FROM tok0),
       |keptt AS (
       |  SELECT t2.doc_id, t2.tidx, t2.tok FROM tok t2
       |  LEFT JOIN cov c ON c.doc_id = t2.doc_id AND c.tidx = t2.tidx
       |  WHERE c.tidx IS NULL),
       |scrub AS (SELECT doc_id, count(*) AS n_kept,
       |            string_agg(tok, ' ' ORDER BY tidx) AS clean_text
       |          FROM keptt GROUP BY doc_id),
       |surv AS (SELECT c.doc_id, c.lang, s.clean_text
       |         FROM clean c JOIN scrub s USING (doc_id)),
       |bal AS (SELECT doc_id, lang, clean_text FROM (
       |    SELECT doc_id, lang, clean_text,
       |      row_number() OVER (PARTITION BY lang ORDER BY $poly, doc_id)
       |        AS rk
       |    FROM surv) r
       |  WHERE rk <= CASE WHEN lang = 'en' THEN 60 ELSE 40 END),
       |pt AS (SELECT doc_id, lang,
       |         CAST(len(list_filter(string_split(clean_text, ' '),
       |           x -> x <> '')) AS BIGINT) AS n_tok FROM bal
       |       WHERE lang IS NOT NULL),
       |pw AS (SELECT doc_id, lang, n_tok,
       |         CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
       |           AS BIGINT) AS start_off
       |       FROM pt),
       |shd AS (SELECT doc_id, lang, n_tok, start_off,
       |          CAST(start_off // 256 AS BIGINT) AS shard_id FROM pw),
       |kk AS (SELECT *,
       |         ${mixed("'7:' || CAST(doc_id AS VARCHAR)")} AS doc_key,
       |         ${mixed("'7:' || lang || ':' || CAST(shard_id AS VARCHAR)")}
       |           AS shard_key
       |       FROM shd)
       |SELECT lang, doc_id, n_tok, start_off, shard_id, shard_key,
       |  CAST(row_number() OVER (PARTITION BY lang, shard_id
       |    ORDER BY doc_key, doc_id) AS BIGINT) AS shuffled_pos
       |FROM kk ORDER BY doc_id""".stripMargin
  }

  /** Per-language embedding centroids in exact integer micro space:
    * every vector element is floored to micros *before* aggregation, so
    * the sum is order-free exact integer math (a float mean would depend
    * on partition-dependent summation order and could never hash-match).
    * Physical shape: join on id, narrow posexplode, one (lang, pos)
    * shuffle with partial aggregation — the standard "domain centroid"
    * corpus statistic.
    */
  def embLangCentroids(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    emb.join(docs, emb("vec_id") === docs("doc_id"))
      .select(col("lang"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("lang"), col("pos").cast(LongType).as("pos"),
        floor(col("x").cast(DoubleType) * 1000000d).cast(LongType).as("xm"))
      .groupBy(col("lang"), col("pos"))
      .agg(sum(col("xm")).as("s"), count(lit(1)).as("n"))
      .select(col("lang"), col("pos"),
        floor(col("s").cast(DoubleType) / col("n").cast(DoubleType))
          .cast(LongType).as("centroid_micro"))
      .orderBy("lang", "pos")
  }

  val embLangCentroidsSql: String =
    """WITH j AS (
      |  SELECT d.lang, e.embedding
      |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
      |x AS (
      |  SELECT lang, unnest(list_transform(embedding,
      |    (v, i) -> {'pos': CAST(i - 1 AS BIGINT),
      |               'xm': CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)}))
      |    AS u
      |  FROM j)
      |SELECT lang, u.pos AS pos,
      |  CAST(floor(CAST(sum(u.xm) AS DOUBLE) / count(*)) AS BIGINT)
      |    AS centroid_micro
      |FROM x GROUP BY lang, u.pos ORDER BY lang, pos""".stripMargin

  /** MinHash + LSH candidate pairs. The oracle regenerates the *entire*
    * pipeline in SQL — shingles, double-base polynomial hashes, all 64
    * permutations (coefficients embedded from `MinHashParams`),
    * deterministic band buckets, hot-bucket cap (`maxBucketSize=64`, the
    * quadratic-blowup valve — mirrored by the oracle's HAVING-count CTE),
    * candidate join, signature-agreement estimate — proving the LSH
    * machinery is engine-portable.
    */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    DedupOps.minHashLshPairs(table(spark, dir, "documents"), "doc_id",
      "text", maxBucketSize = 64L)
      .orderBy("id1", "id2")

  /** The full ad-hoc MinHash pipeline as CTEs ending in
    * `pairs (id1, id2, est_milli)` — shared by `dedupMinhashLshSql` and
    * `dedupSourceMatrixSql`.
    */
  private def minhashPairsOracleCtes: String = {
    val params = DedupOps.MinHashParams()
    val poly = (base: Int) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length(s)), " +
        s"i -> CAST(ascii(s[i]) AS BIGINT))), (acc, c) -> (acc * $base + c) % 1000000007)"
    val mins = (0 until params.k).map { i =>
      val (a, b) = params.coeffs(i)
      s"MIN((hr * ${a % 2147483647L} + $b) % 2305843009213693951) AS mh_$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until params.bands).map { band =>
      val bucket = (0 until params.rows).foldLeft("CAST(0 AS BIGINT)") {
        (acc, r) =>
          s"((($acc * 131) % 2147483647 + mh_${band * params.rows + r} % 2147483647) % 2147483647)"
      }
      s"SELECT doc_id, $band AS band, $bucket AS bucket FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val eqSum = (0 until params.k).map(i =>
      s"(CASE WHEN l.mh_$i = r.mh_$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(t) >= 3 THEN
       |      list_transform(generate_series(1, len(t) - 2),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |    ELSE [array_to_string(t, ' ')] END)) AS s
       |  FROM toks),
       |h AS (
       |  SELECT doc_id,
       |    ((${poly(131)} + ${poly(257)} * 1073741824) % 2147483647) AS hr
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM h GROUP BY doc_id),
       |bands0 AS (
       |  $bandSelects),
       |bcnt AS (
       |  SELECT band, bucket FROM bands0
       |  GROUP BY band, bucket HAVING count(*) <= 64),
       |bands AS (
       |  SELECT b.* FROM bands0 b JOIN bcnt USING (band, bucket)),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
       |pairs AS (
       |  SELECT c.id1, c.id2,
       |    CAST((($eqSum) * 1000) // ${params.k} AS BIGINT) AS est_milli
       |  FROM cand c
       |  JOIN sig l ON l.doc_id = c.id1
       |  JOIN sig r ON r.doc_id = c.id2)""".stripMargin
  }

  val dedupMinhashLshSql: String =
    s"""$minhashPairsOracleCtes
       |SELECT id1, id2, est_milli FROM pairs
       |ORDER BY id1, id2""".stripMargin

  /** The cross-source duplication matrix: MinHash near-dup pairs rolled
    * up to (source, source) cells — which sources copy from each other,
    * the provenance question a data card raises and `source_overlap`
    * (span-level) answers for substrings; this row answers it at
    * document level. Undirected cells via least/greatest; `n_pairs`
    * counts pairs, `max_est` the closest pair's agreement. Non-vacuous
    * at both shipped scale factors (the fixture's near-dup pairs exist
    * at sf0.01 even though its EXACT dups do not).
    */
  def dedupSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val src = docs.select(col("doc_id"), col("source"))
    DedupOps.minHashLshPairs(docs, "doc_id", "text", maxBucketSize = 64L)
      .join(src.select(col("doc_id").as("id1"), col("source").as("s1")),
        "id1")
      .join(src.select(col("doc_id").as("id2"), col("source").as("s2")),
        "id2")
      .select(least(col("s1"), col("s2")).as("src_a"),
        greatest(col("s1"), col("s2")).as("src_b"), col("est_milli"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"), max(col("est_milli")).as("max_est"))
      .orderBy("src_a", "src_b")
  }

  val dedupSourceMatrixSql: String =
    s"""$minhashPairsOracleCtes,
       |j AS (
       |  SELECT least(da.source, db.source) AS src_a,
       |    greatest(da.source, db.source) AS src_b, p.est_milli
       |  FROM pairs p
       |  JOIN documents da ON da.doc_id = p.id1
       |  JOIN documents db ON db.doc_id = p.id2)
       |SELECT src_a, src_b, count(*) AS n_pairs,
       |  CAST(max(est_milli) AS BIGINT) AS max_est
       |FROM j GROUP BY src_a, src_b
       |ORDER BY src_a, src_b""".stripMargin

  /** Oracle for `dedup_lsh_calibration`: the minhash pair CTEs and the
    * capped-Jaccard CTEs composed in one statement. The two blocks share
    * an IDENTICAL `toks` (kept once from the minhash side) but both
    * define a CTE named `sh` with different content, so the Jaccard
    * block's is renamed `jsh` by targeted string surgery on the shared
    * `jaccardCtes` body — a broken rename yields invalid SQL and a loud
    * red row, never a silent drift.
    */
  val dedupLshCalibrationSql: String = {
    val jac = jaccardCtes.substring(jaccardCtes.indexOf("shs AS ("))
      .replace("sh AS (", "jsh AS (")
      .replace("FROM sh a JOIN sh b", "FROM jsh a JOIN jsh b")
      .replace("FROM sh GROUP BY doc_id", "FROM jsh GROUP BY doc_id")
    s"""$minhashPairsOracleCtes,
       |$jac,
       |m AS (
       |  SELECT e.id1 AS e1, l.id1 AS l1
       |  FROM (SELECT id1, id2 FROM jpairs) e
       |  FULL OUTER JOIN
       |    (SELECT id1, id2 FROM pairs WHERE est_milli >= 500) l
       |    ON e.id1 = l.id1 AND e.id2 = l.id2),
       |agg AS (
       |  SELECT CAST(count(e1) AS BIGINT) AS n_exact,
       |    CAST(count(l1) AS BIGINT) AS n_lsh,
       |    CAST(count(CASE WHEN e1 IS NOT NULL AND l1 IS NOT NULL
       |      THEN 1 END) AS BIGINT) AS n_hit
       |  FROM m)
       |SELECT n_exact, n_lsh, n_hit,
       |  CAST(COALESCE(n_hit * 1000 // NULLIF(n_exact, 0), 0) AS BIGINT)
       |    AS recall_milli,
       |  CAST(COALESCE(n_hit * 1000 // NULLIF(n_lsh, 0), 0) AS BIGINT)
       |    AS precision_milli
       |FROM agg""".stripMargin
  }

  /** Incremental dedup against the COMMITTED persisted MinHash band
    * index (`Codebooks.dedupIndexPathFor(dir)`, built once per scale
    * factor by `BuildDedupIndex` from that sf's corpus, doc_id % 10
    * != 0, cap 64 — the `knn_ivfpq_index_top5` build-once/match-many
    * pattern): the batch (doc_id % 10 == 0) is matched by shingling
    * ONLY the batch and joining its band keys against the index — no
    * `writeIndex` in this plan, so the bench row prices the
    * steady-state daily match, which is the operator's actual selling
    * point. The index is the SAME-CORPUS one at every replay scale
    * (a single sf0.01 index made the sf0.1 row near-vacuous — 1
    * candidate pair). The oracle computes the batch's
    * signatures/bands in SQL and `read_parquet`s the per-sf index
    * root, dispatching on corpus size to the same `sf=` partition —
    * certifying the committed bytes, not just the match math.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val batch = table(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
    IncrementalDedup.matchBatch(batch, "doc_id", "text",
      Codebooks.dedupIndexPathFor(dir))
      .orderBy("new_id", "dup_of")
  }

  /** The batch half of the incremental-dedup oracle: CTEs `toks → sh →
    * h → sig → nbands` computing the batch docs' (doc_id, mh_0..mh_63)
    * signatures and band keys, plus `idxb`/`idxs` reading the committed
    * index. Shared by `dedupIncrementalSql` and `pipelineIngestDaySql`.
    */
  private def incrementalOracleCtes: String = {
    val params = DedupOps.MinHashParams()
    val poly = (base: Int) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length(s)), " +
        s"i -> CAST(ascii(s[i]) AS BIGINT))), (acc, c) -> (acc * $base + c) % 1000000007)"
    val mins = (0 until params.k).map { i =>
      val (a, b) = params.coeffs(i)
      s"MIN((hr * ${a % 2147483647L} + $b) % 2305843009213693951) AS mh_$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until params.bands).map { band =>
      val bucket = (0 until params.rows).foldLeft("CAST(0 AS BIGINT)") {
        (acc, r) =>
          s"((($acc * 131) % 2147483647 + mh_${band * params.rows + r} % 2147483647) % 2147483647)"
      }
      s"SELECT doc_id, $band AS band, $bucket AS bucket FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
       |  FROM documents WHERE doc_id % 10 = 0),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(t) >= 3 THEN
       |      list_transform(generate_series(1, len(t) - 2),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |    ELSE [array_to_string(t, ' ')] END)) AS s
       |  FROM toks),
       |h AS (
       |  SELECT doc_id,
       |    ((${poly(131)} + ${poly(257)} * 1073741824) % 2147483647) AS hr
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM h GROUP BY doc_id),
       |nbands AS (
       |  $bandSelects),
       |sftag AS (
       |  SELECT CASE WHEN count(*) >= 3000 THEN 'sf0.1' ELSE 'sf0.01' END
       |    AS tag FROM documents),
       |idxb AS (
       |  SELECT id AS dup_of, bucket, CAST(band AS BIGINT) AS band
       |  FROM read_parquet(
       |    '${Codebooks.dedupIndexRoot}/*/bands/*/*.parquet',
       |    hive_partitioning=1)
       |  WHERE sf = (SELECT tag FROM sftag)),
       |idxs AS (
       |  SELECT id AS dup_of, mhs32
       |  FROM read_parquet('${Codebooks.dedupIndexRoot}/*/sigs/*.parquet',
       |    hive_partitioning=1)
       |  WHERE sf = (SELECT tag FROM sftag)),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS new_id, b.dup_of
       |  FROM nbands n JOIN idxb b
       |    ON n.band = b.band AND n.bucket = b.bucket)""".stripMargin
  }

  /** The per-pair estimate: batch side masked to its 32-bit residue,
    * index side the stored signed int re-read as unsigned — the exact
    * `matchBatch` residue semantics (see `IncrementalDedup`'s doc).
    */
  private def incrementalEqSum: String =
    (0 until DedupOps.MinHashParams().k).map(i =>
      s"(CASE WHEN (l.mh_$i & 4294967295) = " +
        s"(CAST(r.mhs32[${i + 1}] AS BIGINT) & 4294967295) " +
        "THEN 1 ELSE 0 END)").mkString(" + ")

  val dedupIncrementalSql: String = {
    val k = DedupOps.MinHashParams().k
    s"""$incrementalOracleCtes
       |SELECT cd.new_id, cd.dup_of,
       |  CAST((($incrementalEqSum) * 1000) // $k AS BIGINT) AS est_milli
       |FROM cand cd
       |JOIN sig l ON l.doc_id = cd.new_id
       |JOIN idxs r ON r.dup_of = cd.dup_of
       |ORDER BY cd.new_id, cd.dup_of""".stripMargin
  }

  /** The drop gauge over the committed index
    * (`IncrementalDedup.bucketSaturation`): per-band bucket population
    * vs the build cap 64 — `over_cap > 0` anywhere says appends have
    * saturated buckets past what a fresh build would keep and
    * `compactIndex` is due. On the committed (freshly-built) index
    * over_cap is 0 by construction, which is exactly what the oracle
    * certifies. One groupBy over the 12-byte band rows; `dir` selects
    * the scale factor's index (the gauge reads no corpus data).
    */
  def dedupIndexGauge(spark: SparkSession, dir: String): DataFrame =
    IncrementalDedup.bucketSaturation(spark,
      Codebooks.dedupIndexPathFor(dir), 64L)

  val dedupIndexGaugeSql: String =
    s"""WITH b AS (
       |  SELECT id, bucket, CAST(band AS BIGINT) AS band
       |  FROM read_parquet(
       |    '${Codebooks.dedupIndexRoot}/*/bands/*/*.parquet',
       |    hive_partitioning=1)
       |  WHERE sf = (SELECT CASE WHEN count(*) >= 3000 THEN 'sf0.1'
       |    ELSE 'sf0.01' END FROM documents)),
       |sz AS (
       |  SELECT band, bucket, count(*) AS sz FROM b GROUP BY band, bucket)
       |SELECT band,
       |  count(*) AS n_buckets,
       |  CAST(max(sz) AS BIGINT) AS max_bucket,
       |  CAST(sum(sz) AS BIGINT) AS n_rows,
       |  CAST(sum(CASE WHEN sz > 64 THEN 1 ELSE 0 END) AS BIGINT) AS over_cap
       |FROM sz GROUP BY band ORDER BY band""".stripMargin

  /** The daily-ingest pipeline, composed steady-state: match the
    * incoming batch against the COMMITTED per-sf corpus index
    * (`Codebooks.dedupIndexPathFor` — no `writeIndex` in this plan, so the
    * bench row prices the daily path), drop batch docs whose best
    * signature agreement ≥ 950‰ (near-dups of the corpus), chunk the
    * survivors into 32-token overlapping windows, and pack the chunks
    * into 128-token training shards with the global prefix-sum — batch
    * in, (shard, offset) out, the whole path oracle-replayed in one
    * statement.
    *
    * `chunk_key = doc_id * 1e6 + chunk_id` is collision-free while no
    * doc has ≥ 1,000,000 chunks (= ~24 M tokens at stride 24 — far past
    * any real document; a collision would only make pack order among
    * the colliding rows nondeterministic). The same caveat and encoding
    * appear at `pipelineChunkPack`.
    */
  def pipelineIngestDay(spark: SparkSession, dir: String): DataFrame = {
    val batch = table(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
    val dupIds = IncrementalDedup.matchBatch(batch, "doc_id", "text",
        Codebooks.dedupIndexPathFor(dir))
      .filter(col("est_milli") >= 950L)
      .select(col("new_id").as("doc_id")).distinct()
    val kept = batch.join(dupIds, Seq("doc_id"), "left_anti")
    val chunks = graft.ops.Chunking.chunkByTokens(kept, "doc_id", "text",
        chunkTokens = 32, overlapTokens = 8)
      .withColumn("chunk_key", col("doc_id") * 1000000L + col("chunk_id"))
    graft.ops.Packing.packGlobalByBudget(chunks, "chunk_key", "chunk_text",
      budgetTokens = 128L)
      .orderBy("chunk_key")
  }

  /** The COMPLETE daily-ingest gate: `pipeline_ingest_day` drops only
    * near-dups of the CORPUS, but a real ingest day also contains
    * internal duplicates (the same document arriving twice in one
    * batch), which the corpus index cannot see. This row adds the
    * within-batch arm: the ad-hoc LSH self-join over the batch alone
    * (its own write-cap semantics, full-width signature agreement),
    * dropping any doc with a SMALLER-id near-dup in the same batch —
    * the deterministic keep-first rule (greedy, not transitive-closure:
    * if a~b and b~c but not a~c, both b and c drop — b to a, c to b —
    * the standard streaming-ingest convention; `dedup_cluster_keep` is
    * the transitive form when exact clusters matter). Survivors of
    * BOTH arms chunk and pack exactly as `pipeline_ingest_day`.
    * Non-vacuity: at sf0.01 the fixture batch happens to contain no
    * internal near-dups (this row == `pipeline_ingest_day` there); at
    * sf0.1 the inner arm drops real docs (1,331 chunks vs 1,343) and
    * the replay stays hash-exact — both scales exercised.
    */
  def pipelineIngestDayFull(spark: SparkSession, dir: String): DataFrame = {
    val batch = table(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
    val corpusDups = IncrementalDedup.matchBatch(batch, "doc_id", "text",
        Codebooks.dedupIndexPathFor(dir))
      .filter(col("est_milli") >= 950L)
      .select(col("new_id").as("doc_id"))
    val innerDups = DedupOps.minHashLshPairs(batch, "doc_id", "text",
        maxBucketSize = 64L)
      .filter(col("est_milli") >= 950L)
      .select(col("id2").as("doc_id"))
    val dupIds = corpusDups.union(innerDups).distinct()
    val kept = batch.join(dupIds, Seq("doc_id"), "left_anti")
    val chunks = graft.ops.Chunking.chunkByTokens(kept, "doc_id", "text",
        chunkTokens = 32, overlapTokens = 8)
      .withColumn("chunk_key", col("doc_id") * 1000000L + col("chunk_id"))
    graft.ops.Packing.packGlobalByBudget(chunks, "chunk_key", "chunk_text",
      budgetTokens = 128L)
      .orderBy("chunk_key")
  }

  val pipelineIngestDayFullSql: String = {
    val k = DedupOps.MinHashParams().k
    // within-batch arm: full-width component agreement (the ad-hoc LSH
    // semantics), batch-local bucket cap
    val eqFull = (0 until k).map(i =>
      s"(CASE WHEN l.mh_$i = r.mh_$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""$incrementalOracleCtes,
       |dup AS (
       |  SELECT DISTINCT cd.new_id AS doc_id
       |  FROM cand cd
       |  JOIN sig l ON l.doc_id = cd.new_id
       |  JOIN idxs r ON r.dup_of = cd.dup_of
       |  WHERE CAST((($incrementalEqSum) * 1000) // $k AS BIGINT) >= 950),
       |ibcnt AS (
       |  SELECT band, bucket FROM nbands
       |  GROUP BY band, bucket HAVING count(*) <= 64),
       |inb AS (
       |  SELECT n.* FROM nbands n JOIN ibcnt USING (band, bucket)),
       |icand AS (
       |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
       |  FROM inb l JOIN inb r
       |    ON l.band = r.band AND l.bucket = r.bucket
       |   AND l.doc_id < r.doc_id),
       |idup AS (
       |  SELECT DISTINCT c.id2 AS doc_id
       |  FROM icand c
       |  JOIN sig l ON l.doc_id = c.id1
       |  JOIN sig r ON r.doc_id = c.id2
       |  WHERE CAST((($eqFull) * 1000) // $k AS BIGINT) >= 950),
       |dropset AS (
       |  SELECT doc_id FROM dup UNION SELECT doc_id FROM idup),
       |keptt AS (
       |  SELECT d.doc_id,
       |    list_filter(string_split(d.text, ' '), x -> x <> '') AS toks
       |  FROM documents d
       |  WHERE d.doc_id % 10 = 0
       |    AND d.doc_id NOT IN (SELECT doc_id FROM dropset)),
       |kn AS (
       |  SELECT doc_id, toks, len(toks) AS n FROM keptt WHERE len(toks) > 0),
       |st AS (
       |  SELECT doc_id, toks,
       |    unnest(generate_series(0, n - 1, 24)) AS tok_off
       |  FROM kn),
       |chunks AS (
       |  SELECT doc_id * 1000000 + (tok_off // 24) AS chunk_key,
       |    CAST(len(toks[tok_off + 1 : tok_off + 32]) AS BIGINT) AS n_tok
       |  FROM st),
       |w AS (
       |  SELECT chunk_key, n_tok,
       |    CAST(sum(n_tok) OVER (ORDER BY chunk_key
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
       |      AS BIGINT) AS start_off
       |  FROM chunks)
       |SELECT chunk_key, n_tok, start_off, start_off // 128 AS shard_id
       |FROM w ORDER BY chunk_key""".stripMargin
  }

  val pipelineIngestDaySql: String = {
    val k = DedupOps.MinHashParams().k
    s"""$incrementalOracleCtes,
       |dup AS (
       |  SELECT DISTINCT cd.new_id AS doc_id
       |  FROM cand cd
       |  JOIN sig l ON l.doc_id = cd.new_id
       |  JOIN idxs r ON r.dup_of = cd.dup_of
       |  WHERE CAST((($incrementalEqSum) * 1000) // $k AS BIGINT) >= 950),
       |keptt AS (
       |  SELECT d.doc_id,
       |    list_filter(string_split(d.text, ' '), x -> x <> '') AS toks
       |  FROM documents d
       |  WHERE d.doc_id % 10 = 0
       |    AND d.doc_id NOT IN (SELECT doc_id FROM dup)),
       |kn AS (
       |  SELECT doc_id, toks, len(toks) AS n FROM keptt WHERE len(toks) > 0),
       |st AS (
       |  SELECT doc_id, toks,
       |    unnest(generate_series(0, n - 1, 24)) AS tok_off
       |  FROM kn),
       |chunks AS (
       |  SELECT doc_id * 1000000 + (tok_off // 24) AS chunk_key,
       |    CAST(len(toks[tok_off + 1 : tok_off + 32]) AS BIGINT) AS n_tok
       |  FROM st),
       |w AS (
       |  SELECT chunk_key, n_tok,
       |    CAST(sum(n_tok) OVER (ORDER BY chunk_key
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
       |      AS BIGINT) AS start_off
       |  FROM chunks)
       |SELECT chunk_key, n_tok, start_off, start_off // 128 AS shard_id
       |FROM w ORDER BY chunk_key""".stripMargin
  }

  /** SimHash near-dup pairs at the classic radius 3 (total recall via
    * 4×16-bit bands; wider radii force narrower buckets and a much larger
    * candidate join). Oracle rebuilds the pipeline: per-token dual
    * polynomial hashes, 64 signed bit sums, sign-bit assembly, band join,
    * hamming via bit_count(xor).
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    DedupOps.simHashPairs(table(spark, dir, "documents"), "doc_id", "text",
      maxHamming = 3, maxBucketSize = 64L)
      .orderBy("id1", "id2")

  val dedupSimhashSql: String = {
    val poly = (base: Int) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length(tok)), " +
        s"i -> CAST(ascii(tok[i]) AS BIGINT))), (acc, c) -> (acc * $base + c) % 1000000007)"
    val bitSums = (0 until 64).map(b =>
      s"SUM(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS bit_$b")
      .mkString(",\n    ")
    val hash = (0 until 64).map(b =>
      s"(CASE WHEN bit_$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 16}) & 65535 AS bucket FROM sh"
    ).mkString("\n  UNION ALL\n  ")
    // the hot-bucket cap (maxBucketSize=64) mirrors DedupOps.capBuckets
    val capped = """bcnt AS (
       |  SELECT band, bucket FROM bands0
       |  GROUP BY band, bucket HAVING count(*) <= 64),
       |bands AS (
       |  SELECT b.* FROM bands0 b JOIN bcnt USING (band, bucket))"""
      .stripMargin
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
       |  FROM documents),
       |th AS (
       |  SELECT doc_id,
       |    (${poly(131)} + ${poly(257)} * 1073741824) AS th
       |  FROM tok),
       |sums AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM th GROUP BY doc_id),
       |sh AS (
       |  SELECT doc_id, CAST($hash AS BIGINT) AS simhash FROM sums),
       |bands0 AS (
       |  $bands),
       |$capped,
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
       |    l.simhash AS h1, r.simhash AS h2
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.bucket = r.bucket
       |   AND l.doc_id < r.doc_id)
       |SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(h1, h2)) <= 3
       |ORDER BY id1, id2""".stripMargin
  }

  /** Brute-force cosine top-10 per embedding (micro-scaled similarity). */
  def knnCosineTop10(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    Similarity.knnBruteForce(emb, emb, "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rnk")
  }

  val knnCosineTop10Sql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings),
      |pairs AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(floor(1000000 * list_inner_product(q.e, c.e) /
      |      (sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(c.e, c.e)))) AS BIGINT)
      |      AS sim_micro
      |  FROM v q JOIN v c ON q.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, sim_micro,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim_micro DESC, neighbor_id) AS rnk
      |  FROM pairs)
      |SELECT query_id, neighbor_id, sim_micro, rnk FROM ranked
      |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  /** IVF approximate top-5 on the TRAINED coarse quantizer (committed
    * k-means artifact `data/codebooks/coarse16.parquet`, trained by
    * `graft.tools.TrainCodebooks` — deterministic fixed-seed spherical
    * Lloyd's), nprobe=8 of 16 cells per query, exact re-rank. The oracle
    * `read_parquet`s the same artifact and reproduces cell assignment,
    * probe lists, and ranking with identical floored-micro cosine and
    * tie-breaks — training happens once offline, never in the oracle.
    * Recall@5 vs exact cosine: 0.82 (DriveRecall; untrained first-ids
    * was 0.48).
    */
  def knnIvfTop5(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val coarse = Codebooks.loadCoarse(spark, Codebooks.coarsePath)
    Similarity.ivfTopK(emb, emb, "vec_id", "embedding", k = 5, nlist = 16,
      nprobe = 8, centroids = Some(coarse))
      .orderBy("query_id", "rnk")
  }

  val knnIvfTop5Sql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings),
      |cent AS (SELECT cw AS cid, w AS ce
      |  FROM read_parquet('${Codebooks.coarsePath}/*.parquet')),
      |sims AS (
      |  SELECT v.vec_id, v.e, c.cid,
      |    CAST(floor(1000000 * list_inner_product(v.e, c.ce) /
      |      (sqrt(list_inner_product(v.e, v.e)) * sqrt(list_inner_product(c.ce, c.ce))))
      |      AS BIGINT) AS sim
      |  FROM v CROSS JOIN cent c),
      |ranked_cells AS (
      |  SELECT vec_id, e, cid, row_number() OVER (
      |    PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
      |  FROM sims),
      |assign AS (
      |  SELECT vec_id, e, cid AS cell FROM ranked_cells WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS qid, e AS qe, cid AS cell FROM ranked_cells
      |  WHERE rn <= 8),
      |cand AS (
      |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
      |    CAST(floor(1000000 * list_inner_product(p.qe, a.e) /
      |      (sqrt(list_inner_product(p.qe, p.qe)) * sqrt(list_inner_product(a.e, a.e))))
      |      AS BIGINT) AS sim_micro
      |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.qid),
      |ranked AS (
      |  SELECT query_id, neighbor_id, sim_micro,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim_micro DESC, neighbor_id) AS rnk
      |  FROM cand)
      |SELECT query_id, neighbor_id, sim_micro, rnk FROM ranked
      |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** Random-hyperplane LSH near-neighbors with exact re-rank. The oracle
    * rebuilds the whole pipeline in SQL: the ±1 plane matrix is embedded as
    * literals, signatures come from sign-of-inner-product bit sums, then
    * band join + exact cosine re-rank (double math bit-identical to Spark).
    */
  def embNearDupLsh(spark: SparkSession, dir: String): DataFrame =
    // 8-bit bands + τ=0.4: this corpus has no true near-dups (max pairwise
    // cosine ≈ 0.51), so the demo threshold is set where candidates exist.
    // maxBucketSize=64 is the hot-bucket valve, mirrored by the oracle.
    Similarity.lshNearNeighbors(table(spark, dir, "embeddings"), "vec_id",
      "embedding", dim = 64, simMicro = 400000L, bandBits = 8,
      maxBucketSize = 64L)
      .orderBy("id1", "id2")

  val embNearDupLshSql: String = {
    val planes = Similarity.planeMatrix(42L, 64, 64)
    // carry the bit VALUE (1L << i) as a literal — DuckDB's checked shift
    // rejects 1 << 63, but the two's-complement literal sums identically
    val planeRows = planes.zipWithIndex.map { case (p, i) =>
      s"(CAST(${1L << i} AS BIGINT), [${p.map(_.toString + ".0").mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n    ")
    val bands = (0 until 8).map(b =>
      s"SELECT vec_id, e, $b AS band, (sig >> ${b * 8}) & 255 AS bucket FROM sig"
    ).mkString("\n  UNION ALL\n  ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |planes(bit, p) AS (VALUES
       |    $planeRows),
       |sig AS (
       |  SELECT v.vec_id, v.e,
       |    CAST(SUM(CASE WHEN list_inner_product(v.e, pl.p) > 0
       |      THEN pl.bit ELSE 0 END) AS BIGINT) AS sig
       |  FROM v CROSS JOIN planes pl
       |  GROUP BY v.vec_id, v.e),
       |bands0 AS (
       |  $bands),
       |bcnt AS (
       |  SELECT band, bucket FROM bands0
       |  GROUP BY band, bucket HAVING count(*) <= 64),
       |bands AS (
       |  SELECT b.* FROM bands0 b JOIN bcnt USING (band, bucket)),
       |cand AS (
       |  SELECT DISTINCT l.vec_id AS id1, r.vec_id AS id2,
       |    l.e AS e1, r.e AS e2
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.bucket = r.bucket
       |   AND l.vec_id < r.vec_id)
       |SELECT id1, id2,
       |  CAST(floor(1000000 * list_inner_product(e1, e2) /
       |    (sqrt(list_inner_product(e1, e1)) * sqrt(list_inner_product(e2, e2))))
       |    AS BIGINT) AS sim_micro
       |FROM cand
       |WHERE CAST(floor(1000000 * list_inner_product(e1, e2) /
       |    (sqrt(list_inner_product(e1, e1)) * sqrt(list_inner_product(e2, e2))))
       |    AS BIGINT) >= 400000
       |ORDER BY id1, id2""".stripMargin
  }

  /** SemDeDup-style semantic dedup on TRAINED k-means cells (the paper
    * clusters before the within-cell pass; same committed coarse16
    * artifact as `knn_ivf_top5`), bounding the quadratic similarity
    * term; within a cell a vector is dropped when any smaller-id
    * cell-mate has cosine ≥ 0.35. The oracle reads the same centroid
    * parquet and rebuilds cell assignment and the keep rule with a
    * correlated EXISTS.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(table(spark, dir, "embeddings"), "vec_id",
      "embedding", nlist = 16, simMicro = 350000L,
      centroids = Some(Codebooks.loadCoarse(spark, Codebooks.coarsePath)))
      .orderBy("vec_id")

  val semanticDedupSql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
      |cent AS (SELECT cw AS cid, w AS ce
      |  FROM read_parquet('${Codebooks.coarsePath}/*.parquet')),
      |sims AS (
      |  SELECT v.vec_id, v.e, c.cid,
      |    CAST(floor(1000000 * list_inner_product(v.e, c.ce) /
      |      (sqrt(list_inner_product(v.e, v.e)) * sqrt(list_inner_product(c.ce, c.ce))))
      |      AS BIGINT) AS sim
      |  FROM v CROSS JOIN cent c),
      |ranked_cells AS (
      |  SELECT vec_id, e, cid, row_number() OVER (
      |    PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
      |  FROM sims),
      |assign AS (
      |  SELECT vec_id, e, cid AS cell FROM ranked_cells WHERE rn = 1)
      |SELECT a.vec_id, a.cell,
      |  CAST(CASE WHEN EXISTS (
      |    SELECT 1 FROM assign b
      |    WHERE b.cell = a.cell AND b.vec_id < a.vec_id
      |      AND CAST(floor(1000000 * list_inner_product(a.e, b.e) /
      |        (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))))
      |        AS BIGINT) >= 350000)
      |  THEN 0 ELSE 1 END AS BIGINT) AS keep
      |FROM assign a ORDER BY a.vec_id""".stripMargin

  /** REAL image decode: the committed PNG fixtures
    * (`data/images/images.parquet`, 500 synthetic 64×48 images written
    * by `graft.tools.GenImageFixtures`) are decoded via the JDK's
    * `javax.imageio` in a batched per-partition pass — exact pixel
    * statistics (integer-micro channel means) plus the 64-bit dHash.
    * The oracle joins the committed expected-feature parquet, which the
    * generation tool computed from the raw pixel arrays BEFORE PNG
    * encoding — so a hash match certifies the whole encode→decode→
    * feature chain, with DuckDB (which has no image codec) checking the
    * committed pre-encode truth.
    */
  def mmFeatures(spark: SparkSession, dir: String): DataFrame =
    MultiModal.imageFeatures(graft.ops.ParquetSchema.read(spark, MultiModal.imagesPath))
      .orderBy("asset_id")

  val mmFeaturesSql: String =
    s"""SELECT asset_id, width, height, mean_r_micro, mean_g_micro,
       |  mean_b_micro, dhash
       |FROM read_parquet('${MultiModal.expectedFeaturesPath}/*.parquet')
       |ORDER BY asset_id""".stripMargin

  /** Image near-duplicate pairs over the real decoded dHashes: the
    * shared pigeonhole Hamming band join (`DedupOps.hammingPairs`, 8
    * bands of 8 bits for maxHamming=6). Finds the fixture set's exact
    * duplicates and brightness twins at distance 0 and its patch-edited
    * twins at small distances. The oracle mirrors the banding over the
    * committed pre-encode dHashes — band extraction, bucket join,
    * distinct, threshold — in SQL.
    */
  def mmImageDedup(spark: SparkSession, dir: String): DataFrame =
    MultiModal.imageNearDupPairs(
        graft.ops.ParquetSchema.read(spark, MultiModal.imagesPath), maxHamming = 6)
      .orderBy("id1", "id2")

  val mmImageDedupSql: String =
    s"""WITH f AS (
       |  SELECT asset_id, dhash
       |  FROM read_parquet('${MultiModal.expectedFeaturesPath}/*.parquet')),
       |b AS (
       |  SELECT asset_id, dhash, band, (dhash >> (band * 8)) & 255 AS bucket
       |  FROM f, (SELECT unnest(generate_series(0, 7)) AS band) bands),
       |p AS (
       |  SELECT DISTINCT x.asset_id AS id1, y.asset_id AS id2,
       |    CAST(bit_count(xor(x.dhash, y.dhash)) AS BIGINT) AS hamming
       |  FROM b x JOIN b y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |      AND x.asset_id < y.asset_id)
       |SELECT id1, id2, hamming FROM p WHERE hamming <= 6
       |ORDER BY id1, id2""".stripMargin

  /** REAL audio decode: the committed PCM WAV fixtures
    * (`data/audio/audio.parquet`, 500 synthetic 8 kHz clips written by
    * `graft.tools.GenAudioFixtures`) are decoded via the JDK's
    * `javax.sound.sampled` in a batched per-partition pass — exact
    * sample statistics (integer-micro per-channel mean and RMS, frame
    * count) plus the 64-bit windowed-energy sign hash (`ehash`). The
    * oracle reads the committed expected-feature parquet, computed from
    * the raw sample arrays BEFORE WAV encoding — a hash match certifies
    * the whole encode→decode→feature chain, with DuckDB (which has no
    * audio codec) checking the committed pre-encode truth.
    */
  def mmAudioFeatures(spark: SparkSession, dir: String): DataFrame =
    MultiModal.audioFeatures(graft.ops.ParquetSchema.read(spark, MultiModal.audioPath))
      .orderBy("asset_id")

  val mmAudioFeaturesSql: String =
    s"""SELECT asset_id, channels, sample_rate, n_frames, mean_c0_micro,
       |  mean_c1_micro, rms_c0_micro, rms_c1_micro, ehash
       |FROM read_parquet('${MultiModal.expectedAudioFeaturesPath}/*.parquet')
       |ORDER BY asset_id""".stripMargin

  /** Audio near-duplicate pairs over the real decoded ehashes: the same
    * pigeonhole Hamming band join as the image/text paths. Finds the
    * fixture set's exact duplicates and half-gain twins at distance 0
    * and its window-patched twins at small distances; the oracle mirrors
    * the banding over the committed pre-encode ehashes in SQL.
    */
  def mmAudioDedup(spark: SparkSession, dir: String): DataFrame =
    MultiModal.audioNearDupPairs(
        graft.ops.ParquetSchema.read(spark, MultiModal.audioPath), maxHamming = 6)
      .orderBy("id1", "id2")

  val mmAudioDedupSql: String =
    s"""WITH f AS (
       |  SELECT asset_id, ehash
       |  FROM read_parquet('${MultiModal.expectedAudioFeaturesPath}/*.parquet')),
       |b AS (
       |  SELECT asset_id, ehash, band, (ehash >> (band * 8)) & 255 AS bucket
       |  FROM f, (SELECT unnest(generate_series(0, 7)) AS band) bands),
       |p AS (
       |  SELECT DISTINCT x.asset_id AS id1, y.asset_id AS id2,
       |    CAST(bit_count(xor(x.ehash, y.ehash)) AS BIGINT) AS hamming
       |  FROM b x JOIN b y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |      AND x.asset_id < y.asset_id)
       |SELECT id1, id2, hamming FROM p WHERE hamming <= 6
       |ORDER BY id1, id2""".stripMargin

  /** Audio near-dup pairs folded into the per-clip KEEP decision — the
    * audio mirror of `mm_image_dedup_keep`: pairs → connected components
    * (large-star/small-star) → min-id cluster label per clip; the oracle
    * replays the banding and a recursive-CTE reachability closure over
    * the committed pre-encode ehashes.
    */
  def mmAudioDedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val assets = graft.ops.ParquetSchema.read(spark, MultiModal.audioPath)
    val pairs = MultiModal.audioNearDupPairs(assets, maxHamming = 6)
      .select(col("id1"), col("id2"))
    DedupOps.nearDupKeepMap(assets.select(col("asset_id")), "asset_id",
        pairs)
      .select(col("doc_id").as("asset_id"), col("cluster_id"))
      .orderBy("asset_id")
  }

  val mmAudioDedupKeepSql: String =
    s"""WITH RECURSIVE f AS (
       |  SELECT asset_id, ehash
       |  FROM read_parquet('${MultiModal.expectedAudioFeaturesPath}/*.parquet')),
       |b AS (
       |  SELECT asset_id, ehash, band, (ehash >> (band * 8)) & 255 AS bucket
       |  FROM f, (SELECT unnest(generate_series(0, 7)) AS band) bands),
       |p AS (
       |  SELECT DISTINCT x.asset_id AS id1, y.asset_id AS id2
       |  FROM b x JOIN b y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |      AND x.asset_id < y.asset_id
       |  WHERE bit_count(xor(x.ehash, y.ehash)) <= 6),
       |und AS (
       |  SELECT id1 AS a, id2 AS b FROM p
       |  UNION ALL SELECT id2, id1 FROM p),
       |reach AS (
       |  SELECT a AS node, b AS r FROM und
       |  UNION
       |  SELECT re.node, u.b FROM reach re JOIN und u ON u.a = re.r),
       |mins AS (SELECT node, min(r) AS minr FROM reach GROUP BY node)
       |SELECT f.asset_id,
       |  COALESCE(LEAST(f.asset_id, m.minr), f.asset_id) AS cluster_id
       |FROM f LEFT JOIN mins m ON m.node = f.asset_id
       |ORDER BY f.asset_id""".stripMargin

  /** REAL video decode: the committed AVI fixtures
    * (`data/video/video.parquet`, 500 synthetic 12×9 uncompressed-DIB
    * clips written by `graft.tools.GenVideoFixtures`) are demuxed (RIFF
    * container walk) and decoded in a batched per-partition pass —
    * exact frame statistics (integer-micro channel means over all
    * frames, frame count, fps micros) plus the 64-bit temporal
    * luminance sign hash (`thash`). The oracle reads the committed
    * expected-feature parquet, computed from the raw ARGB frames BEFORE
    * AVI encoding — a hash match certifies the whole encode→demux→
    * decode→feature chain, with DuckDB (which has no video codec)
    * checking the committed pre-encode truth.
    */
  def mmVideoFeatures(spark: SparkSession, dir: String): DataFrame =
    MultiModal.videoFeatures(graft.ops.ParquetSchema.read(spark, MultiModal.videoPath))
      .orderBy("asset_id")

  val mmVideoFeaturesSql: String =
    s"""SELECT asset_id, width, height, n_frames, fps_micro, mean_r_micro,
       |  mean_g_micro, mean_b_micro, thash
       |FROM read_parquet('${MultiModal.expectedVideoFeaturesPath}/*.parquet')
       |ORDER BY asset_id""".stripMargin

  /** Real video-to-frames explosion: one row per demuxed+decoded frame
    * with the frame's image features (channel means + dHash via the
    * shared `featuresFromArgb`) — the container-aware replacement for
    * the byte-window `mm_frame_sample` shape. The oracle reads the
    * committed per-frame pre-encode expectations.
    */
  def mmVideoFrames(spark: SparkSession, dir: String): DataFrame =
    MultiModal.videoFrameFeatures(graft.ops.ParquetSchema.read(spark, MultiModal.videoPath))
      .orderBy("asset_id", "frame_no")

  val mmVideoFramesSql: String =
    s"""SELECT asset_id, frame_no, mean_r_micro, mean_g_micro, mean_b_micro,
       |  dhash
       |FROM read_parquet('${MultiModal.expectedVideoFramesPath}/*.parquet')
       |ORDER BY asset_id, frame_no""".stripMargin

  /** Video near-duplicate pairs over the real decoded temporal hashes:
    * the same pigeonhole Hamming band join as the image/audio/text
    * paths. Finds the fixture set's exact duplicates and
    * half-brightness twins at distance 0 and its window-patched twins
    * at small distances; the oracle mirrors the banding over the
    * committed pre-encode thashes in SQL.
    */
  def mmVideoDedup(spark: SparkSession, dir: String): DataFrame =
    MultiModal.videoNearDupPairs(
        graft.ops.ParquetSchema.read(spark, MultiModal.videoPath), maxHamming = 6)
      .orderBy("id1", "id2")

  val mmVideoDedupSql: String =
    s"""WITH f AS (
       |  SELECT asset_id, thash
       |  FROM read_parquet('${MultiModal.expectedVideoFeaturesPath}/*.parquet')),
       |b AS (
       |  SELECT asset_id, thash, band, (thash >> (band * 8)) & 255 AS bucket
       |  FROM f, (SELECT unnest(generate_series(0, 7)) AS band) bands),
       |p AS (
       |  SELECT DISTINCT x.asset_id AS id1, y.asset_id AS id2,
       |    CAST(bit_count(xor(x.thash, y.thash)) AS BIGINT) AS hamming
       |  FROM b x JOIN b y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |      AND x.asset_id < y.asset_id)
       |SELECT id1, id2, hamming FROM p WHERE hamming <= 6
       |ORDER BY id1, id2""".stripMargin

  /** Video near-dup pairs folded into the per-clip KEEP decision — the
    * video mirror of `mm_image_dedup_keep`/`mm_audio_dedup_keep`:
    * pairs → connected components (large-star/small-star) → min-id
    * cluster label per clip; the oracle replays the banding and a
    * recursive-CTE reachability closure over the committed pre-encode
    * thashes.
    */
  def mmVideoDedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val assets = graft.ops.ParquetSchema.read(spark, MultiModal.videoPath)
    val pairs = MultiModal.videoNearDupPairs(assets, maxHamming = 6)
      .select(col("id1"), col("id2"))
    DedupOps.nearDupKeepMap(assets.select(col("asset_id")), "asset_id",
        pairs)
      .select(col("doc_id").as("asset_id"), col("cluster_id"))
      .orderBy("asset_id")
  }

  val mmVideoDedupKeepSql: String =
    s"""WITH RECURSIVE f AS (
       |  SELECT asset_id, thash
       |  FROM read_parquet('${MultiModal.expectedVideoFeaturesPath}/*.parquet')),
       |b AS (
       |  SELECT asset_id, thash, band, (thash >> (band * 8)) & 255 AS bucket
       |  FROM f, (SELECT unnest(generate_series(0, 7)) AS band) bands),
       |p AS (
       |  SELECT DISTINCT x.asset_id AS id1, y.asset_id AS id2
       |  FROM b x JOIN b y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |      AND x.asset_id < y.asset_id
       |  WHERE bit_count(xor(x.thash, y.thash)) <= 6),
       |und AS (
       |  SELECT id1 AS a, id2 AS b FROM p
       |  UNION ALL SELECT id2, id1 FROM p),
       |reach AS (
       |  SELECT a AS node, b AS r FROM und
       |  UNION
       |  SELECT re.node, u.b FROM reach re JOIN und u ON u.a = re.r),
       |mins AS (SELECT node, min(r) AS minr FROM reach GROUP BY node)
       |SELECT f.asset_id,
       |  COALESCE(LEAST(f.asset_id, m.minr), f.asset_id) AS cluster_id
       |FROM f LEFT JOIN mins m ON m.node = f.asset_id
       |ORDER BY f.asset_id""".stripMargin

  /** KMV distinct-token sketch over the corpus vocabulary — an
    * engine-portable alternative to HLL: pure order statistics over the
    * deterministic 60-bit token hash, so the oracle checks the *estimate*
    * exactly, not approximately.
    */
  def sketchDistinctTokens(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Sketches, TextOps}
    val toks = table(spark, dir, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
    Sketches.kmvDistinct(toks, "tok", k = 256)
  }

  /** HLL distinct-count profile next to the exact count — KMV's
    * fixed-register sibling (merge = per-bucket max vs KMV's re-ranked
    * mins), in pure fixed-point integer math the oracle replays
    * bit-for-bit. Runs on the fact table's order key: a cardinality
    * (~n/4 of the rows) that keeps the raw estimator in its accurate
    * n ≳ 2.5·m regime at every shipped scale factor — the documents
    * vocabulary (31 tokens) is KMV's exact-below-k territory, not
    * HLL's.
    */
  def sketchHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val keys = table(spark, dir, "lineitem")
      .select(col("l_orderkey").cast(StringType).as("k"))
    Sketches.hllReport(keys, "k")
  }

  /** The per-source data card — the release-note table every corpus
    * drop ships: doc/lang counts, token totals and exact order-statistic
    * quantiles, exact-duplicate counts, char volume, one row per
    * source. One groupBy; the discrete percentiles are sort-based (not
    * partial-aggregable), which is fine for a reporting query — the
    * streaming/huge-scale path for the same numbers is the mergeable
    * log-bucket sketch (`sketch_quantiles`).
    */
  def profileCorpusCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
      .withColumn("n_tok",
        size(filter(split(col("text"), " "), t => t =!= lit("")))
          .cast(LongType))
    // dup_docs counts docs whose text appears MORE THAN ONCE in the
    // WHOLE corpus, attributed to each copy's source — a per-source
    // "count(*) - count(distinct text)" would be vacuously 0 whenever
    // the planted duplicates land in different sources (they do, in
    // this fixture), while cross-source duplication is exactly what a
    // data card must surface. The duplicate grouping keys on the 60-bit
    // engine-portable fingerprint (`DedupOps.tokenHash60`, mirrored in
    // the oracle), NOT the document body: the exchange then carries 8
    // bytes per doc instead of the full text, and one window shuffle
    // replaces the former groupBy-text + join-back-on-text double text
    // movement.
    docs
      .withColumn("text_fp", graft.ops.DedupOps.tokenHash60(col("text")))
      .select(col("source"), col("lang"), col("n_tok"), col("n_chars"),
        col("text_fp"))
      .withColumn("tc", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("text_fp")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_tok")).as("total_tokens"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_tok)")
          .cast(LongType).as("p50_tokens"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY n_tok)")
          .cast(LongType).as("p90_tokens"),
        sum(when(col("tc") > 1L, 1L).otherwise(0L)).as("dup_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("source")
  }

  val profileCorpusCardSql: String =
    """SELECT source,
      |  count(*) AS n_docs,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      |  CAST(quantile_disc(n_tok, 0.5) AS BIGINT) AS p50_tokens,
      |  CAST(quantile_disc(n_tok, 0.9) AS BIGINT) AS p90_tokens,
      |  CAST(sum(CASE WHEN tc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM (SELECT source, lang, n_chars, n_tok,
      |    count(*) OVER (PARTITION BY text_fp) AS tc
      |  FROM (SELECT source, lang, n_chars,
      |      CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
      |        AS BIGINT) AS n_tok,
      |      list_reduce(
      |        list_prepend(CAST(0 AS BIGINT),
      |          list_transform(generate_series(1, length(text)),
      |            i -> CAST(ascii(text[i]) AS BIGINT))),
      |        (acc, c) -> (acc * 131 + c) % 1000000007)
      |      + list_reduce(
      |        list_prepend(CAST(0 AS BIGINT),
      |          list_transform(generate_series(1, length(text)),
      |            i -> CAST(ascii(text[i]) AS BIGINT))),
      |        (acc, c) -> (acc * 257 + c) % 1000000007) * 1073741824
      |        AS text_fp
      |    FROM documents))
      |GROUP BY source ORDER BY source""".stripMargin

  /** Robust doc-length profile per language: median, MAD, and
    * 1.5×MAD outlier counts — the anomaly gauge a corrupt ingest batch
    * cannot drag the way it drags mean/stddev. Exact integer order
    * statistics. The registry threshold is 1.5×MAD (not the classic
    * 3×, which this well-behaved synthetic corpus never exceeds — the
    * count column must be non-vacuous at every shipped scale factor).
    */
  def profileMadOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.madOutliers(
      table(spark, dir, "documents")
        .select(col("lang"), length(col("text")).cast(LongType).as("len")),
      "len", Seq("lang"), kMilli = 1500L)
      .orderBy("lang")

  val profileMadOutliersSql: String =
    """WITH base AS (
      |  SELECT lang AS g, CAST(length(text) AS BIGINT) AS v
      |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
      |vh AS (SELECT g, v, count(*) AS cnt FROM base GROUP BY g, v),
      |vhc AS (
      |  SELECT g, v, cnt,
      |    sum(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
      |    sum(cnt) OVER (PARTITION BY g) AS n
      |  FROM vh),
      |med AS (
      |  SELECT g, max(n) AS n,
      |    min(CASE WHEN cum >= (n * 500 + 999) // 1000 THEN v END) AS med
      |  FROM vhc GROUP BY g),
      |dev AS (
      |  SELECT b.g, abs(b.v - m.med) AS d FROM base b JOIN med m USING (g)),
      |dh AS (SELECT g, d, count(*) AS cnt FROM dev GROUP BY g, d),
      |dhc AS (
      |  SELECT g, d, cnt,
      |    sum(cnt) OVER (PARTITION BY g ORDER BY d) AS cum,
      |    sum(cnt) OVER (PARTITION BY g) AS n2
      |  FROM dh),
      |mad AS (
      |  SELECT g, min(CASE WHEN cum >= (n2 * 500 + 999) // 1000 THEN d END)
      |    AS mad
      |  FROM dhc GROUP BY g)
      |SELECT med.g AS lang, CAST(med.n AS BIGINT) AS n,
      |  CAST(med.med AS BIGINT) AS med, CAST(mad.mad AS BIGINT) AS mad,
      |  CAST(sum(CASE WHEN dev.d * 1000 > 1500 * mad.mad THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers
      |FROM dev JOIN med USING (g) JOIN mad USING (g)
      |GROUP BY med.g, med.n, med.med, mad.mad
      |ORDER BY lang""".stripMargin

  /** Grouped HLL: distinct parts per return flag from sparse registers
    * (missing-register mass added arithmetically — no densify join),
    * exact count audited per group.
    */
  def sketchHllGroups(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.hllReportBy(
      table(spark, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_partkey").cast(StringType).as("k")),
      "k", Seq("l_returnflag"))
      .orderBy("l_returnflag")

  val sketchHllGroupsSql: String = {
    val poly = (base: Int) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length(k)), " +
        s"i -> CAST(ascii(k[i]) AS BIGINT))), (acc, c) -> (acc * $base + c) % 1000000007)"
    val m = graft.ops.Sketches.hllM
    val k2 = graft.ops.Sketches.hllK
    val num = m.toLong * m * (1L << k2)
    s"""WITH vals AS (
       |  SELECT l_returnflag AS g, CAST(l_partkey AS VARCHAR) AS k
       |  FROM lineitem WHERE l_partkey IS NOT NULL),
       |h AS (
       |  SELECT g, (${poly(131)}) % $m AS bucket,
       |    ${graft.ops.Sketches.hllRhoSql(
      s"(((${poly(131)}) * (${poly(257)})) % 1000000007)")} AS rho
       |  FROM vals),
       |regs AS (SELECT g, bucket, max(rho) AS r FROM h GROUP BY g, bucket),
       |d AS (
       |  SELECT g, CAST(($m - count(*)) * ${1L << k2} +
       |    sum(CAST(1 AS BIGINT) << ($k2 - r)) AS BIGINT) AS dd
       |  FROM regs GROUP BY g),
       |ex AS (SELECT g, count(DISTINCT k) AS n_exact FROM vals GROUP BY g)
       |SELECT d.g AS l_returnflag,
       |  CAST((($num // dd) * ${graft.ops.Sketches.hllAlphaMicro(m)})
       |    // 1000000 AS BIGINT) AS hll_est,
       |  ex.n_exact
       |FROM d JOIN ex USING (g)
       |ORDER BY l_returnflag""".stripMargin
  }

  val sketchHllDistinctSql: String = {
    val poly = (base: Int) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length(k)), " +
        s"i -> CAST(ascii(k[i]) AS BIGINT))), (acc, c) -> (acc * $base + c) % 1000000007)"
    val m = graft.ops.Sketches.hllM
    val k2 = graft.ops.Sketches.hllK
    val num = m.toLong * m * (1L << k2)
    s"""WITH toks AS (
       |  SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
       |h AS (
       |  SELECT (${poly(131)}) % $m AS bucket,
       |    ((${poly(131)}) * (${poly(257)})) % 1000000007 AS h2
       |  FROM toks),
       |regs AS (
       |  SELECT bucket, max(${graft.ops.Sketches.hllRhoSql("h2")}) AS r
       |  FROM h GROUP BY bucket),
       |dense AS (
       |  SELECT b.range AS bucket, coalesce(regs.r, 0) AS r
       |  FROM range(0, $m) b LEFT JOIN regs ON regs.bucket = b.range),
       |d AS (
       |  SELECT CAST(sum(CAST(1 AS BIGINT) << ($k2 - r)) AS BIGINT) AS dd
       |  FROM dense)
       |SELECT CAST($m AS BIGINT) AS m,
       |  CAST((($num // dd) * ${graft.ops.Sketches.hllAlphaMicro(m)})
       |    // 1000000 AS BIGINT) AS hll_est,
       |  (SELECT count(DISTINCT k) FROM toks) AS n_exact
       |FROM d""".stripMargin
  }

  val sketchDistinctTokensSql: String = {
    val poly = (base: Int) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length(tok)), " +
        s"i -> CAST(ascii(tok[i]) AS BIGINT))), (acc, c) -> (acc * $base + c) % 1000000007)"
    s"""WITH toks AS (
       |  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
       |  FROM documents),
       |h AS (
       |  SELECT DISTINCT ((${poly(131)} * ${poly(257)}) % 1000000007) AS h
       |  FROM toks),
       |mins AS (SELECT h FROM h ORDER BY h LIMIT 256)
       |SELECT count(*) AS k_used, max(h) AS kth_min,
       |  CASE WHEN count(*) < 256 THEN count(*)
       |    ELSE CAST(floor(CAST(count(*) - 1 AS DOUBLE) *
       |      (1000000007.0 / CAST(max(h) AS DOUBLE))) AS BIGINT)
       |  END AS est_distinct
       |FROM mins""".stripMargin
  }

  /** Count-Min heavy hitters over the corpus vocabulary: top-20 tokens
    * by sketch estimate with the exact count alongside (`n_est ≥
    * n_exact` is CMS's one-sided guarantee — the report audits its own
    * error, like `decontam_bloom`). The sketch itself is `depth×width`
    * integer cells built map-side; see `Sketches.cmsSketch` for why
    * this is the mergeable cross-shard frequency profile KMV can't be.
    */
  def sketchCmsTopk(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Sketches, TextOps}
    val toks = table(spark, dir, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
    Sketches.cmsTopK(toks, "tok", k = 20, width = 1024, depth = 4)
  }

  val sketchCmsTopkSql: String = {
    val poly = (base: Int) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length(tok)), " +
        s"i -> CAST(ascii(tok[i]) AS BIGINT))), (acc, c) -> (acc * $base + c) % 1000000007)"
    s"""WITH toks AS (
       |  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
       |  FROM documents),
       |h AS (SELECT tok, ${poly(131)} AS h1, ${poly(257)} AS h2 FROM toks),
       |pp AS (
       |  SELECT tok, r, (h1 + r * h2) % 1024 AS pos
       |  FROM h, (SELECT unnest([0, 1, 2, 3]) AS r) rs),
       |sketch AS (SELECT r, pos, count(*) AS cnt FROM pp GROUP BY r, pos),
       |cand AS (SELECT tok, count(*) AS n_exact FROM toks GROUP BY tok),
       |cp AS (
       |  SELECT tok, r, (h1 + r * h2) % 1024 AS pos
       |  FROM (SELECT DISTINCT tok, h1, h2 FROM h) dh,
       |    (SELECT unnest([0, 1, 2, 3]) AS r) rs),
       |est AS (
       |  SELECT cp.tok, min(s.cnt) AS n_est
       |  FROM cp JOIN sketch s ON s.r = cp.r AND s.pos = cp.pos
       |  GROUP BY cp.tok)
       |SELECT e.tok AS token, e.n_est, c.n_exact
       |FROM est e JOIN cand c ON c.tok = e.tok
       |ORDER BY n_est DESC, token ASC LIMIT 20""".stripMargin
  }

  /** Multimodal frame sampling: payloads as 16-byte frames, every 2nd
    * frame emitted as its own row, fingerprinted (the video-to-frames
    * explosion shape with a deterministic stub in place of a codec).
    */
  def mmFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val assets = MultiModal.ingestFromText(
      table(spark, dir, "documents"), "doc_id", "text", "source")
    MultiModal.frameSample(assets, frameBytes = 16, stride = 2)
      .select(col("asset_id"), col("frame_no"),
        octet_length(col("frame")).cast(LongType).as("n_bytes"),
        TextOps.fingerprint(decode(col("frame"), "UTF-8")).as("fp"))
      .orderBy("asset_id", "frame_no")
  }

  val mmFrameSampleSql: String =
    """WITH f AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(0, length(text)//16 - 1, 2)) AS frame_no
      |  FROM documents WHERE length(text) >= 16)
      |SELECT doc_id AS asset_id, CAST(frame_no AS BIGINT) AS frame_no,
      |  CAST(16 AS BIGINT) AS n_bytes,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(1, 16),
      |      i -> CAST(ascii(substr(text, frame_no*16+i, 1)) AS BIGINT))),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
      |FROM f ORDER BY asset_id, frame_no""".stripMargin

  /** Benchmark decontamination: the corpus is split deterministically into
    * a held-out "benchmark" slice (doc_id ≡ 7 mod 10) and the training
    * slice; every training doc reports how many of its distinct 5-gram
    * spans occur anywhere in the benchmark (the eval-decontamination
    * check, n=5 because these docs are 10–99 tokens).
    */
  def decontamOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    graft.ops.Contamination.contaminationReport(
      docs.filter(col("doc_id") % 10 =!= 7),
      docs.filter(col("doc_id") % 10 === 7),
      "doc_id", "text", n = 5)
      .orderBy("doc_id")
  }

  val decontamOverlapSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |shs AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(t) >= 5 THEN
       |      list_transform(generate_series(1, len(t) - 4),
       |        i -> array_to_string(t[i:i+4], ' '))
       |    ELSE [array_to_string(t, ' ')] END)) AS shingle
       |  FROM toks),
       |sh AS (SELECT doc_id, $shingleHash60Sql AS h FROM shs),
       |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 10 = 7),
       |train AS (SELECT doc_id, h FROM sh WHERE doc_id % 10 <> 7),
       |counts AS (SELECT doc_id, count(*) AS n_spans FROM train GROUP BY doc_id),
       |hits AS (
       |  SELECT doc_id, count(*) AS n_hit FROM train
       |  WHERE h IN (SELECT h FROM bench) GROUP BY doc_id)
       |SELECT c.doc_id, c.n_spans, coalesce(h.n_hit, 0) AS n_hit,
       |  (coalesce(h.n_hit, 0) * 1000) // c.n_spans AS contam_milli,
       |  coalesce(h.n_hit, 0) > 0 AS contaminated
       |FROM counts c LEFT JOIN hits h ON h.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  /** Bloom-filter decontamination on the same train/bench split as
    * `decontam_overlap`: the constant-memory scale path, reported next
    * to the exact counts so the (deterministic, oracle-mirrored)
    * false-positive behavior is audited by the gate itself. See
    * `Contamination.bloomContaminationReport`.
    */
  def decontamBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    graft.ops.Contamination.bloomContaminationReport(
      docs.filter(col("doc_id") % 10 =!= 7),
      docs.filter(col("doc_id") % 10 === 7),
      "doc_id", "text", n = 5)
      .orderBy("doc_id")
  }

  val decontamBloomSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |shs AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(t) >= 5 THEN
       |      list_transform(generate_series(1, len(t) - 4),
       |        i -> array_to_string(t[i:i+4], ' '))
       |    ELSE [array_to_string(t, ' ')] END)) AS shingle
       |  FROM toks),
       |sh AS (SELECT doc_id, $shingleHash60Sql AS h FROM shs),
       |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 10 = 7),
       |params AS (SELECT greatest(1024, 32 * count(*)) AS m FROM bench),
       |bits AS (
       |  SELECT DISTINCT (h % m + j * (1 + h % (m - 1))) % m AS p
       |  FROM bench, params, (SELECT unnest([0, 1, 2]) AS j) js),
       |train AS (SELECT doc_id, h FROM sh WHERE doc_id % 10 <> 7),
       |pj AS (
       |  SELECT doc_id, h, j, (h % m + j * (1 + h % (m - 1))) % m AS p
       |  FROM train, params, (SELECT unnest([0, 1, 2]) AS j) js),
       |ph AS (
       |  SELECT doc_id, h, count(*) AS nset
       |  FROM pj JOIN bits ON bits.p = pj.p GROUP BY doc_id, h),
       |blm AS (
       |  SELECT doc_id, count(*) AS n_hit_bloom
       |  FROM ph WHERE nset = 3 GROUP BY doc_id),
       |counts AS (SELECT doc_id, count(*) AS n_spans FROM train GROUP BY doc_id),
       |ex AS (
       |  SELECT doc_id, count(*) AS n_hit_exact FROM train
       |  WHERE h IN (SELECT h FROM bench) GROUP BY doc_id)
       |SELECT c.doc_id, c.n_spans,
       |  coalesce(ex.n_hit_exact, 0) AS n_hit_exact,
       |  coalesce(b.n_hit_bloom, 0) AS n_hit_bloom,
       |  coalesce(b.n_hit_bloom, 0) > 0 AS bloom_contaminated
       |FROM counts c
       |LEFT JOIN ex ON ex.doc_id = c.doc_id
       |LEFT JOIN blm b ON b.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  /** Passage-level duplication: per doc, the fraction of its 8-gram span
    * occurrences whose n-gram appears in at least one other document.
    */
  def textDupPassages(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Contamination.dupPassageStats(
      table(spark, dir, "documents"), "doc_id", "text", n = 8)
      .orderBy("doc_id")

  val textDupPassagesSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |spans AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(t) >= 8 THEN
       |      list_transform(generate_series(1, len(t) - 7),
       |        i -> array_to_string(t[i:i+7], ' '))
       |    ELSE [array_to_string(t, ' ')] END) AS shingle
       |  FROM toks),
       |sh AS (SELECT doc_id, $shingleHash60Sql AS h FROM spans),
       |docfreq AS (
       |  SELECT h, count(*) AS nd
       |  FROM (SELECT DISTINCT doc_id, h FROM sh) GROUP BY h)
       |SELECT doc_id, count(*) AS n_spans,
       |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |  (CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1000)
       |    // count(*) AS dup_milli
       |FROM sh JOIN docfreq USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Exact substring-dedup removal (Lee et al. boilerplate-scrub form):
    * every token covered by an 8-gram span occurring in ≥ 2 distinct
    * documents is deleted; per doc the original/removed token counts and
    * the scrubbed text. The oracle replays span hashing, coverage, and
    * reassembly with the identical 60-bit hash.
    */
  def dedupPassageScrub(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Contamination.scrubDupPassages(
      table(spark, dir, "documents"), "doc_id", "text", n = 8, minDocs = 2)
      .orderBy("doc_id")

  /** Shared scrub-oracle body: tokenize → positional 8-gram spans →
    * 60-bit hash → [the variant's dup/cov CTEs] → covered-token
    * anti-join → reassembly. Both scrub forms differ ONLY in how the
    * `cov` CTE selects covered occurrences, so the variant supplies
    * `dup`+`cov` and everything else is written once.
    */
  private def scrubOracleSql(dupCovCtes: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |sp0 AS (
       |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8 THEN
       |      list_transform(generate_series(1, len(t) - 7),
       |        i -> struct_pack(pos := i, slen := CAST(8 AS BIGINT),
       |                         shingle := array_to_string(t[i:i+7], ' ')))
       |    ELSE [struct_pack(pos := CAST(1 AS BIGINT), slen := len(t),
       |                      shingle := array_to_string(t, ' '))] END) AS s
       |  FROM toks),
       |sp AS (SELECT doc_id, s.pos AS pos, s.slen AS slen,
       |         s.shingle AS shingle FROM sp0),
       |sph AS (SELECT doc_id, pos, slen, $shingleHash60Sql AS h FROM sp),
       |$dupCovCtes,
       |tok0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
       |           i -> struct_pack(tidx := i, tok := t[i]))) AS s FROM toks),
       |tok AS (SELECT doc_id, s.tidx AS tidx, s.tok AS tok FROM tok0),
       |kept AS (
       |  SELECT t2.doc_id, t2.tidx, t2.tok FROM tok t2
       |  LEFT JOIN cov c ON c.doc_id = t2.doc_id AND c.tidx = t2.tidx
       |  WHERE c.tidx IS NULL),
       |agg AS (SELECT doc_id, count(*) AS n_kept,
       |          string_agg(tok, ' ' ORDER BY tidx) AS clean_text
       |        FROM kept GROUP BY doc_id),
       |base AS (SELECT doc_id, len(t) AS n_tokens FROM toks)
       |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(b.n_tokens - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
       |  coalesce(a.clean_text, '') AS clean_text
       |FROM base b LEFT JOIN agg a ON a.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  val dedupPassageScrubSql: String = scrubOracleSql(
    """dup AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM sph)
      |        GROUP BY h HAVING count(*) >= 2),
      |cov AS (SELECT DISTINCT doc_id, tidx FROM (
      |  SELECT doc_id, unnest(generate_series(pos, pos + slen - 1)) AS tidx
      |  FROM sph WHERE h IN (SELECT h FROM dup)) c0)""".stripMargin)

  /** The keep-first scrub (Lee et al. dedup form): each duplicated
    * 8-gram span survives in its canonical keeper (min doc id) and is
    * deleted everywhere else. Per-span, not per-passage: overlapping
    * spans with different keepers can still erode a long duplicated
    * passage in every doc (see `scrubDupPassages` scaladoc).
    */
  def dedupPassageScrubKeep(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Contamination.scrubDupPassages(
      table(spark, dir, "documents"), "doc_id", "text", n = 8, minDocs = 2,
      keepFirst = true)
      .orderBy("doc_id")

  val dedupPassageScrubKeepSql: String = scrubOracleSql(
    """dup AS (SELECT h, min(doc_id) AS keep_doc
      |        FROM (SELECT DISTINCT doc_id, h FROM sph)
      |        GROUP BY h HAVING count(*) >= 2),
      |cov AS (SELECT DISTINCT doc_id, tidx FROM (
      |  SELECT sph.doc_id,
      |    unnest(generate_series(pos, pos + slen - 1)) AS tidx
      |  FROM sph JOIN dup USING (h)
      |  WHERE sph.doc_id <> dup.keep_doc) c0)""".stripMargin)

  /** Maximal-repeat scrub (published Lee et al. semantics): duplicated
    * 8-gram occurrences merge into maximal duplicated regions per doc
    * (gaps-and-islands over span intervals) and only regions of ≥ 16
    * tokens are deleted — long genuine repeats go, isolated boilerplate
    * n-grams survive. (minRepeatLen 16 rather than the paper's 50
    * because these fixture docs are 10–99 tokens.)
    */
  def dedupPassageScrubMaximal(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Contamination.scrubDupPassagesMaximal(
      table(spark, dir, "documents"), "doc_id", "text", n = 8, minDocs = 2,
      minRepeatLen = 16)
      .orderBy("doc_id")

  val dedupPassageScrubMaximalSql: String = scrubOracleSql(
    """dup AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM sph)
      |        GROUP BY h HAVING count(*) >= 2),
      |occ AS (SELECT doc_id, pos, pos + slen - 1 AS endp
      |        FROM sph WHERE h IN (SELECT h FROM dup) AND slen > 0),
      |mx AS (SELECT doc_id, pos, endp,
      |         max(endp) OVER (PARTITION BY doc_id ORDER BY pos, endp
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS prev_end
      |       FROM occ),
      |isl AS (SELECT doc_id, pos, endp,
      |          sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
      |                THEN 1 ELSE 0 END)
      |            OVER (PARTITION BY doc_id ORDER BY pos, endp
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      |        FROM mx),
      |reg AS (SELECT doc_id, min(pos) AS rstart, max(endp) AS rend
      |        FROM isl GROUP BY doc_id, g
      |        HAVING max(endp) - min(pos) + 1 >= 16),
      |cov AS (SELECT doc_id, unnest(generate_series(rstart, rend)) AS tidx
      |        FROM reg)""".stripMargin)

  /** Passage-level cross-source leakage matrix: distinct 8-gram spans
    * shared between every pair of sources (exact-normalized doc overlap
    * is zero on this corpus; span overlap is the finer signal).
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Contamination.groupOverlapMatrix(
      table(spark, dir, "documents"), "text", "source", n = 8)
      .orderBy("g1", "g2")

  val sourceOverlapSql: String =
    s"""WITH toks AS (
       |  SELECT source, list_filter(string_split(text, ' '), t -> t <> '') AS t
       |  FROM documents
       |  WHERE source IS NOT NULL AND text IS NOT NULL),
       |shs AS (
       |  SELECT source, unnest(list_distinct(CASE WHEN len(t) >= 8 THEN
       |      list_transform(generate_series(1, len(t) - 7),
       |        i -> array_to_string(t[i:i+7], ' '))
       |    ELSE [array_to_string(t, ' ')] END)) AS shingle
       |  FROM toks),
       |gh AS (SELECT DISTINCT source, $shingleHash60Sql AS h FROM shs)
       |SELECT a.source AS g1, b.source AS g2,
       |  CAST(count(*) AS BIGINT) AS n_shared
       |FROM gh a JOIN gh b ON a.h = b.h AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Context packing: concatenate docs in id order within each
    * (lang, source) stratum and cut 512-token shards; every doc gets a
    * deterministic (shard, offset) address.
    */
  def packShards(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.packByBudget(table(spark, dir, "documents"),
      "doc_id", "text", Seq("lang", "source"), budgetTokens = 512L)
      .orderBy("lang", "source", "doc_id")

  private val packShardsBaseSql: String =
    """WITH t AS (
      |  SELECT lang, source, doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS n_tok
      |  FROM documents
      |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
      |w AS (
      |  SELECT lang, source, doc_id, n_tok,
      |    CAST(sum(n_tok) OVER (PARTITION BY lang, source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
      |      AS BIGINT) AS start_off
      |  FROM t)""".stripMargin

  val packShardsSql: String =
    s"""$packShardsBaseSql
       |SELECT lang, source, doc_id, n_tok, start_off,
       |  start_off // 512 AS shard_id
       |FROM w ORDER BY lang, source, doc_id""".stripMargin

  /** GLOBAL context packing (no strata): the distributed prefix-sum
    * formulation — range-partition + per-partition sums + broadcast
    * prefixes — whose result is bit-identical to the naive global
    * running-sum window the oracle computes.
    */
  def packShardsGlobal(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.packGlobalByBudget(table(spark, dir, "documents"),
      "doc_id", "text", budgetTokens = 512L)
      .orderBy("doc_id")

  val packShardsGlobalSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS n_tok
      |  FROM documents
      |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
      |w AS (
      |  SELECT doc_id, n_tok,
      |    CAST(sum(n_tok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
      |      AS BIGINT) AS start_off
      |  FROM t)
      |SELECT doc_id, n_tok, start_off, start_off // 512 AS shard_id
      |FROM w ORDER BY doc_id""".stripMargin

  /** Seeded shard shuffle/interleave (seed 7): the deterministic
    * pseudo-random order training loaders consume — shards visited by
    * `shard_key` (hash of seed:strata:shard), docs within a shard by
    * `shuffled_pos` (rank under hash(seed:doc_id)). Pure hash
    * permutation, so the oracle replays it with the same polynomial and
    * a window rank.
    */
  def packShuffled(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.packShuffled(table(spark, dir, "documents"),
      "doc_id", "text", Seq("lang", "source"), budgetTokens = 512L,
      seed = 7L)
      .orderBy("lang", "source", "doc_id")

  val packShuffledSql: String = {
    val polyB = (s: String, base: Int) =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length($s)), " +
        s"i -> CAST(ascii(($s)[i]) AS BIGINT))), " +
        s"(acc, c) -> (acc * $base + c) % 1000000007)"
    // two-base product mix — see Packing.packShuffled: a single-base
    // polynomial is affine in the seed prefix and would not reshuffle
    val poly = (s: String) =>
      s"((${polyB(s, 131)}) * (${polyB(s, 257)})) % 1000000007"
    val docStr = "'7:' || CAST(doc_id AS VARCHAR)"
    val shardStr =
      "'7:' || lang || ':' || source || ':' || CAST(shard_id AS VARCHAR)"
    s"""$packShardsBaseSql,
       |s AS (
       |  SELECT lang, source, doc_id, n_tok, start_off,
       |    CAST(start_off // 512 AS BIGINT) AS shard_id
       |  FROM w
       |  WHERE lang IS NOT NULL AND source IS NOT NULL),
       |k AS (
       |  SELECT *, ${poly(docStr)} AS doc_key, ${poly(shardStr)} AS shard_key
       |  FROM s)
       |SELECT lang, source, doc_id, n_tok, start_off, shard_id, shard_key,
       |  CAST(row_number() OVER (PARTITION BY lang, source, shard_id
       |    ORDER BY doc_key, doc_id) AS BIGINT) AS shuffled_pos
       |FROM k ORDER BY lang, source, doc_id""".stripMargin
  }

  /** Shard-level packing summary: docs/tokens per shard plus the
    * boundary-doc overflow past the shard's budget.
    */
  def packShardStats(spark: SparkSession, dir: String): DataFrame = {
    val packed = graft.ops.Packing.packByBudget(
      table(spark, dir, "documents"), "doc_id", "text",
      Seq("lang", "source"), budgetTokens = 512L)
    graft.ops.Packing.shardStats(packed, Seq("lang", "source"), 512L)
      .orderBy("lang", "source", "shard_id")
  }

  val packShardStatsSql: String =
    s"""$packShardsBaseSql
       |SELECT lang, source, shard_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tok,
       |  CAST(greatest(0, max(start_off + n_tok)
       |    - (shard_id + 1) * 512) AS BIGINT) AS overflow
       |FROM (SELECT lang, source, n_tok, start_off,
       |        CAST(start_off // 512 AS BIGINT) AS shard_id FROM w) s
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Mixture rebalancing: at most 80 `en` docs and 60 per other
    * language, selected in deterministic hash order — the absolute-
    * budget counterpart of `sample_stratified`'s rate cut.
    */
  def mixRebalance(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.quotaSample(table(spark, dir, "documents"),
      "doc_id", "lang", Map("en" -> 80L), defaultQuota = 60L)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  val mixRebalanceSql: String = {
    val idStr = "CAST(doc_id AS VARCHAR)"
    val poly =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length($idStr)), " +
        s"i -> CAST(ascii($idStr[i]) AS BIGINT))), " +
        s"(acc, c) -> (acc * 131 + c) % 1000000007)"
    s"""WITH r AS (
       |  SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang ORDER BY $poly, doc_id)
       |      AS rk
       |  FROM documents WHERE doc_id IS NOT NULL)
       |SELECT doc_id, lang FROM r
       |WHERE rk <= CASE WHEN lang = 'en' THEN 80 ELSE 60 END
       |ORDER BY doc_id""".stripMargin
  }

  /** Temperature-based (τ = 1/2) mixture rebalancing: per-language
    * quotas ∝ ⌊√n⌋ normalized to a 300-doc budget, rows kept by
    * deterministic hash order — `mix_rebalance`'s data-derived sibling
    * (quotas computed from the corpus, not hand-written).
    */
  def sampleTemperature(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.temperatureQuotaSample(
      table(spark, dir, "documents").select("doc_id", "lang"),
      "doc_id", "lang", budget = 300L)
      .select(col("lang"), col("n_stratum"), col("quota"), col("doc_id"))
      .orderBy("lang", "doc_id")

  val sampleTemperatureSql: String = {
    val idStr = "CAST(doc_id AS VARCHAR)"
    val poly =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, length($idStr)), " +
        s"i -> CAST(ascii($idStr[i]) AS BIGINT))), " +
        s"(acc, c) -> (acc * 131 + c) % 1000000007)"
    s"""WITH base AS (
       |  SELECT doc_id, lang FROM documents
       |  WHERE doc_id IS NOT NULL AND lang IS NOT NULL),
       |counts AS (
       |  SELECT lang, count(*) AS n_stratum,
       |    CAST(FLOOR(SQRT(CAST(count(*) AS DOUBLE))) AS BIGINT) AS s
       |  FROM base GROUP BY lang),
       |tot AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM counts),
       |quotas AS (
       |  SELECT lang, n_stratum, CAST((300 * s) // t AS BIGINT) AS quota
       |  FROM counts CROSS JOIN tot),
       |ranked AS (
       |  SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang ORDER BY $poly, doc_id)
       |      AS rk
       |  FROM base)
       |SELECT q.lang, q.n_stratum, q.quota, r.doc_id
       |FROM ranked r JOIN quotas q USING (lang)
       |WHERE r.rk <= q.quota
       |ORDER BY lang, doc_id""".stripMargin
  }

  /** Embedding outlier gate: cosine affinity to the nearest TRAINED
    * coarse centroid (same committed artifact as `knn_ivf_top5`);
    * vectors below 0.25 cosine are flagged. Narrow broadcast pass.
    */
  def embOutliers(spark: SparkSession, dir: String): DataFrame = {
    val coarse = Codebooks.loadCoarse(spark, Codebooks.coarsePath)
    Similarity.centroidOutliers(table(spark, dir, "embeddings"),
      "vec_id", "embedding", coarse, minSimMicro = 250000L)
      .orderBy("vec_id")
  }

  val embOutliersSql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings),
       |cent AS (SELECT cw AS cid, w AS ce
       |  FROM read_parquet('${Codebooks.coarsePath}/*.parquet')),
       |sims AS (
       |  SELECT v.vec_id, c.cid,
       |    CASE WHEN list_inner_product(v.e, v.e) = 0
       |           OR list_inner_product(c.ce, c.ce) = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST(floor(1000000 * list_inner_product(v.e, c.ce) /
       |      (sqrt(list_inner_product(v.e, v.e)) *
       |       sqrt(list_inner_product(c.ce, c.ce)))) AS BIGINT) END AS sim
       |  FROM v CROSS JOIN cent c),
       |ranked AS (
       |  SELECT vec_id, cid, sim, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
       |  FROM sims)
       |SELECT vec_id, cid AS cell, sim AS sim_micro,
       |  sim < 250000 AS is_outlier
       |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** Cluster-prototype pruning (SSL-prototypes): within each trained
    * IVF cell, rank by cosine to the centroid and drop the most
    * prototypical 30% — the abundant-data pruning rule. One broadcast
    * assignment pass + one exchange on the cell id.
    */
  def sampleClusterPrune(spark: SparkSession, dir: String): DataFrame = {
    val coarse = Codebooks.loadCoarse(spark, Codebooks.coarsePath)
    Similarity.clusterPrune(table(spark, dir, "embeddings"),
      "vec_id", "embedding", coarse, prunePermille = 300L)
      .orderBy("vec_id")
  }

  val sampleClusterPruneSql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings),
       |cent AS (SELECT cw AS cid, w AS ce
       |  FROM read_parquet('${Codebooks.coarsePath}/*.parquet')),
       |sims AS (
       |  SELECT v.vec_id, c.cid,
       |    CASE WHEN list_inner_product(v.e, v.e) = 0
       |           OR list_inner_product(c.ce, c.ce) = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST(floor(1000000 * list_inner_product(v.e, c.ce) /
       |      (sqrt(list_inner_product(v.e, v.e)) *
       |       sqrt(list_inner_product(c.ce, c.ce)))) AS BIGINT) END AS sim
       |  FROM v CROSS JOIN cent c),
       |asg AS (
       |  SELECT vec_id, cid, sim, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
       |  FROM sims),
       |rk AS (
       |  SELECT vec_id, cid AS cell, sim AS sim_micro,
       |    row_number() OVER (
       |      PARTITION BY cid ORDER BY sim DESC, vec_id) AS rnk,
       |    count(*) OVER (PARTITION BY cid) AS cell_n
       |  FROM asg WHERE rn = 1)
       |SELECT vec_id, cell, sim_micro, CAST(rnk AS BIGINT) AS rnk,
       |  rnk > (cell_n * 300) // 1000 AS keep
       |FROM rk ORDER BY vec_id""".stripMargin

  /** Image dedup DECISION: the dHash near-dup pairs fold into
    * connected components and every image maps to its cluster's
    * smallest asset id (`DedupOps.nearDupKeepMap` over
    * `imageNearDupPairs`) — keeping `asset_id == cluster_id` prunes the
    * image corpus to one representative per near-dup cluster, the same
    * pairs→decision step the text pipeline ships. Oracle: the banded
    * pair CTE over the committed pre-encode dHashes plus the recursive
    * reachability min, exactly like `dedup_cluster_keep`.
    */
  def mmImageDedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val assets = graft.ops.ParquetSchema.read(spark, MultiModal.imagesPath)
    val pairs = MultiModal.imageNearDupPairs(assets, maxHamming = 6)
      .select(col("id1"), col("id2"))
    DedupOps.nearDupKeepMap(assets.select(col("asset_id")), "asset_id",
        pairs)
      .select(col("doc_id").as("asset_id"), col("cluster_id"))
      .orderBy("asset_id")
  }

  val mmImageDedupKeepSql: String =
    s"""WITH RECURSIVE f AS (
       |  SELECT asset_id, dhash
       |  FROM read_parquet('${MultiModal.expectedFeaturesPath}/*.parquet')),
       |b AS (
       |  SELECT asset_id, dhash, band, (dhash >> (band * 8)) & 255 AS bucket
       |  FROM f, (SELECT unnest(generate_series(0, 7)) AS band) bands),
       |p AS (
       |  SELECT DISTINCT x.asset_id AS id1, y.asset_id AS id2
       |  FROM b x JOIN b y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |      AND x.asset_id < y.asset_id
       |  WHERE bit_count(xor(x.dhash, y.dhash)) <= 6),
       |und AS (
       |  SELECT id1 AS a, id2 AS b FROM p
       |  UNION ALL SELECT id2, id1 FROM p),
       |reach AS (
       |  SELECT a AS node, b AS r FROM und
       |  UNION
       |  SELECT re.node, u.b FROM reach re JOIN und u ON u.a = re.r),
       |mins AS (SELECT node, min(r) AS minr FROM reach GROUP BY node)
       |SELECT f.asset_id,
       |  COALESCE(LEAST(f.asset_id, m.minr), f.asset_id) AS cluster_id
       |FROM f LEFT JOIN mins m ON m.node = f.asset_id
       |ORDER BY f.asset_id""".stripMargin

  /** Per-doc TF-IDF top-3 terms (integer-exact linear-idf scoring). */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Relevance.tfIdfTopTerms(
      table(spark, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rnk")

  val tfidfTopTermsSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
      |dfq AS (SELECT token, count(*) AS dfreq FROM tf GROUP BY token),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.token, tf.tf, dfq.dfreq,
      |    (tf.tf * 1000 * n.n_docs) // dfq.dfreq AS score
      |  FROM tf JOIN dfq USING (token) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, token) AS rnk
      |  FROM scored)
      |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, token, tf, dfreq, score
      |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** Corpus-frequency fluency score (the integer-exact perplexity-filter
    * stand-in): per doc, the mean corpus occurrence count of its bigram
    * occurrences in permille.
    */
  def textLmFluency(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Relevance.lmFluencyScore(
      table(spark, dir, "documents"), "doc_id", "text", n = 2)
      .orderBy("doc_id")

  val textLmFluencySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |spans AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(t) >= 2 THEN
       |      list_transform(generate_series(1, len(t) - 1),
       |        i -> array_to_string(t[i:i+1], ' '))
       |    ELSE [array_to_string(t, ' ')] END) AS shingle
       |  FROM toks),
       |sh AS (SELECT doc_id, $shingleHash60Sql AS h FROM spans),
       |freq AS (SELECT h, count(*) AS f FROM sh GROUP BY h)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST((CAST(sum(f) AS BIGINT) * 1000) // count(*) AS BIGINT)
       |    AS lm_milli
       |FROM sh JOIN freq USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Global vocabulary heavy hitters: top-20 tokens by occurrence count. */
  def vocabTop20(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Relevance.vocabTopK(table(spark, dir, "documents"), "text",
      k = 20)
      .orderBy("rnk")

  val vocabTop20Sql: String =
    """WITH toks AS (
      |  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      |  FROM documents),
      |counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY cnt DESC, token) AS rnk
      |  FROM counts)
      |SELECT CAST(rnk AS BIGINT) AS rnk, token, cnt FROM ranked
      |WHERE rnk <= 20 ORDER BY rnk""".stripMargin

  /** Int8 scalar-quantized brute-force top-5 (SQ8: codes are ⌊x·128⌋
    * clamped to [-128, 127]; scoring is the integer dot product — the
    * bandwidth-quartered exact-scan rung of the ANN ladder).
    */
  def knnSq8Top5(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    Similarity.knnSq8TopK(emb, emb, "vec_id", "embedding", k = 5,
      scale = 128)
      .orderBy("query_id", "rnk")
  }

  val knnSq8Top5Sql: String =
    """WITH q AS (
      |  SELECT vec_id, CAST(list_transform(CAST(embedding AS DOUBLE[]),
      |    x -> greatest(-128, least(127, CAST(floor(x * 128) AS BIGINT))))
      |    AS DOUBLE[]) AS qv
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_inner_product(a.qv, b.qv) AS BIGINT) AS dot_q
      |  FROM q a JOIN q b ON a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, dot_q,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY dot_q DESC, neighbor_id) AS rnk
      |  FROM pairs)
      |SELECT query_id, neighbor_id, dot_q, CAST(rnk AS BIGINT) AS rnk
      |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** Salted fact-to-dimension join (orders × customer): the explicit
    * skew-mitigation shape — the big side spreads each key over 8 salt
    * sub-keys (salt hashed from the order key, which varies within a
    * customer), the dimension side replicates per salt. Output is
    * row-identical to the plain join, which is exactly what the oracle
    * checks.
    */
  def relSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey").as("custkey"))
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_nationkey"))
    graft.ops.Skew.saltedJoin(orders, cust, Seq("custkey"),
      col("o_orderkey"), buckets = 8)
      .orderBy("o_orderkey")
  }

  val relSaltedJoinSql: String =
    """SELECT o_custkey AS custkey, o_orderkey, c_nationkey
      |FROM orders JOIN customer ON c_custkey = o_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** Range (band) join: each event lands in every overlapping value band
    * (bands derived from nation: [20k, 20k+30) — overlapping on purpose,
    * so most values match two bands). The Spark side runs
    * `Skew.rangeJoin`'s bucket-expansion equi-join — the scale path that
    * never plans a nested loop (plan-pinned in ScaleTechniquesSpec) —
    * while the oracle is the plain inequality join, so hash-exactness
    * proves the expansion+residual-filter rewrite preserves the exact
    * half-open semantics. `value` passes through untouched on both sides
    * (no double arithmetic to mirror).
    */
  def relRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = table(spark, dir, "events")
      .select(col("event_id"), col("value"))
    val bands = table(spark, dir, "nation").select(
      col("n_nationkey").as("band_id"),
      (col("n_nationkey").cast("double") * 20d).as("lo"),
      (col("n_nationkey").cast("double") * 20d + 30d).as("hi"))
    graft.ops.Skew.rangeJoin(events, "value", bands, "lo", "hi",
        bucketWidth = 32)
      .select(col("event_id"), col("band_id"), col("value"))
      .orderBy("event_id", "band_id")
  }

  val relRangeJoinSql: String =
    """SELECT e.event_id, n.n_nationkey AS band_id, e.value
      |FROM events e JOIN nation n
      |  ON e.value >= n.n_nationkey * 20
      | AND e.value <  n.n_nationkey * 20 + 30
      |ORDER BY event_id, band_id""".stripMargin

  /** Product-quantized ADC top-5 on the TRAINED codebook (committed
    * artifact `data/codebooks/pq_m32_k256.parquet`: 32 subspaces × 256
    * codewords from deterministic per-subspace L2 k-means — 32 one-byte
    * codes per 64-dim float vector, 8× compression). Encoding picks the
    * codeword minimizing floored-micro squared L2 (reconstruction error);
    * the approximate dot is the exact integer sum of per-subspace
    * floored-micro codeword dots. The oracle `read_parquet`s the same
    * codebook and reproduces encoding, lookup tables, and ranking —
    * training stays offline. Recall@5 vs exact cosine: 0.91 (DriveRecall;
    * the untrained m=8/ksub=16 argmax-dot variant was 0.15).
    */
  def knnPqAdcTop5(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val pq = Codebooks.loadPq(spark, Codebooks.pqPath)
    Similarity.pqTopK(emb, emb, "vec_id", "embedding", k = 5, m = 32,
      ksub = 256, codebook = Some(pq))
      .orderBy("query_id", "rnk")
  }

  val knnPqAdcTop5Sql: String =
    s"""WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |cb AS (SELECT j, cw, w
      |  FROM read_parquet('${Codebooks.pqPath}/*.parquet')),
      |dm AS (
      |  SELECT v.vec_id, cb.j, cb.cw,
      |    CAST(floor(1000000 * list_inner_product(
      |      v.e[cb.j*2+1 : cb.j*2+2], cb.w)) AS BIGINT) AS dotm,
      |    CAST(floor(1000000 * (
      |      list_inner_product(v.e[cb.j*2+1 : cb.j*2+2], v.e[cb.j*2+1 : cb.j*2+2])
      |      - 2*list_inner_product(v.e[cb.j*2+1 : cb.j*2+2], cb.w)
      |      + list_inner_product(cb.w, cb.w))) AS BIGINT) AS distm
      |  FROM v CROSS JOIN cb),
      |enc AS (
      |  SELECT vec_id, j, cw FROM (
      |    SELECT vec_id, j, cw, row_number() OVER (
      |      PARTITION BY vec_id, j ORDER BY distm, cw) AS rn
      |    FROM dm)
      |  WHERE rn = 1),
      |scores AS (
      |  SELECT l.vec_id AS query_id, enc.vec_id AS neighbor_id,
      |    CAST(sum(l.dotm) AS BIGINT) AS score_q
      |  FROM enc JOIN dm l ON l.j = enc.j AND l.cw = enc.cw
      |    AND l.vec_id <> enc.vec_id
      |  GROUP BY l.vec_id, enc.vec_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, score_q,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_q DESC, neighbor_id) AS rnk
      |  FROM scores)
      |SELECT query_id, neighbor_id, score_q, CAST(rnk AS BIGINT) AS rnk
      |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** IVFPQ top-5 (flat-code variant) on TRAINED quantizers: the k-means
    * coarse centroids prune the scan (nprobe=8 of nlist=16) and the
    * m=32×256 PQ codebook compresses it, scored by ADC lookup tables.
    * The oracle composes the IVF assignment CTEs with the PQ encoding
    * CTEs over the same committed parquet artifacts. Recall@5: 0.79
    * (untrained was 0.15); see `knn_ivfpq_res_top5` for the residual
    * refinement.
    */
  def knnIvfPqTop5(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val coarse = Codebooks.loadCoarse(spark, Codebooks.coarsePath)
    val pq = Codebooks.loadPq(spark, Codebooks.pqPath)
    Similarity.ivfPqTopK(emb, emb, "vec_id", "embedding", k = 5,
      nlist = 16, nprobe = 8, m = 32, ksub = 256,
      centroids = Some(coarse), codebook = Some(pq))
      .orderBy("query_id", "rnk")
  }

  /** Shared CTE block for the IVFPQ oracles: trained-centroid cell
    * assignment + probe lists + the probe-side ADC lookup table (`lutd`)
    * over the codebook at `pqParquet`; callers add the encoding CTE (raw
    * subvectors for flat codes, `resid` for by-residual) and the scoring
    * tail.
    */
  private def ivfPqOracleCtes(pqParquet: String): String =
    s"""WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |cent AS (SELECT cw AS cid, w AS ce
      |  FROM read_parquet('${Codebooks.coarsePath}/*.parquet')),
      |csims AS (
      |  SELECT v.vec_id, v.e, c.cid,
      |    CAST(floor(1000000 * list_inner_product(v.e, c.ce) /
      |      (sqrt(list_inner_product(v.e, v.e)) * sqrt(list_inner_product(c.ce, c.ce))))
      |      AS BIGINT) AS sim
      |  FROM v CROSS JOIN cent c),
      |ranked_cells AS (
      |  SELECT vec_id, e, cid, row_number() OVER (
      |    PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
      |  FROM csims),
      |assign AS (
      |  SELECT vec_id, e, cid AS cell FROM ranked_cells WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS qid, e AS qe, cid AS cell FROM ranked_cells
      |  WHERE rn <= 8),
      |cb AS (SELECT j, cw, w
      |  FROM read_parquet('$pqParquet/*.parquet')),
      |lutd AS (
      |  SELECT v.vec_id AS qid, cb.j, cb.cw,
      |    CAST(floor(1000000 * list_inner_product(
      |      v.e[cb.j*2+1 : cb.j*2+2], cb.w)) AS BIGINT) AS dotm
      |  FROM v CROSS JOIN cb)""".stripMargin

  val knnIvfPqTop5Sql: String =
    s"""${ivfPqOracleCtes(Codebooks.pqPath)},
      |enc AS (
      |  SELECT vec_id, j, cw FROM (
      |    SELECT a.vec_id, cb.j, cb.cw, row_number() OVER (
      |      PARTITION BY a.vec_id, cb.j ORDER BY
      |        CAST(floor(1000000 * (
      |          list_inner_product(a.e[cb.j*2+1 : cb.j*2+2], a.e[cb.j*2+1 : cb.j*2+2])
      |          - 2*list_inner_product(a.e[cb.j*2+1 : cb.j*2+2], cb.w)
      |          + list_inner_product(cb.w, cb.w))) AS BIGINT), cb.cw) AS rn
      |    FROM assign a CROSS JOIN cb)
      |  WHERE rn = 1),
      |cand AS (
      |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id
      |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.qid),
      |scores AS (
      |  SELECT c.query_id, c.neighbor_id, CAST(sum(l.dotm) AS BIGINT) AS score_q
      |  FROM cand c
      |  JOIN enc ON enc.vec_id = c.neighbor_id
      |  JOIN lutd l ON l.qid = c.query_id AND l.j = enc.j AND l.cw = enc.cw
      |  GROUP BY c.query_id, c.neighbor_id),
      |rankedq AS (
      |  SELECT query_id, neighbor_id, score_q,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_q DESC, neighbor_id) AS rnk
      |  FROM scores)
      |SELECT query_id, neighbor_id, score_q, CAST(rnk AS BIGINT) AS rnk
      |FROM rankedq WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** IVFPQ top-5 with residual encoding (faiss `by_residual=true`): codes
    * quantize `x − centroid(cell(x))` against the residual-trained
    * codebook, and the ADC score adds back the probe·centroid term —
    * `⌊1e6·q·c⌋ + Σⱼ lut[j][codeⱼ]`. The standard IVFPQ accuracy step;
    * recall@5 0.793 vs 0.785 flat (structureless vectors leave little
    * energy in the coarse term — on clustered real embeddings the gap
    * widens). Oracle: same artifact pattern, residuals via indexed
    * `list_transform`.
    */
  def knnIvfPqResTop5(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val coarse = Codebooks.loadCoarse(spark, Codebooks.coarsePath)
    val pqRes = Codebooks.loadPq(spark, Codebooks.pqResPath)
    Similarity.ivfPqTopK(emb, emb, "vec_id", "embedding", k = 5,
      nlist = 16, nprobe = 8, m = 32, ksub = 256,
      centroids = Some(coarse), codebook = Some(pqRes), byResidual = true)
      .orderBy("query_id", "rnk")
  }

  val knnIvfPqResTop5Sql: String =
    s"""${ivfPqOracleCtes(Codebooks.pqResPath)},
      |resid AS (
      |  SELECT a.vec_id, a.cell,
      |    list_transform(a.e, (x, i) -> x - c.ce[i]) AS re
      |  FROM assign a JOIN cent c ON c.cid = a.cell),
      |enc AS (
      |  SELECT vec_id, j, cw FROM (
      |    SELECT r.vec_id, cb.j, cb.cw, row_number() OVER (
      |      PARTITION BY r.vec_id, cb.j ORDER BY
      |        CAST(floor(1000000 * (
      |          list_inner_product(r.re[cb.j*2+1 : cb.j*2+2], r.re[cb.j*2+1 : cb.j*2+2])
      |          - 2*list_inner_product(r.re[cb.j*2+1 : cb.j*2+2], cb.w)
      |          + list_inner_product(cb.w, cb.w))) AS BIGINT), cb.cw) AS rn
      |    FROM resid r CROSS JOIN cb)
      |  WHERE rn = 1),
      |cand AS (
      |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
      |    CAST(floor(1000000 * list_inner_product(p.qe, c.ce)) AS BIGINT)
      |      AS basem
      |  FROM probes p
      |  JOIN cent c ON c.cid = p.cell
      |  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.qid),
      |scores AS (
      |  SELECT c.query_id, c.neighbor_id,
      |    c.basem + CAST(sum(l.dotm) AS BIGINT) AS score_q
      |  FROM cand c
      |  JOIN enc ON enc.vec_id = c.neighbor_id
      |  JOIN lutd l ON l.qid = c.query_id AND l.j = enc.j AND l.cw = enc.cw
      |  GROUP BY c.query_id, c.neighbor_id, c.basem),
      |rankedq AS (
      |  SELECT query_id, neighbor_id, score_q,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_q DESC, neighbor_id) AS rnk
      |  FROM scores)
      |SELECT query_id, neighbor_id, score_q, CAST(rnk AS BIGINT) AS rnk
      |FROM rankedq WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** IVFPQ + exact re-rank refinement (faiss `IndexRefineFlat`): the
    * compressed IVFPQ scan nominates top-25 candidates per query, then
    * only those 25 true vectors are fetched and re-ranked by exact
    * floored-micro cosine to the final top-5 — recall recovers to the
    * coarse-pruning ceiling (0.81@5 vs 0.79 unrefined at sf0.01; the
    * refine step itself adds no corpus-sized float scan). Oracle:
    * the IVFPQ CTEs ranked to 25, joined back to the vectors, exact
    * re-rank in SQL.
    */
  def knnIvfPqRefineTop5(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val coarse = Codebooks.loadCoarse(spark, Codebooks.coarsePath)
    val pq = Codebooks.loadPq(spark, Codebooks.pqPath)
    val cand = Similarity.ivfPqTopK(emb, emb, "vec_id", "embedding",
      k = 25, nlist = 16, nprobe = 8, m = 32, ksub = 256,
      centroids = Some(coarse), codebook = Some(pq))
    Similarity.refineTopK(emb, emb, "vec_id", "embedding", cand, k = 5)
      .orderBy("query_id", "rnk")
  }

  val knnIvfPqRefineTop5Sql: String =
    s"""${ivfPqOracleCtes(Codebooks.pqPath)},
      |enc AS (
      |  SELECT vec_id, j, cw FROM (
      |    SELECT a.vec_id, cb.j, cb.cw, row_number() OVER (
      |      PARTITION BY a.vec_id, cb.j ORDER BY
      |        CAST(floor(1000000 * (
      |          list_inner_product(a.e[cb.j*2+1 : cb.j*2+2], a.e[cb.j*2+1 : cb.j*2+2])
      |          - 2*list_inner_product(a.e[cb.j*2+1 : cb.j*2+2], cb.w)
      |          + list_inner_product(cb.w, cb.w))) AS BIGINT), cb.cw) AS rn
      |    FROM assign a CROSS JOIN cb)
      |  WHERE rn = 1),
      |cand AS (
      |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id
      |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.qid),
      |scores AS (
      |  SELECT c.query_id, c.neighbor_id, CAST(sum(l.dotm) AS BIGINT) AS score_q
      |  FROM cand c
      |  JOIN enc ON enc.vec_id = c.neighbor_id
      |  JOIN lutd l ON l.qid = c.query_id AND l.j = enc.j AND l.cw = enc.cw
      |  GROUP BY c.query_id, c.neighbor_id),
      |rankedq AS (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_q DESC, neighbor_id) AS rnk
      |  FROM scores),
      |refine AS (
      |  SELECT r.query_id, r.neighbor_id,
      |    CAST(floor(1000000 * list_inner_product(q.e, c.e) /
      |      (sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(c.e, c.e))))
      |      AS BIGINT) AS sim_micro
      |  FROM rankedq r
      |  JOIN v q ON q.vec_id = r.query_id
      |  JOIN v c ON c.vec_id = r.neighbor_id
      |  WHERE r.rnk <= 25),
      |final AS (
      |  SELECT query_id, neighbor_id, sim_micro,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim_micro DESC, neighbor_id) AS rnk
      |  FROM refine)
      |SELECT query_id, neighbor_id, sim_micro, CAST(rnk AS BIGINT) AS rnk
      |FROM final WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** IVFPQ top-5 against the COMMITTED persisted index
    * (`Codebooks.ivfPqIndexPathFor(dir)`, built per scale factor by
    * `BuildIvfPqIndex` with the frozen sf0.01-trained quantizers —
    * train once, encode any corpus; each replay sf queries an index of
    * its OWN population, the same fix the dedup index got) — the
    * build-once/query-many read path that matters at 100 TB: the corpus
    * was encoded ONCE into `__cell=<id>/` parquet, and each query batch's
    * scan partition-prunes to its probes' cells at the FILE level
    * (`PartitionFilters` in the scan, pinned by `PlanRegressionSpec`)
    * before any non-probed byte is read. The oracle does NOT re-encode:
    * it `read_parquet`s the index itself (hive-partitioned cells,
    * hex-decoding the m=32 one-byte codes) and replays probe assignment
    * + ADC against those stored codes — certifying the artifact on disk,
    * not just the encoding math.
    */
  def knnIvfPqIndexTop5(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val coarse = Codebooks.loadCoarse(spark, Codebooks.coarsePath)
    val pq = Codebooks.loadPq(spark, Codebooks.pqPath)
    Similarity.ivfPqTopKFromIndex(Codebooks.ivfPqIndexPathFor(dir), emb,
      "vec_id", "embedding", k = 5, nprobe = 8, coarse, pq)
      .orderBy("query_id", "rnk")
  }

  /** The committed-index ADC scoring CTEs (`idx → codes → scores →
    * rankedq`), appended after `ivfPqOracleCtes`; shared by
    * `knnIvfPqIndexTop5Sql` and `knnRecallAt5Sql`.
    */
  private def ivfPqIndexRankCtes: String =
    s"""idx AS (
      |  SELECT __id AS nid, CAST(__cell AS BIGINT) AS cell,
      |    hex(__code) AS h
      |  FROM read_parquet('${Codebooks.ivfPqIndexRoot}/*/*/*.parquet',
      |    hive_partitioning=1)
      |  WHERE sf = (SELECT CASE WHEN count(*) >= 1500 THEN 'sf0.1'
      |    ELSE 'sf0.01' END FROM embeddings)),
      |codes AS (
      |  SELECT nid, cell, js.j,
      |    CAST((strpos('0123456789ABCDEF',
      |            substr(h, CAST(js.j*2+1 AS INT), 1)) - 1) * 16
      |       + (strpos('0123456789ABCDEF',
      |            substr(h, CAST(js.j*2+2 AS INT), 1)) - 1) AS BIGINT) AS cw
      |  FROM idx CROSS JOIN
      |    (SELECT CAST(range AS BIGINT) AS j FROM range(32)) js),
      |scores AS (
      |  SELECT p.qid AS query_id, c.nid AS neighbor_id,
      |    CAST(sum(l.dotm) AS BIGINT) AS score_q
      |  FROM probes p
      |  JOIN codes c ON c.cell = p.cell AND c.nid <> p.qid
      |  JOIN lutd l ON l.qid = p.qid AND l.j = c.j AND l.cw = c.cw
      |  GROUP BY p.qid, c.nid),
      |rankedq AS (
      |  SELECT query_id, neighbor_id, score_q,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_q DESC, neighbor_id) AS rnk
      |  FROM scores)""".stripMargin

  val knnIvfPqIndexTop5Sql: String =
    s"""${ivfPqOracleCtes(Codebooks.pqPath)},
      |$ivfPqIndexRankCtes
      |SELECT query_id, neighbor_id, score_q, CAST(rnk AS BIGINT) AS rnk
      |FROM rankedq WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** Recall@5 of the IVFPQ pipeline against exact cosine over the SAME
    * corpus, AS DATA: one row per query vector with the hit count and
    * recall in milli — the eval every ANN deployment needs, runnable as
    * a query (the spec-pinned recall floors sample it; this row
    * publishes the whole distribution, hash-exact on both engines).
    * Deliberately the AD-HOC pipeline (`dir`'s vectors encoded with the
    * committed quantizers), not the committed index: the index holds
    * the sf0.01 corpus, so comparing it against exact neighbors drawn
    * from a DIFFERENT sf's population would measure cross-corpus
    * nonsense — this formulation is meaningful at every scale factor.
    * Both sides exclude self and break ties identically (score DESC,
    * neighbor_id); queries whose ANN list misses all 5 exact neighbors
    * still appear (hits = 0) via the left join from the population.
    * sf0.01 mean recall ≈ 0.785 (matches the spec floor's sampled
    * estimate).
    */
  def knnRecallAt5(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val coarse = Codebooks.loadCoarse(spark, Codebooks.coarsePath)
    val pq = Codebooks.loadPq(spark, Codebooks.pqPath)
    val approx = Similarity.ivfPqTopK(emb, emb, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 8, m = 32, ksub = 256,
        centroids = Some(coarse), codebook = Some(pq))
      .select(col("query_id"), col("neighbor_id"))
    val exact = Similarity.knnBruteForce(emb, emb, "vec_id", "embedding",
        k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val hits = approx.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    emb.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("recall_milli", col("hits") * 200L)
      .orderBy("query_id")
  }

  val knnRecallAt5Sql: String =
    s"""${ivfPqOracleCtes(Codebooks.pqPath)},
      |enc AS (
      |  SELECT vec_id, j, cw FROM (
      |    SELECT a.vec_id, cb.j, cb.cw, row_number() OVER (
      |      PARTITION BY a.vec_id, cb.j ORDER BY
      |        CAST(floor(1000000 * (
      |          list_inner_product(a.e[cb.j*2+1 : cb.j*2+2], a.e[cb.j*2+1 : cb.j*2+2])
      |          - 2*list_inner_product(a.e[cb.j*2+1 : cb.j*2+2], cb.w)
      |          + list_inner_product(cb.w, cb.w))) AS BIGINT), cb.cw) AS rn
      |    FROM assign a CROSS JOIN cb)
      |  WHERE rn = 1),
      |cand AS (
      |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id
      |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.qid),
      |scores AS (
      |  SELECT c.query_id, c.neighbor_id, CAST(sum(l.dotm) AS BIGINT) AS score_q
      |  FROM cand c
      |  JOIN enc ON enc.vec_id = c.neighbor_id
      |  JOIN lutd l ON l.qid = c.query_id AND l.j = enc.j AND l.cw = enc.cw
      |  GROUP BY c.query_id, c.neighbor_id),
      |rankedq AS (
      |  SELECT query_id, neighbor_id, score_q,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_q DESC, neighbor_id) AS rnk
      |  FROM scores),
      |approx AS (
      |  SELECT query_id, neighbor_id FROM rankedq WHERE rnk <= 5),
      |epairs AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(floor(1000000 * list_inner_product(q.e, c.e) /
      |      (sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(c.e, c.e)))) AS BIGINT)
      |      AS sim_micro
      |  FROM v q JOIN v c ON q.vec_id <> c.vec_id),
      |eranked AS (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY sim_micro DESC, neighbor_id) AS rnk
      |  FROM epairs),
      |exact AS (
      |  SELECT query_id, neighbor_id FROM eranked WHERE rnk <= 5),
      |hits AS (
      |  SELECT a.query_id, count(*) AS hits
      |  FROM approx a JOIN exact e
      |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      |  GROUP BY a.query_id)
      |SELECT vq.vec_id AS query_id,
      |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
      |  CAST(COALESCE(h.hits, 0) * 200 AS BIGINT) AS recall_milli
      |FROM (SELECT vec_id FROM v) vq
      |LEFT JOIN hits h ON h.query_id = vq.vec_id
      |ORDER BY query_id""".stripMargin

  // =======================================================================
  // Registry
  // =======================================================================

  /** The CepQuery behind each cep_* registry entry — the streaming
    * batch==stream gate iterates this map, so it always tests exactly the
    * patterns the registry ships.
    */
  val cepRegistryQueries: Map[String, CepQuery] = Map(
    "cep_spat_purchase" -> cepSpatPurchaseQuery,
    "cep_next_signup_purchase" -> cepNextSignupPurchaseQuery,
    "cep_not_followed_by_purchase" -> cepNotFollowedByPurchaseQuery,
    "cep_not_next_purchase" -> cepNotNextPurchaseQuery,
    "cep_within_signup_purchase" -> cepWithinSignupPurchaseQuery,
    "cep_lpat_strict_clicks" -> cepLpatStrictClicksQuery,
    "cep_lpat_relaxed_purchase_pairs" -> cepLpatRelaxedPurchasePairsQuery,
    "cep_ndrelaxed_click_pairs" -> cepNdRelaxedClickPairsQuery,
    "cep_gpat_plain_error_click" -> cepGpatPlainErrorClickQuery,
    "cep_gpat_times_sp2" -> cepGpatTimesSp2Query,
    "cep_gpat_inf_sp" -> cepGpatInfSpQuery,
    "cep_skip_past_click_pairs" -> cepSkipPastClickPairsQuery,
    "cep_skip_to_first_click_pairs" -> cepSkipToFirstClickPairsQuery,
    "cep_skip_to_last_click_pairs" -> cepSkipToLastClickPairsQuery,
    "cep_greedy_click_runs" -> cepGreedyClickRunsQuery,
    "cep_sql_funnel" -> cepSqlFunnelQuery,
    "cep_iter_budget" -> cepIterBudgetQuery,
    // DEFINE-aggregate sugar lowered to the same register machinery —
    // riding every gate pins the desugared fold on real data
    "cep_sql_define_agg" -> cepSqlDefineAggQuery,
    // DEFINE logical navigation (FIRST set-once pair / LAST re-set
    // register): the registers ride the run-state codec, so the
    // batch==stream gates pin them across micro-batch boundaries
    "cep_sql_nav_first" -> cepSqlNavFirstQuery,
    "cep_sql_nav_last" -> cepSqlNavLastQuery,
    "cep_until_error_runs" -> cepUntilErrorRunsQuery,
    // PREV navigation: streaming feeds it from the per-key history in
    // state (codec v5) where batch uses the lag window — the gate pins
    // the two formulations equal on real data across micro-batch
    // boundaries. (cep_sql_nav_peaks uses NEXT and cannot stream.)
    "cep_sql_prev_ascending" -> cepSqlPrevAscendingStatement.query,
    // alternation: riding every registry gate (typed==Catalyst,
    // batch==stream, event-time) pins the Alt NFA on real data
    "cep_sql_alt_outcome" -> cepSqlAltOutcomeQuery,
    // permute: the shared-name union NFA through the same gates
    "cep_sql_permute" -> cepSqlPermuteStatement.query,
    // a NULLABLE top-level loop ({0,n}) under skip-past: the gates pin
    // the optional-loop NFA + run-state codec across micro-batches
    // (the SHOW EMPTY projection itself is batch-only; the MATCHER
    // streams)
    "cep_sql_show_empty" -> cepSqlShowEmptyStatement.query,
    // permute with a GROUP member: the lattice embeds the group's
    // sub-automaton — gates pin it across micro-batch boundaries
    "cep_sql_permute_group" -> cepSqlPermuteGroupStatement.query,
    // subset-target DEFINE aggregate: the shared register riding the
    // gates pins the union fold across micro-batch boundaries
    "cep_sql_subset_agg" -> cepSqlSubsetAggStatement.query,
    // '^' start anchor: STREAMS (the step counter rides the codec) —
    // riding the batch==stream gate pins the seed-once + firstTake==1
    // emit gate across micro-batch boundaries. '$' must NOT appear
    // here: streaming rejects it loudly (CepAnchorSpec).
    "cep_sql_anchor_first" -> cepSqlAnchorFirstStatement.query
  )

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cep_spat_purchase" -> cepSpatPurchase _,
    "cep_next_signup_purchase" -> cepNextSignupPurchase _,
    "cep_not_followed_by_purchase" -> cepNotFollowedByPurchase _,
    "cep_not_next_purchase" -> cepNotNextPurchase _,
    "cep_within_signup_purchase" -> cepWithinSignupPurchase _,
    "cep_within_time_signup_purchase" -> cepWithinTimeSignupPurchase _,
    "cep_lpat_strict_clicks" -> cepLpatStrictClicks _,
    "cep_lpat_relaxed_purchase_pairs" -> cepLpatRelaxedPurchasePairs _,
    "cep_ndrelaxed_click_pairs" -> cepNdRelaxedClickPairs _,
    "cep_gpat_plain_error_click" -> cepGpatPlainErrorClick _,
    "cep_gpat_times_sp2" -> cepGpatTimesSp2 _,
    "cep_gpat_inf_sp" -> cepGpatInfSp _,
    "cep_skip_past_click_pairs" -> cepSkipPastClickPairs _,
    "cep_skip_to_first_click_pairs" -> cepSkipToFirstClickPairs _,
    "cep_skip_to_last_click_pairs" -> cepSkipToLastClickPairs _,
    "cep_greedy_click_runs" -> cepGreedyClickRuns _,
    "cep_sql_funnel" -> cepSqlFunnel _,
    "cep_sql_measures_funnel" -> cepSqlMeasuresFunnel _,
    "cep_sql_anchor_first" -> cepSqlAnchorFirst _,
    "cep_sql_anchor_last" -> cepSqlAnchorLast _,
    "cep_sql_measures_div" -> cepSqlMeasuresDiv _,
    "cep_sql_from_clause" -> cepSqlFromClause _,
    "cep_sql_from_union" -> cepSqlFromUnion _,
    "cep_sql_permute_group" -> cepSqlPermuteGroup _,
    "cep_sql_subset_agg" -> cepSqlSubsetAgg _,
    "cep_sql_measures_avg" -> cepSqlMeasuresAvg _,
    "cep_sql_measures_offset" -> cepSqlMeasuresOffset _,
    "cep_sql_measures_expr" -> cepSqlMeasuresExpr _,
    "cep_sql_agg_arg" -> cepSqlAggArg _,
    "cep_sql_nav_first" -> cepSqlNavFirst _,
    "cep_sql_nav_last" -> cepSqlNavLast _,
    "cep_sql_nav_phys" -> cepSqlNavPhys _,
    "cep_sql_distinct_agg" -> cepSqlDistinctAgg _,
    "cep_sql_alt_shared_var" -> cepSqlAltSharedVar _,
    "cep_sql_all_rows" -> cepSqlAllRows _,
    "cep_sql_all_rows_offsets" -> cepSqlAllRowsOffsets _,
    "cep_sql_excl_funnel" -> cepSqlExclFunnel _,
    "cep_sql_unmatched" -> cepSqlUnmatched _,
    "cep_sql_show_empty" -> cepSqlShowEmpty _,
    "cep_sql_show_empty_anchor" -> cepSqlShowEmptyAnchor _,
    "cep_sql_show_empty_start" -> cepSqlShowEmptyStart _,
    "cep_sql_one_row_empty" -> cepSqlOneRowEmpty _,
    "cep_sql_multi_key" -> cepSqlMultiKey _,
    "cep_string_key" -> cepStringKey _,
    "cep_sql_string_attr" -> cepSqlStringAttr _,
    "cep_sql_string_like" -> cepSqlStringLike _,
    "cep_sql_string_order" -> cepSqlStringOrder _,
    "cep_sql_like_escape" -> cepSqlLikeEscape _,
    "sql_dedup_exact" -> sqlDedupExact _,
    "sql_sample_stratified" -> sqlSampleStratified _,
    "sql_chunk_tokens" -> sqlChunkTokens _,
    "sql_pack_shards" -> sqlPackShards _,
    "cep_sql_count_star" -> cepSqlCountStar _,
    "cep_sql_classifier_target" -> cepSqlClassifierTarget _,
    "cep_sql_multi_key_empty" -> cepSqlMultiKeyEmpty _,
    "cep_sql_prev_ascending" -> cepSqlPrevAscending _,
    "cep_sql_nav_peaks" -> cepSqlNavPeaks _,
    "cep_sql_subset_funnel" -> cepSqlSubsetFunnel _,
    "cep_sql_alt_outcome" -> cepSqlAltOutcome _,
    "cep_sql_alt_subset_value" -> cepSqlAltSubsetValue _,
    "cep_sql_permute" -> cepSqlPermute _,
    "cep_shed_gauge" -> cepShedGauge _,
    "cep_timeout_abandoned_signups" -> cepTimeoutAbandonedSignups _,
    "cep_iter_budget" -> cepIterBudget _,
    "cep_sql_define_agg" -> cepSqlDefineAgg _,
    "cep_until_error_runs" -> cepUntilErrorRuns _,
    "cep_agg_match_counts" -> cepAggMatchCounts _,
    "cep_multi_shared" -> cepMultiShared _,
    "cep_multi_shared_pushdown" -> cepMultiSharedPushdown _,
    "cep_sql_multi_shared" -> cepSqlMultiShared _,
    "cep_sql_multi_measures" -> cepSqlMultiMeasures _,
    "cep_sql_shared_all_rows" -> cepSqlSharedAllRows _,
    "rel_q1_pricing" -> relQ1Pricing _,
    "rel_q3_top_orders" -> relQ3TopOrders _,
    "rel_nation_stats" -> relNationStats _,
    "rel_window_top3" -> relWindowTop3 _,
    "rel_percentiles" -> relPercentiles _,
    "rel_pivot_returns" -> relPivotReturns _,
    "sketch_quantiles" -> sketchQuantiles _,
    "sketch_quantiles_daily" -> sketchQuantilesDaily _,
    "profile_corpus_card" -> profileCorpusCard _,
    "profile_mad_outliers" -> profileMadOutliers _,
    "rel_json_props" -> relJsonProps _,
    "rel_session_stats" -> relSessionStats _,
    "rel_asof_signup" -> relAsofSignup _,
    "rel_rollup_pricing" -> relRollupPricing _,
    "rel_cube_pricing" -> relCubePricing _,
    "rel_moving_revenue" -> relMovingRevenue _,
    "rel_nations_set" -> relNationsSet _,
    "rel_cust_no_orders" -> relCustNoOrders _,
    "text_token_counts" -> textTokenCounts _,
    "text_chunks" -> textChunks _,
    "pipeline_chunk_pack" -> pipelineChunkPack _,
    "pipeline_ingest_day" -> pipelineIngestDay _,
    "pipeline_ingest_day_full" -> pipelineIngestDayFull _,
    "text_quality" -> textQuality _,
    "text_quality_model" -> textQualityModel _,
    "text_repetition" -> textRepetition _,
    "text_gopher_repetition" -> textGopherRepetition _,
    "text_dsir_score" -> textDsirScore _,
    "text_lm_perplexity" -> textLmPerplexity _,
    "sample_perplexity_gate" -> samplePerplexityGate _,
    "text_langid_model" -> textLangidModel _,
    "text_bpe_tokens" -> textBpeTokens _,
    "bpe_vocab_top" -> bpeVocabTop _,
    "sample_dsir_topk" -> sampleDsirTopk _,
    "text_pii_scrub" -> textPiiScrub _,
    "text_url_normalize" -> textUrlNormalize _,
    "sample_domain_quota" -> sampleDomainQuota _,
    "knn_ivf_top5" -> knnIvfTop5 _,
    "text_stats" -> textStats _,
    "lang_id" -> langIdQuery _,
    "doc_fingerprint" -> docFingerprint _,
    "dedup_exact" -> dedupExact _,
    "dedup_normalized" -> dedupNormalized _,
    "dedup_ngram_jaccard" -> dedupNgramJaccard _,
    "dedup_lsh_calibration" -> dedupLshCalibration _,
    "dedup_cluster_keep" -> dedupClusterKeep _,
    "split_leakage_free" -> splitLeakageFree _,
    "sample_stratified" -> sampleStratified _,
    "sample_pps_systematic" -> samplePpsSystematic _,
    "pipeline_curate" -> pipelineCurate _,
    "pipeline_curate_full" -> pipelineCurateFull _,
    "pipeline_prep_shards" -> pipelinePrepShards _,
    "pipeline_prep_shards_v2" -> pipelinePrepShardsV2 _,
    "pipeline_dsir_pack" -> pipelineDsirPack _,
    "emb_lang_centroids" -> embLangCentroids _,
    "dedup_minhash_lsh" -> dedupMinhashLsh _,
    "dedup_incremental" -> dedupIncremental _,
    "dedup_index_gauge" -> dedupIndexGauge _,
    "dedup_simhash" -> dedupSimhash _,
    "dedup_source_matrix" -> dedupSourceMatrix _,
    "knn_cosine_top10" -> knnCosineTop10 _,
    "emb_near_dup_lsh" -> embNearDupLsh _,
    "semantic_dedup" -> semanticDedup _,
    "mm_features" -> mmFeatures _,
    "mm_image_dedup" -> mmImageDedup _,
    "mm_image_dedup_keep" -> mmImageDedupKeep _,
    "mm_audio_features" -> mmAudioFeatures _,
    "mm_audio_dedup" -> mmAudioDedup _,
    "mm_audio_dedup_keep" -> mmAudioDedupKeep _,
    "mm_video_features" -> mmVideoFeatures _,
    "mm_video_frames" -> mmVideoFrames _,
    "mm_video_dedup" -> mmVideoDedup _,
    "mm_video_dedup_keep" -> mmVideoDedupKeep _,
    "mm_frame_sample" -> mmFrameSample _,
    "sketch_distinct_tokens" -> sketchDistinctTokens _,
    "sketch_hll_distinct" -> sketchHllDistinct _,
    "sketch_hll_groups" -> sketchHllGroups _,
    "sketch_cms_topk" -> sketchCmsTopk _,
    "decontam_overlap" -> decontamOverlap _,
    "decontam_bloom" -> decontamBloom _,
    "text_dup_passages" -> textDupPassages _,
    "tfidf_top_terms" -> tfidfTopTerms _,
    "text_lm_fluency" -> textLmFluency _,
    "vocab_top20" -> vocabTop20 _,
    "knn_sq8_top5" -> knnSq8Top5 _,
    "knn_pq_adc_top5" -> knnPqAdcTop5 _,
    "knn_ivfpq_top5" -> knnIvfPqTop5 _,
    "knn_ivfpq_res_top5" -> knnIvfPqResTop5 _,
    "knn_ivfpq_refine_top5" -> knnIvfPqRefineTop5 _,
    "knn_ivfpq_index_top5" -> knnIvfPqIndexTop5 _,
    "knn_recall_at5" -> knnRecallAt5 _,
    "rel_salted_join" -> relSaltedJoin _,
    "rel_range_join" -> relRangeJoin _,
    "dedup_passage_scrub" -> dedupPassageScrub _,
    "dedup_passage_scrub_keep" -> dedupPassageScrubKeep _,
    "dedup_passage_scrub_maximal" -> dedupPassageScrubMaximal _,
    "source_overlap" -> sourceOverlap _,
    "pack_shards" -> packShards _,
    "pack_shuffled" -> packShuffled _,
    "pack_shards_global" -> packShardsGlobal _,
    "pack_shard_stats" -> packShardStats _,
    "mix_rebalance" -> mixRebalance _,
    "sample_temperature" -> sampleTemperature _,
    "emb_outliers" -> embOutliers _,
    "sample_cluster_prune" -> sampleClusterPrune _
  )

  val oracles: Map[String, String] = Map(
    "cep_spat_purchase" -> cepSpatPurchaseSql,
    "cep_next_signup_purchase" -> cepNextSignupPurchaseSql,
    "cep_not_followed_by_purchase" -> cepNotFollowedByPurchaseSql,
    "cep_not_next_purchase" -> cepNotNextPurchaseSql,
    "cep_within_signup_purchase" -> cepWithinSignupPurchaseSql,
    "cep_within_time_signup_purchase" -> cepWithinTimeSignupPurchaseSql,
    "cep_lpat_strict_clicks" -> cepLpatStrictClicksSql,
    "cep_lpat_relaxed_purchase_pairs" -> cepLpatRelaxedPurchasePairsSql,
    "cep_ndrelaxed_click_pairs" -> cepNdRelaxedClickPairsSql,
    "cep_gpat_plain_error_click" -> cepGpatPlainErrorClickSql,
    "cep_gpat_times_sp2" -> cepGpatTimesSp2Sql,
    "cep_gpat_inf_sp" -> cepGpatInfSpSql,
    "cep_until_error_runs" -> cepUntilErrorRunsSql,
    "cep_agg_match_counts" -> cepAggMatchCountsSql,
    "cep_multi_shared" -> cepMultiSharedSql,
    "cep_multi_shared_pushdown" -> cepMultiSharedPushdownSql,
    "cep_sql_multi_shared" -> cepSqlMultiSharedSql,
    "cep_sql_multi_measures" -> cepSqlMultiMeasuresSql,
    "cep_sql_shared_all_rows" -> cepSqlSharedAllRowsSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_lsh_calibration" -> dedupLshCalibrationSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_index_gauge" -> dedupIndexGaugeSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_source_matrix" -> dedupSourceMatrixSql,
    "emb_near_dup_lsh" -> embNearDupLshSql,
    "semantic_dedup" -> semanticDedupSql,
    "cep_skip_past_click_pairs" -> cepSkipPastClickPairsSql,
    "cep_skip_to_first_click_pairs" -> cepSkipToFirstClickPairsSql,
    "cep_skip_to_last_click_pairs" -> cepSkipToLastClickPairsSql,
    "cep_greedy_click_runs" -> cepGreedyClickRunsSql,
    "cep_sql_funnel" -> cepSqlFunnelSql,
    "cep_sql_measures_funnel" -> cepSqlMeasuresFunnelSql,
    "cep_sql_anchor_first" -> cepSqlAnchorFirstSql,
    "cep_sql_anchor_last" -> cepSqlAnchorLastSql,
    "cep_sql_measures_div" -> cepSqlMeasuresDivSql,
    "cep_sql_from_clause" -> cepSqlFromClauseSql,
    "cep_sql_from_union" -> cepSqlFromUnionSql,
    "cep_sql_permute_group" -> cepSqlPermuteGroupSql,
    "cep_sql_subset_agg" -> cepSqlSubsetAggSql,
    "cep_sql_measures_avg" -> cepSqlMeasuresAvgSql,
    "cep_sql_measures_offset" -> cepSqlMeasuresOffsetSql,
    "cep_sql_measures_expr" -> cepSqlMeasuresExprSql,
    "cep_sql_agg_arg" -> cepSqlAggArgSql,
    "cep_sql_nav_first" -> cepSqlNavFirstSql,
    "cep_sql_nav_last" -> cepSqlNavLastSql,
    "cep_sql_nav_phys" -> cepSqlNavPhysSql,
    "cep_sql_distinct_agg" -> cepSqlDistinctAggSql,
    "cep_sql_alt_shared_var" -> cepSqlAltSharedVarSql,
    "cep_sql_all_rows" -> cepSqlAllRowsSql,
    "cep_sql_all_rows_offsets" -> cepSqlAllRowsOffsetsSql,
    "cep_sql_excl_funnel" -> cepSqlExclFunnelSql,
    "cep_sql_unmatched" -> cepSqlUnmatchedSql,
    "cep_sql_show_empty" -> cepSqlShowEmptySql,
    "cep_sql_show_empty_anchor" -> cepSqlShowEmptyAnchorSql,
    "cep_sql_show_empty_start" -> cepSqlShowEmptyStartSql,
    "cep_sql_one_row_empty" -> cepSqlOneRowEmptySql,
    "cep_sql_multi_key" -> cepSqlMultiKeySql,
    "cep_string_key" -> cepStringKeySql,
    "cep_sql_string_attr" -> cepSqlStringAttrSql,
    "cep_sql_string_like" -> cepSqlStringLikeSql,
    "cep_sql_string_order" -> cepSqlStringOrderSql,
    "cep_sql_like_escape" -> cepSqlLikeEscapeSql,
    "sql_dedup_exact" -> dedupExactSql,
    "sql_sample_stratified" -> sampleStratifiedSql,
    "sql_chunk_tokens" -> textChunksSql,
    "sql_pack_shards" -> packShardsSql,
    "cep_sql_count_star" -> cepSqlCountStarSql,
    "cep_sql_classifier_target" -> cepSqlClassifierTargetSql,
    "cep_sql_multi_key_empty" -> cepSqlMultiKeyEmptySql,
    "cep_sql_prev_ascending" -> cepSqlPrevAscendingSql,
    "cep_sql_nav_peaks" -> cepSqlNavPeaksSql,
    "cep_sql_subset_funnel" -> cepSqlSubsetFunnelSql,
    "cep_sql_alt_outcome" -> cepSqlAltOutcomeSql,
    "cep_sql_alt_subset_value" -> cepSqlAltSubsetValueSql,
    "cep_sql_permute" -> cepSqlPermuteSql,
    "cep_shed_gauge" -> cepShedGaugeSql,
    "cep_timeout_abandoned_signups" -> cepTimeoutAbandonedSignupsSql,
    "cep_iter_budget" -> cepIterBudgetSql,
    "cep_sql_define_agg" -> cepSqlDefineAggSql,
    "rel_q1_pricing" -> relQ1PricingSql,
    "rel_q3_top_orders" -> relQ3TopOrdersSql,
    "rel_nation_stats" -> relNationStatsSql,
    "rel_window_top3" -> relWindowTop3Sql,
    "rel_percentiles" -> relPercentilesSql,
    "rel_pivot_returns" -> relPivotReturnsSql,
    "sketch_quantiles" -> sketchQuantilesSql,
    "sketch_quantiles_daily" -> sketchQuantilesDailySql,
    "profile_corpus_card" -> profileCorpusCardSql,
    "profile_mad_outliers" -> profileMadOutliersSql,
    "rel_json_props" -> relJsonPropsSql,
    "rel_session_stats" -> relSessionStatsSql,
    "rel_asof_signup" -> relAsofSignupSql,
    "rel_rollup_pricing" -> relRollupPricingSql,
    "rel_cube_pricing" -> relCubePricingSql,
    "rel_moving_revenue" -> relMovingRevenueSql,
    "rel_nations_set" -> relNationsSetSql,
    "rel_cust_no_orders" -> relCustNoOrdersSql,
    "text_token_counts" -> textTokenCountsSql,
    "text_chunks" -> textChunksSql,
    "pipeline_chunk_pack" -> pipelineChunkPackSql,
    "pipeline_ingest_day" -> pipelineIngestDaySql,
    "pipeline_ingest_day_full" -> pipelineIngestDayFullSql,
    "text_quality" -> textQualitySql,
    "text_quality_model" -> textQualityModelSql,
    "text_repetition" -> textRepetitionSql,
    "text_gopher_repetition" -> textGopherRepetitionSql,
    "text_pii_scrub" -> textPiiScrubSql,
    "text_url_normalize" -> textUrlNormalizeSql,
    "sample_domain_quota" -> sampleDomainQuotaSql,
    "knn_ivf_top5" -> knnIvfTop5Sql,
    "text_stats" -> textStatsSql,
    "lang_id" -> langIdSql,
    "doc_fingerprint" -> docFingerprintSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_normalized" -> dedupNormalizedSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_cluster_keep" -> dedupClusterKeepSql,
    "split_leakage_free" -> splitLeakageFreeSql,
    "sample_stratified" -> sampleStratifiedSql,
    "sample_pps_systematic" -> samplePpsSystematicSql,
    "pipeline_curate" -> pipelineCurateSql,
    "pipeline_curate_full" -> pipelineCurateFullSql,
    "pipeline_prep_shards" -> pipelinePrepShardsSql,
    "pipeline_prep_shards_v2" -> pipelinePrepShardsV2Sql,
    "pipeline_dsir_pack" -> pipelineDsirPackSql,
    "emb_lang_centroids" -> embLangCentroidsSql,
    "knn_cosine_top10" -> knnCosineTop10Sql,
    "mm_features" -> mmFeaturesSql,
    "mm_image_dedup" -> mmImageDedupSql,
    "mm_image_dedup_keep" -> mmImageDedupKeepSql,
    "mm_audio_features" -> mmAudioFeaturesSql,
    "mm_audio_dedup" -> mmAudioDedupSql,
    "mm_audio_dedup_keep" -> mmAudioDedupKeepSql,
    "mm_video_features" -> mmVideoFeaturesSql,
    "mm_video_frames" -> mmVideoFramesSql,
    "mm_video_dedup" -> mmVideoDedupSql,
    "mm_video_dedup_keep" -> mmVideoDedupKeepSql,
    "mm_frame_sample" -> mmFrameSampleSql,
    "sketch_distinct_tokens" -> sketchDistinctTokensSql,
    "sketch_hll_distinct" -> sketchHllDistinctSql,
    "sketch_hll_groups" -> sketchHllGroupsSql,
    "sketch_cms_topk" -> sketchCmsTopkSql,
    "decontam_overlap" -> decontamOverlapSql,
    "decontam_bloom" -> decontamBloomSql,
    "text_dup_passages" -> textDupPassagesSql,
    "tfidf_top_terms" -> tfidfTopTermsSql,
    "text_lm_fluency" -> textLmFluencySql,
    "text_dsir_score" -> textDsirScoreSql,
    "text_lm_perplexity" -> textLmPerplexitySql,
    "sample_perplexity_gate" -> samplePerplexityGateSql,
    "text_langid_model" -> textLangidModelSql,
    "text_bpe_tokens" -> textBpeTokensSql,
    "bpe_vocab_top" -> bpeVocabTopSql,
    "sample_dsir_topk" -> sampleDsirTopkSql,
    "vocab_top20" -> vocabTop20Sql,
    "knn_sq8_top5" -> knnSq8Top5Sql,
    "knn_pq_adc_top5" -> knnPqAdcTop5Sql,
    "knn_ivfpq_top5" -> knnIvfPqTop5Sql,
    "knn_ivfpq_res_top5" -> knnIvfPqResTop5Sql,
    "knn_ivfpq_refine_top5" -> knnIvfPqRefineTop5Sql,
    "knn_ivfpq_index_top5" -> knnIvfPqIndexTop5Sql,
    "knn_recall_at5" -> knnRecallAt5Sql,
    "rel_salted_join" -> relSaltedJoinSql,
    "rel_range_join" -> relRangeJoinSql,
    "dedup_passage_scrub" -> dedupPassageScrubSql,
    "dedup_passage_scrub_keep" -> dedupPassageScrubKeepSql,
    "dedup_passage_scrub_maximal" -> dedupPassageScrubMaximalSql,
    "source_overlap" -> sourceOverlapSql,
    "pack_shards" -> packShardsSql,
    "pack_shuffled" -> packShuffledSql,
    "pack_shards_global" -> packShardsGlobalSql,
    "pack_shard_stats" -> packShardStatsSql,
    "mix_rebalance" -> mixRebalanceSql,
    "sample_temperature" -> sampleTemperatureSql,
    "emb_outliers" -> embOutliersSql,
    "sample_cluster_prune" -> sampleClusterPruneSql
  )
}
