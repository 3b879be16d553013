package graft.cep

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The pre-NFA filter pushdown must be invisible: `SparkCep.matchPatternExec`
  * (which may prefilter) has to equal the pure in-memory NFA run on the
  * full unfiltered event sequence, per key. Also pins exactly which
  * patterns are allowed to push down.
  */
class PushdownSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val spec = SparkCep.CepSpec(Some("user_id"), "event_id",
    "event_type", Seq("value"))
  private val schema = Vector(
    "a" -> Vector("event_id", "value"), "b" -> Vector("event_id", "value"),
    "c" -> Vector("event_id", "value"))

  // one user, a mixed stream exercising skips/kills around types a, b, c
  private val events = Seq(
    (1L, 1L, "a", 5L), (1L, 2L, "c", 0L), (1L, 3L, "a", 50L),
    (1L, 4L, "b", 1L), (1L, 5L, "a", 7L), (1L, 6L, "b", 2L),
    (1L, 7L, "c", 9L), (1L, 8L, "a", 3L), (2L, 9L, "a", 1L),
    (2L, 10L, "b", 4L), (2L, 11L, "a", 2L))

  private def groundTruth(q: CepQuery): Set[(Long, String)] =
    events.groupBy(_._1).toSeq.flatMap { case (key, evs) =>
      val ordered = evs.sortBy(_._2).map { case (_, id, t, v) =>
        Event(t, "event_id" -> id, "value" -> v)
      }
      CepOperator.run(q, ordered).map { m =>
        key -> m.map { case (n, es) =>
          s"$n:${es.map(_("event_id")).mkString("+")}"
        }.mkString(",")
      }
    }.toSet

  private def viaSpark(q: CepQuery): Set[(Long, String)] = {
    val s = spark
    import s.implicits._
    val df = events.toDF("user_id", "event_id", "event_type", "value")
    val names = SparkCep.patternNames(q.patseq)
    SparkCep.matchPatternExec(df, q, spec).collect().map { r =>
      r.getLong(0) -> names.zipWithIndex.collect {
        case (n, i) if r.getSeq[Long](i + 1).nonEmpty =>
          s"$n:${r.getSeq[Long](i + 1).mkString("+")}"
      }.mkString(",")
    }.toSet
  }

  private def check(q: CepQuery): Unit = assert(viaSpark(q) == groundTruth(q))

  test("spat with attribute condition pushes down and stays exact") {
    val q = CepQuery(Pattern.spat("x", "a", "value < 10"), schema)
    assert(SparkCep.prefilter(q, spec).isDefined)
    check(q)
  }

  test("all-relaxed combine pushes down type filter and stays exact") {
    val q = CepQuery(
      Pattern.Combine(Contiguity.Relaxed,
        Pattern.spat("x", "a", "True"),
        Pattern.lpat("y", "b", "True", Contiguity.Relaxed, 1, 2)),
      schema)
    assert(SparkCep.prefilter(q, spec).isDefined)
    check(q)
  }

  test("plain gpat is transparent to pushdown (compiles to child's DST)") {
    // Gpat(spat): the spat condition pushes through the wrapper
    val qs = CepQuery(
      Pattern.Gpat(Pattern.spat("x", "a", "value < 10")), schema)
    assert(SparkCep.prefilter(qs, spec).isDefined)
    check(qs)
    // Gpat over an all-relaxed body: alphabet filter pushes through
    // (the combine's right side must stay event-headed — a group there
    // is rejected by the compiler, mirroring the reference)
    val qr = CepQuery(
      Pattern.Gpat(Pattern.Combine(Contiguity.Relaxed,
        Pattern.spat("x", "a", "True"),
        Pattern.lpat("y", "b", "True", Contiguity.Relaxed, 1, 2))),
      schema)
    assert(SparkCep.prefilter(qr, spec).isDefined)
    check(qr)
    // group LOOPS stay opaque even under a plain wrapper
    val ql = CepQuery(
      Pattern.Gpat(Pattern.GpatTimes(
        Pattern.spat("x", "a", "True"), 1, 2)), schema)
    assert(SparkCep.prefilter(ql, spec).isEmpty)
    check(ql)
  }

  test("global (un-keyed) operator reproduces the single-sequence run") {
    val s = spark
    import s.implicits._
    val q = CepQuery(
      Pattern.Combine(Contiguity.Strict, Pattern.spat("x", "a", "True"),
        Pattern.spat("y", "b", "True")), schema)
    val globalSpec = spec.copy(keyCol = None)
    val df = events.toDF("user_id", "event_id", "event_type", "value")
    val got = SparkCep.matchPatternExec(df, q, globalSpec).collect()
      .map(r => (r.getSeq[Long](0).mkString("+"),
        r.getSeq[Long](1).mkString("+"))).toSet
    val ordered = events.sortBy(_._2).map { case (_, id, t, v) =>
      Event(t, "event_id" -> id, "value" -> v)
    }
    val want = CepOperator.run(q, ordered).map { m =>
      (m.toMap.apply("x").map(_("event_id")).mkString("+"),
        m.toMap.apply("y").map(_("event_id")).mkString("+"))
    }.toSet
    assert(got == want)
    // the cross-user boundary pair (8,"a") -> (9,"b"... id 9 is "a") — check
    // at least that global mode can match across user boundaries when types
    // line up: events 8 (a, user1) and 9 (a, user2) are not a pair, but
    // 9 (a) followed by 10 (b) is, and both appear in the global run.
    assert(want.contains(("9", "10")))
  }

  test("% pushes down only for positive literal divisors, stays exact") {
    // positive literal divisor: pmod == floorMod, pushable
    val pos = CepQuery(Pattern.spat("x", "a", "value % 3 == 2"), schema)
    assert(SparkCep.prefilter(pos, spec).isDefined)
    check(pos)
    // negative divisor: Spark pmod(7,-3)=1 but NFA floorMod(7,-3)=-2 — the
    // condition must NOT be pushed (prefilter falls back to type-only)
    val neg = CepQuery(Pattern.spat("x", "a", "value % -3 == -2"), schema)
    val c = SparkCep.prefilter(neg, spec)
    assert(c.isDefined && !c.get.toString.contains("pmod"))
    check(neg)
  }

  test("non-numeric (string) keys are carried through exactly") {
    val s = spark
    import s.implicits._
    val strEvents = events.map { case (k, id, t, v) => (s"user-$k", id, t, v) }
    val df = strEvents.toDF("user_id", "event_id", "event_type", "value")
    val q = CepQuery(
      Pattern.Combine(Contiguity.Relaxed, Pattern.spat("x", "a", "True"),
        Pattern.spat("y", "b", "True")), schema)
    val got = SparkCep.matchPatternExec(df, q, spec).collect().map { r =>
      (r.getString(0), r.getSeq[Long](1).mkString("+"),
        r.getSeq[Long](2).mkString("+"))
    }
    // same match multiset as the numeric-key ground truth, with the
    // ORIGINAL string keys in the output (exact-key contract)
    val want = groundTruth(q)
    assert(got.length == want.size)
    assert(got.map(_._1).toSet ==
      want.map(k => s"user-${k._1}").toSet)
  }

  test("null attribute raises in both pushed and non-pushed paths") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 1L, "a", Some(5L)), (1L, 2L, "a", None: Option[Long]))
      .toDF("user_id", "event_id", "event_type", "value")
    val q = CepQuery(Pattern.spat("x", "a", "value < 10"), schema)
    assert(SparkCep.prefilter(q, spec).isDefined)
    // the null-value event passes the prefilter (condition is NULL → kept)
    // and the NFA raises name-not-defined, exactly like the unpushed path
    val ex = intercept[Exception] {
      SparkCep.matchPatternExec(df, q, spec).collect()
    }
    def rootMsg(t: Throwable): String =
      if (t.getCause != null) rootMsg(t.getCause)
      else String.valueOf(t.getMessage)
    assert(rootMsg(ex).contains("not defined"))
  }

  test("nd-relaxed patterns push down the type filter and stay exact") {
    val nd = CepQuery(
      Pattern.lpat("x", "a", "True", Contiguity.NdRelaxed, 2, 2), schema)
    val ndCombine = CepQuery(
      Pattern.Combine(Contiguity.NdRelaxed,
        Pattern.spat("x", "a", "value < 10"),
        Pattern.lpat("y", "b", "True", Contiguity.NdRelaxed, 1, 2)), schema)
    assert(SparkCep.prefilter(nd, spec).isDefined)
    assert(SparkCep.prefilter(ndCombine, spec).isDefined)
    check(nd)
    check(ndCombine)
  }

  test("strict / until / group patterns do not push down") {
    val strict = CepQuery(
      Pattern.Combine(Contiguity.Strict, Pattern.spat("x", "a", "True"),
        Pattern.spat("y", "b", "True")), schema)
    val untilQ = CepQuery(
      Pattern.lpatInf("x", "a", "True", Contiguity.Relaxed, 1,
        Some("value >= 9")), schema)
    val grp = CepQuery(
      Pattern.GpatTimes(Pattern.Combine(Contiguity.Relaxed,
        Pattern.spat("x", "a", "True"), Pattern.spat("y", "b", "True")),
        1, 2), schema)
    assert(SparkCep.prefilter(strict, spec).isEmpty)
    assert(SparkCep.prefilter(untilQ, spec).isEmpty)
    assert(SparkCep.prefilter(grp, spec).isEmpty)
    // and the unpushed ones still match ground truth end-to-end
    Seq(strict, untilQ, grp).foreach(check)
  }

  test("greedy loops do not push down — a dropped ignorable event is " +
    "exactly where a greedy proceed is licensed") {
    // the counterexample from the prefilter doc: a{1,2}~ greedy -> y:c
    // on [a, OTHER, a, c]. Unfiltered: the non-alphabet event at the
    // loop boundary cannot be taken, so the proceed fires there and the
    // short match ([a1], c) exists next to ([a1,a3], c). The filtered
    // stream puts the second 'a' right after the first, the greedy cut
    // forbids the stop, and the short match vanishes — so the alphabet
    // filter must be refused.
    val greedyQ = CepQuery(
      Pattern.Combine(Contiguity.Relaxed,
        Pattern.lpat("x", "a", "True", Contiguity.Relaxed, 1, 2,
          greedy = true),
        Pattern.spat("y", "c", "True")),
      schema)
    assert(SparkCep.prefilter(greedyQ, spec).isEmpty,
      "greedy pattern must refuse the pre-NFA filter")
    // demonstrate the divergence the refusal prevents (pure NFA)
    def ev(t: String, id: Long) = Event(t, "event_id" -> id, "value" -> 0L)
    val full = Vector(ev("a", 1), ev("b", 2), ev("a", 3), ev("c", 4))
    val filtered = full.filter(e => e.tpe == "a" || e.tpe == "c")
    def ids(ms: Vector[Match]) = ms.map(_.toMap.apply("x").map(_("event_id")))
    val onFull = ids(CepOperator.run(greedyQ, full))
    val onFiltered = ids(CepOperator.run(greedyQ, filtered))
    assert(onFull.toSet == Set(Vector(1L), Vector(1L, 3L), Vector(3L)))
    assert(onFiltered.toSet == Set(Vector(1L, 3L), Vector(3L)),
      "if these become equal the refusal may be droppable — re-derive")
    // the reluctant twin keeps its pushdown
    val reluctant = greedyQ.copy(patseq = Pattern.Combine(
      Contiguity.Relaxed,
      Pattern.lpat("x", "a", "True", Contiguity.Relaxed, 1, 2),
      Pattern.spat("y", "c", "True")))
    assert(SparkCep.prefilter(reluctant, spec).isDefined)
    check(greedyQ)
    check(reluctant)
  }

  test("timedOutPartials never prefilters: a dropped event can be the " +
    "only one that closes an event-time window") {
    val s = spark
    import s.implicits._
    // x:a then y:b, event-time window 10 on value-as-ts. The only event
    // after the deadline is type 'c' (not in the pattern alphabet): an
    // alphabet prefilter would drop it, the clock would never pass
    // ts=100+10, and the timeout would be lost.
    val q = CepQuery(
      Pattern.Combine(Contiguity.Relaxed,
        Pattern.spat("x", "a", "True"), Pattern.spat("y", "b", "True")),
      schema, withinTime = Some(WithinTime("value", 10L)))
    val df = Seq(
      (1L, 1L, "a", 100L), (1L, 2L, "c", 150L))
      .toDF("user_id", "event_id", "event_type", "value")
    val got = SparkCep.timedOutPartials(df, q, spec).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    assert(got == Set((1L, Vector(1L))),
      "the c-typed clock event must reach the NFA and fire the timeout")
  }
}
