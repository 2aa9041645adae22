package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Events

/** The funnels against a plain-Scala reference on random event lists, and
  * the windowed funnel's inclusive bound on planted rows. */
class FunnelSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  type Ev = (Option[Long], String, Long)
  type Row5 = (Option[Long], Long, Long, Long, Long)

  /** The funnel row per user: each stage's time is its earliest event
    * strictly after the previous stage's time (and at most `w` after it
    * when bounded). A null user joins no stage, as in the oracle. */
  private def reference(rows: Seq[Ev], w: Option[Long]): Seq[Row5] =
    rows.groupBy(_._1).toSeq.map { case (u, es) =>
      def after(stage: String, prev: Option[Long]): Option[Long] =
        prev.flatMap(p => es.collect {
          case (_, `stage`, t) if t > p && w.forall(t <= p + _) => t
        }.minOption)
      val t1 = if (u.isEmpty) None else es.collect { case (_, "view", t) => t }.minOption
      val t2 = after("click", t1)
      val t3 = after("purchase", t2)
      val times = Seq(t1, t2, t3)
      (u, t1.getOrElse(-1L), t2.getOrElse(-1L), t3.getOrElse(-1L),
        times.count(_.isDefined).toLong)
    }.sortBy(_._1)

  private def run(df: org.apache.spark.sql.DataFrame): Seq[Row5] =
    df.collect().toSeq.map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
      r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

  private val W = 10L

  /** One user's rows: a view → click → purchase chain whose gaps are often
    * 0 (a same-µs tie), exactly W or W + 1, with any link possibly
    * missing, plus noise events on a small time domain. */
  private def userRows(u: Option[Long]): Gen[Seq[Ev]] = {
    val gap = Gen.oneOf(Gen.const(0L), Gen.const(1L), Gen.const(W),
      Gen.const(W + 1), Gen.choose(-3L, 3 * W))
    val noise = for {
      t <- Gen.choose(0L, 60L)
      ty <- Gen.oneOf("view", "click", "purchase", "scroll")
    } yield (u, ty, t)
    for {
      t0 <- Gen.choose(0L, 40L)
      g1 <- gap
      g2 <- gap
      keep <- Gen.listOfN(3, Gen.frequency(3 -> true, 1 -> false))
      n <- Gen.choose(0, 4)
      extra <- Gen.listOfN(n, noise)
    } yield Seq((u, "view", t0), (u, "click", t0 + g1), (u, "purchase", t0 + g1 + g2))
      .zip(keep).collect { case (e, true) => e } ++ extra
  }

  /** Several users, sometimes a null user_id, rows shuffled out of order. */
  private val eventLists: Gen[Seq[Ev]] = for {
    n <- Gen.choose(1, 12)
    withNull <- Gen.oneOf(true, false)
    users = (1L to n.toLong).map(Some(_)) ++ (if (withNull) Seq(None) else Nil)
    rows <- Gen.sequence[Seq[Seq[Ev]], Seq[Ev]](users.map(userRows))
    seed <- Gen.long
  } yield new scala.util.Random(seed).shuffle(rows.flatten)

  test("funnelDf and funnelWindowedDf equal the plain-Scala reference on random event lists") {
    val prop = Prop.forAllNoShrink(eventLists) { rows =>
      val df = rows.toDF("user_id", "event_type", "ts_us")
      val open = run(Events.funnelDf(df))
      val bounded = run(Events.funnelWindowedDf(df, W))
      (open == reference(rows, None)) :| s"funnelDf: $open" &&
        (bounded == reference(rows, Some(W))) :| s"funnelWindowedDf: $bounded"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(40)
      .withInitialSeed(20261020L).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("funnelWindowed: a stage exactly FunnelWindowUs after the previous one counts, one µs later does not") {
    val w = Events.FunnelWindowUs
    val events = Seq(
      // user 1: both gaps exactly w — converts
      (1L, "view", 100L), (1L, "click", 100L + w), (1L, "purchase", 100L + 2 * w),
      // user 2: click w + 1 after the view — stuck at stage 1
      (2L, "view", 100L), (2L, "click", 101L + w),
      // user 3: purchase w + 1 after the click — stuck at stage 2
      (3L, "view", 100L), (3L, "click", 100L + w), (3L, "purchase", 101L + 2 * w),
      // user 4: the late click is skipped for an earlier one in the window
      (4L, "click", 101L + w), (4L, "view", 100L), (4L, "click", 105L)
    ).toDF("user_id", "event_type", "ts_us")
    val got = Events.funnelWindowedDf(events)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 100L, 100L + w, 100L + 2 * w, 3L),
      (2L, 100L, -1L, -1L, 1L),
      (3L, 100L, 100L + w, -1L, 2L),
      (4L, 100L, 105L, -1L, 2L)))
  }
}
