package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class EventOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get

  test("sessionize: gap rule, per-user indexing, microsecond-exact boundaries") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      // user 1: two events 10 min apart (one session), then a 31-min gap
      (10L, ts("2024-01-01 10:00:00"), 1L),
      (11L, ts("2024-01-01 10:10:00"), 1L),
      (12L, ts("2024-01-01 10:41:00.000001"), 1L), // 1 µs past the 30-min gap
      // user 2: single event
      (20L, ts("2024-01-01 09:00:00"), 2L),
      // user 1 again: exactly 30 min after event 12 — NOT a new session
      (13L, ts("2024-01-01 11:11:00.000001"), 1L)
    ).toDF("event_id", "ts", "user_id")
    val out = EventOps.sessionize(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out((1L, 0L)) == ((2L, 10L, 600000000L)))   // 10 min in µs
    assert(out((1L, 1L)) == ((2L, 12L, 1800000000L)))  // events 12+13, 30 min span
    assert(out((2L, 0L)) == ((1L, 20L, 0L)))
    assert(out.size == 3)
  }

  test("retentionCohorts: planted matrix — cohorting by first week, k offsets, multi-event weeks count once") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // 2024-01-01 is a Monday; epoch weeks split at Thursdays 00:00 UTC —
    // the planted days below sit safely inside their weeks either way.
    // user 1: weeks w, w+1, w+2 (three events in week w count ONCE)
    // user 2: weeks w, w+2 (skips w+1)
    // user 3: cohort w+1, active w+1 only
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L), (2L, ts("2024-01-01 11:00:00"), 1L),
      (3L, ts("2024-01-02 10:00:00"), 1L), (4L, ts("2024-01-08 10:00:00"), 1L),
      (5L, ts("2024-01-15 10:00:00"), 1L),
      (6L, ts("2024-01-01 10:00:00"), 2L), (7L, ts("2024-01-15 10:00:00"), 2L),
      (8L, ts("2024-01-08 10:00:00"), 3L)
    ).toDF("event_id", "ts", "user_id")
    val got = EventOps.retentionCohorts(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w = got.keys.map(_._1).min
    assert(got == Map(
      (w, 0L) -> 2L,     // users 1 and 2 in cohort w, week 0
      (w, 1L) -> 1L,     // only user 1 active in w+1
      (w, 2L) -> 2L,     // users 1 and 2 active in w+2
      (w + 1, 0L) -> 1L  // user 3's own cohort
    ))
  }

  test("funnel: strict ordering — out-of-order and equal-timestamp events do not advance") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      // user 1 converts fully in order: A 10:00, B 11:00, C 12:00
      (1L, ts("2024-01-01 10:00:00"), 1L, "A"),
      (2L, ts("2024-01-01 11:00:00"), 1L, "B"),
      (3L, ts("2024-01-01 12:00:00"), 1L, "C"),
      // user 2: B BEFORE A — stalls at step 1 (A) despite having a B
      (4L, ts("2024-01-01 09:00:00"), 2L, "B"),
      (5L, ts("2024-01-01 10:00:00"), 2L, "A"),
      // user 3: B at EXACTLY A's timestamp — strict > means no advance;
      // the later B at 11:00 does advance, C never comes
      (6L, ts("2024-01-01 10:00:00"), 3L, "A"),
      (7L, ts("2024-01-01 10:00:00"), 3L, "B"),
      (8L, ts("2024-01-01 11:00:00"), 3L, "B"),
      // user 4: only C — never enters the funnel
      (9L, ts("2024-01-01 08:00:00"), 4L, "C")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.funnel(df, Seq("A", "B", "C")).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(1 -> ("A", 3L), 2 -> ("B", 2L), 3 -> ("C", 1L)))
  }

  test("funnel: single-pass fold == stage-chain on fuzzed logs (equal-µs ties included)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260818L)
    val types = Seq("A", "B", "C", "D", "E")
    // coarse second-granularity timestamps in a narrow range force plenty
    // of equal-timestamp ties — the case where fold processing order could
    // in principle diverge from the chain's min-after rule
    val rows = (1L to 400L).map { i =>
      (i, new Timestamp(1700000000000L + rnd.nextInt(120) * 1000L),
        (rnd.nextInt(30) + 1).toLong, types(rnd.nextInt(types.size)))
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type")
    val steps = Seq("A", "B", "C", "D")
    def toMapOf(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    val fold = toMapOf(EventOps.funnel(df, steps))
    val chain = toMapOf(EventOps.funnelStageChain(df, steps))
    assert(fold == chain, s"fold=$fold chain=$chain")
    assert(fold.size == steps.size)
  }

  test("funnel: a step no user reaches still emits its zero row") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq((1L, ts("2024-01-01 10:00:00"), 1L, "A"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.funnel(df, Seq("A", "B")).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(1 -> ("A", 1L), 2 -> ("B", 0L)))
  }

  test("asofJoin: latest prior-or-coincident match, nulls before first right, tie-free dedup") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(ms: Long) = new Timestamp(1700000000000L + ms)
    val events = Seq(
      // user 1: purchases at 10s and 20s (the 20s one DUPLICATED — min
      // event_id 103 must win); clicks straddle every regime
      (101L, t(10000), 1L, "purchase"),
      (103L, t(20000), 1L, "purchase"),
      (104L, t(20000), 1L, "purchase"),
      (201L, t(5000), 1L, "click"),   // before any purchase → NULL
      (202L, t(10000), 1L, "click"),  // coincident → inclusive match @10s
      (203L, t(15000), 1L, "click"),  // between → @10s
      (204L, t(25000), 1L, "click"),  // after the dup pair → id 103
      // user 2: clicks but no purchases → NULL prior
      (301L, t(12000), 2L, "click"),
      // user 3's purchase must not leak into user 2
      (302L, t(1000), 3L, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.asofJoin(events, "click", "purchase").collect()
      .map(r => r.getLong(0) -> ((Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    assert(got(201L) == ((None, None)), s"click before any purchase: $got")
    assert(got(202L) == ((Some(101L), Some(0L))), s"coincident must match inclusively: $got")
    assert(got(203L) == ((Some(101L), Some(5000000L))), got.toString)
    assert(got(204L) == ((Some(103L), Some(5000000L))), s"dup right rows must dedup to min id: $got")
    assert(got(301L) == ((None, None)), s"cross-user leak: $got")
    assert(got.size == 5)
  }

  test("asofJoin: a NULL-ts right event matches nothing; a NULL-ts left event is kept unmatched") {
    import spark.implicits._
    val events = Seq(
      (501L, null: Timestamp, 1L, "purchase"),
      (502L, new Timestamp(1700000001000L), 1L, "click"),
      (503L, null: Timestamp, 1L, "click")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = EventOps.asofJoin(events, "click", "purchase").collect()
      .map(r => r.getLong(0) -> ((Option(r.get(3)), Option(r.get(4))))).toMap
    assert(got == Map(502L -> ((None, None)), 503L -> ((None, None))), got.toString)
  }
}
