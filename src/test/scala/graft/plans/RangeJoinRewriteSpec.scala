package graft.plans

import java.sql.Timestamp

import graft.SparkSuite

/** The optimizer-rule tier: a NAIVE point-in-interval join (no equi key
  * at all) must plan as a pure nested loop with the rule off; with the
  * rule on, in-cap interval rows take a binned equi-join (Generate +
  * bin equi-conjunct) and only the over-cap slice keeps the nested
  * loop — same rows in every case, including sentinel "open-ended"
  * intervals that would crash a naive sequence explode.
  */
class RangeJoinRewriteSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def withBin[A](binSec: Long)(body: => A): A = {
    spark.conf.set(RangeJoinRewrite.ConfKey, binSec.toString)
    try body finally spark.conf.unset(RangeJoinRewrite.ConfKey)
  }

  private val events = Seq(
    (1L, ts("2024-01-01 10:00:00")),
    (2L, ts("2024-01-01 10:59:59")),
    (3L, ts("2024-01-01 11:00:00")), // == end: inclusive
    (4L, ts("2024-01-01 11:00:01")), // just past end
    (5L, ts("2024-01-02 03:30:00"))
  ).toDF("eid", "t")

  private val windows = Seq(
    (10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")),
    (11L, ts("2024-01-02 03:00:00"), ts("2024-01-02 04:00:00")),
    (12L, ts("2024-01-03 00:00:00"), ts("2024-01-03 01:00:00")) // matches nothing
  ).toDF("wid", "s", "e")

  private def naiveJoin = events.join(windows, $"t" >= $"s" && $"t" <= $"e")

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.select("eid", "wid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("rule off: pure nested loop; rule on: binned equi-join branch, identical rows") {
    val expected = pairs(naiveJoin)
    assert(expected == Set(1L -> 10L, 2L -> 10L, 3L -> 10L, 5L -> 11L))
    val offPlan = naiveJoin.queryExecution.executedPlan.toString
    assert(offPlan.contains("BroadcastNestedLoopJoin") && !offPlan.contains("Generate"),
      "without the rule this IS a nested loop")
    withBin(3600L) {
      val df = naiveJoin
      val plan = df.queryExecution.executedPlan.toString
      // the binned branch exists (Generate + a hash/merge join on the bin
      // key); the only remaining nested loop is the over-cap wide branch
      assert(plan.contains("Generate"), s"interval side must explode into bins:\n$plan")
      // all windows here are narrow: the optimizer constant-folds the
      // wide branch's span filter to false and prunes the whole Union —
      // the sentinel test below pins the case where it must survive
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"no nested loop may survive for all-narrow intervals:\n$plan")
      assert(pairs(df) == expected, "rewritten join changed the result")
    }
  }

  test("sentinel open-ended interval: over-cap rows take the wide branch — no crash, same rows") {
    // end = 9999-12-31 at 60 s bins spans ~4.2e9 bins: a bare sequence
    // explode would throw (array > 2^31) — the span cap must route this
    // row to the nested-loop branch while narrow rows stay binned
    val scd2 = Seq(
      (20L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")),
      (21L, ts("2024-01-01 00:00:00"), ts("9999-12-31 00:00:00")) // current row sentinel
    ).toDF("wid", "s", "e")
    def q = events.join(scd2, $"t" >= $"s" && $"t" <= $"e")
    val expected = pairs(q)
    assert(expected.count(_._2 == 21L) == 5, "sentinel window matches every event")
    withBin(60L) {
      assert(pairs(q) == expected, "span split changed the result")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("Generate") && plan.contains("BroadcastNestedLoopJoin"),
        s"both branches must be present:\n$plan")
    }
  }

  test("extra equi and filter conjuncts survive; orientation with interval side on the LEFT") {
    val l = Seq((1L, "a", ts("2024-01-01 10:30:00")), (2L, "b", ts("2024-01-01 10:30:00")))
      .toDF("eid", "k", "t")
    val r = Seq(("a", 7L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")),
        ("b", 8L, ts("2024-01-01 11:00:00"), ts("2024-01-01 12:00:00")))
      .toDF("k2", "wid", "s", "e")
    def q = r.join(l, $"k" === $"k2" && $"t" >= $"s" && $"t" <= $"e" && $"wid" > 0L)
    val expected = pairs(q)
    assert(expected == Set(1L -> 7L))
    withBin(60L) {
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("Generate") && !plan.contains("BroadcastNestedLoopJoin"))
      assert(pairs(q) == expected)
    }
  }

  test("null bounds and inverted intervals drop their rows, matching the naive join") {
    val l = Seq((1L, 100L)).toDF("eid", "t") // integral ts works too
    def jl(v: Long): java.lang.Long = java.lang.Long.valueOf(v)
    val r = Seq[(Long, java.lang.Long, java.lang.Long)](
      (10L, jl(90L), jl(110L)),
      (11L, null, jl(110L)),
      (12L, jl(110L), jl(90L)), // start > end, small
      // start > end by ~28M bins at binSec=7: a negative span passing
      // the narrow filter would build a ~28M-element DESCENDING
      // sequence per row — the span >= 0 conjunct must drop it instead
      (13L, jl(200_000_000L), jl(0L))
    ).toDF("wid", "s", "e")
    def q = l.join(r, $"t" >= $"s" && $"t" <= $"e")
    val expected = pairs(q)
    withBin(7L) {
      assert(pairs(q) == expected && expected == Set(1L -> 10L))
    }
  }

  test("a nested, already-rewritten range join does not veto the outer rewrite") {
    // the INNER range join rewrites first (transformUp) and plants its
    // span-cap guard on the same s/e bounds; the OUTER join's interval
    // side contains that guard deep in a nested join subtree — the
    // idempotence check must stop at the Join boundary, not read it as
    // "this join was already split" and leave the outer as a nested loop
    val probes = Seq((100L, ts("2024-01-01 10:30:00")), (101L, ts("2024-01-02 03:45:00")))
      .toDF("pid", "t2")
    def inner = events.join(windows, $"t" >= $"s" && $"t" <= $"e")
    def outer = probes.join(inner, $"t2" >= $"s" && $"t2" <= $"e")
    val expected = outer.select("pid", "eid", "wid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected == Set((100L, 1L, 10L), (100L, 2L, 10L), (100L, 3L, 10L), (101L, 5L, 11L)))
    withBin(3600L) {
      val df = outer
      val plan = df.queryExecution.executedPlan.toString
      assert("Generate".r.findAllMatchIn(plan).size >= 2,
        s"both range joins must bin — the inner guard vetoed the outer rewrite:\n$plan")
      assert(df.select("pid", "eid", "wid").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == expected)
    }
  }

  test("outer range joins and non-range inner joins are left untouched") {
    withBin(3600L) {
      val leftOuter = events.join(windows, $"t" >= $"s" && $"t" <= $"e", "left")
      assert(leftOuter.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
        "outer joins must not rewrite (bin fan-out would duplicate unmatched rows)")
      assert(!leftOuter.queryExecution.executedPlan.toString.contains("Generate"))
      assert(leftOuter.count() == 5) // 4 matched rows + eid 4's null-padded row
      val equi = events.join(windows.withColumnRenamed("wid", "eid"), Seq("eid"))
      assert(!equi.queryExecution.executedPlan.toString.contains("Generate"))
    }
  }
}
