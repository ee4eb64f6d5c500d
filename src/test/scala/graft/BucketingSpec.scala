package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions._

import graft.sources.Bucketing

/** Bucketed layout must actually eliminate the shuffle: the point is the
  * PLAN, so these tests assert on the executed plan, not just results. */
class BucketingSpec extends AnyFunSuite {
  import TestSession._

  test("bucketed-bucketed equi-join and bucket-key groupBy plan no Exchange") {
    // disable broadcast so the join would otherwise be a shuffled SMJ
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ord = Tables.orders(spark, sf0001)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val li = Tables.lineitem(spark, sf0001)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      Bucketing.create(spark, ord, "b_orders", s"${Bucketing.defaultBase}/b_orders",
        Some(BucketSpec(8, Seq("o_orderkey"), Seq("o_orderkey"))))
      Bucketing.create(spark, li, "b_lineitem", s"${Bucketing.defaultBase}/b_lineitem",
        Some(BucketSpec(8, Seq("o_orderkey"), Seq("o_orderkey"))))

      val j = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
      val jPlan = j.queryExecution.executedPlan.toString
      assert(!jPlan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$jPlan")
      // same answer as the unbucketed join
      val expected = ord.join(li, Seq("o_orderkey")).count()
      assert(j.count() == expected && expected > 0)

      val agg = spark.table("b_lineitem")
        .groupBy(col("o_orderkey")).agg(sum(col("l_quantity")).as("q"))
      val aPlan = agg.queryExecution.executedPlan.toString
      assert(!aPlan.contains("Exchange"),
        s"bucket-key aggregation must not shuffle:\n$aPlan")
      assert(agg.count() == li.select("o_orderkey").distinct().count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("mismatched bucket counts fall back to a correct shuffled join") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ord = Tables.orders(spark, sf0001)
        .select(col("o_orderkey"), col("o_totalprice"))
      Bucketing.create(spark, ord, "b8", s"${Bucketing.defaultBase}/b8",
        Some(BucketSpec(8, Seq("o_orderkey"), Seq("o_orderkey"))))
      Bucketing.create(spark, ord, "b3", s"${Bucketing.defaultBase}/b3",
        Some(BucketSpec(3, Seq("o_orderkey"), Seq("o_orderkey"))))
      val j = spark.table("b8").join(spark.table("b3"), "o_orderkey")
      assert(j.count() == ord.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b8")
      spark.sql("DROP TABLE IF EXISTS b3")
    }
  }

  test("autoBuckets: bytes-per-bucket targeted, clamped, fixture regime preserved") {
    assert(Bucketing.autoBuckets(0L) == 16)
    assert(Bucketing.autoBuckets(33000L) == 16,
      "fixture-scale builds stay at the 16-bucket oracle regime")
    // the measured round-15 calibration (SCALE.md): 42M rows must STAY
    // at the floor (sqrt-growth to 206 buckets made serve 3-4x slower — the
    // per-bucket task floor dominates until file bytes genuinely grow)
    assert(Bucketing.autoBuckets(42000000L) == 16,
      "rehearsal-scale corpora stay at the measured-optimal floor")
    assert(Bucketing.autoBuckets(2000000000L) > 16,
      "growth starts when per-bucket bytes pass the target")
    assert(Bucketing.autoBuckets(Long.MaxValue / 1024) == 1024,
      "the task floor is capped at true scale")
    // monotone in N: more rows never fewer buckets
    val pts = Seq(1L, 1000L, 100000L, 10000000L, 1000000000L,
      100000000000L).map(Bucketing.autoBuckets(_))
    assert(pts == pts.sorted)
  }

  test("buildAuto round-trips: same answers as the pinned-bucket build at fixture scale") {
    val frames = graft.multimodal.Multimodal.videoFramesFp(
      graft.multimodal.Multimodal.videoTable(spark, sf0001))
    val k = graft.sources.VideoIndex.buildAuto(spark, frames,
      "graft_video_spec_auto")
    assert(k == 16, s"fixture corpus must keep the 16-bucket regime: $k")
    graft.sources.VideoIndex.build(spark, frames, "graft_video_spec_pin")
    val a = graft.sources.VideoIndex.pairs(spark, "graft_video_spec_auto")
      .collect().map(_.toSeq).toSet
    val b = graft.sources.VideoIndex.pairs(spark, "graft_video_spec_pin")
      .collect().map(_.toSeq).toSet
    assert(a == b, "bucket count changes layout, never answers")
  }
}
