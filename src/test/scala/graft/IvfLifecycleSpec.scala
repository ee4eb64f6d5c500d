package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.IvfIndex

/** The measured index lifecycle end-to-end: appended DRIFT must fire
  * the occupancy-skew trigger (SCALE.md round 13 — recall holds
  * while the hot cell balloons, so skew, not recall, is the
  * observable), and [[IvfIndex.refresh]] must rebalance the partition
  * WITHOUT touching the stored corpus rows or the full-probe answer
  * surface (the partition is an approximation dial, not a result
  * surface). */
class IvfLifecycleSpec extends AnyFunSuite {
  import TestSession._

  private val name = "graft_ivf_lifecycle"

  // built once per suite: base = even ids at 16 cells, then a strongly
  // drifted append (dims rotated by 7, +2.0 offset — SCALE.md's
  // round-13 drift synthesis, amplified so the drifted mass crowds
  // into few cells at this fixture size). Deterministic end to end.
  private lazy val built: Unit = {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    IvfIndex.build(spark, emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", name, numCentroids = 16)
    val drifted = emb.where(col("vec_id") % 2 === 1).select(
      (col("vec_id") + lit(10000000L)).as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        (element_at(col("embedding"), ((i + lit(7)) % lit(dim)) + 1)
          + lit(2.0)).cast("float")).as("embedding"))
    IvfIndex.append(spark, name, drifted, "vec_id", "embedding")
  }

  private def queries = {
    built
    spark.table(s"${name}_cells")
      .where(col("vec_id") < 10 || col("vec_id") >= 10000000L)
      .orderBy(col("vec_id")).limit(8)
      .select((col("vec_id") + lit(900000000L)).as("qid"),
        col("vec").as("qv"))
  }

  test("drifted appends fire the occupancy trigger; balanced base does not") {
    built
    val skew = IvfIndex.occupancySkew(spark, name)
    assert(skew >= 4.0,
      s"the drifted append must crowd the stale cells (skew=$skew)")
    assert(IvfIndex.needsRefresh(spark, name, maxOverMean = 4.0))
  }

  test("refresh rebalances the partition, preserves the stored corpus, and leaves full-probe answers unchanged") {
    built
    val before = spark.table(s"${name}_cells")
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted
    val skewBefore = IvfIndex.occupancySkew(spark, name)
    // full probe depth = every cell: answers are exact kNN over the
    // stored corpus regardless of how the partition slices it
    val fullBefore = IvfIndex.serve(spark, name, queries, k = 5,
      nProbe = 16).collect().map(_.toSeq).toSet
    IvfIndex.refresh(spark, name)
    val after = spark.table(s"${name}_cells")
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted
    assert(after.sameElements(before),
      "refresh must reassign, never add or drop a stored vector")
    val skewAfter = IvfIndex.occupancySkew(spark, name)
    assert(skewAfter * 2.0 <= skewBefore,
      s"the Lloyd-refined quantizer must rebalance the crowded cells " +
        s"($skewBefore -> $skewAfter)")
    val fullAfter = IvfIndex.serve(spark, name, queries, k = 5,
      nProbe = 16).collect().map(_.toSeq).toSet
    assert(fullAfter == fullBefore && fullAfter.nonEmpty,
      "full-probe serve must be invariant under refresh")
  }

  test("maintain composes the loop: drifted pass refreshes+compacts, healthy pass is a no-op") {
    // own index (the suite fixture's skew is consumed by the refresh
    // tests above): base + the same drifted append, then ONE call
    val mname = "graft_ivf_maintain"
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    IvfIndex.build(spark, emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", mname, numCentroids = 16)
    val drifted = emb.where(col("vec_id") % 2 === 1).select(
      (col("vec_id") + lit(10000000L)).as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        (element_at(col("embedding"), ((i + lit(7)) % lit(dim)) + 1)
          + lit(2.0)).cast("float")).as("embedding"))
    IvfIndex.append(spark, mname, drifted, "vec_id", "embedding")
    val corpus = spark.table(s"${mname}_cells")
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted
    val qs = spark.table(s"${mname}_cells").orderBy(col("vec_id")).limit(4)
      .select((col("vec_id") + lit(900000000L)).as("qid"),
        col("vec").as("qv")).localCheckpoint()
    val fullBefore = IvfIndex.serve(spark, mname, qs, k = 5,
      nProbe = 16).collect().map(_.toSeq).toSet
    val m1 = IvfIndex.maintain(spark, mname, maxOverMean = 4.0)
    assert(m1.refreshed && m1.compacted,
      s"the drifted pass must refresh and compact: $m1")
    assert(m1.skewAfter * 2.0 <= m1.skewBefore,
      s"maintain must rebalance the partition: $m1")
    // refresh's own rewrite may already land ~1 file/bucket at this
    // fixture size — the contract is the END state, ≤ 1 per bucket
    val (_, filesAfter) = m1.files(s"${mname}_cells")
    assert(filesAfter > 0L && filesAfter <= 16L,
      s"the post-refresh rewrite must land <=1 file per bucket: $m1")
    assert(spark.table(s"${mname}_cells").select(col("vec_id"))
      .collect().map(_.getLong(0)).sorted.sameElements(corpus),
      "maintain must never add or drop a stored vector")
    assert(IvfIndex.serve(spark, mname, qs, k = 5, nProbe = 16)
      .collect().map(_.toSeq).toSet == fullBefore,
      "full-probe serve must be invariant under maintain")
    val m2 = IvfIndex.maintain(spark, mname, maxOverMean = 4.0)
    assert(!m2.refreshed && !m2.compacted && m2.files.isEmpty,
      s"the healthy pass must write nothing: $m2")
  }

  test("a refreshing maintain and a direct refresh release what they checkpoint") {
    val sc = spark.sparkContext
    def leftover(before: Set[Int]): Set[Int] = sc.getPersistentRDDs.keySet.toSet -- before
    val rname = "graft_ivf_refresh_free"
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    IvfIndex.build(spark, emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", rname, numCentroids = 16)
    IvfIndex.append(spark, rname, emb.where(col("vec_id") % 2 === 1).select(
      (col("vec_id") + lit(10000000L)).as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        (element_at(col("embedding"), ((i + lit(7)) % lit(dim)) + 1)
          + lit(2.0)).cast("float")).as("embedding")), "vec_id", "embedding")
    val before = sc.getPersistentRDDs.keySet.toSet
    val m = IvfIndex.maintain(spark, rname, maxOverMean = 4.0)
    assert(m.refreshed, s"the drifted pass must refresh: $m")
    assert(leftover(before).isEmpty,
      s"a refreshing maintain left RDDs ${leftover(before)} persisted")
    val again = sc.getPersistentRDDs.keySet.toSet
    IvfIndex.refresh(spark, rname)
    assert(leftover(again).isEmpty, s"refresh left RDDs ${leftover(again)} persisted")
  }

  /** Scans of `table` by the queries `body` runs. */
  private def tableScans[T](table: String)(body: => T): (T, Int) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        n.addAndGet(qe.optimizedPlan.collect {
          case r: LogicalRelation
              if r.catalogTable.exists(_.identifier.table == table) => 1
        }.sum)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (out, n.get)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a no-op maintain pass scans the cells table once and keeps its skew") {
    val mname = "graft_ivf_noop"
    IvfIndex.build(spark, Tables.embeddings(spark, sf0001), "vec_id",
      "embedding", mname, numCentroids = 16)
    val (m, scans) = tableScans(s"${mname}_cells") {
      IvfIndex.maintain(spark, mname)
    }
    assert(!m.refreshed && !m.compacted && m.files.isEmpty,
      s"a freshly built index needs no maintenance: $m")
    assert(m.skewAfter == m.skewBefore, s"nothing moved, so neither did skew: $m")
    assert(scans == 1, s"the no-op pass must read the cells table once, read it $scans times")
  }

  test("reprobeRecall measures the frontier label-free; pickNProbe picks the narrowest sufficient dial") {
    built
    val frontier = IvfIndex.reprobeRecall(spark, name,
      nProbes = Seq(1, 2, 4, 16), numQueries = 24, k = 5)
    assert(frontier.map(_.nProbe) == Seq(1, 2, 4, 16),
      s"one point per swept dial, in order: $frontier")
    assert(frontier.forall(p => p.recall >= 0.0 && p.recall <= 1.0))
    // probing every cell IS the exact answer (serve and the truth use
    // identical scoring + tiebreaks), so the full-probe point must
    // measure exactly 1.0 — the frontier's fixed anchor
    assert(frontier.last.recall == 1.0,
      s"full-probe recall must be exact: $frontier")
    val picked = IvfIndex.pickNProbe(frontier, target = 1.0)
    assert(frontier.find(_.nProbe == picked).get.recall == 1.0)
    assert(frontier.filter(_.nProbe < picked).forall(_.recall < 1.0),
      s"must pick the NARROWEST sufficient dial: picked=$picked $frontier")
    // unattainable target: serve wider, never silently under
    assert(IvfIndex.pickNProbe(frontier, target = 2.0) == 16)
  }

  test("serve keeps its bucket-pruned plan after refresh") {
    built
    IvfIndex.refresh(spark, name)
    // one scan of the cells table, one task per probed bucket
    val (_, reads, buckets) = SparkJobs.tableReads(s"${name}_cells", "serve score")(
      IvfIndex.serve(spark, name, queries, k = 5, nProbe = 2))
    assert(reads.size == 1 && reads.head < buckets,
      s"expected a strict subset of buckets read: $reads of $buckets buckets")
  }
}
