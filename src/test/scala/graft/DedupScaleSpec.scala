package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, LlmQueries}

/** Scale behavior of the SimHash band layouts: the 64-bit/16-bit-band
  * form is fine to ~10^7 docs; the 128-bit/32-bit-band form is the
  * billion-document path (Dedup.simHashPairsWide). Correctness of the
  * wide form is pinned against brute-force 128-bit Hamming; the scale
  * claim is pinned as a measured candidate-pair shrink. */
class DedupScaleSpec extends AnyFunSuite {
  import TestSession._

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("wide simhash pairs equal brute-force 128-bit Hamming pairs (golden corpus)") {
    val s = spark
    import s.implicits._
    val d = LlmQueries.simhashGoldenDocs.toDF("doc_id", "text")
    val f0 = Dedup.simHash(d, "text", "doc_id", salt = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val f1 = Dedup.simHash(d, "text", "doc_id", salt = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (for {
      a <- f0.keys; b <- f0.keys if a < b
      h = java.lang.Long.bitCount(f0(a) ^ f0(b)) +
        java.lang.Long.bitCount(f1(a) ^ f1(b))
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    val wide = Dedup.simHashPairsWide(d, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    info(s"wide golden pairs: ${wide.toSeq.sorted.mkString(", ")}")
    assert(wide == expect)
    // the two halves are independent mixers, so a 64-bit near-pair is
    // not automatically a 128-bit near-pair — but the permutation pair
    // (1,3) is distance 0 in BOTH halves and must always survive
    assert(wide.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 0L))
  }

  test("digest collapse: collapsed clusters equal uncollapsed on dup-heavy input") {
    val s = spark
    import s.implicits._
    // crawl-shaped corpus: a verbatim-dup group of 4 + a near-dup
    // variant, a second verbatim pair, and three unique docs
    val ta = "the quick brown fox jumps over the lazy dog near the river"
    val taVar = "the quick brown fox jumps over the lazy dog near the shore"
    val tb = "entirely different content about distributed query engines and shuffles here"
    val d = docs(
      1L -> ta, 2L -> ta, 3L -> ta, 4L -> ta, 5L -> taVar,
      10L -> tb, 11L -> tb,
      20L -> "unique text one with plenty of words to pass the shingle floor",
      21L -> "unique text two with plenty of words to pass the shingle floor maybe",
      22L -> "completely unrelated third document talking about something else entirely today")
    val uncollapsed = Dedup.dedupClusters(
      Dedup.minHashLshPairsExact(d, "text", "doc_id", k = 3,
        numHashes = 64, bands = 16, tau = 0.8)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val collapsed = Dedup.dedupClustersCollapsed(d, "text", "doc_id",
      k = 3, numHashes = 64, bands = 16, tau = 0.8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(collapsed == uncollapsed)
    // the dup group + its near-dup variant form one component labeled by
    // the min id; the verbatim pair another; unique docs are absent
    assert(collapsed(1L) == 1L && collapsed(4L) == 1L && collapsed(5L) == 1L)
    assert(collapsed(10L) == 10L && collapsed(11L) == 10L)
    assert(!collapsed.contains(20L) && !collapsed.contains(22L))
  }

  test("digest collapse: edit-verified collapsed clusters equal uncollapsed truth") {
    val s = spark
    import s.implicits._
    val ta = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val taVar = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val d = docs(
      1L -> ta, 2L -> ta, 3L -> ta, 7L -> taVar,
      30L -> "some completely different words that share nothing with the greek letters")
    val truthEdges = Dedup.editDistancePairs(d, "text", "doc_id",
      k = 3, numHashes = 64, bands = 16, tauJ = 0.8, maxRel = 0.3)
      .select("da", "db")
    val truth = Dedup.dedupClusters(truthEdges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val collapsed = Dedup.editDedupClustersCollapsed(d, "text", "doc_id",
      k = 3, numHashes = 64, bands = 16, tauJ = 0.8, maxRel = 0.3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(collapsed == truth)
    assert(collapsed == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L))
  }

  test("collapsed CLUSTERS equal uncollapsed on shingle-less verbatim twins") {
    val s = spark
    import s.implicits._
    // r13 ADVICE: docs 40/41 are byte-identical but too short for a
    // single word 3-shingle — the uncollapsed pipeline never bands them,
    // so they have NO cluster; the collapsed runner must not invent one
    // via an unguarded rep→member edge
    val ta = "the quick brown fox jumps over the lazy dog near the river"
    val d = docs(
      1L -> ta, 2L -> ta, 3L -> ta,
      40L -> "too short", 41L -> "too short",
      20L -> "unique text one with plenty of words to pass the shingle floor")
    val uncollapsed = Dedup.dedupClusters(
      Dedup.minHashLshPairsExact(d, "text", "doc_id", k = 3,
        numHashes = 64, bands = 16, tau = 0.8)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val collapsed = Dedup.dedupClustersCollapsed(d, "text", "doc_id",
      k = 3, numHashes = 64, bands = 16, tau = 0.8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(collapsed == uncollapsed)
    assert(!collapsed.contains(40L) && !collapsed.contains(41L))
    assert(collapsed(1L) == 1L && collapsed(3L) == 1L)
    // and the edit-verified cluster chain guards the same edge
    val edTruth = Dedup.dedupClusters(
      Dedup.editDistancePairs(d, "text", "doc_id", k = 3, numHashes = 64,
        bands = 16, tauJ = 0.8, maxRel = 0.3).select("da", "db"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edColl = Dedup.editDedupClustersCollapsed(d, "text", "doc_id",
      k = 3, numHashes = 64, bands = 16, tauJ = 0.8, maxRel = 0.3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(edColl == edTruth)
    assert(!edColl.contains(40L))
  }

  test("collapsed PAIR lists equal the uncollapsed answers, including the shingle-less edge") {
    val s = spark
    import s.implicits._
    // dup-heavy corpus + the structural edge case: docs 40/41 are
    // byte-identical but too short for a single word 3-shingle, so the
    // uncollapsed pipeline never bands them and they must NOT be
    // invented as a pair by the expansion
    val ta = "the quick brown fox jumps over the lazy dog near the river"
    val taVar = "the quick brown fox jumps over the lazy dog near the shore"
    val tb = "entirely different content about distributed query engines and shuffles here"
    val d = docs(
      1L -> ta, 2L -> ta, 3L -> ta, 4L -> ta, 5L -> taVar,
      10L -> tb, 11L -> tb,
      40L -> "too short", 41L -> "too short",
      20L -> "unique text one with plenty of words to pass the shingle floor")
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val lshFlat = rows(Dedup.minHashLshPairsExact(d, "text", "doc_id",
      k = 3, numHashes = 64, bands = 16, tau = 0.8))
    val lshColl = rows(Dedup.minHashLshPairsCollapsed(d, "text", "doc_id",
      k = 3, numHashes = 64, bands = 16, tau = 0.8))
    assert(lshColl == lshFlat,
      s"collapsed LSH pair list must equal uncollapsed: " +
        s"only-collapsed=${lshColl -- lshFlat} only-flat=${lshFlat -- lshColl}")
    // the 4-group contributes all 6 internal pairs + 4 pairs to the
    // variant; the verbatim pair 1; the short twins none
    assert(lshColl.count(r => r.head.asInstanceOf[Long] <= 5L) == 10)
    assert(!lshColl.exists(r => r.head == 40L))
    val edFlat = rows(Dedup.editDistancePairs(d, "text", "doc_id",
      k = 3, numHashes = 64, bands = 16, tauJ = 0.8, maxRel = 0.3))
    val edColl = rows(Dedup.editDistancePairsCollapsed(d, "text", "doc_id",
      k = 3, numHashes = 64, bands = 16, tauJ = 0.8, maxRel = 0.3))
    assert(edColl == edFlat,
      s"collapsed edit pair list must equal uncollapsed: " +
        s"only-collapsed=${edColl -- edFlat} only-flat=${edFlat -- edColl}")
  }

  test("adaptive dispatch: dup-rate probe separates the regimes; answers invariant") {
    val s = spark
    import s.implicits._
    val ta = "the quick brown fox jumps over the lazy dog near the river"
    val tb = "entirely different content about distributed query engines and shuffles here"
    val dupHeavy = docs((1L to 12L).map(i => i -> (if (i <= 8) ta else tb)): _*)
    val distinct = docs(
      1L -> ta, 2L -> tb,
      3L -> "unique text one with plenty of words to pass the shingle floor",
      4L -> "completely unrelated fourth document talking about other things")
    assert(Dedup.dupRate(dupHeavy, "text") >= Dedup.CollapseDispatchThreshold,
      "the verbatim-dup corpus must probe above the dispatch threshold")
    assert(Dedup.dupRate(distinct, "text") < Dedup.CollapseDispatchThreshold,
      "the fully distinct corpus must probe below it")
    // whichever path the probe picks, the answer is the direct truth
    for (d <- Seq(dupHeavy, distinct)) {
      val adaptive = Dedup.minHashLshPairsAdaptive(d, "text", "doc_id")
        .collect().map(_.toSeq).toSet
      val direct = Dedup.minHashLshPairsExact(d, "text", "doc_id",
        k = 3, numHashes = 64, bands = 16, tau = 0.8)
        .collect().map(_.toSeq).toSet
      assert(adaptive == direct)
      val adClusters = Dedup.dedupClustersAdaptive(d, "text", "doc_id")
        .collect().map(_.toSeq).toSet
      val dirClusters = Dedup.dedupClusters(
        Dedup.minHashLshPairsExact(d, "text", "doc_id", k = 3,
          numHashes = 64, bands = 16, tau = 0.8))
        .collect().map(_.toSeq).toSet
      assert(adClusters == dirClusters)
    }
  }

  test("digest collapse runs the verifier on distinct content only") {
    val s = spark
    import s.implicits._
    // 100 docs, only 4 distinct texts: the rep frame must be 4 rows
    // (the O(m²) pair work shrinks to O(distinct²)) and every doc must
    // map to its group's min id
    val texts = Seq(
      "first distinct document body with enough words for the shingle stage",
      "second distinct document body with enough words for the shingle stage",
      "third distinct document body with enough words for the shingle stage",
      "fourth distinct document body with enough words for the shingle stage")
    val d = docs((1L to 100L).map(i => i -> texts(((i - 1) % 4).toInt)): _*)
    val (reps, members) = Dedup.digestCollapse(d, "text", "doc_id")
    assert(reps.count() == 4L)
    val repIds = reps.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(repIds == Set(1L, 2L, 3L, 4L))
    val m = members.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size == 100 && m(5L) == 1L && m(98L) == 2L && m(4L) == 4L)
  }

  test("union-find fast path and star-contraction cc agree on clusters") {
    val s = spark
    import s.implicits._
    // random-ish pair graph with chains, a cycle-merge, and singles
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),      // chain
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle
      (20L, 21L),                         // pair
      (2L, 12L))                          // merges chain with triangle
      .toDF("da", "db")
    val fast = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // smallGraphEdges = 0 forces the distributed star-contraction path
    val star = Dedup.dedupClusters(pairs, smallGraphEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == star)
    assert(fast(4L) == 1L && fast(10L) == 1L, "merged component labels by min id")
    assert(fast(21L) == 20L)
  }

  test("32-bit bands shrink candidate pairs vs 16-bit bands on a heavy corpus") {
    // 2000 unrelated single-word docs: fingerprints are effectively
    // uniform, so expected colliding candidate pairs are
    // 4·C(n,2)/2^16 ≈ 122 for 16-bit bands vs 4·C(n,2)/2^32 ≈ 0.002 for
    // 32-bit bands — the n²/2^bits candidate volume the 100 TB design
    // note in Dedup.simHashPairs is about. Counted directly over the
    // fingerprint band values (same arithmetic the banded join keys on).
    val n = 2000
    val d = docs((1 to n).map(i => (i.toLong, s"uniqword$i")): _*)
    val f0 = Dedup.simHash(d, "text", "doc_id", salt = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val f1 = Dedup.simHash(d, "text", "doc_id", salt = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = f0.keys.toArray.sorted
    def band16(v: Long, b: Int): Long = (v >> (16 * b)) & 0xffffL
    def band32(f0v: Long, f1v: Long, b: Int): Long =
      if (b < 2) (f0v >> (32 * b)) & 0xffffffffL
      else (f1v >> (32 * (b - 2))) & 0xffffffffL
    var cand16 = 0
    var cand32 = 0
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      val (a, b) = (ids(i), ids(j))
      if ((0 until 4).exists(k => band16(f0(a), k) == band16(f0(b), k)))
        cand16 += 1
      if ((0 until 4).exists(k =>
          band32(f0(a), f1(a), k) == band32(f0(b), f1(b), k)))
        cand32 += 1
    }
    info(s"candidate pairs: 16-bit bands $cand16, 32-bit bands $cand32")
    assert(cand16 >= 20, s"16-bit banding should collide frequently, got $cand16")
    assert(cand32 <= cand16 / 10,
      s"32-bit banding must shrink candidates: $cand32 vs $cand16")
  }

  test("in-memory and stored incremental dedup admit the same documents") {
    // A corpus with genuine cross near-dups: fresh docs 1..6 where 1 and
    // 2 are near-copies of corpus docs (1-word edit in 40 words → J ≈
    // 0.93 over 3-shingles), 3 shares half its text (J ≈ 0.33, below
    // tau), 4-6 are novel. Both the in-memory path and the stored index
    // must reject exactly {1, 2}.
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    def t(ws: Seq[String]) = ws.mkString(" ")
    val a = words("apple", 40)
    val b = words("berry", 40)
    val c = words("cedar", 40)
    val fresh = docs(
      (1L, t(a.updated(7, "edited"))),
      (2L, t(b)),
      (3L, t(c.take(20) ++ words("novel", 20))),
      (4L, t(words("delta", 40))),
      (5L, t(words("echo", 40))),
      (6L, "short doc"))
    val corpus = docs(
      (101L, t(a)),
      (102L, t(b.updated(30, "tweaked"))),
      (103L, t(c)),
      (104L, t(words("foxtrot", 40))))
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getAs[Long]("doc_id")).toSet
    val mem = ids(Dedup.incrementalDedup(fresh, corpus, "text", "doc_id"))
    graft.sources.DedupIndex.build(spark, corpus, "text", "doc_id",
      "graft_dedup_scale_pin")
    val stored = ids(graft.sources.DedupIndex.dedupAgainst(spark,
      "graft_dedup_scale_pin", fresh, "text", "doc_id"))
    info(s"admitted: in-memory ${mem.toSeq.sorted}, stored ${stored.toSeq.sorted}")
    assert(mem == Set(3L, 4L, 5L, 6L))
    assert(stored == mem)
  }
}
