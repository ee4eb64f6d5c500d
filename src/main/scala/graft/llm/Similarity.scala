package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.core.TopK
import graft.functions.VectorMeanAggregator

/** Similarity search over embedding columns (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and random-hyperplane
  * LSH bucketing as the scale path (search touches one bucket instead of
  * the full corpus).
  *
  * All vector arithmetic runs through the native [[graft.functions.DotProduct]]
  * expression over the raw float columns — no UDFs, no higher-order
  * functions, no driver-side loops; projections stay inside whole-stage
  * codegen. At 100 TB the brute-force path is a crossJoin-shaped scan
  * (only for small query sets against a broadcast query side); the LSH
  * path shuffles once on bucket id.
  *
  * Every centroid structure here — k-means, the IVF quantizers and
  * their routed grids, the PQ codebooks — is built from one
  * nearest-centroid toolkit, [[Nearest]]: the mixer sample, the scores,
  * the argmin, the routed two-level assignment and the Lloyd update are
  * each written once there ([[graft.sources.IvfIndex]] composes the same
  * toolkit). The SQ8 code rule ([[withSq8]]) and the exact re-rank of a
  * shortlist are likewise written once.
  */
object Similarity {

  // no asDouble wrapper: DotProduct widens float elements itself
  // (bitwise-equal to casting the array first); a transform(_.cast) here
  // is a CodegenFallback higher-order function that would exclude every
  // embedding projection from whole-stage codegen AND materialize a
  // second array per row

  /** Dot product via the native codegen'd [[graft.functions.DotProduct]]
    * expression — same left-to-right fold (bitwise-identical to the
    * `aggregate(zip_with(...))` formulation it replaced, so the DuckDB
    * `list_sum` oracles still match), without the per-element interpreted
    * lambda + intermediate-array cost in every pair join. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.dot(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** The nearest-centroid toolkit: the one centroid sample, scores,
    * argmin, routed two-level assignment and Lloyd update that k-means,
    * the IVF quantizers and the PQ codebooks compose — a Lloyd round is
    * one map (assign every point to its nearest centroid) plus one
    * reduce (re-center every cell on its members' mean). Everything is
    * 6dp-pinned with centroid-id tiebreaks, so each step replays term
    * for term in the DuckDB oracles. */
  private[graft] object Nearest {

    /** The `n` rows of `df` with the smallest portable-mixer key
      * pmod(pmod(id, 1e9+7)·2654435761 + seed, 9973), ties to the lower
      * id: a TakeOrderedAndProject, corpus-size-independent, replayable
      * on any engine (products stay below 2^63). Each sample has its
      * own seed so the samples are independent. */
    def sample(df: DataFrame, id: String, seed: Long, n: Int): DataFrame =
      df.orderBy(pmod(pmod(col(id), lit(1000000007L)) * lit(2654435761L)
          + lit(seed), lit(9973L)).asc, col(id).asc)
        .limit(n)

    /** Squared L2 as a·a − 2·a·b + b·b from three codegen'd
      * [[graft.functions.DotProduct]] evaluations, the oracle's term
      * order. */
    def sq(a: Column, b: Column): Column =
      dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

    /** The k-means and PQ score: squared distance pinned at 6dp. */
    def l2(a: Column, b: Column): Column = round(sq(a, b), 6)

    /** Cosine pinned at 6dp, with a −2.0 sentinel below any real cosine
      * for a zero norm or a NaN. [[cosine]] has no zero-norm guard, and
      * its formulations DISAGREE on NaN: Spark/DuckDB sort NaN greatest,
      * so `csim DESC` (or `greatest`) ranks a NaN centroid FIRST while
      * min(−csim) ranks it LAST. Under ANSI mode (the Spark 4 default,
      * never overridden here) a zero-norm vector makes the plain `/`
      * THROW DIVIDE_BY_ZERO before any NaN exists, so the division goes
      * through try_divide (→ NULL on a zero divisor) and coalesce+nanvl
      * pin both the NULL and the NaN to −2.0. A zero-norm or NaN vector
      * therefore ranks LAST under every formulation, and a vector whose
      * scores are all −2.0 lands in the lowest cid. */
    def csim(a: Column, b: Column): Column =
      coalesce(
        nanvl(round(try_divide(dot(a, b),
          sqrt(dot(a, a)) * sqrt(dot(b, b))), 6), lit(-2.0)),
        lit(-2.0))

    /** The IVF cell score: −[[csim]], so the argmin keeps (cos desc,
      * cid asc). */
    def negCos(a: Column, b: Column): Column = -csim(a, b)

    /** Per `keys` group of `cands`, the candidate minimizing (score,
      * cid), with the `carry` columns of that row: one map-side
      * min(struct) aggregate, so the shuffle carries ONE candidate per
      * (partition, group) instead of every scored row, which a window
      * would exchange wholesale (measured 45× on the first auto-scaled
      * mutual-kNN ×100 rehearsal, where N·k hit 3e8 rows). A group's
      * centroid ids are distinct, so (score, cid) never ties and the
      * carried columns — constant per group, like a point's vector —
      * cannot decide. Returns (keys…, carry…, cid). */
    def argmin(cands: DataFrame, keys: Seq[String], score: Column, cid: String,
        carry: String*): DataFrame =
      cands.groupBy(keys.map(col): _*)
        .agg(min(struct(score.as("score") +:
          (cid +: carry).map(c => col(c).as(c)): _*)).as("m"))
        .select(keys.map(col) ++
          (carry :+ cid).map(c => col(s"m.$c").as(c)): _*)

    /** Two-level ROUTED assignment of `pts` (id, v) over the centroids
      * `cents` (cid, cv) through the coarse grid `coarse` (ccid, ccv),
      * each step an [[argmin]] of `score(assigned, centroid)`: (1) each
      * centroid maps to its nearest coarse cell (k·coarse rows —
      * driver-scale), (2) each point routes to its nearest ACTIVE coarse
      * cell (one owning ≥ 1 centroid — a point routed to an empty cell
      * would have no candidates), (3) the argmin runs over only that
      * cell's centroids. Candidates per point: coarse + k/coarse ≈ 2√k
      * at coarse = ⌈√k⌉, versus flat's k. The routed cell APPROXIMATES
      * the global nearest (a point near a coarse boundary can miss a
      * centroid parked next door — the IVF nProbe=1 contract).
      *
      * `hintFine = false` drops the broadcast HINT on the centroid →
      * cell map: with auto-scaled k the centroid table grows linearly
      * with the corpus (≈ 4N bytes at 64 double dims), so above a
      * caller's row ceiling the in-cell argmin becomes a shuffle
      * equi-join on the coarse cell id — identical results, bounded
      * build sides (SCALE.md "Fine-centroid broadcast ceiling"); AQE may
      * still broadcast a table that turns out small. The coarse grid
      * always broadcasts. Returns (id, v, cid). */
    def routed(pts: DataFrame, cents: DataFrame, coarse: DataFrame,
        id: String, v: String, score: (Column, Column) => Column,
        hintFine: Boolean): DataFrame = {
      val f2cBase = argmin(cents.crossJoin(coarse), Seq("cid"),
        score(col("cv"), col("ccv")), "ccid", "cv")
      val f2c = if (hintFine) broadcast(f2cBase) else f2cBase
      val active = broadcast(f2c.select(col("ccid")).distinct()
        .join(coarse, "ccid"))
      val p2c = argmin(pts.crossJoin(active), Seq(id),
        score(col(v), col("ccv")), "ccid", v)
      argmin(p2c.join(f2c, "ccid"), Seq(id), score(col(v), col("cv")),
        "cid", v)
    }

    /** The Lloyd update: per `keys` group of `assigned`, the mean of
      * `vec` ([[graft.functions.VectorMeanAggregator]] — map-side partial
      * buffers, never an exploded (row, dim) shuffle; the double
      * aggregator for `array<double>`, so residual vectors are never
      * narrowed to float), each component rounded to 6dp so both engines
      * feed bitwise-equal centroids into the next round. Returns
      * (keys…, cv). */
    def lloyd(assigned: DataFrame, keys: Seq[String], vec: String,
        dim: Int): DataFrame = {
      val mean = assigned.schema(vec).dataType match {
        case ArrayType(DoubleType, _) => VectorMeanAggregator.vecMeanDouble(dim)
        case _ => VectorMeanAggregator.vecMean(dim)
      }
      assigned.groupBy(keys.map(col): _*)
        .agg(mean(col(vec)).as("cm"))
        .select(keys.map(col) :+
          transform(col("cm"), x => round(x, 6)).as("cv"): _*)
    }
  }

  /** Exact top-k cosine neighbors for each query vector (query side kept
    * small and broadcast; ranking on the ROUNDED similarity with id
    * tiebreak so results are reproducible across engines). */
  def bruteForceKnn(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int = 5): DataFrame = {
    val queries = broadcast(emb.where(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).as("qv")))
    val corpus = emb.select(col(idCol).as("nid"), col(vecCol).as("nv"))
    val scored = queries.crossJoin(corpus)
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(cosine(col("qv"), col("nv")), 6).as("cos"))
    TopK.perKey(scored, "qid", k, col("cos").desc, col("nid").asc)
  }

  /** Exact embedding near-duplicate pairs: all pairs with cosine ≥ tau.
    * Quadratic truth baseline (the production path is LSH/IVF).
    * Norms are computed once per row, not per pair — cosine inside the
    * pair loop is a single dot product. */
  def embeddingDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      tau: Double): DataFrame = {
    def side(id: String, v: String, n: String) =
      emb.select(col(idCol).as(id), col(vecCol).as(v))
        .withColumn(n, sqrt(dot(col(v), col(v))))
    side("da", "va", "na").crossJoin(side("db", "vb", "nb"))
      .where(col("da") < col("db"))
      .select(col("da"), col("db"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos"))
      .where(col("cos") >= tau)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication" — public arXiv:2303.09540): cluster the embedding
    * space with [[kmeans]] (fixed rounds, deterministic), then compare
    * pairs ONLY within a cluster — the clustering is what makes
    * embedding-level dedup tractable at corpus scale, replacing the
    * corpus² cosine matrix with k × occupancy² work. A row is dropped
    * when some SMALLER-id vector in its cluster has cosine ≥ tau
    * (keep-first: deterministic, order-free, one anti-join — dropped
    * rows can themselves witness later drops, which prunes ε-chains
    * slightly more aggressively than the paper's keep-one-per-group;
    * the rule is the documented contract either way). Returns every
    * input row as (idCol, cluster, kept).
    *
    * 100 TB shape: [[kmeans]]'s per-round costs (k-row broadcast +
    * per-point window + map-side-partial centroid aggregate), then ONE
    * hash exchange keying vectors by cluster and a within-cluster
    * equi-self-join — never a cross join; the quadratic term is bounded
    * by cluster occupancy, and k is chosen ∝ corpus/occupancy exactly
    * like the IVF cell count, so per-cluster work stays constant as the
    * corpus grows. Cross-cluster near-dups (pairs straddling a centroid
    * boundary) are invisible by design — the recall contract is the
    * paper's, not exhaustive pair coverage.
    *
    * k ≤ 0 (the default) derives k = max(2, ⌈N/targetOccupancy⌉) from a
    * corpus count — the scale-safe behavior IS the default (r9 VERDICT:
    * a fixed k lets cell occupancy, and with it the quadratic pair term,
    * grow linearly with the corpus). The count is one 1-row aggregate
    * job, amortized by the multi-job kmeans that follows. With k ∝ N the
    * pair stage does N·occupancy work (linear, flat per cell), and FLAT
    * Lloyd assignment would do N·k — the r10 ×100 rehearsal measured
    * that crossover at ratio 77× — so once kk exceeds `routeAbove`,
    * assignment goes through [[kmeansRouted]]'s two-level routing (a
    * static ⌈√kk⌉-cell coarse grid routes each point; the argmin runs
    * over that cell's fine centroids: ~N·2√kk candidate rows instead of
    * N·kk), every level of which the oracle replays. Below the
    * threshold the flat crossJoin stays cheaper — N·kk is small and
    * routing's extra per-round jobs dominate (measured at sf0.1,
    * kk=16: flat 0.78 s vs routed 2.0 s; at ×100, kk=1563: flat 60.3 s
    * vs routed 8.0 s) — so small corpora keep the flat path and the
    * crossover is a dial, not a cliff. Both paths are registered with
    * full replays (q_semantic_dedup flat, q_semantic_dedup_routed
    * forced via routeAbove = 0). Past ~1e7 vectors the auto-scaled
    * fine-centroid table itself outgrows sane broadcasting;
    * [[kmeansRouted]]'s maxBroadcastCentroids ceiling switches its
    * delivery to a coarse-cell-partitioned shuffle join there (SCALE.md
    * "Fine-centroid broadcast ceiling"). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int = 0, iters: Int = 2, tau: Double = 0.45,
      targetOccupancy: Int = 128, routeAbove: Int = 64): DataFrame = {
    val kk =
      if (k > 0) k
      else math.max(2L, (emb.count() + targetOccupancy - 1) / targetOccupancy).toInt
    val coarse = math.max(2, math.ceil(math.sqrt(kk.toDouble)).toInt)
    // checkpointed: referenced by both pair sides AND the final frame —
    // without it the whole kmeans subtree re-executes per reference
    // (caught by the PlanShapeSpec nested-loop-join budget)
    val assign = (if (kk <= routeAbove) kmeans(emb, idCol, vecCol, dim, kk, iters)
                  else kmeansRouted(emb, idCol, vecCol, dim, kk, iters, coarse))
      .localCheckpoint()
    def side(id: String, v: String, n: String, c: String) =
      emb.select(col(idCol).as(id), col(vecCol).as(v))
        .withColumn(n, sqrt(dot(col(v), col(v))))
        .join(assign.select(col(idCol).as(id), col("cluster").as(c)), id)
    val dropped = side("da", "va", "na", "ca")
      .join(side("db", "vb", "nb", "cb"),
        col("ca") === col("cb") && col("da") < col("db"))
      .select(col("db"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos"))
      .where(col("cos") >= tau)
      .select(col("db")).distinct()
    assign.select(col(idCol), col("cluster"))
      .join(dropped.withColumnRenamed("db", idCol)
          .withColumn("_drop", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(!col("_drop"), lit(true)).as("kept"))
  }

  /** Incremental SemDeDup for crawl batches (the embedding-space twin of
    * [[Dedup.incrementalDedup]]'s cross-only discipline): the CORPUS is
    * clustered once, each fresh vector routes to the refreshed centroid
    * (the 6 dp mean of its final cell — the kmeans update rule applied
    * one more time), and fresh×corpus cosine runs within the cell only.
    * The corpus never self-joins and is never re-deduped; per fresh
    * vector the compare set is one cell's occupancy, not the corpus.
    * Returns (id, cell, admitted) for every fresh vector.
    *
    * Scale: centroids are k broadcast rows; routing is a broadcast
    * argmin over the fresh scan; the pair join is a hash equi-join on
    * the cell id. Nothing quadratic, corpus shuffled once (cell
    * assignment), fresh shuffled once (the cell join). */
  def semanticIncremental(fresh: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int = 16, iters: Int = 2,
      tau: Double = 0.45): DataFrame = {
    val assign = kmeans(corpus, idCol, vecCol, dim, k, iters).localCheckpoint()
    val pts = corpus.select(col(idCol).as("vid"), col(vecCol).as("pv"))
    val cents = broadcast(Nearest.lloyd(
      assign.select(col(idCol).as("vid"), col("cluster").as("cid"))
        .join(pts, "vid"),
      Seq("cid"), "pv", dim))
    val fa = Nearest.argmin(
        fresh.select(col(idCol).as("fid"), col(vecCol).as("fv")).crossJoin(cents),
        Seq("fid"), Nearest.l2(col("fv"), col("cv")), "cid", "fv")
      .select(col("fid"), col("fv"), col("cid").as("cell"))
    val corpusSide = corpus.select(col(idCol).as("cpid"), col(vecCol).as("cpv"))
      .withColumn("nc", sqrt(dot(col("cpv"), col("cpv"))))
      .join(assign.select(col(idCol).as("cpid"), col("cluster").as("cell")),
        "cpid")
    val dup = fa.withColumn("nf", sqrt(dot(col("fv"), col("fv"))))
      .join(corpusSide, "cell")
      .select(col("fid"),
        round(dot(col("fv"), col("cpv")) / (col("nf") * col("nc")), 6)
          .as("cos"))
      .where(col("cos") >= tau)
      .select(col("fid")).distinct()
    fa.select(col("fid").as(idCol), col("cell"))
      .join(dup.withColumnRenamed("fid", idCol).withColumn("_dup", lit(true)),
        Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        coalesce(!col("_dup"), lit(true)).as("admitted"))
  }

  /** Deterministic CLUSTERED embedding fixture, derived purely from the
    * id column — the data geometry IVF/SemDeDup exist for (the driver
    * fixture's embeddings are near-uniform, the ADVERSARIAL case for
    * cell-routed ANN; real corpora cluster). Each row lands in one of
    * `nClusters` mixer-assigned clusters; component i = center(c, i) +
    * noise(id, i), with the center uniform in [-1, 1] and the noise
    * uniform in [-0.3, 0.3], both from the engine's portable integer
    * mixer (products bounded by 1e9·2654435761 < 2^63 — no overflow on
    * either engine) and the sum 6dp-rounded. Everything is replayable
    * term for term in SQL, so ANN queries over this fixture are
    * hash-green with the SAME oracle discipline as the raw-fixture ones
    * while exercising the clustered regime — and the recall rows of
    * SCALE.md "ANN recall, measured" (round 11) were taken on the
    * IDENTICAL derivation the registered queries run. The derivation
    * is a one-time per-row projection (higher-order transform,
    * CodegenFallback) — off the per-pair scoring hot path.
    * Returns (idCol, embedding array<double>). */
  def syntheticClustered(emb: DataFrame, idCol: String,
      nClusters: Int = 16, dim: Int = 64): DataFrame = {
    val vid = col(idCol)
    val c = ((vid % lit(1000000007L)) * lit(2654435761L) + lit(97531L)) %
      lit(9973L) % lit(nClusters.toLong)
    emb.select(vid.as(idCol),
      transform(sequence(lit(0), lit(dim - 1)), i => {
        val ii = i.cast("long")
        val center = ((c * lit(dim.toLong) + ii + lit(1L)) *
          lit(2654435761L) + lit(12345L)) % lit(9973L) / lit(9973.0) *
          lit(2.0) - lit(1.0)
        val h = ((vid % lit(1000000007L)) * lit(100003L) +
          ii * lit(7919L) + lit(1L)) % lit(1000000007L)
        val noise = (h * lit(2654435761L) + lit(54321L)) % lit(9973L) /
          lit(9973.0) * lit(0.6) - lit(0.3)
        round(center + noise, 6)
      }).as("embedding"))
  }

  /** The IVF coarse quantizer sample WITHOUT a broadcast hint — for
    * callers whose centroid count scales with the corpus and may exceed
    * the sane-broadcast ceiling (see [[mutualKnn]]'s
    * maxBroadcastCentroids). */
  private[graft] def ivfCentroidsRaw(emb: DataFrame, idCol: String,
      vecCol: String, numCentroids: Int): DataFrame =
    Nearest.sample(emb.select(col(idCol).as("cid"), col(vecCol).as("cv")), "cid",
      283521L, numCentroids)

  /** The IVF coarse quantizer: `numCentroids` corpus vectors picked by
    * portable mixer key (seed offset 7·40503) — constant-size, broadcast. */
  private[graft] def ivfCentroids(emb: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int): DataFrame =
    broadcast(ivfCentroidsRaw(emb, idCol, vecCol, numCentroids))

  /** Route rows to their `n` nearest coarse cells by
    * [[Nearest.csim]] (cos desc, cid asc) — broadcast centroid join.
    * n = 1 (every corpus assignment) is the toolkit's [[Nearest.argmin]]
    * of −csim; n > 1 (query-side multi-probe, small by construction)
    * keeps the window. The sentinel makes the two interchangeable on
    * corrupt data. Returns (id, v, cid). */
  private[graft] def nearestCells(df: DataFrame, cents: DataFrame, id: String,
      v: String, n: Int): DataFrame =
    if (n == 1)
      Nearest.argmin(df.crossJoin(cents), Seq(id),
        Nearest.negCos(col(v), col("cv")), "cid", v)
    else {
      val scored = df.crossJoin(cents)
        .select(col(id), col(v), col("cid"),
          Nearest.csim(col(v), col("cv")).as("csim"))
      TopK.perKey(scored, id, n, col("csim").desc, col("cid").asc)
        .select(col(id), col(v), col("cid"))
    }

  /** IVF (inverted-file) ANN: centroids are a FIXED-SIZE deterministic
    * hash-sample of the corpus (the `numCentroids` rows with the smallest
    * portable-mixer key — a TakeOrderedAndProject, cheap at any scale);
    * every vector is assigned to its nearest centroid (one broadcast join
    * — the "coarse quantizer"); queries scan only the `nProbe` nearest
    * cells. The standard billion-scale layout: a CONSTANT cell count
    * (production systems train 4–64k cells; the broadcast side is
    * corpus-size-independent by construction), cells as the
    * partition/clustering key, so a query touches nProbe partitions and
    * assignment costs |corpus|·numCentroids dot products — linear in the
    * corpus, never a function of corpus² as a proportional sample would
    * be. */
  def ivfKnn(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int = 5, numCentroids: Int = 64,
      nProbe: Int = 2): DataFrame = {
    val cents = ivfCentroids(emb, idCol, vecCol, numCentroids)
    val corpus = nearestCells(
      emb.select(col(idCol).as("nid"), col(vecCol).as("nv")), cents,
      "nid", "nv", 1)
    val queries = nearestCells(
      emb.where(queryPred).select(col(idCol).as("qid"), col(vecCol).as("qv")),
      cents, "qid", "qv", nProbe)
    // no distinct: every corpus vector is assigned to exactly ONE cell
    // (nearestCells n=1), so (qid, nid) pairs are unique by construction
    // even under multi-probe — a distinct here was a full exchange of
    // the candidate set (the scale-dominant intermediate: nProbe/cells
    // of the corpus per query batch) buying nothing. Contrast lshKnn,
    // whose multi-probed BUCKETS overlap and genuinely need the dedup.
    val scored = queries.join(corpus, "cid")
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(cosine(col("qv"), col("nv")), 6).as("cos"))
    TopK.perKey(scored, "qid", k, col("cos").desc, col("nid").asc)
  }

  /** Random-hyperplane LSH bucket id: `nPlanes` sign bits of dot products
    * with deterministic Rademacher (±1) planes — reproducible on any
    * cluster, no stored plane matrix. The plane signs come from a pure
    * integer mixer (multiply + offset mod a prime, take parity) instead of
    * a hash builtin, so ANY engine — including the DuckDB oracle — can
    * replay the buckets exactly; values stay < 2^38, no overflow anywhere. */
  def planeSign(i: Column, j: Int): Column =
    when(((i.cast("long") + 1) * lit(2654435761L) + lit((j + 1) * 40503L))
      % 9973 % 2 === 0, lit(1.0)).otherwise(lit(-1.0))

  /** Plane j as a LITERAL double array (the same values [[planeSign]]
    * yields): planes depend only on (j, dim), so building them per row
    * with sequence+transform was pure waste — and those higher-order
    * functions are CodegenFallback, which dropped the bucketing
    * projection out of whole-stage codegen. */
  private def planeLit(dim: Int, j: Int): Column = {
    val vals = Array.tabulate(dim) { i =>
      if (((i.toLong + 1) * 2654435761L + (j + 1) * 40503L) % 9973 % 2 == 0) 1.0
      else -1.0
    }
    lit(vals)
  }

  def lshBucket(v: Column, dim: Int, nPlanes: Int = 12): Column = {
    val bits = (0 until nPlanes).map { j =>
      when(dot(v, planeLit(dim, j)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Bucketed ANN: top-k by cosine among candidates sharing a bucket.
    * Multi-probe: each query also searches the nPlanes buckets one bit-flip
    * away (the standard recall/latency dial), so candidates =
    * (1+nPlanes)/2^nPlanes of the corpus instead of a full scan.
    * Recall < 1 by construction. */
  def lshKnn(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      queryPred: Column, k: Int = 5, nPlanes: Int = 8,
      multiProbe: Boolean = true): DataFrame = {
    val withBucket = emb.select(col(idCol).as("nid"),
      col(vecCol).as("nv"),
      lshBucket(col(vecCol), dim, nPlanes).as("bucket"))
    val qBase = emb.where(queryPred).select(col(idCol).as("qid"),
      col(vecCol).as("qv"),
      lshBucket(col(vecCol), dim, nPlanes).as("b0"))
    val probes =
      if (multiProbe)
        array(lit(0L) +: (0 until nPlanes).map(j => lit(1L << j)): _*)
      else array(lit(0L))
    val queries = qBase
      .select(col("qid"), col("qv"), col("b0"), explode(probes).as("flip"))
      .select(col("qid"), col("qv"),
        col("b0").bitwiseXOR(col("flip")).as("bucket"))
    val scored = queries.join(withBucket, "bucket")
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(cosine(col("qv"), col("nv")), 6).as("cos"))
      .distinct()
    TopK.perKey(scored, "qid", k, col("cos").desc, col("nid").asc)
  }

  /** Semantic decontamination: flag TRAINING vectors whose embedding
    * lies within cosine ≥ tau of ANY evaluation vector — shingle
    * [[Dedup.decontaminate]] lifted to embedding space, with the
    * cross-set discipline of incremental dedup: candidates come ONLY
    * from eval × train LSH-bucket matches (never train × train — the
    * corpus is not being deduplicated here), the eval side (benchmark
    * sets — tiny by definition) carries the multi-probe expansion and
    * BROADCASTS into the training scan, so the training corpus is
    * scanned once and shuffled never; only flagged (tid, eid, cos)
    * hits reach the per-vector aggregate. Recall < 1 by LSH
    * construction — the oracle replays the bucketing term-for-term,
    * so the check stays exact over the candidate set (the
    * q_embed_lsh_knn convention). Output: (idCol, n_hits, max_cos). */
  def semanticDecontaminate(train: DataFrame, evalSet: DataFrame,
      idCol: String, vecCol: String, dim: Int, tau: Double,
      nPlanes: Int = 8, multiProbe: Boolean = true): DataFrame = {
    val t = train.select(col(idCol).as("tid"), col(vecCol).as("tv"),
      lshBucket(col(vecCol), dim, nPlanes).as("bucket"))
    val e0 = evalSet.select(col(idCol).as("eid"), col(vecCol).as("ev"),
      lshBucket(col(vecCol), dim, nPlanes).as("b0"))
    val probes =
      if (multiProbe)
        array(lit(0L) +: (0 until nPlanes).map(j => lit(1L << j)): _*)
      else array(lit(0L))
    val ev = e0
      .select(col("eid"), col("ev"), col("b0"), explode(probes).as("flip"))
      .select(col("eid"), col("ev"),
        col("b0").bitwiseXOR(col("flip")).as("bucket"))
    val pairs = t.join(broadcast(ev), "bucket")
      .select(col("tid"), col("eid"),
        round(cosine(col("tv"), col("ev")), 6).as("cos"))
      .where(col("cos") >= tau)
      .distinct()
    pairs.groupBy(col("tid"))
      .agg(count(lit(1)).as("n_hits"), max(col("cos")).as("max_cos"))
      .select(col("tid").as(idCol), col("n_hits"), col("max_cos"))
  }

  /** Lloyd's k-means over an embedding column, `iters` FIXED rounds (the
    * oracle unrolls the same rounds as CTEs) — the clustering step an
    * embedding pipeline runs between centroid training and IVF layout.
    * Deterministic end to end, every step from the [[Nearest]] toolkit:
    * init is the `k`-row mixer [[Nearest.sample]] (seed offset
    * 11·40503, independent of the IVF quantizer's 7·40503 — the same
    * TakeOrderedAndProject shape as [[ivfKnn]]'s quantizer), assignment
    * the [[Nearest.argmin]] of the 6dp squared distance [[Nearest.l2]]
    * with the point vector carried through, and the centroids the 6dp
    * [[Nearest.lloyd]] means. Rounding-boundary caveat: the 6dp pin
    * makes cross-engine agreement overwhelmingly likely, not certain —
    * a distance or centroid component landing EXACTLY on a half-ulp
    * rounding boundary could round differently in an engine whose
    * intermediate fold order differs, flipping an argmin whose
    * runner-up is within 1e-6. No fixture hits this (the oracle replays
    * the same fold order), but on adversarial inputs the pin is
    * probabilistic in the same sense as the banding-recall notes. Per
    * round: one k-row broadcast join + one map-side argmin + one
    * centroid aggregation — all linear in the corpus. Returns
    * (idCol, cluster). */
  def kmeans(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int = 16, iters: Int = 2): DataFrame = {
    require(iters >= 1, "kmeans needs at least one assignment round")
    val pts = emb.select(col(idCol).as("vid"), col(vecCol).as("pv"))
    lloydRounds(dim, iters, broadcast(kmeansInit(pts, k)), broadcast)(cents =>
      Nearest.argmin(pts.crossJoin(cents), Seq("vid"),
        Nearest.l2(col("pv"), col("cv")), "cid", "pv"))
      .select(col("vid").as(idCol), col("cid").as("cluster"))
  }

  /** The first `n` points (vid, pv) of the k-means mixer order as
    * (cid, cv). */
  private def kmeansInit(pts: DataFrame, n: Int): DataFrame =
    Nearest.sample(pts.select(col("vid").as("cid"), col("pv").as("cv")), "cid",
      445533L, n)

  /** `iters` Lloyd rounds from the centroids `init`: each round assigns
    * the points, (vid, pv, cid), and, but for the last, re-centers
    * through [[Nearest.lloyd]], delivered by `hint`. Returns the last
    * assignment. */
  private def lloydRounds(dim: Int, iters: Int, init: DataFrame,
      hint: DataFrame => DataFrame)(assign: DataFrame => DataFrame): DataFrame =
    (2 to iters).foldLeft(assign(init)) { (assigned, _) =>
      assign(hint(Nearest.lloyd(assigned, Seq("cid"), "pv", dim)))
    }

  /** Two-level ROUTED Lloyd assignment — [[kmeans]] with the N·k
    * flat-assignment term replaced by coarse→fine routing (the r9→r10
    * SemDeDup crossover fix, measured in SCALE.md: with k ∝ corpus the
    * flat crossJoin generates N·k candidate rows and becomes the
    * dominant cost — ratio 77× at the ×100 rehearsal — while the pair
    * stage it feeds stays flat).
    *
    * A STATIC routing grid of `coarse` mixer-picked corpus vectors (the
    * first `coarse` of the SAME ordering that seeds the fine init —
    * nested sampling, one ordering to replay) partitions the space
    * once; each Lloyd round assigns through [[Nearest.routed]] with the
    * [[Nearest.l2]] score (candidate rows per round: N·(coarse +
    * k/coarse avg) versus flat's N·k — at coarse ≈ √k the quadratic
    * assignment term drops to N·2√k). Same determinism discipline as
    * [[kmeans]], and every level is replayed in the oracle.
    *
    * The routed argmin is an APPROXIMATION of the global argmin (the
    * IVF nProbe=1 recall contract); SemDeDup is itself a cell-bounded
    * approximation, so the contract composes. With auto-scaled k the
    * fine-centroid table grows linearly with the corpus; above
    * `maxBroadcastCentroids` rows its broadcast hints drop and the
    * in-cell argmin joins on the coarse cell id instead — same results,
    * shuffle-joined delivery (SCALE.md "Fine-centroid broadcast
    * ceiling"). The √k coarse grid always broadcasts. */
  def kmeansRouted(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, iters: Int, coarse: Int,
      maxBroadcastCentroids: Int = 100000): DataFrame = {
    require(iters >= 1, "kmeans needs at least one assignment round")
    require(coarse >= 1, "need at least one routing cell")
    val hintFine = k <= maxBroadcastCentroids
    def fineHint(df: DataFrame): DataFrame =
      if (hintFine) broadcast(df) else df
    val pts = emb.select(col(idCol).as("vid"), col(vecCol).as("pv"))
    val coarseTab = broadcast(kmeansInit(pts, coarse)
      .select(col("cid").as("ccid"), col("cv").as("ccv")))
    lloydRounds(dim, iters, fineHint(kmeansInit(pts, k)), fineHint)(cents =>
      Nearest.routed(pts, cents, coarseTab, "vid", "pv", Nearest.l2, hintFine))
      .select(col("vid").as(idCol), col("cid").as("cluster"))
  }

  /** (id, j, sv): the m subvector slices of each row. */
  private def pqSubspaces(df: DataFrame, idCol: String, vecCol: String,
      id: String, m: Int, sd: Int): DataFrame =
    df.select(col(idCol).as(id),
        explode(array((0 until m).map { j =>
          struct(lit(j).as("j"),
            slice(col(vecCol), j * sd + 1, sd).as("sv"))
        }: _*)).as("s"))
      .select(col(id), col("s.j").as("j"), col("s.sv").as("sv"))

  /** Train the per-subspace codebooks and encode the corpus:
    * returns (codes (vid, j, cid), codebooks cb1 (j, cid, cv) —
    * broadcast). Init: the ksub-row mixer [[Nearest.sample]] (seed
    * offset 13·40503 — distinct from the IVF/kmeans samples); one
    * [[Nearest.lloyd]] recompute; codes are the [[Nearest.argmin]] of
    * [[Nearest.l2]] per (vid, j). */
  private def pqTrainEncode(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ksub: Int): (DataFrame, DataFrame) = {
    require(dim % m == 0, "m must divide dim")
    val sd = dim / m
    val sub = pqSubspaces(emb, idCol, vecCol, "vid", m, sd)
    val init = Nearest.sample(emb.select(col(idCol).as("cid")), "cid",
      526539L, ksub)
    val cb0 = broadcast(sub.join(init, sub("vid") === init("cid"))
      .select(col("j"), col("cid"), col("sv").as("cv")))
    def assign(cb: DataFrame, carry: String*): DataFrame =
      Nearest.argmin(sub.join(cb, "j"), Seq("vid", "j"),
        Nearest.l2(col("sv"), col("cv")), "cid", carry: _*)
    // the training pass carries sv THROUGH the argmin aggregate instead
    // of re-joining assignments back onto sub — the re-join was a second
    // corpus-sized shuffle of subvector payloads on (vid, j), and the
    // one shuffle join in an otherwise broadcast-only pipeline
    val cb1 = broadcast(Nearest.lloyd(assign(cb0, "sv"), Seq("j", "cid"), "sv", sd))
    (assign(cb1), cb1)
  }

  /** The broadcast ADC lookup: (qid, j, cid, d) for every query ×
    * codeword pair. */
  private def pqQueryDists(queries: DataFrame, idCol: String, vecCol: String,
      cb1: DataFrame, m: Int, sd: Int): DataFrame =
    broadcast(pqSubspaces(queries, idCol, vecCol, "qid", m, sd)
      .join(cb1, "j")
      .select(col("qid"), col("j"), col("cid"),
        Nearest.l2(col("sv"), col("cv")).as("d")))

  /** ADC-sum the (qid, vid) pairs present in `pairs` and rank top-k. */
  private def adcTopK(pairs: DataFrame, k: Int): DataFrame = {
    val scored = pairs
      .groupBy(col("qid"), col("vid"))
      .agg(round(sum(col("d")), 6).as("dist"))
    TopK.perKey(scored, "qid", k, col("dist").asc, col("vid").asc)
      .select(col("qid"), col("vid").as("nid"), col("dist"), col("rn"))
  }

  /** Product-quantization ANN (the PQ half of the billion-scale IVF-PQ
    * layout): the vector space is split into `m` subspaces of dim/m
    * components; each subspace trains a tiny `ksub`-centroid codebook
    * (mixer-seeded init + ONE Lloyd recompute, the [[kmeans]] determinism
    * discipline — centroids 6dp-pinned), each corpus vector is encoded
    * as `m` small codes (argmin subspace distance, id tiebreak), and a
    * query scores a vector by ASYMMETRIC distance: the sum over
    * subspaces of the query-to-codeword distance, looked up from a
    * precomputed (query × codeword) table.
    *
    * 100 TB shape — why PQ is the scale path: the corpus side of the
    * scoring join carries only `m` SMALL INTS per vector (codes), never
    * the vectors; the (query, subspace, codeword) distance table is
    * |Q|·m·ksub rows — tiny — and BROADCAST, so scoring is a broadcast
    * equi-join on (subspace, code) plus one partial-aggregated sum:
    * no shuffle touches raw vectors after encoding. Codebook training
    * scans the corpus twice (assign + recompute) with the 32-row
    * codebook union broadcast; code assignment is a map-side
    * min(struct) argmin — no window, no per-vector state. Composing
    * with [[ivfKnn]]'s cell routing gives IVF-PQ proper; the fixture
    * keeps them separate so each half is oracle-checked on its own.
    *
    * Determinism: every distance is rounded at 6dp with codeword-id
    * tiebreak before any argmin/rank, and the final ADC sum (m rounded
    * terms, associativity-exposed by the aggregate) is re-rounded at
    * 6dp — the kmeans rounding-boundary caveat applies verbatim.
    * Returns (qid, nid, dist, rn), rn ≤ k. */
  def pqKnn(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      queryPred: Column, m: Int = 4, ksub: Int = 8, k: Int = 5): DataFrame = {
    val (codes, cb1) = pqTrainEncode(emb, idCol, vecCol, dim, m, ksub)
    val qd = pqQueryDists(emb.where(queryPred), idCol, vecCol, cb1, m, dim / m)
    adcTopK(codes.join(qd, Seq("j", "cid"))
      .where(col("vid") =!= col("qid")), k)
  }

  /** FAISS-style refine (re-rank) stage on top of [[pqKnn]]: the ADC
    * scores a `shortlistK`-deep shortlist per query, then the shortlist
    * — and ONLY the shortlist — is re-scored with EXACT vectors and cut
    * to the final top-k. ADC error is bounded by quantization; exact
    * re-scoring of the shortlist recovers the ordering quantization
    * scrambled, so refined top-k recall is ≥ ADC-only top-k recall
    * whenever the true neighbors reach the shortlist (the standard
    * IndexRefineFlat layout).
    *
    * 100 TB shape: the expensive property is preserved — the CORPUS
    * side still never shuffles vectors. The shortlist is |Q|·shortlistK
    * (qid, nid) pairs — tiny, BROADCAST into one equi-join against the
    * corpus scan to pick up exact vectors; the query vectors broadcast
    * likewise; the final window ranks |Q|·shortlistK re-scored rows.
    * Exact distances reuse the 6dp-rounded a·a − 2·a·b + b·b
    * composition, so the oracle replays the re-rank term for term. */
  def pqKnnRefined(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      queryPred: Column, m: Int = 4, ksub: Int = 8, shortlistK: Int = 20,
      k: Int = 5): DataFrame = {
    require(shortlistK >= k, "the shortlist must be at least k deep")
    val shortlist = pqKnn(emb, idCol, vecCol, dim, queryPred, m, ksub,
      shortlistK).select(col("qid"), col("nid"))
    rerank(shortlist, emb, idCol, vecCol, queryPred, k, "dist",
      desc = false)(Nearest.sq)
  }

  /** The exact re-rank of a (qid, nid) shortlist: the shortlist and the
    * queries broadcast into one scan of the corpus, each pair re-scored
    * on the full vectors as round(`score`(qv, nv), 6) into column
    * `name`, and the top `k` per query kept by `name` (descending when
    * `desc`), nid asc. Returns (qid, nid, name, rn). */
  private def rerank(shortlist: DataFrame, emb: DataFrame, idCol: String,
      vecCol: String, queryPred: Column, k: Int, name: String, desc: Boolean)(
      score: (Column, Column) => Column): DataFrame = {
    val corpus = emb.select(col(idCol).as("nid"), col(vecCol).as("nv"))
    val queries = emb.where(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val exact = broadcast(shortlist).join(corpus, "nid")
      .join(broadcast(queries), "qid")
      .select(col("qid"), col("nid"),
        round(score(col("qv"), col("nv")), 6).as(name))
    TopK.perKey(exact, "qid", k, if (desc) col(name).desc else col(name).asc,
      col("nid").asc)
  }

  /** IVF-PQ: the composed billion-scale ANN layout — IVF's coarse cells
    * bound WHICH vectors a query scores (nProbe cells instead of the
    * whole corpus), PQ's codes bound WHAT the scoring join carries
    * (m small ints per vector instead of the vector). Search cost per
    * query: |probed cells|·(corpus/numCentroids) candidate rows × a
    * broadcast ADC lookup — both knobs (`nProbe`, `numCentroids`) trade
    * recall for fan-in with no plan change. This is flat-PQ within IVF
    * cells (codebooks trained on raw vectors, shared across cells);
    * residual-PQ — codebooks over (vector − cell centroid) — is the
    * standard refinement and would slot into pqTrainEncode unchanged,
    * at the cost of per-cell training data in the oracle. Candidate
    * routing and ADC scoring are both broadcast equi-joins: like
    * [[pqKnn]], nothing after encoding shuffles raw vectors. */
  def ivfPqKnn(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      queryPred: Column, numCentroids: Int = 64, nProbe: Int = 2,
      m: Int = 4, ksub: Int = 8, k: Int = 5): DataFrame = {
    val cents = ivfCentroids(emb, idCol, vecCol, numCentroids)
    val cellCorpus = nearestCells(
        emb.select(col(idCol).as("vid"), col(vecCol).as("nv")), cents,
        "vid", "nv", 1)
      .select(col("vid"), col("cid").as("cell"))
    val cellQueries = nearestCells(
        emb.where(queryPred)
          .select(col(idCol).as("qid"), col(vecCol).as("qv")), cents,
        "qid", "qv", nProbe)
      .select(col("qid"), col("cid").as("cell"))
    val (codes, cb1) = pqTrainEncode(emb, idCol, vecCol, dim, m, ksub)
    val qd = pqQueryDists(emb.where(queryPred), idCol, vecCol, cb1, m, dim / m)
    // the query side is small by construction (online ANN: |Q| · nProbe
    // cells of corpus/numCentroids vectors) — broadcast it so candidate
    // routing is a broadcast equi-join and the corpus-sized codes frame
    // never shuffles
    val cand = broadcast(broadcast(cellQueries).join(cellCorpus, "cell")
      .where(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid")).distinct())
    adcTopK(cand.join(codes, "vid").join(qd, Seq("qid", "j", "cid")), k)
  }

  /** Symmetric per-vector int8 quantization — the storage layout vector
    * stores actually ship (FAISS SQ8 / production embedding services):
    * scale = round(max|e_i| / 127, 9), q_i = clamp(round(e_i / scale),
    * ±127), with the reconstruction error reported per vector. Output
    * (idCol, scale, q_checksum, mse): the checksum is the position-
    * weighted integer fold Σ i·(q_i + 128) mod 1e9+7 (order-sensitive,
    * pure int64 — the ids_checksum discipline), mse the ordered
    * left-to-right fold Σ (e_i − q_i·scale)² / dim via the native
    * [[graft.functions.DotProduct]] (the list_sum parity every cosine
    * oracle already rides), 9dp-rounded. Zero vectors quantize to all
    * zeros (scale 0 guard).
    *
    * 100 TB shape: one projection per row, zero shuffles, nothing
    * driver-side — quantization is embarrassingly parallel; the 4×
    * byte shrink (float32 → int8 + one scale) is the point at storage
    * scale. The higher-order zip/aggregate lambdas are CodegenFallback
    * but run once per corpus row, off any per-pair hot path. */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int = 64): DataFrame = {
    val e = transform(col(vecCol), x => x.cast("double"))
    val base = withSq8(emb.select(col(idCol), e.as("e")), col("e"), "long")
    val terms = zip_with(col("codes"),
      sequence(lit(1L), lit(dim.toLong)), (qi, i) => i * (qi + lit(128L)))
    val err = zip_with(col("e"), col("codes"),
      (x, qi) => x - qi.cast("double") * col("scale"))
    base.select(col(idCol), col("scale"),
      pmod(aggregate(terms, lit(0L), (acc, x) => acc + x), lit(1000000007L))
        .as("q_checksum"),
      round(dot(err, err) / lit(dim.toDouble), 9).as("mse"))
  }

  /** SQ8-SCORED KNN — searching over the int8 codes [[quantizeInt8]]
    * stores (the FAISS IndexScalarQuantizer production shape, asymmetric
    * variant): the float query scores each corpus vector by cosine
    * against its int8 CODES, then the `shortlistK`-deep shortlist — and
    * only the shortlist — is re-scored with exact float vectors (the
    * [[pqKnnRefined]] refine discipline).
    *
    * Why cosine-over-codes IS asymmetric SQ8 scoring: the stored
    * reconstruction is scale·code per vector, and the PER-VECTOR scale
    * cancels in cosine — cos(q, s·c) = (s·⟨q,c⟩)/(|q|·s·|c|) =
    * cos(q, c) — so scoring the raw integer codes is numerically
    * identical to scoring the dequantized vectors, with no
    * dequantization pass and no scale column in the scoring join. The
    * approximation error vs true cosine is exactly the quantization
    * error the refine stage bounds.
    *
    * 100 TB shape: this is a FLAT scan over compressed codes — at
    * storage scale the scan reads 1/4 the bytes of the float corpus
    * (int8 + one scale vs float32), which is the entire point of SQ8;
    * composing with the IVF cell layout (scan only probed cells of the
    * stored codes — [[graft.sources.IvfIndex]]) is the production
    * path and changes candidate BOUNDING, not this scoring. The codes
    * are materialized per corpus row in the scan projection (off the
    * per-pair hot path); the per-pair scoring is one codegen'd
    * [[graft.functions.DotProduct]]. Same determinism discipline: 6dp
    * rounding, id tiebreaks, broadcast query side. Returns
    * (qid, nid, cos, rn), rn ≤ k. */
  def int8Knn(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, shortlistK: Int = 20, k: Int = 5): DataFrame = {
    require(shortlistK >= k, "the shortlist must be at least k deep")
    val e = transform(col(vecCol), x => x.cast("double"))
    // the SQ8 code rule kept as doubles for the codegen'd dot — codes
    // are integers in [-127, 127], exactly representable
    val corpus = withSq8(emb.select(col(idCol).as("nid"), e.as("ne")),
        col("ne"), "double")
      .select(col("nid"), col("codes").as("nc"))
    val queries = broadcast(emb.where(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).as("qv")))
    val shortlist = TopK.perKey(
        queries.crossJoin(corpus)
          .where(col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"),
            round(cosine(col("qv"), col("nc")), 6).as("acos")),
        "qid", shortlistK, col("acos").desc, col("nid").asc)
      .select(col("qid"), col("nid"))
    rerank(shortlist, emb, idCol, vecCol, queryPred, k, "cos", desc = true)(cosine)
  }

  /** The SQ8 code rule, written once for [[quantizeInt8]], [[int8Knn]]
    * and [[graft.sources.IvfIndex]]'s postings: `df` plus
    * `scale` = round(max|e_i| / 127, 9) and `codes` = clamp(round(e_i /
    * scale), ±127) of the `array<double>` column `e` (all zeros for a
    * zero scale), the codes computed and clamped in `codeType`
    * ("long" or "double"). */
  private[graft] def withSq8(df: DataFrame, e: Column,
      codeType: String): DataFrame =
    df.withColumn("scale",
        round(array_max(transform(e, x => abs(x))) / lit(127.0), 9))
      .withColumn("codes", transform(e, x =>
        when(col("scale") === 0.0, lit(0).cast(codeType)).otherwise(
          greatest(lit(-127).cast(codeType), least(lit(127).cast(codeType),
            round(x / col("scale"), 0).cast(codeType))))))

  /** Matryoshka-style (MRL, Kusupati et al. 2022) dimension-ladder KNN:
    * shortlist by cosine over the first `truncDim` components only, then
    * exact full-dimension re-rank of the shortlist — the
    * [[pqKnnRefined]] refine discipline with TRUNCATION as the cheap
    * stage instead of quantization. With MRL-trained embeddings the
    * prefix IS a valid low-dim embedding, so the truncated scan does
    * dim/truncDim less arithmetic and (at scale) 1/4 the scan bytes;
    * the exact re-rank bounds the cost of prefix ordering noise to
    * `shortlistK` full-dim scores per query. The truncated space is
    * also where an IVF/LSH index would sit at corpus scale (the
    * registered ANN family composes — this op registers the ladder
    * itself). Same determinism discipline: 6dp cosine pins, id
    * tiebreaks, broadcast query sides, shortlist broadcast back into
    * the corpus scan. Returns (qid, nid, cos, rn), rn ≤ k. */
  def mrlKnn(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, truncDim: Int, shortlistK: Int = 20,
      k: Int = 5): DataFrame = {
    require(shortlistK >= k, "the shortlist must be at least k deep")
    val corpusT = emb.select(col(idCol).as("nid"),
      slice(col(vecCol), 1, truncDim).as("nt"))
    val queriesT = broadcast(emb.where(queryPred)
      .select(col(idCol).as("qid"), slice(col(vecCol), 1, truncDim).as("qt")))
    val shortlist = TopK.perKey(
        queriesT.crossJoin(corpusT)
          .where(col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"),
            round(cosine(col("qt"), col("nt")), 6).as("tcos")),
        "qid", shortlistK, col("tcos").desc, col("nid").asc)
      .select(col("qid"), col("nid"))
    rerank(shortlist, emb, idCol, vecCol, queryPred, k, "cos", desc = true)(cosine)
  }

  /** Mutual-kNN graph, cell-bounded: edges (a, b) where each vector is
    * in the OTHER's within-cell top-k by cosine — the robust linkage
    * criterion semantic-clustering pipelines use (one-directional kNN
    * links hubs to everything; mutuality prunes hub edges). Candidates
    * are bounded by the IVF cell assignment exactly like [[semanticDedup]]'s
    * pair stage; the mutuality test is ONE equi-self-join of the kNN
    * edge list on the swapped key. Cross-cell neighbors are invisible by
    * design — the SemDeDup recall contract composes. Returns
    * (a, b, cos), a < b.
    *
    * The cell count AUTO-SCALES: numCentroids = max(minCentroids,
    * ⌈N/targetOccupancy⌉) — a fixed cell count would let occupancy, and
    * with it the within-cell pair term, grow linearly with the corpus
    * (the r9 SemDeDup fixed-k trap: the first ×100 rehearsal attempt
    * with 16 fixed cells implied ~2.5e9 candidate pairs). With k ∝ N
    * the pair stage does N·occupancy work, flat per cell — but then
    * FLAT assignment does N·numCentroids cosine evaluations, and the
    * ×100 rehearsal measured THAT term dominating at ratio 32×
    * (3.1e8 scored rows), so above `routeAbove` cells the assignment
    * goes two-level ([[routedAssignCos]], the toolkit's
    * [[Nearest.routed]] over a static ⌈√k⌉ coarse grid — the first rows
    * of the SAME mixer ordering, nested sampling): ~N·2√k candidates
    * instead of N·k. Routed assignment approximates the global nearest
    * cell — candidate bounding, not scoring, so returned cosines stay
    * exact; both paths are registered with full replays
    * (q_embed_mutual_knn flat at fixture scale, q_embed_mutual_knn_routed
    * forced).
    *
    * 100 TB shape: broadcast centroid join → ONE hash exchange on the
    * cell id → per-vector window over cell-bounded candidates → an
    * edge-list self-join on (a, b): k·N rows, fixed-width keys. Above
    * `maxBroadcastCentroids` cells the quantizer and fine-map broadcast
    * hints drop ([[Nearest.routed]]'s `hintFine`). */
  def mutualKnn(emb: DataFrame, idCol: String, vecCol: String, k: Int = 10,
      targetOccupancy: Int = 128, minCentroids: Int = 16,
      routeAbove: Int = 64, maxBroadcastCentroids: Int = 100000): DataFrame = {
    val numCentroids = math.max(minCentroids.toLong,
      (emb.count() + targetOccupancy - 1) / targetOccupancy).toInt
    val pts = emb.select(col(idCol).as("vid"), col(vecCol).as("v"))
    val assigned =
      if (numCentroids <= routeAbove)
        nearestCells(pts, ivfCentroids(emb, idCol, vecCol, numCentroids),
          "vid", "v", 1)
      else {
        // with k ∝ corpus the fine-centroid table's bytes grow linearly
        // with N (the r11 verdict's next-cliff finding): above the row
        // ceiling the quantizer sample and the fine map lose their
        // broadcast hints and the in-cell argmin partitions by coarse
        // cell instead (SCALE.md "Fine-centroid broadcast ceiling") —
        // same results, shuffle-joined delivery
        val hintFine = numCentroids <= maxBroadcastCentroids
        val cents =
          if (hintFine) ivfCentroids(emb, idCol, vecCol, numCentroids)
          else ivfCentroidsRaw(emb, idCol, vecCol, numCentroids)
        val coarse = math.max(2,
          math.ceil(math.sqrt(numCentroids.toDouble)).toInt)
        val coarseTab = broadcast(
          ivfCentroids(emb, idCol, vecCol, coarse)
            .select(col("cid").as("ccid"), col("cv").as("ccv")))
        routedAssignCos(pts, cents, coarseTab, "vid", "v",
          broadcastFine = hintFine)
      }
    def side(a: String, v: String) = assigned
      .select(col("cid"), col("vid").as(a), col("v").as(v))
    val knn = TopK.perKey(
        side("a", "va").join(side("b", "vb"), "cid")
          .where(col("a") =!= col("b"))
          .select(col("a"), col("b"),
            round(cosine(col("va"), col("vb")), 6).as("cos")),
        "a", k, col("cos").desc, col("b").asc)
      .select(col("a"), col("b"), col("cos"))
    knn.join(knn.select(col("b").as("a"), col("a").as("b")), Seq("a", "b"),
        "left_semi")
      .where(col("a") < col("b"))
  }

  /** One-shot two-level ROUTED nearest-cell assignment by cosine:
    * [[Nearest.routed]] with the [[Nearest.negCos]] score over static
    * cells (the [[kmeansRouted]] round body without the Lloyd update).
    * `broadcastFine = false` drops the fine-map broadcast hint (the
    * caller passes an unhinted `cents` too).
    *
    * Corpus INGEST routes through here ([[graft.sources.IvfIndex]]
    * build/append/refresh above `routeAbove`), so every step scores
    * through the −2.0 sentinel of [[Nearest.csim]]: a zero-norm vector
    * lands in SOME cell exactly like the flat assignment instead of
    * throwing DIVIDE_BY_ZERO under ANSI mode and killing the build.
    * Returns (id, v, cid). */
  private[graft] def routedAssignCos(pts: DataFrame, cents: DataFrame,
      coarseTab: DataFrame, id: String, v: String,
      broadcastFine: Boolean = true): DataFrame =
    Nearest.routed(pts, cents, coarseTab, id, v, Nearest.negCos, broadcastFine)

  /** Elementwise a − b over two vector columns, each element widened to
    * double BEFORE subtracting (float-subtract-then-widen rounds to
    * float precision first and would break the oracle's double-
    * arithmetic replay). zip_with is CodegenFallback, but this runs once
    * per corpus row in the ENCODE pass — off the per-pair scoring hot
    * path [[graft.functions.DotProduct]] exists for. */
  private def vecSub(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => x.cast("double") - y.cast("double"))

  /** Residual IVF-PQ: the FAISS-style production layout — PQ codebooks
    * trained on (vector − its cell centroid) residuals instead of raw
    * vectors, concentrating codeword resolution on within-cell variation
    * (the coarse quantizer already explains the between-cell mass).
    * Proves [[ivfPqKnn]]'s claim that residual-PQ slots into
    * [[pqTrainEncode]] unchanged: the ONLY structural differences are
    * the residual frame fed to it (same (id, vec) shape) and the query
    * ADC table gaining the probed-cell key — a query's residual differs
    * per probed cell, so qd is per (query, cell) and the scoring join
    * matches on it. Candidate routing and ADC scoring remain broadcast
    * equi-joins; the residual projection is one broadcast centroid join
    * per corpus row. */
  def ivfPqResidualKnn(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, queryPred: Column, numCentroids: Int = 64, nProbe: Int = 2,
      m: Int = 4, ksub: Int = 8, k: Int = 5): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    val sd = dim / m
    val cents = ivfCentroids(emb, idCol, vecCol, numCentroids)
    val cellCorpus = nearestCells(
      emb.select(col(idCol).as("vid"), col(vecCol).as("nv")), cents,
      "vid", "nv", 1)
    val resCorpus = cellCorpus.join(cents, "cid")
      .select(col("vid"), col("cid").as("cell"),
        vecSub(col("nv"), col("cv")).as("rv"))
    val (codes, cb1) = pqTrainEncode(resCorpus, "vid", "rv", dim, m, ksub)
    val qCells = nearestCells(
      emb.where(queryPred).select(col(idCol).as("qid"), col(vecCol).as("qv")),
      cents, "qid", "qv", nProbe)
    val qRes = qCells.join(cents, "cid")
      .select(col("qid"), col("cid").as("cell"),
        vecSub(col("qv"), col("cv")).as("rq"))
    val qd = broadcast(qRes.select(col("qid"), col("cell"),
        explode(array((0 until m).map { j =>
          struct(lit(j).as("j"), slice(col("rq"), j * sd + 1, sd).as("sv"))
        }: _*)).as("s"))
      .select(col("qid"), col("cell"), col("s.j").as("j"), col("s.sv").as("sv"))
      .join(cb1, "j")
      .select(col("qid"), col("cell"), col("j"), col("cid"),
        Nearest.l2(col("sv"), col("cv")).as("d")))
    // (qid, vid, cell) triples: a corpus vector has exactly ONE cell, so
    // each admitted pair appears once; the query side is small by
    // construction — broadcast so the codes frame never shuffles
    val cand = broadcast(
      broadcast(qCells.select(col("qid"), col("cid").as("cell")))
        .join(cellCorpus.select(col("vid"), col("cid").as("cell")), "cell")
        .where(col("qid") =!= col("vid"))
        .select(col("qid"), col("vid"), col("cell")))
    adcTopK(cand.join(codes, "vid").join(qd, Seq("qid", "cell", "j", "cid")), k)
  }
}
