package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Registry, Tables}

/** 100× scale rehearsal for the dedup + ANN headline family (dev
  * tooling, SCALE.md "100× scale rehearsal").
  *
  * Differs deliberately from [[Rehearse]]'s 10× synthesis: replicating
  * documents VERBATIM multiplies the near-dup group sizes, so pair
  * outputs grow quadratically in the factor (100× verbatim ⇒ ~5000×
  * the pairs) — that measures output explosion, not algorithm scaling.
  * Here every replica r ≥ 1 rotates the printable alphabet by a
  * per-replica stride (perceptual-fingerprint disjointness — see the
  * note at the synthesis) and suffixes each word with `_r`, making
  * cross-replica shingle/gram sets DISJOINT: the corpus grows 100×
  * while the duplicate RATE stays the base corpus's (each replica
  * carries the same internal dup structure), which is the "more crawl
  * data, same dup fraction" scaling a production pipeline actually
  * sees. Replica 0 is verbatim, so the base corpus embeds unchanged.
  * Embeddings replicate with shifted ids (the ANN query side stays the
  * 10 original vectors; cells and codebooks retrain on the 100×
  * corpus).
  *
  * Usage: runMain graft.tools.Rehearse100 <sf0.1Dir> <outDir> <q,q,...>
  */
object Rehearse100 {

  val Factor = 100

  def synthesize(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    // r10 addition, guarded separately so pre-r10 rehearsal dirs (whose
    // _done predates lineitem) self-heal: coprime key offsets per replica
    // (the Rehearse 10× trick) so the mod-10000 derived graphs get ~100×
    // DISTINCT edges — verbatim replication would collapse to the base
    // graph under the edge distinct.
    if (!new java.io.File(s"$outDir/lineitem.parquet").exists()) {
      val li = Tables.lineitem(spark, sfDir)
      (0 until Factor).map { r =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(r * 31L))
          .withColumn("l_partkey", col("l_partkey") + lit(r * 37L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    }
    // r10 second tranche, self-healing guard like lineitem: 100× the
    // USER population (shifted ids), per-user history unchanged — the
    // "more users, same behavior" scaling funnel/retention see in
    // production. Event ids shift too so they stay unique.
    if (!new java.io.File(s"$outDir/events.parquet").exists()) {
      val ev = Tables.events(spark, sfDir)
      // r10 ADVICE: the shifts are collision-free only while base ids
      // stay under the strides — a larger driver fixture would silently
      // merge per-user histories across replicas and corrupt the
      // funnel/retention measurements. Enforce the implicit contract.
      val mx = ev.agg(max(col("user_id")), max(col("event_id"))).head()
      require(mx.getLong(0) < 1000000L && mx.getLong(1) < 100000000L,
        s"events id space outgrew the replica strides (max user_id=" +
          s"${mx.getLong(0)}, max event_id=${mx.getLong(1)}) — raise the " +
          "shifts before synthesizing")
      (0 until Factor).map { r =>
        ev.withColumn("user_id", col("user_id") + lit(r * 1000000L))
          .withColumn("event_id", col("event_id") + lit(r * 100000000L))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }
    val done = new java.io.File(s"$outDir/_done")
    if (done.exists()) return
    val docs = Tables.documents(spark, sfDir)
    // Per-replica PRINTABLE-ALPHABET ROTATION (r17 verdict "missing"
    // #3): the `_r` word suffix alone keeps replicas of one doc within
    // a byte of each other — exactly what a perceptual fingerprint
    // (gradient signs, [[graft.multimodal.Multimodal.frameFpBits]])
    // tolerates — so the perceptual keyframe ×100 row emitted its
    // quadratic cross-replica twin mass (29.76M pairs, 13,205× rows)
    // and measured the synthesis, not the serve. Rotating every
    // printable byte by a per-replica stride is a LARGE-amplitude
    // order-scrambling map (pairs straddling the wrap point flip their
    // comparison), so cross-replica frames land in different fp bands
    // while the within-replica dup structure — the thing the rehearsal
    // scales — is preserved exactly (the map is a per-replica
    // bijection). The suffix stays for shingle/gram disjointness: the
    // 94-char cycle collides for r ≥ 94 (6 replica pairs keep their
    // perceptual twin — ~0.1% of the old quadratic mass, noted here
    // rather than special-cased).
    val alphabet = (33 to 126).map(_.toChar).mkString // printable, no space
    def rotated(r: Int): String = {
      val k = (r * 17) % alphabet.length // gcd(17, 94) = 1: distinct shifts
      alphabet.drop(k) + alphabet.take(k)
    }
    (0 until Factor).map { r =>
      val d = docs.withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
      if (r == 0) d
      else d.withColumn("text",
          translate(col("text"), alphabet, rotated(r)))
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit("_" + r))), " "))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = Tables.embeddings(spark, sfDir)
    (0 until Factor).map { r =>
      emb.withColumn("vec_id", col("vec_id") + lit(r * 1000000L))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    done.createNewFile()
  }

  /** 100× GRAPH-OPERATOR rehearsal (r10 VERDICT #3). The registered
    * graph queries derive vertices MOD a fixed id space, so replicated
    * lineitem SATURATES them toward near-cliques — r10's rows measured
    * densification, not data scaling. Here the DERIVED edge table
    * replicates with per-replica vertex shifts — a disjoint union of
    * `Factor` copies: ×100 vertices, ×100 distinct edges, per-vertex
    * degree distribution and local structure IDENTICAL to the base
    * graph ("more subgraphs, same density" — the scaling a partitioned
    * web/social graph actually exhibits). Fixpoint depth for the
    * monotone ops (truss peeling, matching nomination) therefore stays
    * the base graph's, which is the property the unrolled oracles rely
    * on. PPR keeps its 3 roots: its rank vector is GLOBAL (every vertex
    * joins the edge table every round), so data-side cost scales with
    * the table even though personalization localizes the mass. */
  private val graphOps: Map[String, (SparkSession, String) =>
      (DataFrame, Long, DataFrame => DataFrame)] = {
    import graft.graph.{GraphOps, Iterative, Triangles}
    Map(
      "g_ktruss" -> ((s, d) =>
        (GraphOps.midEdgesFromLineitem(s, d), 2000L,
          (e: DataFrame) => Triangles.kTruss(e, k = 3))),
      "g_link_prediction" -> ((s, d) =>
        (GraphOps.sparseEdgesFromLineitem(s, d), 10000L,
          (e: DataFrame) => GraphOps.linkPrediction(e, topK = 100))),
      "g_matching" -> ((s, d) =>
        (GraphOps.sparseEdgesFromLineitem(s, d), 10000L,
          (e: DataFrame) => Iterative.maximalMatching(e, seed = 7L))),
      "g_ppr" -> ((s, d) =>
        (GraphOps.edgesFromLineitem(s, d), 1000L,
          (e: DataFrame) => Iterative.personalizedPagerank(
            e, Seq(0L, 7L, 42L), alpha = 0.85, tol = 0.0, maxIter = 5))))
  }

  private def shifted(base: DataFrame, mod: Long): DataFrame =
    (0 until Factor).map { r =>
      base.select((col("src") + lit(r * mod)).as("src"),
        (col("dst") + lit(r * mod)).as("dst"))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, queryCsv) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    require(outDir != sfDir, "never synthesize over the source tables")
    synthesize(spark, sfDir, outDir)
    def time(fn: (SparkSession, String) => DataFrame,
        dir: String): (Double, Long) = {
      var rows = 0L
      def once(): Double = {
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        rows = df.count()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.core.Checkpoints.release(df)
        dt
      }
      once() // warm
      ((1 to 3).map(_ => once()).sorted.apply(1), rows)
    }
    def timeOp(op: DataFrame => DataFrame, edges: DataFrame): (Double, Long) = {
      var rows = 0L
      def once(): Double = {
        val t0 = System.nanoTime()
        val df = op(edges)
        rows = df.count()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.core.Checkpoints.release(df)
        dt
      }
      once() // warm
      ((1 to 3).map(_ => once()).sorted.apply(1), rows)
    }
    queryCsv.split(",").foreach { name =>
      graphOps.get(name) match {
        case Some(mk) =>
          val (baseEdges, mod, op) = mk(spark, sfDir)
          // persist (NOT localCheckpoint): the timed op's result keeps
          // the input in its lineage, and the harness's terminal
          // Checkpoints.release(df) unpersists every LogicalRDD it can
          // reach — a checkpointed input would lose its blocks AND its
          // lineage after the first timed run. A cached frame stays
          // recomputable and release() ignores it.
          import org.apache.spark.storage.StorageLevel
          val be = baseEdges.persist(StorageLevel.MEMORY_AND_DISK)
          be.count()
          val bigE = shifted(be, mod).persist(StorageLevel.MEMORY_AND_DISK)
          bigE.count()
          val (base, baseRows) = timeOp(op, be)
          val (big, bigRows) = timeOp(op, bigE)
          println(f"REHEARSE100 $name%-24s base=$base%.2f s ($baseRows%d rows)  " +
            f"x100=$big%.2f s ($bigRows%d rows)  ratio=${big / base}%.1f  " +
            f"rowratio=${bigRows.toDouble / math.max(1, baseRows)}%.1f  " +
            "[shifted-vertex graph, no saturation]")
          be.unpersist(); bigE.unpersist()
        case None => Registry.byName.get(name) match {
          case Some(q) =>
            val (base, baseRows) = time(q.run, sfDir)
            val (big, bigRows) = time(q.run, outDir)
            println(f"REHEARSE100 $name%-24s base=$base%.2f s ($baseRows%d rows)  " +
              f"x100=$big%.2f s ($bigRows%d rows)  ratio=${big / base}%.1f  " +
              f"rowratio=${bigRows.toDouble / math.max(1, baseRows)}%.1f")
          case None =>
            // bench-only windows (r17 verdict stretch #7 — the
            // eight-leg composed admission one decade up): the setup
            // (fixture index builds over the ×100 corpus) runs
            // UNTIMED per dir, exactly as graft.Bench hoists it, so
            // the timed window is only the operation the row names.
            val be = graft.Bench.benchOnly(name)
            be.setup.foreach(_(spark, sfDir))
            val (base, baseRows) = time(be.run, sfDir)
            be.setup.foreach(_(spark, outDir))
            val (big, bigRows) = time(be.run, outDir)
            println(f"REHEARSE100 $name%-24s base=$base%.2f s ($baseRows%d rows)  " +
              f"x100=$big%.2f s ($bigRows%d rows)  ratio=${big / base}%.1f  " +
              f"rowratio=${bigRows.toDouble / math.max(1, baseRows)}%.1f  " +
              "[bench-only window, setup untimed]")
        }
      }
    }
    spark.stop()
  }
}
