package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._

import graft.core.MrOps
import graft.graph.GraphOps

/** Generator-based properties for the doc-stated postconditions
  * (FIXTURES.md §3): invariants the reference states in prose
  * (doc/aggregate.txt, doc/sort_keys.txt, doc/convert.txt,
  * oinkdoc/edge_upper.txt) but never automated. */
object EngineProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private def spark = TestSession.spark

  private val edgeGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(30, Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L)))

  property("edgeUpper: src<dst, no self-loops, no duplicates") =
    forAll(edgeGen) { pairs =>
      val u = GraphOps.edgeUpper(TestSession.edges(pairs: _*))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      u.forall { case (s, d) => s < d } && u.distinct.length == u.length
    }

  property("repartition preserves the pair multiset") =
    forAll(edgeGen) { pairs =>
      val df = TestSession.edges(pairs: _*)
      MrOps.aggregate(df, col("src")).count() == pairs.length
    }

  property("group counts sum to input size (doc/convert.txt)") =
    forAll(edgeGen) { pairs =>
      val df = TestSession.edges(pairs: _*)
      val grouped = MrOps.countByKey(df, col("src"))
      val total =
        if (pairs.isEmpty) 0L
        else grouped.agg(sum(col("count"))).head().getLong(0)
      total == pairs.length &&
        grouped.count() == pairs.map(_._1).distinct.length
    }

  property("local top-K then global top-K = global top-K (wordfreq idiom)") =
    forAll(edgeGen) { pairs =>
      val df = TestSession.edges(pairs: _*)
      val k = 5
      val global = MrOps.topK(df, k, col("dst").desc, col("src").asc)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // per-partition truncate first, then global — must agree
      val local = df.sortWithinPartitions(col("dst").desc, col("src").asc)
      val twoPhase = MrOps.topK(local, k, col("dst").desc, col("src").asc)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      global == twoPhase
    }

  property("rmat generates EXACTLY nnonzero*2^nlevels unique edges (oink/rmat.cpp:50-70)") =
    forAll(Gen.chooseNum(1, 3), Gen.chooseNum(1L, 99L)) { (nnz, seed) =>
      // batches emit exactly the deficit and dedup only shrinks, so the
      // loop approaches the target from below and lands on it — no trim
      val p = graft.gen.RMat.Params(5, nnz, 0.45, 0.25, 0.15, 0.15, 0.0, seed)
      graft.gen.RMat.generate(spark, p, numTasks = 7).count() == nnz.toLong * 32
    }

  property("TopKIdsAggregator equals sort-then-take, ties broken by id") = {
    val ranked = Gen.listOf(Gen.zip(Gen.chooseNum(0, 3), Gen.chooseNum(0L, 20L)))
      .map(_.map { case (s, id) => graft.functions.Ranked(s * 0.5, id) })
    forAll(ranked, ranked, Gen.chooseNum(0, 6)) { (a, b, k) =>
      val agg = new graft.functions.TopKIdsAggregator(k)
      val ord = Ordering.by[graft.functions.Ranked, (Double, Long)](r => (-r.score, r.id))
      def reference(rs: Seq[graft.functions.Ranked]) = rs.sorted(ord).take(k)
      val (bufA, bufB) = (a.foldLeft(agg.zero)(agg.reduce), b.foldLeft(agg.zero)(agg.reduce))
      bufA == reference(a) && bufB == reference(b) &&
        agg.merge(bufA, bufB) == reference(a ++ b) &&
        agg.finish(agg.merge(bufA, bufB)) == reference(a ++ b).map(_.id).mkString(",")
    }
  }

  private val messyTextGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      (8, Gen.alphaNumChar), (1, Gen.oneOf(' ', '\t', '\n', '\r')),
      (1, Gen.oneOf(',', '.', 'É', 'é', 'ß')))).map(_.mkString)

  property("NormalizeText ≡ lower→regexp_replace→trim on arbitrary text") =
    forAll(Gen.listOfN(4, messyTextGen)) { texts =>
      val s = spark
      import s.implicits._
      val rows = texts.toDF("text").select(
        md5(graft.functions.NormalizeText.normalize(col("text"))).as("a"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))
          .cast("binary")).as("b"))
        .collect()
      rows.forall(r => r.getString(0) == r.getString(1))
    }

  private val tokenDocGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 12)
    ws <- Gen.listOfN(n, Gen.oneOf("a", "bb", "ccc", "d1", "Ω", "xy"))
  } yield ws.mkString(" ")

  property("TokenGramHashes: hash equality ≡ gram equality on small vocab") =
    forAll(Gen.listOfN(6, tokenDocGen), Gen.chooseNum(1, 3)) { (texts, l) =>
      val s = spark
      import s.implicits._
      // every positional gram hashed two ways: the rolling expression and
      // the direct slice — equal grams must collide, different must not
      // (6-token vocab, ≤12 tokens: any real collision would be a bug,
      // not birthday luck)
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .select(col("id"),
          graft.functions.TokenGramHashes.gramHashes(
            split(col("text"), "\\s+"), l, 7L).as("g"),
          graft.functions.ShingleArray.shinglesAll(
            split(col("text"), "\\s+"), l).as("sh"))
        .collect()
      val pairs = rows.flatMap { r =>
        val g = Option(r.getSeq[Long](1)).getOrElse(Seq.empty)
        val sh = Option(r.getSeq[String](2)).getOrElse(Seq.empty)
        g.zip(sh)
      }
      // grouped by gram text, all hashes equal; grouped by hash, one text
      pairs.groupBy(_._2).values.forall(_.map(_._1).distinct.size == 1) &&
        pairs.groupBy(_._1).values.forall(_.map(_._2).distinct.size == 1)
    }

  property("asof join equals brute-force range-join argmax") =
    forAll(Gen.listOfN(40, Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(0L, 50L))),
      Gen.listOfN(25, Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(0L, 50L)))) {
      (ls, rsRaw) =>
        val s = spark
        import s.implicits._
        val rs = rsRaw.distinct // unique (k, t): the operator's contract
        val left = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
          .toDF("lid", "k", "t")
        val right = rs.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
          .toDF("k", "t", "fid")
        val got = graft.operators.AsofJoin.asof(left, right, "k", "t", Seq("fid"))
          .select(col("lid"), col("asof_fid")).collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
        val brute = ls.zipWithIndex.map { case ((k, t), i) =>
          val cand = rs.zipWithIndex.filter { case ((rk, rt), _) => rk == k && rt <= t }
          i.toLong -> cand.sortBy { case ((_, rt), _) => rt }.lastOption
            .map(_._2.toLong).getOrElse(-1L)
        }.toMap
        got == brute
    }

  property("distinct is idempotent (cull)") =
    forAll(edgeGen) { pairs =>
      val df = TestSession.edges(pairs: _*)
      df.distinct().distinct().count() == df.distinct().count()
    }

  // tokens include empties and duplicates — the expression must skip
  // empties and dedup in first-occurrence order
  private val tokenGen: Gen[List[String]] =
    Gen.listOfN(20, Gen.oneOf(Gen.const(""),
      Gen.oneOf("a", "b", "c", "aa", "bb", "x y").map(identity)))

  property("ShingleArray equals the naive shingle computation") =
    forAll(tokenGen, Gen.chooseNum(1, 4)) { (tokens, k) =>
      val s = spark
      import s.implicits._
      val got = Seq(tokens.mkString(" ")).toDF("text")
        .select(graft.llm.Dedup.shingleArray(col("text"), k).as("sh"))
        .head().getSeq[String](0).toList
      // naive reference: filtered non-empty tokens, sliding k-windows
      // joined by one space, distinct keeping first occurrence. NOTE the
      // text round-trips through split("\\s+"), so a token containing a
      // space ("x y") splits — apply the same split to the reference.
      val words = tokens.mkString(" ").split("\\s+").filter(_.nonEmpty).toList
      val expect =
        if (words.length < k) Nil
        else words.sliding(k).map(_.mkString(" ")).toList.distinct
      got == expect
    }

  property("ShingleArray multiset form keeps every occurrence in order") =
    forAll(tokenGen, Gen.chooseNum(1, 4)) { (tokens, k) =>
      val s = spark
      import s.implicits._
      val got = Seq(tokens.mkString(" ")).toDF("text")
        .select(graft.functions.ShingleArray.shinglesAll(
          split(col("text"), "\\s+"), k).as("sh"))
        .head().getSeq[String](0).toList
      val words = tokens.mkString(" ").split("\\s+").filter(_.nonEmpty).toList
      val expect =
        if (words.length < k) Nil
        else words.sliding(k).map(_.mkString(" ")).toList
      got == expect
    }

  property("sampling buckets stay in [0, 9973) for negative and huge keys") =
    forAll(Gen.chooseNum(Long.MinValue / 3, Long.MaxValue / 3)) { key =>
      val s = spark
      import s.implicits._
      val b = Seq(key).toDF("k")
        .select(graft.llm.Sampling.bucket(col("k"), seed = 7L).as("b"))
        .head().getLong(0)
      b >= 0L && b < graft.llm.Sampling.Buckets
    }

  private val eventGen: Gen[List[(Long, Double, String)]] =
    Gen.listOfN(60, Gen.zip(Gen.chooseNum(0L, 7L),
      Gen.chooseNum(0, 50).map(_.toDouble), Gen.oneOf("a", "b", "c")))

  property("funnel stage equals the sequential greedy replay") =
    forAll(eventGen) { rows =>
      val s = spark
      import s.implicits._
      val steps = Seq("a", "b", "c")
      val got = graft.operators.Funnel
        .funnelStages(rows.toDF("u", "t", "e"), "u", "t", "e", steps)
        .collect().map(r => r.getString(0).toLong -> r.getLong(1)).toMap
      val want = rows.groupBy(_._1).flatMap { case (u, es) =>
        var stage = 0
        var tPrev = Double.NegativeInfinity
        for ((_, t, e) <- es.sortBy(x => (x._2, x._3)) if stage < 3)
          if (e == steps(stage) && (stage == 0 || t > tPrev)) {
            tPrev = t; stage += 1
          }
        if (stage == 0) None else Some(u -> stage.toLong)
      }
      got == want
    }

  property("token-budget mix nests: a bigger budget picks a superset") =
    forAll(Gen.chooseNum(50L, 400L), Gen.chooseNum(1, 3)) { (budget, mult) =>
      val s = spark
      import s.implicits._
      val docs = (0L until 40L)
        .map(i => (i, if (i % 2 == 0) "x" else "y",
          Seq.fill(3 + (i % 5).toInt)("tok").mkString(" ")))
        .toDF("doc_id", "source", "text")
      def pick(b: Long) = graft.llm.Sampling
        .tokenBudgetMix(docs, "doc_id", "source", "text", b,
          Map("x" -> 2.0, "y" -> 1.0))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      pick(budget).subsetOf(pick(budget * mult))
    }
}
