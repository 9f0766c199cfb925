package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

/** Property tests (SURVEY §5.4): structural invariants of the operator
  * library under ScalaCheck-generated inputs (sampled with fixed seeds —
  * the offline cache has no scalatest-scalacheck bridge, so sampling is
  * driven directly).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val teamRows = Gen.listOfN(12,
    Gen.zip(Gen.oneOf("A", "B", "C", "D", "E"), Gen.chooseNum(0L, 100L)))

  test("inner join row count ≤ min input count under key uniqueness") {
    for ((l, r) <- samples(Gen.zip(teamRows, teamRows), 10)) {
      val ld = l.distinctBy(_._1).toDF("Team", "x")
      val rd = r.distinctBy(_._1).toDF("Team", "y")
      val n = ld.join(rd, Seq("Team"), "inner").count()
      assert(n <= math.min(ld.count(), rd.count()))
    }
  }

  test("derived metric is NULL iff denominator is zero (nullif semantics)") {
    for (rows <- samples(teamRows, 10)) {
      val df = rows.zipWithIndex.map { case ((t, v), i) => (i.toLong, t, v) }
        .toDF("id", "Team", "denom")
        .withColumn("m", expr("100 / nullif(denom, 0)"))
      val got = df.select(col("denom"), col("m").isNull).as[(Long, Boolean)].collect()
      got.foreach { case (d, isNull) => assert(isNull == (d == 0L)) }
    }
  }

  test("partitionBy write round-trip preserves the row multiset") {
    for (rows <- samples(teamRows, 5)) {
      val out = java.nio.file.Files.createTempDirectory("prop-rt").toString
      val df = rows.zipWithIndex.map { case ((t, v), i) => (i.toLong, t, v) }
        .toDF("id", "team", "v")
      df.write.partitionBy("team").mode("overwrite").parquet(out)
      val back = spark.read.parquet(out).select("id", "team", "v")
      assert(back.as[(Long, String, Long)].collect().sorted.toSeq ==
        df.as[(Long, String, Long)].collect().sorted.toSeq)
    }
  }

  test("decimal-sum determinism: any repartitioning gives identical doubles") {
    for (xs <- samples(Gen.listOfN(50, Gen.chooseNum(-1e6, 1e6)), 10)) {
      val df = xs.toDF("x")
      def s(parts: Int) = df.repartition(parts)
        .agg(graft.ops.Det.dsum(col("x"))).as[Double].collect()(0)
      assert(s(1) == s(7))
    }
  }

  test("momentStats invariants: var ≥ 0, |corr| ≤ 1, corr(x,x) = 1") {
    val pairGen = Gen.listOfN(20,
      Gen.zip(Gen.chooseNum(-1e3, 1e3), Gen.chooseNum(-1e3, 1e3)))
    for (rows <- samples(pairGen, 5) if rows.map(_._1).distinct.size > 1) {
      val df = rows.map { case (x, y) => ("g", x, y) }.toDF("k", "x", "y")
      val r = graft.ops.StatsOps.momentStats(df, col("k"), col("x"), col("y"))
        .collect().head
      assert(r.getAs[Double]("var_x") >= 0.0)
      assert(math.abs(r.getAs[Double]("corr_xy")) <= 1.0 + 1e-12)
      val self = graft.ops.StatsOps.momentStats(df, col("k"), col("x"), col("x"))
        .collect().head
      assert(math.abs(self.getAs[Double]("corr_xy") - 1.0) < 1e-9)
    }
  }

  test("cluster reps: rep ≤ every member, reps are members, idempotent under relabel") {
    val docs = graft.catalog.Catalog.load(spark, "/root/testdata/sf0.001", "documents")
    val m = graft.ops.DedupOps.dedupClusters(docs).as[(Long, Long)].collect().toMap
    m.foreach { case (doc, rep) => assert(rep <= doc && m(rep) == rep) }
  }

  test("approx_percentile lands within 2% rank error of the exact percentiles") {
    val sf = "/root/testdata/sf0.001"
    val apx = graft.queries.AnalyticsQueries.approxQuantiles(spark, sf)
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val exact = graft.queries.AnalyticsQueries.percentilePack(spark, sf)
      .select("o_orderpriority", "median", "p90")
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    for ((k, (m, p90)) <- exact) {
      assert(math.abs(apx(k)._1 - m) / m < 0.05, s"$k p50 ${apx(k)._1} vs $m")
      assert(math.abs(apx(k)._2 - p90) / p90 < 0.05, s"$k p90 ${apx(k)._2} vs $p90")
    }
  }

  test("chunking reconstructs the document: drop each chunk's overlap, concat") {
    val docGen = Gen.listOfN(8, Gen.zip(Gen.chooseNum(1, 90),
      Gen.chooseNum(2, 12), Gen.chooseNum(0, 6)))
    for (cases <- samples(docGen, 5); (nTok, size0, ov0) <- cases) {
      val size = math.max(size0, ov0 + 1)
      val text = (1 to nTok).map(i => s"w$i").mkString(" ")
      val chunks = graft.ops.TextOps.chunked(
          Seq((1L, text)).toDF("doc_id", "text"), size, math.min(ov0, size - 1))
        .orderBy("chunk_idx").as[(Long, Long, String, Long)].collect()
      val overlap = math.min(ov0, size - 1)
      val stitched = chunks.zipWithIndex.map { case ((_, _, c, _), i) =>
        val toks = c.split(' ')
        (if (i == 0) toks else toks.drop(overlap)).mkString(" ")
      }.filter(_.nonEmpty).mkString(" ")
      assert(stitched == text, s"n=$nTok size=$size ov=$overlap")
      // chunks never exceed the window; the first is as full as the doc allows
      chunks.foreach { case (_, _, _, n) => assert(n >= 1 && n <= size) }
      assert(chunks.head._4 == math.min(size, nTok))
    }
  }

  test("capHotKeys: survivors keep df ≤ cap; survivors are exactly the cold keys") {
    val postGen = Gen.listOfN(60,
      Gen.zip(Gen.chooseNum(1L, 20L), Gen.chooseNum(1L, 8L)))
    for (rows <- samples(postGen, 5)) {
      val p = rows.distinct.toDF("doc_id", "sh_h")
      val cap = 3L
      val kept = graft.ops.DedupOps.capHotKeys(p, Seq("sh_h"), cap)
        .as[(Long, Long)].collect().toSet
      val dfByKey = rows.distinct.groupBy(_._2).view.mapValues(_.size.toLong)
      kept.foreach { case (_, k) => assert(dfByKey(k) <= cap) }
      val expected = rows.distinct.filter(r => dfByKey(r._2) <= cap).toSet
      assert(kept == expected)
    }
  }

  test("pageRank conserves total rank on symmetric graphs (no dangling mass)") {
    // every node has out-edges, so Σ pr_{t+1} = 0.15·N + 0.85·Σ pr_t; with
    // pr₀ = 1 the total stays N at every round (up to decimal rounding)
    val edgeGen = Gen.listOfN(15, Gen.zip(Gen.chooseNum(1L, 8L), Gen.chooseNum(1L, 8L)))
    for (es <- samples(edgeGen, 4)) {
      val asym = es.filter(e => e._1 != e._2)
      if (asym.nonEmpty) {
        val sym = (asym ++ asym.map(_.swap)).distinct
        val edges = sym.toDF("u", "v")
        val pr = graft.ops.GraphOps.pageRank(edges, iters = 3)
          .as[(Long, Double)].collect()
        val n = sym.flatMap(e => Seq(e._1, e._2)).distinct.size
        assert(math.abs(pr.map(_._2).sum - n) < 1e-3)
        assert(pr.forall(_._2 >= 0.15))
      }
    }
  }

  test("packSequences invariants: offsets in [0,budget), first bin 0, " +
    "bin*budget+offset reconstructs each doc's exact start token") {
    val gen = Gen.listOfN(20, Gen.zip(Gen.chooseNum(1, 15), Gen.oneOf("g1", "g2")))
    for ((docs, budget) <- samples(Gen.zip(gen, Gen.chooseNum(4L, 12L)), 8)) {
      val df = docs.zipWithIndex.map { case ((len, g), i) =>
        (i.toLong, Seq.fill(len)("t").mkString(" "), g)
      }.toDF("doc_id", "text", "lang")
      val out = graft.ops.TextOps.packSequences(df, budget)
        .as[(Long, String, Long, Long, Long)].collect()
      assert(out.forall(r => r._5 >= 0 && r._5 < budget)) // offset in range
      for ((_, rows) <- out.groupBy(_._2)) {
        val sorted = rows.sortBy(_._1)
        assert(sorted.head._4 == 0L) // first doc opens bin 0
        // bin ids never decrease in doc order (a doc longer than the
        // budget legitimately SKIPS bins — its overflow fills them)
        assert(sorted.map(_._4).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
        // conservation: bin·budget + offset is each doc's exact start token
        val starts = sorted.map(r => r._4 * budget + r._5).toSeq
        assert(starts == sorted.map(_._3).scanLeft(0L)(_ + _).init.toSeq)
      }
    }
  }

  test("stratifiedSample: exact per-stratum quota for any fraction") {
    val gen = Gen.zip(Gen.chooseNum(1, 40), Gen.chooseNum(1, 40),
      Gen.chooseNum(0.05, 0.95))
    for ((na, nb, frac) <- samples(gen, 8)) {
      val df = ((0 until na).map(i => (i.toLong, "a")) ++
        (0 until nb).map(i => (1000L + i, "b"))).toDF("doc_id", "lang")
      val got = graft.ops.StatsOps.stratifiedSample(
          df, col("doc_id"), col("lang"), frac)
        .groupBy(col("stratum")).count().as[(String, Long)].collect().toMap
      assert(got("a") == math.ceil(na * frac).toLong)
      assert(got("b") == math.ceil(nb * frac).toLong)
    }
  }

  test("stratifiedSample: hash-derived huge and negative ids sample " +
    "without ANSI overflow") {
    // |id| ≳ 3.5e9 overflowed the old id*2654435761 key under ANSI mode
    val df = Seq(Long.MaxValue, Long.MinValue + 1, -4000000000L, 4000000000L,
        0L, 7L)
      .map(id => (id, "a")).toDF("doc_id", "lang")
    val got = graft.ops.StatsOps.stratifiedSample(
        df, col("doc_id"), col("lang"), frac = 0.5)
      .as[(Long, String, Long)].collect()
    assert(got.length == 3) // ceil(6 * 0.5)
  }

  test("trianglesPerNode: degree-oriented counts == brute-force a<b<c " +
    "enumeration on random graphs") {
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.chooseNum(0L, 11L), Gen.chooseNum(0L, 11L)))
    for (raw <- samples(edgeGen, 8)) {
      val edges = raw.collect { case (x, y) if x != y =>
        (math.min(x, y), math.max(x, y)) }.distinct
      if (edges.nonEmpty) {
        val eset = edges.toSet
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val brute = (for {
          a <- nodes; b <- nodes if a < b && eset((a, b))
          c <- nodes if b < c && eset((b, c)) && eset((a, c))
        } yield Seq(a, b, c)).flatten
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val got = graft.ops.GraphOps.trianglesPerNode(edges.toDF("a", "b"))
          .as[(Long, Long)].collect().toMap
        assert(got == brute, s"edges=$edges")
      }
    }
  }

  test("mixtureSample: quotas apportion the budget exactly and each " +
    "stratum draws min(quota, available)") {
    val gen = Gen.zip(Gen.chooseNum(1, 30), Gen.chooseNum(1, 30),
      Gen.chooseNum(1, 30), Gen.chooseNum(5L, 40L))
    for ((na, nb, nc, budget) <- samples(gen, 8)) {
      val docs = ((0 until na).map(i => (i.toLong, "a", 1L)) ++
        (0 until nb).map(i => (100L + i, "b", 2L)) ++
        (0 until nc).map(i => (200L + i, "c", 3L)))
        .toDF("doc_id", "src", "w")
      val got = graft.ops.StatsOps.mixtureSample(
          docs, col("doc_id"), col("src"), col("w"), budget)
        .as[(Long, String, Long, Long)].collect()
      // expected Hamilton apportionment, computed independently
      val ws = Map("a" -> 1L, "b" -> 2L, "c" -> 3L)
      val tot = ws.values.sum
      val base = ws.view.mapValues(w => budget * w / tot).toMap
      val leftover = (budget - base.values.sum).toInt
      val bonus = ws.keys.toSeq
        .sortBy(s => (-(budget * ws(s) % tot), s)).take(leftover).toSet
      val expQuota = ws.keys.map(s =>
        s -> (base(s) + (if (bonus(s)) 1L else 0L))).toMap
      assert(expQuota.values.sum == budget)
      val avail = Map("a" -> na.toLong, "b" -> nb.toLong, "c" -> nc.toLong)
      // the op's reported quota matches, and each stratum draws
      // min(quota, available)
      got.groupBy(_._2).foreach { case (s, rows) =>
        assert(rows.head._3 == expQuota(s), s"quota for $s")
        assert(rows.length.toLong == math.min(expQuota(s), avail(s)),
          s"draw for $s")
      }
      // a stratum absent from the draw must have quota 0 or no docs
      (ws.keySet -- got.map(_._2).toSet).foreach { s =>
        assert(expQuota(s) == 0L || avail(s) == 0L, s"missing stratum $s")
      }
    }
  }

  test("skyline2d == NOT EXISTS dominance brute force on random points") {
    val gen = Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(1, 8), Gen.chooseNum(1, 8)))
    for (pts <- samples(gen, 8)) {
      val rows = pts.zipWithIndex.map { case ((s, c), i) =>
        (i.toLong, s, c.toDouble) }
      val brute = rows.filter { p =>
        !rows.exists(q => q._2 >= p._2 && q._3 <= p._3 &&
          (q._2 > p._2 || q._3 < p._3))
      }.map(_._1).toSet
      val got = graft.ops.StatsOps.skyline2d(
          rows.toDF("id", "sz", "cost"), col("id"), col("sz"), col("cost"))
        .as[(Long, Int, Double)].collect().map(_._1).toSet
      assert(got == brute)
    }
  }

  test("mergeAggregates: incremental refresh over any batch split == " +
    "one-shot aggregate") {
    import graft.pipelines.Incremental.mergeAggregates
    val gen = Gen.listOfN(30, Gen.zip(Gen.oneOf("a", "b", "c", "d"),
      Gen.chooseNum(-50L, 50L)))
    def aggOf(rows: Seq[(String, Long)]) =
      rows.toDF("k", "x").groupBy($"k")
        .agg(sum($"x").as("sx"), count(lit(1)).as("cnt"))
    for ((rows, cut) <- samples(Gen.zip(gen, Gen.chooseNum(0, 30)), 8)) {
      val (b1, b2) = rows.splitAt(cut)
      val full = aggOf(rows).as[(String, Long, Long)].collect().toSet
      val incr = mergeAggregates(aggOf(b1), aggOf(b2),
          Seq("k"), Seq("sx"), "cnt")
        .as[(String, Long, Long)].collect().toSet
      // empty batches union cleanly; groups only in one batch pass through
      assert(incr == full, s"cut=$cut")
    }
  }

  test("corpusClean output is a subset of documents with no duplicate texts") {
    val docs = graft.catalog.Catalog.load(spark, "/root/testdata/sf0.001", "documents")
    val kept = graft.ops.DedupOps.corpusClean(docs, 0.38).select("doc_id").as[Long].collect().toSet
    val texts = docs.filter(col("doc_id").isInCollection(kept))
      .select("text").as[String].collect()
    assert(texts.length == texts.distinct.length) // exact dups removed
    assert(kept.subsetOf(docs.select("doc_id").as[Long].collect().toSet))
  }
}
