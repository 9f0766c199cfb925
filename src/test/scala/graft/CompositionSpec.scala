package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the round-14 composition queries — the
  * properties a hash-match alone would not protect during a refactor:
  * funnel monotonicity (q523), quota conservation and admission bounds
  * (q524), grade/point consistency (q525), trailing-median definition
  * (q526), token conservation across the dedup split (q527), and the
  * context pack's contiguous score-ordered prefix + query-term
  * soundness (q528). All on the sf0.001 fixture.
  */
class CompositionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(name: String) =
    Registry.byName(name).build(spark, dir).collect()

  test("q523 funnel: stages monotone non-increasing, docs_in covers the " +
    "corpus, kept tokens only from kept docs") {
    val rs = rows("q523_curation_funnel")
    assert(rs.nonEmpty)
    rs.foreach { r =>
      val in = r.getAs[Long]("docs_in")
      val lo = r.getAs[Long]("n_lang_ok")
      val qo = r.getAs[Long]("n_quality_ok")
      val k = r.getAs[Long]("n_kept")
      assert(in >= lo && lo >= qo && qo >= k && k >= 0, r.toString)
      if (k == 0)
        assert(r.getAs[Long]("tokens_kept") == 0L, r.toString)
    }
    val total = rs.map(_.getAs[Long]("docs_in")).sum
    val corpus = graft.catalog.Catalog.load(spark, dir, "documents").count()
    assert(total == corpus, s"funnel docs_in $total != corpus $corpus")
  }

  test("q524 mixture: quotas conserve the token budget exactly, " +
    "admission never exceeds quota, short strata under-fill honestly") {
    val rs = rows("q524_token_budgeted_mixture")
    assert(rs.nonEmpty)
    val budget = 8000L
    assert(rs.map(_.getAs[Long]("quota_tokens")).sum == budget,
      "largest-remainder quotas must sum exactly to the budget")
    rs.foreach { r =>
      assert(r.getAs[Long]("tokens_taken") <= r.getAs[Long]("quota_tokens"),
        s"admission overshot quota: $r")
      assert(r.getAs[Long]("docs_taken") >= 0 && r.getAs[Long]("w") > 0,
        r.toString)
    }
  }

  test("q525 scorecard: points in [0,3] and grade consistent with points") {
    val rs = rows("q525_supplier_risk_scorecard")
    assert(rs.nonEmpty)
    val gradeOf = Map(3 -> "high", 2 -> "elevated", 1 -> "watch", 0 -> "low")
    rs.foreach { r =>
      val p = r.getAs[Int]("risk_points")
      assert(p >= 0 && p <= 3, r.toString)
      assert(r.getAs[String]("grade") == gradeOf(p), r.toString)
      assert(r.getAs[Double]("ret_rate") >= 0.0 &&
        r.getAs[Double]("ret_rate") <= 1.0, r.toString)
    }
  }

  test("q526 drilldown: med7 is the exact 4th order statistic of the " +
    "trailing 7 full days, share bounded, spike flag matches the rule") {
    val rs = rows("q526_anomaly_drilldown")
    assert(rs.nonEmpty)
    // recompute the spine independently of the query under test
    import org.apache.spark.sql.functions._
    val spine = graft.catalog.Catalog.load(spark, dir, "events")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(graft.ops.Det.dsum(col("value")).as("t"))
      .collect().map(r => r.getAs[Long]("day") -> r.getAs[Double]("t"))
      .toMap
    rs.foreach { r =>
      val d = r.getAs[Long]("day")
      val prior = (d - 7 to d - 1).flatMap(spine.get).sorted
      assert(prior.size == 7, s"day $d lacks 7 trailing days in output")
      assert(r.getAs[Double]("med7") == prior(3),
        s"med7 not the 4th order stat: $r")
      assert(r.getAs[Boolean]("is_spike") ==
        (r.getAs[Double]("total") > prior(3) * 2), r.toString)
      assert(r.getAs[Double]("top_share") > 0.0 &&
        r.getAs[Double]("top_share") <= 1.0 + 1e-12, r.toString)
      // the query's daily total must match the independent spine
      assert(r.getAs[Double]("total") == spine(d), r.toString)
    }
  }

  test("q527 liability: token sums conserve the corpus, kept <= raw, " +
    "ppm within range") {
    val rs = rows("q527_dedup_token_liability")
    assert(rs.nonEmpty)
    rs.foreach { r =>
      assert(r.getAs[Long]("tokens_kept") <= r.getAs[Long]("tokens_raw"),
        r.toString)
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"), r.toString)
      val ppm = r.getAs[Long]("savings_ppm")
      assert(ppm >= 0 && ppm <= 1000000L, r.toString)
    }
    import org.apache.spark.sql.functions._
    val corpusTokens = graft.ops.TextOps
      .qualityScored(graft.catalog.Catalog.load(spark, dir, "documents"))
      .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    assert(rs.map(_.getAs[Long]("tokens_raw")).sum == corpusTokens,
      "decile token sums must partition the corpus token mass")
  }

  test("q528 context pack: admitted set is a contiguous score-ordered " +
    "prefix under the budget, and every admitted chunk really contains " +
    "a query term") {
    val rs = rows("q528_rag_context_pack").sortBy(_.getAs[Long]("rank"))
    assert(rs.nonEmpty)
    // contiguous prefix: ranks 1..n, cum = exact running token sum <= 256
    rs.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("rank") == i + 1, r.toString)
    }
    val cums = rs.scanLeft(0L)(_ + _.getAs[Long]("n_chunk_tokens")).tail
    rs.zip(cums).foreach { case (r, c) =>
      assert(r.getAs[Long]("cum_tokens") == c, r.toString)
      assert(c <= 256L, r.toString)
    }
    // scores non-increasing down the ranking
    rs.toSeq.sliding(2).foreach { w =>
      if (w.size == 2)
        assert(w(0).getAs[Double]("score") >= w(1).getAs[Double]("score"),
          s"${w(0)} then ${w(1)}")
    }
    // soundness: admitted chunks contain at least one query term
    // (independently recomputed chunk frame)
    import org.apache.spark.sql.functions._
    val terms = Set("join", "vector", "scan")
    val chunkText = graft.ops.TextOps
      .chunked(graft.catalog.Catalog.load(spark, dir, "documents"),
        size = 32, overlap = 8)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx")) ->
        r.getAs[String]("chunk_text")).toMap
    rs.foreach { r =>
      val key = (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"))
      val text = chunkText.getOrElse(key,
        fail(s"admitted chunk $key not in the chunk frame"))
      assert(text.split(" ", -1).exists(terms), s"no query term in $key")
    }
  }

  test("q529 manifest: per-language admission is an exact in-order " +
    "prefix under quota, packing cursor is the running sum, pack " +
    "coordinates consistent, admitted docs are dedup-kept quality " +
    "survivors") {
    val rs = rows("q529_training_mixture_manifest")
    assert(rs.nonEmpty)
    val pack = 512L
    rs.groupBy(_.getAs[String]("lang")).foreach { case (lang, lrs0) =>
      val lrs = lrs0.sortBy(_.getAs[Long]("cum_in_lang"))
      val quota = lrs.head.getAs[Long]("quota_tokens")
      // one quota per language; cum is the exact running sum of the
      // admitted docs (the prefix property), never exceeding it
      var cum = 0L
      lrs.foreach { r =>
        assert(r.getAs[Long]("quota_tokens") == quota, r.toString)
        cum += r.getAs[Long]("n_tokens")
        assert(r.getAs[Long]("cum_in_lang") == cum,
          s"$lang cursor broken: $r (expected $cum)")
        assert(cum <= quota, s"$lang overshot quota: $r")
        val before = cum - r.getAs[Long]("n_tokens")
        assert(r.getAs[Long]("pack_id") == before / pack, r.toString)
        assert(r.getAs[Long]("pack_offset") == before % pack, r.toString)
      }
      // pack ids are a non-decreasing sequence starting at 0
      assert(lrs.head.getAs[Long]("pack_id") == 0L, lrs.head.toString)
    }
    // admitted docs are their component's min-id QUALITY survivor —
    // recomputed independently of the query under test
    import org.apache.spark.sql.functions._
    val d = graft.catalog.Catalog.load(spark, dir, "documents")
    val q = graft.ops.TextOps.qualityScored(d)
      .select(col("doc_id"), col("quality")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    val clus = graft.ops.DedupOps.dedupClusters(d, n = 5, threshold = 0.5)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep"))
      .toMap
    val survivors = clus.keySet.filter(id => q.get(id).exists(_ >= 0.35))
    val repOf = survivors.groupBy(clus).map { case (c, ids) => c -> ids.min }
    rs.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(survivors(id), s"admitted non-survivor $id")
      assert(repOf(clus(id)) == id, s"admitted non-rep $id of ${clus(id)}")
    }
  }

  test("q530 freshness SLO: one row per query, recall = hits/k, new " +
    "docs can never be stale hits, diff counts match the version " +
    "arithmetic ground truth") {
    val rs = rows("q530_index_freshness_slo")
    import org.apache.spark.sql.functions._
    val emb = graft.catalog.Catalog.load(spark, dir, "embeddings")
    val nq = 8L
    assert(rs.map(_.getAs[Long]("query_id")).sorted.toSeq ==
      (0L until nq), "one row per query vector")
    val k = 5L
    rs.foreach { r =>
      val hits = r.getAs[Long]("stale_hits")
      val newDocs = r.getAs[Long]("new_doc_hits")
      assert(hits >= 0 && hits <= k, r.toString)
      assert(r.getAs[Double]("freshness_recall") == hits.toDouble / k,
        r.toString)
      // an inserted doc is absent from v0, so it can occupy only the
      // fresh-topk slots the stale set missed
      assert(newDocs >= 0 && newDocs <= k - hits, r.toString)
    }
    // diff counts: recomputed from the version-defining arithmetic
    val added = emb.filter(col("vec_id") >= nq && col("vec_id") % 3 === 1)
      .count()
    val removed = emb.filter(col("vec_id") >= nq && col("vec_id") % 15 === 0)
      .count()
    rs.foreach { r =>
      assert(r.getAs[Long]("n_added") == added, r.toString)
      assert(r.getAs[Long]("n_removed") == removed, r.toString)
    }
  }

  test("q531 release gates: every declared gate reports exactly once, " +
    "ppm values in range, pass verdict matches the arithmetic, and the " +
    "near-dup/contamination legs match independent recomputes") {
    val rs = rows("q531_release_gate_report")
    val expected = Set("contamination_docs", "exact_dup_ppm",
      "langid_mismatch_ppm", "near_dup_removed_ppm", "pii_ppm",
      "undersized_ppm")
    assert(rs.map(_.getAs[String]("gate")).toSet == expected)
    assert(rs.length == expected.size, "one row per gate")
    rs.foreach { r =>
      val v = r.getAs[Long]("value")
      assert(v >= 0, r.toString)
      if (r.getAs[String]("gate").endsWith("_ppm"))
        assert(v <= 1000000L, r.toString)
      assert(r.getAs[Boolean]("pass") == (v <= r.getAs[Long]("threshold")),
        r.toString)
    }
    // independent recomputes of the two machinery-heavy legs
    import org.apache.spark.sql.functions._
    val d = graft.catalog.Catalog.load(spark, dir, "documents")
    val nDocs = d.count()
    val nearDup = graft.ops.DedupOps.dedupClusters(d, n = 5, threshold = 0.5)
      .filter(col("doc_id") =!= col("cluster_rep")).count()
    val byGate = rs.map(r => r.getAs[String]("gate") -> r).toMap
    assert(byGate("near_dup_removed_ppm").getAs[Long]("value") ==
      nearDup * 1000000L / nDocs)
    val contam = graft.ops.DedupOps.contamination(
        d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"))
      .select(col("doc_id")).distinct().count()
    assert(byGate("contamination_docs").getAs[Long]("value") == contam)
  }

  test("q532 refresh audit: every gate reports once, trend gates are 0 " +
    "at v0, verdicts match the arithmetic, and the version doc counts " +
    "implied by the rejection gate match an independent republish") {
    val rs = rows("q532_corpus_refresh_audit")
    val expected = Set("batch_rejection_ppm", "lang_mix_drift_ppm",
      "pii_ppm", "quality_below_bar_ppm", "residual_exact_dup_ppm",
      "undersized_ppm")
    assert(rs.map(_.getAs[String]("gate")).toSet == expected)
    assert(rs.length == expected.size, "one row per gate")
    rs.foreach { r =>
      Seq("v0_value", "v1_value").foreach { c =>
        val v = r.getAs[Long](c)
        assert(v >= 0 && v <= 1000000L, s"$c out of ppm range: $r")
      }
      assert(r.getAs[Boolean]("v0_pass") ==
        (r.getAs[Long]("v0_value") <= r.getAs[Long]("threshold")), r.toString)
      assert(r.getAs[Boolean]("v1_pass") ==
        (r.getAs[Long]("v1_value") <= r.getAs[Long]("threshold")), r.toString)
    }
    val byGate = rs.map(r => r.getAs[String]("gate") -> r).toMap
    // the version-pair gates measure the refresh — 0 at v0 by definition
    assert(byGate("batch_rejection_ppm").getAs[Long]("v0_value") == 0L)
    assert(byGate("lang_mix_drift_ppm").getAs[Long]("v0_value") == 0L)
    // the post-dedup corpus must be exact-dup-free and quality-gated at
    // BOTH versions — the gates that audit the incremental admission
    assert(byGate("residual_exact_dup_ppm").getAs[Long]("v1_value") == 0L)
    assert(byGate("quality_below_bar_ppm").getAs[Long]("v1_value") == 0L)
    // independent recompute: admission ≡ republish (the q447 equality),
    // so the admitted-count the rejection gate encodes must match the
    // published rows of a full publish of each doc subset
    import org.apache.spark.sql.functions._
    import graft.pipelines.{CorpusPublisher, Versioned}
    val d = graft.catalog.Catalog.load(spark, dir, "documents")
    val n = d.count()
    val cut = n * 4 / 5
    def publishedRows(docs: org.apache.spark.sql.DataFrame): Long = {
      val base = java.nio.file.Files.createTempDirectory("q447_").toString
      CorpusPublisher.publish(docs, base)
      val snap = Versioned.readGroup(spark, base)
      Seq(CorpusPublisher.TrainTable, CorpusPublisher.ValTable,
        CorpusPublisher.TestTable).map(snap(_).count()).sum
    }
    val na = publishedRows(d.filter(col("doc_id") < cut))
    val nb = publishedRows(d)
    val batch = n - cut
    assert(byGate("batch_rejection_ppm").getAs[Long]("v1_value") ==
      (batch - (nb - na)) * 1000000L / batch)
  }

  test("q533 serving scorecard: one row per version, diffs match the " +
    "slice arithmetic, the latest version serves itself perfectly with " +
    "no stale residents, and SLO verdicts match the recall arithmetic") {
    val rs = rows("q533_serving_scorecard")
    assert(rs.map(_.getAs[Long]("version")).toSeq == Seq(0L, 1L, 2L))
    val byV = rs.map(r => r.getAs[Long]("version") -> r).toMap
    import org.apache.spark.sql.functions._
    val emb = graft.catalog.Catalog.load(spark, dir, "embeddings")
    val nq = 8L
    val v0n = emb.filter(col("vec_id") < nq || col("vec_id") % 3 === 0)
      .count()
    val adds = emb.filter(col("vec_id") >= nq && col("vec_id") % 3 === 1)
      .count()
    val vict = emb.filter(col("vec_id") >= nq && col("vec_id") % 12 === 0)
      .count()
    assert(byV(0L).getAs[Long]("n_vecs") == v0n)
    assert(byV(0L).getAs[Long]("n_added") == v0n)
    assert(byV(0L).getAs[Long]("n_removed") == 0L)
    assert(byV(0L).getAs[Long]("stale_resident") == vict)
    assert(byV(1L).getAs[Long]("n_vecs") == v0n + adds)
    assert(byV(1L).getAs[Long]("n_added") == adds)
    assert(byV(1L).getAs[Long]("n_removed") == 0L)
    assert(byV(1L).getAs[Long]("stale_resident") == vict)
    assert(byV(2L).getAs[Long]("n_vecs") == v0n + adds - vict)
    assert(byV(2L).getAs[Long]("n_added") == 0L)
    assert(byV(2L).getAs[Long]("n_removed") == vict)
    // erasure-audit dimension: nothing stale survives the delete
    assert(byV(2L).getAs[Long]("stale_resident") == 0L)
    // the yardstick version trivially serves its own top-k
    assert(byV(2L).getAs[Long]("serving_recall_ppm") == 1000000L)
    rs.foreach { r =>
      val ppm = r.getAs[Long]("serving_recall_ppm")
      assert(ppm >= 0 && ppm <= 1000000L, r.toString)
      assert(r.getAs[Boolean]("slo_pass") == (ppm >= 900000L), r.toString)
    }
  }

  test("q534 threshold sweep: tightening the cut is monotone (pairs, " +
    "removals non-increasing; clusters non-decreasing), clusters + " +
    "removals conserve the corpus, and the 0.5 point matches the " +
    "standalone dedup machinery") {
    val rs = rows("q534_dedup_threshold_sweep")
      .sortBy(_.getAs[Double]("threshold"))
    assert(rs.map(_.getAs[Double]("threshold")).toSeq ==
      Seq(0.3, 0.5, 0.7, 0.9))
    val corpus = graft.catalog.Catalog.load(spark, dir, "documents").count()
    rs.foreach { r =>
      assert(r.getAs[Long]("n_clusters") + r.getAs[Long]("docs_removed")
        == corpus, s"clusters+removed must conserve the corpus: $r")
      val ppm = r.getAs[Long]("removed_ppm")
      assert(ppm >= 0 && ppm <= 1000000L, r.toString)
    }
    rs.toSeq.sliding(2).foreach { case Seq(lo, hi) =>
      assert(lo.getAs[Long]("n_pairs") >= hi.getAs[Long]("n_pairs"),
        s"pairs must not grow with the threshold: $lo vs $hi")
      assert(lo.getAs[Long]("docs_removed") >= hi.getAs[Long]("docs_removed"),
        s"removals must not grow with the threshold: $lo vs $hi")
      assert(lo.getAs[Long]("n_clusters") <= hi.getAs[Long]("n_clusters"),
        s"clusters must not shrink with the threshold: $lo vs $hi")
      assert(lo.getAs[Long]("tokens_removed") >=
        hi.getAs[Long]("tokens_removed"), s"$lo vs $hi")
    }
    // the 0.5 policy point must agree with the independently-built
    // cluster machinery (q65's path)
    import org.apache.spark.sql.functions._
    val d = graft.catalog.Catalog.load(spark, dir, "documents")
    val removed05 = graft.ops.DedupOps.dedupClusters(d, n = 5, threshold = 0.5)
      .filter(col("doc_id") =!= col("cluster_rep")).count()
    val at05 = rs.find(_.getAs[Double]("threshold") == 0.5).get
    assert(at05.getAs[Long]("docs_removed") == removed05)
  }

  test("q535 calibration: deciles partition the scored corpus into " +
    "ascending non-overlapping quality bands, ppm values in range") {
    val rs = rows("q535_quality_calibration")
      .sortBy(_.getAs[Int]("decile"))
    assert(rs.map(_.getAs[Int]("decile")).toSeq == (1 to 10))
    val scored = graft.ops.TextOps.qualityScored(
      graft.catalog.Catalog.load(spark, dir, "documents")).count()
    assert(rs.map(_.getAs[Long]("n_docs")).sum == scored,
      "deciles must partition the scored corpus")
    rs.foreach { r =>
      assert(r.getAs[Double]("q_lo") <= r.getAs[Double]("q_hi"), r.toString)
      Seq("dup_ppm", "lang_agree_ppm", "undersized_ppm").foreach { c =>
        val v = r.getAs[Long](c)
        assert(v >= 0 && v <= 1000000L, s"$c out of range: $r")
      }
    }
    rs.toSeq.sliding(2).foreach { case Seq(lo, hi) =>
      // NTILE may split a quality tie across adjacent deciles, so bands
      // may TOUCH at one shared value — but never overlap past it
      assert(lo.getAs[Double]("q_hi") <= hi.getAs[Double]("q_lo"),
        s"decile bands overlap: $lo vs $hi")
    }
  }

  test("q536 leakage audit: the cluster-safe policy leaks NOTHING (the " +
    "property q100 exists for), counts internally consistent, and the " +
    "eval side matches the standalone split machinery") {
    val rs = rows("q536_split_leakage_audit")
    assert(rs.map(_.getAs[String]("policy")).toSeq ==
      Seq("cluster_safe", "naive"))
    val byP = rs.map(r => r.getAs[String]("policy") -> r).toMap
    val safe = byP("cluster_safe")
    assert(safe.getAs[Long]("n_cross_pairs") == 0L, safe.toString)
    assert(safe.getAs[Long]("n_eval_contam") == 0L, safe.toString)
    assert(safe.getAs[Long]("tokens_at_risk") == 0L, safe.toString)
    rs.foreach { r =>
      val ev = r.getAs[Long]("n_eval_docs")
      val ec = r.getAs[Long]("n_eval_contam")
      assert(ec >= 0 && ec <= ev, r.toString)
      if (ev > 0)
        assert(r.getAs[Long]("eval_contam_ppm") == ec * 1000000L / ev,
          r.toString)
      if (ec == 0) assert(r.getAs[Long]("tokens_at_risk") == 0L, r.toString)
    }
    // the audit's cluster_safe eval population must equal what q100's
    // own splitter assigns to val/test
    import org.apache.spark.sql.functions._
    val q100Eval = graft.ops.DedupOps.leakageSafeSplits(
        graft.catalog.Catalog.load(spark, dir, "documents"))
      .filter(col("split").isin("val", "test")).count()
    assert(safe.getAs[Long]("n_eval_docs") == q100Eval)
  }

  test("q537 merge audit: classes partition the full component set, " +
    "batch docs conserve the 20% slice, class definitions hold " +
    "(new = all-batch, unchanged = no batch docs and no churn)") {
    val rs = rows("q537_cluster_merge_audit")
    assert(rs.nonEmpty)
    val classes = rs.map(_.getAs[String]("effect")).toSet
    assert(classes.subsetOf(
      Set("unchanged", "grown", "merged", "new", "split")), classes.toString)
    import org.apache.spark.sql.functions._
    val d = graft.catalog.Catalog.load(spark, dir, "documents")
    val n = d.count()
    val cut = n * 4 / 5
    assert(rs.map(_.getAs[Long]("n_docs")).sum == n,
      "classes must cover every document exactly once")
    assert(rs.map(_.getAs[Long]("n_batch_docs")).sum == n - cut,
      "batch docs across classes must equal the 20% slice")
    val fullClusters = graft.queries.CorpusFrames.clusters(spark, dir)
      .select(col("cluster_rep")).distinct().count()
    assert(rs.map(_.getAs[Long]("n_clusters")).sum == fullClusters,
      "class cluster counts must partition the full component set")
    rs.foreach { r =>
      r.getAs[String]("effect") match {
        case "new" =>
          assert(r.getAs[Long]("n_batch_docs") == r.getAs[Long]("n_docs"),
            s"a 'new' component must be all-batch: $r")
          assert(r.getAs[Long]("v0_rep_churn") == 0L, r.toString)
        case "unchanged" =>
          assert(r.getAs[Long]("n_batch_docs") == 0L, r.toString)
          assert(r.getAs[Long]("v0_rep_churn") == 0L,
            s"an unchanged component cannot churn reps: $r")
        case "grown" =>
          assert(r.getAs[Long]("n_batch_docs") > 0L, r.toString)
          // batch ids all exceed v0 ids, so growth alone never moves
          // the min-id representative (churn > 0 classes as 'split')
          assert(r.getAs[Long]("v0_rep_churn") == 0L, r.toString)
        case "merged" =>
          // a merge strands v0 docs under a new representative
          assert(r.getAs[Long]("n_docs") >= 2L, r.toString)
        case "split" =>
          // churn without a merge = df-cap fragmentation; inert on the
          // fixture (asserted so a fixture change that fires it is loud)
          assert(r.getAs[Long]("v0_rep_churn") > 0L, r.toString)
          fail(s"df-cap fragmentation fired on the fixture: $r")
      }
    }
  }

  test("q538 residual contamination: one row per non-eval source, " +
    "funnel and contamination counts consistent, residual ppm matches " +
    "the arithmetic, totals agree with the standalone q101 machinery") {
    val rs = rows("q538_residual_contamination")
    import org.apache.spark.sql.functions._
    val d = graft.catalog.Catalog.load(spark, dir, "documents")
    val srcs = d.filter(col("source") =!= "src0")
      .select(col("source")).distinct().count()
    assert(rs.length == srcs, s"${rs.length} rows for $srcs sources")
    rs.foreach { r =>
      val kept = r.getAs[Long]("n_kept")
      val contam = r.getAs[Long]("n_contam")
      val ck = r.getAs[Long]("n_contam_kept")
      assert(ck <= contam && ck <= kept, r.toString)
      assert(contam <= r.getAs[Long]("n_docs"), r.toString)
      assert(r.getAs[Long]("eval_links_kept") >= ck,
        s"every kept-contaminated doc carries >= 1 eval link: $r")
      if (kept == 0) assert(r.isNullAt(r.fieldIndex("residual_ppm")), r.toString)
      else assert(r.getAs[Long]("residual_ppm") == ck * 1000000L / kept,
        r.toString)
      if (ck == 0)
        assert(r.getAs[Long]("tokens_contam_kept") == 0L &&
          r.getAs[Long]("eval_links_kept") == 0L, r.toString)
    }
    // source-summed contaminated docs must equal the standalone q101
    // pass's distinct contaminating-doc count
    val contamDocs = graft.ops.DedupOps.contamination(
        d.filter(col("source") =!= "src0"),
        d.filter(col("source") === "src0"))
      .select(col("doc_id")).distinct().count()
    assert(rs.map(_.getAs[Long]("n_contam")).sum == contamDocs)
  }
}
