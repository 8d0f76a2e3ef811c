package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, expr, lit, max, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, SparkEntry}

/** Semantic checks on the LLM-data operator families that the
  * value-hash oracle can't express: ANN recall, LSH completeness,
  * dedup-construction coverage. Runs at sf0.001.
  */
class LlmDataSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  /** Runs `consumers` from a freshly reset registry and proves they
    * paid exactly one `tag` build between them; then proves the
    * registry's reset frees the blocks behind every frame it memoizes
    * (`memo`, read back through its accessors), checkpoint leaves
    * included. */
  private def assertBuildsOnce(tag: String, reset: () => Unit,
      memo: Seq[(SparkSession, String) => DataFrame],
      consumers: Seq[String], why: String): Unit = {
    reset()
    val before = SharedBuilds.count(tag)
    consumers.foreach(n => assert(run(n).count() > 0, s"$n returned no rows"))
    assert(SharedBuilds.count(tag) == before + 1, why)
    def persisted = spark.sparkContext.getPersistentRDDs.keys.toSet
    val ids = memo.map(_(spark, dir).queryExecution.analyzed)
      .collect { case lr: LogicalRDD => lr.rdd.id }.toSet
    assert(ids.size == memo.size && ids.subsetOf(persisted),
      s"every memoized frame must be a persisted checkpoint: $ids")
    reset()
    val kept = ids.intersect(persisted)
    assert(kept.isEmpty, s"reset left RDDs ${kept.toSeq.sorted} persisted")
  }

  test("q25 exact dedup finds exactly the re-crawled doc groups") {
    import spark.implicits._
    val rows = run("q25_exact_dedup").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (keepId, n) => n == 2 && keepId % 5 == 0 },
      "every dup group is an original doc_id%5==0 with exactly one re-crawl copy")
  }

  test("q26 minhash candidates cover every constructed near-dup with J>=0.6") {
    import spark.implicits._
    val pairs = run("q26_minhash_neardup")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // constructed pairs are (id, id+200000); long docs must all be found
    val constructed = pairs.filter { case (a, b) => b == a + 200000 }
    assert(constructed.nonEmpty, "LSH must surface the constructed near-dups")
    // every reported pair really has J >= 0.6 (verify stage is exact)
    val verified = run("q26_minhash_neardup")
      .select("inter", "uni").as[(Int, Int)].collect()
    assert(verified.forall { case (i, u) => 5 * i >= 3 * u })
  }

  test("q27 simhash pairs are all within hamming distance 3") {
    import spark.implicits._
    val h = run("q27_simhash_neardup").select("hamming").as[Int].collect()
    assert(h.nonEmpty && h.forall(_ <= 3))
  }

  test("q29 IVF top-k achieves nontrivial recall against q28 brute force") {
    import spark.implicits._
    def topk(name: String): Map[Long, Set[Long]] =
      run(name).select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val brute = topk("q28_ann_brute_topk")
    val ivf = topk("q29_ann_ivf_topk")
    val recalls = brute.keys.toSeq.map { q =>
      val b = brute(q); val i = ivf.getOrElse(q, Set.empty)
      i.intersect(b).size.toDouble / b.size
    }
    val mean = recalls.sum / recalls.size
    // nprobe=2 of 8 buckets: the Lloyd-trained quantizer measures ~0.57
    // mean recall@5 at sf0.001 (0.25 is the random-probe floor); 0.4
    // catches a training regression while leaving slack for fixture drift
    assert(mean > 0.4, s"mean recall@5 $mean too low — IVF training broken")
  }

  test("q50 duplicate clusters equal the transitive closure of the q26 pair graph") {
    import spark.implicits._
    val pairs = run("q26_minhash_neardup")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val clusters = run("q50_dup_clusters")
      .select("cluster_id", "n_docs", "max_doc").as[(Long, Long, Long)].collect()
    // ground truth: union-find with min-id roots over the same pairs
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n).toSeq: _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = nodes.groupBy(find)
      .map { case (root, ms) => (root, ms.size.toLong, ms.max) }.toSet
    assert(clusters.toSet == truth, "label propagation must converge to exact components")
    assert(clusters.map(_._2).sum == nodes.size, "clusters partition the pair nodes")
  }

  test("q254 BPE encoding compresses: words <= tokens < chars per source") {
    import spark.implicits._
    val rows = run("q254_bpe_encode_token_costs")
      .select("n_words", "n_tokens", "n_chars")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nw, nt, nc) =>
      assert(nt >= nw, "every word is at least one token")
      assert(nt < nc, "6 learned merges must compress below char-level")
    }
  }

  test("s38 streaming BPE token costs equal batch q254's report") {
    val batch = run("q254_bpe_encode_token_costs").collect().toSet
    val stream = run("s38_stream_bpe_token_costs").collect().toSet
    assert(batch == stream,
      "whole-doc streaming encode must equal per-word batch encode")
  }

  test("q272 packing: token conservation and full-but-last sequences") {
    import spark.implicits._
    val rows = run("q272_bucketed_pack_accounting")
      .select("n_docs", "n_seqs", "tokens_total", "tokens_kept",
        "tokens_trunc", "tokens_pad", "util_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nd, ns, tot, kept, trunc, pad, util) =>
      assert(kept + trunc == tot, "truncation must conserve tokens")
      assert(kept + pad == ns * 512, "pad must fill sequences exactly")
      assert(ns <= nd, "boundary packing can never need more seqs than docs")
      assert(util > 0 && util <= 1000000, s"util_ppm=$util out of range")
    }
  }

  test("s42 streaming packing accounting equals batch q272's report") {
    val batch = run("q272_bucketed_pack_accounting").collect().toSet
    val stream = run("s42_stream_pack_accounting").collect().toSet
    assert(batch == stream,
      "order-free bucket counting must reproduce the keyed-window packing")
  }

  test("q273 reward eval: classifier beats chance on TTR preference pairs") {
    import spark.implicits._
    val rows = run("q273_reward_pairwise_eval")
      .select("n_pairs", "n_agree", "accuracy_ppm")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (np, na, acc) =>
      assert(na <= np && acc >= 0 && acc <= 1000000, s"acc=$acc np=$np")
    }
    val (np, na) = (rows.map(_._1).sum, rows.map(_._2).sum)
    assert(na * 2 > np,
      "an independent diversity-correlated reward must beat coin-flip " +
        "accuracy on TTR-ordered pairs in aggregate")
  }

  test("q274 dedup savings: conservation and nonzero yield") {
    import spark.implicits._
    val rows = run("q274_dedup_savings")
      .select("n_docs", "n_removed", "tokens_total", "tokens_removed")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nd, nr, tt, tr) =>
      assert(nr < nd, "a source can never remove every doc (survivors stay)")
      assert(tr <= tt, "removed tokens cannot exceed the source's total")
    }
    assert(rows.map(_._2).sum > 0,
      "the planted %7 re-crawls guarantee nonzero dedup yield")
  }

  test("q275 funnel: stages chain and only shrink; s43 equals batch") {
    import spark.implicits._
    val batch = run("q275_filter_funnel")
    val rows = batch.select("source", "stage", "n_in", "n_out")
      .as[(String, Int, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, in, out) =>
      assert(out <= in, "a gate can only remove documents") }
    rows.groupBy(_._1).foreach { case (src, ss) =>
      val st = ss.sortBy(_._2)
      st.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 == b._3, s"$src: stage ${b._2} n_in must chain")
        case _ => ()
      }
    }
    assert(batch.collect().toSet ==
      run("s43_stream_filter_funnel").collect().toSet,
      "the at-ingest funnel must equal the batch funnel")
  }

  test("q277 severity tiers partition the corpus; s44 equals batch") {
    import spark.implicits._
    val batch = run("q277_contamination_severity")
    val rows = batch.select("tier", "n_docs", "hits_total")
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    val corpusN = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_._2).sum == corpusN,
      "every corpus doc must land in exactly one severity tier")
    rows.filter(_._1 == "t0_none").foreach { case (_, _, h) =>
      assert(h == 0L, "the zero-hit tier cannot carry hit mass") }
    assert(batch.collect().toSet ==
      run("s44_stream_contamination_severity").collect().toSet,
      "the at-ingest severity report must equal the batch report")
  }

  test("q278 threshold sweep is monotone and anchored at the 0.6 floor") {
    import spark.implicits._
    val rows = run("q278_dedup_threshold_sweep")
      .select("thr", "n_pairs", "n_dup_docs")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(600L, 700L, 800L, 900L))
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(hi._2 <= lo._2 && hi._3 <= lo._3,
          "raising the threshold can only shrink the pair/doc sets")
      case _ => ()
    }
    assert(rows.head._2 == PairGraph.pairs(spark, dir).count(),
      "thr=600 must equal the full verified pair stream")
  }

  test("q256 finds a span in every planted-boilerplate document") {
    import spark.implicits._
    val planted = spark.read.parquet(s"$dir/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0).count()
    val rows = run("q256_repeated_span_masking")
      .agg(org.apache.spark.sql.functions.sum("n_docs_with_spans"),
        org.apache.spark.sql.functions.sum("masked_tokens"))
      .as[(Long, Long)].head()
    assert(rows._1 >= planted,
      "every planted 13-word boilerplate tail must surface as a span")
    assert(rows._2 >= planted * 13,
      "each planted span covers at least its 13 boilerplate tokens")
  }

  test("q257 water-filling: caps respected, budget conserved") {
    import spark.implicits._
    val rows = run("q257_epoch_waterfill_allocation")
      .select("n_tokens", "cap_tokens", "alloc_tokens", "capped",
        "leftover_tokens")
      .as[(Long, Long, Long, Boolean, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, cap, alloc, capped, _) =>
      assert(alloc <= cap, "allocation may never exceed the epoch cap")
      assert(!capped || alloc == cap, "capped sources sit exactly at cap")
    }
    val budget = rows.map(_._1).sum * 2
    assert(rows.map(_._3).sum + rows.head._5 == budget,
      "allocations plus reported dust must reconstruct the budget exactly")
    assert(rows.exists(_._4) && rows.exists(!_._4),
      "fixture dynamics: some sources cap, surplus flows to the rest")
  }

  test("s39 streaming classifier verdicts equal batch q255's report") {
    val batch = run("q255_hashed_ngram_classifier").collect().toSet
    val stream = run("s39_stream_classifier_gate").collect().toSet
    assert(batch == stream,
      "per-row streaming inference must equal the batch broadcast-join path")
  }

  test("q258 kappa sits between chance and perfect for the 1-in-7 disagreer") {
    import spark.implicits._
    val rows = run("q258_cohens_kappa")
      .select("po_ppm", "pe_ppm", "kappa_ppm")
      .as[(Long, Long, Long)].collect().distinct
    assert(rows.length == 1, "scalar kappa must be identical on every class row")
    val (po, pe, k) = rows.head
    // annotators agree on 6/7 of events exactly
    assert(po > 850000 && po < 865000, s"po_ppm=$po")
    assert(k > pe && k < 1000000 && k > 0,
      s"kappa_ppm=$k must be chance-corrected positive and below perfect")
  }

  test("q260 every full curriculum batch covers all 10 deciles") {
    import spark.implicits._
    val rows = run("q260_curriculum_batches")
      .select("n_docs", "n_deciles").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.filter(_._1 == 10L).foreach { case (_, nd) =>
      assert(nd == 10L, "a 10-doc batch must hold one doc per decile")
    }
    assert(rows.count(_._1 == 10L) >= rows.length - 1,
      "only the final ragged batch may be short")
  }

  test("pair graph builds ONCE and is shared by q26/q50/q96/q241/q246") {
    // VERDICT r7 item 2: the MinHash fixpoint must execute once per run,
    // with every consumer deriving from the shared intermediate. Proven
    // by build count, not by reading the design comment.
    assertBuildsOnce("pairs", () => PairGraph.reset(),
      Seq(PairGraph.shingles, PairGraph.bandIndex, PairGraph.pairs,
        PairGraph.labels),
      Seq("q26_minhash_neardup", "q50_dup_clusters", "q96_neardup_materialize",
        "q241_crosssource_neardup_matrix", "q246_cluster_modularity"),
      "five pair-graph consumers must trigger exactly one from-scratch build")
  }

  test("classifier gram frame builds ONCE, shared by q255/q262/q264/q268") {
    // VERDICT r8 item 2: the corpus-wide char-3gram explode was rebuilt
    // by each consumer inside one session; the registry must make it a
    // single shared artifact — proven by counter, not by comment.
    assertBuildsOnce("grams", () => ClassifierArtifacts.reset(),
      Seq(ClassifierArtifacts.grams, ClassifierArtifacts.weights,
        ClassifierArtifacts.prior),
      Seq("q255_hashed_ngram_classifier", "q262_perceptron_training",
        "q264_dsir_importance_selection", "q268_score_calibration"),
      "four gram-frame consumers must trigger exactly one from-scratch build")
  }

  test("co-purchase pair frame builds ONCE, shared by q115/q129/q189/q192/q204/q225/q234") {
    // r14 optimization round: seven queries re-ran the 600 k-row
    // distinct + items self-join inline; the registry must make it one
    // shared artifact — proven by counter, not by comment.
    assertBuildsOnce("copurchase-pairs", () => CoPurchase.reset(),
      Seq(CoPurchase.items, CoPurchase.pairSup),
      Seq("q115_part_pair_support", "q129_triangle_count",
        "q189_clustering_coefficient", "q192_kcore_peeling",
        "q204_apriori_triples", "q225_also_bought", "q234_copurchase_bfs"),
      "seven co-purchase consumers must trigger exactly one from-scratch build")
  }

  test("q192 releases every k-core round checkpoint with the query") {
    // the shared co-purchase frame is MEANT to outlive the query: build
    // it first so its checkpoint is already in the before-set
    CoPurchase.pairSup(spark, dir)
    def persisted = spark.sparkContext.getPersistentRDDs.keys.toSet
    val before = persisted
    val result = run("q192_kcore_peeling")
    assert(result.collect().length == 13, "rounds 0..12")
    val during = persisted -- before
    assert(during.nonEmpty, "q192 persists its edge frame and round leaves")
    TrackedCaches.releaseAll()
    // `result` stays referenced below, so its plan's checkpoint leaves
    // cannot be garbage-collected (and cleaned) before this check
    val kept = during.intersect(persisted)
    assert(kept.isEmpty, s"releaseAll left RDDs ${kept.toSeq.sorted} of " +
      s"${result.columns.mkString(",")} persisted")
  }

  test("word-8-gram digest frame builds ONCE, shared by q103/q279/s45") {
    // round 9: the passage-grain gram index joins the registry family —
    // three consumers (repeated-passage audit, novelty audit, streaming
    // novelty's static side) must share one explode → sha2 build.
    assertBuildsOnce("word8-grams", () => GramFrames.reset(),
      Seq(GramFrames.word8),
      Seq("q103_corpus_ngram_dedup", "q279_ingest_novelty_audit",
        "s45_stream_ingest_novelty"),
      "three gram-frame consumers must trigger exactly one from-scratch build")
  }

  test("positional gram frame builds ONCE, shared by q318/s51") {
    // round 10: the run-coalescing family rides one positional gram
    // build — the corpus-wide audit and its streaming probe must share
    // it, proven by counter.
    assertBuildsOnce("word8-grams-pos", () => GramFrames.reset(),
      Seq(GramFrames.word8Pos),
      Seq("q318_exact_substring_runs", "s51_stream_substring_probe"),
      "both run-audit consumers must trigger exactly one positional build")
  }

  test("q318 planted re-crawl surfaces as runs that exclude the fresh tail") {
    // every 6th doc re-enters prefix-dropped with a 3-word novel tail:
    // the audit must find runs ≥ 8 tokens, and no run may reach the
    // appended tail — the longest possible run is the longest shared
    // text, strictly shorter than the longest re-crawl doc WITH tail.
    val rows = run("q318_exact_substring_runs").collect()
    assert(rows.nonEmpty, "no shared runs found despite the planted re-crawl")
    rows.foreach { r =>
      val maxRun = r.getAs[Long]("max_run_tokens")
      val nRuns = r.getAs[Long]("n_runs")
      val mass = r.getAs[Long]("dup_tokens")
      assert(maxRun >= 8L, s"a run shorter than the gram width: $maxRun")
      assert(mass >= nRuns * 8L, "run mass below the per-run minimum")
    }
  }

  test("q320 matryoshka recall is sane: identity row exact, more dims never worse") {
    val rows = run("q320_matryoshka_truncation_audit").collect()
      .sortBy(_.getAs[Long]("k"))
    assert(rows.map(_.getAs[Long]("k")).toSeq == Seq(8L, 16L, 32L, 64L))
    // k = 64 is the full embedding — recall against itself must be exact
    assert(rows.last.getAs[Long]("mean_recall_ppm") == 1000000L)
    // MRL premise on this fixture: a longer prefix never hurts recall
    val rec = rows.map(_.getAs[Long]("mean_recall_ppm"))
    assert(rec.zip(rec.tail).forall { case (a, b) => a <= b },
      s"recall not monotone in k: ${rec.mkString(",")}")
  }

  test("q321 embedding hard negatives: sims descend, violations consistent") {
    val rows = run("q321_embedding_hard_negatives").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("anchor_id")).foreach { case (a, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("neg_rank"))
      val sims = byRank.map(_.getAs[Double]("neg_sim"))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y },
        s"anchor $a: negative sims not descending")
      byRank.foreach { r =>
        assert(r.getAs[Boolean]("violates") ==
          (r.getAs[Double]("neg_sim") >= r.getAs[Double]("pos_sim")))
        assert(!r.isNullAt(r.fieldIndex("label")))
      }
    }
  }

  test("q322 Zipf geometry: buckets partition the vocab, slope negative") {
    val rows = run("q322_zipf_rank_slope").collect().sortBy(_.getAs[Long]("lr"))
    assert(rows.nonEmpty)
    // log2-rank buckets start at rank 1 (bucket 0) and are contiguous
    val lrs = rows.map(_.getAs[Long]("lr"))
    assert(lrs.head == 0L && lrs.zipWithIndex.forall { case (l, i) => l == i },
      s"buckets not contiguous from 0: ${lrs.mkString(",")}")
    // bucket b holds at most 2^b ranks, and all buckets hold the vocab
    rows.foreach { r =>
      val b = r.getAs[Long]("lr"); val n = r.getAs[Long]("n_words")
      assert(n >= 1 && n <= (1L << b), s"bucket $b count $n out of range")
    }
    // natural text: frequency falls with rank. At sf0.001 the hapax tail
    // flattens more than half the pair set, so the robust lower-median
    // slope can legitimately sit AT zero — require non-positive plus a
    // strict head-to-tail frequency drop.
    assert(rows.head.getAs[Long]("slope_micro") <= 0L,
      "Zipf slope must be non-positive on natural text")
    val m = rows.map(_.getAs[Long]("mean_lf_milli"))
    assert(m.head > m.last,
      "head buckets must be strictly more frequent than the tail")
    assert(m.zip(m.tail).forall { case (a, b) => a >= b },
      s"mean log-frequency not non-increasing: ${m.mkString(",")}")
  }

  test("q319 water-fill invariants: never over budget, caps respected") {
    val rows = run("q319_token_budget_waterfill").collect()
    assert(rows.nonEmpty)
    val budget = rows.map(_.getAs[Long]("avail_tokens")).sum * 2 / 5
    var allocSum = 0L
    rows.foreach { r =>
      val a = r.getAs[Long]("avail_tokens")
      val al = r.getAs[Long]("allocated_tokens")
      allocSum += al
      assert(al <= a, s"${r.getAs[String]("source")}: alloc $al over cap $a")
      if (r.getAs[Boolean]("capped"))
        assert(al == a, "a capped source must contribute everything it has")
    }
    assert(allocSum <= budget, s"over-allocated: $allocSum > $budget")
    // truncating division loses < 1 token per uncapped source
    assert(budget - allocSum <= rows.length.toLong,
      s"leftover ${budget - allocSum} exceeds the truncation bound")
  }

  test("q319 water-fill property: adversarial (avail, weight) tables " +
      "never over-allocate and leave only truncation-sized budget unspent") {
    // VERDICT r10 item 5: the scaladoc's stated tie-edge invariant,
    // turned into a ScalaCheck property. Adversarial shapes: equal
    // ratios (rank ties — identical (a,w) rows and k-scaled pairs whose
    // a*1e6 div w collide), zero weights (clamped to 1 by the greatest),
    // cap-dominant sources (one source holding ~all the avail). The
    // provable bounds (derivation mirrors the operator's scaladoc):
    //   Σ alloc ≤ bb           — per-row least(a, nb*w div dw) caps the
    //                            uncapped set's sum at nb, and capped
    //                            rows sum to exactly p0(cut);
    //   bb − Σ alloc ≤ U + tw div 1e6 + 1 — each of the U uncapped rows
    //                            truncates < 1 token, and a tie-perturbed
    //                            row clamped at its cap under-spends at
    //                            most w_r/1e6 (rk quantizes ratios in
    //                            ppm), so the total slack is sub-ppm of
    //                            total weight, never a real fraction of
    //                            the budget.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val pair: Gen[(Long, Long)] = for {
      a <- Gen.oneOf(Gen.choose(1L, 20L), Gen.choose(1000L, 2000000L),
        Gen.const(1L))
      w <- Gen.oneOf(Gen.const(0L), Gen.const(1L), Gen.choose(1L, 1000000L))
    } yield (a, w)
    val table: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(1, 8)
      base <- Gen.listOfN(n, pair)
      // rank ties: duplicate the first row verbatim AND k-scale it
      // (identical a*1e6 div w, different caps)
      k <- Gen.choose(2L, 5L)
      capDominant <- Gen.oneOf(true, false)
    } yield {
      val (a0, w0) = base.head
      val scaled = (a0 * k, w0 * k)
      val dom = if (capDominant) List((10000000L, 1L)) else Nil
      base ++ List((a0, w0), scaled) ++ dom
    }
    val tables = (1 to 25).flatMap(i =>
      table.apply(Gen.Parameters.default, Seed(7100L + i)))
    assert(tables.size >= 20, "generator must produce enough samples")
    tables.zipWithIndex.foreach { case (t, i) =>
      val perDoc = t.zipWithIndex
        .map { case ((a, w), j) => (s"s$j", a, w) }
        .toDF("source", "nt", "ttr_ppm")
      val rows = TrainingDataOps.budgetWaterfill(perDoc).collect()
      assert(rows.length == t.size, s"table $i: row count")
      val ta = rows.map(_.getAs[Long]("avail_tokens")).sum
      val tw = rows.map(_.getAs[Long]("weight_ppm")).sum
      val bb = ta * 2 / 5
      var alloc = 0L; var uncapped = 0L
      rows.foreach { r =>
        val a = r.getAs[Long]("avail_tokens")
        val al = r.getAs[Long]("allocated_tokens")
        assert(al >= 0 && al <= a,
          s"table $i ${r.getAs[String]("source")}: alloc $al outside [0, $a]")
        if (r.getAs[Boolean]("capped")) assert(al == a,
          s"table $i: capped source must contribute its whole cap")
        else uncapped += 1
        alloc += al
      }
      assert(alloc <= bb, s"table $i over-allocated: $alloc > $bb ($t)")
      val slackBound = uncapped + tw / 1000000L + 1
      assert(bb - alloc <= slackBound,
        s"table $i unspent ${bb - alloc} exceeds truncation bound " +
          s"$slackBound ($t)")
    }
    // determinism at ties: the same named rows in a permuted DataFrame
    // order must produce the identical allocation (the (rk, source)
    // sort pins tie order)
    val named = tables.head.zipWithIndex
      .map { case ((a, w), j) => (s"s$j", a, w) }
    def runT(xs: List[(String, Long, Long)]) =
      TrainingDataOps.budgetWaterfill(xs.toDF("source", "nt", "ttr_ppm"))
        .collect().map(_.toString).sorted.toSeq
    assert(runT(named) == runT(named.reverse),
      "permuting the input row order changed the allocation at a tie")
  }

  test("q323 PII audit: every planted span is found, nothing else fires") {
    import spark.implicits._
    // the fixture prose carries no natural PII (verified against all
    // three patterns when the plants were designed), so the per-class
    // totals must equal the plant counts derived from doc_id arithmetic
    val docs = graft.Tables(spark, dir, "documents")
    val exp = docs.select(
      expr("count_if(doc_id % 7 = 3)"), expr("count_if(doc_id % 11 = 5)"),
      expr("count_if(doc_id % 13 = 7)"), count(lit(1)))
      .as[(Long, Long, Long, Long)].head()
    val rows = run("q323_pii_redaction_audit").collect()
    assert(rows.nonEmpty)
    def tot(c: String) = rows.map(_.getAs[Long](c)).sum
    assert(tot("n_emails") == exp._1, "email plants must all be detected")
    assert(tot("n_phones") == exp._2, "phone plants must all be detected")
    assert(tot("n_ips") == exp._3, "ip plants must all be detected")
    assert(tot("n_docs") == exp._4)
    assert(tot("docs_flagged") <= exp._1 + exp._2 + exp._3,
      "a doc can carry several plants, never the reverse")
    rows.foreach { r =>
      val ppm = r.getAs[Long]("pii_ppm")
      assert(ppm >= 0 && ppm < 1000000, s"pii_ppm out of range: $ppm")
      assert(r.getAs[Long]("pii_chars") >= 0)
    }
  }

  test("q324 speculative acceptance: internal consistency + draft determinism") {
    import spark.implicits._
    val rows = run("q324_speculative_acceptance").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (np, na, nr) = (r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_accept"), r.getAs[Long]("n_runs"))
      assert(na <= np, "accepted pairs cannot exceed total pairs")
      assert(nr <= na, "every run contains at least one accepted pair")
      assert(r.getAs[Long]("acceptance_ppm") == na * 1000000L / np,
        "acceptance_ppm must equal the recomputed ratio")
      if (nr > 0)
        assert(r.getAs[Long]("mean_run_milli") >= 1000L,
          "a run is at least one accepted pair long")
      // the draft head always accepts SOMETHING: each head token's most
      // frequent continuation appears in the corpus by construction
      assert(na > 0, "corpus-argmax draft must accept at least one pair")
    }
    // the draft table is a function: exactly one continuation per head
    val pairs = TextAnalysis.specPairs(graft.Tables(spark, dir, "documents"))
    val draft = TextAnalysis.specDraft(pairs)
    assert(draft.count() == pairs.select("a").distinct().count(),
      "specDraft must emit exactly one row per distinct head token")
    assert(draft.groupBy("a").count().filter(col("count") > 1).isEmpty,
      "no head token may carry two draft continuations")
  }

  test("q325 temperature sampling: up-samples the tail, conserves the budget") {
    val rows = run("q325_temperature_sampling").collect()
    assert(rows.length >= 2)
    val ppmSum = rows.map(_.getAs[Long]("sample_ppm")).sum
    assert(ppmSum > 1000000L - rows.length && ppmSum <= 1000000L,
      s"sample shares must sum to 1e6 minus truncation: $ppmSum")
    val budget = rows.map(_.getAs[Long]("n_tokens")).sum * 2 / 5
    val alloc = rows.map(_.getAs[Long]("alloc_tokens")).sum
    assert(alloc <= budget, s"allocated $alloc over budget $budget")
    // τ=2 essence, truncation-free: the smallest source's sample share
    // must exceed its proportional share (up-sampled) and the largest's
    // must not (compressed head)
    val byN = rows.sortBy(_.getAs[Long]("n_tokens"))
    assert(byN.head.getAs[Long]("sample_ppm") >=
      byN.head.getAs[Long]("prop_ppm"),
      "sqrt scaling must up-sample the smallest source")
    assert(byN.last.getAs[Long]("sample_ppm") <=
      byN.last.getAs[Long]("prop_ppm"),
      "sqrt scaling must compress the largest source")
    // epochs are floor(alloc·1000/n) atop floor(sqrt) and a floored
    // alloc — three truncation layers wiggle neighbors by a few milli,
    // so monotonicity is asserted with that slack, not exactly
    val em = byN.map(_.getAs[Long]("epochs_milli"))
    assert(em.zip(em.tail).forall { case (a, b) => a >= b - 8 },
      s"epochs_milli must be non-increasing up to truncation slack: ${em.mkString(",")}")
  }

  test("q326 skeleton dedup catches every planted template family") {
    import spark.implicits._
    val planted = graft.Tables(spark, dir, "documents")
      .filter(expr("doc_id % 9 = 0")).groupBy("source")
      .agg(count(lit(1))).as[(String, Long)].collect().toMap
    val rows = run("q326_template_skeleton_dedup").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val p = planted.getOrElse(src, 0L)
      if (p > 0) {
        // each plant families the TWO variants (the original's skeleton
        // lacks the ' ref #' suffix and stays a singleton)
        assert(r.getAs[Long]("max_family") >= 2L,
          s"$src: a planted variant family must have >= 2 members")
        assert(r.getAs[Long]("docs_in_multi") >= 2L * p,
          s"$src: all ${2 * p} planted variants must be in multi families")
        assert(r.getAs[Long]("n_docs") - r.getAs[Long]("n_families") >= p,
          s"$src: dedup must save at least one variant per plant")
      }
      assert(r.getAs[Long]("savings_ppm") >= 0 &&
        r.getAs[Long]("savings_ppm") < 1000000L)
    }
  }

  test("s56 template probe: every re-template hits, every fresh item is novel") {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
    val exp = docs.groupBy("source")
      .agg(expr("count_if(doc_id % 9 = 0)").as("hits"),
        expr("count_if(doc_id % 9 = 1)").as("fresh"))
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    run("s56_stream_template_probe").collect().foreach { r =>
      val (eh, ef) = exp(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_arrivals") == eh + ef)
      assert(r.getAs[Long]("template_hits") == eh,
        "every second-wave variant's skeleton is standing and must hit")
      assert(r.getAs[Long]("novel") == ef,
        "every fresh item must report novel")
    }
  }

  test("q327 k-anonymity: class algebra reconciles with the raw table") {
    val rows = run("q327_k_anonymity_audit").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    assert(total == graft.Tables(spark, dir, "customer").count(),
      "every customer row must land in exactly one equivalence class")
    rows.foreach { r =>
      val (n, k5, l3) = (r.getAs[Long]("n_rows"),
        r.getAs[Long]("rows_k_lt5"), r.getAs[Long]("rows_l_lt3"))
      assert(r.getAs[Long]("min_k") >= 1)
      assert(r.getAs[Long]("min_l") >= 1 && r.getAs[Long]("min_l") <= 25,
        "l is a distinct-nation count, bounded by the 25 nations")
      assert(k5 <= n && l3 <= n)
      assert(r.getAs[Long]("k_risk_ppm") == k5 * 1000000L / n)
      assert(r.getAs[Long]("l_risk_ppm") == l3 * 1000000L / n)
      // a singleton class (k=1) trivially has l=1 < 3: k-risk rows at
      // k=1 are a subset of l-risk rows, so min_k=1 forces l-risk > 0
      if (r.getAs[Long]("min_k") == 1L) assert(l3 > 0)
    }
  }

  test("q328 code router: exactly the planted snippets route as code") {
    import spark.implicits._
    val planted = graft.Tables(spark, dir, "documents")
      .filter(expr("doc_id % 17 = 4")).count()
    val rows = run("q328_code_detection").collect()
    assert(rows.map(_.getAs[Long]("n_code")).sum == planted,
      "prose measures zero on both signals, so detections == plants exactly")
    rows.foreach { r =>
      val (n, c) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_code"))
      assert(r.getAs[Long]("code_doc_ppm") == c * 1000000L / n)
      assert(r.getAs[Long]("code_char_ppm") < 1000000L)
    }
  }

  test("q329 UL2 accounting: token conservation and objective ordering") {
    val rows = run("q329_ul2_denoiser_accounting").collect()
    assert(rows.nonEmpty)
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    bySrc.foreach { case (src, rs) =>
      assert(rs.map(_.getAs[String]("objective")).sorted.toSeq ==
        Seq("R", "S", "X"), s"$src must price all three denoisers")
      val m = rs.map(r => r.getAs[String]("objective") -> r).toMap
      rs.foreach { r =>
        // input + target = tokens + 2·sentinels (each span's sentinel
        // appears once on each side) — exact conservation
        assert(r.getAs[Long]("input_tokens") + r.getAs[Long]("target_tokens")
          == r.getAs[Long]("n_tokens") + 2 * r.getAs[Long]("n_sentinels"),
          s"$src/${r.getAs[String]("objective")}: conservation")
        assert(r.getAs[Long]("n_sentinels") <= r.getAs[Long]("masked_tokens")
          || r.getAs[Long]("masked_tokens") == 0,
          "every span carries at least one masked token")
      }
      // X (50% long spans) must mask strictly more mass than R (15%)
      assert(m("X").getAs[Long]("masked_ppm") >
        m("R").getAs[Long]("masked_ppm"), s"$src: X must out-mask R")
      // S masks the suffix half: never more than half the tokens
      assert(m("S").getAs[Long]("masked_ppm") <= 500000L)
      assert(m("S").getAs[Long]("n_sentinels") == m("S").getAs[Long]("n_docs"),
        "prefix-LM carries exactly one split sentinel per doc")
    }
  }

  test("q330 semantic decontamination flags exactly the planted leaks") {
    import spark.implicits._
    val plants = graft.Tables(spark, dir, "embeddings")
      .filter(expr("vec_id % 23 = 1 AND vec_id % 2 = 1"))
      .select((col("vec_id") + 200000L).as("pid"))
      .as[Long].collect()
    val rows = run("q330_semantic_decontamination").collect()
    assert(rows.nonEmpty)
    // the natural cross-pair cosine ceiling (~0.52) sits far under the
    // 0.9 threshold, so the contaminated set IS the planted set
    assert(rows.map(_.getAs[Long]("n_contaminated")).sum == plants.length,
      "exactly the planted near-copies must flag")
    val idSum = rows.flatMap(r =>
      Option(r.getAs[java.lang.Long]("contaminated_id_sum")).map(_.toLong)).sum
    assert(idSum == plants.sum,
      "the contaminated id mass must equal the planted id mass")
    val bench = graft.Tables(spark, dir, "embeddings")
      .filter(expr("vec_id % 23 = 1")).count()
    assert(rows.map(_.getAs[Long]("n_bench")).sum == bench,
      "every benchmark vector lands in exactly one reported cluster")
  }

  test("q331 MoE router: dispatch conservation and load-balance algebra") {
    import spark.implicits._
    val tokens = graft.Tables(spark, dir, "documents")
      .select(expr(
        "CAST(size(filter(split(text, ' '), w -> w <> '')) AS BIGINT)")
        .as("n"))
      .agg(org.apache.spark.sql.functions.sum("n")).as[Long].collect().head
    val rows = run("q331_moe_router_balance").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_dispatch")).sum == 2 * tokens,
      "top-2 routing dispatches every token exactly twice")
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      assert(rs.map(_.getAs[Long]("expert")).distinct.length == rs.length,
        s"$src: one row per expert")
      val loads = rs.map(_.getAs[Long]("load_ppm"))
      val total = loads.sum
      assert(total <= 1000000L && total > 1000000L - rs.length,
        s"$src: expert load shares must sum to 1e6 within truncation")
      val bal = rs.head.getAs[Long]("balance_ppm2")
      assert(rs.forall(_.getAs[Long]("balance_ppm2") == bal),
        s"$src: balance_ppm2 is a source-level constant")
      assert(bal == loads.map(l => l * l).sum,
        s"$src: balance must equal the sum of squared load shares")
      // Cauchy–Schwarz floor: Σ f² ≥ (Σ f)² / n — uniform routing is
      // the minimum; the hash router must sit at or above it
      assert(bal >= total * total / rs.length, s"$src: balance floor")
      rs.foreach { r =>
        val (d, dr) =
          (r.getAs[Long]("n_dispatch"), r.getAs[Long]("n_dropped"))
        assert(dr <= d, "a cell cannot drop more than it dispatched")
        assert(r.getAs[Long]("drop_ppm") == dr * 1000000L / d,
          "drop_ppm algebra")
      }
    }
  }

  test("q332 nucleus coverage: head conservation and size bounds") {
    import spark.implicits._
    val pairs = TextAnalysis.specPairs(
      graft.Tables(spark, dir, "documents"))
    val nHeads = pairs.select("a").distinct().count()
    val nPairs = pairs.count()
    val rows = run("q332_nucleus_coverage").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("nucleus_size") >= 1),
      "the top continuation is always a nucleus member")
    assert(rows.map(_.getAs[Long]("n_heads")).sum == nHeads,
      "every head token lands in exactly one nucleus-size bucket")
    assert(rows.map(_.getAs[Long]("pair_mass")).sum == nPairs,
      "head totals must conserve the corpus pair mass")
    rows.foreach { r =>
      assert(r.getAs[Long]("sum_fanout") >=
        r.getAs[Long]("n_heads") * r.getAs[Long]("nucleus_size"),
        "a head's nucleus can never exceed its fan-out")
      assert(r.getAs[Long]("heads_ppm") ==
        r.getAs[Long]("n_heads") * 1000000L / nHeads, "heads_ppm algebra")
    }
  }

  test("q333 edit-distance verification: plants confirm, decoys reject") {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
      .select("doc_id", "source", "text")
    val corpus = Dedup.levCorpus(docs)
    // plant-id-space guard (ADVICE r11): plants live at 2·id + 10⁹
    // (swap, even) / 2·id + 10⁹ + 1 (decoy, odd) — parity-disjoint
    // for any base ids, but disjoint from BASE ids only while base
    // doc_id < 10⁹; pin that precondition against the fixture
    val maxBase = docs.agg(max("doc_id")).as[Long].head()
    assert(maxBase < Dedup.levPlantBase,
      s"base doc_id space ($maxBase) must stay below the plant base " +
        s"${Dedup.levPlantBase} or plant ids collide with base ids")
    // the last-word-swap plants really sit within the 24-char budget…
    val plantLev = docs.filter(expr("doc_id % 11 = 3")).as("o")
      .join(corpus.filter(col("doc_id") >= Dedup.levPlantBase &&
        col("doc_id") % 2 === 0).as("p"),
        expr(s"o.doc_id * 2 + ${Dedup.levPlantBase} = p.doc_id"))
      .select(org.apache.spark.sql.functions.levenshtein(
        col("o.text"), col("p.text")).as("lev"))
      .as[Int].collect()
    assert(plantLev.nonEmpty && plantLev.forall(_ <= 24),
      "every last-word swap is a small edit")
    // …and the alien-tail decoys sit far outside it
    val decoyLev = docs.filter(expr("doc_id % 11 = 4")).as("o")
      .join(corpus.filter(col("doc_id") >= Dedup.levPlantBase &&
        col("doc_id") % 2 === 1).as("p"),
        expr(s"o.doc_id * 2 + ${Dedup.levPlantBase} + 1 = p.doc_id"))
      .select(org.apache.spark.sql.functions.levenshtein(
        col("o.text"), col("p.text")).as("lev"))
      .as[Int].collect()
    assert(decoyLev.nonEmpty && decoyLev.forall(_ > 24),
      "every decoy must exceed the edit budget")
    val rows = run("q333_editdist_verified_dedup").collect()
    assert(rows.map(_.getAs[Long]("confirmed_pairs")).sum >= plantLev.length,
      "every plant pair is a digest candidate and must confirm")
    assert(rows.map(_.getAs[Long]("rejected_pairs")).sum >= decoyLev.length,
      "every decoy pair is a digest candidate and must reject")
    rows.foreach { r =>
      assert(r.getAs[Long]("cand_pairs") ==
        r.getAs[Long]("confirmed_pairs") + r.getAs[Long]("rejected_pairs"))
      assert(r.getAs[Long]("dropped_docs") <=
        r.getAs[Long]("confirmed_pairs"),
        "a doc drops once even when several pairs confirm it")
      assert(r.getAs[Long]("saved_ppm") < 1000000L)
    }
  }

  test("q334 packed attention mask: triangle-number conservation") {
    import spark.implicits._
    val perDoc = TrainingDataOps.packPerDoc(
      graft.Tables(spark, dir, "documents")
        .select("doc_id", "source", "text"))
    val tokens = perDoc.agg(
      org.apache.spark.sql.functions.sum("l")).as[Long].collect().head
    val rows = run("q334_packed_attention_mask").collect()
    assert(rows.nonEmpty)
    // every sequence is ≤ 512 tokens, so full pairs per source are
    // bounded by n_seqs · 512·513/2 and the masked side never exceeds
    // the causal side
    rows.foreach { r =>
      val (ns, fp, mp) = (r.getAs[Long]("n_seqs"),
        r.getAs[Long]("full_pairs"), r.getAs[Long]("masked_pairs"))
      assert(mp <= fp, "document masking can only remove pairs")
      assert(fp <= ns * (512L * 513L / 2L), "sequence length cap")
      assert(r.getAs[Long]("saved_pairs") == fp - mp)
      assert(r.getAs[Long]("saved_ppm") == (fp - mp) * 1000000L / fp)
      assert(r.getAs[Long]("docs_split") <= r.getAs[Long]("n_docs"))
    }
    // packing conservation: chop-at-512 yields exactly
    // ceil(shard tokens / 512) sequences per (source, shard)
    val expectedSeqs = perDoc
      .groupBy("source", "shard")
      .agg(org.apache.spark.sql.functions.sum("l").as("t"))
      .select(expr("CAST((t + 511) div 512 AS BIGINT)").as("ns"))
      .as[Long].collect().sum
    assert(rows.map(_.getAs[Long]("n_seqs")).sum == expectedSeqs,
      "chop-at-512 packing yields exactly ceil(shard tokens / 512) seqs")
    assert(tokens > 0)
  }

  test("q335 secret scan: detections equal plants with exact char mass") {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
    def plants(m: Int, r: Int) =
      docs.filter(expr(s"doc_id % $m = $r")).count()
    val (ak, hx, gp) = (plants(19, 2), plants(23, 6), plants(29, 9))
    val rows = run("q335_secret_scan").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_cloud_keys")).sum == ak,
      "prose has no AKIA tokens, so detections == plants")
    assert(rows.map(_.getAs[Long]("n_hex_tokens")).sum == hx,
      "prose has no bare 40-hex runs, so detections == plants")
    assert(rows.map(_.getAs[Long]("n_forge_tokens")).sum == gp,
      "prose has no ghp_ tokens, so detections == plants")
    // matched spans: AKIA+16 = 20 chars, 40-hex = 40, ghp_+36 = 40
    assert(rows.map(_.getAs[Long]("secret_chars")).sum ==
      20 * ak + 40 * hx + 40 * gp,
      "sequential-replace accounting must equal the planted span mass")
    rows.foreach { r =>
      assert(r.getAs[Long]("docs_flagged") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("secret_ppm") < 1000000L)
    }
  }

  test("q337 GRPO audit: group algebra and the degenerate-advantage law") {
    import spark.implicits._
    val nPrompts = graft.Tables(spark, dir, "documents").count()
    val rows = run("q337_grpo_group_audit").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_groups")).sum == nPrompts,
      "every prompt forms exactly one group")
    // fair binary coins over 500×8 samples: both degenerate classes
    // must actually occur at this fixture (≈ n/256 each side)
    assert(rows.map(_.getAs[Long]("all_pass_groups")).sum +
      rows.map(_.getAs[Long]("all_fail_groups")).sum > 0,
      "the audit must surface real degenerate groups on the fixture")
    rows.foreach { r =>
      val (ng, ap, af) = (r.getAs[Long]("n_groups"),
        r.getAs[Long]("all_pass_groups"), r.getAs[Long]("all_fail_groups"))
      assert(r.getAs[Long]("degenerate_ppm") == (ap + af) * 1000000L / ng)
      val np = r.getAs[Long]("n_pass")
      assert(np >= ap * 8 && np <= ng * 8 - af * 8,
        "pass mass must bracket the degenerate extremes")
      assert(r.getAs[Long]("pass_ppm") == np * 1000000L / (ng * 8))
      val adv = r.getAs[Long]("adv_mass")
      // 2·S·(8−S) ≤ 32 per group, and 0 exactly on degenerate groups
      assert(adv <= 32 * (ng - ap - af),
        "advantage mass is capped at the balanced-group maximum")
      assert(r.getAs[Long]("mean_abs_adv_milli") ==
        adv * 1000L / (ng * 64L))
    }
  }

  test("q336 in-context packing: cluster partition and context bounds") {
    val nVecs = graft.Tables(spark, dir, "embeddings").count()
    val rows = run("q336_incontext_packing").collect()
    assert(rows.nonEmpty && rows.length <= 8,
      "k = 8 coarse quantizer yields at most 8 populated clusters")
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nVecs,
      "every embedded doc lands in exactly one cluster")
    rows.foreach { r =>
      val (nd, tt, nc) = (r.getAs[Long]("n_docs"),
        r.getAs[Long]("total_tokens"), r.getAs[Long]("n_contexts"))
      assert(nc >= (tt + 255) / 256,
        "sharding a cluster can only ADD context boundaries")
      assert(nc <= nd + tt / 256,
        "each shard wastes less than one context per resident doc run")
      assert(r.getAs[Long]("docs_split") <= nd)
      val ms = r.getAs[Long]("mean_sim_shift_micro")
      assert(ms >= 0 && ms <= 2000000L,
        "shifted cosine mean stays within [0, 2] in micro-units")
      assert(ms > 1000000L,
        "members sit on the positive side of their own centroid")
    }
  }

  test("q338 paged KV sweep: reservation algebra and the size trade") {
    val rows = run("q338_paged_kv_fragmentation").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tt, pe, rt, ft) = (r.getAs[Long]("total_tokens"),
        r.getAs[Long]("page_entries"), r.getAs[Long]("reserved_tokens"),
        r.getAs[Long]("frag_tokens"))
      assert(rt == tt + ft, "reserved = payload + fragmentation")
      assert(rt == pe * r.getAs[Long]("bs"),
        "every page-table entry reserves exactly one block")
      assert(ft < r.getAs[Long]("n_docs") * r.getAs[Long]("bs"),
        "each doc wastes strictly less than one block")
    }
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val bySize = rs.sortBy(_.getAs[Long]("bs"))
      assert(bySize.map(_.getAs[Long]("page_entries")).toSeq ==
        bySize.map(_.getAs[Long]("page_entries")).sortBy(-_).toSeq,
        s"$src: smaller blocks must cost more page-table entries")
      assert(bySize.map(_.getAs[Long]("frag_tokens")).toSeq ==
        bySize.map(_.getAs[Long]("frag_tokens")).sorted.toSeq,
        s"$src: larger blocks must waste at least as much memory")
    }
  }

  test("q339 strided eval: stride=L tiles exactly, overlap grows as stride shrinks") {
    val rows = run("q339_strided_eval_overlap").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("forward_tokens") >=
        r.getAs[Long]("scored_tokens"),
        "the forward pass covers every scored token at least once")
      assert(r.getAs[Long]("n_windows") >= r.getAs[Long]("n_docs"))
    }
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val byStride = rs.sortBy(_.getAs[Long]("st"))
        .map(_.getAs[Long]("overlap_ppm")).toSeq
      assert(byStride == byStride.sortBy(-_),
        s"$src: shrinking the stride must increase re-encoding overlap")
      assert(byStride.last == 0L,
        s"$src: stride = L tiles the doc exactly — zero overlap")
      assert(rs.map(_.getAs[Long]("n_docs")).distinct.length == 1,
        s"$src: the stride sweep sees the same doc population")
    }
  }

  test("q340 RFT yield: coverage and token algebra reconcile with q337") {
    val grpo = run("q337_grpo_group_audit").collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_groups"), r.getAs[Long]("all_fail_groups")))
      .toMap
    val rows = run("q340_rejection_sampling_yield").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val (ng, af) = grpo(src)
      assert(r.getAs[Long]("n_prompts") == ng,
        s"$src: same rollout run, same prompt population")
      assert(r.getAs[Long]("covered") == ng - af,
        s"$src: covered == everything but the all-fail groups")
      val (gen, kept) = (r.getAs[Long]("gen_tokens"),
        r.getAs[Long]("kept_tokens"))
      assert(kept * 8 <= gen,
        "keeping one of eight completions caps yield at 125000 ppm")
      assert(r.getAs[Long]("yield_ppm") <= 125000L)
      assert(r.getAs[Long]("mean_first_pass_milli") <= 7000L,
        "the first passing draw is one of 8 sample slots (0..7)")
    }
  }

  test("q341 memorization exposure: count algebra over the shared gram index") {
    val rows = run("q341_memorization_exposure").collect()
    assert(rows.nonEmpty)
    val totalPos = rows.map(_.getAs[Long]("n_positions")).sum
    val grams = graft.operators.GramFrames.word8Pos(spark, dir)
    assert(totalPos == grams.count(),
      "every positional gram lands in exactly one source row")
    rows.foreach { r =>
      val (np, ep) = (r.getAs[Long]("n_positions"),
        r.getAs[Long]("exposed_positions"))
      assert(ep <= np)
      assert(r.getAs[Long]("n_distinct") <= np)
      assert(r.getAs[Long]("exposed_ppm") == ep * 1000000L / np)
      assert(r.getAs[Long]("dup_sightings") >= ep,
        "an exposed position sights at least one other copy")
      assert(r.getAs[Long]("max_exposure") >= 1)
    }
  }

  test("q342 depth-2 speculation: acceptance nesting and step algebra") {
    val rows = run("q342_speculative_tree_depth2").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, a1, a2) = (r.getAs[Long]("n_steps"),
        r.getAs[Long]("acc1"), r.getAs[Long]("acc2_chain"))
      assert(a2 <= a1 && a1 <= n,
        "level-2 acceptance requires level-1: strict nesting")
      assert(r.getAs[Long]("acc1_ppm") == a1 * 1000000L / n)
      assert(r.getAs[Long]("acc2_ppm") == a2 * 1000000L / n)
      val tps = r.getAs[Long]("toks_per_step_milli")
      assert(tps == (n + a1 + a2) * 1000L / n)
      assert(tps >= 1000L && tps <= 3000L,
        "a depth-2 chain lands between 1 and 3 tokens per step")
    }
    // the corpus argmax draft must land a nonzero level-1 rate — the
    // q324 precedent (drafting the corpus's own modal continuation)
    assert(rows.map(_.getAs[Long]("acc1")).sum > 0)
  }

  test("q343 weighted vote: reliability tracks the planted noise ladder") {
    val rows = run("q343_weighted_vote_aggregation").collect()
    assert(rows.length == 5, "five annotators, one row each")
    val byA = rows.sortBy(_.getAs[Int]("a"))
    val rels = byA.map(_.getAs[Long]("reliability_ppm")).toSeq
    assert(rels == rels.sortBy(-_),
      "reliability must fall as the planted flip rate rises (10%..70%)")
    val corr = byA.map(_.getAs[Long]("correct_ppm")).toSeq
    assert(corr == corr.sortBy(-_),
      "truth accuracy must fall down the same ladder")
    rows.foreach { r =>
      val nd = r.getAs[Long]("n_docs")
      assert(r.getAs[Long]("reliability_ppm") ==
        r.getAs[Long]("agree_r1") * 1000000L / nd)
      assert(r.getAs[Long]("correct_ppm") ==
        r.getAs[Long]("correct") * 1000000L / nd)
    }
    val (a1, a2) = (rows.head.getAs[Long]("r1_acc_ppm"),
      rows.head.getAs[Long]("r2_acc_ppm"))
    assert(rows.forall(r => r.getAs[Long]("r1_acc_ppm") == a1 &&
      r.getAs[Long]("r2_acc_ppm") == a2),
      "corpus-level accuracies are group constants")
    assert(a2 >= a1,
      "down-weighting the noisy annotators must not hurt the vote here")
  }

  test("q344 in-batch collisions: pair algebra and population invariants") {
    val nVecs = graft.Tables(spark, dir, "embeddings").count()
    val rows = run("q344_inbatch_negative_collisions").collect()
    assert(rows.length == 3, "one row per batch size in the sweep")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_items") == nVecs,
        "every batch size partitions the same population")
      val (bp, fp) = (r.getAs[Long]("batch_pairs"),
        r.getAs[Long]("fn_pairs"))
      assert(fp <= bp, "same-cluster pairs are a subset of batch pairs")
      assert(r.getAs[Long]("fn_ppm") == fp * 1000000L / bp)
      assert(r.getAs[Long]("n_batches") <=
        (nVecs + r.getAs[Long]("bsz") - 1) / r.getAs[Long]("bsz"),
        "hashing cannot create more batches than ceil(N/B)")
      assert(fp > 0,
        "8 clusters over these batch sizes must collide somewhere")
    }
  }

  test("q345 int8 recall: bounds, algebra, and a sane quantized index") {
    val rows = run("q345_int8_embedding_recall").collect()
    assert(rows.length == 20, "one row per query vector")
    rows.foreach { r =>
      val ov = r.getAs[Long]("overlap5")
      assert(ov >= 0 && ov <= 5)
      assert(r.getAs[Long]("recall_ppm") == ov * 1000000L / 5)
      assert(r.getAs[Long]("rank_shift") <= 4 * ov,
        "two top-5 ranks can differ by at most 4 per surviving member")
    }
    // int8 on 64-dim vectors is a mild quantization: the index must
    // stay usable (recall well above coin-flip on average)
    assert(rows.map(_.getAs[Long]("overlap5")).sum >= 60,
      "mean overlap@5 must be at least 3 of 5")
  }

  test("q346 PRM tree search: regret identity and greedy bounds") {
    val rows = run("q346_prm_tree_search").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, bm, gm) = (r.getAs[Long]("n_prompts"),
        r.getAs[Long]("best_mass"), r.getAs[Long]("greedy_mass"))
      assert(r.getAs[Long]("regret_mass") == bm - gm,
        "regret is exactly the best-minus-greedy reward gap")
      assert(bm >= gm, "the full-leaf argmax dominates greedy descent")
      assert(bm <= 27 * n, "three levels of 0..9 rewards cap at 27")
      val go = r.getAs[Long]("greedy_optimal")
      assert(go <= n)
      assert(r.getAs[Long]("greedy_optimal_ppm") == go * 1000000L / n)
      assert(r.getAs[Long]("mean_best_milli") == bm * 1000L / n)
    }
    val (tot, opt) = (rows.map(_.getAs[Long]("n_prompts")).sum,
      rows.map(_.getAs[Long]("greedy_optimal")).sum)
    assert(opt > 0 && opt < tot,
      "greedy must find the best path sometimes but not always")
  }

  test("q347 fertility: English anchors parity at exactly one") {
    val rows = run("q347_tokenizer_fertility").collect()
    assert(rows.length == 5, "five fixture languages")
    val en = rows.find(_.getAs[String]("lang") == "en").get
    assert(en.getAs[Long]("parity_ppm") == 1000000L,
      "the anchor language's byte-cost parity is exactly 1")
    rows.foreach { r =>
      assert(r.getAs[Long]("fertility_milli") >= 1000L,
        "every alphanumeric word yields at least one subtoken")
      assert(r.getAs[Long]("subtokens") >= r.getAs[Long]("ws_tokens"))
      assert(r.getAs[Long]("parity_ppm") > 0)
    }
  }

  test("q337 advantage law: exhaustive over all 256 reward patterns") {
    // the closed form sum|k·r − S| = 2·S·(k−S) is load-bearing (it is
    // why no second sample pass exists) — prove it on EVERY possible
    // 8-sample binary outcome, not just the fixture's md5 draws
    import spark.implicits._
    val rows = (0 until 256).flatMap { pat =>
      (0 until 8).map(s => (pat.toLong, "x", s, ((pat >> s) & 1).toLong))
    }
    val df = rows.toDF("doc_id", "source", "samp", "r")
    val rep = TrainingDataOps.grpoReport(df).collect()
    assert(rep.length == 1)
    val r = rep.head
    // brute force: per pattern, Σ_bits |8·bit − S|
    val expected = (0 until 256).map { pat =>
      val s = Integer.bitCount(pat)
      (0 until 8).map(b => math.abs(8 * ((pat >> b) & 1) - s)).sum
    }.sum
    assert(r.getAs[Long]("adv_mass") == expected,
      "closed form must equal the brute-force advantage mass")
    assert(r.getAs[Long]("all_pass_groups") == 1 &&
      r.getAs[Long]("all_fail_groups") == 1,
      "exactly patterns 0xFF and 0x00 are degenerate")
    assert(r.getAs[Long]("n_pass") == (0 until 256).map(Integer.bitCount).sum)
  }

  test("q334 packing law: simulator agreement on adversarial lengths") {
    // chop-at-512 packing + document-mask triangle numbers checked
    // against a sequential Scala simulator on boundary-hugging lengths
    // (1, 511, 512, 513, exact multiples, a >512 truncated giant)
    import spark.implicits._
    val lens = Seq(1L, 7L, 511L, 512L, 513L, 512L, 1024L, 3L, 509L,
      512L, 1L, 300L, 212L, 512L, 500L, 12L)
    val perDoc = lens.zipWithIndex
      .map { case (l, i) => (i.toLong, "x", 0L, l) }
      .toDF("doc_id", "source", "shard", "l")
    val rep = TrainingDataOps.packMaskReport(perDoc).collect()
    assert(rep.length == 1)
    val r = rep.head
    // simulator: walk the concatenated stream, chop at 512
    var offset = 0L
    var fullBySeq = Map.empty[Long, Long]
    var masked = 0L
    var splits = 0L
    lens.foreach { l =>
      val (s0, s1) = (offset / 512, (offset + l - 1) / 512)
      if (s1 > s0) splits += 1
      (s0 to s1).foreach { s =>
        val f = math.min((s + 1) * 512, offset + l) - math.max(s * 512, offset)
        fullBySeq = fullBySeq.updated(s, fullBySeq.getOrElse(s, 0L) + f)
        masked += f * (f + 1) / 2
      }
      offset += l
    }
    val full = fullBySeq.values.map(ln => ln * (ln + 1) / 2).sum
    assert(r.getAs[Long]("n_seqs") == fullBySeq.size)
    assert(r.getAs[Long]("docs_split") == splits)
    assert(r.getAs[Long]("full_pairs") == full)
    assert(r.getAs[Long]("masked_pairs") == masked)
    assert(r.getAs[Long]("n_seqs") == (lens.sum + 511) / 512,
      "chop packing wastes nothing: exactly ceil(total/512) sequences")
  }

  test("q331 router capacity law: exhaustive over all <=3-expert batch compositions") {
    // cap = (bt div 2)·250 div 800 + 1 and dropped = max(0, cell − cap)
    // are load-bearing (they are why no per-token rank window exists) —
    // prove the whole report on EVERY batch composition of 3 experts
    // with 0..6 dispatches each (343 batches: empty cells, at-capacity
    // cells, overflow cells), not just the fixture's md5 draws
    import spark.implicits._
    val comps = for { c0 <- 0 to 6; c1 <- 0 to 6; c2 <- 0 to 6 }
      yield Seq(c0, c1, c2)
    val disp = comps.zipWithIndex.flatMap { case (cs, b) =>
      cs.zipWithIndex.flatMap { case (c, e) =>
        Seq.fill(c)(("x", b.toLong, e.toLong)) }
    }.toDF("source", "batch", "expert")
    val got = TrainingDataOps.moeReport(disp).collect()
    // plain-Scala simulator over the same cells
    val cells = comps.zipWithIndex.flatMap { case (cs, b) =>
      cs.zipWithIndex.collect { case (c, e) if c > 0 =>
        (b, e.toLong, c.toLong) } }
    val batchTotal = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    val nDisp = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val nDrop = cells.groupBy(_._2).view.mapValues(_.map { case (b, _, c) =>
      val cap = (batchTotal(b) / 2) * 250 / 800 + 1
      math.max(0L, c - cap)
    }.sum).toMap
    val st = nDisp.values.sum
    val loadPpm = nDisp.view.mapValues(d => d * 1000000L / st).toMap
    val balance = loadPpm.values.map(l => l * l).sum
    assert(got.length == 3, "all three experts dispatched")
    got.foreach { r =>
      val e = r.getAs[Long]("expert")
      assert(r.getAs[Long]("n_dispatch") == nDisp(e), s"n_dispatch e$e")
      assert(r.getAs[Long]("n_dropped") == nDrop(e), s"n_dropped e$e")
      assert(r.getAs[Long]("load_ppm") == loadPpm(e), s"load_ppm e$e")
      assert(r.getAs[Long]("drop_ppm") == nDrop(e) * 1000000L / nDisp(e))
      assert(r.getAs[Long]("balance_ppm2") == balance)
    }
    assert(nDrop.values.sum > 0,
      "the composition space must actually exercise overflow cells")
  }

  test("q338 paged-KV rounding identity: exhaustive lengths 0..600") {
    // blocks = (l + bs − 1) div bs is exactly ceil ⇔ 0 ≤ frag < bs for
    // every l ≥ 1 — prove on every length through all three block
    // sizes' boundary classes (multiples, ±1, sub-block, l = 0)
    import spark.implicits._
    val d = (0L to 600L).map(l => ("x", l)).toDF("source", "l")
    val got = TrainingDataOps.pagedKvReport(d).collect()
    assert(got.length == 3, "three block sizes, one source")
    val ls = (1L to 600L)
    got.foreach { r =>
      val bs = r.getAs[Long]("bs")
      val blocks = ls.map(l => (l + bs - 1) / bs)
      ls.zip(blocks).foreach { case (l, b) =>
        assert(b * bs - l >= 0 && b * bs - l < bs,
          s"rounding identity broken at l=$l bs=$bs") }
      val reserved = blocks.map(_ * bs).sum
      assert(r.getAs[Long]("n_docs") == 600L, "l = 0 never allocates")
      assert(r.getAs[Long]("total_tokens") == ls.sum)
      assert(r.getAs[Long]("page_entries") == blocks.sum)
      assert(r.getAs[Long]("reserved_tokens") == reserved)
      assert(r.getAs[Long]("reserved_tokens") ==
        r.getAs[Long]("page_entries") * bs,
        "reserved mass is exactly page entries x block size")
      assert(r.getAs[Long]("frag_tokens") == reserved - ls.sum)
      assert(r.getAs[Long]("frag_ppm") ==
        (BigInt(reserved - ls.sum) * 1000000 / BigInt(reserved)).toLong)
    }
  }

  test("q342 chain recurrence: exhaustive trigram alphabet pins the tie-break") {
    // all 125 three-word docs over {t0..t4}: every bigram occurs
    // exactly 25+25 times, so the draft table is PURE tie-break
    // ((−count, b) min ⇒ draft(a) = t0 for every a) and the chain
    // law has a closed form: acc1 = #(b = t0) = 25, acc2 = #(b = t0
    // ∧ c = draft(t0) = t0) = 5
    import spark.implicits._
    val uDocs = (for { a <- 0 until 5; b <- 0 until 5; c <- 0 until 5 }
      yield s"t$a t$b t$c").zipWithIndex
      .map { case (t, i) => (i.toLong, "u", t) }
    val got = TextAnalysis.specTreeReport(
      uDocs.toDF("doc_id", "source", "text")).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("n_steps") == 125L)
    assert(r.getAs[Long]("acc1") == 25L, "uniform ties: draft(a) = t0")
    assert(r.getAs[Long]("acc2_chain") == 5L, "chain: b = t0 and c = t0")
    assert(r.getAs[Long]("toks_per_step_milli") ==
      (125L + 25L + 5L) * 1000L / 125L)
  }

  test("q342 chain recurrence: structured corpus agrees with a generic simulator") {
    // non-uniform bigram statistics (varying lengths 2..7, including
    // pair-only docs that yield no trigram step) replayed through a
    // plain-Scala draft/trigram simulator — every report column exact
    import spark.implicits._
    val vDocs = (0 until 90).map { i =>
      val n = 2 + i % 6
      val ws = (0 until n).map(j => s"t${(i * 7 + j * j * 3 + j) % 5}")
      (i.toLong, if (i % 3 == 0) "v" else "w", ws.mkString(" "))
    } ++ (0 until 12).map { i =>
      // dominant t0→t1→t0 cycle so draft(t0) = t1 and draft(t1) = t0
      // and depth-2 chains genuinely fire (the coverage guard below)
      (100L + i, "v", "t0 t1 t0 t1 t0 t1")
    }
    val got = TextAnalysis.specTreeReport(
      vDocs.toDF("doc_id", "source", "text")).collect()
    val wl = vDocs.map { case (_, src, t) =>
      (src, t.split(" ").filter(_.nonEmpty).toSeq) }
    val pairs = wl.filter(_._2.length >= 2).flatMap { case (src, ws) =>
      ws.sliding(2).map(p => (src, p(0), p(1))).toSeq }
    // the draft table pools bigram counts ACROSS sources (one model
    // serves the whole corpus), tie-break (−count, b)
    val counts = pairs.groupBy { case (_, a, b) => (a, b) }
      .view.mapValues(_.size.toLong).toMap
    val draft = counts.keys.map(_._1).toSeq.distinct.map { a =>
      a -> counts.collect { case ((x, b), c) if x == a => (b, c) }
        .toSeq.minBy { case (b, c) => (-c, b) }._1
    }.toMap
    val tris = wl.filter(_._2.length >= 3).flatMap { case (src, ws) =>
      ws.sliding(3).map(t => (src, t(0), t(1), t(2))).toSeq }
    val bySrc = tris.groupBy(_._1).view.mapValues { ts =>
      val n = ts.size.toLong
      val a1 = ts.count { case (_, a, b, _) => draft(a) == b }.toLong
      val a2 = ts.count { case (_, a, b, c) =>
        draft(a) == b && draft(b) == c }.toLong
      (n, a1, a2)
    }.toMap
    assert(got.length == 2, "two sources")
    got.foreach { r =>
      val (n, a1, a2) = bySrc(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_steps") == n)
      assert(r.getAs[Long]("acc1") == a1)
      assert(r.getAs[Long]("acc2_chain") == a2)
      assert(r.getAs[Long]("acc1_ppm") == a1 * 1000000L / n)
      assert(r.getAs[Long]("acc2_ppm") == a2 * 1000000L / n)
      assert(r.getAs[Long]("toks_per_step_milli") ==
        (n + a1 + a2) * 1000L / n)
      assert(a2 <= a1, "level 2 accepts only inside an accepted level 1")
    }
    assert(bySrc.values.exists(_._2 > 0) && bySrc.values.exists(_._3 > 0),
      "the corpus must actually exercise both acceptance levels")
  }

  test("q349 integer-sqrt device: exact on square boundaries and huge magnitudes") {
    // the ±1-corrected double seed must equal floor(sqrt(x)) EXACTLY —
    // prove it on every k² − 1 / k² / k² + 1 boundary for k ≤ 3000,
    // powers of two past 2⁵² (where the bare double seed goes wrong),
    // and the 10²⁰⁺ magnitudes q349's 2·C·MTBF actually reaches
    import spark.implicits._
    val xs: Seq[BigInt] =
      (1L to 3000L).flatMap { k =>
        val k2 = BigInt(k) * k; Seq(k2 - 1, k2, k2 + 1) } ++
        (50 to 100).map(b => BigInt(1) << b) ++
        (50 to 100).map(b => (BigInt(1) << b) - 1) ++
        Seq(BigInt("7800000000000000000"), BigInt("1560000000000000000000"),
          BigInt("999999999999999999999999999"), BigInt(0))
    val df = xs.map(_.toString).toDF("xs")
      .withColumn("x", expr("CAST(xs AS DECIMAL(38,0))"))
    val got = TrainingDataOps.exactIsqrt(df, "x", "r")
      .select("xs", "r").as[(String, Long)].collect().toMap
    def isqrt(n: BigInt): BigInt = { // monotone Newton (the naive
      // g != prev loop two-cycles between k and k+1 on non-squares)
      if (n < 2) n
      else {
        var x = BigInt(1) << (n.bitLength / 2 + 1)
        var y = (x + n / x) >> 1
        while (y < x) { x = y; y = (x + n / x) >> 1 }
        while (x * x > n) x -= 1
        while ((x + 1) * (x + 1) <= n) x += 1
        x
      }
    }
    xs.foreach { x =>
      assert(BigInt(got(x.toString)) == isqrt(x),
        s"exactIsqrt($x) = ${got(x.toString)}, want ${isqrt(x)}")
    }
  }

  test("q349 fixture carries >= 2 error events so MTBF is well-defined") {
    // ADVICE r12: mtbf_us = span div (n_fail − 1) silently degenerated
    // on a 0/1-failure fixture. The query now filters n_fail >= 2 (so a
    // degenerate fixture yields zero rows), and THIS assertion turns a
    // fixture drift into a loud red instead of a silently-empty report.
    import spark.implicits._
    val nFail = graft.Tables.events(spark, dir)
      .filter(col("event_type") === "error").count()
    assert(nFail >= 2,
      s"events fixture has $nFail 'error' rows — q349's MTBF needs >= 2")
    val rows = run("q349_checkpoint_goodput").collect()
    assert(rows.length == 3, "one row per checkpoint-cost axis value")
    assert(rows.forall(_.getAs[Long]("n_fail") == nFail))
    assert(rows.forall(_.getAs[Long]("mtbf_us") > 0),
      "the n_fail >= 2 guard must make every published MTBF positive")
  }

  test("q351 shard conservation: every world size accounts for every token") {
    import spark.implicits._
    val tok = graft.Tables(spark, dir, "documents")
      .select(expr("""CAST(size(filter(split(text, ' '), w -> w <> ''))
                      AS BIGINT)""").as("l"))
      .agg(sum("l")).as[Long].head()
    val nDocs = graft.Tables(spark, dir, "documents").count()
    val rows = run("q351_dataloader_shard_skew").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val w = r.getAs[Long]("w")
      assert(r.getAs[Long]("total_tokens") == tok,
        s"W=$w loses tokens") // conservation: hashing drops nothing
      assert(r.getAs[Long]("n_docs") == nDocs)
      assert(r.getAs[Long]("shards_used") <= w)
      assert(r.getAs[Long]("max_shard_tokens") >=
        r.getAs[Long]("min_shard_tokens"))
      // the slowest worker carries at least the fair share
      assert(r.getAs[Long]("max_shard_tokens") * w >= tok)
      assert(r.getAs[Long]("skew_excess_ppm") >= 0)
      assert(r.getAs[Long]("straggler_ppm") * w >= 1000000L)
    }
    assert(rows.find(_.getAs[Long]("w") == 8L).get
      .getAs[Long]("shards_used") == 8L,
      "at W=8 with hundreds of docs every shard must be hit")
  }

  test("q352 best-of-n law: exhaustive over all 256 reward patterns; monotone curve") {
    import spark.implicits._
    // every possible 8-sample binary outcome; best-of-n = max over
    // the FIRST n samples = "any of the low n bits set"
    val rows = (0 until 256).flatMap { pat =>
      (0 until 8).map(s => (pat.toLong, "x", s, ((pat >> s) & 1).toLong))
    }
    val rep = TrainingDataOps.bonReport(
      rows.toDF("doc_id", "source", "samp", "r")).collect()
    assert(rep.length == 4)
    val exp = Seq(1, 2, 4, 8).map { n =>
      n.toLong ->
        (0 until 256).count(p => (p & ((1 << n) - 1)) != 0).toLong
    }.toMap
    rep.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(r.getAs[Long]("n_prompts") == 256L)
      assert(r.getAs[Long]("hits") == exp(n),
        s"best-of-$n hits must equal the any-low-bit count")
      assert(r.getAs[Long]("bon_ppm") == exp(n) * 1000000L / 256L)
    }
    // monotone nondecreasing in n on the real fixture output
    run("q352_best_of_n_scaling").collect()
      .groupBy(_.getAs[String]("source")).values.foreach { rs =>
        val curve = rs.sortBy(_.getAs[Long]("n")).map(_.getAs[Long]("bon_ppm"))
        assert(curve.zip(curve.tail).forall { case (a, b) => a <= b },
          s"best-of-n must be monotone, got ${curve.mkString(",")}")
      }
  }

  test("q353 run coalescing: simulator agreement on adversarial strings") {
    import spark.implicits._
    val docs = Seq(
      (0L, "v", "x x x x"), // one 4-token run
      (1L, "v", "a a b b a"), // two 2-token runs
      (2L, "v", "ab cd ab cd ab"), // period-2 only, no immediate run
      (3L, "w", "a b c d"), // clean
      (4L, "w", "z z"), // minimal run, minimal doc
      (5L, "w", "q q q r r q q"), // runs 3 + 2 + 2
      (6L, "v", "s t s t s t s") // pure alternation
    )
    val got = TrainingDataOps.loopReport(
      docs.toDF("doc_id", "source", "text")).collect()
    def sim(text: String) = {
      val ws = text.split(" ").filter(_.nonEmpty).toSeq
      val rep1 = ws.zip(ws.drop(1)).count { case (a, b) => a == b }
      val rep2 = ws.zip(ws.drop(2)).count { case (a, b) => a == b }
      var mx = 1L; var cur = 1L
      ws.zip(ws.drop(1)).foreach { case (a, b) =>
        if (a == b) { cur += 1; mx = math.max(mx, cur) } else cur = 1 }
      (ws.size - 1L, math.max(ws.size - 2L, 0L), rep1.toLong,
        rep2.toLong, mx)
    }
    val bySrc = docs.groupBy(_._2).view.mapValues { ds =>
      val sims = ds.map(d => sim(d._3))
      (ds.size.toLong, sims.map(_._1).sum, sims.map(_._2).sum,
        sims.map(_._3).sum, sims.map(_._4).sum,
        sims.count(_._5 >= 3).toLong, sims.map(_._5).max)
    }.toMap
    assert(got.length == 2)
    got.foreach { r =>
      val (nd, np, nt, r1, r2, loop3, mxr) = bySrc(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == nd)
      assert(r.getAs[Long]("n_pairs") == np)
      assert(r.getAs[Long]("n_triples") == nt)
      assert(r.getAs[Long]("rep1_mass") == r1)
      assert(r.getAs[Long]("rep2_mass") == r2)
      assert(r.getAs[Long]("docs_loop3") == loop3)
      assert(r.getAs[Long]("max_run_tokens") == mxr)
    }
  }

  test("q353 plants: repeat runs land in docs_loop3, period-2 tails in rep2") {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
      .select("doc_id", "source")
    val p13 = docs.filter(expr("doc_id % 13 = 5"))
      .groupBy("source").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect().toMap
    val p17 = docs.filter(expr("doc_id % 17 = 3 AND doc_id % 13 <> 5"))
      .groupBy("source").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect().toMap
    assert(p13.nonEmpty && p17.nonEmpty, "both plant families must exist")
    val rows = run("q353_repetition_loops").collect()
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      // every %13 plant carries a 4-token repeat run → counted in loop3
      assert(r.getAs[Long]("docs_loop3") >= p13.getOrElse(src, 0L),
        s"$src: planted repeat runs must be detected")
      if (p13.getOrElse(src, 0L) > 0)
        assert(r.getAs[Long]("max_run_tokens") >= 4L)
      // every %17 plant's 6-token period-2 tail contributes ≥ 4 hits
      assert(r.getAs[Long]("rep2_mass") >= 4L * p17.getOrElse(src, 0L),
        s"$src: planted period-2 tails must be detected")
    }
  }

  test("q348 DPO margins: full md5-coin simulator agreement at sf0.001") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def coin(tag: String, id: Long): Long =
      (BigInt(md5hex(tag + id).take(15), 16) % 1000).toLong
    val docs = graft.Tables(spark, dir, "documents")
      .select("doc_id", "source").as[(Long, String)].collect()
    val ids = docs.map(_._1).toSet
    val margins = docs.filter(d => d._1 % 2 == 0 && ids(d._1 + 1))
      .map { case (cid, src) =>
        val m = (coin("pol_", cid) - coin("ref_", cid)) -
          (coin("pol_", cid + 1) - coin("ref_", cid + 1))
        (src, m)
      }
    val bySrc = margins.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val rows = run("q348_dpo_margin_audit").collect()
    assert(rows.nonEmpty && rows.length == bySrc.size)
    rows.foreach { r =>
      val ms = bySrc(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_pairs") == ms.size.toLong)
      assert(r.getAs[Long]("sum_margin") == ms.sum)
      assert(r.getAs[Long]("abs_margin_mass") == ms.map(math.abs).sum)
      assert(r.getAs[Long]("flipped_pairs") == ms.count(_ < 0).toLong)
      assert(r.getAs[Long]("max_margin") == ms.max)
      assert(r.getAs[Long]("min_margin") == ms.min)
      assert(r.getAs[Long]("mean_abs_margin_milli") ==
        ms.map(math.abs).sum * 1000L / ms.size)
    }
  }

  test("q354 router tier law: exhaustive over all 8 committee vote patterns") {
    import spark.implicits._
    // one doc per possible (v0, v1, v2) pattern; votes = bit count
    val rows = (0 until 8).map(p => (p.toLong, "x",
      Integer.bitCount(p).toLong))
    val rep = TrainingDataOps.routerReport(
      rows.toDF("doc_id", "source", "votes")).collect()
    assert(rep.length == 1)
    val r = rep.head
    // tiers: votes 0 → 1 annotator (1 pattern), 3 → 5 (1 pattern),
    // split → 3 (6 patterns); cost = 1 + 6·3 + 5 = 24
    assert(r.getAs[Long]("tier1_docs") == 1L)
    assert(r.getAs[Long]("tier3_docs") == 6L)
    assert(r.getAs[Long]("tier5_docs") == 1L)
    assert(r.getAs[Long]("tier1_docs") + r.getAs[Long]("tier3_docs") +
      r.getAs[Long]("tier5_docs") == r.getAs[Long]("n_docs"),
      "tiers must partition the docs")
    assert(r.getAs[Long]("annotation_cost") == 24L,
      "cost law: n1 + 3*n3 + 5*n5")
    assert(r.getAs[Long]("disagreements") == 6L)
    assert(r.getAs[Long]("cost_vs_all5_ppm") == 24L * 1000000L / 40L)
    // and the fixture run obeys the same partition + cost algebra
    run("q354_annotation_budget_router").collect().foreach { f =>
      assert(f.getAs[Long]("tier1_docs") + f.getAs[Long]("tier3_docs") +
        f.getAs[Long]("tier5_docs") == f.getAs[Long]("n_docs"))
      assert(f.getAs[Long]("annotation_cost") ==
        f.getAs[Long]("tier1_docs") + 3 * f.getAs[Long]("tier3_docs") +
          5 * f.getAs[Long]("tier5_docs"))
      assert(f.getAs[Long]("disagreements") == f.getAs[Long]("tier3_docs"))
    }
  }

  test("q355 canaries: every plant recovered, every decoy rejected") {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
      .select("doc_id", "source")
    val planted = docs.filter(expr("doc_id % 31 = 7"))
      .groupBy("source").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect().toMap
    assert(planted.values.sum > 0, "the fixture must carry plants")
    val rows = run("q355_canary_recovery").collect()
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      assert(r.getAs[Long]("planted") == planted.getOrElse(src, 0L))
      // detection is exact: the regex finds precisely the plants
      assert(r.getAs[Long]("detected_docs") == r.getAs[Long]("planted"),
        s"$src: every canary must be recovered, nothing else")
      assert(r.getAs[Long]("detected_tokens") == r.getAs[Long]("planted"),
        s"$src: exactly one canary token per planted doc")
      if (r.getAs[Long]("planted") > 0)
        assert(r.getAs[Long]("recovered_ppm") == 1000000L)
      // the near-canary decoys (7 hex + 'z') must never match
      assert(r.getAs[Long]("decoy_matches") == 0L,
        s"$src: a decoy matched the canary regex")
    }
    assert(rows.map(_.getAs[Long]("decoys_planted")).sum > 0,
      "the decoy family must actually exist at this scale")
  }

  test("q356 curriculum phases: monotone difficulty bands, exact partition") {
    import spark.implicits._
    val nSources = graft.Tables(spark, dir, "documents")
      .select("source").distinct().count()
    val rows = run("q356_curriculum_phases").collect()
      .sortBy(_.getAs[Long]("phase"))
    assert(rows.map(_.getAs[Long]("n_sources")).sum == nSources,
      "phases must partition the sources")
    // ranked split: a later phase's easiest source is no easier than
    // an earlier phase's hardest
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(b.getAs[Long]("min_difficulty_milli") >=
        a.getAs[Long]("max_difficulty_milli"),
        "curriculum must be monotone easy -> hard")
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("min_difficulty_milli") <=
        r.getAs[Long]("band_difficulty_milli") &&
        r.getAs[Long]("band_difficulty_milli") <=
          r.getAs[Long]("max_difficulty_milli"),
        "token-weighted band difficulty sits inside the phase's range")
    }
    val share = rows.map(_.getAs[Long]("token_share_ppm")).sum
    assert(share > 1000000L - 4 && share <= 1000000L,
      s"shares must sum to 1e6 up to truncation, got $share")
  }

  test("q357 structured-output gate: wellformed plants pass, truncated reject") {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
      .select("doc_id", "source")
    val good = docs.filter(expr("doc_id % 43 = 17"))
      .groupBy("source").agg(count(lit(1)).as("c"),
        sum("doc_id").as("ids"))
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3))
      .toMap
    val trunc = docs.filter(expr("doc_id % 47 = 19 AND doc_id % 43 <> 17"))
      .count()
    assert(good.values.map(_._1).sum > 0 && trunc > 0,
      "both plant families must exist at this scale")
    run("q357_structured_output_gate").collect().foreach { r =>
      val src = r.getAs[String]("source")
      val (n, ids) = good.getOrElse(src, (0L, 0L))
      assert(r.getAs[Long]("n_valid") == n,
        s"$src: exactly the well-formed plants parse — prose and " +
          "truncated outputs must all reject")
      assert(r.getAs[Long]("answer_mass") == ids,
        s"$src: the typed answer field round-trips exactly")
    }
  }

  test("q358 coverage knee: greedy simulator agreement on the real frequency table") {
    import spark.implicits._
    // re-derive the exact knee in plain Scala from the fixture's own
    // word-frequency table and compare every report column
    val freqs = graft.Tables(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.explode(
        expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select("f").as[Long].collect().sorted(Ordering[Long].reverse)
    val total = freqs.sum
    val vocabFull = freqs.length.toLong
    val rows = run("q358_vocab_coverage_knee").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val thr = r.getAs[Long]("thr_ppm")
      val need = (BigInt(total) * thr + 999999) / 1000000
      // greedy: words frequency-desc until covered
      var cum = 0L; var k = 0L
      while (BigInt(cum) < need) { cum += freqs(k.toInt); k += 1 }
      assert(r.getAs[Long]("vocab_size") == k,
        s"thr=$thr: knee must be the greedy count")
      assert(r.getAs[Long]("tokens_covered") == cum)
      assert(r.getAs[Long]("total_tokens") == total)
      assert(r.getAs[Long]("vocab_full") == vocabFull)
      assert(r.getAs[Long]("coverage_ppm") >= thr,
        "covered mass must actually reach the threshold")
      // minimality: one fewer word falls short
      assert(BigInt(cum - freqs((k - 1).toInt)) < need,
        "the knee must be minimal")
    }
  }

  test("q359 calibration: ECE mass identity and decile partition") {
    import spark.implicits._
    val nDocs = graft.Tables(spark, dir, "documents").count()
    val rows = run("q359_reward_calibration").collect()
    assert(rows.map(_.getAs[Long]("n_prompts")).sum == nDocs,
      "confidence deciles must partition the prompts")
    // the mass identity that keeps ECE integer-exact:
    // n_b·|mean gap| = |pred_mass − emp_mass| = gap_mass
    val gm = rows.map(_.getAs[Long]("gap_mass")).sum
    val np = rows.map(_.getAs[Long]("n_prompts")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("ece_milli") == gm / np,
        "corpus ECE must equal the summed gap mass over prompts")
      val b = r.getAs[Long]("bucket")
      assert(b >= 0 && b <= 9)
      val pm = r.getAs[Long]("pred_mean_milli")
      assert(pm >= b * 100 && pm < (b + 1) * 100,
        "a decile's predicted mean must sit inside the decile")
      assert(r.getAs[Long]("emp_mean_milli") >= 0 &&
        r.getAs[Long]("emp_mean_milli") <= 1000)
    }
  }

  test("q360 reweighting: weights normalize and are monotone in excess") {
    val rows = run("q360_mixture_reweight").collect()
    val wsum = rows.map(_.getAs[Long]("new_weight_ppm")).sum
    assert(wsum > 1000000L - rows.length && wsum <= 1000000L,
      s"weights must sum to 1e6 up to truncation, got $wsum")
    // monotone: more excess never means less weight
    rows.sortBy(_.getAs[Long]("excess_milli")).sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("new_weight_ppm") <=
          b.getAs[Long]("new_weight_ppm"),
          "reweighting must be monotone in excess loss")
      case _ =>
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("score") ==
        1000000L + 4 * r.getAs[Long]("excess_milli"), "score law")
      // at-or-below-mean sources keep the uniform base score
      if (r.getAs[Long]("excess_milli") == 0)
        assert(r.getAs[Long]("score") == 1000000L)
    }
  }

  test("q343 Dawid-Skene M-step: exhaustive annotator patterns vs simulator") {
    // every possible 5-annotator labeling over a 3-label alphabet for
    // each of 3 truths — 729 docs covering every tie shape the two
    // argmax reductions can meet; the one-step fixpoint (majority →
    // reliability → weighted re-vote → accuracy lift) re-derived in
    // plain Scala and compared column-exact
    import spark.implicits._
    val labels = Vector("de", "en", "es")
    val p3 = Vector(1, 3, 9, 27, 81)
    val docs = for { truth <- labels.indices; pat <- 0 until 243 } yield {
      val lbls = (0 until 5).map(a => labels(pat / p3(a) % 3))
      ((truth * 243 + pat).toLong, labels(truth), lbls)
    }
    val ann = docs.flatMap { case (id, lang, lbls) =>
      lbls.zipWithIndex.map { case (l, a) => (id, lang, a, l) }
    }.toDF("doc_id", "lang", "a", "lbl")
    val got = Profiling.weightedVoteReport(ann).collect()
    def argmax(votes: Map[String, Long]): String =
      votes.toSeq.minBy { case (l, v) => (-v, l) }._1
    val nDocs = docs.size.toLong
    val maj1 = docs.map { case (id, _, lbls) =>
      id -> argmax(lbls.groupBy(identity).view
        .mapValues(_.size.toLong).toMap)
    }.toMap
    val relia = (0 until 5).map { a =>
      val agree = docs.count { case (id, _, lbls) =>
        lbls(a) == maj1(id) }.toLong
      val correct = docs.count { case (_, lang, lbls) =>
        lbls(a) == lang }.toLong
      (agree, correct, agree * 1000000L / nDocs,
        correct * 1000000L / nDocs)
    }
    val maj2 = docs.map { case (id, _, lbls) =>
      id -> argmax(lbls.zipWithIndex.groupBy(_._1).view
        .mapValues(_.map { case (_, a) => relia(a)._3 }.sum).toMap)
    }.toMap
    val ok1 = docs.count { case (id, lang, _) => maj1(id) == lang }.toLong
    val ok2 = docs.count { case (id, lang, _) => maj2(id) == lang }.toLong
    assert(got.length == 5, "one row per annotator")
    got.foreach { r =>
      val (agree, correct, rp, cp) = relia(r.getAs[Int]("a"))
      assert(r.getAs[Long]("n_docs") == nDocs)
      assert(r.getAs[Long]("agree_r1") == agree)
      assert(r.getAs[Long]("reliability_ppm") == rp)
      assert(r.getAs[Long]("correct") == correct)
      assert(r.getAs[Long]("correct_ppm") == cp)
      assert(r.getAs[Long]("r1_acc_ppm") == ok1 * 1000000L / nDocs)
      assert(r.getAs[Long]("r2_acc_ppm") == ok2 * 1000000L / nDocs)
    }
  }

  test("BPE merges table learns ONCE, shared by q254/q276") {
    // round 9: the 6-round merge learning (6 driver actions over the
    // exploded word frame) is the offline tokenizer artifact — it must
    // not be relearned by every consumer in one session.
    assertBuildsOnce("bpe-merges", () => TextAnalysis.bpeReset(),
      Seq(TextAnalysis.bpeWordsShared),
      Seq("q254_bpe_encode_token_costs", "q276_bpe_pack_accounting"),
      "two tokenizer consumers must trigger exactly one merges learn")
  }

  test("q276 BPE packing: conservation holds on learned-token costs") {
    import spark.implicits._
    val rows = run("q276_bpe_pack_accounting")
      .select("n_seqs", "tokens_kept", "tokens_trunc", "tokens_total",
        "tokens_pad")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (ns, kept, trunc, tot, pad) =>
      assert(kept + trunc == tot, "BPE truncation must conserve tokens")
      assert(kept + pad == ns * 512, "pad must fill sequences exactly")
    }
  }

  test("BM25 retrieval scorer builds ONCE, shared by q263/q271") {
    // VERDICT r8 item 4: the scaladoc claimed "persisted once per run"
    // while each consumer rebuilt the scorer; now memoized for real.
    assertBuildsOnce("bm25", () => TextAnalysis.retrievalReset(),
      Seq(TextAnalysis.retrievalScores),
      Seq("q263_retrieval_eval", "q271_hard_negative_mining"),
      "two scorer consumers must trigger exactly one from-scratch build")
  }

  test("q262 batch perceptron actually learns: epoch-1 misses everyone, then improves") {
    import spark.implicits._
    val rows = run("q262_perceptron_training")
      .select("epoch", "n_miss", "n_docs").as[(Int, Long, Long)]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3))
    val nDocs = rows.head._3
    assert(rows.head._2 == nDocs,
      "w=0 scores every doc at 0, so epoch 1 must miss ALL docs by contract")
    assert(rows(1)._2 < nDocs,
      "epoch 2 must classify some docs correctly — a flat curve means " +
        "the weight update never happened")
  }

  test("q263 retrieval eval: gold always ranked, MRR within bounds") {
    import spark.implicits._
    val rows = run("q263_retrieval_eval")
      .select("n_queries", "hits_at_1", "hits_at_10", "mrr_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, h1, h10, mrr) =>
      assert(h1 <= h10 && h10 <= n, "recall@k must be monotone in k")
      assert(mrr >= 0 && mrr <= 1000000, "MRR is a mean of 1e6/rank")
      // hits@1 == n ⇒ mrr == 1e6; partial hits bound it below
      assert(mrr >= h1 * 1000000 / n,
        "MRR cannot be below the rank-1 mass alone")
    }
  }

  test("q264 DSIR selection skews toward the target label") {
    import spark.implicits._
    val rows = run("q264_dsir_importance_selection")
      .select("n_docs", "n_keep", "kept_good").as[(Long, Long, Long)]
      .collect()
    val (n, k, kg) = rows.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    assert(k > 0 && k < n, "selection must be a proper subset")
    // the kept set must be MORE target-like than the corpus: the whole
    // point of importance weighting (corpus good-rate comes from the
    // seed rule directly)
    val goodAll = graft.Tables(spark, dir, "documents")
      .select(Profiling.classifierGoodExpr).filter("good").count()
    val total = graft.Tables(spark, dir, "documents").count()
    assert(kg * total > k * goodAll,
      s"kept good-rate ${kg}/${k} must exceed corpus good-rate $goodAll/$total")
  }

  test("q265 bigram LM: held-out bits sane, OOV a strict minority") {
    import spark.implicits._
    val rows = run("q265_bigram_lm_heldout")
      .select("n_bigrams", "oov_bigrams", "bits_per_token_milli")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, oov, bpt) =>
      assert(oov < n, "the shared fixture vocabulary keeps OOV a minority")
      assert(bpt > 0 && bpt < 64000, "bits/token must be positive and finite")
    }
  }

  test("q266 preference pairs: disjoint sides, positive margins, no doc reused") {
    import spark.implicits._
    val rows = run("q266_preference_pairs")
      .select("chosen_id", "rejected_id", "margin_ppm")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._3 > 0), "zero-margin pairs carry no signal")
    val chosen = rows.map(_._1).toSet
    val rejected = rows.map(_._2).toSet
    assert(chosen.intersect(rejected).isEmpty,
      "extreme pairing must never use a doc as both chosen and rejected")
    assert(rows.map(_._1).distinct.length == rows.length &&
      rows.map(_._2).distinct.length == rows.length,
      "each doc appears in at most one pair per side")
  }

  test("q267 incremental index merge equals full rebuild additively") {
    import spark.implicits._
    // novel-doc terms must surface as touched; audit scalars consistent
    val rows = run("q267_incremental_index_maintenance")
      .select("term", "df", "was_touched", "n_touched", "n_untouched")
      .collect()
    assert(rows.length == 20)
    val (nt, nu) = (rows.head.getLong(3), rows.head.getLong(4))
    assert(nt > 0 && nu > 0, "delta must touch some terms and spare others")
    assert(rows.forall(r => r.getLong(3) == nt && r.getLong(4) == nu),
      "audit scalars are corpus constants")
  }

  test("q268 calibration: top decile good-rate exceeds bottom decile") {
    import spark.implicits._
    val rows = run("q268_score_calibration")
      .select("source", "decile", "good_ppm").as[(String, Long, Long)]
      .collect()
    val bottom = rows.filter(_._2 == 0).map(_._3)
    val top = rows.filter(_._2 == 9).map(_._3)
    assert(bottom.nonEmpty && top.nonEmpty)
    // aggregate monotonicity: the learned score must separate the seed
    // label across the extreme deciles (per-source noise allowed)
    assert(top.sum > bottom.sum,
      s"top-decile good mass ${top.sum} must exceed bottom ${bottom.sum}")
  }

  test("q261 incremental CC recomputes ONLY the affected subgraph") {
    import spark.implicits._
    val inc = Dedup.incrementalCc(spark, dir)
    val standing = inc.standingPairs.as[(Long, Long)].collect().toSet
    val fresh = inc.newPairs.as[(Long, Long)].collect().toSet
    val sub = inc.subEdges.as[(Long, Long)].collect().toSet
    // the fixpoint input is a subset of standing ∪ new …
    assert(sub.subsetOf(standing ++ fresh),
      "subgraph edges must come from standing or new pairs only")
    // … and a STRICT subset of standing: untouched components' edges
    // never re-enter the fixpoint (that is the whole point of q261)
    val untouchedEdges = standing -- sub
    assert(untouchedEdges.nonEmpty,
      "some standing component must be untouched by the delta — " +
        "otherwise the test fixture proves nothing")
    // carried-over labels are bit-identical to the standing labels on
    // untouched nodes (min-label invariance makes carry-over exact)
    val standingLabels = PairGraph.labels(spark, dir)
      .as[(Long, Long)].collect().toMap
    val subNodes = sub.flatMap(e => Seq(e._1, e._2))
    val finalLabels = inc.finalLabels.as[(Long, Long)].collect().toMap
    val untouchedNodes = standingLabels.keySet -- subNodes
    assert(untouchedNodes.nonEmpty)
    untouchedNodes.foreach { n =>
      assert(finalLabels(n) == standingLabels(n),
        s"untouched node $n changed label — carry-over must be exact")
    }
  }

  test("q269 coverage curve is monotone and ends at a proper fraction") {
    import spark.implicits._
    val rows = run("q269_vocab_coverage_curve")
      .select("k", "coverage_ppm").as[(Long, Long)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    assert(rows.sliding(2).forall {
      case Array((_, a), (_, b)) => a <= b; case _ => true
    }, "coverage must be monotone in k")
    assert(rows.last._2 <= 1000000L)
  }

  test("q270 KS statistic: hash splits stay close to the corpus CDF") {
    import spark.implicits._
    val rows = run("q270_ks_split_drift")
      .select("split", "diff_ppm", "d_ppm").as[(String, Long, Long)]
      .collect()
    assert(rows.map(_._1).distinct.sorted.toSeq == Seq("test", "train", "val"))
    rows.groupBy(_._1).foreach { case (sp, rs) =>
      assert(rs.map(_._2).max == rs.head._3,
        s"$sp: d_ppm must equal the max per-bucket deviation")
      assert(rs.head._3 < 300000,
        s"$sp: a content-hash split drifting ≥30% from the corpus CDF " +
          "means the split is broken")
    }
  }

  test("q271 hard negatives are never the gold and carry the rank-1 signal") {
    import spark.implicits._
    val rows = run("q271_hard_negative_mining")
      .select("query_id", "hard_neg_id", "margin").as[(Long, Long, Long)]
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (q, h, _) => h != q })
    // margin > 0 ⇔ q263 ranks the gold first for that query
    val hits1 = run("q263_retrieval_eval")
      .agg(org.apache.spark.sql.functions.sum("hits_at_1")).head().getLong(0)
    assert(rows.count(_._3 > 0) == hits1,
      "positive-margin queries must be exactly q263's rank-1 hits")
  }

  test("s41 streaming index maintenance equals batch q267's merge") {
    val batch = run("q267_incremental_index_maintenance").collect().toSet
    val stream = run("s41_stream_index_maintenance").collect().toSet
    assert(batch == stream,
      "the streamed postings ticks must merge into the batch index exactly")
  }

  test("s40 streaming LM surprisal report equals batch q265's") {
    val batch = run("q265_bigram_lm_heldout").collect().toSet
    val stream = run("s40_stream_lm_surprisal").collect().toSet
    assert(batch == stream,
      "the streamed held-out ticks must reproduce the batch LM eval exactly")
  }

  test("s37 streaming near-dup admission verdicts equal batch q107's") {
    // the streamed ticks must converge to the batch admission decision
    // exactly — same ingest construction, same J >= 0.6 contract
    val batch = run("q107_incremental_neardup_ingest").collect().toSet
    val stream = run("s37_stream_neardup_ingest").collect().toSet
    assert(batch == stream,
      s"stream verdicts diverged from batch:\nbatch=$batch\nstream=$stream")
  }

  test("connectedComponents resolves a chain crossing several checkpoints") {
    import spark.implicits._
    // path graph 0-1-2-...-12: diameter 12 needs >10 iterations, so the
    // label frame is localCheckpoint'ed at iterations 5 and 10 — this
    // pins that lineage truncation does not change the fixpoint.
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 13 && labels.values.forall(_ == 0L),
      "one component labeled by its min node")
  }

  test("connectedComponents fails loudly when diameter exceeds the cap") {
    import spark.implicits._
    // path graph of 31 nodes: diameter 30 > maxIter 25 — an un-converged
    // exit would return plausible-looking SPLIT clusters (wrong data),
    // so the loop must throw instead.
    val pairs = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("q30 embedding near-dups are exactly the perturbed construction pairs") {
    import spark.implicits._
    val rows = run("q30_embedding_neardup")
      .select("orig_id", "pert_id").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (o, p) => p == o + 100000 && o % 5 == 0 })
  }

  test("q42 SRP-LSH finds most constructed near-dups (recall of the bucketing)") {
    import spark.implicits._
    val found = run("q42_srp_lsh_embedding_neardup")
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .count { case (a, b) => b == a + 100000 }
    val total = run("q30_embedding_neardup").count()
    assert(total > 0)
    val recall = found.toDouble / total
    assert(recall >= 0.7, s"SRP band recall $recall below 0.7 — bucketing broken")
  }

  test("q279 novelty buckets partition batch docs; s45 equals batch") {
    import spark.implicits._
    val batch = run("q279_ingest_novelty_audit")
    val rows = batch
      .select("n_docs", "grams_total", "grams_novel", "mean_novelty_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nd, gt, gn, mean) =>
      assert(nd > 0 && gn <= gt, "novel grams cannot exceed total grams")
      assert(mean >= 0 && mean <= 1000000, s"mean_novelty_ppm=$mean")
    }
    assert(batch.collect().toSet ==
      run("s45_stream_ingest_novelty").collect().toSet,
      "the at-ingest novelty report must equal the batch audit")
  }

  test("q282 int8 quantization: max element exact, error bounded by one step") {
    import spark.implicits._
    val rows = run("q282_int8_quantization_audit")
      .select("n_vecs", "n_elems", "n_saturated", "max_err127",
        "mean_err127", "rel_err_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nv, ne, sat, mx, mean, rel) =>
      // each vector's max-|x| element quantizes to exactly 127
      assert(sat >= nv, "every vector's scale element must saturate")
      assert(ne >= nv && mean <= mx, s"mean=$mean max=$mx")
      // err127 = ||x|*127 - q*mx| <= mx (round-half + trunc slack)
      assert(rel >= 0 && rel < 10000,
        s"int8 relative error $rel ppm implausibly large")
    }
  }

  test("q283 gate interaction: joint failures bounded by marginals") {
    import spark.implicits._
    val rows = run("q283_gate_interaction_matrix")
      .select("n_fail_a", "n_fail_b", "n_fail_both", "jaccard_ppm")
      .as[(Long, Long, Long, Option[Long])].collect()
    assert(rows.length == 6, "4 gates yield exactly 6 unordered pairs")
    rows.foreach { case (a, b, both, j) =>
      assert(both <= math.min(a, b), "joint failure set is an intersection")
      j.foreach(v => assert(v >= 0 && v <= 1000000, s"jaccard_ppm=$v"))
    }
  }

  test("q284 chat render: turn and mask accounting are self-consistent") {
    import spark.implicits._
    val rows = run("q284_chat_template_render")
      .select("n_convs", "n_turns", "n_asst_turns", "total_tokens",
        "asst_tokens", "n_dangling", "mask_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nc, nt, na, tt, at, dang, mask) =>
      // per conv: users = ceil(n/2), assistants = floor(n/2), so the
      // user surplus counts exactly the odd-length (dangling) convs
      assert(nt - 2 * na == dang, s"nt=$nt na=$na dang=$dang")
      assert(na < nt, "role alternation starts with user")
      assert(at <= tt && dang <= nc, "mask and dangling are subsets")
      assert(mask > 0 && mask < 1000000, s"mask_ppm=$mask degenerate")
    }
  }

  test("q285 count-min never undercounts and top-20 is exact-ranked") {
    import spark.implicits._
    val rows = run("q285_countmin_sketch")
      .select("n_exact", "n_est", "overcount")
      .as[(Long, Long, Long)].collect()
    assert(rows.length == 20)
    rows.foreach { case (ex, est, over) =>
      assert(est >= ex, "CMS point estimates can never undercount")
      assert(over == est - ex)
    }
  }

  test("q286 context curve: truncation is monotone decreasing in L") {
    import spark.implicits._
    val rows = run("q286_context_length_curve")
      .select("ctx_len", "source", "docs_cut", "tokens_trunc")
      .as[(Long, String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._2).values.foreach { perSrc =>
      perSrc.sortBy(_._1).sliding(2).foreach {
        case Array(lo, hi) =>
          assert(hi._3 <= lo._3 && hi._4 <= lo._4,
            "longer context can only cut fewer docs/tokens")
        case _ => ()
      }
    }
  }

  test("q287 label-noise suspects are bounded by their label populations") {
    import spark.implicits._
    val rows = run("q287_label_noise_audit")
      .select("n_docs", "n_good", "n_suspect_good", "n_suspect_bad",
        "noise_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nd, ng, sg, sb, noise) =>
      assert(sg <= ng && sb <= nd - ng, "suspects must come from their class")
      assert(noise <= 1000000)
    }
    // the dead zone must leave SOME docs unflagged somewhere
    assert(rows.map(r => r._1 - r._3 - r._4).sum > 0)
  }

  test("s46 stream-built count-min serves q285's estimates bit-for-bit") {
    val batch = run("q285_countmin_sketch").collect().toSet
    val stream = run("s46_stream_countmin_sketch").collect().toSet
    assert(batch == stream,
      "additive cell merge must reproduce the batch sketch exactly")
  }

  test("q288 epoch reshuffle: balanced shards, independent permutations") {
    import spark.implicits._
    val rows = run("q288_epoch_reshuffle_audit")
      .select("epoch", "n_docs", "min_shard", "max_shard",
        "stay_from_prev_ppm")
      .as[(Long, Long, Long, Long, Option[Long])].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L))
    rows.foreach { case (e, n, mn, mx, stay) =>
      assert(mn * 8 <= n && n <= mx * 8, "min/max must straddle n/8")
      if (e == 0) assert(stay.isEmpty)
      else stay.foreach(v => assert(v > 60000 && v < 250000,
        s"epoch $e stay_ppm=$v far from the 1/8 independence point"))
    }
  }

  test("q289 divergence matrix covers all source pairs within TV bounds") {
    import spark.implicits._
    val rows = run("q289_source_divergence_matrix")
      .select("source_a", "source_b", "l1_ppm")
      .as[(String, String, Long)].collect()
    val n = rows.flatMap(r => Seq(r._1, r._2)).distinct.length
    assert(rows.length == n * (n - 1) / 2, "one row per unordered pair")
    rows.foreach { case (a, b, l1) =>
      assert(a < b && l1 >= 0 && l1 <= 2000000,
        s"L1 of two distributions lies in [0, 2] — got $l1 for ($a,$b)")
    }
  }

  test("q290 split repair: clusters become split-atomic, docs conserved") {
    import spark.implicits._
    val rows = run("q290_cluster_split_repair")
      .select("n_before", "n_after", "moved_out", "moved_in",
        "straddle_before", "straddle_after")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length == 3, "train/val/test")
    assert(rows.map(_._1).sum == rows.map(_._2).sum,
      "repair moves docs between splits, never adds or drops")
    assert(rows.map(_._3).sum == rows.map(_._4).sum,
      "every move out lands somewhere")
    rows.foreach { case (_, _, _, _, sb, sa) =>
      assert(sa == 0L, "repaired clusters must be split-atomic")
      assert(sb >= sa, "repair cannot create straddling")
    }
  }

  test("q291 vocab growth: cumulative monotone, yield front-loaded") {
    import spark.implicits._
    val rows = run("q291_vocab_growth_curve")
      .select("first_bkt", "new_types", "vocab_cum", "new_per_mtok")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length == 8, "all 8 growth increments must report")
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b._3 >= a._3, "vocab_cum must not shrink")
      case _ => ()
    }
    assert(rows.head._4 > rows.tail.map(_._4).max * 10,
      "Heaps: the first increment dominates the new-type yield")
  }

  test("q292 sampling audit: counts extrapolate, vocabulary does not") {
    import spark.implicits._
    val rows = run("q292_sampling_error_audit")
      .select("stat", "full_value", "sample_est", "err_ppm")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(rows.keySet ==
      Set("n_docs", "tokens", "mean_tokens_milli", "vocab"))
    assert(rows("n_docs")._4 < 300000 && rows("tokens")._4 < 300000,
      "a 1/16 hash sample estimates counts within 30%")
    assert(rows("vocab")._4 > rows("tokens")._4,
      "vocabulary must extrapolate worse than token counts (Heaps)")
  }

  test("q35 multimodal metadata matches a directly-computed decode") {
    import spark.implicits._
    val r = run("q35_multimodal_metadata")
      .filter("doc_id = 0")
      .as[graft.functions.MediaMeta].head()
    val text = graft.Tables(spark, dir, "documents")
      .filter("doc_id = 0").select("text").as[String].head()
    val expect = new graft.functions.FakeMediaDecoder().decode(0L, text.getBytes("UTF-8"))
    assert(r == expect)
  }

  test("q361 noise_ppm matches an independent BigInt recomputation") {
    import spark.implicits._
    // recompute per-(type, batch) sums driver-side from the fixture
    // (bounded: <= 5 types x 16 batches cells) and verify the variance
    // identity 1e6*(B*SS - S^2)/S^2 in exact BigInt arithmetic
    val cells = graft.Tables(spark, dir, "events")
      .filter(col("user_id") >= 0)
      .selectExpr("event_type", "user_id % 16 AS batch",
        "cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc")
      .groupBy("event_type", "batch").agg(sum("vc").as("g"))
      .as[(String, Long, Long)].collect() // bounded: <= 80 cells
    val expect = cells.groupBy(_._1).map { case (t, xs) =>
      val b = BigInt(xs.length)
      val s = xs.map(x => BigInt(x._3)).sum
      val ss = xs.map(x => BigInt(x._3) * x._3).sum
      t -> ((b * ss - s * s) * 1000000 / (s * s))
    }
    val got = run("q361_gradient_noise_scale")
      .select("event_type", "noise_ppm", "n_batches", "bcrit_milli")
      .as[(String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (t, noise, b, bcrit) =>
      assert(noise >= 0, s"$t: Cauchy-Schwarz keeps noise >= 0")
      assert(BigInt(noise) == expect(t), s"$t: $noise != ${expect(t)}")
      assert(bcrit == b * noise / 1000)
    }
  }

  test("q362 schedule laws: warmup continuity, monotone decay, exact isqrt") {
    import spark.implicits._
    val rows = run("q362_lr_schedule_audit")
      .select("source", "t", "lr_ppm", "phase")
      .as[(String, Long, Long, String)].collect()
    assert(rows.nonEmpty)
    // continuity: at t = 100 both formulas give exactly base = 500
    val atW = rows.filter(_._2 == 100L)
    assert(atW.nonEmpty && atW.forall(_._3 == 500L),
      s"warmup end must be exactly base: ${atW.toSeq}")
    // monotone non-increasing within each source past warmup
    rows.groupBy(_._1).foreach { case (src, xs) =>
      val decay = xs.filter(_._2 >= 100L).sortBy(_._2)
      decay.sliding(2).foreach {
        case Array((_, t1, l1, _), (_, t2, l2, _)) =>
          assert(l2 <= l1, s"$src: lr rose $l1 -> $l2 at t $t1 -> $t2")
        case _ => ()
      }
    }
    // decay rows equal BigInt isqrt(25000000 / t) exactly
    def isqrt(n: BigInt): BigInt = {
      var x = BigInt(1) << (n.bitLength / 2 + 1)
      var y = (x + n / x) >> 1
      while (y < x) { x = y; y = (x + n / x) >> 1 }
      x
    }
    rows.filter(_._4 == "decay").foreach { case (src, t, lr, _) =>
      assert(BigInt(lr) == isqrt(BigInt(25000000L / t)),
        s"$src t=$t: $lr != isqrt(${25000000L / t})")
    }
  }

  test("q363 novelty: a replayed doc is zero-novel, the first doc all-novel") {
    import spark.implicits._
    // independent Scala-set recomputation at sf0.001 (bounded corpus):
    // distinct 5-gram sets per doc, first occurrence by doc_id order —
    // also proves the md5-prefix gram hashing introduced no collisions
    val docs = graft.Tables(spark, dir, "documents")
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect().sortBy(_._1)
    def grams(t: String): Set[String] = {
      val w = t.split(" ").filter(_.nonEmpty)
      if (w.length < 5) Set.empty
      else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val seen = scala.collection.mutable.Set.empty[String]
    val perSource =
      scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    docs.foreach { case (_, src, text) =>
      val g = grams(text)
      if (g.nonEmpty) {
        val novel = g.count(!seen.contains(_))
        seen ++= g
        val (d, m, n) = perSource.getOrElse(src, (0L, 0L, 0L))
        perSource(src) = (d + 1, m + g.size, n + novel)
      }
    }
    val got = run("q363_ngram_novelty")
      .select("source", "n_docs", "gram_mass", "novel_mass")
      .as[(String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (src, d, m, n) =>
      assert(perSource(src) == ((d, m, n)),
        s"$src: got ($d,$m,$n) want ${perSource(src)}")
    }
    // the corpus-min doc with grams is all-novel by definition: its
    // source's novel mass must be at least its own gram count
    val first = docs.find(r => grams(r._3).nonEmpty).get
    assert(perSource(first._2)._3 >= grams(first._3).size.toLong,
      "the first doc's grams all first-occur there")
  }

  test("q364 order skew matches a per-user sequential recomputation") {
    import spark.implicits._
    val evs = graft.Tables.events(spark, dir)
      .select("user_id", "event_id", "event_type", "ts_us")
      .as[(Long, Long, String, Long)].collect() // bounded: sf0.001 fixture
    val byType =
      scala.collection.mutable.Map.empty[String, (Long, Long, Long, Long)]
    evs.groupBy(_._1).foreach { case (_, xs) =>
      var runMax = Long.MinValue
      xs.sortBy(_._2).foreach { case (_, _, t, ts) =>
        val late = if (runMax != Long.MinValue && ts < runMax) 1L else 0L
        val back =
          if (runMax == Long.MinValue) 0L else math.max(0L, runMax - ts)
        val (n, l, mb, sb) = byType.getOrElse(t, (0L, 0L, 0L, 0L))
        byType(t) = (n + 1, l + late, math.max(mb, back), sb + back)
        runMax = math.max(runMax, ts)
      }
    }
    val got = run("q364_event_order_skew")
      .select("event_type", "n_events", "late_events", "max_backward_us",
        "sum_backward_us")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (t, n, l, mb, sb) =>
      assert(byType(t) == ((n, l, mb, sb)),
        s"$t: got ($n,$l,$mb,$sb) want ${byType(t)}")
    }
  }

  test("q365 closed-form mask equals the per-position simulation (L <= 200)") {
    // positions 0-15 user, 16-31 assistant, repeating; trainable =
    // assistant positions — the closed form must match exactly for
    // every length, including the partial-turn boundary cases
    (0 to 200).foreach { l =>
      val simulated = (0 until l).count(p => (p / 16) % 2 == 1)
      val closed = (l / 32) * 16 + math.max(0, l % 32 - 16)
      assert(closed == simulated, s"L=$l: closed $closed != sim $simulated")
    }
  }

  test("q366 padding laws by exhaustive simulator; q365/q366 fixture rollups agree") {
    import spark.implicits._
    // exhaustive: padded is the least quantum multiple >= L, waste < q
    for (l <- 0 to 1000; cp <- Seq(1, 2, 4, 8)) {
      val q = cp * 64
      val padded = if (l == 0) 0L else ((l + q - 1) / q).toLong * q
      assert(padded % q == 0 && padded - l >= 0 &&
        (l == 0 || (padded - l < q && padded >= l)))
    }
    // fixture-level conservation: waste = padded - raw in the report
    val rows = run("q366_context_parallel_padding")
      .select("cp", "raw_tokens", "padded_tokens", "waste_tokens")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length == 4)
    rows.foreach { case (_, raw, padded, waste) =>
      assert(waste == padded - raw && padded >= raw)
    }
    // cp=1 wastes no more than cp=8 in ppm terms (coarser quantum pads more)
    val byCp = rows.map(r => r._1 -> (r._3 - r._2)).toMap
    assert(byCp(1L) <= byCp(8L))
    // q365 rollup: trainable <= total per source, and the per-source
    // masses conserve against a direct fixture aggregate
    val m = run("q365_chat_mask_accounting")
      .select("source", "total_tokens", "train_tokens")
      .as[(String, Long, Long)].collect()
    assert(m.nonEmpty && m.forall { case (_, tot, tr) =>
      tr <= tot && tr >= 0 })
    val fixtureTotal = graft.Tables(spark, dir, "documents")
      .selectExpr("CAST(size(filter(split(text,' '), w -> w <> '')) AS BIGINT) AS l")
      .agg(sum("l")).as[Long].head()
    assert(m.map(_._2).sum == fixtureTotal,
      "per-source token masses must conserve the corpus total")
  }
  test("q368 chi-square: contributions sum to the total, uniform table is 0") {
    import spark.implicits._
    val rows = run("q368_lang_source_independence")
      .select("lang", "lang_chi_micro", "chi_micro", "dof")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val chi = rows.head._3
    assert(rows.forall(_._3 == chi))
    assert(rows.map(_._2).sum == chi,
      "per-lang contributions must sum exactly to the global chi")
    assert(rows.forall(_._4 == (rows.length - 1) * 19),
      "dof = (langs-1)(sources-1) with the fixture's 20 sources")
    // uniform-table zero law in exact BigInt: an independent (outer-
    // product) table obs(i,j) = a_i * b_j has row_i = a_i*Σb,
    // col_j = b_j*Σa, N = Σa*Σb, so d = obs*N − row*col = 0 for every
    // cell and chi = 0 exactly — no truncation artifact can appear
    val a = Seq(1L, 2L, 3L)
    val b = Seq(1L, 2L, 3L, 4L)
    val total = a.sum * b.sum
    val chiUniform = (for (ai <- a; bj <- b) yield {
      val d = BigInt(ai * bj) * total - BigInt(ai * b.sum) * (bj * a.sum)
      d * d * 1000000 / (BigInt(total) * (ai * b.sum) * (bj * a.sum))
    }).sum
    assert(chiUniform == 0)
  }

  test("q369 pair Jaccard matches an independent Scala-set recomputation") {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
      .select("source", "text").as[(String, String)].collect()
    def grams(t: String): Set[String] = {
      val w = t.split(" ").filter(_.nonEmpty)
      if (w.length < 5) Set.empty else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val bySrc = docs.groupBy(_._1).map { case (s0, xs) =>
      s0 -> xs.iterator.flatMap(x => grams(x._2)).toSet }
    val got = run("q369_source_overlap_matrix")
      .select("src_a", "src_b", "inter", "uni", "jaccard_ppm")
      .as[(String, String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (sa, sb, inter, uni, j) =>
      assert(sa < sb, "pairs are emitted once, lexicographically")
      val ei = (bySrc(sa) intersect bySrc(sb)).size.toLong
      val eu = (bySrc(sa) union bySrc(sb)).size.toLong
      assert((inter, uni) == ((ei, eu)), s"$sa/$sb: ($inter,$uni) != ($ei,$eu)")
      assert(j == inter * 1000000L / uni && j <= 1000000L)
    }
  }

  test("q370 entropy matches the quantized recomputation and the ln(V) bound") {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
      .select("source", "text").as[(String, String)].collect()
    val got = run("q370_source_token_entropy")
      .select("source", "tokens", "vocab", "entropy_micro_nats")
      .as[(String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (src, t, v, h) =>
      val counts = docs.filter(_._1 == src)
        .flatMap(_._2.split(" ").filter(_.nonEmpty))
        .groupBy(identity).map(_._2.length.toLong)
      assert(counts.sum == t && counts.size.toLong == v)
      val mass = counts.map(c =>
        BigInt(c) * math.round(math.log(t.toDouble / c) * 1e6)).sum
      assert(BigInt(h) == mass / t, s"$src: $h != ${mass / t}")
      // Jensen: H <= ln(vocab), +1 micro-nat rounding slack
      assert(h <= math.round(math.log(v.toDouble) * 1e6) + 1)
    }
  }

  test("q371/s70 novelty poles: verbatim re-crawls 0, fresh items 1e6") {
    import spark.implicits._
    val rows = run("q371_incremental_novelty_tick")
      .select("cls", "novel_mass", "gram_mass", "novelty_ppm")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(rows.keySet == Set("fresh", "recrawl"))
    assert(rows("recrawl")._2 == 0L && rows("recrawl")._4 == 0L,
      "a verbatim re-crawl's grams are ALL in the standing index")
    assert(rows("fresh")._2 == rows("fresh")._3 &&
      rows("fresh")._4 == 1000000L,
      "fresh items' id-bearing grams can never pre-exist in the corpus")
  }
  test("q373 leakage matches a driver-side digest recomputation") {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect()
    val planted = docs ++ docs.filter(_._1 % 5 == 0)
      .map { case (id, s0, t) => (id + 900000L, s0, t) }
    def md5hex(s0: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s0.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def isEval(id: Long): Boolean =
      java.lang.Long.parseLong(md5hex(s"sp_$id").take(15), 16) % 20 == 0
    val tagged = planted.map { case (id, s0, t) =>
      (s0, md5hex(t), isEval(id)) }
    val leak = tagged.groupBy(_._2).collect {
      case (d, xs) if xs.exists(_._3) && xs.exists(!_._3) => d }.toSet
    val expect = tagged.groupBy(_._1).map { case (s0, xs) =>
      val ev = xs.count(_._3)
      val lk = xs.count(x => x._3 && leak(x._2))
      s0 -> (xs.size - ev, ev, lk, ev - lk)
    }
    val got = run("q373_eval_split_leakage")
      .select("source", "train_docs", "eval_docs", "leaked_eval_docs",
        "eval_clean")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (s0, tr, ev, lk, cl) =>
      val (etr, eev, elk, ecl) = expect(s0)
      assert((tr, ev, lk, cl) == ((etr.toLong, eev.toLong, elk.toLong,
        ecl.toLong)), s"$s0: ($tr,$ev,$lk,$cl) != $expect")
    }
    // the planted copies guarantee leakage exists somewhere at sf0.001
    assert(got.map(_._4).sum > 0, "plant must produce cross-split dups")
  }
}
