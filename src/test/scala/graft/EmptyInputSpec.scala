package graft

import org.apache.spark.sql.DataFrame
import graft.ops.{Analytics, Corpus, Dedup, TextAnalysis}

/** Empty-input sweep: every operator must return a well-formed (usually
  * empty) frame on a zero-row input, never throw and never emit NULL
  * aggregates where the contract says counts (the curationFunnel
  * sum-over-zero-groups bug class). Deletion pipelines meet empty
  * partitions constantly at 100 TB — an operator that NPEs on one is
  * not deployable.
  */
class EmptyInputSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val noDocs: DataFrame =
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private lazy val noEvents: DataFrame =
    Seq.empty[(Long, Long, String, Double, java.sql.Timestamp)]
      .toDF("event_id", "user_id", "event_type", "value", "ts")

  test("document operators survive an empty corpus") {
    assert(TextAnalysis.blocklistStats(noDocs).count() == 0)
    assert(TextAnalysis.sourceSimilarity(noDocs).count() == 0)
    assert(TextAnalysis.vocabCoverage(noDocs).count() == 0)
    assert(TextAnalysis.docStats(noDocs).count() == 0)
    assert(TextAnalysis.langId(noDocs).count() == 0)
    assert(Corpus.systematicSample(noDocs).count() == 0)
    assert(Corpus.dataCard(noDocs).count() == 0)
    assert(Corpus.domainCap(noDocs).count() == 0)
    assert(Dedup.exactDedup(noDocs).count() == 0)
    // the funnel REPORT is defined on empty input: a 0/0/0 funnel
    val funnel = Corpus.curationFunnel(noDocs).collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_docs"))).toMap
    assert(funnel == Map("input" -> 0L, "kept" -> 0L, "dropped" -> 0L))
  }

  test("round-9 text/embedding additions survive empty inputs") {
    assert(TextAnalysis.ngramDiversity(noDocs).count() == 0)
    assert(TextAnalysis.zipfSlope(noDocs).count() == 0)
    assert(TextAnalysis.tokenEntropy(noDocs).count() == 0)
    assert(TextAnalysis.logisticQuality(noDocs).count() == 0)
    assert(TextAnalysis.pmiCollocations(noDocs).count() == 0)
    val noVecs = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(graft.ops.Similarity.pcaVariance(noVecs).count() == 0)
    // global typed aggregate yields one buffer row that unrolls to zero
    // covariance entries (the n==0 guard)
    assert(graft.ops.Similarity.covarianceMatrix(noVecs).count() == 0)
    assert(graft.ops.Similarity.knnClassify(noVecs, noVecs).count() == 0)
    assert(graft.ops.Similarity.labelSilhouette(noVecs).count() == 0)
  }

  test("event operators survive an empty stream") {
    assert(Analytics.eventSummary(noEvents).count() == 0)
    assert(Analytics.typeCounts(noEvents).count() == 0)
    assert(Analytics.hourlyAnomalies(noEvents).count() == 0)
    assert(Analytics.retentionCohorts(noEvents).count() == 0)
    assert(Analytics.activeUsers(noEvents).count() == 0)
    assert(Analytics.eventTransitions(noEvents).count() == 0)
    assert(Analytics.userSessions(noEvents).count() == 0)
    // funnel and contract REPORTS stay rule/step-sized with zero counts
    val f = Analytics.stepFunnel(noEvents).collect()
      .map(r => (r.getAs[Long]("step_idx"), r.getAs[Long]("n_users")))
    assert(f.toSeq == Seq((1L, 0L), (2L, 0L), (3L, 0L)))
    // null-strict: getAs[Long] silently unboxes NULL to 0, so assert
    // non-null explicitly — the report must carry real zeros
    val cRows = Analytics.dataContract(noEvents).collect()
    assert(cRows.length == 6)
    cRows.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("n_violations")),
        s"NULL violation count for ${r.getAs[String]("rule")}")
      assert(r.getAs[Long]("n_violations") == 0L)
    }
    val skew = Analytics.keySkew(noEvents).count()
    assert(skew == 0 || skew == 2) // per-dim rows may vanish or report n_keys=0
  }

  test("third-session operators survive empty inputs") {
    assert(Analytics.campaignWindowJoin(noEvents).count() == 0)
    assert(Analytics.changeCapture(noEvents).count() == 0)
    assert(Analytics.chiSquare(noEvents).count() == 0)
    assert(Analytics.ksTest(noEvents).count() == 0)
    assert(Analytics.psiDrift(noEvents).count() == 0)
    assert(Analytics.trimmedStats(noEvents).count() == 0)
    assert(Analytics.typeAffinity(noEvents).count() == 0)
    assert(Analytics.eventTrigrams(noEvents).count() == 0)
    assert(Analytics.volumeAcf(noEvents).count() == 0)
    assert(Analytics.incrementalRollup(noEvents).count() == 0)
    // summary-row reports are DEFINED on empty input: real zero counters,
    // null latency stats (nothing converted from nothing)
    val cl = Analytics.conversionLatency(noEvents).head()
    assert(cl.getAs[Long]("n_viewers") == 0L &&
      cl.getAs[Long]("n_converted") == 0L)
    val noLi = Seq.empty[(Long, Long, Double, Double)]
      .toDF("l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
    assert(graft.ops.Relational.basketPairs(noLi).count() == 0)
    assert(graft.ops.Relational.revenueConcentration(noLi).count() == 0)
    assert(graft.ops.Graph.degreeDistribution(noLi).count() == 0)
    val tri = graft.ops.Graph.triangleCount(noLi).head()
    assert(tri.getAs[Long]("n_nodes") == 0L &&
      tri.getAs[Long]("n_triangles") == 0L &&
      tri.getAs[Long]("clustering_e4") == 0L)
    val noOrders = Seq.empty[(Long, Long, Double, java.sql.Timestamp)]
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    assert(graft.ops.Relational.rfmSegments(noOrders).count() == 0)
    assert(graft.ops.Relational.revenueGrowth(noOrders).count() == 0)
    assert(graft.ops.Relational.benfordDigits(noOrders).count() == 0)
  }

  test("fourth-session operators survive empty inputs") {
    val noEventsFull = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(Analytics.timeWeightedValue(noEventsFull).count() == 0)
    assert(Analytics.madOutliers(noEventsFull).count() == 0)
    assert(Analytics.entryExitFlows(noEventsFull).count() == 0)
    assert(Analytics.cohortLtv(noEventsFull).count() == 0)
    assert(Analytics.scd2Lookup(noEventsFull).count() == 0)
    assert(Analytics.attributionSplit(noEventsFull).count() == 0)
    assert(Analytics.userBursts(noEventsFull).count() == 0)
    assert(Analytics.rollingHourCount(noEventsFull).count() == 0)
    assert(Analytics.throttle(noEventsFull).count() == 0)
    val noLiFull = Seq.empty[(Long, Long, Long, Int, Double, Double, Double,
        Double, String, String, java.sql.Timestamp)]
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val noOrders = Seq.empty[(Long, Long, String, Double, java.sql.Timestamp, String)]
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val noSupp = Seq.empty[(Long, String, Int, Double)]
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    assert(graft.ops.Relational.orderBacklog(noOrders, noLiFull).count() == 0)
    assert(graft.ops.Relational.topSupplier(noLiFull, noSupp).count() == 0)
    assert(graft.ops.Relational.supplierConcentration(noLiFull).count() == 0)
    assert(graft.ops.Relational.soleBlameSuppliers(noLiFull, noOrders, noSupp)
      .count() == 0)
    assert(graft.ops.Relational.orderLatency(noOrders, noLiFull).count() == 0)
    val noParts = Seq.empty[(Long, String, String, String, Int, Double)]
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
    assert(graft.ops.Relational.paretoFrontier(noParts).count() == 0)
    assert(TextAnalysis.qualityYieldCurve(noDocs).count() == 0)
    assert(Corpus.sourceNgramOverlap(noDocs).count() == 0)
  }

  test("fifth-session additions survive empty inputs") {
    val noEventsFull =
      Seq.empty[(Long, Long, String, Double, java.sql.Timestamp)]
        .toDF("event_id", "user_id", "event_type", "value", "ts")
    assert(Analytics.markovEval(noEventsFull).count() == 0)
    assert(Analytics.disorderProfile(noEventsFull).count() == 0)
    assert(Analytics.cupedLift(noEventsFull).count() == 0)
    assert(Analytics.stateSizing(noEventsFull).count() == 0)
    assert(Analytics.churnLabels(noEventsFull).count() == 0)
    assert(Analytics.survivalCurve(noEventsFull).count() == 0)
    assert(Analytics.srmCheck(noEventsFull).count() == 0)
    assert(graft.ops.Privacy.kAnonymity(noEventsFull).count() == 0)
    assert(graft.ops.Privacy.forgetAudit(noEventsFull).count() == 0)
    // skip-audit grid rows exist only where blocks exist → empty
    assert(graft.ops.Layout.pruneEffectiveness(noEventsFull).count() == 0)
    assert(Corpus.weightedSample(noDocs).count() == 0)
    assert(Corpus.sampleAllocation(noDocs).count() == 0)
    assert(Dedup.dedupThresholdSweep(noDocs).collect()
      .forall(_.getAs[Long]("n_pairs") == 0L)) // grid rows, zero counts
    assert(TextAnalysis.prCurve(noDocs).collect()
      .forall(_.getAs[Long]("tp") == 0L))
    val noVecs = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(graft.ops.Similarity.matryoshkaAudit(noVecs).count() == 0)
    assert(graft.ops.Similarity.embeddingDrift(noVecs).count() == 0)
    val noOrders2 = Seq.empty[(Long, Long, String, Double, java.sql.Timestamp, String)]
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val noCust = Seq.empty[(Long, String, Long)]
      .toDF("c_custkey", "c_name", "c_nationkey")
    assert(graft.ops.Relational.incrementalJoinView(noOrders2, noCust).count() == 0)
    assert(graft.ops.Relational.joinCardinalityEstimate(noOrders2, noCust).count() == 0)
    assert(graft.ops.Relational.equiDepthHistogram(noOrders2).count() == 0)
    assert(graft.ops.Relational.jackknifeMean(noOrders2).count() == 0)
    assert(graft.ops.Layout.encodingAdvisor(noOrders2).count() == 0)
    assert(graft.ops.Multimodal.shardPlan(
      Seq.empty[(Long, Array[Byte])].toDF("asset_id", "content")).count() == 0)
  }

  test("sixth-session operators survive empty inputs") {
    val noEventsFull =
      Seq.empty[(Long, Long, String, Double, java.sql.Timestamp)]
        .toDF("event_id", "user_id", "event_type", "value", "ts")
    assert(graft.ops.Sketch.kmvDistinct(noEventsFull).count() == 0)
    assert(graft.ops.Sketch.kmvUnion(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.removalEffect(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.cepPattern(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.cusum(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.theilSen(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.nativeSessionWindow(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.journeyPrefixes(noEventsFull).count() == 0)
    // rollup over empty input emits nothing — no grand-total row either
    assert(graft.ops.Analytics.tableChecksum(noEventsFull).count() == 0)
    val noOrders4 = Seq.empty[(Long, Double)].toDF("o_orderkey", "o_totalprice")
    assert(graft.ops.Relational.medianCI(noOrders4).count() == 0)
    // an absent arm collapses the cross join: zero rows, never a throw
    assert(graft.ops.Analytics.welchTTest(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.targetEncoding(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.funnelArmTest(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.upliftDeciles(noEventsFull).count() == 0)
    // global agg row is defined on empty: 0 folds, null spread
    val fs = graft.ops.Analytics.foldStability(noEventsFull).collect().head
    assert(fs.getAs[Long]("n_folds") == 0L &&
      fs.isNullAt(fs.fieldIndex("fold_sd_cents")))
    val mw = graft.ops.Analytics.mannWhitney(noEventsFull).collect().head
    assert(mw.getAs[Long]("n_a") == 0L && mw.getAs[Long]("n_b") == 0L &&
      mw.isNullAt(mw.fieldIndex("z_e4")))
    assert(graft.ops.TextAnalysis.featureHashAudit(noDocs).count() == 0)
    assert(graft.ops.TextAnalysis.nucleusVocab(noDocs).count() == 0)
    val ck = graft.ops.TextAnalysis.cohenKappa(noDocs).collect().head
    assert(ck.getAs[Long]("n") == 0L && ck.isNullAt(ck.fieldIndex("kappa_e4")))
    val bs = graft.ops.Dedup.bloomSizing(noDocs).collect()
    assert(bs.length == 12)
    assert(bs.forall(r => r.getAs[Long]("n_keys") == 0L &&
      r.isNullAt(r.fieldIndex("bpk_e2")) && r.getAs[Long]("fpp_e9") == 0L))
    // defined on empty: a 0/0 report with a null ratio, never a throw
    val ng = graft.ops.TextAnalysis.ndcgEval(noDocs).collect().head
    assert(ng.getAs[Long]("dcg_e9") == 0L &&
      ng.isNullAt(ng.fieldIndex("ndcg_e4")))
    // grid-preserving: one row per MDE with null sizes, n_users = 0
    val pw = graft.ops.Analytics.abPower(noEventsFull).collect()
    assert(pw.length == 4)
    assert(pw.forall(r => r.getAs[Long]("n_users") == 0L &&
      r.isNullAt(r.fieldIndex("n_per_arm"))))
    assert(graft.ops.Privacy.contributionBound(noEventsFull).count() == 0)
    // grid-preserving sweep: 8 config rows, all-zero expectations
    assert(graft.ops.Dedup.lshTuningSweep(noDocs).collect()
      .forall(r => r.getAs[Long]("n_pairs_total") == 0L &&
        r.getAs[Long]("exp_caught_e6") == 0L))
    val noVecs = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(graft.ops.Similarity.kCenterSelect(noVecs).count() == 0)
    // a global statistic row is defined on empty input: zero orders, no
    // replicas survive, null mean/SE rather than a division error
    val noOrders3 = Seq.empty[(Long, Double)].toDF("o_orderkey", "o_totalprice")
    val boot = graft.ops.Relational.poissonBootstrapSE(noOrders3).collect()
    assert(boot.length == 1)
    assert(boot.head.getAs[Long]("n_orders") == 0L)
    assert(boot.head.isNullAt(boot.head.fieldIndex("boot_se_cents")))
  }

  test("round-10 operators survive empty inputs") {
    val noOrders = Seq.empty[(Long, Double)].toDF("o_orderkey", "o_totalprice")
    assert(graft.ops.Sketch.quantileSketch(noOrders).count() == 0)
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.ops.Similarity.kCenterSampled(noVecs).count() == 0)
    val noEventsFull =
      Seq.empty[(Long, Long, String, Double, java.sql.Timestamp)]
        .toDF("event_id", "user_id", "event_type", "value", "ts")
    // intersect emits its single global-statistic row (all zeros, null
    // error) on empty input — the poissonBootstrapSE convention
    val ki = graft.ops.Sketch.kmvIntersect(noEventsFull).collect()
    assert(ki.length == 1 && ki.head.getAs[Long]("true_intersect") == 0L)
    assert(graft.ops.Sketch.countMin(noEventsFull).count() == 0)
    // diff follows the intersect convention: one all-zeros row
    val kd = graft.ops.Sketch.kmvDiff(noEventsFull).collect()
    assert(kd.length == 1 && kd.head.getAs[Long]("true_diff") == 0L)
    assert(graft.ops.Sketch.amsF2(noEventsFull).count() == 0)
    val noOrders2 = Seq.empty[(Long, Long, Double)]
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    assert(graft.ops.Relational.skyline(noOrders2).count() == 0)
    val noParts = Seq.empty[(Long, String, String, String)]
      .toDF("p_partkey", "p_name", "p_brand", "p_type")
    assert(graft.ops.Dedup.fuzzyJoin(noParts).count() == 0)
    assert(graft.ops.Analytics.bhFdr(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.changePoints(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.slidingDistinct(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.treeSplit(noEventsFull).count() == 0)
    val noLi = Seq.empty[(Long, Long)].toDF("l_orderkey", "l_partkey")
    // an empty graph still emits the (empty) source frame: zero rows
    assert(graft.ops.Graph.shortestPaths(noLi).count() == 0)
    val noDocs2 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ops.TextAnalysis.phraseSearch(noDocs2).count() == 0)
    assert(graft.ops.Intervals.intervalCoalesce(noEventsFull).count() == 0)
    val noOrders3 = Seq.empty[(Long, Double, java.sql.Timestamp)]
      .toDF("o_orderkey", "o_totalprice", "o_orderdate")
    assert(graft.ops.Layout.compactionPlan(noOrders3).count() == 0)
    val noLi2 = Seq.empty[(Double, Double, Double)]
      .toDF("l_quantity", "l_discount", "l_extendedprice")
    // sufficient-statistic row survives empty input (n = 0, null betas)
    val ols = graft.ops.Analytics.olsMulti(noLi2).collect()
    assert(ols.length == 1 && ols.head.getAs[Long]("n") == 0L)
    val noDocs3 = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "lang")
    assert(graft.ops.TextAnalysis.naiveBayesLangId(noDocs3).count() == 0)
    assert(graft.ops.TextAnalysis.kneserNeyScore(noDocs3).count() == 0)
    assert(graft.ops.Spatial.dbscan(noEventsFull).count() == 0)
    val noLi3 = Seq.empty[(Long, Double, Double)]
      .toDF("l_suppkey", "l_quantity", "l_extendedprice")
    val noSupp = Seq.empty[(Long, Long)].toDF("s_suppkey", "s_nationkey")
    val noNat = Seq.empty[(Long, String)].toDF("n_nationkey", "n_name")
    assert(graft.ops.Modeling.olsByGroup(noLi3, noSupp, noNat).count() == 0)
    val noLi4 = Seq.empty[(Double, Double, Double, Double)]
      .toDF("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // the one-row sufficient-statistics aggregate still unpivots to the
    // six pair rows (n = 0, null correlations)
    assert(graft.ops.Modeling.corrMatrix(noLi4).count() == 6)
    assert(graft.ops.Modeling.mutualInfo(noEventsFull).count() == 3)
    assert(graft.ops.Modeling.isotonicCalibration(noEventsFull).count() == 0)
    val noKeys = Seq.empty[(Long, String)].toDF("record_id", "key")
    assert(graft.ops.Identity.resolveEntities(noKeys).count() == 0)
    val noVecs2 = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(graft.ops.Similarity.hubnessHistogram(noVecs2).count() == 0)
    val noLi5 = Seq.empty[(Long, Long)].toDF("l_orderkey", "l_partkey")
    assert(graft.ops.Graph.kCore(noLi5).count() == 0)
    assert(graft.ops.Similarity.lofOutliers(noVecs2).count() == 0)
    val noDocs4 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ops.Dedup.containmentPairs(noDocs4).count() == 0)
    assert(graft.ops.Analytics.sprtTest(noEventsFull).count() == 0)
    val noLi6 = Seq.empty[(String, String, Double, Double)]
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
    assert(graft.ops.Analytics.weightedQuantiles(noLi6).count() == 0)
    // the bin spine survives an empty stream: 50 all-zero rows
    assert(graft.ops.Analytics.emdDrift(noEventsFull).count() == 50)
    assert(graft.ops.Analytics.boostedStumps(noEventsFull).count() == 0)
    val noDocs5 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ops.Corpus.setCoverSelect(noDocs5).count() == 0)
    val noParts2 = Seq.empty[Tuple1[Long]].toDF("p_partkey")
    assert(graft.ops.Layout.rendezvousRebalance(noParts2).count() == 0)
    // DiD on empty input: the 1-row pivot survives with null means
    val did = graft.ops.Analytics.didEstimate(noEventsFull).collect()
    assert(did.length == 1 && did.head.getLong(0) == 0L)
    assert(graft.ops.Analytics.ratioMetricDelta(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.dispersionIndex(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.aaCalibration(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.mahalanobisOutliers(noEventsFull).count() == 0)
    val noDocs6 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ops.TextAnalysis.heapsLaw(noDocs6).count() == 0)
    val noLi7 = Seq.empty[(Long, Long)].toDF("l_orderkey", "l_partkey")
    assert(graft.ops.Graph.powerLawAlpha(noLi7).count() == 0)
    val noLi8 = Seq.empty[(String, Double, Double)]
      .toDF("l_returnflag", "l_discount", "l_quantity")
    assert(graft.ops.Modeling.simpsonsCheck(noLi8).count() == 0)
    assert(graft.ops.Analytics.hourlyValueBands(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.retentionHalflife(noEventsFull).count() == 0)
    // the depth grid survives an empty corpus: k all-zero overlap rows
    val noDocs7 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ops.TextAnalysis.rankBiasedOverlap(noDocs7).count() == 20)
    assert(graft.ops.Graph.textRank(noDocs7).count() == 0)
    assert(graft.ops.Graph.labelPropagation(noLi7).count() == 0)
    val noSnap = Seq.empty[(Long, Long)].toDF("k", "v")
    assert(graft.ops.Relational.snapshotDiff(
      noSnap, noSnap, Seq("k"), Seq("v")).count() == 0)
    assert(graft.ops.Relational.relatedItems(noLi7).count() == 0)
    val noPart = Seq.empty[(Long, String)].toDF("p_partkey", "p_brand")
    val noLiFull = Seq.empty[(Long, Long, Double, Double, Double,
      java.sql.Timestamp)]
      .toDF("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate")
    assert(graft.ops.Relational.revenueBridge(noLiFull, noPart).count() == 0)
    assert(graft.ops.Analytics.policyEval(noEventsFull).count() == 0)
    val noOrders10 = Seq.empty[(Long, java.sql.Timestamp, Double)]
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    assert(graft.ops.Relational.forecastBacktest(noOrders10).count() == 0)
    // the l-grid over an empty cell frame is an empty report
    assert(graft.ops.Privacy.lDiversity(noEventsFull).count() == 0)
    assert(graft.ops.Relational.ewmaTrend(noOrders10).count() == 0)
    assert(graft.ops.Analytics.matchedAtt(noEventsFull).count() == 0)
    assert(graft.ops.Privacy.tCloseness(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.conformalInterval(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.shapleyAttribution(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.jsdDrift(noEventsFull).count() == 0)
    assert(graft.ops.TextAnalysis.retrievalEval(noDocs, Seq("x")).count() == 0)
    assert(graft.ops.Analytics.permTest(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.stratifiedAte(noEventsFull).count() == 0)
    assert(graft.ops.Modeling.woeIv(noEventsFull).count() == 0)
    assert(graft.ops.TextAnalysis.kendallTau(noDocs).count() == 0)
    assert(graft.ops.TextAnalysis.readability(noDocs).count() == 0)
    assert(graft.ops.Analytics.quantileTreatmentEffects(noEventsFull)
      .count() == 0)
    assert(graft.ops.TextAnalysis.expectedCalibrationError(noDocs)
      .count() == 0)
    assert(graft.ops.Graph.personalizedPageRank(noEventsFull).count() == 0)
    assert(graft.ops.Analytics.ivWald(noEventsFull).count() == 0)
    val noLiAssoc = Seq.empty[(Long, Long)].toDF("l_orderkey", "l_partkey")
    assert(graft.ops.Relational.assocRules(noLiAssoc).count() == 0)
    val noOrdersCust = Seq.empty[(Long, Double)]
      .toDF("o_custkey", "o_totalprice")
    assert(graft.ops.Relational.giniCoefficient(noOrdersCust).count() == 0)
    assert(graft.ops.Analytics.ipsEss(noEventsFull).count() == 0)
    val noLiShip = Seq.empty[(Long, Long, java.sql.Timestamp)]
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
    assert(graft.ops.Relational.decayedPopularity(noLiShip).count() == 0)
    assert(graft.ops.Relational.recCoverage(noLiAssoc).count() == 0)
    assert(graft.ops.TextAnalysis.mmrDiversify(noDocs, Seq("x"))
      .count() == 0)
    val noPart4 = Seq.empty[(Long, String, String, String)]
      .toDF("p_partkey", "p_name", "p_brand", "p_type")
    assert(graft.ops.Dedup.sortedNeighborhood(noPart4).count() == 0)
    assert(graft.ops.TextAnalysis.ngramNovelty(noDocs).count() == 0)
    assert(graft.ops.Graph.modularity(noLiAssoc).count() == 0)
    val noLiSupp = Seq.empty[(Long, Long, Double)]
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice")
    val noSupp2 = Seq.empty[(Long, Long)].toDF("s_suppkey", "s_nationkey")
    val noNat2 = Seq.empty[(Long, String)].toDF("n_nationkey", "n_name")
    assert(graft.ops.Relational.hhiConcentration(noLiSupp, noSupp2, noNat2)
      .count() == 0)
    assert(graft.ops.Analytics.transitionEntropy(noEventsFull).count() == 0)
    val noLiQty = Seq.empty[(Long, Long, Double, Double)]
      .toDF("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    val noPartBrand = Seq.empty[(Long, String)].toDF("p_partkey", "p_brand")
    assert(graft.ops.Relational.priceElasticity(noLiQty, noPartBrand)
      .count() == 0)
    val noOrdersCust4 = Seq.empty[(Long, Long, java.sql.Timestamp, Double)]
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    assert(graft.ops.Relational.segmentMigration(noOrdersCust4).count() == 0)
    assert(graft.ops.Analytics.factorialInteraction(noEventsFull)
      .count() == 0)
    assert(graft.ops.Analytics.cohensD(noEventsFull).count() == 0)
  }
  test("round-10 close additions survive empty inputs") {
    // document plane
    assert(TextAnalysis.negativeSamplingTable(noDocs).count() == 0)
    val alpha = TextAnalysis.krippendorffAlpha(noDocs).collect().head
    assert(alpha.isNullAt(alpha.fieldIndex("alpha_e6")))
    val mc = TextAnalysis.mcnemar(noDocs).collect().head
    assert(mc.getAs[Long]("n") == 0L)
    assert(mc.isNullAt(mc.fieldIndex("chi2_e4")))
    // event plane: 1-row statistics stay well-formed (counts real,
    // statistic NULL), dimension outputs stay empty
    assert(Analytics.crossCorrelation(noEvents).count() == 0)
    val sp = Analytics.spearman(noEvents).collect().head
    assert(sp.getAs[Long]("n") == 0L && sp.isNullAt(sp.fieldIndex("rho_e4")))
    val mk = Analytics.mannKendall(noEvents).collect().head
    assert(mk.getAs[Long]("n") == 0L && mk.getAs[Long]("s") == 0L &&
      mk.isNullAt(mk.fieldIndex("z_e4")))
    val cv = Analytics.cramersV(noEvents).collect().head
    assert(cv.isNullAt(cv.fieldIndex("v_e4")))
    val lr = Analytics.logRank(noEvents).collect().head
    assert(lr.isNullAt(lr.fieldIndex("chi2_e4")))
    assert(graft.ops.Identity.goldenRecords(noEvents).count() == 0)
    // relational plane
    val noOrders = Seq.empty[(Long, Long, Double)]
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val noCust = Seq.empty[(Long, Long)].toDF("c_custkey", "c_nationkey")
    assert(graft.ops.Relational.theilDecomposition(noOrders, noCust)
      .count() == 0)
    val af = graft.ops.Relational.anovaF(noOrders, noCust).collect().head
    assert(af.getAs[Long]("k") == 0L && af.isNullAt(af.fieldIndex("f_e4")))
    val noLi10 = Seq.empty[(Long, Long)].toDF("l_orderkey", "l_partkey")
    assert(graft.ops.Graph.localClusteringFromPairs(
      graft.ops.Relational.partPairCounts(noLi10, 2)).count() == 0)
    val noPart10 = Seq.empty[(Long, String)].toDF("p_partkey", "p_name")
    val noNation10 = Seq.empty[(Long, String)].toDF("n_nationkey", "n_name")
    val fk = graft.ops.Relational.fkOrphans(
      noLi10.withColumn("l_partkey", $"l_partkey"),
      noOrders, noCust.withColumnRenamed("c_nationkey", "c_nationkey"),
      noPart10, noNation10).collect()
    assert(fk.length == 4 && fk.forall(r =>
      r.getAs[Long]("n_child_rows") == 0L && r.getAs[Long]("n_null") == 0L
        && r.getAs[Long]("n_orphan_rows") == 0L))
  }

  test("round-11 operators survive empty inputs") {
    import spark.implicits._
    val noEventsFull = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val noVecs = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(graft.ops.Similarity.marginPairs(noVecs).count() == 0)
    // Holt on nothing: the weighted-sum aggregate still emits its one
    // state row (null sums), so the 7 horizon rows carry null forecasts
    val holt = graft.ops.Analytics.holtForecast(noEventsFull).collect()
    assert(holt.length == 7 &&
      holt.forall(_.isNullAt(holt.head.fieldIndex("forecast_e3"))))
    // surge sets the session-scoped range-join confs for its execution;
    // unset them here so suite ordering can't leak them into the
    // RangeJoinSpec inertness pin
    try assert(graft.ops.Intervals.surgeWindowTraffic(noEventsFull).count() == 0)
    finally {
      spark.conf.unset(graft.plans.RangeJoinRule.BinSizeKey)
      spark.conf.unset(graft.plans.RangeJoinRule.PointColumnKey)
    }
    val noLi = Seq.empty[(Long, Long)].toDF("l_orderkey", "l_partkey")
    assert(graft.ops.Relational.frequentTriples(noLi,
      graft.ops.Relational.partPairCounts(noLi, 2)).count() == 0)
    // profiler: one row per column even on an empty frame, zero counts
    val prof = graft.ops.Catalog.profileTable(noEventsFull).collect()
    assert(prof.length == 6 && prof.forall(r =>
      r.getAs[Long]("n_rows") == 0L && r.getAs[Long]("n_distinct") == 0L))
    // sampled diagnostics under auto mode count an empty corpus safely
    assert(graft.ops.Similarity.hubnessHistogram(noVecs, sampleMod = 0)
      .count() == 0)
    assert(graft.ops.Similarity.lofOutliers(noVecs, sampleMod = 4)
      .count() == 0)
  }

  test("round-12 operators survive empty inputs") {
    import spark.implicits._
    val noEventsFull = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ops.Dedup.setSimJoinPrefix(noDocs).count() == 0)
    val noPairs = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(graft.ops.Graph.kTrussFromPairs(noPairs).count() == 0)
    // exact incremental: empty corpus, empty batch, and both
    val someDocs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    assert(graft.ops.Dedup.incrementalSetSimPrefix(noDocs, someDocs).count() == 0)
    assert(graft.ops.Dedup.incrementalSetSimPrefix(someDocs, noDocs).count() == 0)
    assert(graft.ops.Dedup.incrementalSetSimPrefix(noDocs, noDocs).count() == 0)
    // Holt-Winters keeps its 7 spine rows with NULL forecasts (the same
    // contract as holtForecast — the spine left-join preserves them)
    val hw = graft.ops.Analytics.holtWintersForecast(noEventsFull).collect()
    assert(hw.length == 7 &&
      hw.forall(_.isNullAt(hw.head.fieldIndex("forecast_e3"))))
  }

  test("Par.sortSmall operators and q_event_pipeline return no rows on an empty events scan") {
    import org.apache.spark.sql.functions.col
    // a real scan that yields nothing, so the exchanges, the range
    // partitioner's bound sampling and coalesce(1) all run over nothing
    val none = Analytics.events(spark, "/root/testdata/sf0.001").filter(col("event_id") < 0L)
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "eventSummary" -> Analytics.eventSummary, "qualityHistogram" -> Analytics.qualityHistogram,
      "typeCounts" -> Analytics.typeCounts, "hourlyCounts" -> Analytics.hourlyCounts,
      "tumblingCounts" -> Analytics.tumblingCounts, "slidingCounts" -> Analytics.slidingCounts,
      "valueStats" -> Analytics.valueStats, "hourlyAnomalies" -> (Analytics.hourlyAnomalies(_)),
      "gapFillHourly" -> Analytics.gapFillHourly, "multisetOps" -> Analytics.multisetOps,
      "valuePercentiles" -> Analytics.valuePercentiles,
      "distinctProfile" -> Analytics.distinctProfile, "activeUsers" -> (Analytics.activeUsers(_)),
      "eventTransitions" -> Analytics.eventTransitions,
      "transitionEntropy" -> Analytics.transitionEntropy,
      "hourlyTypePivot" -> Analytics.hourlyTypePivot, "typeAffinity" -> Analytics.typeAffinity,
      "incrementalRollup" -> (Analytics.incrementalRollup(_)),
      "psiDrift" -> (Analytics.psiDrift(_)), "jsdDrift" -> (Analytics.jsdDrift(_)),
      "chiSquare" -> Analytics.chiSquare, "timeWeightedValue" -> Analytics.timeWeightedValue,
      "madOutliers" -> (Analytics.madOutliers(_)), "entryExitFlows" -> Analytics.entryExitFlows,
      "markovEval" -> (Analytics.markovEval(_)),
      "disorderProfile" -> (Analytics.disorderProfile(_)),
      "tableChecksum" -> Analytics.tableChecksum, "targetEncoding" -> Analytics.targetEncoding,
      "dispersionIndex" -> Analytics.dispersionIndex,
      "slidingDistinct" -> (Analytics.slidingDistinct(_)),
      "eventPipeline" -> (SparkEntry.eventPipeline(_, "empty-events-scan")))
    ops.foreach { case (name, op) =>
      assert(op(none).collect().isEmpty, s"$name returned rows on an empty scan")
    }
    val noOrders = graft.ops.Relational.table(spark, "/root/testdata/sf0.001", "orders")
      .filter(col("o_orderkey") < 0L)
    val t = (n: String) => graft.ops.Relational.table(spark, "/root/testdata/sf0.001", n)
    assert(graft.ops.Relational.revenueByNation(t("region"), t("nation"), t("customer"),
      noOrders).collect().isEmpty)
  }
}
