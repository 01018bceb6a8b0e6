package graft

import graft.ops.{Analytics, Relational, Similarity}

/** Physical-plan regression suite: the 100 TB posture is encoded in plan
  * shapes, not just results — these assertions fail if a refactor silently
  * loses a pushdown, broadcasts the wrong side, or drops top-k pushdown.
  */
class PlanShapeSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("lineitem date filter reaches the parquet scan (PushedFilters)") {
    val p = plan(Relational.pricingSummary(Relational.table(spark, sf, "lineitem")))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("events time filter reaches the parquet scan whatever ts's storage type") {
    // F4/F5 at 100 TB: the range predicate must land in PushedFilters
    // (row-group min/max pruning). eventsSince compares the RAW column at
    // its inferred type — a raw-nanos BIGINT, a TIMESTAMP_NTZ literal, or
    // a native timestamp literal all push; a filter on a converted
    // expression would not. This pin is reader-path-agnostic on purpose:
    // it held for the nanos shape (rounds ≤7) and must keep holding for
    // the timestamp[us] shape (round 8+).
    val p = plan(Analytics.eventSummary(
      Analytics.eventsSince(spark, sf, "2024-01-30T00:00:00Z")))
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"), p)
  }

  test("star join broadcasts every dimension side (no shuffle of orders)") {
    // at sf0.001 every side is under the broadcast threshold, so the
    // size-gated hint applies to the customer branch too
    val p = plan(Relational.revenueByNation(
      Relational.table(spark, sf, "region"), Relational.table(spark, sf, "nation"),
      Relational.table(spark, sf, "customer"), Relational.table(spark, sf, "orders")))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("customer-scale sides fall back to a shuffle join above the broadcast threshold") {
    // the 100 TB posture: the customer branch's broadcast hint is gated
    // on the size estimate — with the threshold disabled (simulating a
    // side that outgrew it) the plan must NOT force a broadcast of
    // customer; fixed-cardinality nation/region keep their hints
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val p = plan(Relational.revenueByNation(
        Relational.table(spark, sf, "region"), Relational.table(spark, sf, "nation"),
        Relational.table(spark, sf, "customer"), Relational.table(spark, sf, "orders")))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"customer side still broadcast with threshold disabled:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"nation/region hints lost:\n$p")
      val p3 = plan(Relational.shippingPriority(
        Relational.table(spark, sf, "customer"), Relational.table(spark, sf, "orders"),
        Relational.table(spark, sf, "lineitem")))
      assert(p3.contains("SortMergeJoin") || p3.contains("ShuffledHashJoin"),
        s"BUILDING-segment side still broadcast with threshold disabled:\n$p3")
      val p7 = plan(Relational.nationTradeFlows(
        Relational.table(spark, sf, "lineitem"), Relational.table(spark, sf, "orders"),
        Relational.table(spark, sf, "customer"), Relational.table(spark, sf, "supplier"),
        Relational.table(spark, sf, "nation")))
      assert(p7.contains("SortMergeJoin") || p7.contains("ShuffledHashJoin"),
        s"custNation side still broadcast with threshold disabled:\n$p7")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.topOrders(Relational.table(spark, sf, "orders")))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("aggregations are partial+final (map-side combine before shuffle)") {
    val p = plan(Analytics.typeCounts(Analytics.events(spark, sf)))
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("aggregate queries prune to the referenced columns only") {
    val p = plan(Analytics.typeCounts(Analytics.events(spark, sf)))
    val readSchema = p.split("ReadSchema: ")(1).split("\n")(0)
    assert(readSchema.contains("event_type"), readSchema)
    assert(!readSchema.contains("props"), readSchema)
  }

  test("similarity brute-force broadcasts the query side") {
    val e = Similarity.embeddings(spark, sf)
    import org.apache.spark.sql.functions.col
    val p = plan(Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10)))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("event pipeline plan carries exactly ONE from_json (barrier holds)") {
    import org.apache.spark.sql.functions._
    val wire = Analytics.events(spark, sf).select(to_json(struct(
      col("event_id").cast("string").as("id"),
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("timestamp"),
      col("props").as("message"),
      col("user_id").cast("string").as("user_id"),
      col("event_type"), col("value"))).as("value"))
    for (p <- Seq(plan(graft.ops.EventPipeline.fromRawJson(wire)),
        plan(graft.ops.EventPipeline.deadLetter(wire)))) {
      val nParses = "from_json".r.findAllIn(p).length
      assert(nParses == 1, s"expected 1 from_json, found $nParses in:\n$p")
    }
  }

  test("IVF cell assignment is narrow: no Exchange, no Window") {
    import org.apache.spark.sql.functions.col
    val e = Similarity.embeddings(spark, sf)
    val centroids = e.limit(10)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    val p = plan(Similarity.assignToCell(e, centroids))
    // round-1 shape was crossJoin + Window.partitionBy(vec_id): a hash
    // exchange of corpus×nCells rows. The fix is a 1-row broadcast join +
    // row-local array_max — the corpus must never hash-partition.
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("hashpartitioning(vec_id"), s"corpus shuffles on vec_id:\n$p")
    assert(!p.contains("Window"), s"window argmax crept back:\n$p")
  }

  test("Q7-shaped trade flows: one shuffle join, both nation branches broadcast") {
    val p = plan(Relational.nationTradeFlows(
      Relational.table(spark, sf, "lineitem"), Relational.table(spark, sf, "orders"),
      Relational.table(spark, sf, "customer"), Relational.table(spark, sf, "supplier"),
      Relational.table(spark, sf, "nation")))
    // lineitem⋈orders is the only non-broadcast join; every dimension
    // branch (customer→nation, supplier→nation) must broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p)
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).length <= 1, p)
  }

  test("correlated scalar subquery decorrelates to aggregate + join") {
    // the per-part min must be rewritten (RewriteCorrelatedScalarSubquery)
    // into one aggregate joined back — never a per-row subquery execution
    val p = plan(SparkEntry.queries("q_sql_min_cost_supplier")(spark, sf))
    assert(!p.contains("ScalarSubquery"), s"subquery not decorrelated:\n$p")
    assert(p.contains("partial_min") || p.contains("min("), p)
    assert(p.contains("Join"), p)
  }

  test("rank-filter top-k per group plans as WindowGroupLimit (partial+final)") {
    // Spark 4 pushes `row_number() <= k` into a per-partition group limit
    // BEFORE the shuffle — the declarative rank-filter gets map-side
    // top-k pruning for free; this pins that the query stays in the
    // rewritable pattern
    val p = plan(Relational.topOrdersPerCustomer(Relational.table(spark, sf, "orders")))
    assert("WindowGroupLimit".r.findAllIn(p).length == 2, p) // Partial + Final
  }

  test("AS-OF join is one hash shuffle + window, never a pair join") {
    val p = plan(Analytics.asofLastView(Analytics.events(spark, sf)))
    assert(!p.contains("Join"), s"as-of turned into a join:\n$p")
    assert(p.contains("Window"), p)
    // exactly one hash exchange (user_id for the window); the only other
    // exchange is the oracle-contract global sort (rangepartitioning)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("dynamic partition pruning engages on the date-partitioned sink") {
    // D6 at scale: a time-dimension filter must prune the partitioned
    // fact's directories AT RUNTIME via the dim-side subquery broadcast
    // (DPP), not scan every date partition
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val spark2 = spark
    import spark2.implicits._
    spark.range(1000)
      .select(($"id" % 30).cast("int").as("day_id"), $"id".as("v"))
      .write.mode("overwrite").partitionBy("day_id").parquet(s"$dir/fact")
    // the dim must be file-backed: a literal Seq constant-folds to a
    // LocalRelation, the Filter node disappears, and the DPP rule no
    // longer sees a selective predicate on the build side
    (0 until 30).map(d => (d, if (d < 3) "hot" else "cold"))
      .toDF("day_id", "tag")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")
    val joined = spark.read.parquet(s"$dir/fact")
      .join(dim.filter($"tag" === "hot"), "day_id")
    // 1000 = 33*30 + 10, so days 0-9 hold 34 rows: 3 hot days = 102
    val n = joined.count()
    assert(n == 102, s"expected 102 rows over 3 hot days, got $n")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"), s"DPP did not engage:\n$p")
  }

  test("whole-stage codegen covers the event enrichment chain") {
    // a literal Seq would constant-fold to a LocalTableScan at plan time;
    // a file-backed source exercises the real scan → project → filter span
    import org.apache.spark.sql.functions._
    val wire = Analytics.events(spark, sf).select(to_json(struct(
      col("event_id").cast("string").as("id"),
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("timestamp"),
      col("props").as("message"),
      col("user_id").cast("string").as("user_id"),
      col("event_type"), col("value"))).as("value"))
    val p = plan(graft.ops.EventPipeline.fromRawJson(wire))
    // "*(n)" prefixes mark whole-stage-codegen'd operators in toString
    assert(p.contains("*("), p)
    // the whole per-record chain is one narrow stage: no exchange at all
    assert(!p.contains("Exchange"), p)
  }

  test("sessionization: lag + running sum + session aggregate = ONE data exchange") {
    // both window frames must share the (user_id) sort, and the
    // per-(user_id, session_idx) aggregate must reuse the user_id hash
    // partitioning — a second data exchange means the group-key
    // clustering subsumption was lost. (The only other allowed exchange
    // is the final presentation orderBy's range partitioning.)
    val p = plan(Analytics.userSessions(Analytics.events(spark, sf)))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges:\n$p")
    assert(p.indexOf("Window") >= 0 && p.indexOf("Window") != p.lastIndexOf("Window"),
      s"expected two Window operators sharing one sort:\n$p")
  }

  test("vocab membership join broadcasts the N-term vocab; tokens never shuffle for it") {
    import graft.ops.TextAnalysis
    val docs = TextAnalysis.documents(spark, sf)
    val p = plan(TextAnalysis.vocabOovRate(docs, vocabSize = 20))
    assert(p.contains("BroadcastHashJoin"), s"vocab join must be broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus tokens must not sort-merge against a 20-row vocab:\n$p")
  }

  test("embedding quantization is row-local: no hash exchange, only the final sort") {
    val p = plan(Similarity.quantizeEmbeddings(Similarity.embeddings(spark, sf)))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 0,
      s"quantization must not shuffle (row-local transform):\n$p")
  }

  test("sequence packing: one shard exchange, window sort is partition-local") {
    // the 100 TB claim: packing parallelizes across shards — the ONLY
    // hash exchange is on the shard key, and the window's sort is a
    // partition-local [shard, doc_id] sort (global=false); the one
    // global ordering is the oracle-convention output ORDER BY
    val p = plan(graft.ops.Corpus.packTokenBudget(
      graft.ops.TextAnalysis.documents(spark, sf), budget = 512L, nShards = 8))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).toSeq
    assert(hashExchanges.length == 1, s"packing must shuffle once, on shard:\n$p")
    assert(p.contains("Exchange hashpartitioning(shard"), p)
    assert(p.contains("Sort [shard#"), s"window sort missing:\n$p")
    assert("Sort \\[shard#\\d+L ASC NULLS FIRST, doc_id#\\d+L ASC NULLS FIRST\\], false"
      .r.findFirstIn(p).isDefined,
      s"window sort must be partition-local (global=false):\n$p")
  }

  test("sequence materialization: ONE corpus exchange — bin assembly reuses shard partitioning") {
    // emit = offsets window (shard exchange) + bin assembly; Catalyst
    // proves hashpartitioning(shard) already clusters (shard, bin_id),
    // so the token arrays cross the wire exactly once — the only other
    // exchange is the output-convention range sort
    val p = plan(graft.ops.Corpus.packSequences(
      graft.ops.TextAnalysis.documents(spark, sf), budget = 512L, nShards = 8))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).toSeq
    assert(hashExchanges.length == 1,
      s"bin assembly must reuse the window's shard partitioning:\n$p")
    assert(p.contains("Exchange hashpartitioning(shard"), p)
    assert("Sort \\[shard#\\d+L ASC NULLS FIRST, doc_id#\\d+L ASC NULLS FIRST\\], false"
      .r.findFirstIn(p).isDefined,
      s"window sort must be partition-local (global=false):\n$p")
  }

  test("hash-keyed lineDedup/contamination: heavy strings leave the exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StringType
    // AQE wraps the tree in AdaptiveSparkPlanExec, which hides the
    // exchanges from collect() — disable it for the schema inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = graft.ops.TextAnalysis.documents(spark, sf)
      // lineDedup: the exchange feeding the line-frequency aggregate
      // (partitioned on line_k) must carry only fixed-width columns —
      // the 60-bit PolyHash key, never the line string
      val ld = graft.ops.Corpus.lineDedup(docs, minDf = 5L, hashKeys = true)
      val ldEx = ld.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s }
      val freqEx = ldEx.filter(
        _.outputPartitioning.toString.contains("line_k"))
      assert(freqEx.nonEmpty, "line-frequency exchange not found")
      freqEx.foreach(s => assert(
        !s.child.output.exists(_.dataType == StringType),
        s"line strings must not ride the frequency exchange: ${s.child.output}"))
      // contamination: the hashed output needs no shingle strings at
      // all — NO exchange anywhere may carry a string column
      val cc = graft.ops.Corpus.contaminationCheck(
        docs, col("doc_id") < 50, n = 8, minOverlapE4 = 0, hashKeys = true)
      val ccEx = cc.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s }
      assert(ccEx.nonEmpty, "contamination plan has no exchanges to check")
      ccEx.foreach(s => assert(
        !s.child.output.exists(_.dataType == StringType),
        s"shingle strings must not ride any exchange: ${s.child.output}"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bm25: query-term filter precedes the tf aggregate; top-k pushes down") {
    val docs = graft.ops.TextAnalysis.documents(spark, sf)
    val p = plan(graft.ops.TextAnalysis.bm25Search(docs, Seq("spark", "join")))
    // top-k never globally sorts — per-partition heaps + final merge
    assert(p.contains("TakeOrderedAndProject"), p)
    // the IN-set filter lands on the exploded token stream, so the tf
    // aggregate's exchange only ever carries matching terms
    assert("Filter .*term.* IN ".r.findFirstIn(p).isDefined
      || p.contains("term#") && p.contains(" INSET "), p)
  }

  test("repeatedSpans: gram strings are row-local — no exchange carries text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = graft.ops.TextAnalysis.documents(spark, sf)
      // detection: every exchange is ids + 4/8-byte ints (the k-gram
      // strings hash before posexplode and never leave their row)
      val spans = graft.ops.Dedup.repeatedSpans(docs)
      val ex = spans.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s }
      assert(ex.nonEmpty, "span plan has no exchanges to check")
      ex.foreach(s => assert(
        !s.child.output.exists(a => a.dataType == StringType ||
          a.dataType == ArrayType(StringType)),
        s"gram/token strings must not ride any detection exchange: ${s.child.output}"))
      // cut: the h-keyed exchanges (frequency + keeper mark-back) stay
      // fixed-width; only the final per-doc rebuild join moves tokens
      val cut = graft.ops.Dedup.cutRepeatedSpans(docs)
      val hEx = cut.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec
          if s.outputPartitioning.toString.contains("h#") => s }
      assert(hEx.nonEmpty, "cut plan has no h-keyed exchanges to check")
      hEx.foreach(s => assert(
        !s.child.output.exists(a => a.dataType == StringType ||
          a.dataType == ArrayType(StringType)),
        s"strings must not ride the h-keyed exchanges: ${s.child.output}"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("IVF-PQ: the ADC candidate scan carries codes, never raw embeddings") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    // the memory claim behind PQ: candidates cross the wire as 8-byte
    // code arrays; float embeddings appear only in the shortlist
    // re-rank join. Inspect the physical exchanges directly (AQE off,
    // same technique as the hash-keyed dedup pin): any exchange whose
    // rows include the ADC distance must not also carry float vectors.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = graft.ops.Similarity.embeddings(spark, sf)
      val df = graft.ops.Similarity.ivfPqTopK(
        e, e.filter(org.apache.spark.sql.functions.col("vec_id") < 10))
      val exchanges = df.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s }
      assert(exchanges.nonEmpty)
      val adcExchanges = exchanges.filter(
        _.child.output.exists(_.name.startsWith("adc")))
      assert(adcExchanges.nonEmpty, "ADC shortlist exchange not found")
      adcExchanges.foreach(s => assert(
        !s.child.output.exists(_.dataType == ArrayType(FloatType, true)) &&
          !s.child.output.exists(_.dataType == ArrayType(FloatType, false)),
        s"raw float vectors must not ride the ADC scan: ${s.child.output}"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("blocklist gate is row-local: literal list, zero hash exchanges") {
    // the blocklist is a constant-folded literal array — the count/verdict
    // chain must stay inside one narrow codegen stage; the only exchange
    // allowed is the presentation orderBy's range partitioning
    val p = plan(graft.ops.TextAnalysis.blocklistStats(
      graft.ops.TextAnalysis.documents(spark, sf)))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 0,
      s"blocklist filtering must not shuffle:\n$p")
  }

  test("systematic sample: sharded global prefix sum — corpus never sorts globally") {
    // the corpus-sized running-sum window is partitioned by the id shard:
    // its sort is partition-local [scan_block, doc_id]; the carry table
    // and the 1-row total broadcast onto the stream; a corpus-wide
    // single-task window (sort [doc_id] with no shard prefix, global or
    // not, ahead of the output orderBy) must not exist
    val p = plan(graft.ops.Corpus.systematicSample(
      graft.ops.TextAnalysis.documents(spark, sf), k = 200L, shardWidth = 64L))
    assert(
      "Sort \\[scan_block#\\d+L ASC NULLS FIRST, doc_id#\\d+L ASC NULLS FIRST\\], false"
        .r.findFirstIn(p).isDefined,
      s"corpus window must sort (scan_block, doc_id) partition-locally:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1,
      s"carry table must broadcast onto the corpus stream:\n$p")
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"corpus must not shuffle on doc_id:\n$p")
  }

  test("hourly anomalies: corpus collapses before any window; scan prunes to (type, ts)") {
    val df = Analytics.hourlyAnomalies(Analytics.events(spark, sf))
    val p = plan(df)
    // the raw stream feeds exactly ONE aggregate exchange (the hourly
    // collapse); the trailing-moment window exchanges operate on the
    // already-dimension-sized hourly table
    val readSchema = p.split("ReadSchema: ")(1).split("\n")(0)
    assert(readSchema.contains("event_type") && readSchema.contains("ts"),
      readSchema)
    assert(!readSchema.contains("props") && !readSchema.contains("user_id"),
      s"anomaly scoring must not read unused columns: $readSchema")
    // Window must sit ABOVE the HashAggregate pair in the plan tree
    assert(p.contains("Window"), p)
    assert(p.indexOf("Window") < p.indexOf("HashAggregate"),
      s"window must consume the aggregate's output, not raw events:\n$p")
  }

  test("active users: events collapse to distinct user-days before the window explode") {
    val df = Analytics.activeUsers(Analytics.events(spark, sf))
    val p = plan(df)
    val readSchema = p.split("ReadSchema: ")(1).split("\n")(0)
    assert(readSchema.contains("user_id") && readSchema.contains("ts"), readSchema)
    assert(!readSchema.contains("event_type") && !readSchema.contains("value"),
      s"active-user counting must scan only (user_id, ts): $readSchema")
    // the ≤Σw-wide explode must run above the user-day dedup aggregate,
    // never on the raw stream (Generate above HashAggregate in the tree)
    val gen = p.indexOf("Generate explode")
    assert(gen >= 0, s"sequence explode missing:\n$p")
    assert(p.indexOf("HashAggregate", gen) > gen,
      s"explode must consume the distinct user-day table, not raw events:\n$p")
  }

  test("mixture budget: sharded prefix sum — no single-task-per-source window") {
    val p = plan(graft.ops.Corpus.applyMixtureBudget(
      graft.ops.TextAnalysis.documents(spark, sf),
      tokenBudget = 2000L, shardWidth = 64L))
    assert(p.contains("BroadcastHashJoin"),
      s"targets + shard offsets must broadcast onto the corpus stream:\n$p")
    // the doc stream never shuffles on doc_id
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"corpus must not shuffle on doc_id:\n$p")
    // the corpus-sized running-sum window is partitioned (source, shard):
    // its sort is a partition-local [source, scan_block, doc_id] sort
    assert(
      "Sort \\[source#\\d+ ASC NULLS FIRST, scan_block#\\d+L ASC NULLS FIRST, doc_id#\\d+L ASC NULLS FIRST\\], false"
        .r.findFirstIn(p).isDefined,
      s"corpus window must sort (source, scan_block, doc_id) partition-locally:\n$p")
    // the round-6 scale finding: a window partitioned by source ALONE over
    // the doc stream funnels a whole source through one task — its
    // signature sort [source, doc_id] must not appear anywhere
    assert(
      "Sort \\[source#\\d+ ASC NULLS FIRST, doc_id#\\d+L ASC NULLS FIRST\\]"
        .r.findFirstIn(p).isEmpty,
      s"per-source-only running-sum window must be gone:\n$p")
  }

  test("knnClassify: query batch broadcasts; vote/winner stages run on the rank-capped frame") {
    val e = Similarity.embeddings(spark, sf)
    val p = plan(Similarity.knnClassify(
      e.filter(org.apache.spark.sql.functions.col("vec_id") % 25 =!= 0),
      e.filter(org.apache.spark.sql.functions.col("vec_id") % 25 === 0)))
    // non-equi join predicate + broadcast hint → nested-loop broadcast of
    // the (small) query side; the corpus must never be the broadcast side
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("covarianceMatrix: one ObjectHashAggregate pass, single-partition final — corpus never hash-shuffles") {
    val p = plan(Similarity.covarianceMatrix(Similarity.embeddings(spark, sf)))
    // the typed Aggregator plans as partial+final ObjectHashAggregate
    assert(p.contains("ObjectHashAggregate"), p)
    // only per-partition buffers cross the wire: the sole exchange is the
    // SinglePartition gather of ~17 KB buffers (plus the final 2080-row
    // sort) — a hashpartitioning exchange would mean vectors shuffled
    assert(!p.contains("Exchange hashpartitioning"),
      s"covariance pass must not hash-shuffle the corpus:\n$p")
    assert(p.contains("Exchange SinglePartition"), p)
  }

  test("zipfSlope: top-N rank filter prunes map-side via WindowGroupLimit") {
    val p = plan(graft.ops.TextAnalysis.zipfSlope(
      graft.ops.TextAnalysis.documents(spark, sf)))
    // rnk <= topN must push into a WindowGroupLimit so each map task
    // ships at most topN terms per source, not its whole vocabulary
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("tokenEntropy and ngramDiversity: exchanges carry hashed/keyed rows, text stays in the scan stage") {
    for (df <- Seq(
        graft.ops.TextAnalysis.tokenEntropy(graft.ops.TextAnalysis.documents(spark, sf)),
        graft.ops.TextAnalysis.ngramDiversity(graft.ops.TextAnalysis.documents(spark, sf)))) {
      val p = plan(df)
      // partial aggregation must collapse (source, term) counts map-side
      // before the exchange — no raw document rows on the wire
      assert(p.contains("HashAggregate"), p)
      assert(!p.contains("Exchange hashpartitioning(doc_id"),
        s"nothing should shuffle on doc_id:\n$p")
      assert(!p.contains("Exchange hashpartitioning(text"),
        s"document text must never be an exchange key:\n$p")
    }
  }

  test("SQL BROADCAST hint through the parser forces the small side broadcast") {
    // the user-facing escape hatch when the size estimate is wrong:
    // a /*+ BROADCAST */ hint in SQL text must survive the parser and
    // override a disabled auto-broadcast threshold
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Relational.table(spark, sf, "customer").createOrReplaceTempView("cust_h")
      Relational.table(spark, sf, "orders").createOrReplaceTempView("ord_h")
      val p = plan(spark.sql(
        """SELECT /*+ BROADCAST(c) */ c.c_mktsegment, count(*) AS n
          |FROM ord_h o JOIN cust_h c ON o.o_custkey = c.c_custkey
          |GROUP BY 1""".stripMargin))
      assert(p.contains("BroadcastHashJoin"), s"hint lost:\n$p")
      assert(!p.contains("SortMergeJoin"), p)
    } finally saved match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // the 100 TB semi-join reduction path: when a fact⋈fact join's build
    // side is filtered selectively, Spark's runtime-filter rule should
    // inject bloom_filter_agg → might_contain so lineitem rows that can
    // never match die at the scan stage instead of riding the exchange.
    // Pin it with the thresholds a large cluster would trip naturally.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
      import org.apache.spark.sql.functions._
      val orders = Relational.table(spark, sf, "orders")
        .filter(col("o_totalprice") > 400000.0)
      val li = Relational.table(spark, sf, "lineitem")
      val p = plan(li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")).as("q")))
      assert(p.contains("might_contain"), s"no runtime bloom filter:\n$p")
      assert(p.contains("bloom_filter_agg"), p)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("campaignWindowJoin: the range join runs as a bucketed equi-join, never a nested loop") {
    val p = plan(Analytics.campaignWindowJoin(Analytics.events(spark, sf)))
    // the whole point of the hour-bucket rewrite: a broadcast HASH join
    // on the bucket key with the interval predicate as residual — a
    // BroadcastNestedLoopJoin here means the rewrite regressed to
    // O(|events| × |windows|)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join must not plan as a nested loop:\n$p")
  }

  test("changeCapture: one user_id exchange serves LAG, the filter, LEAD and version") {
    // AdaptiveSparkPlanExec is a leaf to collect(), so count exchanges in
    // the printed plan like the other pins do
    val p = plan(Analytics.changeCapture(Analytics.events(spark, sf)))
    // Filter preserves partitioning AND sort order, so the post-filter
    // window must reuse the pre-filter exchange — two hash exchanges
    // would mean the SCD2 build shuffles the fact table twice (the final
    // rangepartitioning for ORDER BY is expected and not counted)
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one hash exchange, got $n:\n$p")
  }

  test("basketPairs: top-k is TakeOrderedAndProject, count sides stay broadcast") {
    val p = plan(Relational.basketPairs(Relational.table(spark, sf, "lineitem")))
    assert(p.contains("TakeOrderedAndProject"), p)
    // part-count and n_orders sides are dimension-sized at sf0.001 —
    // the size gate must broadcast them rather than shuffling pairs
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("rfmSegments: boundary binning plans with no window operator at all") {
    val p = plan(Relational.rfmSegments(Relational.table(spark, sf, "orders")))
    // quartile assignment must be broadcast-cutpoints + row-local
    // comparisons; a WindowExec would mean an ntile crept back in and
    // serialized the customer dimension through one partition
    assert(!p.contains("Window"), s"no window operator expected:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"cutpoints must ride a broadcast:\n$p")
  }

  test("orderBacklog: sweep-line — interval concurrency with NO range join") {
    // the whole point of the ±1-delta rewrite: no nested-loop/cartesian
    // point-in-interval join anywhere; the running sum is a window over
    // the day-dimension aggregate
    val p = plan(Relational.orderBacklog(
      Relational.table(spark, sf, "orders"), Relational.table(spark, sf, "lineitem")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"sweep-line must not plan a range join:\n$p")
    assert(p.contains("Window"), p)
  }

  test("rollingHourCount: the RANGE frame rides ONE user exchange") {
    val p = plan(Analytics.rollingHourCount(Analytics.events(spark, sf)))
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one hash exchange, got $n:\n$p")
  }

  test("entryExitFlows: endpoints in one struct-argmin pass — two hash exchanges total") {
    // exchange 1: the user-keyed endpoint aggregate; exchange 2: the
    // type×type matrix aggregate. A window-based first/last would add a
    // sort and a third exchange.
    val p = plan(Analytics.entryExitFlows(Analytics.events(spark, sf)))
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 2, s"expected two hash exchanges, got $n:\n$p")
    assert(!p.contains("Window"), s"struct argmin, not a window:\n$p")
  }

  test("throttle: one hash aggregate, no window, no join") {
    val p = plan(Analytics.throttle(Analytics.events(spark, sf)))
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected one hash exchange, got $n:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("SQL LATERAL top-1: decorrelated to WindowGroupLimit + equi-join, never a per-row rescan") {
    // the registered query itself (projecting the ORDER BY column keeps
    // the rank ordered; a projection that drops it loses the
    // WindowGroupLimit rewrite — which is why the pin runs the real text)
    val p = plan(SparkEntry.queries("q_sql_lateral")(spark, sf))
    assert(p.contains("WindowGroupLimit"), s"rank-limit must push down:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("soleBlameSuppliers: decorrelated EXISTS pair — no correlated re-scan, supplier by broadcast") {
    val p = plan(Relational.soleBlameSuppliers(
      Relational.table(spark, sf, "lineitem"), Relational.table(spark, sf, "orders"),
      Relational.table(spark, sf, "supplier")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), s"supplier dim must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must push:\n$p")
  }

  test("disorderProfile: raw-event windows stay block-partitioned, carry joins by broadcast") {
    val p = plan(Analytics.disorderProfile(Analytics.events(spark, sf)))
    // every WindowExec over the event stream must carry partition keys;
    // the only global-ordered window is the one on the block-totals
    // dimension feeding the broadcast carry
    assert(p.contains("BroadcastHashJoin"), s"carry must broadcast:\n$p")
    assert(p.contains("block#"), s"hierarchical block decomposition missing:\n$p")
  }

  test("markovEval: model joins by broadcast; the shared pair-count table is cached, not recomputed") {
    val p = plan(Analytics.markovEval(Analytics.events(spark, sf)))
    assert(p.contains("BroadcastHashJoin"), s"model join must broadcast:\n$p")
    // both branches (model argmax, eval join) must read the persisted
    // |types|² count table — if the cache node disappears, the corpus
    // window and pair count silently run twice
    assert(p.contains("InMemoryTableScan"), s"shared counts must be cached:\n$p")
  }

  test("kAnonymity: collapse-first — no window, threshold grid by broadcast nested loop on 4 rows") {
    val p = plan(graft.ops.Privacy.kAnonymity(Analytics.events(spark, sf)))
    assert(!p.contains("Window"), s"cell collapse must be window-free:\n$p")
    // the cross join runs AFTER the cell collapse, against the literal
    // threshold grid — the only acceptable nested-loop in the repo
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("weightedSample: global bottom-k is TakeOrderedAndProject, never a global sort") {
    val p = plan(graft.ops.Corpus.weightedSample(
      graft.ops.TextAnalysis.documents(spark, sf), k = 100))
    assert(p.contains("TakeOrderedAndProject"), s"bottom-k must push:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"corpus must not globally sort:\n$p")
  }

  test("incrementalJoinView: every delta term joins its customer slice by broadcast") {
    val p = plan(Relational.incrementalJoinView(
      Relational.table(spark, sf, "orders"), Relational.table(spark, sf, "customer")))
    assert(!p.contains("SortMergeJoin"), s"dim side must broadcast:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 4, p)
  }

  test("equiDepthHistogram: rank selection never range-exchanges the fact table") {
    val p = plan(Relational.equiDepthHistogram(
      Relational.table(spark, sf, "orders")))
    // the coarse-bucket prefix sum and the boundary-bucket ranking are
    // the only windows; the row frame must not globally sort
    assert(!p.contains("Exchange rangepartitioning(cents"),
      s"fact table must not range-sort:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
  }

  test("ANALYZE TABLE feeds the optimizer: rowCount and column stats land in the catalog") {
    // the cost-based-optimization input surface: at 100 TB the difference
    // between a broadcast and a sort-merge join is often whether ANALYZE
    // ran — pin that computed stats actually reach the plan's estimates
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_stats_db")
    spark.sql("DROP TABLE IF EXISTS graft_stats_db.cust_stats")
    try {
      Relational.table(spark, sf, "customer")
        .write.mode("overwrite").saveAsTable("graft_stats_db.cust_stats")
      spark.sql("ANALYZE TABLE graft_stats_db.cust_stats COMPUTE STATISTICS " +
        "FOR COLUMNS c_custkey, c_nationkey")
      // row counts reach plan estimates only under the CBO flag — the
      // production setting this pin documents
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val stats = spark.table("graft_stats_db.cust_stats")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.exists(_ > 0), s"rowCount missing: $stats")
      val colDesc = spark
        .sql("DESCRIBE EXTENDED graft_stats_db.cust_stats c_custkey")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(colDesc.get("distinct_count").exists(_.toLong > 0), colDesc.toString)
      assert(colDesc.get("max").exists(_ != "NULL"), colDesc.toString)
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.sql("DROP TABLE IF EXISTS graft_stats_db.cust_stats")
    }
  }

  test("shardPlan: asset windows are block-partitioned; the carry is a broadcast join") {
    val p = plan(graft.ops.Multimodal.shardPlan(
      graft.ops.Multimodal.syntheticAssets(spark).toDF()))
    assert(p.contains("BroadcastHashJoin"), s"carry must broadcast:\n$p")
    assert(p.contains("block#"), s"hierarchical block decomposition missing:\n$p")
  }

  test("kmvDistinct: rank selection prunes via the broadcast bucket threshold before the window") {
    val p = plan(graft.ops.Sketch.kmvDistinct(Analytics.events(spark, sf)))
    // the b* cutoff joins back as a broadcast (LeftOuter against the
    // per-type threshold), so the row_number window ranks only the
    // surviving ~k-per-group hashes, never a group's full distinct-hash
    // set — and Spark further pushes a partial per-partition top-k
    // (WindowGroupLimit) under the exchange
    assert(p.contains("LeftOuter, BuildRight"), s"b* must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter must push a partial group limit:\n$p")
    // the only range partitioning is the final presentation orderBy
    assert(p.indexOf("Exchange rangepartitioning") ==
      p.lastIndexOf("Exchange rangepartitioning"),
      s"hash selection must not range-sort:\n$p")
  }

  test("lshTuningSweep: the S-curve evaluates on the collapsed Jaccard histogram, not per pair") {
    val p = plan(graft.ops.Dedup.lshTuningSweep(
      graft.ops.TextAnalysis.documents(spark, sf)))
    // pair rows collapse to j_e4 counts BEFORE the 8-row config grid
    // fans them out — the POWER expressions must sit above an aggregate
    // of the pair frame, with the grid as a broadcast nested loop
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    val aggIdx = p.indexOf("HashAggregate(keys=[j_e4")
    val gridIdx = p.indexOf("BroadcastNestedLoopJoin")
    assert(aggIdx >= 0 && gridIdx >= 0, s"histogram collapse missing:\n$p")
    assert(gridIdx < aggIdx, s"grid must join the collapsed histogram:\n$p")
  }

  test("runtime bloom filter: a selective dimension filter prunes the fact scan's shuffle") {
    // the optimizer surface a 100 TB shuffle join leans on: when the
    // small side carries a selective predicate and the join cannot
    // broadcast, Spark injects a bloom filter on the fact side so
    // non-matching rows die before the exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val orders = Relational.table(spark, sf, "orders")
      val cust = Relational.table(spark, sf, "customer")
        .filter(org.apache.spark.sql.functions.col("c_nationkey") === 3)
      val p = plan(orders.join(cust,
        orders("o_custkey") === cust("c_custkey")))
      assert(p.contains("might_contain"), s"bloom runtime filter missing:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
      spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("cepPattern: one shuffle onto user_id, row-local regex — no window, no join") {
    val p = plan(Analytics.cepPattern(Analytics.events(spark, sf)))
    assert(p.contains("Exchange hashpartitioning(user_id"), p)
    assert(!p.contains("Window"), s"journey assembly must be agg, not window:\n$p")
    assert(!p.contains("Join"), s"no join in the CEP path:\n$p")
  }

  test("partitionedScan: the day predicate rides PartitionFilters, not a post-scan filter") {
    // D6 read side: against the date-partitioned sink layout, an
    // event_date equality must prune partition DIRECTORIES (only one
    // day's files are listed) — the first plan property a 100 TB
    // deployment checks. PushedFilters/row-group pruning is the flat-file
    // fallback; here the predicate must appear in PartitionFilters.
    val p = plan(graft.ops.Layout.partitionedScan(
      Analytics.events(spark, sf), sf))
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(p)
    assert(pf.exists(_.contains("event_date")),
      s"day predicate must be a partition filter:\n$p")
    assert(pf.exists(f => f.contains("=") || f.contains("isnotnull")),
      s"expected the equality inside PartitionFilters:\n$p")
  }

  test("partitionedDimScan: DPP plants a dynamic pruning subquery in the fact scan") {
    // the calendar-dim shape: the day predicate lives on the broadcast
    // dim, and Catalyst must translate it into
    // dynamicpruningexpression(event_date IN subquery) on the fact
    // scan's PartitionFilters — only the dim's surviving days are listed
    val p = plan(graft.ops.Layout.partitionedDimScan(
      Analytics.events(spark, sf), sf))
    assert(p.contains("dynamicpruning"),
      s"DPP did not engage on the date-partitioned fact:\n$p")
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(p).toSeq
    assert(pf.exists(f => f.contains("event_date") && f.contains("dynamicpruning")),
      s"dynamic pruning must target event_date in PartitionFilters:\n$p")
  }

  test("poissonBootstrapSE: one scan fans out through the broadcast replica dimension") {
    val p = plan(graft.ops.Relational.poissonBootstrapSE(
      Relational.table(spark, sf, "orders")))
    assert(p.contains("BroadcastNestedLoopJoin"), s"replica fan-out must broadcast:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"no global sort:\n$p")
  }

  test("skyline: no cartesian product — cell prune and shell check both broadcast") {
    // the quadratic is confined: cell-dominance and the exact shell
    // check are broadcast joins over model/shell-sized sides; the
    // corpus-sized point frame never cross-joins itself
    val p = plan(graft.ops.Relational.skyline(
      Relational.table(spark, sf, "orders")))
    assert(!p.contains("CartesianProduct"), s"skyline must never plan a cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"cell/shell dominance checks must be broadcast joins:\n$p")
  }

  test("fuzzyJoin: candidates meet on an equi-join; no cartesian, no nested loop") {
    // the pigeonhole chunks turn an edit-distance theta-join into a
    // hash-partitioned equi-join; the only joins beyond it are the two
    // id re-expansions, also equi-joins
    val p = plan(graft.ops.Dedup.fuzzyJoin(
      Relational.table(spark, sf, "part")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join must stay equi-join only:\n$p")
  }

  test("corrMatrix: one aggregation pass — no join, a single hash exchange") {
    // the k(k+1)/2 cross-sums ride ONE partial+final aggregate; pair
    // rows unpivot from the 1-row result. A plan with a join or a
    // second fact exchange means someone reintroduced per-pair corr()
    val p = plan(graft.ops.Modeling.corrMatrix(
      Relational.table(spark, sf, "lineitem")))
    assert(!p.contains("Join"), s"corr matrix must not join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 0 &&
      "Exchange SinglePartition".r.findAllIn(p).size <= 1,
      s"corr matrix must be one global aggregate:\n$p")
  }

  test("olsByGroup: dimension chain broadcasts; fact shuffles only for the 5-sum aggregate") {
    val p = plan(graft.ops.Modeling.olsByGroup(
      Relational.table(spark, sf, "lineitem"),
      Relational.table(spark, sf, "supplier"),
      Relational.table(spark, sf, "nation")))
    assert(p.contains("BroadcastHashJoin"), s"supplier→nation must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact must not shuffle for the join:\n$p")
  }

  test("weightedQuantiles: value-domain collapse BEFORE the window (two hash exchanges)") {
    // exchange 1: the collapse onto (group, value); exchange 2: the
    // window's (group) clustering, which the final aggregate then
    // reuses. A third hash exchange means the collapse was lost and the
    // window is sorting raw fact rows
    val p = plan(graft.ops.Analytics.weightedQuantiles(
      Relational.table(spark, sf, "lineitem")))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"weighted quantiles must window the collapsed frame only:\n$p")
    assert(p.contains("Window"), p)
  }

  test("bucketedJoin: the fact-fact join consumes bucket distribution — zero join exchanges") {
    // write once, join forever without a shuffle: the ONLY hash exchange
    // in the read plan must belong to the monthly aggregate, not the join
    graft.ops.Layout.bucketedJoin(spark,
      Relational.table(spark, sf, "lineitem"),
      Relational.table(spark, sf, "orders"))
    val p = plan(graft.ops.Layout.bucketedJoinRead(spark))
    assert(p.contains("SortMergeJoin"), s"merge hint lost:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"bucketed sides must not re-shuffle for the join:\n$p")
  }

  test("rendezvousRebalance: ownership is map-side — broadcast grid, no pre-aggregate shuffle of keys") {
    val p = plan(graft.ops.Layout.rendezvousRebalance(
      Relational.table(spark, sf, "part")))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"node grid must broadcast across the key scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("revenueBridge: ship-year range pushes to the scan; part broadcasts") {
    val p = plan(Relational.revenueBridge(
      Relational.table(spark, sf, "lineitem"),
      Relational.table(spark, sf, "part")))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"year range must prune row groups at the scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part must broadcast:\n$p")
  }

  test("snapshotDiff: both snapshot scans read only key + compare columns") {
    val orders = Relational.table(spark, sf, "orders")
    val p = plan(Relational.snapshotDiff(orders, orders,
      Seq("o_orderkey"), Seq("o_totalprice", "o_orderstatus")))
    // column pruning is THE scale property of a reconciliation pass: a
    // scan that drags o_comment through a full-outer join moves the
    // whole table twice for a 3-column compare
    assert(!p.contains("o_comment") && !p.contains("o_clerk"),
      s"snapshot scans must prune to key+compare columns:\n$p")
    assert(p.contains("o_totalprice"), p)
  }

  test("relatedItems: no cartesian product; per-part top-k is one window") {
    val p = plan(Relational.relatedItems(
      Relational.table(spark, sf, "lineitem")))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair build must stay an equi-join:\n$p")
    assert(p.contains("Window"), p)
  }

  test("permTest: the draw grid broadcasts across the user collapse — no shuffle join") {
    // 200 draws must multiply the USER dimension via a broadcast cross;
    // a SortMergeJoin or CartesianProduct here re-shuffles the corpus
    // collapse 200 times over
    val p = plan(Analytics.permTest(Analytics.events(spark, sf)))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"draw grid must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("shapleyAttribution: channel ranks broadcast onto the corpus; coalition math never joins fact rows") {
    val p = plan(Analytics.shapleyAttribution(Analytics.events(spark, sf)))
    assert(p.contains("BroadcastHashJoin"),
      s"the type→bit map must broadcast over events:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the 2^n coalition frames must stay broadcast-side:\n$p")
  }

  test("tCloseness and matchedAtt: value-domain machinery, no corpus-sized join") {
    val pt = plan(graft.ops.Privacy.tCloseness(Analytics.events(spark, sf)))
    assert(!pt.contains("CartesianProduct"), pt)
    assert(!pt.contains("event_id"),
      s"t-closeness must prune the events scan to (type, ts, value):\n$pt")
    val pm = plan(Analytics.matchedAtt(Analytics.events(spark, sf)))
    assert(!pm.contains("SortMergeJoin") && !pm.contains("CartesianProduct"),
      s"1-NN matching must stay a merge window over the value domain:\n$pm")
  }

  test("ewmaTrend: orders scan prunes to (date, price); the weight grid broadcasts") {
    val p = plan(Relational.ewmaTrend(Relational.table(spark, sf, "orders")))
    assert(!p.contains("o_comment") && !p.contains("o_clerk"),
      s"EWMA must read two columns only:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"dt-grid must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("retrievalEval: df broadcasts over the postings slice; ranking is a per-term window") {
    val p = plan(graft.ops.TextAnalysis.retrievalEval(
      graft.ops.TextAnalysis.documents(spark, sf)))
    assert(p.contains("BroadcastHashJoin"), s"df/stats must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("shared pair graph: a second consumer's plan reads the persisted frame, not the fact table") {
    // the graph family's 100 TB posture: ONE partPairCounts exchange per
    // session feeds triangles/k-core/LPA/CC — after the first consumer
    // materializes the cache, later consumers' plans must scan the
    // InMemoryRelation instead of re-running the lineitem collapse
    val pairs = Relational.partPairCounts(
        Relational.table(spark, sf, "lineitem"), 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      pairs.count() // populate
      // the AQE physical string truncates leaf nodes — pin the cache
      // substitution on the optimized logical plan, where the scan
      // source is always visible
      val q = graft.ops.Graph.degreeDistributionFromPairs(pairs)
        .queryExecution.optimizedPlan
      // every leaf must be the cached relation (whose node string echoes
      // the ORIGINAL parquet plan it caches — so assert on node types,
      // not on substring absence)
      val leaves = q.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(
        _.getClass.getSimpleName == "InMemoryRelation"),
        s"consumer must read only the cached pair frame:\n$q")
    } finally pairs.unpersist(blocking = false)
  }

  test("fkOrphans: every edge audit is a broadcast anti join — no fact-fact shuffle") {
    val p = plan(Relational.fkOrphans(
      Relational.table(spark, sf, "lineitem"),
      Relational.table(spark, sf, "orders"),
      Relational.table(spark, sf, "customer"),
      Relational.table(spark, sf, "part"),
      Relational.table(spark, sf, "nation")))
    assert(p.contains("BroadcastHashJoin LeftAnti") ||
      p.contains("BroadcastHashJoin [") && p.contains("LeftAnti"),
      s"parent sides must broadcast into the anti join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("theilDecomposition: the nation attach broadcasts; ln terms stay on the value domain") {
    val p = plan(Relational.theilDecomposition(
      Relational.table(spark, sf, "orders"),
      Relational.table(spark, sf, "customer")))
    assert(p.contains("BroadcastHashJoin"),
      s"customer dimension must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      p)
  }

  test("frequentTriples: every levelwise gate plans as a semi-join; no cartesian") {
    val li = Relational.table(spark, sf, "lineitem")
    val p = plan(Relational.frequentTriples(li,
      Relational.partPairCounts(li, 2)))
    assert(p.contains("LeftSemi"),
      s"A-priori gates must be semi-joins:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("setSimJoinPrefix: shingles materialize once, verify is row-local array algebra") {
    val p = plan(graft.ops.Dedup.setSimJoinPrefix(
      graft.ops.TextAnalysis.documents(spark, sf), 0.7))
    // the exploded shingle frame is persisted and re-read (df counts,
    // prefixes, verify arrays) — never re-exploded per consumer
    assert(p.contains("InMemoryTableScan"), p)
    // candidate generation is an equi-join on the prefix token; the
    // exact verify is codegen'd array_intersect, not a second corpus join
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("array_intersect"), p)
  }

  test("incrementalSetSimPrefix: batch probes the index; verify is row-local") {
    val docs = graft.ops.TextAnalysis.documents(spark, sf)
    import org.apache.spark.sql.functions.{col => c}
    val batch = docs.limit(50)
      .select((c("doc_id") + 1000000L).as("doc_id"), c("text"))
    val p = plan(graft.ops.Dedup.incrementalSetSimPrefix(docs, batch, 0.5))
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("array_intersect"), p)
  }

  test("holtWinters: 196-row weight table broadcasts; spine keeps rows via left join") {
    val p = plan(Analytics.holtWintersForecast(
      Analytics.eventsSince(spark, sf, "2024-01-01T00:00:00Z")))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("holtForecast: the 28-row weight table broadcasts onto the day collapse") {
    val p = plan(Analytics.holtForecast(
      Analytics.eventsSince(spark, sf, "2024-01-01T00:00:00Z")))
    assert(p.contains("BroadcastHashJoin"),
      s"weight join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("profileTable: the k exact distincts ride ONE Expand over one scan") {
    val p = plan(graft.ops.Catalog.profileTable(
      Analytics.eventsSince(spark, sf, "2024-01-01T00:00:00Z")))
    // one Expand node (k-fold row stream under partial aggregation),
    // one generator for the stack unpivot — never k separate scans
    assert("Expand".r.findAllIn(p).length == 1, p)
    assert("Scan parquet".r.findAllIn(p).size <= 1, p)
  }

  test("AQE splits the hot key automatically (skew=true) — the no-salt twin of saltedJoin") {
    // q_salted_join proves the MANUAL answer to one too-hot key; this
    // pins the AUTOMATIC one: Spark's OptimizeSkewedJoin must mark and
    // split the same single-hot-key shape at runtime with no salting in
    // the query. Thresholds are scaled to sandbox bytes (the defaults
    // gate on 256 MB partitions); the rewrite itself is the one that
    // fires at 100 TB sizes.
    import spark.implicits._
    import org.apache.spark.sql.functions.{when, lpad}
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one hot key carrying ~90% of the fact side, plus a uniform tail
      val fact = spark.range(0, 200000)
        .select(when($"id" < 180000, 0L).otherwise($"id").as("k"),
          lpad($"id".cast("string"), 32, "x").as("pad"))
      val dim = spark.range(0, 2000)
        .select($"id".as("dk"), ($"id" * 2).as("w"))
      val joined = fact.join(dim, $"k" === $"dk")
      // execute THIS dataset's own QueryExecution (count() would build
      // a separate one and the inspected plan would never run) — the
      // AQE final plan only exists after execution
      // hot key 0 matches dk=0 → 180000 rows; tail keys ≥ 180000 miss
      assert(joined.collect().length == 180000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the hot-key join as skewed:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The query-plane aggregates that sort with Par.sortSmall. */
  private val sortedLight = Seq("q_event_summary", "q_quality_histogram",
    "q_type_counts", "q_hourly_counts", "q_tumbling_counts", "q_sliding_counts",
    "q_value_stats", "q_revenue_by_nation")

  private def occurrences(p: String, s: String): Int =
    java.util.regex.Pattern.quote(s).r.findAllIn(p).length

  test("dimension-sized aggregates sort in one partition: no range exchange") {
    sortedLight.foreach { name =>
      val p = plan(SparkEntry.queries(name)(spark, sf))
      assert(!p.contains("Exchange rangepartitioning"), s"$name:\n$p")
      // the partial + final aggregate pair survives the single-task sort
      assert(p.contains("partial_"), s"$name lost its partial aggregate:\n$p")
      assert("(Hash|ObjectHash|Sort)Aggregate".r.findAllIn(p).length >= 2, s"$name:\n$p")
      if (name != "q_revenue_by_nation")
        assert(occurrences(p, "Exchange hashpartitioning") == 1, s"$name:\n$p")
    }
  }

  test("q_event_pipeline range-partitions the events scan on event_id, below the parse") {
    for (name <- Seq("q_event_pipeline", "q_publish_roundtrip")) {
      val p = plan(SparkEntry.queries(name)(spark, sf))
      assert(occurrences(p, "Exchange rangepartitioning") == 1, s"$name:\n$p")
      val at = p.indexOf("Exchange rangepartitioning(event_id")
      assert(at > p.lastIndexOf("from_json"),
        s"$name: range exchange not on event_id below from_json:\n$p")
      assert(!p.contains("Exchange hashpartitioning"), s"$name:\n$p")
    }
  }

  test("data-sized results keep orderBy's range exchange") {
    val p = plan(SparkEntry.queries("q_top_orders_per_customer")(spark, sf))
    assert(p.contains("Exchange rangepartitioning"), p)
  }

  test("one pass over the 15 light queries runs at most 38 jobs") {
    val light = Seq("q_event_pipeline", "q_event_summary", "q_quality_histogram",
      "q_verification_count", "q_health_check", "q_type_counts", "q_hourly_counts",
      "q_dashboard_metrics", "q_recent_events", "q_tumbling_counts",
      "q_sliding_counts", "q_value_stats", "q_revenue_by_nation",
      "q_shipping_priority", "q_top_orders_per_customer")
    val sf01 = "/root/testdata/sf0.01"
    def pass(): Unit = light.foreach { name =>
      spark.catalog.clearCache()
      SparkEntry.clearCaches()
      SparkEntry.queries(name)(spark, sf01).collect()
    }
    pass() // schema resolution and width probes run once per session
    val jobs = jobsDuring(pass())
    assert(jobs <= 38, s"$jobs jobs in one pass")
  }
}
