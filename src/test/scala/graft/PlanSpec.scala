package graft

import graft.operators.{Enrichment, Gold, Silver, Stats}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape guards: the scale properties BASELINE.md promises must survive
  * refactors — filters reach the parquet scan, scans are pruned, small dims
  * broadcast, and nothing global-sorts on the analytics paths. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("silver filters push into the parquet scan; scan is column-pruned") {
    val plan = formatted(Silver.cleanLineitem(spark, dir))
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThan(l_quantity"),
      "business-rule filter did not reach the scan")
  }

  test("sales_summary reads only the columns it needs") {
    val plan = formatted(Gold.salesSummary(spark, dir))
    // lineitem scan must not include unused wide columns
    assert(!plan.contains("l_returnflag") && !plan.contains("l_shipdate"),
      "lineitem scan reads columns the query never uses")
    assert(plan.contains("BroadcastHashJoin"), "nation dim should broadcast")
  }

  test("no single-partition exchanges on grouped analytics paths") {
    Seq(
      Gold.salesSummary(spark, dir),
      Gold.productAnalysis(spark, dir),
      Gold.dailyMetrics(spark, dir),
      Silver.cleanLineitem(spark, dir),
      Enrichment.enrichedSales(spark, dir),
      Stats.trendDetection(spark, dir)
    ).foreach { df =>
      val plan = formatted(df)
      assert(!plan.contains("SinglePartition"), "grouped query collapsed to one partition")
    }
  }

  test("enriched_sales broadcasts the static metadata, not the part table") {
    val plan = formatted(Enrichment.enrichedSales(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "country metadata should broadcast")
    // the part join must stay a key join (shuffle or AQE-broadcast at tiny SF
    // is fine) — what we pin is that the scan only reads the two part columns
    assert(!plan.contains("p_retailprice"), "part scan reads unused columns")
  }

  test("corr_matrix is one distributed aggregate over a pruned lineitem scan") {
    val plan = formatted(Stats.corrMatrix(spark, dir))
    assert(!plan.contains("Window"), "corr must not use windows")
    assert(!plan.contains("l_orderkey"), "lineitem scan reads columns the moments never use")
    assert(plan.contains("HashAggregate"), "moments should be hash-aggregated (partial+final)")
  }

  test("doc chunking is scan-parallel: no exchange below the chunk generate") {
    val plan = formatted(graft.text.Chunking.chunkDocs(Tables.documents(spark, dir)))
    assert(!plan.contains("Exchange"), "chunking should be a pure projection over the scan")
    assert(plan.contains("Generate"), "chunk explode missing")
  }

  test("quality scorecard is one aggregate pass over a pruned fact join") {
    val plan = formatted(graft.operators.QualityScore.scorecard(spark, dir))
    // exactly one big-table join (lineitem x orders); customer/nation broadcast
    assert("SortMergeJoin".r.findAllIn(plan).size <= 1, "more than one shuffle join")
    assert(plan.contains("BroadcastHashJoin"), "customer/nation dims should broadcast")
    // scan pruning: the lineitem scan must not read the wide comment-ish cols
    assert(!plan.contains("l_returnflag"), "lineitem scan reads columns the rules never use")
  }

  test("forecast aggregates partially before its per-country shuffle") {
    val plan = formatted(graft.operators.Forecast.salesForecast(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "customer/nation dims should broadcast")
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      "expected partial+final aggregates at both rollup levels")
  }

  /** Positive evidence that `plan` ranks within `group` on RankOps'
    * grouped prefix core: the partition-local prefix over the group and the
    * broadcast offset join. */
  private def assertGroupedPrefix(plan: String, group: String): Unit = {
    assert(s"partition_prefix\\(1, [^)]*$group".r.findFirstIn(plan).isDefined,
      s"expected the distributed grouped rank over $group")
    assert(plan.contains("BroadcastHashJoin"), "the rank offsets must broadcast")
  }

  test("operational KPIs shuffle once on the bucket key") {
    val plan = formatted(graft.operators.Views.operationalKpis(spark, dir))
    // one hash-partitioned exchange (the bucket key); the windows and the
    // rollup all reuse that partitioning
    assert("""(?m)^\(\d+\) Exchange""".r.findAllIn(plan).size == 1,
      "operational KPIs should partition once by bucket")
    assert(!plan.contains("SinglePartition"), "collapsed to one partition")
  }

  test("vault model is a pure projection: no exchange, no join") {
    val plan = formatted(graft.operators.Vault.vaultModel(spark, dir))
    assert(!plan.contains("Exchange"), "hash-key build must not shuffle")
    assert(!plan.contains("Join"), "hash-key build must not join")
  }

  test("churn risk: the customer join reuses the orders-aggregate key") {
    val plan = formatted(graft.operators.Churn.churnRisk(spark, dir))
    // the as-of scalar broadcasts; the only data-sized exchanges are on the
    // shared customer key (orders rollup + customer side of the join)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "as-of scalar should broadcast")
    assert(!plan.contains("SinglePartition") || plan.contains("BroadcastExchange"),
      "churn collapsed to one partition")
    // orders scan pruned: never reads o_orderstatus
    assert(!plan.contains("o_orderstatus"), "orders scan reads columns churn never uses")
  }

  test("behavioral analytics: all three range windows share one user shuffle") {
    val plan = formatted(graft.operators.Behavior.behavioralAnalytics(spark, dir))
    // exactly one data-sized (hash-partitioned) exchange — the user key; the
    // only other exchange is the 1-row as-of scalar's SinglePartition agg
    val hashExchanges = "hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(hashExchanges >= 1, "user_id window shuffle missing")
    assert("Window".r.findAllIn(plan).size <= 2, "range windows did not fuse")
    assert(!plan.contains("props"), "events scan reads the wide props column")
  }

  test("distribution profile ranks each priority on the prefix core, never one partition") {
    val plan = formatted(Stats.distributionProfile(spark, dir))
    assertGroupedPrefix(plan, "o_orderpriority")
    assert(!plan.contains("SinglePartition"), "profile collapsed to one partition")
  }

  test("no low-cardinality window sorts survive on the grouped-rank paths") {
    // these rank WITHIN country/segment/priority via
    // RankOps.withGroupedRank: a partition-local prefix over the
    // range-partitioned checkpoint plus a broadcast offset join — no window
    // at all. The guard: the distributed rank ran, and any window spec that
    // partitions on the low-cardinality group column also involves __pid. A
    // bare partitionBy(group) sort over the data frame (the 25-tasks-forever
    // ceiling) mentions no __pid and fails here.
    Seq(
      "country" -> Gold.productAnalysis(spark, dir),
      "customer_segment" -> graft.operators.Segments.rfmSegmentRollup(spark, dir),
      "country" -> graft.operators.AdvancedFeatures.medianPrices(spark, dir),
      "country" -> graft.operators.Quality.madOutliers(spark, dir),
      "o_orderpriority" -> Stats.distributionProfile(spark, dir),
      "customer_segment" -> graft.operators.Segments.customerSegments(spark, dir)
    ).foreach { case (group, df) =>
      val plan = formatted(df)
      assertGroupedPrefix(plan, group)
      val specs = s"windowspecdefinition\\([^)]*".r.findAllIn(plan).toList
        .filter(_.contains(group))
      specs.foreach { spec =>
        assert(spec.contains("__pid"),
          s"low-cardinality window partitioned by bare $group: $spec")
      }
    }
  }

  test("ab test is one aggregate pass: no join, no window") {
    val plan = formatted(graft.operators.Experiment.abTestResults(spark, dir))
    assert(!plan.contains("Window") && !plan.contains("SortMergeJoin"),
      "ab test should be a single aggregate")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "expected partial+final aggregate")
  }

  test("referential integrity: calendar-sized parents broadcast") {
    val plan = formatted(graft.operators.Integrity.referentialIntegrity(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "nation/region parents should broadcast")
  }

  test("interaction features are a pure projection: no exchange") {
    val plan = formatted(graft.operators.FeaturePipeline.interactionFeatures(spark, dir))
    assert(!plan.contains("Exchange"), "pairwise products must not shuffle")
  }

  test("group ratio features broadcast the 25-row group stats back") {
    val plan = formatted(graft.operators.FeaturePipeline.groupRatioFeatures(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "group stats should broadcast")
  }

  test("ks drift windows stay partitioned by country") {
    val plan = formatted(graft.operators.Drift.ksDrift(spark, dir))
    assert(!plan.contains("SinglePartition"), "ECDF window collapsed to one partition")
    assert(plan.contains("Window"), "cumulative ECDF window missing")
  }

  test("cat drift: one category-key aggregate per feature, no window, no join") {
    val plan = formatted(graft.operators.Drift.catDrift(spark, dir))
    assert(!plan.contains("Window"), "contingency counts must not use windows")
    assert(!plan.contains("SortMergeJoin"), "cat drift must not shuffle-join")
  }

  test("zorder layout: pruned 3-column scan, broadcast bounds, partial agg") {
    val plan = formatted(graft.operators.Layout.zorderLayout(spark, dir))
    // the interleave needs exactly ok/pk/sk — a scan reading the money or
    // date columns would drag the full row width through both passes
    assert(!plan.contains("l_extendedprice") && !plan.contains("l_shipdate"),
      "lineitem scan reads columns the layout stats never use")
    // per-bucket stats aggregate partially before their ≤128-group exchange
    assert(plan.contains("HashAggregate"), "bucket stats must hash-aggregate")
    // the 1-row bounds/probe frames ride broadcasts, never a cartesian
    assert(plan.contains("BroadcastExchange") && !plan.contains("CartesianProduct"),
      "bounds must broadcast back, not cartesian")
  }

  test("tfidf top terms: doc-partitioned group-limited window, no cartesian") {
    // the localCheckpoint truncates lineage, so the visible plan is the
    // join+window tail over the materialized (doc, token) frame — exactly
    // the part whose shape matters at scale
    val plan = formatted(graft.text.TextOps.tfidfTopTerms(spark, dir))
    // (the 1-row corpus-size aggregate legitimately plans a scalar
    // SinglePartition exchange — what must stay keyed is the window)
    assert(plan.contains("Window") && plan.contains("hashpartitioning(doc_id"),
      "top-k window must shuffle by doc_id, never a single-partition sort")
    assert(plan.contains("WindowGroupLimit"),
      "rank<=k must push down as a group limit (top-k per doc, not full rank)")
    assert(!plan.contains("CartesianProduct"),
      "the 1-row corpus-size frame must broadcast, not cartesian")
  }

  test("scalar cross joins pin their 1-row sides as broadcasts") {
    Seq(
      graft.operators.Views.realtimeMetrics(spark, dir),
      graft.operators.Segments.customerSegments(spark, dir)
    ).foreach { df =>
      val plan = formatted(df)
      assert(plan.contains("BroadcastExchange"), "1-row scalar side must broadcast")
      assert(!plan.contains("CartesianProduct"), "scalar cross join planned as cartesian")
    }
  }

  test("training matrix rides the native as-of exec, not the union+window fallback") {
    val df = graft.operators.FeatureStore.trainingMatrix(spark, dir)
    val plan = formatted(df)
    assert(plan.contains("AsOfJoin"), "native AsOfJoinExec missing from the plan")
    // snapshot windows + per-day dedup must share the customer-key exchange
    val custExchanges = "hashpartitioning\\(o_custkey".r.findAllIn(plan).size
    assert(custExchanges <= 1, s"snapshot windows re-shuffled the customer key ($custExchanges exchanges)")
    assert(df.columns.contains("label") && df.columns.count(_.startsWith("f_")) == 4)
  }

  test("hash split and repetition filter are pure projections: no exchange") {
    Seq(
      graft.text.TrainPrep.hashSplit(spark, dir),
      graft.text.TrainPrep.repetitionFilter(spark, dir)
    ).foreach { df =>
      val plan = formatted(df)
      assert(!plan.contains("Exchange"), "row-local corpus op shuffled")
    }
  }

  test("sequence packing's running sum never re-exchanges the frame on __pid") {
    val plan = formatted(graft.text.TrainPrep.sequencePacking(spark, dir))
    assert(!plan.contains("hashpartitioning(__pid"),
      "the token-offset prefix sum re-exchanged the ranked frame on __pid")
    spark.catalog.clearCache()
  }

  test("sequence packing never collapses to one partition") {
    val plan = formatted(graft.text.TrainPrep.sequencePacking(spark, dir))
    assert(!plan.contains("SinglePartition"),
      "global prefix sum fell back to a single-partition window")
  }

  test("mixing weights: per-source rollup with a broadcast 1-row total") {
    val plan = formatted(graft.text.TrainPrep.mixingWeights(spark, dir))
    assert(plan.contains("BroadcastExchange"), "corpus total must broadcast")
    assert(!plan.contains("CartesianProduct"), "scalar join planned as cartesian")
  }

  test("training shuffle rides a range repartition, never one partition") {
    val plan = formatted(graft.text.TrainPrep.trainingShuffle(spark, dir))
    assert(!plan.contains("SinglePartition"),
      "global shuffle rank fell back to a single-partition window")
  }

  test("temperature sample broadcasts the per-language rates to the corpus") {
    val plan = formatted(graft.text.TrainPrep.temperatureSample(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      "the <=#languages-row rate frame must broadcast — the corpus side must not shuffle")
    assert(!plan.contains("SortMergeJoin"), "corpus shuffled for a tiny-side join")
  }

  test("curation funnel is one aggregate pass: no join, no window") {
    val plan = formatted(graft.text.TrainPrep.curationFunnel(spark, dir))
    assert(!plan.contains("Join"), "row-local funnel must not join")
    assert(!plan.contains("Window"), "row-local funnel must not window")
  }

  test("corpus stats: one rollup with a broadcast 1-row total") {
    val plan = formatted(graft.text.TrainPrep.corpusStats(spark, dir))
    assert(plan.contains("BroadcastExchange"), "corpus token total must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("stratified sample rides the range repartition, never one partition") {
    val plan = formatted(graft.text.TrainPrep.stratifiedSample(spark, dir))
    assert(!plan.contains("SinglePartition"),
      "per-stratum rank fell back to a single-partition window")
  }

  test("dup spans: semi-join membership, doc-partitioned window, no cartesian") {
    val plan = formatted(graft.dedup.DupSpans.dupSpans(spark, dir))
    assert(plan.contains("LeftSemi"),
      "dup-gram membership must be a semi-join, not a materialized join")
    assert(!plan.contains("SinglePartition"),
      "island merge must window per-doc, never on one partition")
    assert(!plan.contains("CartesianProduct"))
  }

  test("span removal: semi-join membership, doc-keyed windows/joins, no cartesian") {
    val plan = formatted(graft.dedup.DupSpans.spanRemoval(spark, dir))
    assert(plan.contains("LeftSemi"),
      "dup-gram membership must be a semi-join, not a materialized join")
    assert(!plan.contains("SinglePartition"),
      "island work must stay doc-partitioned, never on one partition")
    assert(!plan.contains("CartesianProduct"))
  }

  test("incremental near-dup probes buckets without cartesian or single partition") {
    val plan = formatted(graft.dedup.IncrementalDedup.incrementalNearDup(spark, dir))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("SinglePartition"),
      "bucket probe or best-match aggregation collapsed to one partition")
  }

  test("curated corpus: one composed plan, semi-join membership, no cartesian") {
    val plan = formatted(graft.text.TrainPrep.curatedCorpus(spark, dir))
    assert(plan.contains("LeftSemi"),
      "gram membership stages must stay semi-joins")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("SinglePartition"),
      "curation emission must never collapse to one partition")
  }

  test("text hot paths ride the native codegen kernels, not interpreted lambdas") {
    // the gram builds and run statistics must stay compiled expressions —
    // a regression back to transform/aggregate lambdas is interpreted,
    // 3–4.5× slower per document at scale (BASELINE native-kernel table)
    Seq(
      graft.text.TrainPrep.repetitionFilter(spark, dir) -> Seq("word_ngrams", "run_stats"),
      graft.text.TrainPrep.contaminationCheck(spark, dir) -> Seq("word_ngrams"),
      graft.text.TrainPrep.curationFunnel(spark, dir) -> Seq("run_stats"),
      graft.dedup.DupSpans.dupSpans(spark, dir) -> Seq("word_ngrams"),
      graft.text.TextOps.fingerprints(spark, dir) -> Seq("word_ngrams")
    ).foreach { case (df, kernels) =>
      val plan = formatted(df)
      kernels.foreach(k =>
        assert(plan.contains(k), s"plan lost the native $k kernel"))
      // the two interpreted formulations the kernels replaced must not
      // return (other, deliberate lambdas — md5 transforms, stopword
      // filters — are allowed)
      assert(!plan.contains("slice("),
        "the transform/slice gram build crept back into a kernel path")
      assert(!plan.contains("aggregate(array_sort"),
        "the aggregate-lambda run-stats pass crept back into a kernel path")
    }
  }

  test("hybrid search keyword score rides the count_in kernel, not an IN-list lambda") {
    val plan = formatted(graft.text.HybridSearch.hybridSearch(spark, dir))
    assert(plan.contains("count_in"), "kw_score lost the count_in kernel")
    assert(!plan.toLowerCase.contains("filter(lambda"),
      "an interpreted filter-lambda reappeared in the hybrid-search projection")
  }

  test("ml anomaly feature build: partial aggregation, no cartesian, no single partition") {
    val plan = formatted(graft.ml.MlAnomaly.orderFeatures(spark, dir))
    assert(plan.contains("HashAggregate"), "lineitem rollup should partial-aggregate")
    assert(!plan.contains("CartesianProduct"), "feature join must stay a key join")
    assert(!plan.contains("SinglePartition"), "feature build collapsed to one partition")
  }

  test("deterministic-KMeans consumers emit window-free, single-partition-free plans") {
    // the fit runs as driver-bounded jobs; the RETURNED frames must be pure
    // kernel projections over the (possibly re-computed) feature lineage —
    // a Window or SinglePartition here would mean the scalable shape regressed
    for (df <- Seq(graft.ml.Clustering.customerClusters(spark, dir),
                   graft.ml.MlAnomaly.mlAnomaly(spark, dir))) {
      val plan = formatted(df)
      assert(plan.contains("kmeans_assign"), "assignment lost the codegen kernel")
      assert(!plan.contains("Window"), "a window crept into a DetKMeans consumer")
      assert(!plan.contains("SinglePartition"),
        "a DetKMeans consumer collapsed to one partition")
    }
    spark.catalog.clearCache() // release mlAnomaly's documented scored cache
  }

  test("partition_advice profiles every column off ONE stacked scan") {
    val plan = formatted(graft.operators.PartitionAdvisor.partitionAdvice(spark, dir))
    // profiler scan + the (distinct-date) granularity scan — a per-column
    // union would show one orders scan per candidate column
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(plan).size
    assert(scans <= 2, s"partition_advice reads orders $scans times, not once per pass")
    assert(plan.contains("Generate"), "the stack() unpivot generator is gone")
    assert(plan.contains("HashAggregate"), "profile counts should partial-aggregate")
  }

  test("partition_advice_sampled: sample predicate below the stack, HLL distincts, no per-value full shuffle") {
    val plan = formatted(graft.operators.PartitionAdvisor
      .partitionAdviceSampled(spark, dir))
    // profile pass + sampled pass + granularity scan
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(plan).size
    assert(scans <= 3, s"sampled advice reads orders $scans times")
    assert(plan.contains("approx_count_distinct"),
      "distinct counts must ride HLL sketches, not per-value shuffles")
    // the md5-bucket sample filter must sit in the scanned subtree (above
    // the scan, below the stack Generate) so the per-value groupBy only
    // shuffles the sampled fraction
    assert(plan.contains("conv(substring(md5("),
      "the md5-bucket sample predicate is gone")
    assert("""Condition : [^\n]*md5\([^\n]*o_orderkey""".r.findFirstIn(plan).isDefined,
      "sample filter did not stay a scan-side Filter condition")
  }

  test("dataset_card: doc-keyed joins + one grouped aggregate, total broadcast, no cartesian") {
    val plan = formatted(graft.text.TrainPrep.datasetCard(spark, dir))
    assert(!plan.contains("CartesianProduct"), "card must not cartesian anywhere")
    assert(plan.contains("LeftSemi"), "contamination membership must stay a semi-join")
    assert(plan.contains("BroadcastExchange"),
      "the 1-row curated-token total must broadcast, not shuffle")
    // the only SinglePartition allowed is the 1-row global total's final agg
    val sp = "SinglePartition".r.findAllIn(plan).size
    assert(sp <= 2, s"cell aggregate collapsed to one partition ($sp SinglePartition nodes)")
  }

  test("multimodal_signal is a shuffle-free per-partition pipeline") {
    val plan = formatted(graft.multimodal.Multimodal.signal(spark, dir))
    assert(!plan.contains("Exchange"),
      "signal decode must stay a zero-shuffle mapPartitions pipeline")
    assert(plan.contains("MapPartitions"), "decode should run per partition")
  }

  test("ann_ivf windows stay query-partitioned; probe join is key-based") {
    val plan = formatted(graft.ann.Ann.annIvfTopK(spark, dir))
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition"),
      "an IVF window lost its query_id partitioning")
    // centroid ranking is the only crossJoin and its build side is the
    // constant-size (nLists-row) centroid table (count the detail headers —
    // the formatted output also repeats each node in the tree section)
    val crossJoins = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(plan).size
    assert(crossJoins <= 1, s"unexpected extra cross joins: $crossJoins")
  }

  test("semdedup: component-keyed election window, no cartesian") {
    val plan = formatted(graft.dedup.SemDeDup.semDedup(spark, dir, ordered = false))
    assert(!plan.contains("CartesianProduct"),
      "semdedup must never plan a cartesian (pairs are cluster-keyed)")
    assert(plan.contains("hashpartitioning(component"),
      "keeper election must shuffle by component, never a single-partition sort")
    spark.catalog.clearCache()
  }

  test("semdedup_incremental: cluster-keyed probe joins, no cartesian") {
    val plan = formatted(
      graft.dedup.SemDeDup.semDedupIncremental(spark, dir, ordered = false))
    assert(!plan.contains("CartesianProduct"),
      "batch-vs-settled probe must stay cluster-keyed, never a cartesian")
    assert(!plan.contains("SinglePartition") || !plan.contains("Window ["),
      "a decision window collapsed to one partition")
    spark.catalog.clearCache()
  }

  test("ann_pq: ADC scan broadcasts the query tables; windows stay query-keyed") {
    val plan = formatted(graft.ann.Pq.annPq(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      "the 10-row ADC table side must broadcast, not cartesian")
    assert(plan.contains("BroadcastExchange"), "qarr must ride a broadcast")
    assert(plan.contains("hashpartitioning(query_id"),
      "shortlist/re-rank windows must shuffle by query_id")
    spark.catalog.clearCache()
  }

  test("multimodal_video is a shuffle-free per-partition pipeline") {
    val plan = formatted(graft.multimodal.Multimodal.video(spark, dir))
    assert(!plan.contains("Exchange"),
      "frame decode must stay a zero-shuffle mapPartitions pipeline")
    assert(plan.contains("MapPartitions"), "decode should run per partition")
  }

  test("dsir: bucket model broadcasts back; per-doc fold is doc-keyed") {
    val plan = formatted(graft.text.Dsir.dsirSelection(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      "the 1-row totals / 256-row lambda frames must broadcast, not cartesian")
    assert(plan.contains("BroadcastExchange"), "the lambda table must broadcast")
    assert(plan.contains("hashpartitioning(doc_id"),
      "the per-doc weight fold must aggregate by doc_id")
    spark.catalog.clearCache()
  }

  test("ann_ivfpq: list-restricted ADC scan broadcasts; windows query-keyed") {
    val plan = formatted(graft.ann.IvfPq.annIvfPq(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      "the per-(query, list) ADC table must broadcast-join on cluster, not cartesian")
    assert(plan.contains("BroadcastExchange"), "qarr must ride a broadcast")
    assert(plan.contains("hashpartitioning(query_id"),
      "shortlist/re-rank windows must shuffle by query_id")
    spark.catalog.clearCache()
  }

  test("event_funnel: ONE Exchange + ONE Sort carries the whole window cascade") {
    val plan = formatted(graft.operators.Funnel.eventFunnel(spark, dir))
    // the op list repeats each node; count unique "(N) Exchange" headers —
    // one user-keyed shuffle for the three cascade windows, one
    // SinglePartition collapse for the 1-row summary aggregate
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).toSet.size
    assert(exchanges <= 2, s"funnel cascade planned $exchanges exchanges (want 2)")
    val sorts = """\(\d+\) Sort""".r.findAllIn(plan).toSet.size
    assert(sorts <= 2, s"funnel cascade planned $sorts sorts (want ≤2: cascade + 4-row output)")
    assert(plan.contains("hashpartitioning(user_id"),
      "the cascade must partition by user_id")
  }

  test("event_attribution: conv-keyed rank windows, no cartesian") {
    val plan = formatted(graft.operators.Funnel.attribution(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      "touch join must stay user-keyed, never a cartesian")
    assert(plan.contains("hashpartitioning(conv_id"),
      "per-conversion rank windows must shuffle by conv_id")
    assert(!plan.contains("Window [") || !plan.contains("SinglePartition, "),
      "an attribution window collapsed to one partition")
  }

  test("ngram_perplexity: no cartesian; tercile rank stays pid-distributed") {
    // the scoring fold sits BEHIND the rank's localCheckpoint boundary, so
    // the final explain starts at the checkpoint RDD — what it CAN pin is
    // the tercile stage: the distributed __pid rank (never a global
    // single-partition window) and broadcast offset fix-up
    val plan = formatted(graft.text.Perplexity.perplexityBuckets(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      "tercile bucketing must join on keys, never a cartesian")
    // the rank is a partition-local sort + prefix projection —
    // the ranked frame must NOT be re-exchanged on __pid (the pre-r18
    // mechanism) nor collapse to a global single-partition window
    assert(!plan.contains("hashpartitioning(__pid"),
      "the tercile rank re-exchanged the ranked frame on __pid")
    assert(!plan.contains("SinglePartition"),
      "the tercile rank collapsed to one partition")
    assert(plan.contains("BroadcastExchange"),
      "the rank offset table must broadcast")
    spark.catalog.clearCache()
  }

  test("entity_resolution: no cartesian; rank stays range-partitioned") {
    val plan = formatted(graft.operators.EntityRes.resolveParts(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      "sorted-neighborhood candidates must join on the rank key")
    assert(plan.contains("rangepartitioning"),
      "the name rank must be the distributed range-partitioned form")
    spark.catalog.clearCache()
  }

  test("graph_pagerank: keyed propagation joins, no cartesian, no global sort mid-loop") {
    val plan = formatted(
      graft.operators.GraphOps.pageRank(spark, dir, ordered = false))
    assert(!plan.contains("CartesianProduct"),
      "rank propagation must join on the node key")
    assert(!plan.contains("SinglePartition"),
      "unordered pagerank must not collapse to one partition")
  }
}
