package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the physical-plan shapes the engine's performance story depends
  * on (PLANS.md receipts): if a Catalyst upgrade or a query edit
  * silently regresses one of these, the perf claim breaks before the
  * benchmark notices. */
class PlanAssertionsSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // drive THIS QueryExecution so AQE's final plan is printed
    df.queryExecution.executedPlan.toString
  }

  test("j04: per-group top-N plans through WindowGroupLimit") {
    val plan = executedPlan("j04_top_per_group")
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=3 must trigger WindowGroupLimit, got:\n$plan")
  }

  test("j02: banded range join is an equi-join, never a nested loop") {
    val plan = executedPlan("j02_banded_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"banding must keep the range join an equi-join, got:\n$plan")
  }

  test("q27: the correlated subquery is decorrelated to an aggregate + join") {
    val plan = executedPlan("q27_sql_correlated")
    assert(plan.contains("HashAggregate"),
      s"decorrelation must produce a one-pass aggregate, got:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"decorrelated plan must not fall back to a nested loop, got:\n$plan")
  }

  test("t15: the count-min probe broadcasts the fixed-size sketch") {
    // the sketch is d×w = 2048 counters REGARDLESS of corpus size — the
    // whole point of the structure is that the probe side never
    // shuffles the vocabulary against it. A SortMergeJoin here means
    // the broadcast was lost and the fixed-memory claim with it.
    val plan = executedPlan("t15_heavy_hitters")
    assert(plan.contains("BroadcastHashJoin"),
      s"t15 sketch probe must be a broadcast join, got:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"t15 must never sort-merge the vocab against the sketch, got:\n$plan")
  }

  test("a07: MAD stats broadcast back over the stream — no per-type window") {
    // the robust-stats twin of a04's rule: per-row flagging joins the
    // tiny stats frame by broadcast; a window over the raw stream would
    // shuffle all of it into |types| partitions.
    val plan = executedPlan("a07_mad_outliers")
    assert(plan.contains("BroadcastHashJoin"),
      s"a07 stats must broadcast, got:\n$plan")
    assert(!plan.contains("Window"),
      s"a07 must never window the raw stream, got:\n$plan")
  }

  test("g03: BFS rounds are equi-joins, never nested loops") {
    val plan = executedPlan("g03_bfs_hops")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"frontier expansion must stay an equi-join, got:\n$plan")
  }

  test("d02: the ONLY join is the (band,bh) bucket-size cap; verify tail join-free") {
    // the capBlocks census equi-join on the band bucket key is the ONE
    // permitted join (the d11 discipline); pair emission + Jaccard
    // verification run bucket-locally with no join — a second equi-join
    // would mean the verify tail regressed to the join-back shape (d07's
    // spelling of the same pipeline)
    val plan = executedPlan("d02_minhash_lsh_pairs").split("== Initial Plan ==")(0)
    Seq("BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"d02 must never nested-loop, found $j in:\n$plan"))
    val joins = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r.findAllIn(plan).length
    assert(joins == 1,
      s"d02 must have exactly ONE join (the (band,bh) bucket cap), got $joins in:\n$plan")
    // the cap must ride BELOW the collect_list aggregate (census observe +
    // bucket-size filter before any bucket row materializes its members)
    assert(plan.contains("CollectMetrics"),
      s"d02's bucket census observe must ride the job:\n$plan")
  }

  test("d10: calibration pairs score in-bucket — zero joins") {
    // d10 audits every band collision uncapped, so unlike d02 it has no
    // cap join either; a join here means verification went back to the
    // signature table instead of scoring the carried arrays in-bucket
    val plan = executedPlan("d10_minhash_calibration").split("== Initial Plan ==")(0)
    val joins = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)"
      .r.findAllIn(plan).length
    assert(joins == 0, s"d10 must plan no join, got $joins in:\n$plan")
  }

  test("d08: banded stage = one cap join + census; pair stage = one self-join") {
    // stage 1 (banded + capped): exactly the cap's equi-join, census riding
    val st1 = graft.queries.DedupQueries.d08Banded(spark, sf)
    st1.collect()
    val p1 = st1.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val j1 = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r.findAllIn(p1).length
    assert(j1 == 1, s"d08 banded stage must have ONE join (the cap), got $j1 in:\n$p1")
    assert(p1.contains("CollectMetrics"),
      s"d08's band census observe must ride the banded stage:\n$p1")
    // full query: the band-candidate self-join is the ONLY live join (the
    // capped table is checkpointed once for both sides)
    val plan = executedPlan("d08_simhash_hamming").split("== Initial Plan ==")(0)
    Seq("BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"d08 must never nested-loop, found $j in:\n$plan"))
    val joins = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r.findAllIn(plan).length
    assert(joins == 1,
      s"d08 must have exactly ONE live join (the band self-join over the " +
        s"checkpointed capped table), got $joins in:\n$plan")
  }

  test("d15: the sketch pair comparison is sketch-sized; corpus never self-joins raw") {
    // the non-equi (sa < sb) pair join runs over the 8-long-per-source
    // SKETCH frame (broadcast nested loop over |sources| rows — bounded
    // by design). A CartesianProduct would mean the pair join regressed
    // to corpus scale.
    val plan = executedPlan("d15_source_overlap").split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"d15's sketch pair join must be the broadcast NLJ over sketch rows:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"d15 must never cartesian, got:\n$plan")
  }

  test("d15: no join ever carries the shingle key (pattern-grouped audit)") {
    // the round-9 verdict's fan-out hazard: a postings self-join on the
    // shingle key costs df² per shingle, df ≈ |sources| on the common
    // case. The round-10 audit groups shingles by source-set signature
    // instead — every remaining join is catalog- or pattern-sized, so
    // NO Join node in the optimized plan may reference the shingle
    // column `k`.
    val df = SparkEntry.queries("d15_source_overlap")(spark, sf)
    val shingleJoins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "k")) => j
    }
    assert(shingleJoins.isEmpty,
      s"exact audit must never join on the shingle key, found:\n$shingleJoins")
  }

  test("q13: top-20 is TakeOrderedAndProject, dimensions broadcast") {
    val plan = executedPlan("q13_join_tpch_q3")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must avoid a global sort, got:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"filtered dimensions must broadcast, got:\n$plan")
  }

  test("t07: bigram count table computes once; no forced vocab broadcast") {
    val df = SparkEntry.queries("t07_bigram_lm_score")(spark, sf)
    df.collect()
    // AQE's toString echoes the pre-adaptive plan under "== Initial
    // Plan ==" — count scans in the FINAL plan section only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the probe side is the ONLY corpus scan — cb/cu read the
    // localCheckpoint'd counts back as RDD scans, never re-tokenizing
    val parquetScans = "Scan parquet".r.findAllIn(plan).length
    assert(parquetScans == 1,
      s"t07 must scan the corpus exactly once (counts via checkpoint), got $parquetScans in:\n$plan")
    // the logical plan must carry no broadcast HINT on the unbounded
    // vocabulary-sized sides (AQE may still *choose* broadcast at this
    // tiny SF — that's fine; a forced hint is the driver-OOM scale bug)
    val logical = df.queryExecution.analyzed.toString
    assert(!logical.contains("ResolvedHint"),
      s"t07 must not force-broadcast the vocab-sized count tables, got:\n$logical")
  }

  test("t06: no forced broadcast of the vocabulary-sized df table") {
    val df = SparkEntry.queries("t06_tfidf_top_terms")(spark, sf)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    // exactly one hint survives: the 1-row corpus-count side `nd`
    assert(hints.size == 1,
      s"t06 may broadcast only the 1-row nd side, found ${hints.size} hints")
  }

  test("v03: IVF probe dynamically prunes the label-partitioned corpus") {
    val plan = executedPlan("v03_ivf_centroid")
    val scanLine = plan.split("\n").find(_.contains("ivf_corpus"))
      .getOrElse(fail(s"no ivf_corpus scan in:\n$plan"))
    assert(scanLine.contains("dynamicpruningexpression(label"),
      s"the nprobe join must prune corpus partitions via DPP, got:\n$scanLine")
  }

  test("v23: every swept nprobe branch keeps v03's partition-pruned probe") {
    val plan = executedPlan("v23_nprobe_curve")
    val scanLines = plan.split("\n").filter(_.contains("ivf_corpus"))
    assert(scanLines.nonEmpty, s"no ivf_corpus scans in:\n$plan")
    scanLines.foreach(l =>
      assert(l.contains("dynamicpruningexpression(label"),
        s"a v23 sweep branch scans the corpus unpruned:\n$l"))
  }

  test("v16: the composed IVF-PQ pipeline keeps v03's partition-pruned probe") {
    val plan = executedPlan("v16_ivfpq_pipeline")
    val scanLine = plan.split("\n").find(_.contains("ivf_corpus"))
      .getOrElse(fail(s"no ivf_corpus scan in:\n$plan"))
    assert(scanLine.contains("dynamicpruningexpression(label"),
      s"v16's coarse probe must prune corpus partitions via DPP, got:\n$scanLine")
  }

  test("v02/v05/v10: SRP probes dynamically prune the bucket-partitioned corpus") {
    Seq("v02_srp_ann", "v05_srp_multiprobe", "v10_batch_ann").foreach { name =>
      val plan = executedPlan(name)
      val scanLine = plan.split("\n").find(_.contains("srp_corpus"))
        .getOrElse(fail(s"no srp_corpus scan in:\n$plan"))
      assert(scanLine.contains("dynamicpruningexpression(pbucket"),
        s"$name: the bucket probe must prune corpus partitions via DPP, got:\n$scanLine")
    }
  }

  test("v22: the L-table probe dynamically prunes BOTH partition columns") {
    // the default metadata truncation (100 chars) cuts the scan's
    // PartitionFilters list off before the second pruning expression
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val plan =
      try executedPlan("v22_multitable_ann")
      finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    val scanLine = plan.split("\n").find(_.contains("srp_tables"))
      .getOrElse(fail(s"no srp_tables scan in:\n$plan"))
    // the probe must open only the L probed (tbl, pbucket) directories —
    // pruning on pbucket alone would still scan every table's replica
    assert(scanLine.contains("dynamicpruningexpression(tbl"),
      s"v22 must prune the table dimension via DPP, got:\n$scanLine")
    assert(scanLine.contains("dynamicpruningexpression(pbucket"),
      s"v22 must prune the bucket dimension via DPP, got:\n$scanLine")
  }

  test("q28: runtime bloom filters prune the fact-join shuffle") {
    val plan = executedPlan("q28_runtime_bloom")
    assert(plan.contains("SortMergeJoin"),
      s"the fact join must keep its at-scale shuffle shape, got:\n$plan")
    assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
      s"a runtime bloom filter must prune a fact scan pre-shuffle, got:\n$plan")
  }

  test("q31/q32: SQL-text subqueries decorrelate to anti/semi joins") {
    val anti = executedPlan("q31_sql_not_exists")
    assert(anti.contains("LeftAnti"),
      s"NOT EXISTS must plan as one anti-join, got:\n$anti")
    val semi = executedPlan("q32_sql_in_subquery")
    assert(semi.contains("LeftSemi"),
      s"IN-subquery must plan as one semi-join, got:\n$semi")
    Seq(anti, semi).foreach(p =>
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"subquery must not fall back to a nested loop:\n$p"))
  }

  test("t06: tf and df derive from ONE corpus scan (checkpointed aggregate)") {
    val df = SparkEntry.queries("t06_tfidf_top_terms")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the only parquet scan left is nd's zero-column count — tf and the
    // df re-aggregate both read the localCheckpoint'd (lang,term) table
    val parquetScans = "Scan parquet".r.findAllIn(plan).length
    assert(parquetScans == 1,
      s"t06 must scan the corpus once (tf+df via checkpoint), got $parquetScans in:\n$plan")
    assert("Scan ExistingRDD".r.findAllIn(plan).length >= 2,
      s"tf and df must both read the checkpointed aggregate, got:\n$plan")
  }

  test("j06: the oracle-checked bucketed join needs no fact-side exchange") {
    // same shape LayoutSpec pins, but through the query's own artifact
    // path (Layout.ensureBucketedFacts) — broadcast disabled because at
    // this sf the planner would broadcast and hide the exchange the
    // bucketing removes
    val (o, l) = graft.sources.Layout.ensureBucketedFacts(spark, sf)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(l).join(
        spark.table(o),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed fact join must plan with zero exchanges, got:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("v13: Lloyd assignment is shuffle-free; only the k-row centroid agg shuffles") {
    val df = SparkEntry.queries("v13_kmeans_step")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // assignment must stay a per-row projection over the broadcast seed
    // array — a shuffled join here would repartition the whole corpus
    Seq("SortMergeJoin", "ShuffledHashJoin").foreach(j =>
      assert(!plan.contains(j), s"v13 assignment must not shuffle the corpus, found $j in:\n$plan"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"the only hash exchange is the k-row centroid aggregate, got $exchanges in:\n$plan")
  }

  test("d09: only the delta shuffles — the history index reads pre-bucketed") {
    // broadcast disabled: at this sf the tiny delta would broadcast and
    // hide the exchange structure the bucketed index removes
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("d09_incremental_dedup")(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      // a SHUFFLED join (SMJ, or SHJ under the round-19 engine join
      // policy) — what matters is the index side reads pre-bucketed
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan)
      assert(plan.contains("Bucketed: true"), plan)
      // delta band rows + the pair-collapse aggregate; a third hash
      // exchange would mean the index side is being reshuffled
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 2,
        s"expected exactly the delta + pair-agg exchanges, got $exchanges in:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q54: each micro-batch's index probes read bucket-pruned, never the full history") {
    // the d09 pre-bucketed-read assertion applied to STREAMING state:
    // both the band index (out_index) and the exact index (out_exact)
    // must carry their bucket column in the scan's PartitionFilters — a
    // probe without it scans the full accumulated history every batch.
    // A cold copy of the estate: a resumed run would probe nothing.
    val cold = IndexProbes.coldCopy(sf, "graft-plan-q54-sf")
    val (_, scans) = IndexProbes.scansDuring(spark)(
      SparkEntry.queries("q54_stream_neardup")(spark, cold).collect())
    val run = IndexProbes.runRoot(cold, "q54")
    for (index <- Seq("out_index", "out_exact").map(run.resolve(_).toString))
      assert(scans.exists(_.prunedProbeOf(index)),
        s"the $index probe must prune on bp with the touched-bucket set; its scans:\n" +
          scans.filter(_.location.contains(index)).mkString("\n"))
  }

  test("u03: all four window passes + the run aggregate share ONE user_id exchange") {
    // the (user_id, run, event_type) aggregate runs on user_id-partitioned
    // data without reshuffling (grouping keys ⊇ partitioning keys), and
    // the lead window re-sorts within the same partitioning — a second
    // hash exchange would mean that co-location was lost
    val df = SparkEntry.queries("u03_scd2_versions")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"SCD2 must shuffle once on user_id, got $exchanges in:\n$plan")
  }

  test("w07: interpolation neighbors come from ONE exchange, O(n) frames, zero joins") {
    // four ignore-nulls window functions (pv/pt over the ascending
    // running frame, nv/nt over the SAME frame shape on the reversed
    // order) partition on user_id → one exchange, two Window nodes
    // (one per sort direction); the only other shuffle is the bounds
    // aggregate feeding the grid. A join anywhere means the as-of
    // pattern regressed to a range join; an UnboundedFollowing frame
    // anywhere means the next-neighbor lookup regressed to the
    // shrinking frame Spark evaluates by re-scanning to the partition
    // end per row — O(n²) in partition size (7.8 s vs 0.6 s at sf0.1).
    val df = SparkEntry.queries("w07_interpolate")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"w07 must be join-free, found $j in:\n$plan"))
    assert("(?i)unboundedfollowing".r.findAllIn(plan).isEmpty,
      s"w07 must use running (incremental) frames only, got:\n$plan")
    assert("Window".r.findAllIn(plan).length <= 2,
      s"neighbor lookups must fit two Window nodes (one per direction), got:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"w07 must shuffle twice (bounds agg + window), got $exchanges in:\n$plan")
  }

  test("d11: pair enumeration is explode-based; the ONLY join is the block-size cap") {
    // assert on stage 1 directly — the barrier in d11 hides this lineage
    // from the final QueryExecution (Scan ExistingRDD leaf)
    val df = graft.queries.DedupQueries.d11Pairs(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the df-cap joins block sizes back on the 16-byte fp — an equi-join,
    // never a nested loop; pair generation itself stays explode-based
    // (a self-join on fp would be a second equi-join → assert exactly one)
    Seq("BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"d11 must never nested-loop, found $j in:\n$plan"))
    val joins = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r.findAllIn(plan).length
    assert(joins == 1,
      s"d11 must have exactly ONE join (the fp block-size cap), got $joins in:\n$plan")
    // the cap filter must run BELOW the collect_list aggregate: an
    // oversized block's texts are never materialized into one row
    val capBelowAgg = plan.contains("CollectMetrics") || plan.contains("bn#")
    assert(capBelowAgg, s"block-size cap must ride the pre-aggregate stage:\n$plan")
  }

  test("q34: four grouping sets compute in ONE Expand + aggregate pass") {
    val plan = executedPlan("q34_sql_grouping_sets").split("== Initial Plan ==")(0)
    assert("Expand".r.findAllIn(plan).length == 1,
      s"grouping sets must plan as a single Expand, got:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"four grouping sets must not mean four scans, got:\n$plan")
  }

  test("q35: LATERAL-with-LIMIT decorrelates to WindowGroupLimit, no nested loop") {
    val plan = executedPlan("q35_sql_lateral")
    assert(plan.contains("WindowGroupLimit"),
      s"the correlated LIMIT must plan as per-group top-N, got:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the lateral join must not fall back to a per-row nested loop, got:\n$plan")
  }

  test("AQE splits skewed partitions of a shuffled join (scale-demo confs)") {
    // cloned session: thresholds shrunk so sf0.001 partitions count as
    // skewed — the point is executing the split path, not the numbers
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "0")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // skew splits happen at map-output granularity: a single-file scan is
    // ONE mapper, whose block can never split — fan the maps out first
    val e = Tables.events(s, sf).repartition(16)
    val a = e.select(org.apache.spark.sql.functions.col("user_id"),
      org.apache.spark.sql.functions.col("value"))
    val b = e.select(org.apache.spark.sql.functions.col("user_id").as("u2"),
      org.apache.spark.sql.functions.col("event_id"))
    // no downstream agg: skew splitting declines when it would force an
    // extra shuffle (forceOptimizeSkewedJoin=false), so keep the join last
    val j = a.join(b, a("user_id") === b("u2"))
    assert(j.count() > 0)
    j.collect()
    val plan = j.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"the demo join must stay a shuffled join, got:\n$plan")
    assert(plan.contains("skewed"),
      s"AQE must mark the shuffle read as skew-split, got:\n$plan")
  }

  test("AQE skew-join split fires on ZIPFIAN keys with the default skew factor") {
    // The realistic twin of the scale-demo test above: a power-law key
    // column (inverse-CDF of Zipf(1): key = floor(exp(ln K · u)) gives
    // P(key) ∝ 1/key — the head key alone owns ~10% of all rows, the
    // fact-table shape every clickstream/corpus join hits), joined to a
    // non-broadcastable dimension. skewedPartitionFactor stays at its
    // DEFAULT (5.0): the hot reducer must really be 5× the median for
    // the split to fire. Only the absolute byte thresholds are scaled
    // down (defaults of 256 MB/64 MB assume cluster-scale shuffles;
    // the ratio between hot and median partition is what the test
    // pins, and that is size-invariant).
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "512k")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128k")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // 64 reducers, not the test session's 4: skew is detected per
    // REDUCER partition, and with only 4 partitions the head key hides
    // among the ~250 tail keys hashed on top of it (ratio ~1.3×). On a
    // real cluster the reducer count always dwarfs the hot-key count —
    // 4 partitions is the unrealistic setting, not 64.
    s.conf.set("spark.sql.shuffle.partitions", "64")
    import org.apache.spark.sql.functions._
    val fact = s.range(0, 4000000L, 1, 8).select(
      floor(exp(log(lit(1000.0)) * (col("id") % 100000L) / lit(100000.0))).as("key"),
      col("id"))
    val dim = s.range(1001).select(col("id").as("dkey"), (col("id") * 7).as("payload"))
    val j = fact.join(dim, col("key") === col("dkey"))
      // post-join filter keeps the collect tiny; it references BOTH
      // sides so Catalyst cannot push it below the join (a fact-only
      // predicate would be pushed to the scan and thin the shuffle the
      // test is about)
      .filter((col("id") + col("payload")) % 997L === 0L)
    assert(j.count() > 0)
    j.collect()
    val plan = j.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"the zipf join must stay a shuffled join, got:\n$plan")
    assert(plan.contains("skewed"),
      s"AQE must split the zipf head partition at default factor 5, got:\n$plan")
  }

  test("p06: contamination is a broadcast semi-join; the corpus tokenizes once; no array scan") {
    val df = SparkEntry.queries("p06_corpus_build")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // round-14 shape: the quality-filtered profile is checkpointed, so
    // the FINAL plan reads only the bench slice from parquet — the
    // corpus pass (tokenize + quality + g8) ran exactly once, at the
    // checkpoint, and both contamination probe and survivor path read
    // the materialization
    val parquetScans = "Scan parquet".r.findAllIn(plan).length
    assert(parquetScans <= 1,
      s"p06's final plan may scan parquet only for the bench slice, got $parquetScans in:\n$plan")
    // the 8-gram test is p04's shape: exploded grams probed against the
    // ONE broadcast hash table (per-gram O(1)) — NEVER arrays_overlap
    // against a corpus-growing 1-row set (the round-13 sf10 α=1.30:
    // that expression linearly scans the bigger array per row)
    assert(!plan.contains("arrays_overlap"),
      s"p06 contamination must be the broadcast semi-join, not a per-row array scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"the gram probe must be a broadcast left-semi join, got:\n$plan")
    // corpus-side shuffle joins stay banned: the doc-level anti-join is
    // broadcast too (flagged ids ≤ bench-doc fanout), so the only wide
    // ops are the dedup window and the final rollup
    Seq("SortMergeJoin", "ShuffledHashJoin").foreach(j =>
      assert(!plan.contains(j), s"p06 contamination must not shuffle-join the corpus, found $j"))
  }

  test("d08: banded Hamming candidates come from an equi-join, never all-pairs") {
    val plan = executedPlan("d08_simhash_hamming")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"band blocking must keep the pair join an equi-join, got:\n$plan")
    // both sides read the checkpointed signature table, not the corpus
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(finalPlan).isEmpty,
      s"the self-join must read the checkpointed signatures, not re-scan the corpus:\n$finalPlan")
  }

  test("d12: segment table chunks once; count-join is an equi-join") {
    val plan = executedPlan("d12_segment_dedup")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the hash-count join must stay an equi-join, got:\n$plan")
    // both the per-hash count and the join-back read the checkpointed
    // segment table — the corpus is chunked and hashed exactly once
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(finalPlan).isEmpty,
      s"d12 must read the checkpointed segments, not re-chunk the corpus:\n$finalPlan")
  }

  test("x07: the lang predicate prunes hive partitions at the directory level") {
    val df = SparkEntry.queries("x07_hive_partitions")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // directory-level pruning, not row-group stats: the filter must be a
    // PartitionFilter on the partition column, so non-en directories are
    // never even listed into the scan
    assert(plan.contains("PartitionFilters") && plan.contains("isnotnull(lang"),
      s"lang = 'en' must land in PartitionFilters, got:\n$plan")
  }

  test("v21: the label predicate prunes IVF partitions statically") {
    val df = SparkEntry.queries("v21_filtered_ann")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // filtered search = partition pruning: the literal IN-list must land
    // in PartitionFilters on the label-partitioned corpus (8 of 10
    // directories never listed), NOT as a post-scan row filter — and no
    // DPP machinery is needed because the predicate is static
    assert(plan.contains("PartitionFilters") && plan.contains("label"),
      s"label IN (1,3) must land in PartitionFilters, got:\n$plan")
    assert(!plan.contains("dynamicpruningexpression"),
      s"static predicate must not need DPP, got:\n$plan")
  }

  test("d14: retention argmax partial-aggregates — no window over members") {
    val df = SparkEntry.queries("d14_cluster_retention")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the keeper is max(struct(n_chars, -doc_id)) — an associative
    // aggregate whose partials are one struct per component×partition; a
    // Window formulation would shuffle and SORT every cluster member
    assert(!plan.contains("Window"),
      s"d14 must pick keepers by aggregate argmax, not a window, got:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("HashAggregate"),
      s"keeper argmax must partial-aggregate, got:\n$plan")
  }

  test("p15: the quota rank filter plans through WindowGroupLimit") {
    val plan = executedPlan("p15_quota_sample")
    // rk <= 20 must push into the window sort as a per-partition 20-row
    // heap — without it every source sorts ALL its docs to keep 20
    assert(plan.contains("WindowGroupLimit"),
      s"quota filter must trigger WindowGroupLimit, got:\n$plan")
  }

  test("u07: CDC net-effect is one aggregate — no window sort of the log") {
    val plan = executedPlan("u07_cdc_net")
    // first/last ops are associative struct argmin/argmax: partial
    // aggregation, two structs per key×partition, never a full sort
    assert(!plan.contains("Window"),
      s"u07 must collapse via aggregate argmin/argmax, not a window, got:\n$plan")
    assert(plan.contains("partial"),
      s"u07's argmin/argmax must partial-aggregate, got:\n$plan")
  }

  test("w12: OHLC open/close are aggregate argmin/argmax — no window sort") {
    val plan = executedPlan("w12_ohlc_bars")
    // first_value/last_value over (type, bar) windows would sort every
    // event; the struct argmin/argmax ships one struct per bar×partition
    assert(!plan.contains("Window"),
      s"w12 must resample via aggregate argmin/argmax, got:\n$plan")
    assert(plan.contains("partial"),
      s"w12 bars must partial-aggregate, got:\n$plan")
  }

  test("v20: the Hamming radius scan stays codegen'd and shuffle-free") {
    val df = SparkEntry.queries("v20_binary_rerank")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the signature pass is a narrow projection + broadcast of the 1-row
    // query signature: no SortMergeJoin anywhere in the candidate scan
    assert(!plan.contains("SortMergeJoin"),
      s"v20's candidate generation must not shuffle-sort, got:\n$plan")
  }

  test("q02: the whole predicate reaches the parquet scan") {
    val df = SparkEntry.queries("q02_filter_count")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity)"),
      s"filters must push into the scan, got:\n$plan")
  }

  test("g01: PageRank iterations re-join a checkpointed edge table, no rescans") {
    val df = SparkEntry.queries("g01_pagerank")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // all three iterations (plus |V| and the init ranks) read the edge
    // table back from the localCheckpoint — the lineitem⋈orders subtree
    // must not appear even once in the final iteration's plan
    assert(!plan.contains("Scan parquet"),
      s"g01 iterations must read the checkpointed edges, not rescan parquet:\n$plan")
    // the 1-row |V| frame joins as crossJoin(broadcast(n)) — a
    // BroadcastNestedLoopJoin over one row is by design; what must
    // never appear is an unbroadcast cartesian over the rank table
    assert(!plan.contains("CartesianProduct"),
      s"g01 must never plan an unbroadcast cartesian:\n$plan")
  }

  test("g02: triangle enumeration is equi-joins over checkpointed edges") {
    val df = SparkEntry.queries("g02_triangles")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Scan parquet"),
      s"g02 joins must read the checkpointed edge set, not recompute it:\n$plan")
    Seq("BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"g02 must stay equi-join, found $j"))
  }

  test("t13: entropy is scalar terms — no explode, one exchange to the agg") {
    val df = SparkEntry.queries("t13_char_entropy")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Generate"),
      s"t13 must not explode per character:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, // partial->final agg shuffle + the output sort
      s"t13 should shuffle only the |langs|-row aggregate (+sort), got $exchanges:\n$plan")
  }

  test("a04: row pass joins the broadcast stats — the stream itself never shuffles") {
    val df = SparkEntry.queries("a04_zscore_outliers")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"a04's stats side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"a04 must not shuffle the event stream to meet the stats:\n$plan")
  }

  test("j10: star join broadcasts the geography dim and pushes the date cut") {
    val plan = executedPlan("j10_star_join")
    assert(plan.contains("BroadcastHashJoin"),
      s"nation⋈region (≤125 rows at any SF) must broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"every j10 edge is an equi-join:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"the o_orderdate range must reach the orders scan:\n$plan")
  }


  test("v24: top-10 per query plans through WindowGroupLimit, panel broadcasts") {
    val plan = executedPlan("v24_retrieval_metrics")
    assert(plan.contains("WindowGroupLimit"),
      s"rk<=10 must trigger WindowGroupLimit, got:\n$plan")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"the query panel must broadcast, got:\n$plan")
  }

  test("j12: native as-of join — AsOfJoinExec, no window, no union") {
    // q23 and j11 run the same operator as j12
    for (q <- Seq("j12_asof_native", "q23_asof_join", "j11_asof_tolerance")) {
      val plan = executedPlan(q)
      assert(plan.contains("AsOfJoin"), s"$q: expected AsOfJoinExec, got:\n$plan")
      assert(!plan.contains("Window ") && !plan.contains("Union"),
        s"$q: the as-of join must not be a union + window composition, got:\n$plan")
    }
  }

  test("m10: perceptual near-dup is banded — an equi-join, never all-pairs") {
    val plan = executedPlan("m10_image_near_dup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the dHash pair join must stay an equi-join on (band, value), got:\n$plan")
    // (the m10_band_census observe rides the checkpointed banded stage,
    // which by design is NOT in this final lineage — the d08 pattern)
  }

  test("c04: ONE window pass feeds all three context-length branches") {
    // count in the FINAL adaptive plan only — toString appends the
    // "== Initial Plan ==" section, which would double every operator
    val plan = executedPlan("c04_packing_curve").split("== Initial Plan ==")(0)
    val windows = "Window ".r.findAllIn(plan).length
    assert(windows == 1,
      s"the packing curve's claim is one shared prefix sum — got $windows Window ops:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("d19: the visible (post-checkpoint) plan joins and sorts, never nested-loops") {
    // the gram/stats stages live behind localCheckpoint (compute-once);
    // the final lineage must be the rstarts equi-join + surgery only
    val plan = executedPlan("d19_substring_scrub")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"span surgery must join on doc_id, got:\n$plan")
  }

  test("q53: ASOF LEFT JOIN sql text lowers to AsOfJoinExec") {
    val plan = executedPlan("q53_sql_asof")
    assert(plan.contains("AsOfJoin"),
      s"the parser+rule path must reach AsOfJoinExec, got:\n$plan")
    assert(!plan.contains("Window ") && !plan.contains("Union") &&
      !plan.contains("SortMergeJoin") && !plan.contains("BroadcastNestedLoop"),
      s"the SQL spelling must not fall back to a composed/range plan, got:\n$plan")
  }

  test("t25: corpus stats derive from ONE scan; top-20 is a TakeOrdered") {
    val df = SparkEntry.queries("t25_bm25")(spark, sf)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // tf is checkpointed; dl/df/avgdl/qterms and the scoring join all
    // read it — the only parquet scan left is nd's zero-column count
    val parquetScans = "Scan parquet".r.findAllIn(plan).length
    assert(parquetScans == 1,
      s"t25 must tokenize the corpus once (stats via checkpoint), got $parquetScans in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-20 must be TakeOrdered, not a full sort:\n$plan")
    // a doc matches at most the 5 query terms, and ranking is by score
    assert(rows.nonEmpty && rows.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 5))
    val scores = rows.map(_.getDouble(2))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      s"bm25 must be non-increasing, got ${scores.mkString(",")}")
  }

  test("p18: epoch heads decorrelate and both epochs publish full heads") {
    val rows = SparkEntry.queries("p18_epoch_shuffle")(spark, sf).collect()
    val byEpoch = rows.groupBy(_.getInt(0))
    assert(byEpoch.keySet == Set(0, 1))
    // each (epoch, lang) head is positions 1..5 exactly
    rows.groupBy(r => (r.getInt(0), r.getString(1))).foreach { case (_, g) =>
      assert(g.map(_.getLong(2)).sorted.toSeq == (1L to 5L))
    }
    // decorrelation: an epoch-0 head doc's epoch-1 rank is arbitrary —
    // if EVERY head doc stayed in the other epoch's head, the shuffle
    // key would be leaking doc identity
    assert(rows.exists(_.getLong(4) > 5L),
      "every head doc kept its head rank across epochs — shuffle key is not reshuffling")
  }

  test("v26: residual pipeline keeps v16's output contract") {
    val rows = SparkEntry.queries("v26_ivfpq_residual")(spark, sf).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val cs = rows.map(_.getDouble(2))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
      s"rerank order must be cos desc, got ${cs.mkString(",")}")
    // candidates come from the SAME probed cells as v16: the query
    // vector itself (vec_id 0) is never a result
    assert(rows.forall(_.getLong(1) != 0L))
  }

  test("d20: ensemble census classes are well-formed and score-consistent") {
    val rows = SparkEntry.queries("d20_dedup_ensemble")(spark, sf).collect()
    val classes = rows.map(_.getString(0)).toSet
    assert(rows.nonEmpty &&
      classes.subsetOf(Set("both", "lexical_only", "semantic_only")))
    rows.foreach { r =>
      val (v, n) = (r.getString(0), r.getLong(1))
      assert(n > 0)
      // a class's defining score must be present; the other one absent
      // exactly when the class says so
      if (v != "semantic_only") assert(!r.isNullAt(2) && r.getDouble(2) >= 0.8)
      if (v != "lexical_only") assert(!r.isNullAt(3) && r.getDouble(3) >= 0.3)
      if (v == "lexical_only") assert(r.isNullAt(3))
      if (v == "semantic_only") assert(r.isNullAt(2))
    }
  }

  test("v25: loadings are unit-norm, eigval positive, and double-run stable") {
    def run() = SparkEntry.queries("v25_pca_power")(spark, sf).collect()
    val rows = run()
    assert(rows.length == 64)
    // the published vector is normalize(C·v2): unit norm up to round-4
    val n2 = rows.map(_.getDouble(1)).map(x => x * x).sum
    assert(math.abs(n2 - 1.0) < 1e-3, s"loadings must be unit-norm, got |v|^2=$n2")
    // covariance is PSD: the Rayleigh quotient is a nonnegative variance
    val ev = rows.map(_.getDouble(2)).distinct
    assert(ev.length == 1 && ev.head > 0.0, s"one positive eigval, got ${ev.toSeq}")
    // deterministic: the checkpointed iteration must not drift across runs
    assert(run().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("v26/vmean: VectorMean partial-aggregates match whole-partition means") {
    // partitioning-invariance = merge correctness (the property that
    // makes the covariance pass ONE bounded-shuffle aggregate)
    import spark.implicits._
    val vecs = (1 to 100).map(i => Array(i.toDouble, 2.0 * i, -i.toDouble))
    def mean(parts: Int): Seq[Double] = spark.createDataset(vecs).repartition(parts)
      .groupByKey(_ => 0).mapValues(identity)
      .agg(new graft.functions.VectorMean().toColumn.name("m"))
      .collect().head._2.toSeq
    assert(mean(1) == Seq(50.5, 101.0, -50.5))
    assert(mean(1) == mean(7))
  }

  test("t26: one tokenize pass feeds both unigram tables; no target-lang rows") {
    val df = SparkEntry.queries("t26_dsir_weights")(spark, sf)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the (c_all, c_t) table is ONE checkpointed aggregate; the visible
    // plan scans documents only for the scoring tok pass + the 1-row tgt
    val parquetScans = "Scan parquet".r.findAllIn(plan).length
    assert(parquetScans == 2,
      s"t26 must not re-tokenize for the second distribution, got $parquetScans in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-30 must be TakeOrdered, not a full sort:\n$plan")
    val tlang = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang").count()
      .orderBy(org.apache.spark.sql.functions.col("count").desc,
        org.apache.spark.sql.functions.col("lang"))
      .limit(1).collect()(0).getString(0)
    assert(rows.nonEmpty && rows.forall(_.getString(1) != tlang),
      s"importance weights rank OUT-of-domain docs; target '$tlang' must be excluded")
    val w = rows.map(_.getDouble(2))
    assert(w.zip(w.tail).forall { case (a, b) => a >= b })
  }

  test("Pipeline.batch: hash window aggregate, one decode per reading, no shuffle under a broadcast") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.functions._
    val dir = SparkTestSession.tempDir("graft-plan-etl").toString
    spark.range(2000).select(
      concat(lit("aa:bb:cc:dd:ee:0"), (col("id") % 4).cast("string")).as("mac"),
      timestamp_seconds(col("id") * 60).as("ts"),
      unhex(graft.functions.Format5.encodeHex(col("id"), col("id"), col("id"), col("id"),
        col("id"), col("id"), col("id"))).as("payload"))
      .write.parquet(s"$dir/readings")
    val tags = spark.range(3).select(
      concat(lit("AA:BB:CC:DD:EE:0"), col("id").cast("string")).as("mac"),
      col("id").cast("string").as("name"))
    val df = graft.etl.Pipeline.batch(spark.read.parquet(s"$dir/readings"), tags)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val text = plan.toString
    val helper = new AdaptiveSparkPlanHelper {}
    // the (window, mac) aggregate, partial and final; the 48-row tag
    // dimension's dropDuplicates (a `first` buffer) may sort-aggregate
    def byWindow(keys: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]) =
      keys.exists(_.name == "window")
    val hash = helper.collect(plan) { case a: HashAggregateExec if byWindow(a.groupingExpressions) => a }
    val sort = helper.collect(plan) { case a: SortAggregateExec if byWindow(a.groupingExpressions) => a }
    assert(hash.size == 2 && sort.isEmpty,
      s"the window aggregate must stay on the hash path, got:\n$text")
    val decodes = helper.flatMap(plan)(_.expressions.flatMap(_.collect {
      case e: graft.plans.Format5Decode => e }))
    assert(decodes.size == 1, s"each reading must be decoded once, got:\n$text")
    val broadcasts = helper.collect(plan) { case b: BroadcastExchangeExec => b }
    assert(broadcasts.size == 2, s"whitelist and enrich broadcasts expected, got:\n$text")
    broadcasts.foreach(b =>
      assert(helper.collect(b) { case e: ShuffleExchangeExec => e }.isEmpty,
        s"a broadcast side must not shuffle, got:\n$b"))
  }
}
