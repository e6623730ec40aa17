package graft

/** Physical-plan assertions for the scale properties SURVEY.md §4 calls
  * out: predicate pushdown into the parquet scan, column pruning,
  * broadcast joins for dimension sides, top-k without a global sort, and
  * no cartesian products anywhere in the registry.
  */
class PlanSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def planOf(key: String): String =
    Queries.all(key).fn(spark, dir).queryExecution.executedPlan.toString

  test("scan_parquet pushes its filter into the scan and prunes columns") {
    val p = planOf("scan_parquet")
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,1000)]"))
    // 4 of lineitem's 11 columns read
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity:double,l_shipdate:timestamp_ntz>"))
  }

  test("q3_priority: dim broadcast, date filters pushed to every scan") {
    val p = planOf("q3_priority")
    assert(p.contains("BroadcastHashJoin"), "the dim join must broadcast")
    assert(p.contains("GreaterThan(l_shipdate"), "lineitem's date filter must push")
    assert(p.contains("LessThan(o_orderdate"), "orders' date filter must push")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "segment filter must push")
  }

  test("q18_big_orders: HAVING gate is a semi join, customer broadcasts, top-k no global sort") {
    val p = planOf("q18_big_orders")
    assert(p.contains("LeftSemi"), "the big-order gate must be a SEMI join, not a second full join")
    assert(p.contains("BroadcastHashJoin"), "the customer dim must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-100 must be distributed take-ordered")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("filter_predicate pushes every conjunct") {
    val p = planOf("filter_predicate")
    assert(p.contains("GreaterThanOrEqual(l_shipda") || p.contains("PushedFilters: [IsNotNull"))
    assert(!p.contains("PushedFilters: []"))
  }

  test("star joins: dims broadcast, fact relations NEVER the build side of a broadcast") {
    // Disable size-based auto-broadcast and AQE so the only
    // BroadcastExchanges left are the ones our explicit hints force —
    // exactly the set that must not contain a fact table (a fact-side
    // hint overrides size estimation and OOMs at the 100 TB target).
    val conf = spark.conf
    val prevThresh = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (q <- Seq("join_inner", "join_multiway")) {
        val plan = Queries.all(q).fn(spark, dir).queryExecution.executedPlan
        val broadcasts = plan.collect {
          case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
        }
        assert(broadcasts.nonEmpty, s"$q should broadcast its dimension sides")
        for (b <- broadcasts) {
          val sub = b.toString
          assert(!sub.contains("orders") && !sub.contains("lineitem"),
            s"$q broadcasts a fact-side relation:\n$sub")
        }
        // the fact-fact edge (lineitem <-> orders) is a shuffle join
        val p = plan.toString
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"$q has no shuffle join for its fact-fact edge")
        assert(!p.contains("CartesianProduct"), q)
      }
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    // the multiway join's lineitem scan reads only the join/agg columns
    assert(planOf("join_multiway").contains(
      "ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint,l_extendedprice:double,l_discount:double>"))
  }

  test("bucketed join: no exchange feeds the fact-fact join") {
    val conf = spark.conf
    val prevThresh = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Queries.all("join_bucketed").fn(spark, dir).queryExecution.executedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(joins.nonEmpty, "bucketed join should sort-merge")
      // neither join input may contain a shuffle: bucketing pre-located it
      for (j <- joins; side <- j.children)
        assert(side.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.isEmpty, s"bucketed join side shuffles:\n$side")
      // the final groupBy still exchanges (different key) — that's expected
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("sequence packing parallelizes by shard (no single-partition window barrier)") {
    val p = planOf("text_pack_sequences")
    assert(p.contains("Window"))
    assert(!p.contains("Exchange SinglePartition"),
      "packing cumsum serialized through one partition")
  }

  test("window_ntile ranks distributed: no window partitioned only by the 5-value key") {
    // AQE wraps the tree in AdaptiveSparkPlanExec, hiding nodes from
    // collect until execution — disable it for a static plan shape check
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val plan = Queries.all("window_ntile").fn(spark, dir).queryExecution.executedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(windows.nonEmpty)
    for (w <- windows) {
      val spec = w match {
        case we: org.apache.spark.sql.execution.window.WindowExec => we.partitionSpec
        case _ => Nil
      }
      // the only single-key windows allowed are over the tiny per-(pid,
      // key) count aggregate — anything running over the raw orders rows
      // must partition by (pid, key) so no task ever holds O(table/5)
      val overAggregate = w.exists {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
        case _ => false
      }
      assert(spec.size >= 2 || overAggregate,
        s"window over raw rows partitioned by the low-cardinality key alone:\n$w")
    }
    } finally conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("global top-k plans TakeOrderedAndProject, not a full sort") {
    val p = planOf("sort_limit_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("dimension-filter pushdown reaches the customer scan inside the join") {
    assert(planOf("join_inner").contains("EqualTo(c_mktsegment,BUILDING)"))
  }

  test("snapshot-table reads prune partition directories on the derived column") {
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val t = graft.template.TemplateLoader.get("/root/repo/templates", "events")
    val table = graft.sink.SnapshotTable(wh, t.namespace, t.name)
    graft.sink.TableSink.overwrite(Queries.tbl(spark, dir, "events"), t, table)
    // filter on the derived day partition column -> PartitionFilters,
    // and the pushed file count shrinks to the matching directories
    val pruned = table.read(spark).filter(col("ts_day") === "2024-01-05")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(ts_day"), scan.take(500))
    assert(pruned.count() > 0)
    // the pruned scan touches strictly fewer files than the full read:
    // directory-level skipping, not a post-scan filter
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum
    val prunedFiles = scannedFiles(pruned)
    val totalFiles = scannedFiles(table.read(spark))
    assert(prunedFiles > 0 && prunedFiles < totalFiles,
      s"expected pruned < total, got $prunedFiles vs $totalFiles")
  }

  test("partition pruning fires through the SQL (DSv2 catalog) read path too") {
    // the sql_table_read registry query goes spark.sql -> GraftCatalog ->
    // inline rule -> the SAME native scan plan as the Scala API; the
    // partition predicate must still prune at planning, not post-scan
    val df = Queries.all("sql_table_read").fn(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan.take(600))
    assert(plan.contains("FileScan parquet"), "SQL read must plan a native file scan")
    def files(d: org.apache.spark.sql.DataFrame): Long =
      d.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum
    val pruned = files(df)
    val total = files(spark.sql("SELECT * FROM graft.testdata.events"))
    assert(pruned > 0 && pruned < total,
      s"expected directory-level pruning through SQL, got $pruned vs $total")
  }

  test("view reads expand to native pruned scans; a filter through a view pushes down") {
    // the sql_view registry query reads through three stacked views
    // (view -> view -> table); expansion + the inline rule must still
    // plan native file scans with pushdown intact — a user parking
    // their queries as views pays zero plan overhead
    val df = Queries.all("sql_view").fn(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet"),
      s"view reads must plan native scans:\n${plan.take(600)}")
    // a predicate applied THROUGH the view body reaches the scan
    val filtered = spark.sql(
      "SELECT * FROM graft.testdata.daily_counts WHERE event_type = 'purchase'")
    val fp = filtered.queryExecution.executedPlan.toString
    assert(fp.contains("EqualTo(event_type,purchase)"),
      s"filter through a view must push into the scan:\n${fp.take(800)}")
  }

  test("snapshot history listing is a pure metadata read (no data file scan)") {
    // row counts come from snapshot metadata recorded at commit time —
    // the listing never rescans table data (Iceberg $snapshots contract)
    val plan = Queries.all("time_travel_snapshots").fn(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan") && !plan.contains("Scan parquet"),
      s"snapshot listing scans data files:\n${plan.take(400)}")
  }

  test("sample_weighted reads only the two columns it outputs (pruned narrow filter)") {
    val p = planOf("sample_weighted")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"), p.take(600))
  }

  test("target-mix sampling is a narrow pruned filter (no shuffle of documents)") {
    // the aggregate that derives rates is a separate bounded job; the
    // RETURNED plan must be scan -> filter -> project with no exchange
    // and only the two output columns read
    val p = planOf("sample_target_mix")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"), p.take(600))
    assert(!p.contains("Exchange"), s"target-mix sample should not shuffle:\n${p.take(800)}")
  }

  test("gopher rules and NFC normalization are map-side: no exchange, one scan") {
    for (q <- Seq("text_gopher_rules", "text_normalize_unicode")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n${p.take(800)}")
      // per-doc computation over one column: exactly one parquet scan
      assert("Scan parquet".r.findAllIn(p).size == 1, s"$q should scan once:\n${p.take(800)}")
    }
  }

  test("BPE encode is map-side: the replace-chain encoder never shuffles") {
    // the encoder's scale contract (text/Bpe.scala): merges compile into
    // per-word string replaces inside a higher-order aggregate — linear
    // in the corpus, zero exchanges in BOTH encode keys (exact + batched;
    // training happened before the plan under test, memoized)
    for (q <- Seq("text_bpe_encode", "text_bpe_encode_batched")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n${p.take(800)}")
      assert("Scan parquet".r.findAllIn(p).size == 1, s"$q should scan once:\n${p.take(800)}")
    }
  }

  test("vocab-scale BPE encode: map-side, one scan, model as one reference object") {
    // same map-side contract as the chain encoder, plus the scale
    // property that motivates it: the plan must carry the native
    // bpe_token_counts expression (the whole model rides as ONE
    // reference object) and NOT a merge-count-deep replace chain —
    // plan size independent of K
    val p = planOf("text_bpe_encode_scaled")
    assert(!p.contains("Exchange"), s"must not shuffle:\n${p.take(800)}")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"should scan once:\n${p.take(800)}")
    assert(p.toLowerCase.contains("bpetokencounts"),
      s"plan should contain the native expression:\n${p.take(800)}")
    assert(!p.contains("replace(replace("),
      s"plan must not contain a nested replace chain:\n${p.take(800)}")
  }

  test("decontamination broadcasts only the benchmark side") {
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Queries.all("dedup_decontaminate").fn(spark, dir).queryExecution.executedPlan
      val builds = plan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b.toString
      }
      // the hinted broadcast is the bench-filtered postings (its subtree
      // carries the pmod bench predicate); the corpus side streams. The
      // planner may ALSO size-broadcast the small rare-shingle set at
      // test scale - that one is size-based, not hinted, so it reverts
      // to a shuffle join at real scale and is not pinned here.
      assert(builds.exists(_.contains("pmod")),
        s"no broadcast carries the bench predicate:\n${builds.map(_.take(300)).mkString("\n")}")
    } finally conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("boilerplate coverage reads its window index from the shared cache") {
    graft.text.TextAnalysis.clearCaches()
    try {
      val p = planOf("corpus_boilerplate")
      // both window-index consumers (df count and the coverage probe)
      // must feed on the persisted index, not re-tokenize the corpus per
      // consumer (the n_tokens branch is a cheap narrow projection of
      // the raw scan by design)
      val scans = "InMemoryTableScan".r.findAllIn(p).size
      assert(scans >= 2, s"expected >=2 cached-index scans, got $scans:\n${p.take(600)}")
    } finally graft.text.TextAnalysis.clearCaches()
  }

  test("PQ scoring broadcasts only the bounded lookup table; codes stream") {
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      graft.dedup.Dedup.clearCaches() // also clears the quantizer cache
      val plan = Queries.all("similarity_pq").fn(spark, dir).queryExecution.executedPlan
      val builds = plan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b.child
      }
      // the hinted broadcasts are the ADC lookup table and query norms -
      // both built on the driver from the vec_id < 5 query batch as local
      // relations, so the table holds at most 5 queries x 4 subspaces x
      // 8 codes rows; corpus codes must stream (an unbounded-side
      // broadcast OOMs at the 10^11-vector target)
      assert(builds.nonEmpty, "PQ should broadcast its lookup table")
      val luts = builds.collect {
        case l: org.apache.spark.sql.execution.LocalTableScanExec
            if l.output.exists(_.name == "pdot") => l.rows.size
      }
      assert(luts.size == 1 && luts.head <= 5 * 4 * 8,
        s"no broadcast is the query batch's lookup table:\n${builds.map(_.toString.take(300)).mkString("\n")}")
    } finally {
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      graft.dedup.Dedup.clearCaches()
    }
  }

  test("every oracle-keyed registry output has a flat (driver-comparable) schema") {
    // the driver's compare sorts rows with pandas, which cannot order
    // array/map/struct cells — r12's gate crashed on exactly this
    // (embedding_quantize_int8). Nested types stay legal for the
    // oracle-LESS keys (rows-only check never sorts).
    for ((k, d) <- Queries.all if d.oracle.isDefined) {
      val nested = Queries.nestedColumns(d.fn(spark, dir).schema)
      assert(nested.isEmpty,
        s"$k has oracle but nested output columns ${nested.mkString(", ")} — " +
          "the driver's pandas row-sort crashes on these; serialize or explode them")
    }
  }

  test("no registry query plans a cartesian, an inner NL join, or an unbounded global window") {
    // unpartitioned WindowExec serializes its whole input through ONE
    // task — legal only over frames that are provably bounded by
    // construction. The allowlist names each such frame and its bound;
    // any new key that sneaks a corpus-sized global window past review
    // fails here.
    val boundedWindowAllow: Map[String, String] = Map(
      "corpus_zipf_fit" -> ("rank over exactly the top-N token rows " +
        "(TextAnalysis.zipfFit — distributed top-N caps the frame before the window)"),
      "sample_gumbel_topk" -> ("rank over the <= k TakeOrdered survivors " +
        "(TrainingMix.gumbelTopK:418-421)"),
      "sample_interleave" -> ("source-index window over the DISTINCT source names " +
        "— |sources| rows (TrainingMix.interleave:262-270)"),
      "sample_dsir_weights" -> ("DistributedRank keyless offsets window over the " +
        "per-partition count table — nParts rows (DistributedRank.scala:74-77)"),
      "text_batch_bucketing" -> ("DistributedRank keyless offsets window over the " +
        "per-partition count table — nParts rows (DistributedRank.scala:74-77)"))
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val observed = scala.collection.mutable.Set.empty[String]
    // AQE off for PLANNING: under AQE the executed plan is one opaque
    // AdaptiveSparkPlanExec node, so collect() never sees the window
    // operators inside (the string checks worked by accident; the typed
    // check silently found nothing)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try for ((k, d) <- Queries.all) {
      val plan = d.fn(spark, dir).queryExecution.executedPlan
      val p = plan.toString
      assert(!p.contains("CartesianProduct"), s"$k plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin Inner"), s"$k plans an inner NL join")
      val globalWindows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      if (globalWindows.nonEmpty) {
        observed += k
        if (!boundedWindowAllow.contains(k)) offenders += k
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(offenders.isEmpty,
      s"unpartitioned WindowExec outside the bounded-frame allowlist: " +
        s"${offenders.mkString(", ")} — key each window or document its bound here")
    // tightness: a stale allowlist entry hides the next real offender
    val stale = boundedWindowAllow.keySet -- observed
    assert(stale.isEmpty,
      s"allowlist entries whose keys no longer plan a global window: $stale")
  }
}
