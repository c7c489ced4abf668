package graft

/** Physical-plan pins: the scale-critical plan shapes asserted in CI so a
  * refactor can't silently regress them (SCALE.md documents why each
  * matters at 100 TB).
  */
class PlanAssertionsSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  /** A consumer-side read of a materialized substrate: the columnar cache
    * scan or (since the optimization round's lineage cut) the checkpoint
    * leaf.
    */
  private def readsSubstrate(p: String): Boolean =
    p.contains("InMemoryTableScan") || p.contains("Scan ExistingRDD")

  /** The physical plan that BUILT a substrate this session (consumers see
    * only the leaf; the build shape is recorded by SubstrateCache).
    */
  private def buildPlanOf(tag: String): String =
    SubstrateCache.buildPlan(spark, sfDir, tag).getOrElse(
      fail(s"substrate '$tag' was not built in this session"))

  test("dimension joins broadcast (equi_join_lookup)") {
    val p = planOf("equi_join_lookup")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "dims must never sort-merge")
  }

  test("anti-join pushes the filter into the parquet scan (antijoin_missing)") {
    val p = planOf("antijoin_missing")
    assert(p.contains("LeftAnti"), p.take(500))
    assert(p.contains("PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal,0.0)"),
      "acctbal filter must reach the scan")
  }

  test("projection prunes columns at the scan (settings_projection)") {
    val p = planOf("settings_projection")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string," +
      "o_totalprice:double,o_orderpriority:string>"),
      "scan must read only the 4 projected columns")
  }

  test("per-group top-k plans as WindowGroupLimit (cosine_topk)") {
    assert(planOf("cosine_topk").contains("WindowGroupLimit"))
  }

  test("global top-k plans as TakeOrderedAndProject (topk_limit)") {
    assert(planOf("topk_limit").contains("TakeOrderedAndProject"))
  }

  test("aggregations are partial+final (group_count_agg)") {
    val p = planOf("group_count_agg")
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p.take(500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "map-side partial agg must exist")
  }

  test("as-of join is sort-merge shaped: no join operator, one data shuffle (asof_join)") {
    val p = planOf("asof_join")
    assert(!p.contains("Join"), "as-of must be the union+window plan, never a join")
    // one exchange shuffles the union by user; the only other is the
    // presentation sort — the tie-aware window ordering replaced the
    // dedup pre-pass, so no per-side exchanges exist
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"union+final-sort needs at most 2 exchanges, got $exchanges:\n${p.take(800)}")
  }

  test("sessionize runs in one partition-by-user sort (sessionize)") {
    val p = planOf("sessionize")
    assert(!p.contains("Join"), "sessionize must never self-join")
    // the user-keyed window sort lives in the shared session-assigned
    // substrate build (one definition for the whole session family)
    val b = buildPlanOf("session-assigned")
    val windows = "Window\n".r.findAllIn(b).size + "Window ".r.findAllIn(b).size
    assert(windows >= 1, b.take(500))
    assert(b.contains("hashpartitioning(user_id"),
      "the session window must partition by user:\n" + b.take(900))
  }

  test("cosine_near_dup is distributed: parquet-fed block pair-join, no collect/broadcast") {
    val df = SparkEntry.queries("cosine_near_dup")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the pair space is computed inside flatMapGroups, fed directly by the
    // parquet scan — a driver collect would surface as a LocalTableScan
    assert(p.contains("MapGroups"), p.take(800))
    assert(p.toLowerCase.contains("scan parquet") || p.contains("FileScan"), p.take(800))
    assert(!p.contains("LocalTableScan"), "no driver-collected relation may feed the pair join")
    assert(!p.contains("BroadcastExchange"), "no broadcast of the vector matrix")
    assert(!p.contains("CartesianProduct"), "no all-pairs cross join")
  }

  test("token_topk never sorts the vocabulary: TakeOrderedAndProject over final agg") {
    val p = planOf("token_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "map-side partial count must exist")
  }

  test("repetition_ratio and embedding_quantize stay array-local: one shuffle (output sort)") {
    for (name <- Seq("repetition_ratio", "embedding_quantize")) {
      val p = planOf(name)
      assert(!p.contains("Join"), s"$name must not join")
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges <= 1, s"$name: only the presentation sort may shuffle, got $exchanges")
      // the per-vector scale must be computed once per row, not inlined
      // into every lambda element (the CollapseProject quadratic trap)
      if (name == "embedding_quantize")
        assert("array_max".r.findAllIn(p).size <= 3,
          "scale expression duplicated into lambdas — quadratic per-row work")
    }
  }

  test("bpe_encode's merge fold never leaks into a pushed-down filter") {
    // explode() plants size(syms)>0 on the generate; syms derives from
    // the GROUPING KEY, so pushdown legally moves that filter below the
    // vocab aggregate — re-evaluating the whole interpreted merge fold
    // per raw token (measured 13.8 s vs 0.6 s at sf0.1). explode_outer
    // keeps the fold out of every Filter; this pins it.
    val p = planOf("bpe_encode")
    val filters = p.linesIterator.filter(_.matches(".*\\bFilter\\b.*")).toSeq
    assert(filters.nonEmpty, "expected the w <> '' filter to remain")
    filters.foreach(f =>
      assert(!f.contains("lambdafunction"),
        s"merge fold leaked into a pushed filter (per-token evaluation): ${f.take(160)}"))
  }

  test("quality_score is scan-local: the model dot joins nothing, only the output sort shuffles") {
    val p = planOf("quality_score")
    assert(!p.contains("Join"), "the weight vector is a plan literal — scoring must not join")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"only the presentation sort may shuffle, got $exchanges")
  }

  test("dsir_weights' scoring join is AQE's choice; only scalar totals ride explicit broadcasts") {
    planOf("dsir_weights") // triggers the substrate build
    // the scoring join lives in the dsir-weights substrate build; the
    // lambda table is D=64 rows — AQE should broadcast it at runtime
    // without a hint (the no-pin rule holds even for structural bounds)
    val p = buildPlanOf("dsir-weights")
    assert(p.contains("BroadcastHashJoin"), "AQE should broadcast the D-row model table")
    assert(!p.contains("CartesianProduct"), "scalar totals must broadcast, never cartesian")
  }

  test("SQ8 consumers read the shared code substrate; coarse dot is the native kernel") {
    for (name <- Seq("embedding_quantize", "quantized_topk")) {
      val p = planOf(name)
      assert(readsSubstrate(p),
        s"$name must read sq8-codes from the substrate cache, not requantize")
    }
    val topk = planOf("quantized_topk")
    assert(topk.contains("graft_int_dot"), "coarse score must be the codegen IntDot kernel")
    assert(!topk.contains("zip_with"), "no interpreted HOF dot in the coarse pass")
    // the quantize expression lives only in the substrate BUILD, where the
    // multi-referenced scale stays a separate Project: array_max appears
    // exactly once (never inlined per element = the O(d²) trap)
    val build = graft.operators.QuantizeOps
      .sq8CodesBuildPlan(spark, sfDir)
    assert("array_max".r.findAllIn(build).size == 1,
      s"scale must be computed once in the substrate build:\n$build")
  }

  test("LSH ANN generates candidates by band equi-join, never an all-pairs compare") {
    val p = planOf("cosine_lsh_ann")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "code comparison must ride the band equi-join, not a q x n non-equi join")
    assert(!p.contains("CartesianProduct"), p.take(500))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("quantized IVF prunes cells at planning time and coarse-ranks with IntDot") {
    val df = SparkEntry.queries("ivf_quantized_topk")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_int_dot"), "coarse rank must be the codegen IntDot kernel")
    assert(
      "PartitionFilters: \\[cid[^\\]]* IN \\(".r.findFirstIn(p).isDefined,
      "probed cells must prune the layout scan at planning time:\n" + p.take(1200),
    )
  }

  test("contamination_check broadcasts only benchmark-bounded sets — corpus never broadcasts") {
    val p = planOf("contamination_check")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("LeftAnti"),
      "the corpus slice must come from an anti-join vs the broadcast BENCHMARK doc-id set")
    assert(!p.contains("SortMergeJoin"),
      "benchmark doc-id + shingle sets must broadcast; the corpus side stays in place")
  }

  test("tfidf_keywords: vocab df join is AQE's choice (no pin); scalar still broadcasts") {
    val df = SparkEntry.queries("tfidf_keywords")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // at test scale AQE runtime-measures the df table small and converts
    // the join to broadcast — proving the un-hinted plan still gets the
    // fast join when it fits, while an oversized vocab would shuffle
    // instead of OOMing the driver
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "tf needs map-side partial agg")
  }

  test("pq_topk scores codes via the broadcast ADC table with partial top-k") {
    val p = planOf("pq_topk")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 8-query ADC table must broadcast against the code scan")
    assert(p.contains("WindowGroupLimit"),
      "the coarse rescore cut must partial-top-k before the exchange")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("ivf_pq_topk prunes cells at planning time and coarse-ranks with ADC lookups") {
    val p = planOf("ivf_pq_topk")
    assert(
      "PartitionFilters: \\[cid[^\\]]* IN \\(".r.findFirstIn(p).isDefined,
      "probed cells must prune the layout scan at planning time:\n" + p.take(1200),
    )
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("IVF probes reuse the collected centroid ranking as a LocalRelation (computed once)") {
    // the (qid, cid) probe rows are collected ONCE for the pruning
    // literals and re-enter the plan as a LocalTableScan — the
    // centroid-ranking window subtree must not ALSO be recomputed inside
    // the main job (the round-7 1.64→1.03 s fix; the only ranking windows
    // left in the plan are the top-k cuts and substrate builds)
    // (ivf_ann probes the in-memory assignment substrate — no layout
    // collect exists there to reuse)
    for (q <- Seq("ivf_quantized_topk", "ivf_pq_topk")) {
      val p = planOf(q)
      assert(p.contains("LocalTableScan"),
        s"$q: probe rows must enter the plan as a LocalRelation:\n" + p.take(800))
    }
  }

  test("semantic_dedup bounds the pair space to the cell equi-join") {
    val p = planOf("semantic_dedup")
    assert(!p.contains("CartesianProduct"),
      "the pair space must ride the within-cell equi-join, never all-pairs")
    // the pair-generating join must be keyed on the cell id (the
    // embedded substrate-build plans legitimately contain broadcast-K
    // centroid cross joins, so BNLJ in general is NOT forbidden here)
    assert("Join \\[cid#".r.findFirstIn(p).isDefined,
      "within-cell pairs must come from a cid-keyed hash join:\n" + p.take(800))
  }

  test("bm25_rank takes the global top-k via TakeOrderedAndProject, not a global window") {
    planOf("bm25_rank") // triggers the substrate build
    // the ranking pipeline lives in the shared bm25-topk substrate build
    val p = buildPlanOf("bm25-topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "tf/score aggs need map-side partials")
  }

  test("mix_sources is a stateless scan predicate over broadcast counts") {
    val p = planOf("mix_sources")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "the count tables must broadcast")
  }

  test("sketches aggregate with map-side partials (bounded per-partition state)") {
    for (q <- Seq("distinct_sketch", "cms_heavy_hitters")) {
      val p = planOf(q)
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q must ship partial aggregates, not raw rows:\n" + p.take(500))
      assert(!p.contains("CartesianProduct"), p.take(500))
    }
  }

  test("interval join runs as a binned equi-join, never a nested loop") {
    val p = planOf("interval_join_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the range predicate must ride the bin equi-join:\n" + p.take(800))
    assert(p.contains("Join [bin") || "Join \\[bin#".r.findFirstIn(p).isDefined,
      "candidates must be keyed on the bin column:\n" + p.take(800))
  }

  test("event_pair_join is an equi-join on user with a residual time range") {
    val p = planOf("event_pair_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the user key must make this an equi-join:\n" + p.take(800))
  }

  test("bucketed join + agg run without any hash-partitioning exchange") {
    val p = planOf("bucketed_join_agg")
    assert(p.contains("SortMergeJoin"), "the merge hint must keep the bucket-aligned SMJ:\n" + p.take(800))
    assert(!p.contains("Exchange hashpartitioning"),
      "bucketed layout must satisfy both the join and the agg distribution:\n" + p.take(1200))
  }

  test("cluster_keeper reuses the cc substrate (no contraction loop in the plan)") {
    val p = planOf("cluster_keeper")
    // the label table arrives from the substrate cache (columnar scan or
    // checkpoint leaf); only the quality join + window + agg run per
    // invocation
    assert(readsSubstrate(p), p.take(800))
  }

  test("date-partitioned layout prunes directories at planning time") {
    val p = planOf("partitioned_scan_prune")
    assert("PartitionFilters: \\[[^\\]]*day".r.findFirstIn(p).isDefined,
      "the day range must prune partitions, not filter rows:\n" + p.take(900))
  }

  test("the pruned scan physically reads 7 of 30 day partitions (metric, not plan text)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = SparkEntry.queries("partitioned_scan_prune")(spark, sfDir)
    df.collect()
    // AQE hides executed subtrees: the adaptive root holds the final plan,
    // and each materialized stage is a QueryStageExec LEAF wrapping its
    // real subtree — descend through both to reach the file scans
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
    }.flatten
    val scan = scans(df.queryExecution.executedPlan)
      .find(_.metadata.getOrElse("Location", "").contains("graft-events-byday"))
      .getOrElse(fail("no scan over the day layout found"))
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead == 7, s"week query must open exactly 7 day directories, read $partsRead")
  }

  test("unigram_logprob: vocab join is AQE's choice (no pin); sums stay integer") {
    val df = SparkEntry.queries("unigram_logprob")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // same contract as tfidf_keywords: AQE converts at test scale, a
    // web-scale vocab would shuffle on tok instead of collecting to the
    // driver
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "vocab/doc aggs need map-side partials")
  }

  test("no corpus- or vocabulary-cardinality relation sits under a broadcast hint") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, ResolvedHint}
    def hints(name: String): Seq[LogicalPlan] =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.analyzed.collect {
        case h: ResolvedHint => h.child
      }
    // a hinted subtree is bounded iff it is (a) a global scalar (grouping-
    // empty aggregate) or (b) cut to the benchmark slice (source = src0
    // filter somewhere below — an eval suite is bounded by construction).
    // There is deliberately NO exemption for df-capped heavy-gram sets:
    // "grams with df > maxDf" is ≤ Σocc/maxDf rows, which grows linearly
    // with the corpus — the same unbounded class as a vocab table, so it
    // is held to the same no-pin standard (AQE decides).
    def bounded(p: LogicalPlan): Boolean = {
      val scalar = p.collectFirst {
        case a: Aggregate if a.groupingExpressions.isEmpty => a
      }.isDefined
      val benchSlice = p.collectFirst {
        case f: Filter if f.condition.toString.contains(
          graft.operators.RetrievalOps.BenchmarkSource) => f
      }.isDefined
      scalar || benchSlice
    }
    // the four r6-flagged queries: every remaining hint must be bounded
    for (q <- Seq("tfidf_keywords", "unigram_logprob", "clean_corpus", "contamination_check"))
      hints(q).foreach { h =>
        assert(bounded(h), s"$q: unbounded relation under a broadcast hint:\n$h")
      }
    // the corpus-facing dedup/curation queries carry NO hints at all —
    // their gram count tables (including the df-capped hot-gram set),
    // island tables, vocab and label tables are all corpus- or
    // vocabulary-cardinality, so every join is AQE's choice
    for (q <- Seq("repeated_spans", "span_scrub", "bpe_pair_counts", "leakage_safe_split",
        "corpus_shuffle", "ngram_novelty",
        "ngram_jaccard", "dedup_clusters", "cluster_keeper"))
      assert(hints(q).isEmpty,
        s"$q must not pin any broadcast — its relations grow with the corpus")
    // and the vocabulary aggregates specifically must never be pinned:
    // an Aggregate grouped by the term/token column IS the vocab table.
    // Cardinality-aware walk: a grouping-empty Aggregate collapses its
    // whole subtree to one row, so anything below it (e.g. the vocab agg
    // feeding a Σcnt scalar) is NOT under the broadcast's cardinality
    def unpruned(p: LogicalPlan): Seq[LogicalPlan] = p match {
      case a: Aggregate if a.groupingExpressions.isEmpty => Seq(a)
      case other => other +: other.children.flatMap(unpruned)
    }
    def vocabHinted(name: String, key: String): Boolean =
      hints(name).exists(h => unpruned(h).exists {
        case a: Aggregate => a.groupingExpressions.exists(_.toString.contains(key))
        case _ => false
      })
    assert(!vocabHinted("tfidf_keywords", "term"), "df table must not be broadcast-pinned")
    assert(!vocabHinted("unigram_logprob", "tok"), "costed vocab must not be broadcast-pinned")
    // clean_corpus' loser set (distinct doc_id over near-dup pairs —
    // corpus-order at web scale) must not be pinned either
    assert(!vocabHinted("clean_corpus", "db"), "loser set must not be broadcast-pinned")
  }

  test("fuzzy join blocks on deletion keys — an equi-join, never all-pairs") {
    planOf("fuzzy_name_join") // triggers the substrate build
    // the candidate generation lives in the fuzzy-pairs substrate build
    val p = buildPlanOf("fuzzy-pairs:1")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "candidates must come from the deletion-key equi-join:\n" + p.take(800))
    assert("Join \\[k#|Join.*\\[k".r.findFirstIn(p).isDefined || p.contains("k#"),
      "join must be keyed on the deletion key:\n" + p.take(800))
  }

  test("audience_overlap excludes hot users from pair generation via a broadcast anti-join") {
    val p = planOf("audience_overlap")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "the hot-user skew cap must be a broadcast anti-join on the pair branch:\n" + p.take(900))
    assert(!p.contains("CartesianProduct"), p.take(500))
    // the explicit user repartition satisfies the (type,user) distinct,
    // the hot-user aggregation, AND the self-join in every branch — the
    // ONLY hash exchanges allowed are those user_id repartitions (one per
    // uncached branch) plus the two type-keyed aggregations' tiny final
    // exchanges; membership rows must never re-shuffle on another key
    val hashExchanges = "Exchange hashpartitioning\\(([a-z_0-9#]+)".r
      .findAllMatchIn(p)
      .map(_.group(1).takeWhile(_ != '#'))
      .toSeq
    assert(hashExchanges.nonEmpty, p.take(600))
    val offKey = hashExchanges.filterNot(k => Set("user_id", "ta", "tb", "event_type").contains(k))
    assert(offKey.isEmpty,
      s"membership rows re-shuffled on unexpected keys $offKey:\n" + p.take(900))
  }

  test("sharded_alloc ranks inside shard partitions — no global-sequence window") {
    val p = planOf("sharded_alloc")
    // every ranking window must carry the shard in its partition spec; a
    // bare Window.orderBy would single-task the whole allocation
    assert(p.contains("windowspecdefinition(shard"),
      "ranking windows must partition by shard:\n" + p.take(900))
    assert(!p.contains("windowspecdefinition(seq#") || p.contains("windowspecdefinition(shard"),
      p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(500))
  }

  test("sequence_pack's corpus-sized prefix sum stays partitioned; only offsets broadcast") {
    for (name <- Seq("sequence_pack", "sequence_pack_split")) {
      val p = planOf(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name: the #partitions-row offset table must broadcast back:\n" + p.take(800))
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p.take(500))
      val windows = "Window".r.findAllIn(p).size
      assert(windows >= 2,
        s"$name: expected the partitioned cumsum AND the tiny offset window, got $windows")
    }
    // the split variant fans a doc out to its spanned packs with a bounded
    // per-row generator, not a join
    assert(planOf("sequence_pack_split").contains("Generate explode"),
      "the pack span must come from explode(sequence(...))")
  }

  test("fuzzy_triangles orients edges by degree — wedge join bounded by arboricity") {
    val p = planOf("fuzzy_triangles")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "wedges must come from the oriented-edge equi-join:\n" + p.take(800))
    // the carried deg(v) column is what rank-orders out-neighbor pairs; its
    // presence in the wedge join condition is the orientation's signature
    assert(p.contains("degv"),
      "wedge join must rank out-neighbors by the carried degree:\n" + p.take(800))
  }

  test("retention_cohort moves the data once: no join, single user shuffle") {
    val p = planOf("retention_cohort")
    assert(!p.contains("Join"), "cohort must come from the window, never a self-join")
    val dataShuffles = "REPARTITION_BY_COL".r.findAllIn(p).size
    assert(dataShuffles == 1, s"expected the one explicit user shuffle, got $dataShuffles:\n${p.take(800)}")
  }

  test("resample_ffill densifies via per-user explode, fills in one window") {
    val p = planOf("resample_ffill")
    assert(!p.contains("CartesianProduct"),
      "the grid must explode a per-user sequence, never cross-join a calendar:\n" + p.take(800))
    assert(p.contains("Generate explode"), p.take(800))
  }

  test("V2 source consumes the id range; kind stays residual (state_scan)") {
    val p = planOf("state_scan")
    assert(p.contains("graft_state"), p.take(500))
    // the residual kind filter is applied post-scan by Spark
    assert(p.contains("Filter"), "kind predicate must remain a residual filter")
  }

  test("round-10 corpus-facing queries pin no broadcasts; bounded hints are structural") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Range => LRange, ResolvedHint}
    def hints(name: String): Seq[LogicalPlan] =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.analyzed.collect {
        case h: ResolvedHint => h.child
      }
    // Everything whose relations grow with the corpus: zero hints, AQE
    // decides every join (the repo-wide no-pin rule).
    for (q <- Seq("knn_graph", "knn_components", "record_linkage",
        "score_quantile_norm", "boilerplate_prefixes", "lang_confusion", "event_trigrams",
        "length_buckets", "agg_state_merge", "score_length_bias"))
      assert(hints(q).isEmpty,
        s"$q must not pin any broadcast — its relations grow with the corpus")
    // kneser_ney_logprob / calibration_bins: the only hint each carries is
    // a grouping-empty scalar (the bigram-type total / the min-max row)
    for (q <- Seq("kneser_ney_logprob", "calibration_bins"))
      hints(q).foreach { h =>
        assert(h.collectFirst { case a: Aggregate if a.groupingExpressions.isEmpty => a }.isDefined,
          s"$q: only a grouping-empty scalar may ride a hint:\n$h")
      }
    // dedup_sweep_cost: the only hint is the 4-row literal cap table
    hints("dedup_sweep_cost").foreach { h =>
      assert(h.collectFirst { case l: LocalRelation => l }.isDefined &&
        h.collectFirst {
          case f: org.apache.spark.sql.execution.datasources.LogicalRelation => f
        }.isEmpty,
        s"dedup_sweep_cost: only the literal cap table may ride a hint:\n$h")
    }
    // hard_negatives: hints carry only the filtered anchor set (bounded by
    // the vec_id < NQueries predicate by construction)
    hints("hard_negatives").foreach { h =>
      assert(h.collectFirst {
        case f: Filter if f.condition.toString.contains("vec_id") => f
      }.isDefined, s"hard_negatives: hint must be the bounded anchor set:\n$h")
    }
    // embedding_covariance: hints are model-sized by construction — the
    // Range-generated decode table, a dimension-keyed (k) moment rollup
    // (the wide/DECIMAL tier), or the collected-moment LocalRelation
    // (the BIGINT tier: D / D²/2 rows from the one-pass Aggregator,
    // the ivf collected-probe precedent)
    hints("embedding_covariance").foreach { h =>
      val rangeRooted = h.collectFirst { case r: LRange => r }.isDefined
      val dimKeyed = h.collectFirst {
        case a: Aggregate if a.groupingExpressions.nonEmpty => a
      }.exists(_.groupingExpressions.exists(_.toString.contains("k")))
      val collectedMoments = h.collectFirst { case l: LocalRelation => l }.isDefined &&
        h.collectFirst {
          case f: org.apache.spark.sql.execution.datasources.LogicalRelation => f
        }.isEmpty
      assert(rangeRooted || dimKeyed || collectedMoments,
        s"embedding_covariance: hint must be the decode table, the D-row moment rollup, " +
          s"or the collected-moment LocalRelation:\n$h")
    }
  }

  test("round-10 plan shapes: fused lags, explode-free prefixes, no linkage BNLJ") {
    // event_trigrams: both lags compute inside ONE Window operator
    val trig = planOf("event_trigrams")
    assert("\\bWindow\\b".r.findAllIn(trig).size == 1,
      "both lags must fuse into a single Window operator:\n" + trig.take(800))
    assert(trig.contains("TakeOrderedAndProject"), trig.take(500))
    // boilerplate_prefixes: prefix extraction is scan-local — no explode
    val bp = planOf("boilerplate_prefixes")
    assert(!bp.contains("Generate"), "prefix slice must not explode the text:\n" + bp.take(800))
    // record_linkage: the blocking join is an equi-join, never a BNLJ
    val rl = planOf("record_linkage")
    assert(!rl.contains("BroadcastNestedLoopJoin") && !rl.contains("CartesianProduct"),
      "blocked linkage must plan as an equi-join:\n" + rl.take(800))
    // agg_state_merge: partial+final aggregation in both arms
    val asm = planOf("agg_state_merge")
    assert(asm.contains("partial_count") || asm.contains("partial count"), asm.take(800))
  }

  test("round-11 plan shapes: cube Expand factor, pruned concat, fused SCD-2, flat checksum") {
    // cube_agg: exactly ONE Expand (the 2^dims row multiplier — the knob
    // the Scaladoc documents) feeding ONE partial+final agg; the only
    // other exchange is the presentation sort
    val cube = planOf("cube_agg")
    assert("\\bExpand\\b".r.findAllIn(cube).size == 1,
      "cube must multiply rows in exactly one Expand:\n" + cube.take(800))
    assert("Exchange".r.findAllIn(cube).size == 2,
      "cube_agg: one agg exchange + one output sort only:\n" + cube.take(800))
    assert(cube.contains("partial_count"), cube.take(800))

    // group_concat_topk: the rank prune (WindowGroupLimit) must sit
    // UNDER the collect_list aggregation — rows are discarded BEFORE any
    // list state exists (tree prints parents first, so the collect
    // appears earlier in the string than the limit below it)
    val gct = planOf("group_concat_topk")
    assert(gct.contains("WindowGroupLimit"), gct.take(800))
    assert(gct.contains("ObjectHashAggregate"), gct.take(800))
    assert(gct.indexOf("ObjectHashAggregate") < gct.indexOf("WindowGroupLimit"),
      "top-k prune must run below the collect_list, not above:\n" + gct.take(1200))

    // scd2_intervals: BOTH windows (lag change-flag, lead interval
    // close) ride ONE hashpartitioning(user_id) exchange — the second
    // window reuses the first's distribution+ordering; the only other
    // exchange is the presentation sort
    val scd = planOf("scd2_intervals")
    assert("\\bWindow\\b".r.findAllIn(scd).size == 2, scd.take(800))
    assert("hashpartitioning\\(user_id".r.findAllIn(scd).size == 1,
      "both SCD-2 windows must share one user_id exchange:\n" + scd.take(1200))
    assert("Exchange".r.findAllIn(scd).size == 2,
      "scd2_intervals: one data shuffle + one output sort only:\n" + scd.take(800))

    // table_checksum: scan-local hash + ONE partial+final agg (bit_xor
    // partials prove map-side state), no join, no sort below the agg
    val tc = planOf("table_checksum")
    assert(!tc.contains("Join"), tc.take(800))
    assert(tc.contains("partial_bit_xor"),
      "checksum digests must accumulate map-side:\n" + tc.take(800))
    assert("Exchange".r.findAllIn(tc).size == 2,
      "table_checksum: one agg exchange + one output sort only:\n" + tc.take(800))

    // events_checksum: the parts→merge declaration must COLLAPSE onto
    // the same feed-keyed exchange — the merge agg rides the parts
    // agg's distribution, so continuous maintainability costs zero
    // extra shuffles over the flat formulation
    val ec = planOf("events_checksum")
    assert(!ec.contains("Join"), ec.take(800))
    assert(ec.contains("partial_bit_xor"), ec.take(800))
    assert("Exchange".r.findAllIn(ec).size == 2,
      "events_checksum: parts+merge must not add an exchange:\n" + ec.take(800))
  }

  test("round-13 plan shapes: joinless kmeans/pca maps, windowless attribution") {
    // kmeans_assign: the k-centroid argmin is folded into the scan's
    // projection — literals, not a centroid TABLE, so there is no join
    // and no broadcast anywhere; the only exchange is the output sort.
    val ka = planOf("kmeans_assign")
    assert(!ka.contains("Join"), ka.take(800))
    assert("Exchange".r.findAllIn(ka).size == 1,
      "kmeans_assign: output sort must be the only exchange:\n" + ka.take(800))
    assert(ka.contains("graft_int_sqdist"),
      "assignment must use the codegen distance kernel, not interpreted HOFs:\n" + ka.take(800))

    // pca_project: the 64-term principal projection is one codegen'd
    // fold per row — pure map + output sort, nothing else.
    val pp = planOf("pca_project")
    assert(!pp.contains("Join"), pp.take(800))
    assert("Exchange".r.findAllIn(pp).size == 1,
      "pca_project: output sort must be the only exchange:\n" + pp.take(800))
    assert(pp.contains("graft_int_dot"),
      "projection must use the codegen dot kernel, not interpreted HOFs:\n" + pp.take(800))
    assert(!pp.contains("aggregate(") && !pp.contains("zip_with("),
      "no interpreted HOF fold may remain in the projection:\n" + pp.take(800))

    // pca_project2: BOTH subspace dots are codegen kernels inside ONE
    // per-row projection — still joinless, still one output-sort
    // exchange; the deflation is driver arithmetic, invisible here.
    val p2 = planOf("pca_project2")
    assert(!p2.contains("Join"), p2.take(800))
    assert("Exchange".r.findAllIn(p2).size == 1,
      "pca_project2: output sort must be the only exchange:\n" + p2.take(800))
    assert("graft_int_dot".r.findAllIn(p2).size >= 2,
      "both pc1 and pc2 must use the codegen dot kernel:\n" + p2.take(800))
    assert(!p2.contains("aggregate(") && !p2.contains("zip_with("),
      "no interpreted HOF fold may remain in the projection:\n" + p2.take(800))

    // round-14 gram kernels: the bigram extraction and the n-gram joins
    // run as native codegen expressions — no interpreted zip_with/slice
    // HOF may reappear in these hot projections (measured 1.4-1.9×).
    val bl = planOf("bigram_logprob")
    assert(bl.contains("graft_gram_pairs"),
      "LM transitions must use the native pair kernel:\n" + bl.take(800))
    assert(!bl.contains("zip_with("),
      "no interpreted zip_with may remain in the LM scan:\n" + bl.take(800))
    val rr = planOf("repetition_ratio")
    assert(rr.contains("graft_gram2_join") && rr.contains("graft_gram3_join"),
      "gram fractions must use the native join kernels:\n" + rr.take(800))
    assert(!rr.contains("zip_with("), rr.take(800))

    // first_touch_attribution: the grain formulation replaced the
    // row_number window — no Window node, no join; the struct-min grain
    // aggregates map-side (partial SortAggregate under the exchange).
    val ft = planOf("first_touch_attribution")
    assert(!ft.contains("Window"), ft.take(800))
    assert(!ft.contains("Join"), ft.take(800))
    assert(ft.contains("SortAggregate"),
      "struct-min grain must aggregate map-side:\n" + ft.take(800))
  }

  test("round-14 additions: substrate reuse, partitioned token line, bounded grids") {
    // heaps_law rides the packers' two-phase prefix sum: the corpus-sized
    // cumsum window partitions by pid (never a single global window), the
    // 5-row threshold grid enters as a broadcast, and nothing cartesians
    // over the corpus.
    val hl = planOf("heaps_law")
    assert(hl.contains("Window") && hl.contains("hashpartitioning(pid"),
      "heaps_law: the token-line cumsum must stay pid-partitioned:\n" + hl.take(1200))
    assert(!hl.contains("CartesianProduct"), hl.take(800))

    // zipf_slope reduces to a driver value: the declared frame is a
    // 1-row local relation — the OLS sums collected once, never a
    // corpus-shaped result plan.
    assert(planOf("zipf_slope").contains("LocalTableScan"),
      "zipf_slope must serve its 1-row closed form as a local relation")

    // the kNN diagnostics reuse the cached edge substrate — the banded
    // self-join never re-runs for them once knn_graph built it.
    for (name <- Seq("knn_label_agreement", "hubness_stats")) {
      val p = planOf(name)
      assert(readsSubstrate(p),
        s"$name must read the knn-edges substrate, not rebuild it:\n" + p.take(800))
      assert(!p.contains("CartesianProduct"), p.take(800))
    }

    // ivf_balance rides the shared cell assignment; the K-row centroid
    // side joins bounded (no corpus-side shuffle beyond the count agg).
    val ib = planOf("ivf_balance")
    assert(readsSubstrate(ib),
      "ivf_balance must read the ivf-assigned substrate:\n" + ib.take(800))
    assert(!ib.contains("CartesianProduct"), ib.take(800))

    // pca_outliers: joinless pure map (all inputs are driver literals) +
    // global top-20 as TakeOrderedAndProject — never a full sort.
    val po = planOf("pca_outliers")
    assert(!po.contains("Join"), po.take(800))
    assert(po.contains("TakeOrderedAndProject"),
      "pca_outliers must take its top-20 without a global sort:\n" + po.take(800))
    assert(po.contains("graft_int_sqdist") && po.contains("graft_int_dot"),
      "the residual must ride the codegen kernels:\n" + po.take(800))

    // ivf_nprobe_sweep scores ONE widest-probe candidate table (the
    // substrates are cached) — the sweep must not cartesian anywhere.
    val np = planOf("ivf_nprobe_sweep")
    assert(readsSubstrate(np),
      "the sweep must ride the cached IVF substrates:\n" + np.take(800))
    assert(!np.contains("CartesianProduct"), np.take(800))

    // dsir_ess reads the cached weight substrate — the feature pass
    // must not re-run for the diagnostic.
    val de = planOf("dsir_ess")
    assert(readsSubstrate(de),
      "dsir_ess must read the dsir-weights substrate:\n" + de.take(800))

    // minhash_band_stats is pure counting on the banded substrate — it
    // must never join (a join would mean it generated candidate pairs).
    val mb = planOf("minhash_band_stats")
    assert(readsSubstrate(mb),
      "band stats must read the minhash-banded substrate:\n" + mb.take(800))
    assert(!mb.contains("Join"), "the diagnostic must not generate pairs:\n" + mb.take(800))

    // last_touch_attribution mirrors first_touch: grain agg, no window,
    // no join — the argmax is a struct-max partial aggregation.
    val lt = planOf("last_touch_attribution")
    assert(!lt.contains("Window"), lt.take(800))
    assert(!lt.contains("Join"), lt.take(800))

    // the audit trio rides existing substrates: dedup_loss_by_source
    // and split_leak_audit read cached cc-labels/pair state (no new
    // contraction loop, no cartesian); pack_efficiency keeps the
    // corpus-sized cumsum pid-partitioned like the packers.
    for (name <- Seq("dedup_loss_by_source", "split_leak_audit")) {
      val p = planOf(name)
      assert(readsSubstrate(p),
        s"$name must ride the cached dedup substrates:\n" + p.take(800))
      assert(!p.contains("CartesianProduct"), p.take(800))
    }
    val pe = planOf("pack_efficiency")
    assert(pe.contains("hashpartitioning(pid"),
      "pack_efficiency's cumsum must stay pid-partitioned:\n" + pe.take(1200))

    // the block-6 composition audits ride cached substrates and never
    // cartesian; conversion_window_attribution is window-function-free
    // (two partial aggs + one user-keyed join — no events-sized sort).
    for (name <- Seq("dup_quality_profile", "knn_cluster_purity")) {
      val p = planOf(name)
      assert(readsSubstrate(p),
        s"$name must ride its cached substrates:\n" + p.take(800))
      assert(!p.contains("CartesianProduct"), p.take(800))
    }
    val cw = planOf("conversion_window_attribution")
    assert(!cw.contains("Window"), cw.take(800))
    assert(!cw.contains("CartesianProduct"), cw.take(800))
  }

  test("round-15 additions: grain riders, bounded grids, kernel arms") {
    // the privacy audits and the anomaly queue ride narrow grains: the
    // corpus-sized step is ONE hash aggregation; nothing cartesians and
    // no window appears anywhere (the grid joins are literal-row sides)
    for (name <- Seq("k_anonymity", "l_diversity", "traffic_anomaly")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(800))
      assert(!p.contains("Window"), s"$name must stay window-free:\n" + p.take(800))
    }

    // gap_burstiness: exactly one user-keyed window (the sessionize
    // bound) feeds the user-grain agg; the wide-tier sums change no
    // plan shape
    val gb = planOf("gap_burstiness")
    assert("Window".r.findAllIn(gb).size >= 1 && gb.contains("hashpartitioning(user_id"),
      "gap window must partition by user:\n" + gb.take(1200))

    // knn diagnostics ride the cached edge substrate — no fresh banding
    // join, no cartesian
    for (name <- Seq("knn_reciprocity", "label_propagation")) {
      val p = planOf(name)
      assert(readsSubstrate(p),
        s"$name must ride the cached knn-edge substrate:\n" + p.take(800))
      assert(!p.contains("CartesianProduct"), p.take(800))
    }

    // skipgram_pmi: the distance-1 arm must stay on the native pair
    // kernel (the distance-2 zip_with arm is census-cleared, see
    // SCALE.md); the arms run inside the pair-table substrate's build
    planOf("skipgram_pmi") // triggers the substrate build
    val sp = buildPlanOf("skipgram-bi")
    assert(sp.contains("graft_gram_pairs"),
      "distance-1 arm must use the pair kernel:\n" + sp.take(800))

    // dirichlet_qlm: the |Q|-element fan-out is a scan-local explode —
    // no cartesian, and the final ranking is a TakeOrderedAndProject,
    // never a global window sort
    planOf("dirichlet_qlm") // triggers the substrate build
    val dq = buildPlanOf("qlm-topk")
    assert(!dq.contains("CartesianProduct"), dq.take(800))
    assert(dq.contains("TakeOrderedAndProject"), dq.take(1200))

    // centroid_distance_matrix: vectors never shuffle — the only
    // exchanges carry (label, dim) model-sized rows
    val cm = planOf("centroid_distance_matrix")
    assert(!cm.contains("CartesianProduct"), cm.take(800))

    // the type-day grain riders: every window partitions by event_type
    // (calendar-bounded day rows — never a global single-partition
    // sort), nothing cartesians
    for (name <- Seq("cusum_changepoint", "exp_smooth_forecast", "forecast_baselines")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n" + p.take(800))
      assert(p.contains("hashpartitioning(event_type"),
        s"$name's windows must stay type-partitioned:\n" + p.take(1200))
    }
  }
}
