package graft

/** Regression guard on the physical plans we actually want — pushdown,
  * pruning, broadcast choice, top-k without global sort. A plan that
  * silently loses one of these still returns right answers at sf0.01
  * but dies at 100 TB; this spec makes the plan shape part of the
  * contract.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("q1: shipdate filter pushed to parquet, partial aggregation present") {
    val p = planOf("q1_pricing")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"))
    assert(p.contains("partial_sum"))
  }

  test("q1: scan reads only the 7 needed lineitem columns") {
    val p = planOf("q1_pricing")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_comment") && !read.contains("l_orderkey"))
  }

  test("q3/q5: dimension sides broadcast") {
    assert(planOf("q3_revenue").contains("BroadcastHashJoin"))
    assert(planOf("q5_local_supplier").contains("BroadcastHashJoin"))
  }

  test("topk: plans TakeOrderedAndProject, not a global sort") {
    val p = planOf("topk_words")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("wordcount: exactly one hash-partition exchange before the sort") {
    val p = planOf("wordcount")
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1, s"expected 1 hash exchange:\n$p")
  }

  test("knn: query side broadcast, corpus scanned without shuffle") {
    val p = planOf("knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("custom topk plan: partial before exchange, final after") {
    val p = planOf("topk_words_per_source_plan")
    val idxPartial = p.indexOf("PartialTopKPerKey")
    val idxFinal = p.indexOf("FinalTopKPerKey")
    assert(idxPartial >= 0 && idxFinal >= 0 && idxFinal < idxPartial,
      s"final should sit above partial in the tree:\n$p")
  }

  test("phraseSearchN: postings pruned by a broadcast join, no sort-merge") {
    val p = planOf("phrase_search_3")
    assert(p.contains("BroadcastHashJoin"),
      s"the 1-row phrase must broadcast so non-phrase postings never shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"posting-scale sort-merge join means the prune was lost:\n$p")
  }

  test("fuzzy d2: verified pairs hit a checkpoint barrier before the sort") {
    val p = planOf("fuzzy_name_pairs_d2")
    // the final orderBy must read materialized rows (LogicalRDD scan) —
    // without the barrier, RangePartitioner's sampling pass re-executes
    // the whole variant join a second time
    assert(p.contains("Sort") && p.contains("ExistingRDD"),
      s"sort should consume the checkpointed verify output:\n$p")
  }

  test("minhash verify prunes shingles to LSH candidates via semi join") {
    // r13: the GATE serves the session-staged checkpointed pair frame
    // (its plan is a LogicalRDD scan by design) — audit the LIVE
    // derivation DedupStage checkpoints, which is where the semi-join
    // prune must hold. r15: the verify checkpoints the PRUNED shingle
    // frame (so its three consumers stop re-running the derivation),
    // which moves the semi join inside the checkpointed subtree —
    // audit prunedShingles, the derivation that feeds the checkpoint.
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf0001)
    val cands = Dedup.lshCandidates(
      Dedup.minhashSignatures(docs, n = 3, k = 128), b = 32, r = 4)
    val p = Dedup.prunedShingles(Dedup.shingles(docs, 3), cands)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"),
      s"non-candidate docs' shingles must not enter the verify joins:\n$p")
    // ...and the end-to-end pair set over the checkpointed verify is
    // unchanged (the staged≡unstaged contract for the scale path)
    assert(Dedup.minhashPairs(docs, n = 3, b = 32, r = 4, num = 4, den = 5)
      .collect().toSeq ==
      Dedup.jaccardPairs(docs, n = 3, num = 4, den = 5).collect().toSeq)
  }

  test("cube: one hash exchange on the expanded grouping keys") {
    val p = planOf("events_cube")
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(p.contains("Expand") && hashExchanges == 1,
      s"cube should expand then aggregate through one exchange:\n$p")
  }

  test("interval join: equi-keyed join, never a cartesian product") {
    val p = planOf("events_interval_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"range predicate must ride an equi join:\n$p")
  }

  test("spend tiers: percentile cuts broadcast, no global window sort") {
    val p = planOf("customer_spend_tiers")
    assert(!p.contains("Window"), s"ntile-style global window crept in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row cut table should broadcast:\n$p")
  }

  test("strict decontamination: benchmark grams broadcast, anti join") {
    val p = planOf("decontaminate_strict")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("LeftAnti"), s"keep side must anti-join:\n$p")
  }

  test("q7: nation/customer/supplier dims broadcast, one big join only") {
    val p = planOf("q7_volume")
    assert(p.contains("BroadcastHashJoin"))
    // lineitem ⋈ orders is the only shuffle join allowed
    val shuffleJoins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(shuffleJoins <= 1, s"expected at most one shuffled join:\n$p")
  }

  test("q19: part side broadcast; disjunctive filter after the join") {
    val p = planOf("q19_disjunctive")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q22: anti join on recent orders, no shuffled customer window") {
    val p = planOf("q22_dormant_rich")
    assert(p.contains("LeftAnti"))
    assert(!p.contains("Window"))
  }

  test("pack sequences: window partitioned by source (no global sort)") {
    val p = planOf("doc_pack_sequences")
    // a single global window would show hashpartitioning on no columns
    // or a SinglePartition exchange feeding the Window
    assert(p.contains("Window"))
    assert(!p.contains("Exchange SinglePartition"),
      s"packing must stay per-source parallel:\n$p")
  }

  test("kll quantile sketch: partial aggregation before the exchange") {
    val p = planOf("events_value_quantiles_sketch")
    assert(p.contains("partial_kllquantiles") ||
      p.linesIterator.exists(l => l.contains("partial") && l.contains("kll")),
      s"sketch must combine map-side:\n$p")
  }

  test("bucketed join: zero exchanges on the join, one for the agg") {
    val p = planOf("bucketed_join_revenue")
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"bucketed layout must join exchange-free (only the final agg shuffles):\n$p")
  }

  test("join hints steer the physical join: merge vs shuffle_hash") {
    import org.apache.spark.sql.functions.col
    // big-to-big joins: the hint decides SMJ vs shuffled-hash — the
    // explicit-control surface for when the optimizer guesses wrong
    // (e.g. a build side known to fit memory that stats undersell)
    val l = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf0001).select("o_orderkey", "o_orderpriority")
    val merge = l.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
    assert(merge.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    val shuffleHash = l.join(o.hint("shuffle_hash"),
      col("l_orderkey") === col("o_orderkey"))
    assert(shuffleHash.queryExecution.executedPlan.toString
      .contains("ShuffledHashJoin"))
  }

  test("q2: single hash exchange via repartition-prefix (agg + window share it)") {
    val p = planOf("q2_min_cost_supplier")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"q2 must plan exactly one keyed exchange (got $hashEx):\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimensions must broadcast:\n$p")
  }

  test("snapshot upsert: one keyed exchange per side, the join adds none") {
    val p = planOf("events_snapshot_upsert")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 2,
      s"MERGE shape = two window shuffles reused by the join (got $hashEx):\n$p")
    assert(p.contains("SortMergeJoin FullOuter") || p.contains("FullOuter"),
      s"full-outer merge expected:\n$p")
  }

  test("AQE upgrades a shuffle join to broadcast from runtime stats") {
    import org.apache.spark.sql.functions.col
    // static planning is forbidden from broadcasting (threshold -1);
    // the ADAPTIVE threshold still allows it once the filtered side's
    // true size is known — the runtime re-plan a 100 TB job relies on
    // when stats undersell a selective filter
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    GraftConf.scoped(spark, key -> "-1", aqeKey -> "10m") {
      val small = Tables.orders(spark, sf0001)
        .where(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      val j = Tables.lineitem(spark, sf0001).select("l_orderkey")
        .join(small, col("l_orderkey") === col("o_orderkey"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("BroadcastHashJoin"),
        s"AQE should have upgraded to broadcast:\n$plan")
    }
  }

  test("partitioned lake: type filter is a PartitionFilter, not a row filter") {
    val p = planOf("partitioned_pruned_scan")
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("event_type"),
      s"event_type must prune partition dirs:\n$p")
    // the scan line carries everything; the row-level filter sets must
    // be EMPTY (the predicate is satisfied by pruning alone)
    assert(pf.contains("PushedFilters: []") && pf.contains("DataFilters: []"),
      s"pruned column must not reappear as a row filter:\n$p")
  }

  test("vocab coverage: OOV probe is a broadcast anti join, not a shuffle join") {
    val p = planOf("vocab_coverage")
    assert(p.contains("BroadcastHashJoin LeftAnti") ||
      (p.contains("LeftAnti") && p.contains("BroadcastExchange")),
      s"top-k vocab must broadcast for the anti probe:\n$p")
  }

  test("mixture sample: quota join broadcast — fact side shuffles only for its window") {
    val p = planOf("doc_mixture_sample")
    assert(p.contains("BroadcastExchange"), s"quota side must broadcast:\n$p")
    // the fact (documents) side must reach its rank window through ONE
    // hashpartitioning(source) exchange and the quota join must add none:
    // every BroadcastHashJoin keeps the streamed side's partitioning
    assert(p.contains("BroadcastHashJoin"),
      s"quota join must be broadcast, not shuffled:\n$p")
  }

  test("scd2: change filter and both windows share ONE user_id exchange") {
    val p = planOf("events_scd2")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"scd2 must plan exactly one keyed exchange, got $hashEx:\n$p")
  }

  test("sparse pairs: df prune lands before the pair join") {
    val p = planOf("doc_sparse_pairs")
    // the semi join against kept terms must sit under the self-join,
    // not above it (pruning AFTER pairing would defeat the point)
    val semiIdx = p.indexOf("LeftSemi")
    val pairAggIdx = p.indexOf("partial_sum")
    assert(semiIdx >= 0 && pairAggIdx >= 0 && semiIdx > pairAggIdx,
      s"semi prune must be below (after in text) the pair aggregation:\n$p")
  }

  test("semdedup: cell-keyed equi pair join, drops anti-joined away") {
    val p = planOf("semdedup_keep")
    assert(!p.contains("CartesianProduct"),
      s"pair generation must ride the cell equi-key:\n$p")
    assert(p.contains("LeftAnti"), s"keep-list must anti-join the drops:\n$p")
  }

  test("prototypes: bounded-heap top-k per cluster, no window sort") {
    val p = planOf("emb_prototypes")
    assert(p.contains("PartialTopKPerKey") && p.contains("FinalTopKPerKey"),
      s"per-cluster trim must use the bounded-heap operator:\n$p")
    assert(!p.contains("Window"), s"rank window crept back in:\n$p")
  }

  test("ann_sq8: stats and query sides broadcast; heap top-k; no shuffled join") {
    val p = planOf("ann_sq8")
    assert(p.contains("BroadcastExchange"),
      s"the 1-row (mns,mxs) stats row and the query codes must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus must never shuffle for the scoring join:\n$p")
    assert(p.contains("PartialTopKPerKey"),
      s"ranking must go through the bounded heaps:\n$p")
  }

  test("perplexity buckets: ntile window partitioned by lang, not global") {
    val p = planOf("doc_perplexity_buckets")
    assert(p.contains("Window"))
    assert(!p.contains("Exchange SinglePartition"),
      s"bucketing must stay per-language parallel:\n$p")
  }

  test("dsir: score table broadcast; top-n is TakeOrderedAndProject") {
    val p = planOf("dsir_select")
    assert(p.contains("BroadcastHashJoin"),
      s"the nBuckets-row score table must broadcast back onto tokens:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-n must not plan a global sort:\n$p")
  }

  test("dsir: MEASURED shuffle volume is bucket+doc scale, not token scale") {
    val df = SparkEntry.queries("dsir_select")(spark, sf0001)
    val (_, recs) = PlanMetrics.shuffleTotals(df)
    val tokens = graft.operators.WordCount
      .explodeWords(Tables.documents(spark, sf0001), "text", Nil).count()
    // the token stream must never shuffle: only the ≤nBuckets-row
    // count aggregations and the per-doc partial sums move
    assert(recs > 0 && recs < tokens / 2,
      s"dsir shuffled $recs records against $tokens tokens")
  }

  test("cms: one-row sketch broadcast to the probe side") {
    val p = planOf("topk_words_cms")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row sketch must broadcast:\n$p")
    assert(p.contains("partial_countminagg") ||
      p.linesIterator.exists(l => l.contains("partial") && l.contains("countmin")),
      s"sketch build must combine map-side:\n$p")
  }

  test("asof nearest: FOUR windows share one user_id exchange") {
    val p = planOf("events_asof_nearest")
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"prev/next window pairs must reuse the same partitioning:\n$p")
  }

  test("rolling 7d: one user_id exchange feeds the RANGE window") {
    val p = planOf("events_rolling_7d")
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1, s"expected exactly one keyed exchange:\n$p")
  }

  test("temperature sample: window partitioned by source, quota broadcast") {
    val p = planOf("doc_temperature_sample")
    assert(p.contains("hashpartitioning(source"),
      s"the rank window must partition by source (no global window):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-source quota table must broadcast:\n$p")
  }

  test("skipgram: top-k via TakeOrderedAndProject, no cartesian pairing") {
    val p = planOf("skipgram_counts")
    assert(p.contains("TakeOrderedAndProject") && !p.contains("CartesianProduct"))
  }

  test("phash near-dup: banded equi-join, never an all-pairs product") {
    val p = planOf("media_phash_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band collision candidates must come from an equi-join:\n$p")
  }

  test("snapshot diff: rank pushdown on both sides, exchange-reusing full outer") {
    val p = planOf("events_snapshot_diff")
    assert(p.contains("WindowGroupLimit"),
      s"rn = 1 must push a group-limit below the sort:\n$p")
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 2,
      s"the full-outer join must reuse the windows' user_id partitioning:\n$p")
  }

  test("dynamic partition pruning fires on the partitioned lake join") {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    val lake = graft.sources.PartitionedLake.eventsByTypeLake(spark, sf0001)
    val facts = spark.read.parquet(lake)
    // the filter lives ONLY on the dim side: the fact scan can prune
    // its event_type partitions solely via runtime (dynamic) pruning.
    // The sf0.001 lake is a few KB, so DPP's size-based benefit
    // heuristic would veto it — scope it off (and restore) to assert
    // the RULE fires; at real scale the stats say yes on their own
    // the dim must be a FILE source: a filtered LocalRelation is
    // constant-folded before the pruning rule looks for a selective
    // predicate, and DPP never fires
    val dimPath = java.nio.file.Files.createTempDirectory("graft_dpp_dim_").toString
    Seq(("purchase", 1L), ("view", 2L), ("click", 3L))
      .toDF("event_type", "w").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where(col("w") === 1L)
    val statsKey = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    val ratioKey = "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio"
    GraftConf.scoped(spark, statsKey -> "false", ratioKey -> "10") {
      val p = facts.join(broadcast(dim), "event_type")
        .queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("dynamicpruning"),
        s"the fact scan must carry a dynamic partition filter:\n$p")
    }
  }

  test("partitioned corpus write prunes to one split on read") {
    val out = java.nio.file.Files.createTempDirectory("graft_part_").toString
    graft.operators.TextAnalysis.writeCorpus(
      Tables.documents(spark, sf0001), out)
    val read = spark.read.parquet(out)
      .where(org.apache.spark.sql.functions.col("split") === "train")
    val scan = read.queryExecution.executedPlan.toString
    val pf = scan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("split"), s"partition filter must prune splits:\n$scan")
  }

  test("attribution: both touch windows share ONE user_id exchange") {
    val p = planOf("events_attribution")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // user_id window + channel rollup — a second window exchange or a
    // purchase×touch join would push this past 2
    assert(hashEx == 2, s"attribution must plan exactly 2 keyed exchanges:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"),
      s"attribution must be join-free (window carry, not self-join):\n$p")
  }

  test("journey paths: session rollup reuses the user window exchange") {
    val p = planOf("events_journey_paths")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // one on user_id (three windows + the (user, session) rollup ride
    // it — HashPartitioning(user_id) satisfies the wider clustering),
    // one on path; top-k must not global-sort
    assert(hashEx == 2, s"journey paths must plan exactly 2 keyed exchanges:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be TakeOrdered:\n$p")
  }

  test("since-last-error: window max and final agg share ONE exchange") {
    val p = planOf("events_since_last_error")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // the reset-max window and the user rollup both key on user_id —
    // a per-user-maxima self-join or a second window exchange would
    // push this past 1
    assert(hashEx == 1, s"sinceLastError must plan exactly 1 keyed exchange:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"),
      s"sinceLastError must be join-free (window carry):\n$p")
  }

  test("t-closeness: grid joins broadcast, nothing corpus-sized sort-merges") {
    val p = planOf("pii_t_closeness")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"band/total frames are band-domain-sized and must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"every join input is grid-sized; none may sort-merge:\n$p")
  }

  test("hybrid rrf: query terms broadcast into both rankers") {
    val p = planOf("doc_hybrid_rrf")
    assert(p.contains("BroadcastHashJoin"),
      s"the nTerms-row query frame must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"both ranker truncations must be TakeOrdered, not global sorts:\n$p")
  }

  test("ann_pq: corpus encodes via broadcasts, ranks via bounded heaps") {
    val p = planOf("ann_pq")
    assert(p.contains("PartialTopKPerKey") && p.contains("FinalTopKPerKey"),
      s"ADC ranking must be the bounded-heap top-k:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"codes/LUTs are broadcast-sized; nothing may sort-merge:\n$p")
  }

  test("table_checksum: ONE exchange, partial XOR before it") {
    val p = planOf("table_checksum")
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"the checksum must combine map-side, one shuffle on source:\n$p")
    assert(p.contains("partial_bit_xor") || p.contains("partial"),
      s"partial aggregation must precede the exchange:\n$p")
  }

  test("winnow fingerprints: per-row selection, no exchange before the sort") {
    val p = planOf("doc_winnow_fingerprint")
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 0,
      s"winnow selection is pure per-row array math; only the output ordering may exchange:\n$p")
  }

  test("rake keyphrases: final top-k is TakeOrdered, not a global sort") {
    val p = planOf("doc_rake_keyphrases")
    assert(p.contains("TakeOrderedAndProject"), s"top-25 must not global-sort:\n$p")
  }

  test("crossmodal: query tower broadcast; media side never pre-shuffles") {
    val p = planOf("media_crossmodal_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 20-query grid must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing here may sort-merge:\n$p")
  }

  test("winnow increment: base side scans the bucketed index exchange-free") {
    val p = planOf("dedup_increment_winnow")
    assert(p.contains("graft_ddx_wn_"),
      s"the probe must read the PERSISTED winnow table, not re-winnow the base:\n$p")
    // the bucketed (fp) base side must reach the join without its own
    // shuffle: at most the increment side + the final agg may exchange
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2,
      s"base side of the probe join must be exchange-free (bucketed on fp):\n$p")
  }

  test("CF family: probes read the persisted bucketed index, never rebuild") {
    // all three gates must serve from graft_cfx_* tables; the
    // similarity graph (p-keyed self-join) may appear in NO probe plan
    val nb = planOf("customer_cf_neighbors")
    assert(nb.contains("graft_cfx_nb_"),
      s"cf_neighbors must scan the persisted neighbor table:\n$nb")
    assert(!nb.contains("lineitem"),
      s"cf_neighbors probe must not touch lineitem:\n$nb")
    // pure index read: scan + presentation sort, zero hash exchanges
    assert(nb.linesIterator.count(_.contains("Exchange hashpartitioning")) == 0,
      s"cf_neighbors probe must be a bucketed scan + sort:\n$nb")
    val rec = planOf("customer_recommendations")
    assert(rec.contains("graft_cfx_nb_") && rec.contains("graft_cfx_cp_"),
      s"recommendations must probe the nb + cp tables:\n$rec")
    assert(!rec.contains("lineitem"), s"no lineitem in the probe:\n$rec")
    assert(rec.contains("Bucketed: true"),
      s"the incidence side must plan as a bucketed scan:\n$rec")
    val ev = planOf("customer_rec_eval")
    assert(ev.contains("graft_cfx_nbtr_") && ev.contains("graft_cfx_cptr_")
        && ev.contains("graft_cfx_test_"),
      s"rec_eval must probe the TRAIN-split + test tables:\n$ev")
    assert(!ev.contains("lineitem") && !ev.contains("orders"),
      s"rec_eval probe must not rebuild the split:\n$ev")
  }

  test("CF increment: delta probes the bucketed base, serving plan is index-only") {
    // trigger the base-split index build + increment once
    val inc = SparkEntry.queries("customer_cf_increment")(spark, sf0001)
    val p = inc.queryExecution.executedPlan.toString
    // the serving (merge + re-rank) plan reads the persisted base nb
    // table; all raw-table work (delta derivation) happened behind the
    // eager checkpoints during construction — so no fact scan here
    assert(p.contains("graft_cfi_nb_"),
      s"untouched customers must serve from the base nb table:\n$p")
    assert(!p.contains("lineitem") && !p.contains("orders"),
      s"the serving plan must not rescan the fact tables:\n$p")
    // the Δ anti-join probe: base incidence side is the bucketed table
    import org.apache.spark.sql.functions.{col, lit, to_timestamp}
    val cpT = spark.catalog.listTables().collect().map(_.name)
      .find(_.startsWith("graft_cfi_cp_")).get
    val dcp = Tables.lineitem(spark, sf0001)
      .join(Tables.orders(spark, sf0001)
          .where(col("o_orderdate") >=
            to_timestamp(lit(graft.sources.CfIndex.CutDate))),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
      .join(spark.table(cpT), Seq("c", "p"), "left_anti")
    val pp = dcp.queryExecution.executedPlan.toString
    assert(pp.contains("graft_cfi_cp_") && pp.contains("Bucketed: true"),
      s"the anti-join must probe the bucketed base incidence:\n$pp")
    // the pushed delta cut must reach the orders scan
    assert(pp.contains("GreaterThanOrEqual(o_orderdate"),
      s"the delta date cut must push to the orders scan:\n$pp")
  }

  test("ANN increment: probe prunes to the query cells' buckets") {
    val p = SparkEntry.queries("ann_ivf_increment")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_anni_cells_"),
      s"the probe must read the persisted incremented postings:\n$p")
    // the cell IN-filter must push into the bucketed posting scan
    val scan = p.linesIterator
      .find(l => l.contains("graft_anni_cells_") && l.contains("FileScan"))
      .getOrElse("")
    assert(scan.contains("Bucketed: true") && p.contains("cell#"),
      s"posting scan must stay bucketed with the cell filter pushed:\n$p")
  }

  test("classifier training: the corpus never shuffles on the model key") {
    // the weight vector rides a broadcast every round — a slot-keyed
    // exchange of the FEATURE table would be the 100 TB killer. The
    // returned weights are checkpointed (lineage cut), so audit the
    // round's margin subplan exactly as the loop builds it.
    import org.apache.spark.sql.functions.{broadcast, col, lit, sum}
    val feats = operators.TextAnalysis.classifierFeatures(
      Tables.documents(spark, sf0001), 64)
    val w = spark.range(64).select(col("id").as("slot"), lit(0L).as("w"))
    val p = feats.join(broadcast(w), "slot")
      .groupBy("doc_id").agg(sum(col("cnt") * col("w")).as("m"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"weights must broadcast into the feature scan:\n$p")
    assert(!p.contains("Exchange hashpartitioning(slot"),
      s"the feature table must never shuffle on the model key:\n$p")
  }

  test("proximity: postings prune to the term list, equi-joins only") {
    val p = planOf("proximity_search")
    // the per-term word filters must sit below the joins (pruned
    // postings are what shuffles), and no join may degrade to a
    // nested-loop/cartesian product
    assert(p.contains("hash") && p.contains("join") && p.contains("scan"),
      s"term literals missing from the plan filters:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"proximity joins must stay equi-joins on doc_id:\n$p")
  }

  test("graph family: no forced broadcast of a node-cardinality frame") {
    // Tripwire for the whole graph family: a broadcast() HINT is only
    // legitimate on a frame that is provably tiny regardless of graph
    // size — a global aggregate (maxRows == 1) or the caller-supplied
    // seed set. A hint on a node/edge-cardinality frame (degree table,
    // label table, rank vector) works at sf0.1 and OOMs the driver at
    // 100 TB; AQE must make that call from runtime stats instead.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val graphQueries = Seq(
      "word_pagerank", "word_pagerank_weighted", "word_ppr", "word_hits",
      "word_triangles", "word_bfs_dist", "word_kcore", "word_communities",
      "word_modularity", "word_sssp", "word_diameter_2sweep",
      "word_ktruss_edges", "word_bowtie", "word_walk_corpus",
      "part_copurchase", "part_link_pred", "part_link_pred_ra",
      "part_link_pred_jaccard", "part_assoc_rules", "part_assortativity",
      "part_closeness", "part_clustering_coeff")
    for (q <- graphQueries) {
      val analyzed = SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.analyzed
      val hints = analyzed.collect { case h: ResolvedHint => h }
      for (h <- hints) {
        val oneRow = h.child.maxRows.contains(1L)
        val isSeedFrame =
          h.child.output.map(_.name).toSet == Set("node", "is_seed")
        assert(oneRow || isSeedFrame,
          s"$q force-broadcasts a frame that is neither a 1-row global " +
            s"aggregate nor the seed set (cols " +
            s"${h.child.output.map(_.name).mkString(",")}); " +
            s"node-cardinality frames must be left to AQE:\n${h.child}")
      }
    }
  }

  test("classifier score/calibration: the scoring scan is shuffle-free") {
    // the hashing-trick dot product must stay inside the row — the only
    // exchange the score query may have is its presentation sort, and
    // calibration adds exactly the one bin-rollup hash exchange
    val score = planOf("doc_classifier_score")
    assert(score.linesIterator.count(_.contains("Exchange hashpartitioning")) == 0,
      s"scoring must not shuffle:\n$score")
    val cal = planOf("doc_classifier_calibration")
    assert(cal.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"calibration = scoring + ONE bin rollup:\n$cal")
  }

  test("hll: register table is one hash exchange, summary adds no data shuffle") {
    // registers: partial max combines map-side, one exchange on bucket;
    // everything after operates on <= m rows
    val p = operators.TextAnalysis.hllRegisters(
      operators.TextAnalysis.hllGramStream(Tables.documents(spark, sf0001), 3),
      "gram", 64).queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected exactly the bucket exchange:\n$p")
    assert(p.contains("partial_max") || p.contains("partial_"),
      s"register max must combine map-side:\n$p")
  }

  test("seqPatterns3: every join keys on user_id (one reused shuffle key)") {
    val p = planOf("events_seq_patterns3")
    val exLines = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    val dataEx = exLines.filterNot(_.contains("t1#")) // final triple rollup
    assert(dataEx.forall(_.contains("user_id")),
      s"a non-user_id data exchange crept into the pattern join:\n$p")
  }
}
