package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-shape regression tests: lock in the physical-plan wins the r3
  * audit measured (SURVEY §6), so a refactor that silently regresses a
  * plan — a top-k that becomes a global sort, a broadcast range join
  * that starts shuffling its probe side, a codegen expression replaced
  * by an interpreted fallback — fails in CI, not in the 100 TB run.
  * Plans are inspected pre-execution (the AQE initial plan): these are
  * static shape invariants, not runtime re-plans. */
class PlanSpec extends SparkSpec {

  private def physical(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect { case n => n }

  /** Execute the query and return the FINAL adaptive plan with query
    * stages traversed (QueryStageExec is a leaf to collect(), so the
    * reuse markers AQE applies at runtime are invisible without
    * descending into stage.plan). */
  private def executedDeepNodes(name: String): Seq[SparkPlan] =
    executedDeepNodesOf(SparkEntry.queries(name)(spark, sfDir))

  private def executedDeepNodesOf(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    def deep(p: SparkPlan): Seq[SparkPlan] = nodes(p).flatMap {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: deep(q.plan)
      case n => Seq(n)
    }
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
      case p => deep(p)
    }
  }

  /** The rule behind the one-scan `_search` keys, spelled out so a
    * future failure teaches it instead of requiring SURVEY archaeology:
    * the aggs and hits branches of a faceted search share their
    * scan+shuffle only through RUNTIME exchange reuse, and reuse
    * requires the two exchange subtrees to be IDENTICAL — including
    * pruned scan columns. A branch that stops referencing a stat column
    * the other branch uses lets column pruning produce two
    * differently-pruned scans, silently doubling the corpus cost. */
  private val sharedScanContract =
    "SHARED-SCAN CONTRACT: keep both branch outputs referencing the SAME " +
    "scan columns (ns_search_post_filter's bucket stats exist for this) — " +
    "column pruning otherwise splits the shared subtree into two " +
    "differently-pruned scans and the runtime exchange reuse disappears."

  private def assertSharedQueryScan(df: DataFrame, label: String, maxScans: Int): Unit = {
    val deep = executedDeepNodesOf(df)
    val scans = deep.count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans <= maxScans,
      s"$label ran $scans corpus scans, expected <= $maxScans. $sharedScanContract")
    assert(deep.exists(_.getClass.getSimpleName == "ReusedExchangeExec"),
      s"$label: no runtime exchange reuse between the branches. $sharedScanContract")
  }

  /** CodegenFallback expression class names anywhere in the plan. */
  private def fallbacks(p: SparkPlan): Set[String] =
    nodes(p).flatMap(_.expressions)
      .flatMap(_.collect { case e: CodegenFallback => e.getClass.getSimpleName })
      .toSet

  test("ns_topk stays TakeOrderedAndProject — never a global sort + limit") {
    val p = physical("ns_topk")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"expected TakeOrderedAndProject in:\n$p")
  }

  test("geoip range join stays broadcast nested-loop with an unshuffled probe side") {
    val p = physical("np_geoip_join")
    assert(nodes(p).exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"expected BroadcastNestedLoopJoin in:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[SortMergeJoinExec]),
      "range join must not degrade to a sort-merge join")
    // below the join, the only permitted shuffle is Par.spread's
    // explicit single-split widening (REPARTITION_BY_NUM); the join
    // itself must never REQUIRE a probe-side shuffle (the post-join
    // count-distinct aggregation shuffles above it, which is fine)
    val joinSubtree = nodes(p).collectFirst { case j: BroadcastNestedLoopJoinExec => j }.get
    val required = nodes(joinSubtree).collect {
      case e: ShuffleExchangeExec
          if e.shuffleOrigin == org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS => e
    }
    assert(required.isEmpty, s"the range join now requires a probe-side shuffle:\n$p")
  }

  test("np_geoip_bucketed is a hash join on the bucket key — no BNLJ, unshuffled probe") {
    val p = physical("np_geoip_bucketed")
    assert(nodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"expected a broadcast HASH join on the bucket equi-key in:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "the bucketed twin must not fall back to the O(rows×ranges) BNLJ")
    assert(!nodes(p).exists(_.isInstanceOf[SortMergeJoinExec]),
      "the bucketed twin must not sort-merge")
    val join = nodes(p).collectFirst { case j: BroadcastHashJoinExec => j }.get
    val required = nodes(join).collect {
      case e: ShuffleExchangeExec
          if e.shuffleOrigin == org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS => e
    }
    assert(required.isEmpty, s"the bucketed range join requires a probe-side shuffle:\n$p")
  }

  test("similarity top-k uses the bounded Aggregator, not a Window over the corpus") {
    // knn: no window anywhere — the whole point of TopKByScore
    val knn = physical("ns_similarity_knn")
    assert(!nodes(knn).exists(_.isInstanceOf[WindowExec]),
      s"ns_similarity_knn regressed to a window/rank top-k:\n$knn")
    assert(knn.toString.contains("partial_topkbyscore"),
      "knn lost the partial-aggregating bounded top-k")
    // ivf: the corpus top-k must stay the partial Aggregator; the one
    // permitted window is centroid ASSIGNMENT, ranking the broadcast
    // q×centroid frame (20×|labels| rows) — it must never sit above the
    // corpus cosine scoring
    val ivf = physical("ns_similarity_ivf")
    assert(ivf.toString.contains("partial_topkbyscore"),
      "ivf lost the partial-aggregating bounded top-k")
    nodes(ivf).collect { case w: WindowExec => w }.foreach { w =>
      assert(!w.toString.contains("vec_cosine"),
        s"a Window ranks the corpus cosine scores in ivf:\n$ivf")
    }
    // the corpus side reads the label-partitioned index with a DYNAMIC
    // partition filter from the probe join — without it the probe scans
    // all labels and discards (nLabels - nProbe)/nLabels post-hoc
    assert(ivf.toString.contains("dynamicpruning"),
      s"the ivf probe scan lost dynamic partition pruning:\n$ivf")
  }

  /** ngram/minhash candidate generation is the group-by-bucket pair
    * emission (bounded aggregator + OrderedPairs), NOT a self-join: a
    * join formulation plans the expensive index subtree once per side
    * plus once per cap/sizes branch, and neither static ReuseExchange
    * nor AQE stage reuse deduplicates them (measured r5: 8 scans for
    * ngram). Exactly one FileScan each is the load-bearing invariant. */
  private def scanCount(p: SparkPlan): Int =
    nodes(p).count(_.getClass.getSimpleName == "FileSourceScanExec")

  test("ns_dedup_ngram: single-scan bucket-pair plan, no self-join, no shingle window") {
    val p = physical("ns_dedup_ngram")
    assert(scanCount(p) == 1, s"the index pipeline is computed more than once:\n$p")
    assert(!nodes(p).exists(n => n.isInstanceOf[ShuffledHashJoinExec] ||
      n.isInstanceOf[SortMergeJoinExec] || n.isInstanceOf[BroadcastHashJoinExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"candidate generation regressed to a join:\n$p")
    // the only windows are the size-attach windows over per-doc candidate
    // partitions (pa / pb) — never over the raw shingle
    nodes(p).collect { case w: WindowExec => w }.foreach { w =>
      assert(w.partitionSpec.map(_.toString.replaceAll("#\\d+L?", "")).forall(s =>
        s == "pa" || s == "pb"), s"unexpected window partitioning in:\n$w")
    }
  }

  test("ns_dedup_minhash: single-scan bucket-pair plan, no self-join, no band window") {
    val p = physical("ns_dedup_minhash")
    assert(scanCount(p) == 1, s"the signature pipeline is computed more than once:\n$p")
    assert(!nodes(p).exists(n => n.isInstanceOf[ShuffledHashJoinExec] ||
      n.isInstanceOf[SortMergeJoinExec] || n.isInstanceOf[BroadcastHashJoinExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"candidate generation regressed to a join:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"the band cap regressed to a buffering window:\n$p")
    // the signature expression must appear EXACTLY once: a filter on
    // the signature column itself (e.g. isNotNull on `mh`) gets pushed
    // below the Project and duplicates the whole minhash computation
    // into the filter and the scan's DataFilters (measured 2.7×) — the
    // shingle-less-doc filter belongs above the band Generate, on `sig`
    assert(sigOccurrences(p) == 1,
      s"minhash_sigs must evaluate once — a pushed-down filter is recomputing signatures:\n$p")
  }

  private def sigOccurrences(p: org.apache.spark.sql.execution.SparkPlan): Int =
    p.toString.sliding("minhash_sigs".length).count(_ == "minhash_sigs")

  test("ns_dedup_embedding candidates: single-scan bucket-pair plan, no self-join, no window") {
    // The full query joins the (sparse) pair set back to embeddings to
    // fetch vectors — that part is fine. Candidate GENERATION is the
    // part that must never replan the LSH subtree per join side, so it
    // is locked in isolation (same invariant as minhash/ngram above).
    val df = ops.VectorSearch.embeddingCandidates(spark, sfDir)
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case q => q
    }
    assert(scanCount(p) == 1, s"the LSH signature pipeline is computed more than once:\n$p")
    assert(!nodes(p).exists(n => n.isInstanceOf[ShuffledHashJoinExec] ||
      n.isInstanceOf[SortMergeJoinExec] || n.isInstanceOf[BroadcastHashJoinExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"candidate generation regressed to a join:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"the bucket cap regressed to a buffering window:\n$p")
  }

  test("ns_dedup_simhash is one map pass — no explode amplification, no shuffle") {
    val p = physical("ns_dedup_simhash")
    assert(!nodes(p).exists(_.isInstanceOf[GenerateExec]),
      s"simhash regressed to an explode-based plan:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"simhash signature computation must not shuffle:\n$p")
  }

  test("no interpreted fallback reaches the hot path of the expensive plans") {
    // The r3 bench's most expensive queries (BENCH_r03.json) plus every
    // custom-Expression path. Allowed exceptions are deliberate:
    //   - ScalaAggregator = the bounded TopKByScore Aggregator (its
    //     partial aggregation is the point; Spark has no codegen'd
    //     bounded top-k)
    //   - ivf's array HOFs score only the broadcast q×centroid frame
    //     (20 queries × 20 centroids), never the corpus
    // BoundedBucketAgg is a TypedImperativeAggregate — imperative (and
    // so CodegenFallback) BY DESIGN, like Spark's own collect_list /
    // percentile: the bounded object buffer is the point, and the
    // per-row update is a primitive-array append, not an interpreted
    // expression tree. Allowed only in the two bucket-pair plans.
    // The PQ/k-means family (r11): the corpus-side stages — quantize,
    // encode, LUT, ADC, argmin, exact L2 — are all native expressions;
    // the only permitted fallbacks are the tiny codebook/centroid
    // ASSEMBLY aggregates (≤128 rows → one broadcast array row) and the
    // bounded top-k aggregate.
    val tinyAssembly = Set("CollectList", "ArraySort", "ArrayTransform",
      "LambdaFunction", "NamedLambdaVariable")
    val allowed: Map[String, Set[String]] = Map(
      "ns_similarity_knn" -> Set("TopKByScoreAgg"),
      "ns_similarity_knn_filtered" -> Set("TopKByScoreAgg"),
      "ns_similarity_ivf" -> (tinyAssembly ++ Set("TopKByScoreAgg", "ZipWith",
        "ArrayAggregate")),
      "ns_similarity_pq" -> (tinyAssembly + "TopKByScoreAgg"),
      "ns_similarity_pq_rerank" -> (tinyAssembly + "TopKByScoreAgg"),
      // ivfpq: the probe ranking HOFs score only the broadcast
      // q×centroid frame (20×|labels| rows), like ivf
      "ns_similarity_ivfpq" -> (tinyAssembly ++ Set("TopKByScoreAgg", "ZipWith",
        "ArrayAggregate")),
      "ns_similarity_ivfpq_rerank" -> (tinyAssembly ++ Set("TopKByScoreAgg",
        "ZipWith", "ArrayAggregate")),
      "ns_cluster_kmeans" -> Set("CollectList"),
      "ns_dedup_semantic" -> Set("CollectList", "BoundedBucketAgg"),
      "ns_dedup_ngram" -> Set("BoundedBucketAgg"),
      "ns_dedup_minhash" -> Set("BoundedBucketAgg"),
      "ns_dedup_embedding" -> Set("BoundedBucketAgg"),
      // the prefix-membership HOF runs over the ≤16-token query term
      // set per row, not a corpus-side structure
      "ns_search_query_string" -> Set("ArrayExists", "LambdaFunction",
        "NamedLambdaVariable"),
      // mrl: shortlist + rerank both rank through the bounded aggregate
      "ns_similarity_mrl" -> Set("TopKByScoreAgg"),
      // pinned's organic tf is one filter() HOF over the row's own
      // tokens (bounded by doc length, not corpus-side state), like
      // boosting's — and the cutoff stays a heap
      "ns_search_pinned" -> Set("ArrayFilter", "LambdaFunction",
        "NamedLambdaVariable"),
      // geo_line: the track is the bounded top-k aggregate by design
      "ns_agg_geo_line" -> Set("TopKByScoreAgg"),
      // vwh: the ≤(B−1)-row boundary ASSEMBLY aggregate only — the
      // corpus-side bucket lookup itself is the unrolled codegen CASE
      "ns_agg_variable_width_histogram" -> Set("CollectList", "SortArray"),
      // msearch ranks per-query hits through the bounded top-k aggregate;
      // q_prefix is a padded StringContains (r14 — the ArrayExists HOF
      // and its allowance are gone), labels explode + null-drop (r12)
      "ns_search_msearch" -> Set("TopKByScoreAgg"))
    val hot = Seq("ns_dedup_ngram", "ns_dedup_minhash", "ns_dedup_simhash",
      "ns_dedup_embedding", "ns_dedup_exact", "ns_join_hash", "ns_join_asof",
      "ns_join_skew_salted", "ns_except", "ns_topk", "ns_window_rank",
      "ns_similarity_knn", "ns_similarity_ivf", "np_grok_access_log",
      "np_geoip_join",
      // r9 text-pipeline additions: all pure codegen by design (slice
      // with a column start, sequence explode, regexp projections)
      "ns_decontaminate", "ns_text_repetition", "ns_text_chunk",
      "ns_text_pack", "ns_text_unigram_logprob", "ns_split_leakage_near",
      // r11: the PQ compressed-domain scan and the Lloyd assignment pass
      "ns_similarity_pq", "ns_similarity_pq_rerank", "ns_similarity_ivfpq",
      "ns_similarity_ivfpq_rerank", "ns_cluster_kmeans", "ns_dedup_semantic",
      // r11 additions whose corpus pass must stay pure codegen: the
      // conditional-moment aggs, the compiled query_string predicate,
      // the geo cell math, the ip parse, and the ahash byte pass
      "ns_agg_filters", "ns_agg_t_test", "ns_agg_geohash_grid",
      "ns_agg_ip_range", "ns_search_query_string", "ns_search_range",
      "ns_search_terms_set", "ns_search_span_first", "ns_multimodal_ahash",
      "ns_agg_auto_date_histogram", "ns_agg_multi_terms",
      // r11 late additions: template mining (RegExpReplace is codegen),
      // the basket flag/cell conditional sums, the ring trig, the
      // prefix key math, the pushdown id fetch, the saturation score,
      // the LE PCM decode pass, and the MRL truncated-dim scan
      "ns_agg_categorize_text", "ns_agg_frequent_item_sets",
      "ns_agg_geo_distance", "ns_agg_ip_prefix", "ns_agg_change_point",
      "ns_search_ids", "ns_search_rank_feature", "ns_search_terms_lookup",
      "ns_multimodal_audio_fp", "ns_similarity_mrl",
      // the chain-step slices, the pinned CASE + tf, and the bounded
      // track aggregate
      "ns_search_intervals", "ns_search_pinned", "ns_agg_geo_line",
      "ns_similarity_knn_filtered",
      // r12: the variable-width bucket lookup, compiled from the
      // ArrayFilter HOF to an unrolled chained CASE over `get`
      "ns_agg_variable_width_histogram",
      // r13: msearch's per-row label array, compiled from the filter()
      // HOF to explode + null-drop (pure codegen + Generate); the
      // point-read fetch; and the dictionary-walk completion suggester
      "ns_search_msearch", "ns_search_mget", "ns_search_completion_suggest")
    hot.foreach { q =>
      val extra = fallbacks(physical(q)) -- allowed.getOrElse(q, Set.empty)
      assert(extra.isEmpty, s"$q has unexpected interpreted fallbacks: $extra")
    }
  }

  test("ns_search_kql: keyword/range conjuncts push to the scan; one codegen filter pass") {
    val p = physical("ns_search_kql")
    val scans = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, s"expected a documents scan in:\n$p")
    // the compiled KQL's sargable conjuncts must reach PushedFilters:
    // lang equality, the n_chars range bound's superset, and the
    // trailing-* wildcard as a StartsWith (LikeSimplification)
    val pushed = scans.flatMap(_.metadata.get("PushedFilters")).mkString
    assert(pushed.contains("EqualTo(lang,en)"),
      s"lang:en must reach PushedFilters, got $pushed\n$p")
    assert(pushed.contains("Not(StringStartsWith(source,src1))"),
      s"not source:src1* must simplify to a pushed Not(StartsWith), got $pushed\n$p")
    // the text-side membership stays a codegen residual — no HOF, no
    // interpreted fallback anywhere in the plan
    assert(fallbacks(p).isEmpty, s"kql filter fell out of codegen: ${fallbacks(p)}\n$p")
  }

  test("ns_esql_functions3: WHERE pushes to the scan; the version cut is TakeOrderedAndProject; all-codegen") {
    val p = physical("ns_esql_functions3")
    // SORT ver, doc_id | LIMIT 40 must stay a bounded top-k, never a
    // global sort — at 100 TB the encoded-keyword cut is the whole win
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"SORT+LIMIT must compile to TakeOrderedAndProject:\n$p")
    val pushed = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.flatMap(_.metadata.get("PushedFilters")).mkString
    assert(pushed.contains("LessThan(doc_id,120)"),
      s"doc_id < 120 must reach the parquet scan, got $pushed\n$p")
    // TO_VERSION's encoding and TO_DATE_NANOS's parse are regexp/concat
    // /cast chains — whole-stage codegen end-to-end, no fallback
    assert(fallbacks(p).isEmpty,
      s"interpreted fallback in the functions3 plan: ${fallbacks(p)}\n$p")
  }

  test("ns_runtime_fields: the message binds to variant ONCE — no per-field re-parse") {
    // The runtime_mappings contract: every derived field is a typed
    // path access against ONE bound VariantType value. A second
    // ParseJson site in the plan means an optimizer rewrite (predicate
    // pushdown through the binding Project, or a collapse that
    // duplicates the parse into grouping AND aggregate expressions
    // without shared-subexpression reach) re-parses the message per
    // field — the exact get_json_object regression the variant
    // machinery exists to prevent.
    // try_parse_json lowers to StaticInvoke(VariantExpressionEvalUtils.
    // parseJson) — match the invoke node itself, not ancestors whose
    // toString merely contains the subtree
    val p = physical("ns_runtime_fields")
    val parses = nodes(p).flatMap(_.expressions)
      .flatMap(_.collect {
        case e if e.getClass.getSimpleName == "StaticInvoke" &&
          e.toString.contains("parseJson") => e
      })
    assert(parses.size == 1,
      s"expected exactly one variant parse site, got ${parses.size}:\n$p")
  }

  test("np_ingest_pipeline: geoip is a broadcast lookup, not a join; nothing shuffles") {
    val p = physical("np_ingest_pipeline")
    assert(nodes(p).exists(_.expressions.exists(_.exists(_.isInstanceOf[graft.expr.GeoLookup]))),
      s"the geoip stage must be the broadcast range lookup:\n$p")
    assert(!nodes(p).exists(n => n.getClass.getSimpleName.contains("Join") ||
        n.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]),
      s"the enrichment chain grew a join or a broadcast exchange:\n$p")
    // the whole chain is one projection pass: the only permitted
    // shuffle is Par.spread's explicit widening
    val required = nodes(p).collect {
      case e: ShuffleExchangeExec
          if e.shuffleOrigin == org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS => e
    }
    assert(required.isEmpty, s"per-document enrichment must not shuffle:\n$p")
  }

  test("ns_dedup_pipeline: no cartesian/BNLJ; verification joins only the candidate set") {
    val p = physical("ns_dedup_pipeline")
    assert(!nodes(p).exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]) &&
      !nodes(p).exists(n => n.getClass.getSimpleName == "CartesianProductExec"),
      s"the dedup pipeline must never go doc×doc:\n$p")
    // candidate generation stays the group-by-bucket shape: the only
    // equi-joins are verification (set fetch by doc id) and propagation
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"a buffering window crept into the dedup pipeline:\n$p")
    // the verified edge set is MATERIALIZED before the K-round
    // propagation loop: without it each round replans the whole
    // normalize→signature→candidate→verify subtree (32 plan copies
    // measured), so the signature expression must not appear in the
    // final plan at all — it lives entirely behind the checkpoint
    assert(sigOccurrences(p) == 0,
      s"the propagation loop is replanning the signature subtree:\n$p")
  }

  test("ns_dedup_incremental: no cartesian/BNLJ/window; candidates stay bucket-generated") {
    val p = physical("ns_dedup_incremental")
    assert(!nodes(p).exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]) &&
      !nodes(p).exists(n => n.getClass.getSimpleName == "CartesianProductExec"),
      s"incremental dedup must never go new×corpus all-pairs:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"a buffering window crept into incremental dedup:\n$p")
    assert(sigOccurrences(p) == 1,
      s"minhash_sigs must evaluate once in the incremental plan:\n$p")
  }

  test("ns_stream_join batch form: equi-join on user_id with a residual range filter, never BNLJ") {
    val p = physical("ns_stream_join")
    assert(nodes(p).exists(n => n.isInstanceOf[ShuffledHashJoinExec] ||
      n.isInstanceOf[SortMergeJoinExec] || n.isInstanceOf[BroadcastHashJoinExec]),
      s"the attribution join must key on user_id:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]) &&
      !nodes(p).exists(n => n.getClass.getSimpleName == "CartesianProductExec"),
      s"the time-range condition must ride the equi-join as a residual, not force BNLJ:\n$p")
  }

  test("ns_decontaminate: broadcast collision probe, shingles computed once per side") {
    val p = physical("ns_decontaminate")
    // the benchmark shingle set broadcasts; the corpus is never
    // shuffled or sort-merged on the shingle key
    assert(nodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"the collision probe must be a broadcast hash join:\n$p")
    assert(!nodes(p).exists(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec]),
      s"the corpus must never shuffle on the shingle key:\n$p")
    // the shingle expression evaluates exactly once per side (bench +
    // training): a size/null filter on the array gets pushed below the
    // Project and recomputes it in the scan's DataFilters (the
    // minhash_sigs pushdown trap)
    val occurrences = p.toString.sliding("word_shingles3".length)
      .count(_ == "word_shingles3")
    assert(occurrences == 2,
      s"shingles must compute once per side, found $occurrences:\n$p")
  }

  test("ns_split_leakage_near reads the persisted label store — no pipeline re-run per query") {
    // the split keys on the near-dup cluster labels; recomputing
    // normalize→LSH→verify→propagate inside every consumer is the
    // 100 TB anti-pattern the artifact discipline exists for — the
    // split plan must contain neither the signature expression nor any
    // corpus scan, only the label-store read
    val p = physical("ns_split_leakage_near")
    assert(sigOccurrences(p) == 0,
      s"the split is re-running the dedup pipeline:\n$p")
    val corpusScans = nodes(p)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .count(_.relation.location.rootPaths.exists(_.toString.endsWith("/documents.parquet")))
    assert(corpusScans == 0,
      s"the split must read the label artifact, not the corpus:\n$p")
  }

  test("ns_dedup_report reads the persisted label store — no pipeline re-run, no corpus scan") {
    val p = physical("ns_dedup_report")
    assert(sigOccurrences(p) == 0,
      s"the report is re-running the dedup pipeline:\n$p")
    val corpusScans = nodes(p)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .count(_.relation.location.rootPaths.exists(_.toString.endsWith("/documents.parquet")))
    assert(corpusScans == 0,
      s"the report must read the label artifact, not the corpus:\n$p")
  }

  test("ns_text_pack: the prefix sum is two-level — no global window over corpus rows") {
    val p = physical("ns_text_pack")
    val windows = nodes(p).collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected window operators in:\n$p")
    // the per-row running sum must be partitioned (block-local state);
    // an UNPARTITIONED window is allowed only above the block-sum
    // aggregation (the tiny dim), never over raw corpus rows — that
    // plan funnels the whole corpus through one task
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(nodes(w).drop(1).exists(_.getClass.getSimpleName.startsWith("HashAggregate")),
        s"an unpartitioned window runs over raw corpus rows:\n$p")
    }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      s"the per-row prefix sum lost its block partitioning:\n$p")
    // block sums derive from the windowed branch, so AQE's runtime
    // stage reuse collapses the two corpus references to one executed
    // scan+shuffle (static plans always show the duplicated subtree;
    // the ReusedExchange marker only exists in the final adaptive plan)
    val deep = executedDeepNodes("ns_text_pack")
    assert(deep.exists(_.getClass.getSimpleName == "ReusedExchangeExec"),
      "the block-sum branch must reuse the windowed branch's shuffle, not re-scan the corpus")
  }

  test("ns_text_unigram_logprob scans documents ONCE; the vocabulary is a persisted artifact") {
    // the inline formulation re-derived the frequency table per run:
    // the token explode fed both the vocab aggregation and the scoring
    // join, and Catalyst replanned the documents scan once per
    // reference — two corpus scans per score. With the vocabulary as a
    // build-once artifact, the probe side is the ONLY documents scan;
    // the other file scans in the plan must all read the artifact.
    val p = physical("ns_text_unigram_logprob")
    val docScans = nodes(p)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      // suffix match: the artifact's file-identity KEY contains the
      // sanitized source file name, so a substring test would count the
      // vocabulary scans as corpus scans
      .count(_.relation.location.rootPaths.exists(_.toString.endsWith("/documents.parquet")))
    assert(docScans == 1,
      s"the scoring plan must scan documents exactly once, found $docScans:\n$p")
    // and the bigram scorer holds the same discipline with BOTH its
    // count tables persisted
    val p2 = physical("ns_text_bigram_logprob")
    val docScans2 = nodes(p2)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .count(_.relation.location.rootPaths.exists(_.toString.endsWith("/documents.parquet")))
    assert(docScans2 == 1,
      s"the bigram scoring plan must scan documents exactly once, found $docScans2:\n$p2")
    // DSIR holds it too: both LM count tables are artifacts, the probe
    // explode is the only corpus scan, and selection is a top-k heap
    val p3 = physical("ns_sample_dsir")
    val docScans3 = nodes(p3)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .count(_.relation.location.rootPaths.exists(_.toString.endsWith("/documents.parquet")))
    assert(docScans3 == 1,
      s"the DSIR scoring plan must scan documents exactly once, found $docScans3:\n$p3")
    assert(nodes(p3).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"DSIR selection must stay a top-k heap:\n$p3")
  }

  test("mixture and temperature sampling: one corpus scan probed against a broadcast rate dim") {
    for (name <- Seq("ns_sample_mixture", "ns_sample_temperature")) {
      val p = physical(name)
      assert(nodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$name: the rate dim must broadcast, not shuffle the corpus:\n$p")
      val corpusScans = nodes(p)
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .count(_.relation.location.rootPaths.exists(_.toString.endsWith("/documents.parquet")))
      assert(corpusScans == 1,
        s"$name must scan documents exactly once (rates come from the artifact), found $corpusScans:\n$p")
    }
  }

  test("ns_shard_order: within-shard ordering only — never a global sort") {
    val p = physical("ns_shard_order")
    val windows = nodes(p).collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected a window operator in:\n$p")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"the shard ordering lost its shard partitioning (global single-task sort):\n$p")
    val single = nodes(p).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.numPartitions == 1 => e
    }
    assert(single.isEmpty, s"shard ordering funnels the corpus through one partition:\n$p")
  }

  test("search-family corpus scans are column-pruned — text ops never read lang/n_chars") {
    // at 100 TB the difference between scanning (doc_id, text) and the
    // full 5-column documents row is the scan; lock pruning for every
    // text/search op added in r9
    for (q <- Seq("ns_dedup_substring", "ns_text_bm25", "ns_significant_terms",
                  "ns_text_fuzzy", "ns_text_phrase", "ns_search_percolate",
                  "ns_text_collocations", "ns_search_multi_match",
                  "ns_search_mlt", "ns_search_match_phrase_prefix",
                  "ns_search_span_near")) {
      val p = physical(q)
      val docScans = nodes(p).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.getName == "documents.parquet") => f
      }
      assert(docScans.nonEmpty, s"$q: expected a documents scan in:\n$p")
      docScans.foreach { f =>
        val cols = f.requiredSchema.fieldNames.toSet
        assert(!cols.contains("n_chars") && !cols.contains("lang"),
          s"$q reads unused columns ${cols.mkString(",")} — pruning regressed:\n$p")
      }
      // and tokenization must never re-run inside a Filter or scan
      // pushdown: a bare explode(t) lets Catalyst infer
      // size(split(...))>0 / isnotnull(split(...)) and push them into
      // the scan (the bandSignatures trap) — every op here carries the
      // when(size>=k) guard precisely to keep split out of filters
      val filterConds = nodes(p).collect {
        case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.dataFilters.map(_.toString).mkString(";")
      }
      assert(!filterConds.exists(_.contains("split(")),
        s"$q re-tokenizes documents inside a Filter/pushdown:\n$p")
    }
  }

  test("ns_significant_terms executes ONE corpus pass; ns_text_fuzzy's DP stays vocab-side") {
    // all four significant_terms branches derive from the same filtered
    // fg subtree, so runtime reuse must collapse them to one scan — an
    // asymmetric inferred constraint (isnotnull on one branch only)
    // broke this before by making the subtrees canonically different
    val deep = executedDeepNodes("ns_significant_terms")
    val scans = deep.count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans == 1, s"significant_terms ran $scans corpus scans, expected 1")
    // fuzzy: the levenshtein DP runs during the vocabulary
    // materialization (localCheckpoint), so the main query plan must
    // contain NO levenshtein at all — its presence means constraint
    // propagation pushed the DP onto the corpus token stream
    val p = physical("ns_text_fuzzy")
    val occurrences = p.toString.sliding("levenshtein".length).count(_ == "levenshtein")
    assert(occurrences == 0,
      s"the edit-distance DP leaked into the corpus-side plan:\n$p")
  }

  test("ns_text_collocations: runtime reuse bounds the corpus passes — never five") {
    // the static plan references the scan five times (uni → n1 + two
    // margin dims, big → n2 + main); at runtime AQE must collapse those
    // to at most the two passes the algorithm inherently needs (one
    // unigram explode, one bigram explode — and with clean branches
    // they share the scan-widening exchange, so one scan suffices)
    val deep = executedDeepNodes("ns_text_collocations")
    val scans = deep.count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    // with the explode guards keeping inferred filters out of every
    // branch, the unigram and bigram passes share the scan-widening
    // exchange too — ONE executed corpus scan feeds both explodes
    assert(scans <= 2, s"collocations ran $scans corpus scans, expected ≤ 2")
    assert(deep.exists(_.getClass.getSimpleName == "ReusedExchangeExec"),
      "the margin/total branches must reuse the count shuffles, not re-scan")
  }

  test("ns_search_after: the keyset bound pushes to the scan; the page is a top-k heap") {
    val p = physical("ns_search_after")
    val scans = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.exists(_.metadata.get("PushedFilters").exists(_.contains("GreaterThanOrEqual(ts"))),
      s"the raw ts bound must reach the parquet scan's PushedFilters:\n$p")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the page must be a bounded top-k heap, not a global sort + limit:\n$p")
  }

  test("ns_sample_domain_cap: per-source cap is the bounded partial aggregate, not a window") {
    val p = physical("ns_sample_domain_cap")
    // a boilerplate domain with 10^9 pages must ship `cap` rows per map
    // task, never sort its full page list under a window
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"the domain cap regressed to a window/rank selection:\n$p")
    assert(p.toString.contains("partial_topkbyscore"),
      s"the domain cap lost the partial-aggregating bounded top-k:\n$p")
  }

  test("ns_search_collapse: per-field best is the bounded aggregate; page is a top-k heap") {
    val p = physical("ns_search_collapse")
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"field collapsing regressed to a window/rank selection:\n$p")
    assert(p.toString.contains("partial_topkbyscore"),
      s"field collapsing lost the partial-aggregating bounded top-k:\n$p")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the collapsed page must be a bounded top-k heap, not a global sort:\n$p")
  }

  test("ns_search_rank_eval: ranked lists via the bounded aggregate; windows only on the judged set") {
    val p = physical("ns_search_rank_eval")
    assert(p.toString.contains("partial_topkbyscore"),
      s"the ranked result lists lost the partial-aggregating bounded top-k:\n$p")
    // the only window is the ideal-DCG ordering over the judged set
    // (term-partitioned, bounded by the judgment table at any corpus
    // size) — never over the raw token stream
    nodes(p).collect { case w: WindowExec => w }.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"an unpartitioned window crept into rank_eval:\n$p")
      // the window's OWN spec orders by rating — it is the ideal-DCG
      // ranking of the judged set, not a token-stream sort (and Spark
      // caps it with WindowGroupLimit at k before the shuffle)
      assert(w.orderSpec.toString.contains("rating"),
        s"an unexpected window ordering in rank_eval:\n$w")
    }
    assert(!nodes(p).exists(n => n.getClass.getSimpleName == "CartesianProductExec"),
      s"rank_eval must never go cartesian:\n$p")
  }

  test("ns_search_top_hits: per-bucket hits come from the bounded aggregate, not a window") {
    val p = physical("ns_search_top_hits")
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"top_hits regressed to a window/rank selection:\n$p")
    assert(p.toString.contains("partial_topkbyscore"),
      s"top_hits lost the partial-aggregating bounded top-k:\n$p")
  }

  test("ns_agg_composite: the after-key prunes the scan; the bucket page is a top-k heap") {
    val p = physical("ns_agg_composite")
    val scans = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // the after-key's raw-column superset bound must reach the scan —
    // rows of already-served buckets are never read, the property that
    // makes composite pagination viable over a 100 TB index
    assert(scans.exists(_.metadata.get("PushedFilters").exists(_.contains("GreaterThanOrEqual(event_type"))),
      s"the after-key bound must reach the parquet scan's PushedFilters:\n$p")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the bucket page must be a bounded top-k heap, not a global sort + limit:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"composite pagination must not buffer buckets through a window:\n$p")
  }

  test("ns_search_percolate: the corpus token stream never shuffles pre-join") {
    // the query-table broadcast join must sit BELOW every
    // distribution-driven exchange — a pre-join distinct would shuffle
    // the whole corpus token stream to dedup tokens no registered
    // query mentions. (Par.spread's REPARTITION_BY_NUM scan widening
    // is exempt: it moves one slim row per DOCUMENT pre-explode, by
    // design. In the ideal plan it is also the ONLY exchange: its
    // doc_id partitioning already satisfies every downstream grouping,
    // so the dedup and conjunction aggregates run shuffle-free.)
    val p = physical("ns_search_percolate")
    nodes(p).collect { case e: ShuffleExchangeExec => e }
      .filterNot(_.shuffleOrigin == org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM)
      .foreach { e =>
        assert(nodes(e).exists(_.isInstanceOf[BroadcastHashJoinExec]),
          s"a shuffle runs on the raw token stream, before the query join:\n$p")
      }
    assert(nodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"the query table must broadcast-join the token stream:\n$p")
  }

  test("ns_significant_terms: background stats reuse the foreground shuffle at runtime") {
    // bg / per-source totals / corpus total are all re-aggregations of
    // the (source, tok) foreground table — the corpus token pass must
    // execute once, with AQE collapsing the duplicated subtrees
    val deep = executedDeepNodes("ns_significant_terms")
    assert(deep.exists(_.getClass.getSimpleName == "ReusedExchangeExec"),
      "background statistics must reuse the foreground shuffle, not re-scan the corpus")
  }

  test("ns_text_bm25: top-k is TakeOrderedAndProject; df dim and stats broadcast") {
    val p = physical("ns_text_bm25")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the retrieval cutoff must be a top-k heap, not a global sort:\n$p")
    val bhj = nodes(p).collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty,
      s"the document-frequency dim must broadcast to the posting stream:\n$p")
  }

  test("ns_search_multi_match: one tokenize serves both fields; dims broadcast; top-k is a heap") {
    val p = physical("ns_search_multi_match")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the retrieval cutoff must be a top-k heap, not a global sort:\n$p")
    // the per-(field,term) df dim AND the per-field stats dim both ride
    // broadcast joins onto the posting stream — neither shuffles it
    val bhj = nodes(p).collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 2,
      s"df and per-field stats dims must broadcast (got ${bhj.size} broadcast joins):\n$p")
    // scoring F fields must cost ONE token stream, not F: the stats
    // branch and the tf branch may each scan, but nothing scans per
    // field — at runtime the corpus is read at most twice
    val deep = executedDeepNodes("ns_search_multi_match")
    val scans = deep.count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans <= 2, s"multi_match ran $scans corpus scans — per-field rescan crept in")
  }

  test("ns_search_nested: nested-path access collapses to source columns — no struct materialized") {
    val p = physical("ns_search_nested")
    // SimplifyExtractValueOps must fold doc.records.data.* straight to
    // the underlying expressions: the 3-level struct the query addresses
    // never appears in the physical plan
    assert(!p.toString.contains("named_struct"),
      s"the nested document struct materialized before the aggregate:\n$p")
    // and the scan reads exactly the two leaf columns the paths resolve to
    val scans = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, s"expected an events scan in:\n$p")
    scans.foreach { f =>
      val cols = f.requiredSchema.fieldNames.toSet
      assert(cols.subsetOf(Set("event_type", "user_id")),
        s"nested search reads ${cols.mkString(",")} — extraction-over-construction regressed:\n$p")
    }
  }

  test("ns_search_mlt: df is an artifact, the seed scan is doc-pruned, postings-only tf") {
    val p = physical("ns_search_mlt")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the retrieval cutoff must be a top-k heap, not a global sort:\n$p")
    // the seed document's tokenize must read ONE document: the doc_id
    // equality reaches the parquet scan's PushedFilters
    val scans = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.getName == "documents.parquet") => f
    }
    assert(scans.exists(_.metadata.get("PushedFilters").exists(_.contains("EqualTo(doc_id"))),
      s"the seed doc_id bound must reach a documents scan's PushedFilters:\n$p")
    // no query-time full-vocabulary aggregation: every distinct/groupBy
    // over the token stream sits ABOVE the broadcast seed semi-join, so
    // the df numbers come from the persisted term_df artifact — the
    // plan must read it (a non-documents file scan)
    val artifactScans = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if !f.relation.location.rootPaths.exists(_.getName == "documents.parquet") => f
    }
    assert(artifactScans.nonEmpty,
      s"the df dim must come from the persisted term_df artifact, not a corpus aggregation:\n$p")
  }

  test("ns_search_function_score: factor lookup is a pruned 2-column scan; top-k is a heap") {
    val p = physical("ns_search_function_score")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the boosted cutoff must be a top-k heap, not a global sort:\n$p")
    // the field_value_factor side is ES's doc-values lookup: it may
    // scan documents again but must read ONLY (doc_id, n_chars)
    val factorScans = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.requiredSchema.fieldNames.contains("n_chars") => f
    }
    assert(factorScans.nonEmpty, s"expected the n_chars factor scan in:\n$p")
    factorScans.foreach { f =>
      val cols = f.requiredSchema.fieldNames.toSet
      assert(cols.subsetOf(Set("doc_id", "n_chars")),
        s"factor scan reads ${cols.mkString(",")} — pruning regressed:\n$p")
    }
  }

  test("simple-agg DSL family: no window, no join explosion, one agg shuffle") {
    // these aggs are each ONE codegen pass + a bucket-bounded exchange;
    // lock that a refactor never sneaks a per-bucket window sort or a
    // filter-stream self-join into them
    for (qn <- Seq("ns_agg_range", "ns_agg_histogram", "ns_agg_adjacency_matrix",
                   "ns_agg_extended_stats", "ns_agg_matrix_stats",
                   "ns_agg_weighted_avg",
                   "ns_agg_top_metrics", "ns_agg_percentile_ranks")) {
      val p = physical(qn)
      assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
        s"$qn plans a window over event rows:\n$p")
      assert(!nodes(p).exists(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
          n.getClass.getSimpleName == "CartesianProductExec"),
        s"$qn plans a join explosion:\n$p")
      val shuffles = nodes(p).count(_.isInstanceOf[ShuffleExchangeExec])
      assert(shuffles <= 2,
        s"$qn has $shuffles shuffles — expected just the aggregate exchange:\n$p")
    }
  }

  test("ns_search_suggest: the term dictionary walk never scans the corpus at query time") {
    // the suggester reads the persisted unigram artifact (the Lucene
    // FST-walk analogue); a documents scan in its plan means the
    // vocabulary is being re-aggregated per suggestion request
    val p = physical("ns_search_suggest")
    val docScans = nodes(p)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .count(_.relation.location.rootPaths.exists(_.toString.endsWith("/documents.parquet")))
    assert(docScans == 0,
      s"suggest must walk the persisted vocabulary only, found $docScans corpus scans:\n$p")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the suggestion cutoff must be a top-k heap:\n$p")
  }

  test("ns_esql_grok / ns_esql_dissect: the extraction pattern evaluates ONCE per row") {
    // without the Generate barrier, predicate pushdown inlines the
    // regex into every referencing predicate/branch (6 copies, ~5×
    // runtime) — the plan must carry exactly one extraction
    for ((name, exprName) <- Seq("ns_esql_grok" -> "regexp_extract_struct",
        "ns_esql_dissect" -> "dissect_extract")) {
      val p = physical(name)
      val n = exprName.r.findAllIn(p.toString).size
      assert(n == 1, s"$name must evaluate its pattern once, found $n copies:\n$p")
    }
  }

  test("ns_search_phrase_suggest: candidates and rescoring read artifacts only") {
    val p = physical("ns_search_phrase_suggest")
    val docScans = nodes(p)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .count(_.relation.location.rootPaths.exists(_.toString.endsWith("/documents.parquet")))
    assert(docScans == 0,
      s"phrase suggest must read the unigram/bigram artifacts only, found $docScans corpus scans:\n$p")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the suggestion cutoff must be a top-k heap:\n$p")
  }

  test("ns_search_explain: a point lookup — one-doc scan with pushed id, artifacts for stats") {
    val p = physical("ns_search_explain")
    val scans = nodes(p).collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    val docScans = scans.filter(_.relation.location.rootPaths.exists(
      _.toString.endsWith("/documents.parquet")))
    assert(docScans.size == 1,
      s"explain must touch the corpus exactly once (the requested doc):\n$p")
    assert(docScans.head.metadata.get("PushedFilters").exists(_.contains("EqualTo(doc_id")),
      s"the requested doc id must push to the scan:\n${docScans.head.metadata}")
  }

  test("ns_search_prefix: StringStartsWith pushes to the scan; only (doc_id, source) read") {
    val p = physical("ns_search_prefix")
    val scans = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, s"expected a documents scan in:\n$p")
    // prefix is a range predicate — it must reach PushedFilters so
    // row-group stats can skip, unlike wildcard/regexp which can't push
    assert(scans.exists(_.metadata.get("PushedFilters")
        .exists(_.contains("StringStartsWith(source"))),
      s"the prefix must reach the parquet scan's PushedFilters:\n$p")
    scans.foreach { f =>
      val cols = f.requiredSchema.fieldNames.toSet
      assert(cols.subsetOf(Set("doc_id", "source")),
        s"prefix query reads ${cols.mkString(",")} — pruning regressed:\n$p")
    }
  }

  test("ns_dedup_substring: codegen'd span formation, span-stream shuffle shared via reuse") {
    val p = physical("ns_dedup_substring")
    // the explode(sequence)+slice formulation exists precisely because
    // the transform() HOF is CodegenFallback — lock the whole pipeline
    // in codegen
    assert(fallbacks(p).isEmpty,
      s"span formation fell out of codegen: ${fallbacks(p)}\n$p")
    // tokenization and the span hash must evaluate ONCE per row: a
    // pushed-down size filter re-splits every document in the scan's
    // DataFilters, and an inferred isnotnull(g) re-hashes every span
    // in a Filter (the bandSignatures trap) — the null-sequence guard
    // and the coalesce exist to keep both expressions out of every
    // Filter and scan-pushdown in the plan (the static plan duplicates
    // the whole span subtree per consumer branch; that duplication is
    // what the runtime reuse assertion below covers)
    val filterConds = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.dataFilters.map(_.toString).mkString(";")
    }
    assert(!filterConds.exists(c => c.contains("split(") || c.contains("md5(")),
      s"tokenize/hash re-evaluated inside a Filter or scan pushdown:\n$p")
    // the hashed (doc_id, g) stream feeds BOTH the df count and the
    // join probe; the identical distinct subtrees must collapse to one
    // executed scan+shuffle at runtime, not re-derive spans per branch
    val deep = executedDeepNodes("ns_dedup_substring")
    assert(deep.exists(_.getClass.getSimpleName == "ReusedExchangeExec"),
      "the df-count branch must reuse the span stream's shuffle, not re-scan the corpus")
  }

  test("ns_filter_funnel: one codegen pass over the corpus, one agg shuffle") {
    val p = physical("ns_filter_funnel")
    val scans = nodes(p).count(_.getClass.getSimpleName == "FileSourceScanExec")
    assert(scans == 1, s"the funnel must be a single corpus scan, found $scans:\n$p")
    val shuffles = nodes(p).collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1,
      s"the funnel should shuffle only the tiny (source, verdict) counts:\n$p")
    assert(fallbacks(p).isEmpty,
      s"funnel expressions fell out of codegen: ${fallbacks(p)}\n$p")
  }

  test("ns_select_budget: quality-rank prefix sum is two-level — no global window over corpus rows") {
    val p = physical("ns_select_budget")
    val windows = nodes(p).collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected window operators in:\n$p")
    // the unpartitioned cumulative window may only run above the
    // per-bucket aggregation (the ≤1001-row histogram dim), never over
    // raw corpus rows
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(nodes(w).drop(1).exists(_.getClass.getSimpleName.startsWith("HashAggregate")),
        s"an unpartitioned window runs over raw corpus rows:\n$p")
    }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      s"the within-bucket prefix sum lost its bucket partitioning:\n$p")
    val deep = executedDeepNodes("ns_select_budget")
    assert(deep.exists(_.getClass.getSimpleName == "ReusedExchangeExec"),
      "the bucket-sum branch must reuse the windowed branch's shuffle, not re-scan the corpus")
  }

  test("ns_search_wildcard: the derived literal prefix pushes down; the LIKE stays residual") {
    // the wildcard match itself can never reach the scan — the
    // discipline under test is that the pattern's literal PREFIX does
    // (StringStartsWith → row-group skipping), with the full LIKE
    // evaluated only over prefix-surviving rows; and the scan reads
    // only the two needed columns
    val p = physical("ns_search_wildcard")
    val scans = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.exists(_.metadata.get("PushedFilters")
        .exists(_.contains("StringStartsWith(source"))),
      s"the wildcard's literal prefix must reach PushedFilters:\n$p")
    scans.foreach { f =>
      val cols = f.requiredSchema.fieldNames.toSet
      assert(cols.subsetOf(Set("doc_id", "source")),
        s"wildcard query reads ${cols.mkString(",")} — pruning regressed:\n$p")
    }
    // regexp: same pruning; nothing of the pattern can push — the scan
    // must carry NO source predicate beyond isnotnull (the honest
    // no-pushdown contrast this family documents)
    val pr = physical("ns_search_regexp")
    val rscans = nodes(pr).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    rscans.foreach { f =>
      val cols = f.requiredSchema.fieldNames.toSet
      assert(cols.subsetOf(Set("doc_id", "source")),
        s"regexp query reads ${cols.mkString(",")} — pruning regressed:\n$pr")
    }
  }

  test("ns_similarity_ivfpq: DPP prunes the code scan; ADC ranked by the bounded aggregate") {
    val p = physical("ns_similarity_ivfpq")
    // the persisted code index is label-partitioned; the probe join must
    // prune the scan to the probed cells' directories at runtime —
    // without it the composition degenerates to raw PQ's full code scan
    assert(p.toString.contains("dynamicpruning"),
      s"the ivfpq code scan lost dynamic partition pruning:\n$p")
    assert(p.toString.contains("partial_topkbyscore"),
      "ivfpq lost the partial-aggregating bounded top-k")
    // the one permitted window ranks the broadcast q×centroid probe
    // frame — never the ADC scores of the code stream
    nodes(p).collect { case w: WindowExec => w }.foreach { w =>
      assert(!w.toString.contains("pq_adc"),
        s"a Window ranks the ADC scores in ivfpq:\n$p")
    }
    // and the compressed-domain scan reads CODES, not vectors: no
    // embedding column anywhere on the probed-scan side
    val codeScans = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("ivfpq_codes")) => f
    }
    assert(codeScans.nonEmpty, s"expected the persisted code-index scan in:\n$p")
    codeScans.foreach { f =>
      assert(!f.requiredSchema.fieldNames.contains("embedding"),
        s"the ADC pass reads raw vectors — the compressed domain is lost:\n$p")
    }
  }

  test("ns_geo_bounding_box: the box prunes the DIMENSION below its broadcast; no shuffled join") {
    val p = physical("ns_geo_bounding_box")
    // the viewport predicate must filter the geo dim BEFORE it explodes
    // and broadcasts — at scale that is the difference between
    // broadcasting the viewport's ranges and broadcasting 3M of them
    val bcasts = nodes(p).collect {
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e
    }
    assert(bcasts.nonEmpty, s"expected the broadcast dim in:\n$p")
    // Catalyst substitutes geo_lat/geo_lon through the dim projection,
    // so the pruning filter appears in terms of the box CONSTANTS (and
    // even reaches the nation scan's DataFilters) — match on those
    assert(bcasts.exists(b => nodes(b).exists {
      case f: org.apache.spark.sql.execution.FilterExec =>
        // the r20 box: top 45 / left −150 (widened so the key is live
        // at every shipped SF — the gate-liveness audit)
        f.condition.toString.contains("45.0") && f.condition.toString.contains("-150.0")
      case _ => false
    }), s"the box predicate must prune the dim below its broadcast:\n$p")
    assert(!nodes(p).exists(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec]),
      s"the geo attach must stay a broadcast join:\n$p")
    // geotile: one codegen pass + the |tiles|-bounded agg exchange
    val pt = physical("ns_agg_geotile_grid")
    assert(!nodes(pt).exists(_.isInstanceOf[WindowExec]),
      s"geotile_grid plans a window over event rows:\n$pt")
    assert(!nodes(pt).exists(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec]),
      s"geotile_grid must not shuffle the fact stream into its join:\n$pt")
  }

  test("PQ encode and ADC scoring run inside whole-stage codegen — never interpreted") {
    // the compressed-domain scan IS the 100 TB product: both the corpus
    // encode (PqEncode) and the per-row ADC sum (PqAdc) must sit inside
    // a WholeStageCodegen span, not in an interpreted project — the HOF
    // formulation they replaced ran both stages CodegenFallback
    // codegen collapse happens per query stage at RUNTIME under AQE, so
    // the assertion must read the executed adaptive plan, not the
    // pre-execution initial plan (which never carries codegen spans)
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val spans = executedDeepNodes("ns_similarity_pq")
      .collect { case w: WholeStageCodegenExec => w }
    assert(spans.exists(_.toString.contains("pq_adc")),
      "the ADC scoring stage left whole-stage codegen")
    assert(spans.exists(_.toString.contains("pq_encode")),
      "the corpus encode stage left whole-stage codegen")
    // and the rerank's exact re-score stays native too
    val rspans = executedDeepNodes("ns_similarity_pq_rerank")
      .collect { case w: WholeStageCodegenExec => w }
    assert(rspans.exists(_.toString.contains("vec_l2_long")),
      "the rerank exact-L2 stage left whole-stage codegen")
  }

  test("ns_cluster_kmeans: assignment is a broadcast map pass — no corpus join, no argmin window") {
    val p = physical("ns_cluster_kmeans")
    // the k-row centroid array broadcasts onto the corpus; assignment
    // must never become a shuffled corpus⋈centroid join or a
    // per-vector row_number window over k exploded distance rows
    assert(nodes(p).exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"expected the broadcast single-row centroid-array join in:\n$p")
    assert(!nodes(p).exists(n => n.isInstanceOf[ShuffledHashJoinExec] ||
      n.isInstanceOf[SortMergeJoinExec]),
      s"centroid assignment regressed to a shuffled join:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"the argmin regressed to a buffering window:\n$p")
  }

  test("ns_dedup_semantic: within-cluster pairs stay capped in the aggregate, no pair window") {
    val p = physical("ns_dedup_semantic")
    // (the final corpus←dups attach may legitimately sort-merge — the
    // dups side scales with the corpus; only pair GENERATION is locked)
    assert(p.toString.contains("bounded_bucket"),
      s"the cluster cap must run inside map-side partial aggregation:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"the cluster cap regressed to a buffering window:\n$p")
  }

  test("ns_agg_sampler: the sample cutoff stays TakeOrderedAndProject") {
    val p = physical("ns_agg_sampler")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"expected TakeOrderedAndProject in:\n$p")
  }

  test("ns_agg_diversified_sampler: per-key cutoff is the bounded aggregate — no window") {
    val p = physical("ns_agg_diversified_sampler")
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"the per-key sample cutoff regressed to a row_number window:\n$p")
  }

  test("ns_agg_filters and ns_agg_t_test: all conditional moments ride ONE events scan") {
    for (name <- Seq("ns_agg_filters", "ns_agg_t_test")) {
      val p = physical(name)
      val eventScans = nodes(p)
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .count(_.relation.location.rootPaths.exists(_.toString.endsWith("/events.parquet")))
      assert(eventScans == 1,
        s"$name must conditional-sum every bucket in one pass, saw $eventScans scans:\n$p")
    }
  }

  test("ns_agg_auto_date_histogram: bucket count is bounded by the target at any SF") {
    val rows = SparkEntry.queries("ns_agg_auto_date_histogram")(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 40,
      s"auto_date_histogram must emit <= target buckets, got ${rows.length}")
    // one interval chosen for the whole axis
    assert(rows.map(_.getAs[Long]("iv_ms")).distinct.length == 1)
  }

  test("pipeline aggs: bucket_sort page is a top-k heap; bucket_script is one pass") {
    val sortP = physical("ns_agg_bucket_sort")
    assert(nodes(sortP).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"bucket page must stay TakeOrderedAndProject:\n$sortP")
    val scriptP = physical("ns_agg_bucket_script")
    val eventScans = nodes(scriptP)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .count(_.relation.location.rootPaths.exists(_.toString.endsWith("/events.parquet")))
    assert(eventScans == 1,
      s"bucket_script sibling metrics must ride one scan, saw $eventScans:\n$scriptP")
  }

  test("ns_agg_cumulative_cardinality: no count-distinct window — first-seen shape") {
    // the expanding window runs over the |days|-bounded first-seen table,
    // and no distinct aggregation sits inside any window frame
    val p = physical("ns_agg_cumulative_cardinality")
    val winExprs = nodes(p).collect { case w: WindowExec => w }
      .flatMap(_.windowExpression.map(_.sql.toLowerCase))
    assert(winExprs.nonEmpty && !winExprs.exists(_.contains("distinct")),
      s"cumulative cardinality must never count-distinct inside a window:\n$p")
  }

  test("ns_search_range: both bounds and the keyword term reach PushedFilters") {
    val p = physical("ns_search_range")
    val scan = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(value") && pushed.contains("LessThan(value") &&
      pushed.contains("EqualTo(event_type"),
      s"range-query predicates must push to the scan, got: $pushed")
  }

  test("ns_search_significant_text: fg and bg counts ride ONE corpus pass") {
    val p = physical("ns_search_significant_text")
    val docScans = nodes(p)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .count(_.relation.location.rootPaths.exists(_.toString.endsWith("/documents.parquet")))
    // one scan for the term counts + one for the 1-row totals dim — never
    // a separate foreground pass
    assert(docScans <= 2,
      s"significant_text must not run a separate foreground scan, saw $docScans:\n$p")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"significant_text top-k must stay a heap:\n$p")
  }

  test("dis_max and boosting cutoffs stay TakeOrderedAndProject") {
    for (name <- Seq("ns_search_dis_max", "ns_search_boosting")) {
      val p = physical(name)
      assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
        s"$name page must stay TakeOrderedAndProject:\n$p")
    }
  }

  test("ns_agg_variable_width_histogram: the gap window runs over the DISTINCT table") {
    val p = physical("ns_agg_variable_width_histogram")
    // every window sits above an aggregate (the distinct), never raw rows
    val wins = nodes(p).collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.find {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
        case _ => false
      }.isDefined, s"gap window must read the distinct-value table, not the corpus:\n$p")
    }
  }

  test("ns_multimodal_ahash: totals re-aggregate the chunk table — corpus scanned once at runtime") {
    val deep = executedDeepNodes("ns_multimodal_ahash")
    val docScans = deep.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.count(_.relation.location.rootPaths.exists(_.toString.endsWith("/documents.parquet")))
    val reused = deep.exists {
      case _: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec => true
      case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => true
      case _ => false
    }
    assert(docScans <= 2 && (docScans == 1 || reused),
      s"ahash chunk table must be computed once (scans=$docScans, reuse=$reused)")
  }

  test("ns_search_ids: the id list reaches PushedFilters as an In predicate") {
    val p = physical("ns_search_ids")
    val scan = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("In(doc_id"),
      s"the ids query must be pure pushdown, got: $pushed")
  }

  test("ns_search_parent_id: the literal parent reaches PushedFilters; no join remains") {
    val p = physical("ns_search_parent_id")
    val scan = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("EqualTo(l_orderkey"),
      s"parent_id must be pure equality pushdown, got: $pushed")
    assert(!nodes(p).exists(n => n.isInstanceOf[BroadcastHashJoinExec] ||
      n.isInstanceOf[SortMergeJoinExec] || n.isInstanceOf[ShuffledHashJoinExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"parent_id is has_parent with a literal — no join may remain:\n$p")
  }

  test("ns_search_term_terms: the term and terms legs push their predicates to the scan") {
    val p = physical("ns_search_term_terms")
    val pushed = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.flatMap(_.metadata.get("PushedFilters")).mkString
    assert(pushed.contains("EqualTo(event_type,purchase)"),
      s"the term leg must push its equality, got: $pushed")
    assert(pushed.contains("In(event_type"),
      s"the terms leg must push its In list, got: $pushed")
  }

  test("ns_search_terms_lookup: the lookup set broadcasts as a LEFT SEMI probe") {
    val p = physical("ns_search_terms_lookup")
    assert(nodes(p).exists {
      case b: BroadcastHashJoinExec =>
        b.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi
      case _ => false
    }, s"terms lookup must be a broadcast left-semi join:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[SortMergeJoinExec]) &&
      !nodes(p).exists(_.isInstanceOf[ShuffledHashJoinExec]),
      s"the fact side must stream probe-only, never shuffle for the join:\n$p")
  }

  test("ns_agg_frequent_item_sets: flag vectors and pair cells ride ONE events scan") {
    val p = physical("ns_agg_frequent_item_sets")
    val eventScans = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.count(_.relation.location.rootPaths.exists(_.toString.endsWith("/events.parquet")))
    assert(eventScans == 1,
      s"frequent_item_sets must mine pairs from one pass, saw $eventScans scans:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[SortMergeJoinExec]) &&
      !nodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]) &&
      !nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"co-occurrence must be conditional sums — no self-join, no window:\n$p")
  }

  test("ns_agg_change_point: prefix sums and totals share one window over the bucket table") {
    val p = physical("ns_agg_change_point")
    val eventScans = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.count(_.relation.location.rootPaths.exists(_.toString.endsWith("/events.parquet")))
    assert(eventScans == 1,
      s"change_point totals must come from the bucket-table window, not a second corpus pass:\n$p")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the argmax must stay a top-1 heap, not a global sort:\n$p")
  }

  test("ns_similarity_knn_filtered: the metadata pre-filter reaches the corpus scan") {
    val p = physical("ns_similarity_knn_filtered")
    val corpusScan = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.find(_.metadata("PushedFilters").contains("LessThan(label"))
    assert(corpusScan.isDefined,
      s"the kNN filter must prune row groups BEFORE any vector math:\n$p")
  }

  test("ns_agg_geo_line: the track is the bounded aggregate; the fetch joins broadcast — no window") {
    val p = physical("ns_agg_geo_line")
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"geo_line must never rank bucket rows through a window:\n$p")
    assert(nodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"the selected-id fetch must be a broadcast join:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[SortMergeJoinExec]),
      s"the enriched stream must never shuffle for the fetch:\n$p")
  }

  test("ns_search_pinned and ns_search_intervals cutoffs/aggregates stay bounded") {
    val pinned = physical("ns_search_pinned")
    assert(nodes(pinned).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the pinned page must stay a top-k heap:\n$pinned")
    val iv = physical("ns_search_intervals")
    val docScans = nodes(iv).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.count(_.relation.location.rootPaths.exists(_.toString.endsWith("/documents.parquet")))
    assert(docScans == 1,
      s"intervals must chain positions over one corpus pass, saw $docScans:\n$iv")
  }

  test("parent/child joins pre-aggregate the child side below the join") {
    // has_child: the child count must collapse per parent key BEFORE the
    // join (one row per qualifying parent crosses the shuffle, not one
    // per child) — the aggregate lives in the join's subtree.
    for (name <- Seq("ns_search_has_child", "ns_agg_children")) {
      val p = physical(name)
      val join = nodes(p).collectFirst {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j
        case j: BroadcastHashJoinExec => j
      }
      assert(join.isDefined, s"$name lost its equi-join:\n$p")
      assert(!nodes(p).exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
        s"$name must never BNLJ:\n$p")
      assert(nodes(join.get).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
        s"$name's child side no longer pre-aggregates below the join:\n$p")
    }
  }

  test("ns_geo_polygon prunes the dimension and stays a broadcast hash join") {
    val p = physical("ns_geo_polygon")
    assert(nodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"expected the bucketed broadcast hash join in:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]) &&
      !nodes(p).exists(_.isInstanceOf[SortMergeJoinExec]),
      s"polygon join degraded from the bucketed BHJ:\n$p")
    val join = nodes(p).collectFirst { case j: BroadcastHashJoinExec => j }.get
    val required = nodes(join).collect {
      case e: ShuffleExchangeExec
          if e.shuffleOrigin == org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS => e
    }
    assert(required.isEmpty, s"polygon join requires a probe-side shuffle:\n$p")
  }

  test("ns_search_rrf: vector leg is the bounded aggregate; lexical page a top-k heap") {
    val p = physical("ns_search_rrf")
    assert(p.toString.contains("partial_topkbyscore"),
      s"the RRF vector leg lost the partial-aggregating bounded top-k:\n$p")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the RRF lexical window must stay a top-k heap:\n$p")
    // the only windows permitted rank the ≤50-row fused/lexical frames,
    // never the embeddings corpus
    val corpusWindows = nodes(p).collect { case w: WindowExec => w }.filter(w =>
      nodes(w).exists {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.endsWith("/embeddings.parquet"))
        case _ => false
      })
    assert(corpusWindows.isEmpty,
      s"a window ranks the embeddings corpus — the bounded-aggregate win regressed:\n$p")
  }

  test("ns_esql_completion: page-bounded generation over the broadcast vocabulary dim") {
    val p = physical("ns_esql_completion")
    // the retrieval page is a top-k heap, never a corpus sort
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the COMPLETION page must stay a top-k heap:\n$p")
    // every generation step is a broadcast-hash lookup against the
    // vocabulary-bounded next-token dim — nothing may shuffle the page
    assert(nodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"greedy decode lost its broadcast dim lookups:\n$p")
    assert(!nodes(p).exists(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec]),
      s"a generation step regressed to shuffling:\n$p")
  }

  test("ns_search_retriever: every stage page-bounded — bounded knn leg, heap cuts, no corpus window") {
    val p = physical("ns_search_retriever")
    assert(p.toString.contains("partial_topkbyscore"),
      s"the knn leaf lost the partial-aggregating bounded top-k:\n$p")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the standard leaf / composite cuts must stay top-k heaps:\n$p")
    // the only windows may rank already-cut pages: every window's INPUT
    // must contain a bounding cut (a top-k heap, a limit, or the bounded
    // top-k aggregate) between it and any corpus scan
    val unboundedWindows = nodes(p).collect { case w: WindowExec => w }.filterNot(w =>
      nodes(w.child).exists {
        case _: TakeOrderedAndProjectExec => true
        case _: org.apache.spark.sql.execution.GlobalLimitExec => true
        case n => n.toString.contains("topkbyscore")
      })
    assert(unboundedWindows.isEmpty,
      s"a window ranks an uncut frame — a retriever stage lost its page bound:\n$p")
  }

  test("ns_search_retriever_linear: bounded legs, per-page normalization stays page-side") {
    val p = physical("ns_search_retriever_linear")
    assert(p.toString.contains("partial_topkbyscore"),
      s"the knn leg lost the partial-aggregating bounded top-k:\n$p")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the lexical leg / final cut must stay top-k heaps:\n$p")
    // min-max stats broadcast back over their own page only — the same
    // bounded-window rule as the rrf tree
    val unboundedWindows = nodes(p).collect { case w: WindowExec => w }.filterNot(w =>
      nodes(w.child).exists {
        case _: TakeOrderedAndProjectExec => true
        case _: org.apache.spark.sql.execution.GlobalLimitExec => true
        case n => n.toString.contains("topkbyscore")
      })
    assert(unboundedWindows.isEmpty,
      s"a window ranks an uncut frame — a linear stage lost its page bound:\n$p")
  }

  test("ns_search_sparse_vector: postings-only map side, page is a top-k heap") {
    val p = physical("ns_search_sparse_vector")
    assert(nodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"the expansion must broadcast into the token stream:\n$p")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the sparse-vector page must stay a top-k heap:\n$p")
    // the expansion join must sit BELOW the weighted-sum aggregate
    // (postings filtered map-side), so the join's subtree has no agg
    val join = nodes(p).collectFirst { case j: BroadcastHashJoinExec => j }.get
    assert(!nodes(join).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
      s"the expansion join no longer filters postings before the aggregate:\n$p")
  }

  test("ns_similarity_knn_threshold keeps the bounded aggregate — no corpus window") {
    val p = physical("ns_similarity_knn_threshold")
    assert(p.toString.contains("partial_topkbyscore"),
      s"the threshold variant lost the partial-aggregating bounded top-k:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"the threshold variant regressed to a window/rank top-k:\n$p")
  }

  test("ns_search_request_body: query phase is ONE executed scan (aggs+hits share it); fetch is page-bounded") {
    // static plan references the grouped aggregate twice (aggs branch,
    // hits branch) — at runtime their identical scan+shuffle must
    // collapse via stage reuse, leaving the query-phase scan plus the
    // page-bounded fetch pass: ≤ 2 executed corpus scans total
    assertSharedQueryScan(SparkEntry.queries("ns_search_request_body")(spark, sfDir),
      "_search (query + page-bounded fetch)", maxScans = 2)
    // the page sort rides the bounded aggregate, never a corpus sort
    val p = physical("ns_search_request_body")
    assert(p.toString.contains("partial_topkbyscore"),
      s"the hits page lost the partial-aggregating bounded top-k:\n$p")
    assert(nodes(p).collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }.forall(!_.global),
      s"a global sort crept into the _search plan:\n$p")
    // the bool filter's keyword conjunct reaches the scan
    val pushed = nodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata.getOrElse("PushedFilters", "")
    }
    assert(pushed.exists(_.contains("lang")),
      s"the term filter must push to the query-phase scan:\n$p")
  }

  test("ns_search_post_filter: aggs and post-filtered hits share ONE executed scan") {
    assertSharedQueryScan(SparkEntry.queries("ns_search_post_filter")(spark, sfDir),
      "post_filter", maxScans = 1)
    val p = physical("ns_search_post_filter")
    assert(p.toString.contains("partial_topkbyscore"),
      s"the hits page lost the partial-aggregating bounded top-k:\n$p")
  }

  test("ns_esql_geo_polygon / ns_esql_geo_grid: one pruned scan, map-side combine, no joins") {
    for (key <- Seq("ns_esql_geo_polygon", "ns_esql_geo_grid")) {
      val p = physical(key)
      assert(scanCount(p) == 1, s"$key must be a single corpus pass:\n$p")
      // the polygon cross products / grid cell math are pure projections —
      // never a window, join, or per-row UDF
      assert(!nodes(p).exists(_.isInstanceOf[WindowExec]), s"$key grew a window:\n$p")
      assert(!nodes(p).exists(n => n.isInstanceOf[BroadcastHashJoinExec] ||
        n.isInstanceOf[SortMergeJoinExec] || n.isInstanceOf[ShuffledHashJoinExec] ||
        n.isInstanceOf[BroadcastNestedLoopJoinExec]), s"$key grew a join:\n$p")
      // partial aggregation before the |cells|-bounded shuffle
      assert(p.toString.contains("partial_count"),
        s"$key lost the map-side combine:\n$p")
      // column pruning must reach the scan THROUGH the synthesized
      // point struct: only the two referenced source columns are read
      val read = nodes(p).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.requiredSchema.fieldNames.toSet
      }.head
      assert(read.subsetOf(Set("event_id", "event_type")),
        s"$key reads more than it projects: $read\n$p")
    }
  }

  test("shared-scan lock is load-bearing: a column-split variant fails naming the contract") {
    // Rebuild ns_search_post_filter's shape but let the aggs branch
    // reference ONLY the count — the hits branch still needs source/
    // n_chars/doc_id, so column pruning produces two differently-pruned
    // scans and the runtime reuse disappears. The lock must catch this
    // and its failure must PRINT the contract, so the next editor
    // learns the rule from the failure message.
    import org.apache.spark.sql.functions._
    val pad = concat(lit(" "), trim(col("text")), lit(" "))
    val matched = Tables.documents(spark, sfDir).filter(pad.contains(" merge "))
    val grouped = matched.groupBy("lang").agg(
      count(lit(1)).as("n"),
      graft.expr.VecFunctions.topk_by_score(
        when(col("source") === "src1", col("doc_id")),
        col("n_chars").cast("double"), 10).as("cand"))
    val nullL = lit(null).cast("long")
    val nullS = lit(null).cast("string")
    val aggRows = grouped.select(lit("aggs").as("section"), col("lang").as("key"),
      col("n").as("n_docs"), nullL.as("rank"), nullL.as("doc_id"))
    val hitRows = grouped
      .select(explode(col("cand")).as("c"))
      .agg(graft.expr.VecFunctions.topk_by_score(col("c.id"), col("c.score"), 10).as("top"))
      .select(posexplode(col("top")))
      .select(lit("hits").as("section"), nullS.as("key"), nullL.as("n_docs"),
        (col("pos") + 1).cast("long").as("rank"), col("col.id").as("doc_id"))
    val split = aggRows.unionByName(hitRows)
    val failure = intercept[org.scalatest.exceptions.TestFailedException](
      assertSharedQueryScan(split, "column-split variant", maxScans = 1))
    assert(failure.getMessage.contains("SHARED-SCAN CONTRACT"),
      s"the lock's failure must teach the contract, got: ${failure.getMessage}")
  }

  test("ns_search_msearch: N queries share ONE corpus scan — no per-query fan-out") {
    val p = physical("ns_search_msearch")
    assert(scanCount(p) == 1,
      s"msearch must answer every sub-query from one scan, found a fan-out:\n$p")
    assert(!nodes(p).exists(n => n.isInstanceOf[ShuffledHashJoinExec] ||
      n.isInstanceOf[SortMergeJoinExec] || n.isInstanceOf[BroadcastHashJoinExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"msearch sub-queries regressed to a join of per-query branches:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"msearch per-query top hits regressed to a window rank:\n$p")
    assert(p.toString.contains("partial_topkbyscore"),
      s"per-query top hits lost the partial-aggregating bounded top-k:\n$p")
  }

  test("ns_search_completion_suggest: pushed prefix over the dictionary artifact only") {
    val p = physical("ns_search_completion_suggest")
    val scans = nodes(p).collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(!scans.exists(_.relation.location.rootPaths.exists(
        _.toString.endsWith("/documents.parquet"))),
      s"completion must walk the persisted term dictionary, found a corpus scan:\n$p")
    val pushed = scans.flatMap(_.metadata.get("PushedFilters")).mkString
    assert(pushed.contains("StringStartsWith(tok"),
      s"the typed prefix must reach the artifact scan's PushedFilters, got $pushed\n$p")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the suggestion cutoff must be a top-k heap:\n$p")
  }

  test("ns_search_mget: the id set pushes as ONE In predicate; request order via broadcast") {
    val p = physical("ns_search_mget")
    val scans = nodes(p).collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    val docScans = scans.filter(_.relation.location.rootPaths.exists(
      _.toString.endsWith("/documents.parquet")))
    assert(docScans.size == 1, s"mget must read the corpus exactly once:\n$p")
    val pushed = docScans.flatMap(_.metadata.get("PushedFilters")).mkString
    assert(pushed.contains("In(doc_id"),
      s"the requested ids must reach PushedFilters as one In, got $pushed\n$p")
    assert(nodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"the request-order join must broadcast the point-read side:\n$p")
  }

  test("ns_esql_fork: each branch leg pushes its own filters; fuse windows stay page-bounded") {
    val p = physical("ns_esql_fork")
    val scans = nodes(p).collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .filter(_.relation.location.rootPaths.exists(_.toString.endsWith("/documents.parquet")))
    assert(scans.size == 2, s"FORK compiles one leg per branch (ES's branch phases):\n$p")
    // the n_chars branch's WHERE must reach ITS scan's PushedFilters —
    // the per-branch pushdown that makes selective forks cheap at scale
    assert(scans.exists(_.metadata.get("PushedFilters")
        .exists(_.contains("GreaterThanOrEqual(n_chars"))),
      s"branch 2's WHERE must push to its own scan:\n$p")
    // fuse: the per-branch rank windows partition by _fork over
    // LIMIT-bounded pages, never the corpus
    val pf = physical("ns_esql_fuse")
    val windows = nodes(pf).collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"FUSE's rank window must partition by _fork:\n$pf")
  }

  test("ns_search_scroll: every non-first page carries a pushed keyset bound") {
    val df = SparkEntry.queries("ns_search_scroll")(spark, sfDir)
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == scrollPagesForTest,
      s"expected one bounded scan per page, got ${scans.size}")
    // pages 2..n must push their cursor's ts lower bound to parquet
    val pushed = scans.count(_.metadata.get("PushedFilters").exists(s =>
      s.contains("GreaterThanOrEqual(ts")))
    assert(pushed >= scrollPagesForTest - 1,
      s"non-first scroll pages lost the pushable ts cursor bound:\n${scans.map(_.metadata)}")
  }
  private val scrollPagesForTest = 3

  test("ns_search_termvectors: requested docs push to their own scan; stats join broadcasts") {
    val df = SparkEntry.queries("ns_search_termvectors")(spark, sfDir)
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case x => x
    }
    val scans = p.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    // the probe side must read ONLY the requested doc ids, not re-derive
    // them from the corpus postings
    assert(scans.exists(_.metadata.get("PushedFilters").exists(_.contains("In(doc_id"))),
      s"requested-doc scan lost its pushed id set:\n$p")
    assert(nodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"the tiny requested-doc term list must broadcast past the stats:\n$p")
    assert(!nodes(p).exists(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec]),
      s"termvectors stats join regressed to a shuffle join:\n$p")
  }

  test("ns_agg_downsample: one hash aggregate, no window, no join") {
    val p = physical("ns_agg_downsample")
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"downsample must be a plain aggregate, not a per-series window:\n$p")
    assert(scanCount(p) == 1, s"downsample is one pass over the samples:\n$p")
    assert(fallbacks(p).isEmpty,
      s"interpreted expressions in the downsample path: ${fallbacks(p)}")
  }

  test("ns_text_bpe: the tokenizer is ONE codegen scan — no explode, no fallback") {
    val p = physical("ns_text_bpe")
    assert(scanCount(p) == 1, s"tokenizer must be a single corpus pass:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[GenerateExec]),
      s"the merge chain regressed to a per-word explode:\n$p")
    assert(fallbacks(p).isEmpty,
      s"interpreted expressions in the tokenizer hot path: ${fallbacks(p)}")
  }

  test("ns_embedding_whiten: the moment table broadcasts back — corpus never shuffles wide") {
    val p = physical("ns_embedding_whiten")
    assert(nodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"the |dims|-row moment table must broadcast:\n$p")
    assert(!nodes(p).exists(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec]),
      s"whiten re-join regressed to shuffling the exploded corpus:\n$p")
  }

  test("ns_search_msearch_template: rendered templates share msearch's ONE corpus scan") {
    val p = physical("ns_search_msearch_template")
    assert(scanCount(p) == 1,
      s"msearch/template must answer every rendered search from one scan:\n$p")
    assert(!nodes(p).exists(n => n.isInstanceOf[ShuffledHashJoinExec] ||
      n.isInstanceOf[SortMergeJoinExec] || n.isInstanceOf[BroadcastHashJoinExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"msearch/template regressed to a join of per-template branches:\n$p")
    // the per-row label array is exploded conditional literals — codegen,
    // never the CodegenFallback filter() HOF msearch itself dropped in r13
    assert(!fallbacks(p).contains("ArrayFilter"),
      s"the template-label array regressed to an interpreted filter() HOF:\n$p")
  }

  test("ns_search_validate: validation never touches data — a LocalRelation plan") {
    val p = physical("ns_search_validate")
    assert(scanCount(p) == 0,
      s"_validate/query must parse-check without scanning anything:\n$p")
  }

  test("ns_search_completion_fuzzy: context+fuzzy walk stays on the dictionary artifact") {
    val p = physical("ns_search_completion_fuzzy")
    val scans = nodes(p).collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(!scans.exists(_.relation.location.rootPaths.exists(
        _.toString.endsWith("/documents.parquet"))),
      s"fuzzy completion must walk the persisted per-context dictionary, found a corpus scan:\n$p")
    // the lang context IS pushable even though fuzziness forfeits the prefix
    val pushed = scans.flatMap(_.metadata.get("PushedFilters")).mkString
    assert(pushed.contains("EqualTo(lang"),
      s"the completion context must reach the artifact scan's PushedFilters, got $pushed\n$p")
    assert(nodes(p).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      s"the suggestion cutoff must be a top-k heap:\n$p")
  }

  test("ns_search_pit: every page pushes the pinned snapshot bound; pages stay heaps") {
    val df = SparkEntry.queries("ns_search_pit")(spark, sfDir)
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == pitPagesForTest,
      s"expected one bounded scan per PIT page, got ${scans.size}")
    // the PIT open-time high-water mark must reach EVERY page's scan —
    // that pushed upper bound IS the snapshot-consistency property
    val pinned = scans.count(_.metadata.get("PushedFilters").exists(s =>
      s.contains("LessThanOrEqual(ts")))
    assert(pinned == pitPagesForTest,
      s"pages lost the pinned snapshot upper bound:\n${scans.map(_.metadata)}")
    // non-first pages additionally push their keyset cursor lower bound
    val cursored = scans.count(_.metadata.get("PushedFilters").exists(s =>
      s.contains("GreaterThanOrEqual(ts")))
    assert(cursored >= pitPagesForTest - 1,
      s"non-first PIT pages lost the pushable cursor bound:\n${scans.map(_.metadata)}")
  }
  private val pitPagesForTest = 3

  /** Partition pruning on the time-partitioned twin (Tables.eventsDt —
    * the ES time-index layout, dt=YYYY-MM-DD): a date-bounded query must
    * prune whole DAY PARTITIONS at file-listing time (PartitionFilters +
    * selectedPartitions), not merely skip row groups after listing every
    * file. This is the single most important scan discipline at 100 TB —
    * the pruned days' files are never listed, opened, or scheduled. */
  private def eventsDtScans(p: SparkPlan) = nodes(p).collect {
    case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("/events_dt/")) => f
  }

  test("date-bounded keys prune day partitions on the time-partitioned events twin") {
    // testdata spans 2024-01-01..30 → the twin carries 30 day partitions
    val total = Tables.eventsDt(spark, sfDir).select("dt").distinct().count()
    assert(total == 30L, s"expected 30 day partitions in the twin, got $total")
    // key → exact day-partition count its window selects
    for ((key, want) <- Seq("ns_date_histogram" -> 14, "ns_search_range" -> 14,
        "ns_date_histogram_pipeline" -> 14, "ns_agg_date_range" -> 20,
        // keyset pagination: the cursor bound (ts >= 2024-01-15) mirrors
        // onto dt, so a deep page lists days 15..30 only
        "ns_search_after" -> 16)) {
      val p = physical(key)
      val scans = eventsDtScans(p)
      assert(scans.nonEmpty, s"$key no longer reads the date-partitioned twin:\n$p")
      scans.foreach { f =>
        val pf = f.metadata.getOrElse("PartitionFilters", "")
        assert(pf.contains("dt") && !pf.startsWith("[]"),
          s"$key: the time window must reach PartitionFilters, got '$pf'\n$p")
        val read = f.selectedPartitions.partitionCount
        assert(read == want,
          s"$key read $read day partitions, want $want of $total\n$p")
      }
    }
  }

  test("ns_esql_mad: two-stage exact MAD — medians broadcast, probe side unshuffled") {
    val p = physical("ns_esql_mad")
    // exactly two corpus passes by design (stage-1 medians + deviation
    // aggregate) — a third would mean the join replans a subtree
    assert(scanCount(p) == 2, s"MAD must read the corpus exactly twice:\n$p")
    // the |groups|-row median dim broadcasts; the row side must never
    // sort-merge or shuffle before its partial aggregate
    assert(nodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"stage-1 medians must broadcast back onto the rows:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[SortMergeJoinExec]),
      s"the median join must not degrade to sort-merge:\n$p")
    val join = nodes(p).collectFirst { case j: BroadcastHashJoinExec => j }.get
    val streamedShuffles = nodes(join.left).collect {
      case e: ShuffleExchangeExec
          if e.shuffleOrigin == org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS => e
    }
    assert(streamedShuffles.isEmpty,
      s"the MAD probe side must reach the join unshuffled:\n$p")
  }

  test("ns_search_pit pages prune day partitions: snapshot bound caps every page") {
    val df = SparkEntry.queries("ns_search_pit")(spark, sfDir)
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    scans.foreach { f =>
      val pf = f.metadata.getOrElse("PartitionFilters", "")
      assert(pf.contains("dt"),
        s"PIT page scan lost the day-granular partition bound: '$pf'")
      // dt <= 2024-01-20 (the snapshot boundary) selects 20 of 30 days;
      // cursor pages may prune further from below, never read more
      val read = f.selectedPartitions.partitionCount
      assert(read <= 20, s"PIT page read $read day partitions, max 20")
    }
  }

  test("ns_search_scroll pages prune day partitions: window + cursor bound every page") {
    val df = SparkEntry.queries("ns_search_scroll")(spark, sfDir)
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size >= 3, "scroll must plan one twin scan per page")
    scans.foreach { f =>
      val pf = f.metadata.getOrElse("PartitionFilters", "")
      assert(pf.contains("dt"),
        s"scroll page scan lost the day-granular partition bound: '$pf'")
      // the scroll query's window (ts >= 2024-01-25) selects 6 of 30
      // days on every page; cursor pages may advance the lower bound
      // and prune further, never read more
      val read = f.selectedPartitions.partitionCount
      assert(read <= 6, s"scroll page read $read day partitions, max 6")
    }
  }

  test("ns_search_mvt: the requested tile prunes the dim; probe side unshuffled") {
    val p = physical("ns_search_mvt")
    assert(nodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"expected the bucketed broadcast hash join in:\n$p")
    val join = nodes(p).collectFirst { case j: BroadcastHashJoinExec => j }.get
    // the tile-membership filter must sit on the DIM (build) side,
    // below the broadcast — off-tile blocks never enter the join
    val buildFilters = nodes(join).collect {
      case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString
    }
    assert(buildFilters.exists(_.contains("2/")),
      s"the requested tile must prune the dim before broadcasting:\n$p")
    val required = nodes(join).collect {
      case e: ShuffleExchangeExec
          if e.shuffleOrigin == org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS => e
    }
    assert(required.isEmpty, s"mvt join requires a probe-side shuffle:\n$p")
  }

  test("ns_similarity_bbq: moment array and queries broadcast; top-k stays bounded") {
    val p = physical("ns_similarity_bbq")
    // packing joins the one-row moment array and the query set by
    // BROADCAST only — the embedding corpus itself must never shuffle
    assert(!nodes(p).exists(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec]),
      s"bbq packing/scoring regressed to shuffling the corpus:\n$p")
    assert(!nodes(p).exists(_.isInstanceOf[WindowExec]),
      s"bbq top-k regressed to a window rank:\n$p")
    assert(p.toString.contains("partial_topkbyscore"),
      s"bbq top-k lost the partial-aggregating bounded aggregate:\n$p")
  }

  test("ns_esql_enrich_range: the interval dim broadcasts; probe side unshuffled") {
    val p = physical("ns_esql_enrich_range")
    assert(nodes(p).exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"a range-typed ENRICH must be a broadcast interval join:\n$p")
    assert(!nodes(p).exists(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec]),
      s"range ENRICH regressed to shuffling the probe side:\n$p")
  }

  test("ns_search_render_template: rendering touches no data — a LocalRelation plan") {
    val p = physical("ns_search_render_template")
    assert(scanCount(p) == 0,
      s"_render/template must render without scanning anything:\n$p")
  }

  test("ns_esql_ts: every window is series-partitioned; both levels hash-aggregate") {
    val p = physical("ns_esql_ts")
    val windows = nodes(p).collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"TS windows (counter cumsum, rate lag) must partition by the series id:\n$p")
    val hashAggs = nodes(p).count(
      _.getClass.getSimpleName == "HashAggregateExec")
    assert(hashAggs >= 4, // inner + outer levels, partial+final each
      s"TS STATS must compile to two partial-aggregating hash levels:\n$p")
  }

  test("Par.spread widens a single-split scan and passes wide/non-file frames through") {
    import org.apache.spark.sql.functions.col
    // single small parquet split → widened to defaultParallelism
    val narrow = Tables.documents(spark, sfDir)
    val widened = ops.Par.spread(spark, narrow, col("doc_id"))
    assert(widened.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      "a one-split scan must be repartitioned to the core count")
    // non-file relation (no scan-width evidence) → returned untouched,
    // no shuffle inserted
    import spark.implicits._
    val mem = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(ops.Par.spread(spark, mem, col("doc_id")) eq mem,
      "a non-file frame must pass through untouched")
  }

  test("ns_esql_knn: the k-nearest cut is TakeOrderedAndProject, never a global sort") {
    val p = physical("ns_esql_knn")
    assert(nodes(p).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      s"KNN's top-k must compile to TakeOrderedAndProject:\n$p")
    // (the key's own trailing SORT orders the 7 kept rows — k-bounded,
    // not a corpus sort; the KNN cut itself must never be one)
  }

  test("np_community_id: the per-IP hex encoding stays STAGED, encoded once per row") {
    // the r17 staging: the flow-hash expression references each address
    // encoding 4× inside conditional branches codegen CSE can't reach;
    // the operator computes ipHexCol once per IP in its own projection
    // and CollapseProject must keep it (non-cheap multi-use alias). If
    // the staged aliases vanish from the plan, the v6 encoder is being
    // re-inlined per reference — a ~2× regression on this key.
    val p = physical("np_community_id")
    val txt = p.toString
    assert(txt.contains("__cid_s") && txt.contains("__cid_d"),
      "staged hex aliases must survive optimization (CollapseProject re-inlined them)")
    // and the final projection consumes the staged columns by REFERENCE:
    // exactly one rlike-bearing projection (the encoder), not one per use
    val rlikeProjects = nodes(p).count {
      case pr: org.apache.spark.sql.execution.ProjectExec =>
        pr.projectList.exists(_.toString.contains("RLIKE"))
      case _ => false
    }
    assert(rlikeProjects == 1,
      s"the v6 regex validation must live in exactly one projection, found $rlikeProjects")
  }
}
