package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-shape contracts for the gated queries: the properties that make
 * them scale are asserted against the actual executed plans, so a
 * refactor that silently degrades a plan (lost pushdown, surprise
 * nested-loop join, resurrected interpreted HOF) fails here, not in a
 * 100 TB run.
 */
class PlanContractSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString

  test("q6 scan keeps pushed filters and a pruned schema") {
    val p = plan("q6_forecast")
    assert(p.contains("PushedFilters: ["))
    assert(!p.replaceAll("(?s)ReadSchema:.*", "").contains("l_comment"))
  }

  test("fact-to-dim joins broadcast the dims") {
    for (q <- Seq("q3_shipping", "q5_volume", "q17_small_qty")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast join")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("outer-join distribution query keeps equi-joins only") {
    val p = plan("q13_custdist")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("ngram jaccard is a pure equi-join + count plan (no arrays shuffled)") {
    val p = plan("sim_ngram_jaccard")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // count-based verification: no array_intersect materialization
    assert(!p.contains("array_intersect"), "verify stage regressed to array joins")
  }

  test("text queries run the compiled single-pass kernel, not regex/HOF") {
    for (q <- Seq("text_langid", "text_tokens", "text_quality")) {
      val p = plan(q)
      assert(p.contains("text_stats"), s"$q no longer uses TextStats")
      assert(!p.contains("regexp_extract_all"), s"$q regressed to regex counting")
      assert(!p.contains("ArrayFilter"), s"$q regressed to interpreted HOF filters")
    }
  }

  test("embedding frontier query has no nested-loop join") {
    val p = plan("dedup_embedding")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("lsh queries use the compiled signature kernel, not interpreted HOFs") {
    val p = plan("lsh_ann")
    assert(p.contains("lsh_signature"), "lsh_ann lost the compiled LshSignature")
    assert(!p.contains("ArrayTransform") && !p.contains("ArrayAggregate"),
      "lsh_ann regressed to interpreted HOF signature math")
  }

  test("routed nsw query prunes unrouted shard partitions at the reader") {
    val p = plan("hnsw_routed")
    val scan = p.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("graft-nsw")).getOrElse("")
    assert(scan.contains("PartitionFilters") && scan.contains("part_id"),
      s"no shard pruning in: $scan")
  }

  test("approx percentiles reads only the two referenced columns") {
    val p = plan("approx_percentiles")
    assert(p.contains("tdigest_percentiles"))
    val pruned = p.replaceAll("(?s)ReadSchema:.*", "")
    assert(!pruned.contains("l_comment") && !pruned.contains("l_quantity"))
  }

  test("planted-corpus lsh near-dup query stays equi-join only") {
    val p = plan("dedup_embedding_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("lsh_signature"), "compiled signature kernel missing")
  }

  test("knn join is one fused node that merges its own heaps") {
    val p = plan("knn_join")
    // one fused query x corpus scan, never a per-pair join
    assert(p.contains("KnnJoin"), "fused knn join node missing")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // the node merges the per-partition heaps: no broadcast stage and no
    // top-k aggregate, and nothing is exchanged between it and the scans
    assert(!p.contains("BroadcastExchange"), "query side broadcast as a stage")
    assert(!p.contains("topk_pairs"), "top-k aggregate after the fused node")
    assert(!p.substring(p.indexOf("KnnJoin")).contains("Exchange"),
      "exchange between the corpus scan and KnnJoin")
  }

  test("pq searches shortlist via bounded heaps and never sort-merge-join") {
    for (q <- Seq("pq_search", "ivfpq_search")) {
      val p = plan(q)
      // ADC scan feeds TakeOrderedAndProject (per-partition heaps, no
      // full sort); the tiny shortlist must broadcast into the rerank
      assert(p.contains("TakeOrderedAndProject"), s"$q lost the bounded top-k")
      assert(!p.contains("SortMergeJoin"), s"$q reranks through a sort-merge join")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("decontamination broadcasts the benchmark gram set") {
    // the benchmark side is small by nature — it must ride a broadcast
    // hash join, never shuffle the corpus grams
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin"), "benchmark grams not broadcast")
  }

  test("multimodal codec queries are pure per-partition pipelines") {
    // codec work happens inside mapPartitions batches; the only plan
    // structure allowed around it is the deliberate spread repartition
    // and the gate's orderBy — never a join or aggregate
    for (q <- Seq("mm_decode", "mm_audio", "mm_video", "mm_jpeg", "mm_resize")) {
      val p = plan(q)
      assert(p.contains("MapPartitions"), s"$q lost its batch-codec operator")
      assert(!p.contains("Join"), s"$q grew a join")
      assert(!p.contains("HashAggregate"), s"$q grew an aggregate")
    }
  }

  test("simhash gate keeps the planted filter ABOVE the full-corpus window") {
    // the benched query must execute the WHOLE natural corpus's
    // candidate join + hamming verification: the planted-id filter is
    // held above a global (empty-partition-spec) Window so Catalyst
    // cannot push it below the self-join and silently re-narrow the
    // measured workload (round-5 regression, fixed round 6 — this
    // pins it as a contract, not a comment)
    val p = plan("dedup_simhash")
    val iWin = p.indexOf("Window")
    val iJoin = p.indexOf("Join")
    assert(iWin >= 0, "global window gone from the gate")
    assert(iJoin >= 0, "candidate self-join gone from the gate")
    assert(iWin < iJoin, "window no longer sits above the candidate join")
    // below the join: no resurrected planted-id filter (the 1000000
    // literal below the join is only legal inside the planted-corpus
    // PROJECTION, never a Filter)
    val below = p.substring(iJoin)
    assert(!"""(?m)Filter[^\n]*1000000""".r.findFirstIn(below).isDefined,
      "planted-id filter pushed below the candidate join again")
  }

  test("as-of join is JOIN-FREE: one union + one window, no per-row probe") {
    // the whole point of the union+window form — a correlated/range
    // join would put a Join (or worse, a BNLJ) in this plan
    val p = plan("asof_join")
    assert(p.contains("Window"), "as-of lost its window")
    assert(!p.contains("Join"), s"as-of regressed to a join:\n$p")
  }

  test("theta sketch aggregates through mergeable object-hash partials") {
    val p = plan("theta_sketch")
    assert(p.contains("theta_sketch"), "sketch aggregate missing")
    assert(p.contains("ObjectHashAggregate"), "sketch lost map-side partials")
  }

  test("duplicated-span detection joins on hashes, never shuffles gram text") {
    val p = plan("dedup_spans")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("xxhash64"), "gram hashing gone — text would shuffle")
  }

  test("merge/CDC/gap-fill plans: equi-joins and windows only, no BNLJ") {
    Seq("merge_upsert", "cdc_apply", "gap_fill", "scd2_intervals").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q plans a nested-loop/cartesian join:\n$p")
    }
  }

  test("bm25 plan: 1-row stats broadcast, no explode of the corpus") {
    val p = plan("text_bm25")
    assert(p.contains("BroadcastExchange"), "stats row should broadcast")
    assert(!p.contains("Generate explode"),
      "per-doc tf must come from size(filter(...)), not explode+groupBy")
    assert(!p.contains("SortMergeJoin"), "scoring must never sort-merge join")
  }

  test("zorder gate is map-only below the single bucket aggregate") {
    val p = plan("zorder_layout")
    // exactly the agg's exchange pair (partial/final) plus the gate's
    // single-partition exchange — no join, no extra shuffle
    assert(!p.contains("Join"), s"zorder bucketing must not join:\n$p")
    assert(p.contains("HashAggregate"), "bucket stats should hash-aggregate")
  }

  test("sequence packing sorts in the PLAN, not in the task") {
    // the id-order walk must run through Spark's external (spillable)
    // sort — a partial Sort above a hash exchange on the stream key —
    // feeding a streaming MapPartitions; a regression to
    // flatMapGroups + in-task toArray.sort would OOM at 100 TB
    val p = plan("pack_sequences")
    assert(p.contains("Sort ["), "plan-level sortWithinPartitions gone")
    assert(p.contains("hashpartitioning(g#"), "stream-key repartition gone")
    assert(p.contains("MapPartitions"), "streaming walk operator gone")
    assert(!p.contains("FlatMapGroups"),
      "regressed to whole-group materialization in one task")
  }

  test("semantic dedup pairs only within a cluster: equi-joins, no all-pairs") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "semanticDedup regressed to an all-pairs join")
  }

  test("shuffle-batches rank has no range partitioning (no sampling pass)") {
    // a global orderBy would range-partition, whose boundary sampling
    // EXECUTES THE CHILD TWICE; the bucket-histogram + window form
    // must never plan one
    val p = plan("shuffle_batches")
    assert(!p.toLowerCase.contains("rangepartitioning"),
      "global rank regressed to a sampled range sort")
  }

  test("classifier weights apply via a join, vocabulary via bounded heap") {
    val p = plan("quality_classifier")
    assert(p.contains("TakeOrderedAndProject"),
      "top-V vocabulary lost its bounded-heap TakeOrdered")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("bm25 retrieval ranks via bounded heaps, never a per-query window sort") {
    // with common query terms the per-qid candidate set grows with the
    // corpus; a row_number window sorts ALL of it to keep k rows. The
    // ranking must go through the TopKPayloadAgg object-hash aggregate
    // (k bounded entries per group, map-side partials).
    val p = plan("bm25_search")
    assert(p.contains("topk_payload"), "bm25_search lost the bounded-heap top-k")
    assert(!p.contains("Window"), "bm25_search regressed to a window sort")
    assert(!p.contains("SortAggregate"),
      "top-k heap fell back to sort-based aggregation")
  }

  test("bm25 retrieval executes its corpus-scale tf subtree ONCE (exchange reuse)") {
    // the tf subtree (explode → broadcast vocab join → groupBy shuffle)
    // feeds both the df_ aggregate and the scoring join; without reuse
    // the corpus pass runs twice (the shuffleBatches construction-collect
    // bug class). AQE stitches the second consumer to the first shuffle
    // at runtime, so assert on the FINAL adaptive plan after execution.
    // Other suites may have cached a subtree of this plan in the shared
    // session (CacheManager substitutes InMemoryRelation by plan match,
    // which changes how reuse prints) — clear the cache so the strict
    // ReusedExchange assertion runs in a deterministic plan environment.
    spark.catalog.clearCache()
    val df = SparkEntry.queries("bm25_search")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      "bm25_search tf subtree no longer reuses its shuffle — the corpus " +
        "pass executes twice")
  }

  test("sparse top-k is postings equi-join + payload heap: no cross join, no window") {
    val p = plan("vec_sparse_topk")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "sparse top-k regressed to an all-pairs join")
    assert(!p.contains("Window"), "sparse top-k regressed to a window sort")
    assert(p.contains("topk_payload"), "sparse top-k lost the bounded heap")
    assert(!p.contains("SortAggregate"),
      "top-k heap fell back to sort-based aggregation")
  }

  test("packed-tier ivf searches prune list partitions at the reader") {
    for (q <- Seq("ivf_half_search", "ivf_int8_search", "ivf_bit_search")) {
      val p = plan(q)
      assert(p.contains("PartitionFilters: [") && p.contains("list_id"),
        s"$q lost reader-level list pruning")
      assert(p.contains("TakeOrderedAndProject"),
        s"$q top-k lost its bounded-heap TakeOrdered")
    }
    // the fp16 tier must rank on the packed bytes, never unpack
    assert(!plan("ivf_half_search").contains("unpack_half"),
      "ivf_half_search decodes fp16 in the hot path")
  }

  test("hopping-window agg is a single pass: explode to 2 windows, one agg") {
    val p = plan("hop_window")
    // one hash aggregate pair over the window-exploded input; no join
    assert(!p.contains("Join"), "hopping windows must not join")
    assert(p.contains("HashAggregate"), "windowed aggregation gone")
  }

  test("fts rank family is map-only compiled scans: no shuffle, no HOFs") {
    for (q <- Seq("fts_rank", "fts_rank_cd", "fts_rank_weighted")) {
      val p = plan(q)
      // the only exchange allowed is the gate's output ordering
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q rank must be a map-only scan")
      assert(!p.contains("ArrayTransform") && !p.contains("ArrayAggregate"),
        s"$q regressed to interpreted HOF evaluation")
    }
  }

  test("indexed fts match: ONE postings pass, equi-joins only, pruned read") {
    val p = plan("fts_indexed")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "indexed match must stay an equi-join tree")
    // r20: non-prefix indexedMatch evaluates through the one-pass
    // broadcast-literal kernel — the postings are scanned exactly ONCE
    // (the old per-term semi/anti-join chain re-ran the whole postings
    // plan once per term per DNF arm); negation is the nneg_hit = 0
    // filter over the same pass, not a second scan's anti-join
    assert("Scan parquet".r.findAllIn(p).length == 1,
      "fts_indexed must scan the postings exactly once")
    // the persisted postings are partitioned by term-hash bucket and
    // the single pass carries the union of the query terms' bucket
    // literals: the parquet reader must prune to those partitions
    // (the GIN I/O shape — at 100 TB the indexed path IS this pruned
    // read)
    assert(p.contains("PartitionFilters: [") && p.contains("tbucket"),
      "fts_indexed lost reader-level term-bucket pruning")
  }

  test("batch indexed fts runs ONE postings pass with a broadcast literal table") {
    val p = plan("fts_indexed_many")
    // one corpus/index scan total: the query batch broadcasts against a
    // single postings subtree instead of re-scanning per query
    assert("Scan parquet".r.findAllIn(p).length == 1,
      "fts_indexed_many must scan the corpus exactly once")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "batch indexed match must stay an equi-join tree")
    assert(p.contains("BroadcastHashJoin"),
      "query literal table must broadcast against the postings pass")
  }

  test("bpe encode is a map-only fold chain") {
    val p = plan("bpe_encode")
    assert(!p.replaceAll("(?s)Exchange rangepartitioning.*", "")
      .contains("Exchange hashpartitioning"),
      "encode must not shuffle (the only exchange is the gate's ordering)")
  }

  test("matview refresh: union + re-aggregate, no join, base never re-read twice") {
    for (q <- Seq("matview_inc", "matview_minmax", "stream_matview")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q IVM merge must not join")
      assert(p.contains("Union"), s"$q lost its union-reaggregate shape")
    }
  }

  test("forward/nearest as-of stay join-free window plans") {
    val p = plan("asof_multi")
    // the only joins allowed are none: both directions ride union+window
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      "as-of directions must not degrade to a real join")
    assert(p.contains("Window"), "as-of lost its window form")
  }

  test("rrf fusion plan: bounded heaps, no per-query window sort") {
    val p = plan("hybrid_rrf")
    assert(!p.contains("Window"), "rrf ranking must not window-sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("geo radius join is a grid-cell equi-join, never a theta join") {
    val p = plan("geo_radius_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "radiusJoin degraded to an all-pairs join")
    assert(p.contains("Join"), "radiusJoin lost its candidate equi-join")
  }

  test("interval overlap join is a bucket equi-join, never a theta join") {
    val p = plan("range_overlap_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "overlapJoin degraded to an all-pairs join")
  }

  test("ltree ancestor join is a hash join on the exploded prefix") {
    val p = plan("ltree_tree")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "ancestorJoin degraded to a LIKE theta join")
  }

  test("trgm single-query search is a map-only scan (no join, no explode)") {
    val p = plan("trgm_search")
    assert(!p.contains("Join"), "trgm search must not join for one query")
    assert(!p.contains("Generate"), "trgm search must not explode the corpus")
  }

  test("trigram LM shuffles hashed gram keys only — gram text never shuffles") {
    // the r13 scale-killer: five string-keyed reshuffles of the
    // per-position trigram stream. The re-plan pins (a) a pre-
    // aggregation per (id, trigram) so duplicates ride the join stack
    // once, and (b) every hash-partitioned exchange keyed on 8-byte
    // xxhash64 longs (or the doc id) — a string gram attribute in any
    // exchange key is the regression this test exists to catch
    val p = plan("text_trigram_ppl")
    assert(p.contains("xxhash64"), "gram hashing gone — text would shuffle")
    // typed walk, not a name regex: NO hash-partitioning key anywhere
    // in the plan may be string-typed (ints — the count-table class
    // tag — and longs — the gram hashes — are the only legal keys)
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val exec = SparkEntry.queries("text_trigram_ppl")(spark, sfDir)
      .queryExecution.executedPlan
    val strKeys = exec.collect { case e: ShuffleExchangeExec => e }.flatMap {
      e => e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.filter(x =>
          x.dataType == StringType)
        case _ => Nil
      }
    }
    assert(strKeys.isEmpty,
      s"string-typed exchange key(s): ${strKeys.mkString(", ")}")
  }

  test("maxsim is one vocab equi-join + one aggregate, no crossJoin") {
    val p = plan("maxsim_retrieve")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "maxsim degraded to all-pairs scoring")
    assert(p.contains("BroadcastHashJoin"), "vocab lookup should broadcast here")
  }
}
