package graft.queries

import graft.SparkSuite
import graft.SparkEntry

/** Physical-plan regression guards: the scale properties the query surface
  * is designed around must survive refactors — filters reach the parquet
  * scan, projections prune columns, dimensions broadcast, top-N never
  * globally sorts. (Wall-clock benchmarks are noise-prone on shared
  * hardware; plan shape is the stable signal.) */
class PlanSpec extends SparkSuite {

  private val d = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString

  test("pricing summary pushes the date filter into the parquet scan") {
    val p = plan("q_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"))
    // Column pruning: only the 6 referenced lineitem columns are read.
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey"))
  }

  test("revenue by nation broadcasts every dimension") {
    val p = plan("q_revenue_by_nation")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts")
    assert(!p.contains("SortMergeJoin"))
  }

  test("top-N orders uses TakeOrderedAndProject, not a global sort") {
    val p = plan("q_top_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("cosine top-k broadcasts queries; the corpus' only shuffle is the guarded spread") {
    val p = plan("q_sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin"))
    // Guarded-spread contract (round 16): below the scoring join, the ONLY
    // vec_id exchange permitted is the deterministic REPARTITION_BY_NUM
    // core-count spread of the one-row-group fixture scan. No OPERATOR may
    // demand a vec_id shuffle (ENSURE_REQUIREMENTS) — that would mean the
    // corpus is being hash-shuffled for a join/agg, the round-1 contract.
    val idx = p.indexOf("BroadcastNestedLoopJoin")
    val below = p.substring(idx)
    val demanded = below.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning(vec_id") &&
        !l.contains("REPARTITION_BY_NUM")).toSeq
    assert(demanded.isEmpty,
      s"only the guarded spread may exchange the corpus:\n${demanded.mkString("\n")}\nplan:\n$p")
    // …and the spread is GUARDED: an already-core-parallel corpus passes
    // through with NO exchange below the join at all (a production
    // many-file scan must never pay a second exchange).
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .localCheckpoint(true)
    try {
      val pre = graft.similarity.Similarity
        .cosineTopK(emb, emb.limit(5), 3)
        .queryExecution.executedPlan.toString
      val preBelow = pre.substring(pre.indexOf("BroadcastNestedLoopJoin"))
      assert(!preBelow.contains("Exchange hashpartitioning(vec_id"),
        s"spread must be a no-op on a core-parallel corpus:\n$pre")
    } finally graft.Ckpt.release(emb)
  }

  test("semi/anti joins stay joins (no subquery materialization)") {
    assert(plan("q_customers_with_orders").contains("LeftSemi"))
    assert(plan("q_customers_without_orders").contains("LeftAnti"))
  }

  test("lsh candidate join is an equi-join on the band bucket") {
    val p = plan("q_dedup_minhash")
    // Banded candidates join with hash equi-join machinery, never a
    // cartesian/nested-loop product over documents.
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("bloom prune probes in the scan stage, below the semi-join") {
    val p = plan("q_bloom_prune")
    val joinIdx = p.indexOf("LeftSemi")
    val probeIdx = p.indexOf("bloom_might_contain")
    assert(joinIdx >= 0 && probeIdx >= 0)
    // The probe filter must sit BELOW the exactness semi-join (later in
    // the plan string = deeper in the tree): rows are dropped before any
    // join machinery, which at 100 TB means before the shuffle.
    assert(probeIdx > joinIdx, "bloom probe must be below the semi-join")
    assert(p.contains("BroadcastHashJoin"), "exactness join should broadcast")
  }

  test("range-interval join broadcasts the generated hour dimension") {
    val p = plan("q_range_interval")
    // Non-equi overlap predicate against a tiny generated dimension: the
    // only sane physical shape is broadcast-nested-loop, never a shuffled
    // product of the fact table.
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("hash sampling is a pure pushed filter — no exchange") {
    val p = plan("q_sample_hash")
    // One scan, one filter, the final presentation sort — nothing else.
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"sampling should only shuffle for the final sort, got $exchanges exchanges:\n$p")
  }

  test("vocab top-N ends in TakeOrderedAndProject") {
    assert(plan("q_vocab_topk").contains("TakeOrderedAndProject"))
  }

  test("keyed run detection partitions its windows — never a global window") {
    val p = plan("q_run_groups_keyed")
    assert(p.contains("hashpartitioning(user_id"),
      s"expected user_id-partitioned window exchange:\n$p")
    val m = plan("q_run_merge_keyed")
    assert(m.contains("hashpartitioning(user_id"))
  }

  test("simhash band self-join reads the materialized banded frame, not parquet twice") {
    val p = plan("q_dedup_simhash")
    // The banded simhash frame is localCheckpoint'ed: both join sides must
    // scan the checkpoint (ExistingRDD), and the md5-heavy simhash subtree
    // (a parquet scan + explode + 32 aggregates) must be absent entirely.
    assert(p.contains("ExistingRDD"), s"expected checkpoint scan:\n$p")
    assert(!p.contains("Scan parquet"),
      s"simhash subtree recomputed from parquet inside the join:\n$p")
  }

  test("minhash pipeline runs entirely off the checkpointed shingle set") {
    val p = plan("q_dedup_minhash")
    assert(p.contains("ExistingRDD"))
    assert(!p.contains("Scan parquet"))
  }

  test("dedup keep-list: bloom probe passes keeps in the scan stage, anti-join never forced broadcast") {
    val p = plan("q_dedup_keeplist")
    assert(p.contains("LeftAnti"))
    // Definite keeps are passed by the negated bloom probe with no join:
    // the probe must appear on BOTH branches of the union.
    assert("bloom_might_contain".r.findAllIn(p).length >= 2,
      s"bloom probe must gate both union branches:\n$p")
    // At scale the drop list exceeds any broadcast threshold. With the
    // threshold disabled the exactness anti-join must degrade to a
    // shuffled join — a forced broadcast here ORs the driver at 100 TB.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val q = plan("q_dedup_keeplist")
      val antiLines = q.linesIterator.filter(_.contains("LeftAnti")).toSeq
      assert(antiLines.nonEmpty)
      assert(antiLines.forall(l => !l.contains("Broadcast")),
        s"anti-join must not broadcast beyond the threshold:\n$q")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("repetition battery: doc-keyed shuffles only, never a product or global window") {
    val p = plan("q_repetition_filters")
    // Gram counts and interval unions are (id, n[, fp])-keyed — a global
    // window would funnel every gram through one partition.
    assert(p.contains("hashpartitioning(id"), s"expected id-keyed shuffle:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"no operator may demand a single partition:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    // Grams enter every shuffle as 60-bit longs: no shuffle carries the
    // gram string (the concat feeds only the pre-shuffle md5 projection).
    assert(!p.toLowerCase.contains("broadcastnestedloopjoin"))
  }

  test("curation funnel: flag joins only, no product, aggregation stays partial-first") {
    val p = plan("q_curation_funnel")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    // The final 1-row aggregate must be fed by partial aggregation, not
    // by a single-partition scan of per-doc rows.
    assert(p.contains("partial"), s"expected partial aggregation:\n$p")
  }

  test("duplicate spans: keyed windows only, span set materialized once") {
    val p = plan("q_dup_spans")
    // The interval-union windows are doc-keyed — a global (unkeyed)
    // window would serialize the whole corpus through one partition.
    assert(p.contains("hashpartitioning(id"), s"expected id-keyed window:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"no operator may demand a single partition:\n$p")
    // The positioned-window frame is checkpointed: the df-flag side and
    // the join-back side must both read it, not re-explode the corpus.
    assert(p.contains("ExistingRDD"))
  }

  test("span removal rewrite: keyed windows, map-side excision, checkpointed spans") {
    val p = plan("q_dedup_spans_rewrite")
    assert(p.contains("hashpartitioning(id"), s"expected id-keyed window:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"no operator may demand a single partition:\n$p")
    assert(p.contains("ExistingRDD"),
      s"toks/spans must be checkpointed, not re-exploded per consumer:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    // The excision itself is a map-side lambda over the per-doc interval
    // list — it must appear as an expression, not as a join or explode.
    assert(p.contains("filter(wd"),
      s"token excision must be the index-aware filter lambda:\n$p")
  }

  test("incremental span removal: fp-keyed flag join, doc-keyed islands") {
    val p = plan("q_incremental_spans")
    assert(p.contains("hashpartitioning(id"), s"expected id-keyed window:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"no operator may demand a single partition:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("interleaved pack: checkpointed tokens, hierarchical offsets, no lang window") {
    val p = plan("q_interleaved_pack")
    assert(p.contains("ExistingRDD"), s"expected checkpointed tokens:\n$p")
    assert(!p.contains("Scan parquet"),
      s"tokenizing pass re-run from parquet:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"no operator may demand a single partition:\n$p")
    assert(!p.contains("windowspecdefinition(lang#"),
      s"per-doc offsets use a lang-keyed window:\n$p")
  }

  test("shard assignment: bucketed prefix-sum ranks, never a shard-keyed window") {
    val p = plan("q_shard_assign")
    // A shard-keyed window would sort |corpus|/N rows in one task per
    // shard; the rank must come from the (shard, key-range)-bucketed
    // prefix sum + the N-row broadcast offset join.
    assert(!p.contains("windowspecdefinition(shard#"),
      s"per-shard rank uses a shard-keyed window:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"no operator may demand a single partition:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("budget select: bucketed prefix-sum running total, never a global window") {
    val p = plan("q_budget_select")
    // A global quality-ordered cumsum window would sort and sum the
    // whole corpus in one task; the running total must come from the
    // BUCKET-partitioned prefix-sum window. (The scalar budget aggregate
    // legitimately funnels ONE partial-agg row per task to one
    // partition — that is a 1-row-per-task reduce, not a corpus sort.)
    assert(p.contains("windowspecdefinition(__bucket"),
      s"running total must be the bucket-partitioned window:\n$p")
    assert(!"windowspecdefinition\\(qm#".r.findFirstIn(p).isDefined,
      s"global quality-ordered window (single-task corpus sort):\n$p")
    assert(p.contains("partial_sum"),
      s"the budget aggregate must partial-agg map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row budget must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("mix select: bucketed per-source running totals, never a source-keyed window") {
    val p = plan("q_mix_select")
    // Sources are coarse keys: a source-partitioned cumsum window would
    // sort each source's whole doc population in one task.
    assert(!p.contains("windowspecdefinition(source#"),
      s"per-source running total uses a source-keyed window:\n$p")
    assert(p.contains("windowspecdefinition(__bucket"),
      s"running total must be the bucket-partitioned window:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("epoch schedule: broadcast factor table, one corpus scan") {
    val p = plan("q_epoch_schedule")
    assert("BroadcastHashJoin \\[source#".r.findFirstIn(p).isDefined,
      s"the #sources factor table must broadcast into the per-doc pass:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("passage chunks: one scan, closed-form window map, no join anywhere") {
    val p = plan("q_passage_chunks")
    // Each token maps ITSELF to its covering windows — there must be no
    // join (no window table) and no per-doc sort in the plan.
    assert(!p.contains("Join"), s"window assignment must be joinless:\n$p")
    assert(!p.contains("Window"), s"no window operator:\n$p")
    assert(p.contains("partial"), s"(doc, window) agg must partial-agg map-side:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"exactly one tokenizing scan, got $scans:\n$p")
  }

  test("passage bm25: broadcast query terms, heap-ranked, no product") {
    val p = plan("q_bm25_passages")
    assert(p.contains("TopKPerKey"),
      s"per-query ranking must run on the bounded heap:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    val bc = "BroadcastExchange".r.findAllIn(p).length
    assert(bc >= 2, s"query terms and stats must broadcast, got $bc:\n$p")
  }

  test("semantic decontamination: map-side cell selection, broadcast holdout") {
    val p = plan("q_semantic_decontam")
    // Cell selection on both sides is the broadcast-array form — no
    // |rows|×K expansion, no per-row window rank.
    assert(p.contains("array_min") || p.contains("array_sort"),
      s"cell selection must be the map-side array form:\n$p")
    assert(!p.contains("Window"), s"no window in the decontam plan:\n$p")
    // The eval-suite-sized holdout broadcasts into the cell join; the
    // corpus side must never be the build side of anything.
    assert("BroadcastHashJoin \\[cell#".r.findFirstIn(p).isDefined,
      s"holdout must broadcast into a cell equi-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("kmeans training's output plan reads checkpoints, never a product") {
    // The assignment cross joins run EAGERLY inside lloydInt (each round
    // is localCheckpoint'ed), so the returned frame's plan shows only the
    // final K-row join — which must read the materialized rounds, touch
    // nothing corpus-sized, and contain no product anywhere.
    val p = plan("q_kmeans_train")
    assert(p.contains("ExistingRDD"), s"expected checkpointed rounds:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Scan parquet"),
      s"final join must not rescan the corpus:\n$p")
  }

  test("bpe merges encode runs per distinct token type, not per occurrence") {
    val p = plan("q_token_bpe_merges")
    // The merge fold is the result projection of the distinct-type
    // aggregate (elided from the plan string), so the checkable shape is:
    // a tok-keyed distinct shuffle, whose (small) output broadcasts back
    // onto the per-(doc, tok) counts.
    assert(p.contains("hashpartitioning(tok"),
      s"expected the distinct-type shuffle on tok:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"encoded types must broadcast back:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("bpe 512-merge encode keeps the distinct-type join-back shape") {
    // Same contract as the 127-merge query, but through the
    // priority-merge mapPartitions path: encode still runs per DISTINCT
    // hex token (tok-keyed shuffle), the small encoded-type frame
    // broadcasts back, and the object-path encode appears as a
    // Serialize/Deserialize pair, never a product.
    val p = plan("q_token_bpe_512")
    assert(p.contains("hashpartitioning(tok"),
      s"expected the distinct-type shuffle on tok:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"encoded types must broadcast back:\n$p")
    assert(p.contains("SerializeFromObject"),
      s"expected the mapPartitions trie-encode stage:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("training-sequence assembly tokenizes in ONE pass") {
    val p = plan("q_train_sequences")
    // The token stream is checkpointed once; vocab, id-encode, EOS and
    // offset branches must all read it — a parquet scan in the final
    // plan means the regex pass is being re-run per branch (4 full
    // corpus scans at 100 TB).
    assert(p.contains("ExistingRDD"), s"expected checkpointed tokens:\n$p")
    assert(!p.contains("Scan parquet"),
      s"tokenizing pass re-run from parquet:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"no operator may demand a single partition:\n$p")
    // Per-doc offsets must come from the hierarchical prefix sum, never
    // a lang-PARTITIONED window (one task would sort every doc row of a
    // language — single-digit parallelism at corpus scale).
    assert(!p.contains("windowspecdefinition(lang#"),
      s"per-doc offsets use a lang-keyed window:\n$p")
  }

  test("keep-list and leakage split share ONE materialized components frame") {
    // Both queries' pairs+CC prefix resolves through the (session, dir)
    // memo: after either query plans, the other's plan reads the same
    // checkpointed components (ExistingRDD) and re-runs NO minhash
    // machinery — its only parquet scan is the corpus doc_id side.
    // Prime the memo explicitly so the assertions below hold under ANY
    // suite/test ordering, not just when an earlier test planned one of
    // the sharing queries first.
    PipelineQueries.dupComponents(spark, d)
    val k = plan("q_dedup_keeplist")
    assert(k.contains("ExistingRDD"), s"keep-list must read memoized CC:\n$k")
    val l = plan("q_leakage_safe_split")
    assert(l.contains("ExistingRDD"), s"split must read memoized CC:\n$l")
    val scans = "Scan parquet".r.findAllIn(l).length
    assert(scans == 1,
      s"leakage split must only scan the corpus id column, got $scans scans:\n$l")
  }

  test("dup-components memo is keyed per (session, dir), hit returns the same frame") {
    // Same dir → the SAME cached instance (no recompute); different dir
    // → a different frame with that dir's components, never a stale hit.
    val a1 = PipelineQueries.dupComponents(spark, d)
    val a2 = PipelineQueries.dupComponents(spark, d)
    assert(a1 eq a2, "second lookup must hit the memo")
    val b = PipelineQueries.dupComponents(spark, "/root/testdata/sf0.01")
    assert(!(a1 eq b))
    assert(a1.count() != b.count(),
      "different corpora must yield different component sets")
  }

  test("trained IVF search reads checkpointed training, broadcasts probes") {
    val p = plan("q_ivf_trained_topk")
    // Training rounds ran eagerly (localCheckpoint) — the search plan
    // must read them as materialized frames, join the corpus embeddings
    // back by vec_id, and broadcast the (queries × nProbe)-row probe
    // frame onto the cell-filtered corpus; ranking is the bounded heap.
    assert(p.contains("ExistingRDD"), s"expected checkpointed training:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"probes must broadcast onto the corpus:\n$p")
    assert(p.contains("TopKPerKey"),
      s"ranking must run on the bounded heap:\n$p")
    // The only product is queries × K centroids (bounded by construction);
    // nothing corpus-sized may appear under a nested-loop join.
    assert(!p.contains("CartesianProduct"), s"unexpected product:\n$p")
  }

  test("curation verdict is a single-shuffle window plan") {
    val p = plan("q_curation_verdict")
    // Window-min over dup_key: one hash exchange (plus the final sort),
    // and the corpus parquet is scanned exactly once.
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected a single documents scan, got $scans")
  }

  test("decontamination broadcasts the benchmark shingle set") {
    val p = plan("q_decontaminate")
    // The hit-marking join must be broadcast (eval sets are small); the
    // corpus side must never sort-merge on the shingle.
    assert(p.contains("BroadcastHashJoin"), s"bench side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("topk rewrite plans the heap operator, not a window") {
    val p = plan("q_topk_rewrite")
    assert(p.contains("TopKPerKey"))
    assert(!p.contains("WindowExec") && !p.contains("WindowGroupLimit"))
  }

  test("similarity scoring runs the codegen dot product, not HOF lambdas") {
    val p = plan("q_sim_topk")
    assert(p.contains("graft_dot"), s"expected graft_dot in:\n$p")
    assert(!p.contains("aggregate(zip_with"),
      "HOF fold must be fully replaced by the codegen expression")
  }

  test("unpivot is a per-row expand — no exchange before the final sort") {
    val p = plan("q_unpivot")
    // Expand (the unpivot operator) must sit directly on the scan side;
    // the only exchange is the rangepartitioning of the final orderBy.
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(p.contains("Expand"), s"expected Expand in:\n$p")
    assert(exchanges <= 2, s"expected only the final sort exchange(s), got $exchanges:\n$p")
  }

  test("bm25 final plan replays checkpointed frames, never the text scan") {
    // dl and the query-term rows are materialized (two text scans run
    // eagerly at build time); the returned plan must read only those
    // bounded frames — a parquet scan here means tf/df/stats re-explode
    // the corpus per consumer.
    val p = plan("q_bm25")
    assert(p.contains("ExistingRDD"), s"expected checkpointed frames:\n$p")
    assert(!p.contains("Scan parquet"),
      s"corpus re-exploded inside the scoring join:\n$p")
  }

  test("bm25 query-table scoring replays checkpoints and broadcasts the query terms") {
    // Same two-eager-scan contract as q_bm25, plus: the (query, doc)
    // fan-out join against the exploded query-term table must be
    // broadcast (queries are MB-scale), and the per-query ranking must
    // ride the bounded heap, never a per-query sort window.
    val p = plan("q_bm25_queries")
    assert(p.contains("ExistingRDD"), s"expected checkpointed frames:\n$p")
    assert(!p.contains("Scan parquet"),
      s"corpus re-exploded inside the scoring join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"query-term fan-out must broadcast:\n$p")
    assert(p.contains("TopKPerKey"),
      s"per-query ranking must run on the bounded heap:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("WindowGroupLimit"))
  }

  test("LM score vocabulary is TakeOrdered and broadcast") {
    val p = plan("q_lm_score")
    assert(p.contains("TakeOrderedAndProject"),
      "vocab top-N must never globally sort the vocabulary")
    assert(p.contains("BroadcastHashJoin"), "vocab must broadcast")
  }

  test("mix weights: pruned scan, domain-keyed partial agg, broadcast total") {
    val p = plan("q_mix_weights")
    // Only (source, n_chars) leave the parquet scan — never text.
    assert(p.contains("n_chars") && !p.contains("text:string"),
      s"scan must prune to (source, n_chars):\n$p")
    // The 1-row grand total joins back by broadcast; the corpus side
    // shuffles nothing but its per-domain partial sums.
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"total must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("length batches: rank is bucket-keyed prefix sum, no global sort window") {
    val p = plan("q_length_batches")
    // The length rank must come from the hierarchical prefix sum: a
    // bucket-PARTITIONED window, never an unpartitioned (single-task)
    // one, and no operator may demand a single partition.
    assert(p.contains("windowspecdefinition(__bucket"),
      s"expected the bucket-keyed prefix-sum window:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"no operator may demand a single partition:\n$p")
  }

  test("hard negatives: queries broadcast, ranking rides the bounded heap") {
    val p = plan("q_hard_negatives")
    // Label-mismatch scoring is a broadcast nested loop over the corpus
    // (non-equi by design); the corpus itself is never hash-shuffled for
    // the join, and ranking uses the heap operator, not a sort window.
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"queries must broadcast:\n$p")
    assert(p.contains("TopKPerKey"),
      s"per-query ranking must run on the bounded heap:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("WindowGroupLimit"))
  }

  test("corpus-scale hard negatives: pairing is an equi-join on cell, never a label nested loop") {
    val p = plan("q_hard_negatives_ivf")
    // The whole point of the IVF route vs q_hard_negatives: with |Q|=|C|
    // candidate pairing is a cell-keyed SHUFFLE equi-join of two
    // corpus-sized frames (neither side broadcasts), with the label
    // mismatch as a residual condition — never the label-predicate
    // nested loop the broadcast path uses. The only nested-loop nodes
    // allowed are the K-row centroid broadcasts (crossJoin(broadcast) —
    // type Cross, no label condition).
    assert("SortMergeJoin \\[cell|ShuffledHashJoin \\[cell".r
      .findFirstIn(p).isDefined,
      s"pairing must be a cell-keyed shuffle equi-join:\n$p")
    assert(!"BroadcastNestedLoopJoin[^\\n]*label".r.findFirstIn(p).isDefined,
      s"label scoring must never nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    assert(p.contains("TopKPerKey"),
      s"per-anchor ranking must run on the bounded heap:\n$p")
  }

  test("ivf-pq: ADC scoring joins codes against the broadcast table, no arrays past encode") {
    val p = plan("q_ivf_pq")
    // The compression contract: after encoding, the search touches only
    // (vec_id, sub, code) rows joined hash-equi against the broadcast
    // |Q|·m·K distance table; the only nested-loop nodes are the K-row
    // codebook broadcasts inside training/table building.
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[sub#".r
      .findFirstIn(p).isDefined,
      s"ADC lookup must be an equi-join on (sub, code):\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    assert(p.contains("TopKPerKey"),
      s"per-query ranking must run on the bounded heap:\n$p")
    // The scoring rows that feed the distance aggregation are NARROW —
    // (vec_id, q_vec_id, d) — the projection directly above the ADC join
    // must carry no array column. (qe/ce exist only inside the broadcast
    // table-build subtree and the checkpointed training stages.)
    assert("Project \\[vec_id#\\d+L?, q_vec_id#\\d+L?, d#\\d+L?\\]".r
      .findFirstIn(p).isDefined,
      s"post-join scoring rows must be the narrow (vec_id, q_vec_id, d):\n$p")
  }

  test("corpus overlap: the sketch path demands no hash shuffle") {
    // min over a multiset == min over its set: the bottom-1 sketch needs
    // neither distinct nor groupBy — each corpus must collapse map-side
    // to H longs (partial 1-row agg, Exchange SinglePartition only). The
    // one exchange ALLOWED is the guarded REPARTITION_BY_NUM core-count
    // spread of the one-row-group fixture scan (round 16): no OPERATOR
    // may demand a hash partitioning (ENSURE_REQUIREMENTS).
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val p = graft.dedup.Dedup
      .corpusOverlap(docs, docs, "text", numHashes = 8, withExact = false)
      .queryExecution.executedPlan.toString
    val demanded = p.linesIterator.filter(l =>
      l.contains("hashpartitioning") && !l.contains("REPARTITION_BY_NUM")).toSeq
    assert(demanded.isEmpty,
      s"sketch-only overlap must not DEMAND a hash shuffle:\n${demanded.mkString("\n")}\nplan:\n$p")
    assert(!p.contains("CartesianProduct"))
    // The spread is guarded: an already-core-parallel corpus passes
    // through with no hash exchange at all.
    import org.apache.spark.sql.functions.col
    val wide = docs
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .localCheckpoint(true)
    try {
      val pre = graft.dedup.Dedup
        .corpusOverlap(wide, wide, "text", numHashes = 8, withExact = false)
        .queryExecution.executedPlan.toString
      assert(!pre.contains("hashpartitioning"),
        s"spread must be a no-op on a core-parallel corpus:\n$pre")
    } finally graft.Ckpt.release(wide)
    // The full query's only DEMANDED hash shuffle is the exact twin's
    // 8-byte shingle-key groupBy; anything else must be the guarded spread.
    val full = plan("q_corpus_overlap")
    val fullDemanded = full.linesIterator.filter(l =>
      l.contains("hashpartitioning") && !l.contains("REPARTITION_BY_NUM") &&
        !l.contains("hashpartitioning(shingle#")).toSeq
    assert("hashpartitioning\\(shingle#".r.findAllIn(full).nonEmpty &&
      fullDemanded.isEmpty,
      s"full overlap may demand only the shingle-key shuffle:\n${fullDemanded.mkString("\n")}\nplan:\n$full")
  }

  test("cell drift: assignment is map-side array-argmin — no demanded vec_id shuffle, no window") {
    val p = plan("q_cell_drift")
    // Training is checkpointed out of this plan; the readout itself must
    // assign via the broadcast centroid ARRAY (no |corpus|×K row blowup,
    // no groupBy(vec_id) regroup) and shuffle only on the ≤K cell key.
    // The guarded REPARTITION_BY_NUM core-count spread of the
    // one-row-group fixture scan (round 16) is the one vec_id exchange
    // allowed; no OPERATOR may demand one (ENSURE_REQUIREMENTS).
    val demanded = p.linesIterator.filter(l =>
      l.contains("hashpartitioning(vec_id") &&
        !l.contains("REPARTITION_BY_NUM")).toSeq
    assert(demanded.isEmpty,
      s"cell assignment must not DEMAND a vec_id shuffle:\n${demanded.mkString("\n")}\nplan:\n$p")
    assert(!p.contains("Window"), s"no window in the drift readout:\n$p")
    assert(p.contains("array_min"),
      s"assignment must be the array-argmin form:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("residual ivf-pq: ADC join keyed by (query, cell, sub, code), heap-ranked, no product") {
    val p = plan("q_ivf_pq_residual")
    assert("BroadcastHashJoin \\[q_vec_id#".r.findFirstIn(p).isDefined,
      s"residual ADC lookup must be a broadcast equi-join on the (q_vec_id, cell, sub, code) key:\n$p")
    assert(p.contains("TopKPerKey"),
      s"per-query ranking must run on the bounded heap:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    // Probe-cell selection is the map-side array-sort form shared with
    // the rest of the family — the old |Q|×K crossJoin + row_number
    // window must not reappear anywhere in the search subtree.
    assert(!p.contains("Window"), s"no window in the probe subtree:\n$p")
  }

  test("non-residual ivf-pq probe: map-side probe ranking, no window, no product") {
    val p = plan("q_ivf_pq_probe")
    // Round 10 unified the last crossJoin+row_number probe ranking on the
    // shared probeCellsSql array-sort form — pin it the same way as the
    // residual path so the window cannot quietly come back.
    assert(!p.contains("Window"), s"no window in the probe subtree:\n$p")
    assert(p.contains("TopKPerKey"),
      s"per-query ranking must run on the bounded heap:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("knn graph: map-side probe/assign, bounded-heap rank, no window, no product") {
    // The declared query replays the memoized checkpointed edge frame,
    // so probe the BUILD's plan directly on the parquet fixture.
    val p = graft.similarity.Ivf
      .knnEdges(
        graft.queries.Tables.embeddings(spark, d),
        (0 until 8).map(_ * 37L), 2, 4)
      .queryExecution.executedPlan.toString
    // Probe selection and cell assignment are the map-side array forms
    // shared with the rest of the fixed-centroid family.
    assert(p.contains("array_min") && p.contains("array_sort"),
      s"assignment must be the array-argmin / array-sort form:\n$p")
    assert(!p.contains("Window"), s"no window anywhere in the graph build:\n$p")
    assert(p.contains("TopKPerKey"),
      s"per-query ranking must run on the bounded heap:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("semantic commit: map-side argmin assignment, no vec_id shuffle, no window") {
    val p = plan("q_semantic_commit")
    assert(p.contains("array_min"),
      s"assignment must be the array-argmin form:\n$p")
    assert(!p.contains("Window"), s"no window in the commit fold:\n$p")
    assert(!p.contains("hashpartitioning(vec_id"),
      s"the fold must not shuffle on vec_id:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("quality drift: histograms collapse before the readout, no window, no product") {
    val p = plan("q_quality_drift")
    assert(!p.contains("Window"), s"no window in the drift readout:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    // The readout's totals ride 1-row broadcast joins over the level
    // histograms — partial aggregation must appear under the level key.
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"level histogram must partial-aggregate:\n$p")
  }

  test("unicode nfc: pruned two-column scan, expression in the projection") {
    val p = plan("q_unicode_nfc")
    assert(p.contains("nfc_normalize"),
      s"the codegen expression must appear in the plan:\n$p")
    assert("ReadSchema: struct<doc_id:bigint,text:string>".r
      .findFirstIn(p).isDefined,
      s"scan must read only (doc_id, text):\n$p")
    assert(!p.contains("hashpartitioning"),
      s"per-row normalize must not shuffle (range sort only):\n$p")
  }

  test("gopher filters: one scan, rules on arrays, no explode, no join") {
    val p = plan("q_gopher_filters")
    // Every rule is a higher-order expression over split() arrays — one
    // row in, one row out. A Generate (explode) would multiply the 100 TB
    // corpus by words-per-doc before aggregating it right back.
    assert(!p.contains("Generate"),
      s"the battery must not explode the corpus:\n$p")
    // The quality blend rides the same projection as the battery counts
    // — composing the two signals must never shuffle the corpus through
    // a doc-keyed self-join.
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"battery + quality must be ONE scan, not a self-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("pagerank: vertex-keyed joins only — no window, no product") {
    val p = plan("q_graph_pagerank")
    // Synchronous power iteration is joins + partial aggs; a Window or a
    // product anywhere means the recurrence degenerated to per-vertex
    // global state.
    assert(!p.contains("Window"), s"no window in the iteration:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("sentence dedup: keeper election is a keyed agg + hash join, no window") {
    val p = plan("q_sentence_dedup")
    // The global keep-first election must be groupBy(sh).min(struct) —
    // map-side combinable — joined back on the hash, never a corpus-wide
    // window over sentence hashes.
    assert(!p.contains("Window"), s"no window in the election:\n$p")
    assert(p.contains("hashpartitioning(sh"),
      s"the election must shuffle on the 8-byte sentence hash:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("ngram novelty: one shingle-keyed join, doc-keyed agg, no window, no product") {
    val p = plan("q_ngram_novelty")
    assert(!p.contains("Window"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("dialogue pairs: the only window is conversation-keyed") {
    val p = plan("q_dialogue_pairs")
    assert(p.contains("Window"), "the context frame is a window")
    // every window spec must partition by conv_id — an unpartitioned
    // one would serialize the whole transcript through one task
    val specs = "windowspecdefinition\\(([^,]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("conv_id")),
      s"window must be conv_id-keyed, got specs $specs:\n$p")
  }

  test("split audit: pair and split sides join keyed, no product") {
    val p = plan("q_split_audit")
    assert(!p.contains("CartesianProduct"))
    // the readout collapses to <=9 rows before ordering
    assert(p.contains("hashpartitioning"), "the pair join is keyed")
  }

  test("source drift: histograms collapse before the 1-row compose") {
    val p = plan("q_source_drift")
    // The full-outer of the two histogram frames is histogram-sized
    // (≤ |sources| rows/side) — the corpus never reaches a join; what
    // must not appear is a window or a row-level product.
    assert(!p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
    // corpus scans feed straight into partial aggregation
    assert(p.contains("HashAggregate"))
  }

  test("dedup explain: banded candidate join keyed on (band, bh), no product") {
    val p = plan("q_dedup_explain")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Window"))
  }

  test("embedding quality: pure per-row battery — no join, no hash shuffle") {
    val p = plan("q_embedding_quality")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"))
    assert(!p.contains("hashpartitioning"),
      s"row-local battery must not shuffle (range sort only):\n$p")
  }
}
