package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}

/** Physical-plan assertions for representative queries — the scale
  * properties SURVEY §5 promises must be visible in the plan, not just
  * hoped for: dimension joins broadcast, filters and projections reach
  * the parquet scan, and per-group top-k runs through the rank-limit
  * pushdown (WindowGroupLimit) so the sort never materializes whole
  * groups.
  */
class PlanSpec extends GraftSuite {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString

  /** Every node of the plan that ran: the final adaptive plan, through
    * query stages, reused exchanges and subqueries — never AQE's
    * pre-adaptive "Initial Plan", which `toString` also prints.
    * `intoReused = false` stops at a reused exchange, so each node that
    * ran is listed once. */
  private def executedNodes(p: SparkPlan, intoReused: Boolean = true): Seq[SparkPlan] =
    p match {
      case a: AdaptiveSparkPlanExec => executedNodes(a.executedPlan, intoReused)
      case q: QueryStageExec => q +: executedNodes(q.plan, intoReused)
      case r: ReusedExchangeExec => r +: (if (intoReused) executedNodes(r.child) else Nil)
      case n => n +: (n.children ++ n.subqueries).flatMap(executedNodes(_, intoReused))
    }

  private def ran[T <: SparkPlan](p: SparkPlan)(implicit t: ClassTag[T]): Boolean =
    executedNodes(p).exists(t.runtimeClass.isInstance)

  /** The delta pins' shape: the plan that ran broadcast a join and
    * sort-merged none, so nothing it streams went through an exchange. */
  private def assertBroadcastOnly(p: SparkPlan, why: String): Unit = {
    assert(ran[BroadcastHashJoinExec](p), p)
    assert(!ran[SortMergeJoinExec](p), s"$why\n$p")
  }

  test("executed-plan walk reads the final plan, not AQE's initial plan") {
    // A filter the static planner cannot size keeps the range at its
    // 16 MB estimate, so the initial plan sort-merges; at run time the
    // build side holds 5 rows and AQE replans the join as a broadcast.
    val big = spark.range(2000000L)
    val small = spark.range(2000000L).filter("id % 400000 = 0")
    val qe = big.join(small, "id").queryExecution
    qe.executedPlan.execute().count()
    val nodes = executedNodes(qe.executedPlan)
    assert(qe.executedPlan.toString.contains("SortMergeJoin"), qe.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]), qe.executedPlan)
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]), qe.executedPlan)
  }

  test("a2: dim join is a broadcast hash join with pruned, filtered scans") {
    val p = plan("a2_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // lineitem scan reads only the two needed columns.
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_quantity:double>"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey)]"), p)
  }

  test("a3: multiway join broadcasts every dim and pushes the region filter") {
    val p = plan("a3_join_multiway")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, p)
    assert(p.contains("EqualTo(r_name,ASIA)"),
      s"region filter must reach the parquet scan\n$p")
  }

  test("a7/a9: per-group top-k uses partial+final WindowGroupLimit") {
    for (q <- Seq("a7_window_topk", "a9_dedup_first_by_key")) {
      val p = plan(q)
      assert("WindowGroupLimit".r.findAllIn(p).size == 2,
        s"$q should run rank-limit pushdown on both sides of the shuffle\n$p")
    }
  }

  test("f1: document scan is pruned to the referenced columns") {
    val p = plan("f1_token_stats")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("d5/e1: vector scoring runs the native graft_dot expression") {
    for (q <- Seq("d5_neardup_embedding", "e1_knn_bruteforce")) {
      val p = plan(q)
      assert(p.contains("graft_dot"), s"$q should score via ArrayDot\n$p")
    }
  }

  test("g10/g12: the stateful lambdas cost exactly one user_id shuffle") {
    for (q <- Seq("g10_stream_funnel", "g12_stream_sessionize")) {
      val p = plan(q)
      assert(p.contains("MapGroups"),
        s"$q should execute the flatMapGroupsWithState lambda\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"$q should shuffle once on the grouping key, nothing more\n$p")
    }
  }

  test("g13: attribution is an equi-join on user_id, never a cross product") {
    val p = plan("g13_stream_attribution")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"interval predicate must ride the user_id equi-join as a residual\n$p")
    assert(p.contains("EqualTo(event_type,click)"),
      s"click filter must reach the scan\n$p")
    assert(p.contains("EqualTo(event_type,purchase)"),
      s"purchase filter must reach the scan\n$p")
  }

  test("e11: the index delta broadcasts both serving structures") {
    val q = SparkEntry.queries("e11_ann_incremental")(spark, sfDir)
    val p = q.queryExecution.executedPlan.toString
    // Centroid assignment: broadcast(centroids) under a crossJoin —
    // a broadcast nested loop by construction, never a shuffle of the
    // slice against the centroid set.
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid assignment must broadcast the centroid dim\n$p")
    // Code assignment: the codebook rides a broadcast hash join.
    assert(p.contains("BroadcastHashJoin"),
      s"codebook join must broadcast\n$p")
  }

  test("a37: both rank windows and the final agg share one collection-key exchange") {
    val p = plan("a37_rank_correlation")
    // Expected: one (coll, member) exchange for the member collapse,
    // then ONE (coll) exchange serving BOTH row_number windows (same
    // partition key, two sorts over one shuffle) AND the final
    // per-collection aggregate (already partitioned — no third
    // exchange). A plan that re-shuffled per window or for the agg
    // would read 3+.
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 2, s"expected 2 exchanges (member collapse + one shared coll), got $n\n$p")
    assert("\\bWindow\\b".r.findAllIn(p).size >= 2, s"both rank windows must plan\n$p")
  }

  test("d15: each pair side shuffles once; the dedup partitioning feeds the join") {
    val p = plan("d15_dedup_eval")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // The (pa, pb) distinct leaves each side hash-partitioned on the
    // exact join key, so the full-outer join adds NO exchange of its
    // own: the only (pa, pb) exchanges are the two dedup shuffles
    // (everything upstream keys on shingles/buckets/ids, and the
    // single-row aggregate exchanges partial rows, not pairs).
    val pairExchanges = "Exchange hashpartitioning\\(pa".r.findAllIn(p).size
    assert(pairExchanges == 2,
      s"expected exactly 2 pair-key exchanges (one dedup per side), got $pairExchanges\n$p")
  }

  test("d16: componentsDelta's delta plan never shuffles the assignment") {
    // The serving contract: the corpus-sized (id, comp) assignment is
    // SCANNED (broadcast-probe joins), never shuffled. The delta
    // probes the assignment with the local rep remap, so that join
    // must resolve as a BroadcastHashJoin — a SortMergeJoin anywhere
    // in the delta plan means the assignment went through an exchange.
    // The slice bridges two old components (5's and 30's), so the
    // remap is not empty: a slice that relabels no old component
    // leaves the delta a local frame with no join to pin.
    val ss = SparkTestBase.spark
    import ss.implicits._
    val chain = ((1L until 20L) ++ (30L until 40L)).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val asg = graft.operators.Graph.connectedComponents(chain)
    val delta = graft.operators.Graph.componentsDelta(asg,
      Seq((1000L, 5L), (1001L, 1000L), (1001L, 30L)).toDF("id_a", "id_b"))
    // STATIC pin (r18): the delta emission's own plan — a local remap
    // (exact statistics) against the stats-less assignment scan — must
    // already be all-broadcast BEFORE execution. The post-AQE
    // assertion below passes on tiny test frames even when the static
    // plan sort-merges (AQE converts at runtime AFTER shuffling the
    // assignment map-side), so only this pre-execution pin proves the
    // static shape.
    val staticP = delta.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!staticP.contains("SortMergeJoin"),
      s"componentsDelta's delta emission must broadcast STATICALLY " +
        s"(stats-less cuts cannot rely on AQE)\n$staticP")
    val qe = delta.queryExecution
    qe.executedPlan.execute().count()
    // Assert on the plan that ran (the executed-tree walk) — AQE's
    // toString keeps the pre-adaptive Initial Plan section, whose
    // provisional SMJs are exactly what adaptivity replaces.
    assertBroadcastOnly(qe.executedPlan, "componentsDelta must never shuffle the assignment")
  }

  test("p4: ingest composition broadcasts its dims, never a cartesian product") {
    // The composed daily plan inherits every part's shape: the IVF
    // centroid dim rides e11's broadcast nested loop, the per-doc
    // verdict joins are hash joins, and nothing degenerates to a
    // cartesian product.
    val q = SparkEntry.queries("p4_ingest_pipeline")(spark, sfDir)
    val qe = q.queryExecution
    // Execute and assert on the FINAL adaptive plan (the d16/b4
    // discipline) — the unexecuted initial plan can differ from what
    // AQE actually runs.
    qe.executedPlan.execute().count()
    val p = qe.executedPlan
    assert(!ran[CartesianProductExec](p), p)
    // The walk reaches the BNLJ (the p5 test's rationale): at the tiny
    // test SF, AQE's stage layout can print the centroid subtree behind
    // a reused query-stage reference, dropping the literal from the
    // final-plan section while the join still executes.
    assert(ran[BroadcastNestedLoopJoinExec](p),
      s"centroid assignment must broadcast the centroid dim\n$p")
    assert(ran[BroadcastHashJoinExec](p), p)
  }

  test("p5: the serving plan broadcasts its dims, no cartesian, confirm never shuffles the index by id") {
    // The serving DAG inherits every part's shape on RELOADED dims:
    // centroid assignment rides e11's broadcast nested loop, the
    // verdict joins are hash joins, nothing degenerates to a
    // cartesian — and the persisted-sizes path means no corpus-sized
    // aggregation re-derives n_old per cycle (the sizes dim joins on
    // matched old ids only).
    val q = SparkEntry.queries("p5_serving_ingest")(spark, sfDir)
    val qe = q.queryExecution
    qe.executedPlan.execute().count()
    val p = qe.executedPlan
    assert(!ran[CartesianProductExec](p), p)
    // The BNLJ is probed by walking the executed tree, not the final-
    // plan SECTION of the string: after the r18 broadcast hints, AQE's
    // stage layout at the tiny test SF prints the vector leg's centroid
    // subtree behind a reused query-stage reference, dropping the
    // literal from that section while the join itself still executes
    // (it stays visible in the sf0.1 executed dumps,
    // plans/r18/p5_*_executed_after.txt).
    assert(ran[BroadcastNestedLoopJoinExec](p),
      s"centroid assignment must broadcast the centroid dim\n$p")
    assert(ran[BroadcastHashJoinExec](p), p)
  }

  test("d17: the gram dim is streamed under broadcast joins, never shuffled") {
    // Same contract as the d16/b4 pins, for the span family's dim:
    // the slice gram set is eagerly checkpointed, so the corpus
    // gram-count dim resolves as the streamed side of a broadcast
    // semi-join and nothing in the delta plan sort-merges.
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sfDir, "documents")
    val dim = graft.operators.Corpus.gramCounts(
      docs.filter(col("doc_id") % 10 =!= 0), "text", n = 3)
    val delta = graft.operators.Corpus.dupSpansAgainst(dim,
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", n = 3)
    val qe = delta.queryExecution
    qe.executedPlan.execute().count()
    assertBroadcastOnly(qe.executedPlan, "dupSpansAgainst must never shuffle the gram dim")
  }

  test("b4: transitiveClosureDelta's delta plan never shuffles the closure") {
    // Same contract as the d16 pin: the corpus-sized closure is the
    // streamed side of broadcast joins (the slice semi-probe and the
    // bounded anti-join) — an SMJ would mean it went through an
    // exchange.
    val ss = SparkTestBase.spark
    import ss.implicits._
    val edges = (2L until 40L).map(i => (i, i / 2)).toDF("src", "dst")
    val c = graft.operators.Graph.transitiveClosure(edges)
    // (6, 3) re-adds a known edge so the known-pair anti-join has a
    // non-empty build side — with zero overlap AQE deletes the join
    // from the final plan entirely (also fine, but then there is no
    // join shape to pin).
    val delta = graft.operators.Graph.transitiveClosureDelta(c,
      Seq((1000L, 9L), (1001L, 1000L), (6L, 3L)).toDF("src", "dst"))
    // STATIC pin (r18): the known-pair subtraction must broadcast
    // BEFORE execution (the d16 static-pin rationale — subtractKnown's
    // hinted build sides).
    val staticP = delta.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!staticP.contains("SortMergeJoin"),
      s"transitiveClosureDelta's subtraction must broadcast STATICALLY\n$staticP")
    val qe = delta.queryExecution
    qe.executedPlan.execute().count()
    assertBroadcastOnly(qe.executedPlan, "transitiveClosureDelta must never shuffle the closure")
  }

  test("b5: reachableToDelta's delta plan never shuffles the cones") {
    // Same contract as the b4/d16/d17 pins, for the cone-only delta:
    // the cones are the (potentially corpus-sized) serving state and
    // must appear only as the streamed side of broadcast joins — an
    // SMJ anywhere in the delta plan means a cone went through an
    // exchange, silently reintroducing the shuffle cost the operator
    // exists to avoid.
    val ss = SparkTestBase.spark
    import ss.implicits._
    import org.apache.spark.sql.functions.col
    // (6, 3) re-adds a known edge (the b4-pin trick) so the
    // known-pair subtraction has a non-empty overlap — with zero
    // overlap AQE deletes the join from the final plan entirely and
    // there is no shape left to pin. The segment-composition joins
    // upstream sit behind delta0's lineage cut and are covered by
    // the b4 pin (one shared `compose` body); what THIS pin covers
    // is the subtraction against the corpus-sized target cone.
    val edges = (2L until 40L).map(i => (i, i / 2)).toDF("src", "dst")
    val targets = Seq(1L, 3L).toDF("dst")
    val coneT = graft.operators.Graph.reachableTo(edges, targets)
    val newE = Seq((41L, 12L), (42L, 41L), (6L, 3L)).toDF("src", "dst")
    val coneS = graft.operators.Graph.reachableTo(edges,
      newE.select(col("src").as("dst")))
    val qe = graft.operators.Graph
      .reachableToDelta(targets, coneT, coneS, newE).queryExecution
    qe.executedPlan.execute().count()
    assertBroadcastOnly(qe.executedPlan, "reachableToDelta must never shuffle the cones")
  }

  test("b5: revalidateDelta probes the verdict frame, never shuffles it") {
    // Same contract as the d16/b4/d17 pins, for the members side: the
    // verdict frame is the corpus-sized serving state, the closure
    // delta the slice-bounded dim — the flip probe must resolve as a
    // broadcast semi-join with the delta on the build side, never an
    // exchange of the verdicts.
    val ss = SparkTestBase.spark
    import ss.implicits._
    val edges = (2L until 40L).map(i => (i, i / 2)).toDF("src", "dst")
    val c = graft.operators.Graph.transitiveClosure(edges)
    val members = (2L until 40L).map(i => (i, i, 3L)).toDF("id", "typ", "target")
    val v = graft.operators.Graph.validateReachable(members, c, "typ", "target")
    val delta = graft.operators.Graph.transitiveClosureDelta(c,
      Seq((41L, 12L)).toDF("src", "dst"))
    val qe = graft.operators.Graph.revalidateDelta(v, delta, "typ", "target")
      .queryExecution
    qe.executedPlan.execute().count()
    assertBroadcastOnly(qe.executedPlan, "revalidateDelta must never shuffle the verdict frame")
  }

  test("a21: asof join costs exactly its two keyed shuffles, filters pushed") {
    val p = plan("a21_asof_join")
    // One exchange for the right-side (user, ts) dedup agg, one for the
    // union + running-window on user — and nothing else (no range join,
    // no per-row probe, no extra distribution).
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert(p.contains("EqualTo(event_type,purchase)"), "purchase filter must reach the scan")
    assert(p.contains("EqualTo(event_type,click)"), "click filter must reach the scan")
  }

  test("a25: overlap ranking runs rank-limit pushdown; size joins broadcast") {
    val p = plan("a25_related_collections")
    assert("WindowGroupLimit".r.findAllIn(p).size == 2,
      s"directed top-5 must prune on both sides of the shuffle\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"sizes joins on the ranked survivors should broadcast\n$p")
  }

  test("a24/a26/a27: round-3 dims broadcast, no sort-merge fallback") {
    // a24's relation edges, a26's type-frequency table and a27's
    // unigram-frequency model are all dim-sized: every join in these
    // plans must be a broadcast, or at 100 TB the fact side pays a
    // full shuffle for a lookup table.
    for (q <- Seq("a24_merge_by_relation", "a26_assign_banner_emoji",
                  "a27_name_logprob")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$q should broadcast its dim\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q must not shuffle a dim join\n$p")
    }
  }

  test("d6: lsh pair generation never falls back to a nested loop") {
    val p = plan("d6_neardup_embedding_lsh")
    assert(!p.contains("CartesianProduct"), s"d6 must not be all-pairs\n$p")
    // The bucket self-join keys on (table, bucket) — a real equi-join.
    assert(p.contains("graft_dot"), s"rescoring should run ArrayDot\n$p")
  }

  test("p1: composed pipeline prunes the unused namehash and never nests loops") {
    val p = plan("p1_pipeline")
    // p1 selects every build output EXCEPT namehash — if pruning works
    // through the 9-stage composition, the keccak expression must not
    // appear anywhere in the executed plan.
    assert(!p.contains("graft_namehash") && !p.contains("keccak"),
      s"unused namehash must be pruned out of the composed pipeline\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // The relation-merge stage (where the broadcast() hints live) is
    // checkpoint-materialized inside build() before the tail plan
    // exists, so its joins cannot be asserted here — the remap
    // broadcast is asserted on the stage itself below.
  }

  test("p1 relation stage: the remap join broadcasts, members side never shuffles") {
    // Reconstruct the member-remap join exactly as build() plans it:
    // a broadcast()-hinted dim join — the membership fact side must
    // not hash-exchange for it.
    import org.apache.spark.sql.functions._
    val members = graft.queries.GroupP.membersOf(spark, sfDir)
    val remap = broadcast(
      graft.queries.GroupP.relationsOf(spark, sfDir)
        .select(col("category_id").as("old_id"), col("list_id").as("new_id")))
    val p = members
      .join(remap, members("collection_id") === remap("old_id"), "left")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"remap join must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("g4: hopping windows aggregate the event table once, fan-out after") {
    val p = plan("g4_hopping_counts")
    // The native window() slide path Expands every event 3× BEFORE the
    // big aggregation; the two-level form must not — one full-table
    // agg (exchange 1), then the tiny bucket table explodes into its
    // 3 covering windows and re-aggregates (exchange 2).
    assert(!p.contains("Expand"), s"events must not be tripled pre-agg\n$p")
    assert(p.contains("Generate explode"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("f7: percentile scan reads only lang and text") {
    val p = plan("f7_token_percentiles")
    assert(p.contains("ReadSchema: struct<text:string,lang:string>") ||
      p.contains("ReadSchema: struct<lang:string,text:string>"), p)
  }

  test("a4: allowlist filter stays a LEFT SEMI broadcast join") {
    val p = plan("a4_semijoin_allowlist")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("Broadcast"), p)
  }

  test("f9: chunking is a single narrow pass — no exchange at all") {
    val p = plan("f9_chunk_windows")
    assert(!p.contains("Exchange"),
      s"chunking must stay embarrassingly parallel (zero shuffles)\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("c6: custom-collections shaping is a single narrow pass — no exchange") {
    // fromCustom's contract: JSON parse + array HOFs only, so the
    // whole shaping stage is embarrassingly parallel at any corpus
    // size. An exchange here would mean an accidental explode+groupBy
    // crept back in.
    val p = plan("c6_custom_jsonl")
    assert(!p.contains("Exchange"),
      s"custom-collections shaping must stay zero-shuffle\n$p")
  }

  test("a34: emoji tokenization is a narrow projection — no exchange") {
    val p = plan("a34_emoji_tokenize")
    assert(!p.contains("Exchange"), s"tokenization must not shuffle\n$p")
    assert(p.contains("ReadSchema: struct<p_name:string,p_partkey:bigint>") ||
      p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string>"),
      s"scan must prune to the two referenced columns\n$p")
  }

  test("f12: packing costs its window shuffle plus the final agg, nothing more") {
    val p = plan("f12_pack_sequences")
    // chunk fan-out (narrow) → join source (broadcastable dim at this
    // size) → ONE hash exchange for the per-source window → one for
    // the (source, seq_id) aggregation. Anything beyond that is a
    // regression.
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("f8: tf-idf scoring joins broadcast the df model and corpus size") {
    val p = plan("f8_tfidf")
    // The (term → df) model and the 1-row corpus count are dims next
    // to the (doc, term) fact: both must broadcast — the count by
    // hint, the df model by size (the hint was dropped: vocabulary
    // grows with the corpus, AQE decides at runtime) — and the
    // per-doc top-3 must run the rank-limit pushdown.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row corpus count joins as a broadcast nested loop\n$p")
    assert(!p.contains("SortMergeJoin"), s"df model must not shuffle the fact side\n$p")
    assert("WindowGroupLimit".r.findAllIn(p).size == 2, p)
  }

  test("d9: the benchmark shingle set broadcasts into the corpus join") {
    val p = plan("d9_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark shingles are dim-sized and must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("f16: mixture rates broadcast back; the corpus never shuffles") {
    // The corpus is touched exactly twice (domain counts + the keep
    // filter); the |domains|-row rate table must come back as a
    // broadcast join — a sort-merge here would shuffle the whole
    // corpus to apply a handful of rates.
    val p = plan("f16_domain_mixture")
    assert(p.contains("BroadcastHashJoin"),
      s"rate table is |domains| rows and must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    // The 1-row feasible-total frame joins as a broadcast nested
    // loop, never an unbroadcast cartesian.
    assert(!p.contains("CartesianProduct"), p)
  }

  test("f17: bucket verdicts broadcast back; only the boundary window remains") {
    // The |buckets|-row verdict table is computed ONCE (checkpointed —
    // both union branches consume it) and must come back as a
    // broadcast join (a sort-merge would shuffle the corpus to apply
    // ~100 verdicts). The registered plan then contains exactly one
    // window: the boundary-bucket cumsum, whose input is already
    // filtered to the single straddling bucket — the corpus-wide
    // cumulative sort the oracle commits never appears.
    val p = plan("f17_token_budget")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket verdicts are |buckets| rows and must broadcast\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert("Window ".r.findAllIn(p).size == 1, p)
  }

  test("f18: epoch materialization is a narrow explode — no exchange") {
    val p = plan("f18_epoch_mix")
    assert(!p.contains("Exchange"),
      s"epoch fan-out must stay embarrassingly parallel\n$p")
    assert(p.contains("Generate explode"), p)
  }

  test("d12: the span cut joins gram-keyed — nothing nests or crosses") {
    val p = plan("d12_dup_span_cut")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // covered-positions aggregation is map-side combinable
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
  }

  test("f19: weighted sampling plans as TakeOrderedAndProject, never a global sort") {
    val p = plan("f19_weighted_sample")
    // Efraimidis–Spirakis top-n must run as per-partition heaps + one
    // driver merge of n rows; a rangepartitioning exchange would mean
    // the corpus is globally sorted just to keep 120 rows.
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("rangepartitioning"),
      s"global sort materialized for a top-n\n$p")
  }

  test("f20: the cms sketch never nests or crosses") {
    val p = plan("f20_cms_counts")
    // Build, probe and confirm are all keyed joins/aggs: any nested
    // loop here would mean the counter dim stopped joining on (i,pos).
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("b9: pair generation joins keyed, no nested loops; scans pruned") {
    val p = plan("b9_types_to_validate")
    // Both join sides are corpus-scale (memberships × the member-type
    // dim keyed on article), so keyed shuffles are right and the pin
    // is the absence of anything worse.
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ReadSchema: struct<p_partkey:bigint>"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>"), p)
  }

  test("b10: audit joins keyed; only the 1-row assembly nests") {
    val p = plan("b10_type_coverage_audit")
    assert(!p.contains("CartesianProduct"), p)
    // The single nested-loop is the broadcast cross-join gluing the
    // two 1-row audit branches (the a40 pattern).
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p)
    // The multi-count-distinct runs through Expand (one grouping per
    // distinct spec) — the exact oracle form; approx_count_distinct
    // is the declared 100 TB shape.
    assert(p.contains("Expand"), p)
  }

  test("b10/a38 approx twins: Expand gone, quartile sort gone — the scale shapes") {
    // b10's declared 100 TB form: approx_count_distinct folds the
    // four distinct specs into ONE pass — the Expand multiplication
    // (one grouping per distinct spec, pinned present on the exact
    // form above) must disappear, and the plan must not grow
    // exchanges.
    val pa = graft.queries.GroupB.typeCoverageAuditOf(spark, sfDir, approx = true)
      .queryExecution.executedPlan.toString
    assert(!pa.contains("Expand"), pa)
    assert("BroadcastNestedLoopJoin".r.findAllIn(pa).size == 1, pa)
    val pe = plan("b10_type_coverage_audit")
    assert("Exchange".r.findAllIn(pa).size < "Exchange".r.findAllIn(pe).size,
      s"approx form should need fewer exchanges\n$pa")
    // a38's twin: the per-series ordinals sort-window is replaced by
    // one bounded-buffer sketch agg (ObjectHashAggregate — bounded by
    // the accuracy parameter, unlike exact `percentile`'s unbounded
    // value-count map), so the plan must carry strictly fewer sorts.
    val qa = graft.queries.GroupA4.rankDescribeOf(spark, sfDir, approxQuartiles = true)
      .queryExecution.executedPlan.toString
    val qe = plan("a38_rank_describe")
    assert(qa.contains("ObjectHashAggregate"), qa)
    assert("Sort ".r.findAllIn(qa).size < "Sort ".r.findAllIn(qe).size,
      s"approx form should drop the quartile sort window\n$qa")
  }

  test("a25: the dfCap over-cap anti join broadcasts in the executed plan") {
    // a25's overlapPairs(dfCap=40) cuts ubiquitous members via a LEFT
    // ANTI against the over-cap element set (Relational.scala:147),
    // relying on AQE to broadcast the E/dfCap-bounded build side. The
    // registered query eagerly cuts (localCheckpoint) the pair set, so
    // the anti join is invisible in its final plan — this spec runs the
    // same body up to the cut and pins the runtime decision: the anti
    // join must finalize as a broadcast, never a shuffled SMJ of the
    // whole edge set.
    import org.apache.spark.sql.functions._
    val c = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> c.getOption(k)).toMap
    try {
      // Disable STATIC broadcast planning but keep the ADAPTIVE
      // threshold: the initial plan is then forced to SMJ (what a
      // session with poor stats would plan — the r6 bench worry) and
      // only AQE's accurate runtime sizes can rescue it, which is
      // precisely the mechanism this spec exists to pin.
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
      val mem = Tables(spark, sfDir, "lineitem")
        .select(col("l_orderkey").as("coll"), col("l_partkey").as("member"))
        .distinct()
      // Testdata precondition, asserted FIRST: the over-cap set must
      // be non-empty, or AQE's empty-relation propagation eliminates
      // the anti join entirely and the broadcast assertion below
      // would fail with the mechanism under test perfectly healthy —
      // a regenerated-testdata failure must read as this named
      // precondition, not a planner regression.
      val maxDf = mem.groupBy("member").count()
        .agg(max(col("count"))).head().getLong(0)
      assert(maxDf > 40L,
        s"precondition: no member exceeds dfCap=40 (max df $maxDf) — " +
          "regenerated testdata? lower the test's dfCap")
      val undirected = operators.Relational
        .overlapPairs(mem, "coll", "member", dfCap = 40L)
        .filter(col("overlap") >= 2)
      val qe = undirected.queryExecution
      // Execute THIS QueryExecution so its adaptive plan finalizes.
      qe.executedPlan.execute().count()
      // AdaptiveSparkPlanExec prints BOTH "Final Plan" and "Initial
      // Plan" sections once they diverge; the conversion under test
      // GUARANTEES they diverge here, so the asserts walk the plan
      // that ran.
      val nodes = executedNodes(qe.executedPlan)
      assert(nodes.exists { case j: BroadcastHashJoinExec => j.joinType == LeftAnti; case _ => false },
        s"over-cap anti join must broadcast\n${qe.executedPlan}")
      assert(!nodes.exists { case j: SortMergeJoinExec => j.joinType == LeftAnti; case _ => false },
        s"edge set must not shuffle for the dfCap cut\n${qe.executedPlan}")
    } finally saved.foreach { case (k, v) =>
      v.fold(c.unset(k))(c.set(k, _))
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    // SURVEY §5 claims "AQE skew handling" for fact-fact joins — prove
    // the rewrite actually fires on this session's Spark: a 90%-hot
    // key lands one shuffle partition far over the skew threshold and
    // the executed adaptive plan must show the partition split
    // (SortMergeJoin(skew=true) reading an AQEShuffleRead skewed).
    // Thresholds are lowered because local test data is tiny; the
    // mechanism, not the defaults, is under test.
    import org.apache.spark.sql.functions._
    val c = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> c.getOption(k)).toMap
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.enabled", "true")
      c.set("spark.sql.adaptive.skewJoin.enabled", "true")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      c.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val left = spark.range(500000).select(
        when(col("id") % 10 < 9, lit(1L)).otherwise(col("id") % 1000 + 2).as("k"),
        col("id").as("v"))
      val right = spark.range(2000).select((col("id") % 1100).as("k"), col("id").as("w"))
      val j = left.join(right, "k")
      val qe = j.queryExecution
      // Execute THIS QueryExecution so its adaptive plan finalizes —
      // a .count()/.write would run a different plan instance.
      qe.executedPlan.execute().count()
      val p = qe.executedPlan.toString
      assert(p.contains("skew=true") && p.contains("AQEShuffleRead skewed"),
        s"AQE must split the hot partition\n$p")
    } finally saved.foreach { case (k, v) =>
      v.fold(c.unset(k))(c.set(k, _))
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffled dim join") {
    // At 100 TB a dim too big to broadcast still shouldn't cost the
    // fact side a full shuffle of non-matching rows: Spark's runtime
    // bloom filter (InjectRuntimeFilter) builds a bloom_filter_agg on
    // the filtered dim and plants might_contain() on the fact scan.
    // Local parquet is below the default application-side threshold,
    // so the spec lowers it to prove the rewrite fires for our
    // fact-dim join shape under sort-merge conditions.
    import org.apache.spark.sql.functions._
    val c = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> c.getOption(k)).toMap
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = Tables(spark, sfDir, "lineitem").select(col("l_partkey"), col("l_quantity"))
      val pt = Tables(spark, sfDir, "part").filter(col("p_size") === 1)
        .select(col("p_partkey"))
      val p = li.join(pt, li("l_partkey") === pt("p_partkey"))
        .queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter_agg") && p.contains("might_contain"),
        s"runtime bloom filter must be injected on the fact side\n$p")
    } finally saved.foreach { case (k, v) =>
      v.fold(c.unset(k))(c.set(k, _))
    }
  }

  test("a42: the corpus-sized KV aggregation runs ONCE (single events scan)") {
    // The two mode branches ride one 2-element explode, not a union
    // of two kv.filter(...) arms — a union would evaluate the
    // corpus-sized aggregation and the label join TWICE (Catalyst
    // does not dedupe common subplans). Pin: exactly one events scan
    // in the physical plan.
    val p = plan("a42_collection_seeds")
    val eventsScans = p.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("events"))
    assert(eventsScans == 1,
      s"a42 must scan events exactly once, found $eventsScans\n$p")
  }

  test("h3: frame sampling is one pruned documents scan, zero exchanges") {
    // The slicer is substring+explode inside codegen: no UDF, no
    // mapPartitions, and nothing to shuffle — a frame sampler that
    // exchanged the corpus would be a scale bug, not a plumbing step.
    val p = plan("h3_frame_sample")
    assert(!p.contains("Exchange"),
      s"h3 must not shuffle — it is a narrow per-row explode\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,n_chars:int,text:string>")
        || p.contains("ReadSchema: struct<doc_id:bigint,text:string"),
      s"h3 must prune the documents scan to the referenced columns\n$p")
    val docScans = p.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans == 1, s"h3 must scan documents exactly once\n$p")
  }

  test("a41: the dictionary dim rides a broadcast and graft_segment stays inside codegen") {
    // Execute so AQE finalizes — WholeStageCodegen '*' markers only
    // appear in the final adaptive plan (the skew-evidence pattern).
    val qe = SparkEntry.queries("a41_segment_names")(spark, sfDir)
      .queryExecution
    qe.executedPlan.execute().count()
    val p = qe.executedPlan.toString
    // The 1-row dictionary dim reaches every name row through a
    // broadcast nested loop (crossJoin(broadcast(dim))) — never a
    // shuffle of the names against the dictionary.
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the dictionary dim must broadcast\n$p")
    // The DP expression itself must sit inside a WholeStageCodegen
    // span (the addReferenceObj call pattern — a CodegenFallback
    // here would drop the whole projection out of codegen).
    // The project containing graft_segment is codegen'd: its plan
    // line carries the '*(n)' whole-stage marker (after the tree
    // prefix).
    val seg = p.linesIterator.find(_.contains("graft_segment"))
    assert(seg.isDefined, s"graft_segment missing from the plan\n$p")
    assert(seg.get.contains("*("),
      s"graft_segment must be inside a WholeStageCodegen project\n$p")
    // Single-DP pin: the packed form's whole point is that the
    // segmented frame has ONE consumer. A second part scan would
    // betray a reintroduced branch duplication (the rejected
    // join-back form re-ran the DP once per branch plus once in a
    // pushed-down join condition). Count the nodes that RAN, each
    // once — the toString repeats every scan in the
    // "== Initial Plan ==" section.
    val ranOnce = executedNodes(qe.executedPlan, intoReused = false)
    def line(n: SparkPlan) = n.simpleString(Int.MaxValue)
    // Match the exact path token ScanAudit uses ("/part.parquet"):
    // a bare contains("part") also matches partsupp scans or any
    // path segment containing "part", so the pin could pass/fail
    // for the wrong reason if the plan or test-data path changed.
    val partScans = ranOnce.count {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.contains("/part.parquet"))
      case _ => false
    }
    assert(partScans == 2, // names input + the dictionary fit
      s"a41 must scan part exactly twice (names + dict fit), saw $partScans\n$p")
    assert(ranOnce.count(line(_).contains("graft_segment")) == 1,
      s"graft_segment must appear in exactly one operator (single DP)\n$p")
    // The counts render must sit BELOW the explode's Generate (once
    // per collection, not once per name): the Generate's requiredChild
    // output carries coll_counts as an attribute, so the Generate node
    // itself must not contain the render's aggregate().
    val gen = ranOnce.collectFirst { case g: GenerateExec => line(g) }
    assert(gen.isDefined, s"the rows explode is missing\n$p")
    assert(!gen.get.contains("aggregate("),
      s"the counts render must be computed below the Generate\n$p")
  }
}
