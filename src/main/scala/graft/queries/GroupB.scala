package graft.queries

import graft.Tables
import graft.operators.Graph
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Group B — graph reachability: the reference's subclass-of closure and
  * member type-validation (filter_articles2.py) on a synthetic-but-
  * deterministic hierarchy derived from `part`: node k's parent is
  * k DIV 2 (a binary tree over the part keys), so both engines build
  * the identical graph and the DuckDB oracle can replay it with a
  * recursive CTE.
  */
object GroupB {
  type Q = (SparkSession, String) => DataFrame

  /** Parent edges of the synthetic type hierarchy: k → k/2 for k ≥ 2. */
  private def edges(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "part")
      .filter(col("p_partkey") >= 2)
      .select(col("p_partkey").as("src"), expr("p_partkey DIV 2").as("dst"))

  /** The hierarchy with PLANTED CYCLES for the b7 audit: the forest
    * plus a back edge k/2 → k per k % 97 == 0 (2-cycles) and a skip
    * edge k/4 → k per k % 101 == 0, k ≥ 4 (3-cycles k → k/2 → k/4 →
    * k) — deterministic from part keys so DuckDB builds the identical
    * graph. */
  def cyclicEdges(s: SparkSession, d: String): DataFrame = {
    val p = Tables(s, d, "part")
    edges(s, d)
      .unionByName(p.filter(col("p_partkey") >= 2 && col("p_partkey") % 97 === 0)
        .select(expr("p_partkey DIV 2").as("src"), col("p_partkey").as("dst")))
      .unionByName(p.filter(col("p_partkey") >= 4 && col("p_partkey") % 101 === 0)
        .select(expr("p_partkey DIV 4").as("src"), col("p_partkey").as("dst")))
  }

  /** Member→type fact table for b9/b10 (types_to_validate.py's
    * articles_types input: per article the instanceof + subclassof
    * type lists). Deterministic from part so DuckDB derives the
    * identical table: instanceof t = k % 50 (skipped when k % 7 = 0),
    * a second instanceof t = k % 13 + 100 when k % 3 = 0 (the
    * multi-valued lists), subclassof t = k % 30 + 20 (skipped when
    * k % 11 = 0; the range overlaps instanceof ON PURPOSE so the
    * per-article set union genuinely dedups — e.g. k = 120 yields
    * t = 20 via both kinds, the `set(instanceof + subclassof)`
    * semantics). Every sparsity class the reference documents is
    * REPRESENTED — no instanceof ≈ 9.5% of articles (k % 7 = 0 and
    * not rescued by the k % 3 list), no subclassof ≈ 9.1%, neither
    * ≈ 3% — though not at the reference corpus's real rates (21% /
    * 96%), which the fixture doesn't need. Three narrow filtered
    * projections of one part scan — no shuffle. */
  private def memberTypes(s: SparkSession, d: String): DataFrame = {
    val p = Tables(s, d, "part").select("p_partkey")
    p.filter(col("p_partkey") % 7 =!= 0)
      .select(col("p_partkey").as("article"),
        (col("p_partkey") % 50).as("t"), lit("instanceof").as("kind"))
      .unionByName(p.filter(col("p_partkey") % 3 === 0)
        .select(col("p_partkey").as("article"),
          (col("p_partkey") % 13 + 100).as("t"), lit("instanceof").as("kind")))
      .unionByName(p.filter(col("p_partkey") % 11 =!= 0)
        .select(col("p_partkey").as("article"),
          (col("p_partkey") % 30 + 20).as("t"), lit("subclassof").as("kind")))
  }

  /** [[memberTypes]]' distinct (article, t) dim — b9's type side. */
  def memberTypeDim(s: SparkSession, d: String): DataFrame =
    memberTypes(s, d).select("article", "t").distinct()

  /** b9's registered MEMBERSHIP wiring — deduped (ct, article) from
    * the lineitem facts and the orders collection type — shared with
    * ScaleProbe so the probe's input derivation cannot drift from the
    * registered query's (the no-lookalike rule). */
  def membershipFrame(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables(s, d, "orders")
              .select(col("o_orderkey"), (col("o_orderkey") % 30 + 2).as("ct")),
            col("l_orderkey") === col("o_orderkey"))
      .select(col("ct"), col("l_partkey").as("article")).distinct()

  /** b9's registered body over a deduped (ct, article) membership
    * frame and the (article, t) type dim (split from the table wiring
    * so ScaleProbe runs the registered plan on K× inputs): distinct
    * pairs after the article-keyed join, then the per-type bounded
    * collect (set size ≤ the type vocabulary — dim-sized however
    * large the corpus). */
  def typesToValidateOf(mm: DataFrame, mtd: DataFrame): DataFrame =
    mm.join(mtd, Seq("article"), "left")
      .select("ct", "t").distinct()
      .groupBy("ct")
      .agg(count(col("t")).as("n_member_types"),
        array_join(transform(array_sort(collect_list(col("t"))),
          x => x.cast("string")), ",").as("member_types"))

  /** b10's registered body (exact count-distincts, the oracle form).
    * `approx = true` swaps the four distinct-counts for
    * `approx_count_distinct` (HLL++, default rsd 0.05) — the declared
    * 100 TB form: each exact distinct is a full shuffle of the
    * distinct stream, the sketch is one map-side-combinable pass.
    * Measured drift at sf0.1 via [[graft.tools.ApproxDrift]];
    * ApproxDriftSpec pins a 3·rsd bound executable at sf0.001. */
  def typeCoverageAuditOf(s: SparkSession, d: String,
                          approx: Boolean = false): DataFrame = {
    def cd(c: Column): Column =
      if (approx) approx_count_distinct(c) else countDistinct(c)
    val mt = memberTypes(s, d)
    val perArt = Tables(s, d, "part")
      .select(col("p_partkey").as("article"))
      .join(mt, Seq("article"), "left")
      .groupBy("article")
      .agg(max(when(col("kind") === "instanceof", 1).otherwise(0)).as("hi"),
           max(when(col("kind") === "subclassof", 1).otherwise(0)).as("hs"))
    val aAgg = perArt.agg(
      count(lit(1)).as("n_articles"),
      sum(when(col("hi") === 0 && col("hs") === 0, 1L).otherwise(0L)).as("wo_types"),
      sum(when(col("hi") === 0, 1L).otherwise(0L)).as("wo_instanceof"),
      sum(when(col("hs") === 0, 1L).otherwise(0L)).as("wo_subclassof"))
    val mj = Tables(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .join(Tables(s, d, "orders")
              .select(col("o_orderkey"), (col("o_orderkey") % 30 + 2).as("ct")),
            col("l_orderkey") === col("o_orderkey"))
      .select(col("ct"), col("l_partkey").as("article"))
      .join(mt.select("article", "t").distinct(), Seq("article"), "left")
    // The pair sketch must SKIP null-t rows EXPRESSION-level: a
    // single-column approx_count_distinct ignores nulls like any agg,
    // but struct(ct, null) is a non-null struct the sketch would hash
    // as a real value and over-count by one — the when-guard nulls
    // the whole struct so the sketch skips it, matching the
    // multi-column countDistinct's real-pairs-only semantics (ct is
    // never null).
    val pairKey =
      if (approx) approx_count_distinct(
        when(col("t").isNotNull, struct(col("ct"), col("t"))))
      else countDistinct(col("ct"), col("t"))
    val mAgg = mj.agg(
      count(col("t")).as("type_mentions"),
      cd(col("t")).as("uniq_member_types"),
      pairKey.as("uniq_pairs"),
      cd(col("ct")).as("n_coll_types"))
    aAgg.crossJoin(mAgg)
  }

  /** [[memberTypes]] + its per-article distinct (article, t) set as a
    * CTE prefix, shared by the b9/b10 oracles. */
  private val mtCte =
    """mt AS (
      |  SELECT p_partkey AS article, p_partkey % 50 AS t,
      |         'instanceof' AS kind
      |  FROM part WHERE p_partkey % 7 <> 0
      |  UNION ALL
      |  SELECT p_partkey, p_partkey % 13 + 100, 'instanceof'
      |  FROM part WHERE p_partkey % 3 = 0
      |  UNION ALL
      |  SELECT p_partkey, p_partkey % 30 + 20, 'subclassof'
      |  FROM part WHERE p_partkey % 11 <> 0),
      |mtd AS (SELECT DISTINCT article, t FROM mt)""".stripMargin

  private val edgeCte =
    """e AS (SELECT p_partkey AS src, p_partkey // 2 AS dst
      |       FROM part WHERE p_partkey >= 2),
      |c AS (SELECT src, dst FROM e
      |      UNION
      |      SELECT c.src, e.dst FROM c JOIN e ON c.dst = e.src)""".stripMargin

  /** [[cyclicEdges]] + its (cycle-safe: UNION is distinct) closure as
    * a CTE prefix, shared by the b7/b8 oracles. */
  private val cyclicEdgeCte =
    """e AS (SELECT p_partkey AS src, p_partkey // 2 AS dst
      |       FROM part WHERE p_partkey >= 2
      |      UNION ALL
      |      SELECT p_partkey // 2 AS src, p_partkey AS dst
      |       FROM part WHERE p_partkey >= 2 AND p_partkey % 97 = 0
      |      UNION ALL
      |      SELECT p_partkey // 4 AS src, p_partkey AS dst
      |       FROM part WHERE p_partkey >= 4 AND p_partkey % 101 = 0)""".stripMargin

  /** Fit-once store for the taxonomy family's serving state: the
    * closure of the EXISTING edge set, keyed per data dir with a
    * family suffix ([[graft.sinks.ServingStore]] owns fingerprint,
    * lock and crash contracts). Bench pre-ensures this untimed when
    * b6 is selected, so the registered b6 measures the per-cycle
    * serving work alone. */
  // Shared store identity for ensure + the warmth probe (the GroupP
  // pattern: one definition, so the probe cannot drift onto a
  // different store than the one b6 consumes).
  private def taxonomyStoreId(d: String): (String, Seq[String], String) =
    (d + "#taxonomy", Seq(d + "/part.parquet"), "graft-taxonomy-v1")

  def ensureTaxonomyModels(s: SparkSession, d: String): String = {
    val (key, inputs, version) = taxonomyStoreId(d)
    graft.sinks.ServingStore.ensure(key, inputs, version) { root =>
      graft.sinks.ModelStore.save(
        Graph.transitiveClosure(edges(s, d).filter(col("src") % 10 =!= 0)),
        root + "/closure")
    }
  }

  /** Read-only warmth probe for Bench's `store_warm` column — see
    * [[graft.queries.GroupP.servingModelsCurrent]]. */
  def taxonomyModelsCurrent(d: String): Boolean = {
    val (key, inputs, version) = taxonomyStoreId(d)
    graft.sinks.ServingStore.isCurrent(key, inputs, version)
  }

  /** b6's and b4's registered body, dims injected (the servingChain
    * pattern — ScaleProbe drives THIS, so the probed plan is the
    * served plan; b6 injects the reloaded closure, b4 the one it fits
    * in memory): fold the slice of new edges into the existing
    * closure and emit closure ∪ delta. The closure appears only as
    * the streamed side of broadcast-slice joins inside the delta plus
    * the final union — the per-cycle serving cost. */
  def closureServingOf(closure: DataFrame, newE: DataFrame): DataFrame =
    closure.unionByName(
      Graph.transitiveClosureDelta(closure, newE))

  /** b5's per-cycle body, state injected (the servingChain pattern):
    * given the held serving state — the target cone and yesterday's
    * verdict frame — and today's new edges, derive the cone-only
    * closure delta ([[Graph.reachableToDelta]]; the full closure is
    * never materialized), flip the affected verdicts via ONE
    * broadcast semi-probe ([[Graph.revalidateDelta]]), and emit the
    * adjusted per-collection counts. The verdict frame is scanned
    * (never shuffled) twice — the baseline counts and the !valid flip
    * probe; everything else is slice-cone-bounded. */
  def revalidateChain(targets: DataFrame, cone: DataFrame,
                      newE: DataFrame, oldV: DataFrame): DataFrame = {
    val delta = Graph.reachableToDelta(targets, cone, cone, newE)
    val oldCounts = oldV.groupBy("o_orderkey")
      .agg(sum(when(col("valid"), 1L).otherwise(0L)).as("valid_cnt"),
           sum(when(col("valid"), 0L).otherwise(1L)).as("invalid_cnt"))
    val flips = Graph.revalidateDelta(oldV, delta, "l_partkey", "required")
      .groupBy("o_orderkey").agg(count(lit(1)).as("n_flip"))
    oldCounts.join(flips, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"),
        (col("valid_cnt") + coalesce(col("n_flip"), lit(0L))).as("valid_cnt"),
        (col("invalid_cnt") - coalesce(col("n_flip"), lit(0L))).as("invalid_cnt"))
  }

  val queries: Map[String, Q] = Map(
    // b1: full transitive closure (the reference walks this per-member
    // with a RocksDB DFS). The part-key taxonomy is dimension-sized:
    // the closure collects it once and walks every node's ancestors
    // inside the tasks, with no per-depth rounds.
    "b1_closure_iterative" -> ((s, d) =>
      Graph.transitiveClosure(edges(s, d))),

    // b4: INCREMENTAL closure maintenance — b1 without re-walking the
    // old edge set: every tenth parent link (src % 10 = 0, the
    // d11/d13/d16 slice convention) arrives as today's taxonomy
    // growth; the existing closure folds them in via
    // Graph.transitiveClosureDelta (new pairs = old-path? · new-edge
    // · old-path? segments, chained by one broadcast walk over those
    // segments). Output is closure ∪ delta, so b1's own recursive CTE
    // over ALL edges oracles incremental ≡ full recompute.
    "b4_closure_incremental" -> ((s, d) => {
      val all = edges(s, d)
      // Timed.region("fit"): the existing-closure derivation is the
      // self-containment cost — the bench artifact's fit_s column
      // splits b4's wall into amortizable fit + per-cycle delta fold
      // (b6 measures the store-backed serving regime where only the
      // fold is paid). The walk's eager part is its edge collect; the
      // walks themselves run in the fold's scans.
      val c = graft.Timed.region("fit")(
        Graph.transitiveClosure(all.filter(col("src") % 10 =!= 0)))
      closureServingOf(c, all.filter(col("src") % 10 === 0))
    }),

    // b6: b4's SERVING form — the taxonomy family's p5/d19/e12: the
    // existing closure reloads from the per-fingerprint taxonomy
    // store instead of re-deriving per invocation, so the registered
    // cost is the per-cycle delta fold alone (the closure appears
    // only as the streamed side of broadcast-slice joins — delta's
    // contract — plus the final union). Oracle is b1's CTE verbatim:
    // closure ∪ delta must equal the full recompute, proving the
    // delta AND the persistence round-trip in one hash match.
    "b6_closure_serving" -> ((s, d) => {
      val root = ensureTaxonomyModels(s, d)
      closureServingOf(graft.sinks.ModelStore.load(s, root + "/closure"),
        edges(s, d).filter(col("src") % 10 === 0))
    }),

    // b5: INCREMENTAL revalidation — the serving consumer of the
    // taxonomy delta: yesterday's verdicts (b2's shape, validated
    // against the OLD target cone) fold in today's growth via
    // Graph.revalidateDelta — validity is monotone under closure
    // growth, so only members whose (type, required) pair appears in
    // the delta flip, found by ONE broadcast semi-probe of the
    // verdict frame (never re-joining members × closure). The delta
    // itself comes from Graph.reachableToDelta: CONES ONLY — the
    // target cone b2 already validates with, plus the cone into
    // today's new-edge sources — so NOTHING in this pipeline ever
    // materializes the full O(V·depth) closure, fresh or as serving
    // state (the reachableTo asymmetry, carried into the incremental
    // path — at 100 TB this is what makes daily revalidation
    // feasible). Registered output adjusts the per-collection counts
    // by the flips; b2's own replay over ALL edges oracles
    // incremental ≡ full revalidation. (The cone builds + full first
    // validation run here are self-containment costs, the d16
    // pattern — a serving deployment holds both and pays only the
    // slice cone + flip probe per cycle.)
    "b5_revalidate_incremental" -> ((s, d) => {
      import graft.operators.Checkpoints.Cuttable
      val all = edges(s, d)
      val oldE = all.filter(col("src") % 10 =!= 0)
      val newE = all.filter(col("src") % 10 === 0)
      // distinct() at the definition: targets feeds two downstream
      // distincts (reachableTo's target set, reachableToDelta's
      // restriction set) — pre-collapsing the orders-sized projection
      // to its ~30 values once keeps both from re-aggregating it.
      val targets = Tables(s, d, "orders")
        .select((col("o_orderkey") % 30 + 2).as("dst")).distinct()
      // ONE cone over the UNION of both landing sets (validation
      // targets + today's new-edge sources): reachableToDelta's
      // superset tolerance lets the same frame serve as BOTH cone
      // arguments (irrelevant-endpoint pairs drop out of each join),
      // and validateReachable's (type, required) equi-join restricts
      // it to the target cone by construction — so the edge collect
      // runs once, not three times.
      val cone = Graph.reachableTo(oldE,
        targets.unionByName(newE.select(col("src").as("dst"))))
      val members = Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .join(Tables(s, d, "orders")
                .select(col("o_orderkey"), (col("o_orderkey") % 30 + 2).as("required")),
              col("l_orderkey") === col("o_orderkey"))
      // cut() EAGER (r17 A/B): the verdict frame feeds BOTH the
      // baseline counts and the flip probe in the one output job —
      // a lazy cut double-computes the members × cone validation
      // join under the get-or-compute race (two concurrent tasks
      // both materialize a partition before either caches it).
      val oldV = Graph.validateReachable(members, cone,
        "l_partkey", "required").cut()
      revalidateChain(targets, cone, newE, oldV)
    }),

    // b7: the DAG/cycle audit (research/subtype/subtypes.ipynb runs
    // networkx is_directed_acyclic_graph + find_cycle on the subclass
    // graph before trusting DFS walks). Graph.reachesCycle collects
    // the edges once and peels sinks on the driver — work linear in
    // the edges, NO closure — on the hierarchy with planted 2- and
    // 3-cycles; the oracle derives the same node set from the
    // recursive closure's self-reaching rows (cheap at oracle scale,
    // exactly what the engine must never build at 100 TB).
    "b7_cycle_reach" -> ((s, d) =>
      Graph.reachesCycle(cyclicEdges(s, d))),

    // b8: degree histogram of the same graph (subtypes.ipynb's
    // instance_of_lengths Counter — the capacity-planning shape for
    // the KV layout): nodes per (direction, degree), two map-side-
    // combinable aggs.
    "b8_degree_histogram" -> ((s, d) => {
      val e = cyclicEdges(s, d)
      // ONE scan + ONE first-level exchange (r17, guide §2.4): each
      // edge explodes to its two (dir, endpoint) incidences and a
      // single (dir, id) count replaces the r16 two-leg union (two
      // scans, two exchanges of the same total bytes keyed by id).
      // Row-identical by construction: count per (out, src) ≡ the
      // out-degree leg, count per (in, dst) ≡ the in-degree leg.
      e.select(explode(array(
          struct(lit("out").as("dir"), col("src").as("id")),
          struct(lit("in").as("dir"), col("dst").as("id")))).as("x"))
        .groupBy(col("x.dir").as("dir"), col("x.id").as("id"))
        .agg(count(lit(1)).as("degree"))
        .groupBy("dir", "degree").agg(count(lit(1)).as("n_nodes"))
    }),

    // b9: the validation-pair generator (types_to_validate.py — the
    // upstream of b2's validation: per collection TYPE, the distinct
    // set of member article types, the script's json.dump output).
    // Memberships dedupe BEFORE the article-keyed join (two orders of
    // the same type sharing an article contribute one pair), pairs
    // dedupe again after it; the per-type set is bounded by the type
    // VOCABULARY (the reference's own numbers: 8.6k collection types
    // × ~227 avg member types from a 10M-article corpus), so the
    // collect_list is dim-sized however large the corpus — the same
    // bounded-state argument as a6. A type whose members all lack
    // types keeps its row with an empty list (the defaultdict
    // semantics), via the left join's null t that count()/
    // collect_list() then skip.
    "b9_types_to_validate" -> ((s, d) =>
      typesToValidateOf(membershipFrame(s, d), memberTypeDim(s, d))),

    // b10: the same script's printed corpus audit as one row — the
    // numbers the reference ships as comments in the source (articles
    // with/without each type kind, per-membership type mentions,
    // unique member types, unique (collection type, member type)
    // pairs, distinct collection types). Exact count-distincts are
    // the oracle form; at 100 TB the same shape runs
    // approx_count_distinct (the f7/a38 declaration pattern). The two
    // 1-row branches assemble by a broadcast cross-join (the a40
    // pattern).
    "b10_type_coverage_audit" -> ((s, d) => typeCoverageAuditOf(s, d)),

    // b2: member-valid-iff-reachable + per-collection valid/invalid
    // counts (filter_articles2.py keeps both). Members are lineitem
    // rows typed by l_partkey; each order demands an ancestor type.
    // Reachability is computed ONLY toward the ~30 distinct required
    // types (Graph.reachableTo) — the targets' ancestor cone, never
    // the full closure; at 100 TB that asymmetry is what makes
    // validation feasible.
    "b2_validate_members" -> ((s, d) => {
      val members = Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .join(Tables(s, d, "orders")
                .select(col("o_orderkey"), (col("o_orderkey") % 30 + 2).as("required")),
              col("l_orderkey") === col("o_orderkey"))
      // Targets come from orders alone — no reason to scan the fact
      // join just to distinct ~30 values. The k -> k/2 hierarchy is a
      // dimension-sized forest: one broadcast walk per target.
      val closure = Graph.reachableTo(edges(s, d),
        Tables(s, d, "orders").select((col("o_orderkey") % 30 + 2).as("dst")))
      Graph.validateReachable(members, closure, "l_partkey", "required")
        .groupBy("o_orderkey")
        .agg(sum(when(col("valid"), 1L).otherwise(0L)).as("valid_cnt"),
             sum(when(col("valid"), 0L).otherwise(1L)).as("invalid_cnt"))
    }),

    // b3: validation with a same_as redirect fallback
    // (filter_articles2.py:35,64-65 — when a member's type has no
    // subclass path, the DFS retries through the `same_as` redirect).
    // Redirect table: every 7th part key redirects to its successor —
    // siblings/cousins in the k -> k/2 tree, so a redirect genuinely
    // rescues members whose original type misses the required ancestor
    // but whose redirect target reaches it. One extra broadcast left
    // join + a second closure probe; valid = reach(type) OR
    // reach(redirect(type)).
    "b3_validate_redirects" -> ((s, d) => {
      val members = Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .join(Tables(s, d, "orders")
                .select(col("o_orderkey"), (col("o_orderkey") % 30 + 2).as("required")),
              col("l_orderkey") === col("o_orderkey"))
      val redirects = Tables(s, d, "part")
        .filter(col("p_partkey") % 7 === 0)
        .select(col("p_partkey").as("r_src"), (col("p_partkey") + 1).as("r_dst"))
      val withAlt = members
        .join(broadcast(redirects), col("l_partkey") === col("r_src"), "left")
      val closure = Graph.reachableTo(edges(s, d),
        Tables(s, d, "orders").select((col("o_orderkey") % 30 + 2).as("dst")))
      val v1 = Graph.validateReachable(withAlt, closure, "l_partkey", "required")
        .withColumnRenamed("valid", "valid_orig")
      Graph.validateReachable(v1, closure, "r_dst", "required")
        // a null redirect makes the second probe null, not a rescue
        .withColumn("valid_any", col("valid_orig") || coalesce(col("valid"), lit(false)))
        .groupBy("o_orderkey")
        .agg(sum(when(col("valid_any"), 1L).otherwise(0L)).as("valid_cnt"),
             sum(when(col("valid_any"), 0L).otherwise(1L)).as("invalid_cnt"))
    }),
  )

  val oracles: Map[String, String] = Map(
    "b1_closure_iterative" ->
      s"""WITH RECURSIVE $edgeCte
         |SELECT src, dst FROM c""".stripMargin,

    // b4's oracle IS b1's: the incremental fold must reproduce the
    // full closure over the complete edge set, bit for bit.
    "b4_closure_incremental" ->
      s"""WITH RECURSIVE $edgeCte
         |SELECT src, dst FROM c""".stripMargin,

    // b6's oracle IS b1's: serving on the reloaded closure must
    // reproduce the full recompute bit for bit.
    "b6_closure_serving" ->
      s"""WITH RECURSIVE $edgeCte
         |SELECT src, dst FROM c""".stripMargin,

    // b5's oracle IS b2's: the incremental flip fold must reproduce
    // the full revalidation over the complete edge set, bit for bit
    // (the b4-reuses-b1 pattern).
    "b5_revalidate_incremental" ->
      s"""WITH RECURSIVE $edgeCte
         |SELECT o_orderkey,
         |  cast(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS bigint) AS valid_cnt,
         |  cast(sum(CASE WHEN valid THEN 0 ELSE 1 END) AS bigint) AS invalid_cnt
         |FROM (
         |  SELECT o_orderkey,
         |    (c.src IS NOT NULL OR l_partkey = (o_orderkey % 30 + 2)) AS valid
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  LEFT JOIN c ON c.src = l_partkey AND c.dst = (o_orderkey % 30 + 2))
         |GROUP BY 1""".stripMargin,

    // b7: a node reaches a cycle iff it is self-reaching in the
    // closure or reaches a self-reaching node.
    "b7_cycle_reach" ->
      s"""WITH RECURSIVE $cyclicEdgeCte,
         |c AS (SELECT src, dst FROM e
         |      UNION
         |      SELECT c.src, e.dst FROM c JOIN e ON c.dst = e.src),
         |cyc AS (SELECT DISTINCT src AS id FROM c WHERE src = dst)
         |SELECT DISTINCT id FROM (
         |  SELECT c.src AS id FROM c JOIN cyc ON c.dst = cyc.id
         |  UNION ALL
         |  SELECT id FROM cyc)""".stripMargin,

    "b8_degree_histogram" ->
      s"""WITH $cyclicEdgeCte,
         |o AS (SELECT 'out' AS dir, cast(count(*) AS bigint) AS degree
         |      FROM e GROUP BY src),
         |i AS (SELECT 'in' AS dir, cast(count(*) AS bigint) AS degree
         |      FROM e GROUP BY dst)
         |SELECT dir, degree, cast(count(*) AS bigint) AS n_nodes
         |FROM (SELECT * FROM o UNION ALL SELECT * FROM i)
         |GROUP BY 1, 2""".stripMargin,

    // b9/b10: the mt derivation is the same three filtered
    // projections on both engines; counts are exact integers and the
    // csv is string_agg ORDER BY t ≡ array_join(array_sort(...)).
    "b9_types_to_validate" ->
      s"""WITH $mtCte,
         |mm AS (SELECT DISTINCT (o_orderkey % 30 + 2) AS ct,
         |         l_partkey AS article
         |       FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |pr AS (SELECT DISTINCT ct, t
         |       FROM mm LEFT JOIN mtd ON mtd.article = mm.article)
         |SELECT ct, cast(count(t) AS bigint) AS n_member_types,
         |  coalesce(string_agg(cast(t AS varchar), ',' ORDER BY t), '')
         |    AS member_types
         |FROM pr GROUP BY 1""".stripMargin,

    "b10_type_coverage_audit" ->
      s"""WITH $mtCte,
         |pa AS (
         |  SELECT p_partkey AS article,
         |    max(CASE WHEN kind = 'instanceof' THEN 1 ELSE 0 END) AS hi,
         |    max(CASE WHEN kind = 'subclassof' THEN 1 ELSE 0 END) AS hs
         |  FROM part LEFT JOIN mt ON mt.article = p_partkey
         |  GROUP BY 1),
         |a AS (SELECT cast(count(*) AS bigint) AS n_articles,
         |  cast(sum(CASE WHEN hi = 0 AND hs = 0 THEN 1 ELSE 0 END)
         |    AS bigint) AS wo_types,
         |  cast(sum(CASE WHEN hi = 0 THEN 1 ELSE 0 END) AS bigint)
         |    AS wo_instanceof,
         |  cast(sum(CASE WHEN hs = 0 THEN 1 ELSE 0 END) AS bigint)
         |    AS wo_subclassof
         |  FROM pa),
         |ms AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |mj AS (SELECT (o_orderkey % 30 + 2) AS ct, t
         |       FROM ms JOIN orders ON l_orderkey = o_orderkey
         |       LEFT JOIN mtd ON mtd.article = l_partkey),
         |m AS (SELECT
         |  cast(count(t) AS bigint) AS type_mentions,
         |  cast(count(DISTINCT t) AS bigint) AS uniq_member_types,
         |  cast((SELECT count(*) FROM
         |          (SELECT DISTINCT ct, t FROM mj WHERE t IS NOT NULL))
         |    AS bigint) AS uniq_pairs,
         |  cast(count(DISTINCT ct) AS bigint) AS n_coll_types
         |  FROM mj)
         |SELECT * FROM a, m""".stripMargin,

    "b2_validate_members" ->
      s"""WITH RECURSIVE $edgeCte
         |SELECT o_orderkey,
         |  cast(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS bigint) AS valid_cnt,
         |  cast(sum(CASE WHEN valid THEN 0 ELSE 1 END) AS bigint) AS invalid_cnt
         |FROM (
         |  SELECT o_orderkey,
         |    (c.src IS NOT NULL OR l_partkey = (o_orderkey % 30 + 2)) AS valid
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  LEFT JOIN c ON c.src = l_partkey AND c.dst = (o_orderkey % 30 + 2))
         |GROUP BY 1""".stripMargin,

    "b3_validate_redirects" ->
      s"""WITH RECURSIVE $edgeCte,
         |red AS (SELECT p_partkey AS r_src, p_partkey + 1 AS r_dst
         |        FROM part WHERE p_partkey % 7 = 0),
         |m AS (SELECT o_orderkey, l_partkey, (o_orderkey % 30 + 2) AS required, r_dst
         |      FROM lineitem
         |      JOIN orders ON l_orderkey = o_orderkey
         |      LEFT JOIN red ON l_partkey = r_src),
         |v AS (SELECT o_orderkey,
         |        (c1.src IS NOT NULL OR l_partkey = required
         |         OR (r_dst IS NOT NULL
         |             AND (c2.src IS NOT NULL OR r_dst = required))) AS valid
         |      FROM m
         |      LEFT JOIN c c1 ON c1.src = l_partkey AND c1.dst = required
         |      LEFT JOIN c c2 ON c2.src = r_dst AND c2.dst = required)
         |SELECT o_orderkey,
         |  cast(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS bigint) AS valid_cnt,
         |  cast(sum(CASE WHEN valid THEN 0 ELSE 1 END) AS bigint) AS invalid_cnt
         |FROM v GROUP BY 1""".stripMargin,
  )
}
