package graft.queries

import scala.jdk.CollectionConverters._

import graft.Tables
import graft.functions.Text
import graft.operators.{Collections, Corpus, Dedup, Graph, Sampling, Similarity}
import graft.operators.Checkpoints.Cuttable
import graft.sinks.ModelStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Group P — the composed pipeline as ONE oracled query: relation
  * merge → type validation through the subclass cone → per-collection
  * ranking/top-k → same-name merge. This is the reference's whole
  * batch flow (merge_lists_and_categories.py → filter_articles2.py →
  * prepare_collections2.py → filter_duplicates.py) end-to-end, so the
  * driver's DuckDB compare certifies pipeline-level parity, not just
  * per-operator parity.
  *
  * Testdata roles (same mapping as PipelineSpec): lineitem plays
  * membership edges, part plays entities AND the k → k/2 type tree,
  * orders plays collection seeds (name = "col-" + key%100 → ~100-way
  * same-name merges), and the relation table (see [[relationsOf]])
  * exercises least-id survival, multi-edge first-pick and the chain
  * guard (the P1753/P1754 stand-in). The namehash column
  * is dropped here — DuckDB has no keccak; it stays covered by a23 and
  * the EIP-137 vectors.
  */
object GroupP {
  type Q = (SparkSession, String) => DataFrame

  /** The testdata role-mapping, exposed so PipelineSpec exercises the
    * exact projections the oracled query runs (one definition — the
    * spec and the oracle can't silently desynchronize). */
  def membersOf(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem").select(
      col("l_orderkey").as("collection_id"),
      col("l_partkey").as("member_id"),
      col("l_extendedprice").as("score"))
  def entitiesOf(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "part").select(
      col("p_partkey").as("member_id"),
      col("p_name").as("member_name"),
      col("p_partkey").as("member_type"))
  def collectionsOf(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "orders").select(
      col("o_orderkey").as("collection_id"),
      concat(lit("col-"), (col("o_orderkey") % 100).cast("string"))
        .as("collection_name"),
      (col("o_orderkey") % 30 + 2).as("required_type"))
  def typeEdgesOf(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "part")
      .filter(col("p_partkey") >= 2)
      .select(col("p_partkey").as("src"), expr("p_partkey DIV 2").as("dst"))
  /** Relation edges exercising every branch of the merge semantics
    * through the DuckDB gate: odd keys k → list k-1 (the plain
    * category→list edge), keys ≡ 0 (mod 4) → list k+2 (a CATEGORY id
    * smaller than its list's — the surviving id must be the least,
    * and the odd edge pointing AT such a key becomes unsound, hitting
    * the chain guard), and keys ≡ 1 (mod 8) get a second edge → k+1
    * (a multi-edge category: its k-1 edge is unsound, so the pick
    * must fall to the sound k+1 edge — sound-filter-then-pick, the
    * reference's `related_lists` are pre-filtered to existing lists). */
  def relationsOf(s: SparkSession, d: String): DataFrame = {
    val c = collectionsOf(s, d)
    val cid = col("collection_id")
    val odd = c.filter(cid % 2 === 1)
      .select(cid.as("category_id"), (cid - 1).as("list_id"))
    val quad = c.filter(cid % 4 === 0)
      .select(cid.as("category_id"), (cid + 2).as("list_id"))
    val extra = c.filter(cid % 8 === 1)
      .select(cid.as("category_id"), (cid + 1).as("list_id"))
    odd.unionByName(quad).unionByName(extra)
      .join(c.select(cid.as("list_id")), "list_id")
      .select("category_id", "list_id")
  }

  val queries: Map[String, Q] = Map(
    "p1_pipeline" -> ((s, d) => {
      Collections.build(membersOf(s, d), entitiesOf(s, d), collectionsOf(s, d),
          typeEdgesOf(s, d), topK = 5, relations = Some(relationsOf(s, d)))
        .select(col("collection_name"), col("stable_id"),
          col("valid_cnt"), col("invalid_cnt"),
          round(col("rank"), 6).as("rank"),
          concat_ws(",", col("top_members")).as("top_members"),
          col("banner_number"))
    }),

    // p2: the TRAINING-DATA pipeline composed end-to-end, one oracled
    // plan — the documents-side analogue of p1: quality/language gate
    // (f2/f3 shapes) → near-dup cluster cut (d2+d7+d8 machinery) →
    // benchmark decontamination (d9) → deterministic stratified
    // sample (f5) → chunk accounting (f9's law). Order matters and is
    // part of the contract: the gate runs FIRST (cheap narrow filters
    // shrink everything downstream — dedup pairs are quadratic-ish in
    // corpus size, so gating before pairing is the scale decision),
    // dedup runs on the gated corpus, contamination is measured
    // against the benchmark slice of the FULL corpus (eval sets don't
    // get quality-gated away), and the sample cut runs last so kept
    // rates compose predictably.
    "p2_corpus_pipeline" -> ((s, d) =>
      corpusPipeline(Tables(s, d, "documents"))),

    // p3: the custom-collections DAG end-to-end as ONE plan
    // (load_custom_collections.py: prepare → metrics → update ops) —
    // JSONL shaping (c6), member cached-status metrics (c7), the
    // collection-name log-probability metadata (a27's unigram model
    // over the ingested names themselves), the deterministic banner
    // pick (a26's hash bucket), and the create/update decision
    // against the existing index (a33), composed from the SAME
    // shared definitions the standalone queries run.
    //
    // Scale: every stage is the standalone query's plan — the line
    // corpus is scanned once into `shaped` and once into members;
    // status metrics and log-prob are dimension-sized per-collection
    // frames joined back LEFT (empty collections keep NULL metrics,
    // exactly the reference's division-hazard rows surfaced instead
    // of crashed); the existing index joins on collection_id.
    "p3_custom_pipeline" -> ((s, d) =>
      customPipeline(Tables(s, d, "customer"))),

    // p4: the DAILY INGEST DAG — p2's incremental twin, the plan a
    // serving corpus actually runs per cycle, composed from the
    // proven incremental parts: d13's bloom gate (clear bit = proof
    // of novelty) → d11's exact confirm on ONLY the maybe-sliver →
    // d16's component merge in representative space → e11's ANN
    // index delta on the paired embeddings. One verdict row per
    // incoming doc. The body IS p5's servingChain, on dims fitted in
    // memory instead of reloaded (a registered query must be
    // self-contained), so the two twins cannot drift. The text dims
    // and the IVF/PQ fit share no frames (documents vs embeddings)
    // and both run eager jobs, so they overlap from two driver
    // threads (guide §2.6); the overlap is p4's fit region, and
    // fit_s splits its wall into amortizable fit + the per-cycle
    // chain p5 pays alone. The oracle replays the confirm
    // UNRESTRICTED (all incoming docs) — its equality with the
    // sliver-gated Spark plan IS the bloom no-false-negative
    // guarantee, proven through the hash gate; components replay as
    // d7's full recursive CTE restricted to the slice (the d16
    // equivalence), and cid/codes replay e11's fit+assign chain.
    "p4_ingest_pipeline" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val emb = Tables(s, d, "embeddings")
      val ((exSh, exSizes, bits, asg), (cent, cb)) = graft.Timed.region("fit")(
        graft.operators.Par.both(
          textDims(docs.filter(col("doc_id") % 10 =!= 0)),
          Similarity.ivfPqFit(emb.filter(col("vec_id") % 10 =!= 0),
            "vec_id", "embedding", dim = 64)))
      val verdict = servingChain(docs.filter(col("doc_id") % 10 === 0),
        emb.filter(col("vec_id") % 10 === 0),
        bits, exSh, exSizes, asg, cent, cb)
      exSh.uncut() // the verdict is local: nothing reads the index again
      verdict
    }),

    // p5: p4's SERVING twin — the same DAG on ModelStore-RELOADED
    // dims (fitted once per corpus fingerprint by
    // ensureServingModels, persisted, reloaded here), so the
    // registered cost is the per-cycle serving cost rather than p4's
    // self-contained refit. Same oracle as p4: the values must be
    // IDENTICAL — that equality is the proof that the persistence
    // round-trip (stamps included) loses nothing.
    "p5_serving_ingest" -> ((s, d) => servingIngest(s, d)),

    // p6: the sync loop's SERIALIZATION — a13's snapshot diff rendered
    // to Elasticsearch bulk NDJSON through sinks/EsBulk.bulkLines (the
    // reference's update_elasticsearch.py wire format), registered so
    // the one output surface that used to sit outside the oracle is
    // hash-gated byte for byte: the driver's value hash IS md5(rendered
    // bytes). The payload name embeds a double quote and a backslash,
    // so JSON string escaping is inside the gate, not assumed; the
    // numeric field is exact cents (a long), so no float rendering
    // dialect can leak in. Scale: pure row-local formatting on top of
    // the a13 diff — no shuffle added by the rendering.
    "p6_sync_render" -> ((s, d) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
      val orders = Tables(s, d, "orders")
      val prev = orders.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), dec(col("o_totalprice")).as("fp"))
      val cur = orders.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 7 === 0,
            dec(col("o_totalprice")) + dec(lit(10)))
            .otherwise(dec(col("o_totalprice"))).as("fp"))
      // The document fields CARRY through the diff's own full-outer
      // join (diffSnapshotsCarry) — null on archive rows, whose
      // payload is the constant {"doc":{"archived":true}} line — so
      // the renderer costs ONE snapshot join, not diff + rejoin (the
      // second full shuffle of the corpus a sync at scale would pay).
      val ops = graft.operators.Relational
        .diffSnapshotsCarry(
          cur.select(col("o_orderkey"), col("fp"),
            concat(lit("O\""), col("o_orderkey"), lit("\\")).as("name"),
            (col("fp") * 100).cast("long").as("total_cents")),
          prev, "o_orderkey", col("fp"), Seq("name", "total_cents"))
        .filter(col("op") =!= "unchanged")
      graft.sinks.EsBulk.bulkLines(ops, "collections", "o_orderkey", "op",
        struct(col("name"), col("total_cents")))
    }),
  )

  /** p3's plan over an arbitrary customer frame (c_custkey, c_name,
    * c_mktsegment) — one definition shared by the oracled query and
    * ScaleProbe, the [[corpusPipeline]] pattern. */
  def customPipeline(customer: DataFrame): DataFrame = {
    val ln = GroupC2.linesOf(customer)
    // ONE JSONL parse for the whole DAG (r17, guide §1.2): the
    // collection-grain view (update ops + log-prob tokenizer) and the
    // member-grain view (status counts) both derive from the same cut
    // staged frame — the r16 form parsed the lines twice because
    // fromCustom and customMembers each parsed their own input.
    // The parse is the expensive per-row step of this DAG (the r14
    // scan audit caught customer scanned 7x here; Catalyst does not
    // dedupe common subplans); cutting the collection-grain `shaped`
    // stays (measured r14: cpu band disjoint in the cut's favor,
    // 3.65-4.05 vs 4.64-5.02 s, tools/abtest_27794a6_*.json) because
    // it feeds the ops branch AND the token explode.
    // The token explode below stays UNCUT deliberately — its upstream
    // is the cheap cut-read, and materializing exploded rows
    // measured as a net loss in the same A/B (the a27 adjudication).
    val staged = Collections.parseCustomStaged(ln).cut()
    val shaped = Collections.fromCustomParsed(staged).cut()
    val ops = Collections.customUpdateOps(shaped,
      GroupC2.existingIndexOf(customer), maxMembers = 1L)
    val status = Collections.customStatusCounts(
        Collections.customMembersParsed(staged), GroupC2.domainsDimOf(customer))
      .select(col("collection_id"), col("nonavailable_count"),
        col("nonavailable_ratio"))
    val toks = shaped.filter(!col("malformed"))
      .select(col("collection_id"),
        explode(split(lower(col("collection_name")), "[^a-z0-9]+")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("total"))
    val lp = toks.join(broadcast(freq), "tok")
      .crossJoin(broadcast(total))
      .groupBy("collection_id")
      .agg(round(sum(round(log(col("cnt").cast("double") / col("total")), 9)), 6)
        .as("name_log_prob"))
    ops.join(status, Seq("collection_id"), "left")
      .join(lp, Seq("collection_id"), "left")
      .select(col("collection_id"), col("op"), col("es_id"),
        col("n_members"), col("rank"),
        col("nonavailable_count"), col("nonavailable_ratio"),
        col("name_log_prob"),
        Sampling.hashBucket(col("collection_id"), 20).as("banner_number"))
  }

  /** p2's plan over an arbitrary documents frame (doc_id, lang,
    * source, text) — one definition shared by the oracled query and
    * ScaleProbe, so the probed plan cannot drift from the verified
    * one. */
  def corpusPipeline(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"), col("source"),
        col("text"), Text.tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    val gated = toks.filter(
      col("lang") === "en" && col("n_tokens") >= 10 &&
        regexp_count(col("text"), lit("[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]")).cast("double") /
          length(col("text")) <= 0.3 &&
        col("doc_id") % 20 =!= 0) // benchmark docs are never trainable
    // The dedup leg (pair generation's dfCap cuts + the canonical
    // CC fit) and the contamination leg (its shingle cut) are both
    // EAGER at construction and share only the LAZY `gated` frame
    // (each leg computes its own scan, exactly as when sequential —
    // nothing cut/uncut crosses threads), so the two constructions
    // overlap from two driver threads (guide §2.6, the p4/d15
    // primitive).
    //
    // Contamination is per-doc independent, so it only needs to be
    // MEASURED on docs that can still survive — the gated corpus —
    // against the benchmark slice of the FULL corpus (eval sets are
    // never quality-gated away). Feeding the whole corpus here would
    // re-scan exactly the majority the gate just discarded.
    val (kept, cont) = graft.operators.Par.both(
      {
        val pairs = Dedup.ngramJaccardPairs(gated, "doc_id", "text",
          n = 3, tau = 0.5)
        Dedup.keepCanonical(gated, pairs, "doc_id")
      },
      {
        val contInput = docs.select(col("doc_id"), col("text"))
          .filter(col("doc_id") % 20 === 0)
          .unionByName(gated.select(col("doc_id"), col("text")))
        Corpus.contamination(contInput, "doc_id", "text", n = 3,
          isBench = col("doc_id") % 20 === 0)
      })
    val clean = kept
      .join(cont.select(col("id").as("doc_id"), col("contamination")),
        Seq("doc_id"), "left")
      .filter(coalesce(col("contamination"), lit(0.0)) < 0.5)
    Sampling.stratifiedSample(clean, col("doc_id"), col("lang"),
        rates = Map("en" -> 50), defaultRate = 20)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"(n_tokens - 1) DIV ${GroupF2.ChunkStride} + 1").as("n_chunks"))
  }

  /** The ingest DAG's text dims, fitted on the existing corpus: the
    * cut (id, shingle) index `exSh`, its per-doc sizes (id, n_old),
    * the bloom bitmap of its shingles and the component assignment
    * (id, comp). One corpus shingle pass feeds all four (r17, guide
    * §1.2 — the lazy frame re-ran tokenize→explode→distinct once per
    * consumer); the sizes and the bitmap stay lazy, the assignment is
    * eager. One definition for every consumer: p4 and d16 serve on
    * them in memory, [[fitAndSave]] persists them for p5/d19. The
    * caller owns `exSh`'s cut. */
  def textDims(existing: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val exSh = Dedup.shingles(existing, "doc_id", "text", n = 3).cut()
    (exSh,
      exSh.groupBy("id").agg(count(lit(1)).as("n_old")),
      Dedup.bloomBits(exSh.select("shingle"), "shingle"),
      Graph.connectedComponents(
        Dedup.ngramJaccardPairsFromIndex(exSh, tau = 0.5)))
  }

  // ---- p5: the ModelStore-backed SERVING form of the ingest DAG ----

  /** Fit and persist the ingest DAG's serving dims for `dir` — the
    * bloom bitmap, the corpus shingle index + its sizes, the gram-
    * count dim, the component assignment, the IVF centroids and the
    * PQ codebook — once per input fingerprint via
    * [[graft.sinks.ServingStore.ensure]] (which owns the root
    * keying, the content fingerprint over documents/embeddings, the
    * cross-process lock, and the write-fingerprint-last crash
    * contract): the deployment reality the self-contained fits
    * (p4/d16/d17/d18/e11) cannot register — a serving pipeline fits
    * on corpus change and reloads per cycle (p5/d19/d20/d21/e12).
    * Returns the store root. Callers that must keep the fit OUT of a
    * measurement (Bench's warm-up) invoke this untimed first. */
  // ONE definition of the store identity (key, inputs, version) shared
  // by ensure and the warmth probe — two hand-kept copies would let
  // the probe silently adjudicate a DIFFERENT store than the one the
  // queries consume. Bump the version when the dim set or any fit
  // definition changes — stale caches refit instead of failing on a
  // missing dim's load.
  private def servingStoreId(dir: String): (String, Seq[String], String) =
    (dir, Seq(dir + "/documents.parquet", dir + "/embeddings.parquet"),
      "graft-serving-v3")

  def ensureServingModels(s: SparkSession, dir: String): String = {
    val (key, inputs, version) = servingStoreId(dir)
    graft.sinks.ServingStore.ensure(key, inputs, version) { root =>
      fitAndSave(s, dir, root)
    }
  }

  /** Read-only warmth probe for Bench's `store_warm` column: true iff
    * the serving store for `dir` is already fitted and current, i.e. a
    * timed serving query starting NOW cannot absorb a fit. Never
    * locks, never fits ([[graft.sinks.ServingStore.isCurrent]]). */
  def servingModelsCurrent(dir: String): Boolean = {
    val (key, inputs, version) = servingStoreId(dir)
    graft.sinks.ServingStore.isCurrent(key, inputs, version)
  }

  private def fitAndSave(s: SparkSession, dir: String, root: String): Unit = {
    val docs = Tables(s, dir, "documents")
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val (exSh, exSizes, bits, asg) = textDims(existing)
    ModelStore.save(exSh, s"$root/ex_shingles")
    // Sizes persisted NEXT TO the index: re-aggregating them per
    // cycle would be a corpus-sized shuffle in the serving path.
    ModelStore.save(exSizes, s"$root/ex_sizes")
    ModelStore.save(bits, s"$root/bloom_bits")
    ModelStore.save(asg, s"$root/assignment")
    exSh.uncut()
    val (cent, cb) = Similarity.ivfPqFit(
      Tables(s, dir, "embeddings").filter(col("vec_id") % 10 =!= 0),
      "vec_id", "embedding", dim = 64)
    ModelStore.save(cent, s"$root/centroids")
    ModelStore.save(cb, s"$root/codebook") // (m, ds) stamp verified by save
    // The span family's dim (d20/d21 reload it).
    ModelStore.save(Corpus.gramCounts(existing, "text", n = 3),
      s"$root/gram_counts")
  }

  /** p5's plan: p4's serving twin — the SAME [[servingChain]]
    * (gate → sliver-confirm → rep-merge → index-delta), run against
    * the RELOADED dims where p4 runs it on dims fitted in memory, so
    * the two paths cannot drift. Its cost IS the per-cycle serving
    * cost: slice shingling + probes against scanned dims — nothing
    * corpus-sized recomputes ([[ensureServingModels]] holds the fits,
    * amortized across cycles). Oracled by p4's own replay: the values
    * must be identical to the self-contained fit — that equality is
    * the point, and proves the ModelStore round-trip loses nothing
    * through the hash gate. */
  def servingIngest(s: SparkSession, d: String): DataFrame = {
    val root = ensureServingModels(s, d)
    val docs = Tables(s, d, "documents")
    servingChain(
      incoming = docs.filter(col("doc_id") % 10 === 0),
      sliceEmb = Tables(s, d, "embeddings").filter(col("vec_id") % 10 === 0),
      bits = ModelStore.load(s, s"$root/bloom_bits"),
      exSh = ModelStore.load(s, s"$root/ex_shingles"),
      exSizes = ModelStore.load(s, s"$root/ex_sizes"),
      asg = ModelStore.load(s, s"$root/assignment"),
      cent = ModelStore.load(s, s"$root/centroids"),
      cb = ModelStore.load(s, s"$root/codebook"))
  }

  /** The serving chain itself, dims injected — one definition shared
    * by p5 (ModelStore-loaded dims), p4 (dims fitted in memory by
    * [[textDims]] and `ivfPqFit`) and ScaleProbe (fixed slice vs
    * K×-scaled dims), so the probed plan cannot drift from the
    * verified one. Stage order is the scale contract: the bitmap gate
    * shrinks the confirm join to the maybe sliver; the confirm join
    * is bipartite (slice × corpus index, never a self-join,
    * [[Dedup.ngramJaccardAgainstIndexes]]); the component merge is one
    * driver pass in representative space ([[Graph.componentsDelta]]);
    * the vector-side assignment touches two broadcast dims and the
    * slice. Nothing re-pairs or re-labels the existing corpus.
    *
    * Every slice-sized result is collected once: the gate rows, the
    * confirmed (new_id, old_id, jaccard) rows, the new×new pairs, the
    * slice's component rows and its (cid, codes) rows. The dims are
    * only ever scanned by those jobs, never collected. The duplicate
    * counts are a driver fold over the confirmed rows, the component
    * merge takes the confirmed ∪ new×new pairs as a local frame, and
    * the verdict — one row per incoming document: doc_id,
    * maybe_overlap, n_dup_old, best_jaccard, component, cid, codes —
    * is a local relation. Ids must be integral, as for
    * [[Graph.componentsDelta]].
    *
    * PRECONDITION: the slice's verdict, pairs and index rows fit in the
    * driver — the class of [[Graph.componentsDelta]]'s precondition.
    */
  def servingChain(incoming: DataFrame, sliceEmb: DataFrame,
                   bits: DataFrame, exSh: DataFrame, exSizes: DataFrame,
                   asg: DataFrame, cent: DataFrame, cb: DataFrame): DataFrame = {
    val spark = incoming.sparkSession
    def key(r: Row, i: Int): Long = r.getAs[Number](i).longValue
    // TEXT LEG: one slice shingle pass shared by the gate probe, the
    // sliver confirm and the new×new pairs; its cut is freed once the
    // last of them is collected.
    def textLeg() = {
      val incSh = Dedup.shingles(incoming, "doc_id", "text", n = 3).cut()
      try {
        val gate = GroupD.bloomGateAgainstShingled(bits, incoming, incSh)
          .select(col("doc_id"), col("maybe_overlap")).collect()
        // d11 confirm on the maybe sliver only — the clear-bit docs are
        // PROVEN novel, so dropping them cannot lose a pair (the oracle
        // replays the confirm unrestricted; equality proves it).
        val maybeIds = gate.filter(_.getBoolean(1)).map(_.get(0)).toSeq
        val confirmedDf = Dedup.ngramJaccardAgainstIndexes(exSh,
          incSh.filter(col("id").isin(maybeIds: _*)), tau = 0.5, exSizes = Some(exSizes))
        val newNewDf = Dedup.ngramJaccardPairsFromIndex(incSh, tau = 0.5)
          .select("id_a", "id_b")
        val confirmed = confirmedDf.collect()
        val newNew = newNewDf.collect()
        val dupStats = confirmed.groupMapReduce(key(_, 0))(r => (1L, r.getDouble(2))) {
          case ((n1, j1), (n2, j2)) => (n1 + n2, math.max(j1, j2))
        }
        // The pairs as one local frame typed as their union, so the
        // component column has the type the union of pairs gives it.
        val pairTypes = confirmedDf.select(col("new_id").as("id_a"), col("old_id").as("id_b"))
          .unionByName(newNewDf).schema
        val pairs = spark.createDataFrame(
            (confirmed.toSeq ++ newNew).map(r => Row(key(r, 0), key(r, 1))).asJava,
            StructType(pairTypes.map(_.copy(dataType = LongType))))
          .select(pairTypes.map(f => col(f.name).cast(f.dataType)): _*)
        // Incoming ids are absent from the old assignment by
        // construction, so their labels live entirely in the delta;
        // only the slice's own ids are read back.
        val compDf = Graph.componentsDelta(asg, pairs)
        val comp = compDf.filter(col("id").isin(gate.map(_.get(0)).toSeq: _*))
          .collect().map(r => key(r, 0) -> r.get(1)).toMap
        (gate, dupStats, comp, compDf.schema("comp").dataType)
      } finally incSh.uncut()
    }
    // VECTOR LEG: slice assignment against the injected dims; its
    // stages back-fill the text leg's sequential driver round-trips
    // (guide §2.6).
    def vecLeg() = {
      val idxDf = Similarity.ivfPqIndexDelta(sliceEmb,
          "vec_id", "embedding", cent, cb, m = 8, dim = 64)
        .select(col("id"), col("cid"), concat_ws(",", col("codes")).as("codes"))
      (idxDf.collect().map(r => key(r, 0) -> r).toMap, idxDf.schema("cid").dataType)
    }
    val ((gate, dupStats, comp, compType), (idx, cidType)) =
      graft.operators.Par.both(textLeg(), vecLeg())
    val verdict = gate.toSeq.map { g =>
      val id = key(g, 0)
      val dup = dupStats.get(id)
      val ix = idx.get(id)
      Row(g.get(0), g.getBoolean(1), dup.fold(0L)(_._1), dup.map[Any](_._2).orNull,
        comp.get(id).orNull, ix.map(_.get(1)).orNull, ix.map(_.get(2)).orNull)
    }
    spark.createDataFrame(verdict.asJava, StructType(Seq(
      incoming.schema("doc_id"),
      StructField("maybe_overlap", BooleanType, nullable = false),
      StructField("n_dup_old", LongType, nullable = false),
      StructField("best_jaccard", DoubleType),
      StructField("component", compType),
      StructField("cid", cidType),
      StructField("codes", StringType))))
  }

  // p4 composes the PROVEN replays: d7's recursive component CTE
  // over ALL pairs (the d16 equivalence — incremental merge must
  // equal full recompute), d11's bipartite confirm UNRESTRICTED
  // (equality with the Spark side's bloom-gated sliver is the
  // no-false-negative guarantee), d13's position-set bitmap
  // replay, and e11's fit+assign chain. Only the sliver gate and
  // the rep-space merge are Spark-side optimizations — the VALUES
  // must be independent of both, and this hash gate proves it.
  // p5 shares it VERBATIM: the serving path must reproduce the
  // self-contained fit bit-for-bit through the ModelStore
  // round-trip.
  private val ingestOracle: String =
    s"""WITH RECURSIVE ${GroupD.componentCte},
         |comp AS (SELECT id AS doc_id, min(reach) AS component FROM r GROUP BY 1),
         |ex2 AS (SELECT doc_id AS old_id, shingle FROM sh WHERE doc_id % 10 <> 0),
         |inc2 AS (SELECT doc_id AS new_id, shingle FROM sh WHERE doc_id % 10 = 0),
         |szo AS (SELECT old_id, count(*) AS n_old FROM ex2 GROUP BY 1),
         |szn AS (SELECT new_id, count(*) AS n_new FROM inc2 GROUP BY 1),
         |xsh AS (SELECT new_id, old_id, count(*) AS sh2
         |        FROM inc2 JOIN ex2 USING (shingle) GROUP BY 1, 2),
         |conf AS (SELECT new_id, old_id,
         |           round(sh2 * 1.0 / (n_new + n_old - sh2), 6) AS jaccard
         |         FROM xsh JOIN szn USING (new_id) JOIN szo USING (old_id)
         |         WHERE sh2 * 1.0 / (n_new + n_old - sh2) >= 0.5),
         |dups AS (SELECT new_id AS doc_id, count(*) AS n_dup_old,
         |           max(jaccard) AS best_jaccard FROM conf GROUP BY 1),
         |ks AS (SELECT unnest(generate_series(0, 6)) AS i),
         |exg AS (SELECT DISTINCT shingle FROM ex2),
         |expos AS (SELECT DISTINCT
         |            ((${DuckSql.hash64md5("shingle || ':' || i")} % 1048576)
         |             + 1048576) % 1048576 AS pos
         |          FROM exg, ks),
         |pp AS (SELECT new_id AS doc_id, shingle,
         |         ((${DuckSql.hash64md5("shingle || ':' || i")} % 1048576)
         |          + 1048576) % 1048576 AS pos
         |       FROM inc2, ks),
         |hit AS (SELECT doc_id, shingle, bool_and(e2.pos IS NOT NULL) AS hp
         |        FROM pp LEFT JOIN expos e2 USING (pos) GROUP BY 1, 2),
         |bagg AS (SELECT doc_id, max(hp) AS maybe_overlap FROM hit GROUP BY 1),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings),
         |nr AS (SELECT vec_id, vd,
         |         sqrt(list_reduce(list_transform(vd, x -> x * x),
         |              (a, b) -> a + b)) AS nrm FROM e),
         |au AS (SELECT vec_id AS id,
         |         CASE WHEN nrm = 0 THEN vd
         |              ELSE list_transform(vd, x -> x / nrm) END AS un FROM nr),
         |uu AS (SELECT id, un FROM au WHERE id % 10 <> 0),
         |su AS (SELECT id, un FROM au WHERE id % 10 = 0),
         |c0 AS (SELECT id AS cid, un AS cvec FROM uu WHERE id % 37 = 0),
         |${GroupE.lloydIter("c0", "c1")},
         |${GroupE.lloydIter("c1", "c2")},
         |sp AS (SELECT unnest(generate_series(0, 7)) AS s),
         |sd AS (SELECT id, un FROM uu ORDER BY id LIMIT 16),
         |cb0 AS (SELECT s, id AS cid, un[s * 8 + 1 : s * 8 + 8] AS cvec
         |        FROM sd, sp),
         |subs AS (SELECT id, s, un[s * 8 + 1 : s * 8 + 8] AS sub FROM uu, sp),
         |${GroupE.pqIter("cb0", "cb1")},
         |${GroupE.pqIter("cb1", "cb2")},
         |asg AS (SELECT id, cid FROM (
         |  SELECT q.*, row_number() OVER (PARTITION BY id
         |                 ORDER BY dot DESC, cid ASC) AS rn
         |  FROM (SELECT s2.id, c.cid,
         |          list_reduce(list_transform(generate_series(1, 64),
         |            i -> s2.un[i] * c.cvec[i]), (x, y) -> x + y) AS dot
         |        FROM su s2, c2 c) q) WHERE rn = 1),
         |ssub AS (SELECT id, s, un[s * 8 + 1 : s * 8 + 8] AS sub FROM su, sp),
         |scd AS (SELECT id, s, cid AS code FROM (
         |  SELECT q.*, row_number() OVER (PARTITION BY id, s
         |                 ORDER BY d2r ASC, cid ASC) AS rn
         |  FROM (SELECT sb.id, sb.s, c.cid,
         |          round(list_reduce(list_transform(generate_series(1, 8),
         |                  i -> sb.sub[i] * sb.sub[i]), (x, y) -> x + y)
         |            + list_reduce(list_transform(generate_series(1, 8),
         |                  i -> c.cvec[i] * c.cvec[i]), (x, y) -> x + y)
         |            - 2 * list_reduce(list_transform(generate_series(1, 8),
         |                  i -> c.cvec[i] * sb.sub[i]), (x, y) -> x + y), 6) AS d2r
         |        FROM ssub sb JOIN cb2 c USING (s)) q) WHERE rn = 1),
         |cds AS (SELECT id, string_agg(cast(code AS string), ',' ORDER BY s)
         |          AS codes
         |        FROM scd GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(bagg.maybe_overlap, false) AS maybe_overlap,
         |  coalesce(dups.n_dup_old, 0) AS n_dup_old,
         |  dups.best_jaccard, comp.component, a.cid, c.codes
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
         |LEFT JOIN bagg USING (doc_id)
         |LEFT JOIN dups USING (doc_id)
         |LEFT JOIN comp USING (doc_id)
         |LEFT JOIN asg a ON a.id = d.doc_id
         |LEFT JOIN cds c ON c.id = d.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "p4_ingest_pipeline" -> ingestOracle,
    "p5_serving_ingest" -> ingestOracle,

    // p6: DuckDB renders the SAME bulk NDJSON — action line via
    // string assembly (ids are digits; EsBulk renders them through
    // to_json(cast(id AS string)), which for digit strings is exactly
    // '"' || id || '"'), document line via DuckDB's to_json on the
    // name (same RFC-8259 escaping of the embedded quote/backslash as
    // Spark's Jackson for these ASCII payloads), cents as a bare
    // integer. Byte equality of the concatenated two-line entries is
    // the sink's serialization contract.
    "p6_sync_render" ->
      """WITH prev AS (
        |  SELECT o_orderkey, cast(o_totalprice AS decimal(18,2)) AS fp
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |cur AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0
        |         THEN cast(o_totalprice AS decimal(18,2))
        |              + cast(10 AS decimal(18,2))
        |         ELSE cast(o_totalprice AS decimal(18,2)) END AS fp
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |ops AS (
        |  SELECT coalesce(cur.o_orderkey, prev.o_orderkey) AS k,
        |    CASE WHEN prev.fp IS NULL THEN 'insert'
        |         WHEN cur.fp IS NULL THEN 'archive'
        |         WHEN cur.fp <> prev.fp THEN 'update'
        |         ELSE 'unchanged' END AS op,
        |    cur.fp AS fp
        |  FROM cur FULL OUTER JOIN prev ON cur.o_orderkey = prev.o_orderkey),
        |docs AS (
        |  SELECT k, op, 'O"' || k || '\' AS name,
        |    cast(fp * 100 AS bigint) AS total_cents
        |  FROM ops WHERE op <> 'unchanged')
        |SELECT
        |  CASE WHEN op = 'insert'
        |       THEN '{"index":{"_index":"collections","_id":"' || k || '"}}'
        |       ELSE '{"update":{"_index":"collections","_id":"' || k || '"}}'
        |  END || chr(10) ||
        |  CASE WHEN op = 'insert'
        |       THEN '{"name":' || to_json(name) ||
        |            ',"total_cents":' || total_cents || '}'
        |       WHEN op = 'update'
        |       THEN '{"doc":{"name":' || to_json(name) ||
        |            ',"total_cents":' || total_cents || '}}'
        |       ELSE '{"doc":{"archived":true}}' END AS value
        |FROM docs""".stripMargin,

    "p1_pipeline" ->
      """WITH RECURSIVE
        |e AS (SELECT p_partkey AS src, p_partkey // 2 AS dst
        |      FROM part WHERE p_partkey >= 2),
        |c AS (SELECT src, dst FROM e
        |      UNION
        |      SELECT c.src, e.dst FROM c JOIN e ON c.dst = e.src),
        |coll AS (SELECT o_orderkey AS collection_id,
        |           'col-' || CAST(o_orderkey % 100 AS varchar) AS collection_name,
        |           (o_orderkey % 30 + 2) AS required_type
        |         FROM orders),
        |rel0 AS (SELECT cat.collection_id AS category_id,
        |                cat.collection_id - 1 AS list_id
        |         FROM coll cat JOIN coll l ON l.collection_id = cat.collection_id - 1
        |         WHERE cat.collection_id % 2 = 1
        |         UNION ALL
        |         SELECT cat.collection_id, cat.collection_id + 2
        |         FROM coll cat JOIN coll l ON l.collection_id = cat.collection_id + 2
        |         WHERE cat.collection_id % 4 = 0
        |         UNION ALL
        |         SELECT cat.collection_id, cat.collection_id + 1
        |         FROM coll cat JOIN coll l ON l.collection_id = cat.collection_id + 1
        |         WHERE cat.collection_id % 8 = 1),
        |sound AS (SELECT category_id, min(list_id) AS list_id FROM rel0
        |          WHERE list_id NOT IN (SELECT category_id FROM rel0)
        |          GROUP BY 1),
        |merged AS (SELECT list_id, least(list_id, min(category_id)) AS new_id
        |           FROM sound GROUP BY 1),
        |remap AS (SELECT category_id AS old_id, new_id
        |          FROM sound JOIN merged USING (list_id)
        |          UNION ALL SELECT list_id, new_id FROM merged),
        |coll0 AS (SELECT coalesce(r.new_id, c.collection_id) AS collection_id,
        |                 c.collection_name, c.required_type
        |          FROM coll c LEFT JOIN remap r ON c.collection_id = r.old_id
        |          WHERE c.collection_id NOT IN (SELECT category_id FROM sound)),
        |mem0 AS (SELECT coalesce(r.new_id, m.collection_id) AS collection_id,
        |                m.member_id, max(m.score) AS score
        |         FROM (SELECT l_orderkey AS collection_id, l_partkey AS member_id,
        |                      l_extendedprice AS score FROM lineitem) m
        |         LEFT JOIN remap r ON m.collection_id = r.old_id
        |         GROUP BY 1, 2),
        |typed AS (SELECT mem0.collection_id, mem0.member_id, mem0.score,
        |                 p.p_name AS member_name, p.p_partkey AS member_type,
        |                 c0.collection_name, c0.required_type
        |          FROM mem0
        |          LEFT JOIN part p ON mem0.member_id = p.p_partkey
        |          JOIN coll0 c0 ON mem0.collection_id = c0.collection_id),
        |v AS (SELECT typed.*,
        |        (member_type = required_type OR cc.src IS NOT NULL) AS valid
        |      FROM typed LEFT JOIN c cc
        |        ON cc.src = member_type AND cc.dst = required_type),
        |ranked AS (SELECT collection_id, member_name,
        |             row_number() OVER (PARTITION BY collection_id
        |                                ORDER BY score DESC, member_id) AS rnk
        |           FROM v WHERE valid),
        |topm AS (SELECT collection_id,
        |           string_agg(member_name, ',' ORDER BY rnk) AS top_csv
        |         FROM ranked WHERE rnk <= 5 GROUP BY 1),
        |counts AS (SELECT collection_id,
        |             sum(CASE WHEN valid THEN 1 ELSE 0 END) AS valid_cnt,
        |             sum(CASE WHEN valid THEN 0 ELSE 1 END) AS invalid_cnt,
        |             max(CASE WHEN valid THEN score END) AS rank
        |           FROM v GROUP BY 1),
        |joined AS (SELECT c0.collection_name, c0.collection_id,
        |             coalesce(counts.valid_cnt, 0) AS valid_cnt,
        |             coalesce(counts.invalid_cnt, 0) AS invalid_cnt,
        |             counts.rank,
        |             coalesce(topm.top_csv, '') AS top_csv
        |           FROM coll0 c0
        |           LEFT JOIN counts ON c0.collection_id = counts.collection_id
        |           LEFT JOIN topm ON c0.collection_id = topm.collection_id),
        |best AS (SELECT collection_name, top_csv FROM (
        |           SELECT collection_name, top_csv,
        |             row_number() OVER (PARTITION BY collection_name
        |                ORDER BY rank DESC NULLS LAST, collection_id) AS rn
        |           FROM joined) WHERE rn = 1)
        |SELECT j.collection_name,
        |  min(j.collection_id) AS stable_id,
        |  cast(sum(j.valid_cnt) AS bigint) AS valid_cnt,
        |  cast(sum(j.invalid_cnt) AS bigint) AS invalid_cnt,
        |  round(max(j.rank), 6) AS rank,
        |  max(b.top_csv) AS top_members,
        |  ('0x' || substr(md5(cast(min(j.collection_id) AS varchar)), 1, 8))::BIGINT
        |    % 20 AS banner_number
        |FROM joined j JOIN best b ON j.collection_name = b.collection_name
        |GROUP BY 1""".stripMargin,

    "p2_corpus_pipeline" ->
      s"""WITH RECURSIVE
        |tok AS (SELECT doc_id, lang, source, text,
        |          ${DuckSql.toks} AS words
        |        FROM documents),
        |g AS (SELECT doc_id, source, words, cast(len(words) AS bigint) AS n_tokens
        |      FROM tok
        |      WHERE lang = 'en' AND len(words) >= 10
        |        AND len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')) * 1.0
        |              / len(text) <= 0.3
        |        AND doc_id % 20 <> 0),
        |sh AS (SELECT DISTINCT doc_id, unnest(${DuckSql.grams(3)}) AS shingle
        |       FROM g),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b
        |          FROM shared JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
        |          WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.5),
        |und AS (SELECT id_a AS a, id_b AS b FROM pairs
        |        UNION SELECT id_b, id_a FROM pairs),
        |r AS (SELECT a AS id, a AS reach FROM und
        |      UNION SELECT r.id, u.b FROM r JOIN und u ON r.reach = u.a),
        |losers AS (SELECT id FROM r GROUP BY id HAVING min(reach) <> id),
        |shall AS (SELECT DISTINCT doc_id, unnest(${DuckSql.grams(3)}) AS shingle
        |          FROM tok),
        |bench AS (SELECT DISTINCT shingle FROM shall WHERE doc_id % 20 = 0),
        |cont AS (SELECT doc_id,
        |           round(sum(CASE WHEN bench.shingle IS NOT NULL THEN 1 ELSE 0 END)
        |                 * 1.0 / count(*), 6) AS contamination
        |         FROM shall LEFT JOIN bench USING (shingle)
        |         WHERE doc_id % 20 <> 0
        |         GROUP BY 1)
        |SELECT g.doc_id, g.source, g.n_tokens,
        |  cast((g.n_tokens - 1) // ${GroupF2.ChunkStride} + 1 AS bigint) AS n_chunks
        |FROM g
        |LEFT JOIN cont ON g.doc_id = cont.doc_id
        |WHERE g.doc_id NOT IN (SELECT id FROM losers)
        |  AND coalesce(cont.contamination, 0) < 0.5
        |  AND ('0x' || substr(md5(cast(g.doc_id AS varchar)), 1, 8))::BIGINT % 100 < 50""".stripMargin,

    // p3 embeds the c6 and c7 oracles whole as CTEs (the proven
    // replays), adds the a27-shaped log-prob over the ingested names
    // and a26's md5 banner bucket, and applies a33's op rule — the
    // same composition the Spark plan makes from the same shared
    // definitions. string_split_regex ≡ Spark split on the same
    // pattern over [a-z0-9]-only inputs.
    "p3_custom_pipeline" ->
      s"""WITH c6 AS (${GroupC2.customOracle}),
         |${GroupC2.existingCte},
         |st AS (${GroupC2.statusOracle}),
         |toks AS (SELECT collection_id,
         |           unnest(string_split_regex(lower(collection_name),
         |                                     '[^a-z0-9]+')) AS tok
         |         FROM c6 WHERE NOT malformed),
         |freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
         |total AS (SELECT sum(cnt) AS total FROM freq),
         |lp AS (SELECT collection_id,
         |         round(sum(round(ln(cnt * 1.0 / total), 9)), 6) AS name_log_prob
         |       FROM toks JOIN freq USING (tok) CROSS JOIN total
         |       GROUP BY 1)
         |SELECT c6.collection_id,
         |  CASE WHEN ex.es_id IS NOT NULL THEN 'update' ELSE 'create' END AS op,
         |  coalesce(ex.es_id, 'new-' || c6.collection_id) AS es_id,
         |  c6.n_members, c6.rank,
         |  st.nonavailable_count, st.nonavailable_ratio,
         |  lp.name_log_prob,
         |  ('0x' || substr(md5(c6.collection_id), 1, 8))::BIGINT % 20
         |    AS banner_number
         |FROM c6 LEFT JOIN ex USING (collection_id)
         |        LEFT JOIN st USING (collection_id)
         |        LEFT JOIN lp USING (collection_id)
         |WHERE NOT c6.malformed AND c6.n_members <= 1""".stripMargin,
  )
}
