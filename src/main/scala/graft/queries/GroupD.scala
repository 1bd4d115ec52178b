package graft.queries

import graft.Tables
import graft.operators.{Dedup, Graph, Par, Similarity}
import graft.operators.Checkpoints.Cuttable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Group D — deduplication over the `documents` / `embeddings` tables:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  * Every query here is hash-verified: since round 6 the sketch ops
  * (d3/d4/d6) use md5-derived hashes and sign planes the DuckDB
  * oracle replays bit-for-bit, on top of the fidelity-vs-exact specs
  * in DedupSpec/SimilarityLshSpec.
  */
object GroupD {
  type Q = (SparkSession, String) => DataFrame

  /** d19's and d16's registered body, dims injected (the servingChain
    * pattern — ScaleProbe drives THIS, so the probed plan is the
    * served plan; d19 injects the persisted dims, d16 the ones
    * [[GroupP.textDims]] fits in memory): slice-confirm against the
    * shingle index (+ its sizes dim), new×new pairs, the one-pass
    * component merge into the assignment, then the full upsert
    * emission — the assignment is only ever scanned (componentsDelta's
    * broadcast probes + the upsert's anti-join), never shuffled, and
    * the upsert's output is intrinsically assignment-sized (the
    * registered contract: emit the whole updated assignment). */
  def componentsServingOf(incoming: DataFrame, exSh: DataFrame,
                          exSizes: DataFrame, asg: DataFrame): DataFrame = {
    // ONE slice shingle pass (r17, guide §1.2): the confirm probe and
    // the new×new pair stage consume the same cut (id, shingle) frame
    // — the r16 form re-tokenized the slice once per consumer.
    val incSh = Dedup.shingles(incoming, "doc_id", "text", n = 3).cut()
    val newPairs = Dedup.ngramJaccardAgainstIndexes(exSh, incSh,
        tau = 0.5, exSizes = Some(exSizes))
      .select(col("new_id").as("id_a"), col("old_id").as("id_b"))
      .unionByName(Dedup.ngramJaccardPairsFromIndex(incSh, tau = 0.5)
        .select("id_a", "id_b"))
    val delta = Graph.componentsDelta(asg, newPairs)
    // delta is |touched components| + |slice|-bounded (componentsDelta's
    // output contract) but its remap probe scans the assignment, whose
    // plan carries no size statistics, so the anti-join statically
    // sort-merged — shuffling the corpus-sized assignment once per
    // serving cycle before AQE's runtime broadcast conversion could
    // intervene (the r18 executed-plan dump shows the residual
    // Exchange on asg). Hint the broadcast; the assignment is
    // then scanned only, the declared serving contract.
    asg.join(delta.hint("broadcast"), Seq("id"), "left_anti")
      .unionByName(delta)
      .select(col("id").as("doc_id"), col("comp").as("component"))
  }

  val queries: Map[String, Q] = Map(
    "d1_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(Tables(s, d, "documents"), "doc_id", "text")),

    "d2_dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables(s, d, "documents"), "doc_id", "text",
        n = 3, tau = 0.5)),

    "d3_dedup_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshPairs(Tables(s, d, "documents"), "doc_id", "text",
        n = 3, bands = 8, rows = 4, minEstJaccard = 0.5)),

    "d4_dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Tables(s, d, "documents"), "doc_id", "text",
        maxHamming = 6)),

    // d11: INCREMENTAL dedup — the daily-ingest question "which of
    // today's documents already exist in the corpus", as a bipartite
    // inverted-index join (new slice × existing index), never the
    // corpus self-join. Every tenth document plays today's slice.
    "d11_dedup_incremental" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      Dedup.ngramJaccardAgainst(
        existing = docs.filter(col("doc_id") % 10 =!= 0),
        incoming = docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3, tau = 0.5)
    }),

    // d15: the dedup acceptance gate — e9's recall evaluation for the
    // pair generators: the MinHash-LSH candidate set (d3's proven
    // sketch replay) measured against the exact Jaccard truth set
    // (d2's) in one row of counts + precision/recall. The tune-on-a-
    // sample step every corpus-scale dedup run takes before choosing
    // bands × rows.
    "d15_dedup_eval" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      // The two pair generators are independent legs whose
      // construction runs eager cut jobs (the LSH signature cut; the
      // jaccard side's shingle + sizes cuts) — overlap them from two
      // driver threads (r17, guide §2.6) so the second leg back-fills
      // the first's sequential small stages.
      val (cand, truth) = Par.both(
        Dedup.minhashLshPairs(docs, "doc_id", "text",
          n = 3, bands = 8, rows = 4, minEstJaccard = 0.5),
        Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 3, tau = 0.5))
      Dedup.pairsEval(candidate = cand, truth = truth)
    }),

    // d5 is the EXACT all-pairs variant — the validation-scale gate
    // the LSH path is measured against (and the oracle target, since
    // DuckDB can replay it). d6 is the same contract at scale:
    // LSH-bucketed candidates + exact rescore, no all-pairs stage —
    // the plan to run at 100 TB. Recall floor vs d5 is pinned in
    // SimilarityLshSpec, and the whole LSH path is oracled besides
    // (md5-parity planes — see Similarity.planes).
    "d5_neardup_embedding" -> ((s, d) =>
      Similarity.cosinePairs(Tables(s, d, "embeddings"), "vec_id", "embedding",
        tau = 0.35)),

    // dim passed explicitly (a dataset constant): the registered plan
    // runs with ZERO driver probe jobs.
    "d6_neardup_embedding_lsh" -> ((s, d) =>
      Similarity.cosinePairsLsh(Tables(s, d, "embeddings"), "vec_id", "embedding",
        tau = 0.35, dim = 64)),

    // d7: pair → CLUSTER resolution. Near-dup pairs alone cannot drive
    // dedup (A~B, B~C must keep ONE canonical doc, but neither pair
    // says so): connected components over the d2 Jaccard pairs assign
    // every matched doc its cluster, component = min doc id = the
    // keeper. DuckDB replays it with a recursive reachability CTE.
    "d7_dedup_components" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(Tables(s, d, "documents"),
        "doc_id", "text", n = 3, tau = 0.5)
      // Timed.region("fit"): d7 IS a fit — the whole iterative label
      // propagation executes eagerly here — so its fit_s ≈ wall in
      // the bench artifact states the conflation explicitly (r14
      // verdict ask #5) instead of leaving the reader to infer it.
      graft.Timed.region("fit")(
          Graph.connectedComponents(pairs))
        .select(col("id").as("doc_id"), col("comp").as("component"))
    }),

    // d10: span-level duplication — the n-gram-granular exact-substring
    // signal (duplicated spans matter even when documents aren't
    // doc-level near-dups; complements d2/d3/d4's whole-document
    // verdicts). 3-grams here because the synthetic docs are short;
    // real corpora run 50-gram spans, same plan.
    "d10_dup_spans" -> ((s, d) =>
      graft.operators.Corpus.dupSpans(
          Tables(s, d, "documents"), "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_dup"),
          col("dup_fraction"))),

    // d9: benchmark decontamination — the OTHER cut every training
    // pipeline must make: drop (or flag) corpus docs sharing n-gram
    // content with an evaluation/benchmark set. Benchmark = every
    // 20th doc (deterministic stand-in for the eval suite); for each
    // remaining doc, count how many of its distinct 3-gram shingles
    // appear anywhere in the benchmark shingle set. One broadcast-
    // joinable dim (benchmark shingle sets are tiny by construction
    // at any corpus scale) + one keyed agg — no all-pairs, and the
    // corpus side is touched exactly once.
    "d9_decontaminate" -> ((s, d) =>
      graft.operators.Corpus.contamination(
          Tables(s, d, "documents"), "doc_id", "text", n = 3,
          isBench = col("doc_id") % 20 === 0)
        .select(col("id").as("doc_id"), col("n_shingles"), col("n_hits"),
          col("contamination"))),

    // d8: the actual training-set cut — the corpus with every
    // non-keeper member of a near-dup cluster removed (keeper = min
    // id per component). d7 labels the clusters; this consumes them.
    "d8_dedup_canonical" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
      Dedup.keepCanonical(docs, pairs, "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // d12: the CUT half of d10 — excise every token covered by a
    // corpus-wide duplicated 3-gram occurrence (exact-substring
    // dedup's removal step in fixed-n form, Lee et al. ACL'22: d10
    // measures span duplication, this produces the cleaned corpus).
    // Same two gram-keyed aggs as d10; the cut itself is a narrow
    // indexed filter against one per-doc covered-positions array.
    // kept_hash pins the exact cleaned text through the hash gate.
    "d12_dup_span_cut" -> ((s, d) =>
      graft.operators.Corpus.dupSpanCut(
          Tables(s, d, "documents"), "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
          col("kept_hash"))),

    // d14: the EXTRACTION half of exact-substring dedup — the maximal
    // duplicated spans ≥ L tokens themselves, one row each (d10
    // measures, d12 cuts, this names the spans and their lengths; a
    // 200-token duplicated region is ONE row, not 198 fixed-n hits).
    // General-length via the Lee ACL'22 reduction: ≥L-substring
    // coverage == duplicated-L-gram coverage, so maximal covered runs
    // ARE the maximal duplicated regions. L=3 to suit the short
    // synthetic docs; real corpora run L=50, same plan.
    "d14_dup_span_extract" -> ((s, d) =>
      graft.operators.Corpus.dupSpanExtract(
          Tables(s, d, "documents"), "doc_id", "text", minLen = 3)
        .select(col("id").as("doc_id"), col("span_start"), col("span_len"),
          col("span_hash"))),

    // d16: INCREMENTAL cluster maintenance — d7's answer without d7's
    // cost: the corpus keeps its (doc, component) assignment; an
    // ingest slice (every tenth doc, d11/d13's convention) arrives
    // with its new pairs (new×old from the d11 bipartite join, plus
    // new×new), and Graph.componentsDelta merges them in
    // representative space — work ∝ the slice and the components it
    // touches, never the corpus pair set. The registered output is
    // the UPSERTED assignment, so the oracle is d7's own recursive
    // CTE over ALL pairs: incremental path ≡ full recompute, proven
    // by the same SQL that proves d7.
    "d16_components_incremental" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      // Timed.region("fit"): the self-containment cost — the corpus
      // shingle index and yesterday's assignment (connectedComponents
      // is EAGER) — so the bench artifact's fit_s column splits this
      // query's wall into amortizable fit + per-cycle delta (r14
      // verdict ask #5; a serving deployment pays only the delta —
      // d19 measures that regime directly, on the same body). The
      // bitmap dim stays lazy and unused here.
      val (exSh, exSizes, _, asg) = graft.Timed.region("fit")(
        GroupP.textDims(docs.filter(col("doc_id") % 10 =!= 0)))
      componentsServingOf(docs.filter(col("doc_id") % 10 === 0),
        exSh, exSizes, asg)
    }),

    // d19: d16's SERVING form — the cluster family's p5: the
    // assignment AND the confirm's shingle index + sizes come from
    // the ModelStore-backed serving store (fitted once per corpus
    // fingerprint by GroupP.ensureServingModels), so the registered
    // cost is the per-cycle serving work alone — slice shingling,
    // dim-probe confirm, rep-space merge — with nothing corpus-sized
    // refit per invocation (the r9 verdict's d16 fit-conflation,
    // closed for the standalone operator as p5 closed it for the
    // composed DAG). Same oracle as d16/d7: the values must be
    // IDENTICAL to the self-contained fit.
    "d19_components_serving" -> ((s, d) => {
      val root = GroupP.ensureServingModels(s, d)
      componentsServingOf(
        Tables(s, d, "documents").filter(col("doc_id") % 10 === 0),
        graft.sinks.ModelStore.load(s, s"$root/ex_shingles"),
        graft.sinks.ModelStore.load(s, s"$root/ex_sizes"),
        graft.sinks.ModelStore.load(s, s"$root/assignment"))
    }),

    // d17: INCREMENTAL span-level duplication — d10's answer for an
    // ingest slice against the PERSISTED gram-count dim, no corpus
    // re-aggregation (the exact-substring family joins d11/d16/e11/b4
    // in the slice-proportional club). A slice gram occurrence is
    // duplicated iff corpus count + slice count ≥ 2, which equals
    // the full d10 over all docs restricted to the slice — so d10's
    // own replay (plus the restriction) is the oracle.
    "d17_dup_spans_incremental" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      graft.operators.Corpus.dupSpansAgainst(
          graft.operators.Corpus.gramCounts(
            docs.filter(col("doc_id") % 10 =!= 0), "text", n = 3),
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_dup"),
          col("dup_fraction"))
    }),

    // d20/d21: the span family's SERVING forms — d17/d18 with the
    // gram-count dim reloaded from the ModelStore serving store
    // instead of re-aggregated from the corpus per invocation (the
    // per-cycle plan; the fit is ensureServingModels' once-per-
    // fingerprint job). Oracles are d17's/d18's verbatim: values must
    // be identical to the inline fit, which also proves the dim's
    // (gram, cnt) round-trip.
    "d20_spans_serving" -> ((s, d) => {
      val root = GroupP.ensureServingModels(s, d)
      graft.operators.Corpus.dupSpansAgainst(
          graft.sinks.ModelStore.load(s, s"$root/gram_counts"),
          Tables(s, d, "documents").filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_dup"),
          col("dup_fraction"))
    }),
    "d21_span_cut_serving" -> ((s, d) => {
      val root = GroupP.ensureServingModels(s, d)
      graft.operators.Corpus.dupSpanCutAgainst(
          graft.sinks.ModelStore.load(s, s"$root/gram_counts"),
          Tables(s, d, "documents").filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
          col("kept_hash"))
    }),

    // d18: the CUT half of d17 — d12's cleaned text for an ingest
    // slice against the persisted gram-count dim, byte-identical
    // (kept_hash and all) to the full recompute restricted to the
    // slice.
    "d18_dup_span_cut_incremental" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      graft.operators.Corpus.dupSpanCutAgainst(
          graft.operators.Corpus.gramCounts(
            docs.filter(col("doc_id") % 10 =!= 0), "text", n = 3),
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
          col("kept_hash"))
    }),

    // d13: Bloom-filter prefilter for incremental dedup — d11's
    // question ("which of today's docs might collide with the
    // corpus") answered WITHOUT touching the corpus again: the
    // existing slice's shingle set compresses to a 2^20-bit bitmap
    // (a dim), and each incoming doc only learns which of its
    // shingles are maybe-present. maybe_overlap=false docs are
    // PROVEN novel (no false negatives) and skip the d11 join
    // entirely — the standard first stage before any pairwise
    // confirmation at 100 TB. All hashes are md5-family, so the
    // oracle replays the bitmap semantics via a position-set plan.
    "d13_bloom_prefilter" -> ((s, d) =>
      bloomPrefilterOf(Tables(s, d, "documents"))),
  )

  /** The registered d13 body (shared with ScaleProbe so probe and
    * query cannot drift): every-tenth doc plays today's slice, the
    * rest the corpus whose shingle set the bitmap compresses. */
  private[graft] def bloomPrefilterOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val incoming = docs.filter(col("doc_id") % 10 === 0)
    val bits = Dedup.bloomBits(
      Dedup.shingles(existing, "doc_id", "text", n = 3).select("shingle"),
      "shingle")
    bloomGateAgainst(bits, incoming)
  }

  /** The gate half of [[bloomPrefilterOf]] against a SUPPLIED bitmap
    * (fresh or ModelStore-reloaded) — the serving form p5 runs: the
    * corpus-side bitmap build is the fit, this probe is the per-cycle
    * work. One definition, so the full (d13) and serving (p5) paths
    * cannot hash differently. */
  private[graft] def bloomGateAgainst(bits: org.apache.spark.sql.DataFrame,
                                      incoming: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bloomGateAgainstShingled(bits, incoming,
      Dedup.shingles(incoming, "doc_id", "text", n = 3))

  /** [[bloomGateAgainst]] with the slice's (id, shingle) frame
    * supplied — the shared-shingle form p4/p5 use so the gate probe
    * rides the same slice index the confirm and pair stages consume
    * (guide §1.2; the plain form shingled the slice itself). One
    * body, so gate semantics cannot drift between the forms. */
  private[graft] def bloomGateAgainstShingled(
      bits: org.apache.spark.sql.DataFrame,
      incoming: org.apache.spark.sql.DataFrame,
      incShingles: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val perGram = Dedup.bloomProbe(bits,
      incShingles.select(col("id"), col("shingle")), "shingle")
    incoming.select(col("doc_id"))
      .join(perGram.groupBy(col("id").as("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
               sum(col("maybe_present").cast("long")).as("n_maybe"),
               max(col("maybe_present")).as("maybe_overlap")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_maybe"), lit(0L)).as("n_maybe"),
        coalesce(col("maybe_overlap"), lit(false)).as("maybe_overlap"))
  }

  /** Distinct (doc, 3-shingle) CTE chain shared by every Jaccard-based
    * oracle; gram construction comes from [[DuckSql]] (one definition
    * next to Text.shingles' parity contract). */
  private[queries] val shingleCte =
    s"""w AS (${DuckSql.wordsCte}),
       |sh AS (SELECT DISTINCT doc_id, unnest(${DuckSql.grams(3)}) AS shingle FROM w)""".stripMargin

  /** Jaccard ≥ 0.5 pair CTEs on top of [[shingleCte]] (d2/d7/d8). */
  private[queries] val jaccardCte =
    s"""$shingleCte,
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
       |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2)""".stripMargin

  /** The MinHash-LSH replay on top of [[shingleCte]]'s `sh` (d3 AND
    * d15 — one definition, so the acceptance gate always replays the
    * registered generator): 32 md5-derived affine signatures, 8
    * bands × 4 rows, band-bucket candidates, signature-overlap
    * estimate. Produces CTE `est` = (id_a, id_b, est_jaccard). */
  private val minhashEstCte =
    s"""hx AS (SELECT doc_id AS id, md5(shingle) AS h FROM sh),
       |ws AS (SELECT id,
       |         ${DuckSql.hexFold("substr(h, 1, 8)")} AS w0,
       |         ${DuckSql.hexFold("substr(h, 9, 8)")} AS w1,
       |         ${DuckSql.hexFold("substr(h, 17, 8)")} AS w2,
       |         ${DuckSql.hexFold("substr(h, 25, 8)")} AS w3
       |       FROM hx),
       |ab AS (SELECT id, i, (w0 + (2 * i + 1) * w2) % 4294967296 AS a,
       |               (w1 + (2 * i + 1) * w3) % 4294967296 AS b
       |       FROM ws, (SELECT unnest(generate_series(0, 31)) AS i) seeds),
       |comp AS (SELECT id, i,
       |           min((CASE WHEN a >= 2147483648 THEN a - 4294967296 ELSE a END)
       |               * 4294967296 + b) AS sig
       |         FROM ab GROUP BY 1, 2),
       |bnd AS (SELECT id, i // 4 AS band,
       |          string_agg(cast(sig AS varchar), ',' ORDER BY i) AS csv
       |        FROM comp GROUP BY 1, 2),
       |bk AS (SELECT id, band, ${DuckSql.hash64md5("band || ':' || csv")} AS bucket
       |       FROM bnd),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |         FROM bk a JOIN bk b
       |           ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
       |est AS (SELECT c.id_a, c.id_b,
       |          sum(CASE WHEN x.sig = y.sig THEN 1 ELSE 0 END) / 32.0 AS est_jaccard
       |        FROM cand c
       |        JOIN comp x ON x.id = c.id_a
       |        JOIN comp y ON y.id = c.id_b AND y.i = x.i
       |        GROUP BY 1, 2)""".stripMargin

  /** Min-label cluster CTEs on top of [[jaccardCte]] (d7/d8). */
  private[queries] val componentCte =
    s"""$jaccardCte,
       |pairs AS (SELECT id_a, id_b
       |          FROM shared JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
       |          WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.5),
       |und AS (SELECT id_a AS a, id_b AS b FROM pairs
       |        UNION SELECT id_b, id_a FROM pairs),
       |r AS (SELECT a AS id, a AS reach FROM und
       |      UNION SELECT r.id, u.b FROM r JOIN und u ON r.reach = u.a)""".stripMargin

  /** d10's replay, shared verbatim with d17 (whose oracle IS this
    * over the full corpus, plus a slice restriction) — one
    * definition, so a DuckDB-semantics fix cannot reach one and miss
    * the other. */
  private val dupSpansOracle =
    s"""WITH w AS (${DuckSql.wordsCte}),
         |gr AS (SELECT doc_id, unnest(${DuckSql.grams(3)}) AS gram FROM w),
         |hot AS (SELECT gram FROM gr GROUP BY gram HAVING count(*) >= 2),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM gr GROUP BY 1),
         |dup AS (SELECT doc_id, count(*) AS n_dup FROM gr JOIN hot USING (gram)
         |        GROUP BY 1)
         |SELECT doc_id, tot.n_grams,
         |  coalesce(dup.n_dup, 0) AS n_dup,
         |  round(coalesce(dup.n_dup, 0) * 1.0 / tot.n_grams, 6) AS dup_fraction
         |FROM tot LEFT JOIN dup USING (doc_id)""".stripMargin

  /** d12's replay, shared verbatim with d18 (same discipline). */
  private val dupSpanCutOracle =
    s"""WITH w AS (${DuckSql.wordsCte}),
       |g AS (SELECT doc_id,
       |        unnest(${DuckSql.grams(3)}) AS gram,
       |        unnest(generate_series(1, greatest(len(words) - 2, 0))) AS pos
       |      FROM w),
       |hot AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2),
       |cov AS (SELECT DISTINCT doc_id, pos + off AS tokpos
       |        FROM g JOIN hot USING (gram)
       |        CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS off) o),
       |idx AS (SELECT doc_id, words, unnest(generate_series(1, len(words))) AS i
       |        FROM w),
       |kept AS (SELECT idx.doc_id, idx.i, idx.words[idx.i] AS tok
       |         FROM idx
       |         WHERE NOT EXISTS (SELECT 1 FROM cov
       |                           WHERE cov.doc_id = idx.doc_id
       |                             AND cov.tokpos = idx.i)),
       |agg AS (SELECT doc_id, count(*) AS n_kept,
       |          string_agg(tok, ' ' ORDER BY i) AS s
       |        FROM kept GROUP BY 1)
       |SELECT w.doc_id, cast(len(words) AS bigint) AS n_tokens,
       |  cast(coalesce(n_kept, 0) AS bigint) AS n_kept,
       |  md5(coalesce(s, '')) AS kept_hash
       |FROM w LEFT JOIN agg USING (doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "d1_dedup_exact" ->
      """SELECT md5(coalesce(text, '')) AS text_hash, min(doc_id) AS keeper,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,

    "d11_dedup_incremental" ->
      s"""WITH w AS (${DuckSql.wordsCte}),
         |sh AS (SELECT DISTINCT doc_id, unnest(${DuckSql.grams(3)}) AS shingle
         |       FROM w),
         |ex AS (SELECT doc_id AS old_id, shingle FROM sh WHERE doc_id % 10 <> 0),
         |inc AS (SELECT doc_id AS new_id, shingle FROM sh WHERE doc_id % 10 = 0),
         |szo AS (SELECT old_id, count(*) AS n_old FROM ex GROUP BY 1),
         |szn AS (SELECT new_id, count(*) AS n_new FROM inc GROUP BY 1),
         |shared AS (SELECT new_id, old_id, count(*) AS shared
         |           FROM inc JOIN ex USING (shingle) GROUP BY 1, 2)
         |SELECT new_id, old_id,
         |  round(shared * 1.0 / (n_new + n_old - shared), 6) AS jaccard
         |FROM shared JOIN szn USING (new_id) JOIN szo USING (old_id)
         |WHERE shared * 1.0 / (n_new + n_old - shared) >= 0.5""".stripMargin,

    // d3/d4 replay the ENTIRE sketch construction — md5-derived
    // component/feature hashes (DuckSql.hash64md5 == Text.hash64md5),
    // banding, bucket join, estimate/hamming — so the sketch family is
    // hash-verified end to end, not rows-only. The helper recomputes
    // md5 per hex half (no conv() in DuckDB); oracle cost, not engine
    // cost.
    "d3_dedup_minhash_lsh" ->
      s"""WITH $shingleCte,
         |$minhashEstCte
         |SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.5""".stripMargin,

    "d4_dedup_simhash" ->
      s"""WITH w AS (${DuckSql.wordsCte}),
         |tok AS (SELECT doc_id AS id, unnest(words) AS t FROM w),
         |fh AS (SELECT id, ${DuckSql.hash64md5("t")} AS h FROM tok),
         |bits AS (SELECT id, b,
         |           sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS ctr
         |         FROM fh, (SELECT unnest(generate_series(0, 63)) AS b) bs
         |         GROUP BY 1, 2),
         |fps AS (SELECT id, cast(sum(CASE WHEN ctr > 0 THEN
         |            CASE WHEN b = 63 THEN -9223372036854775807 - 1
         |                 ELSE (1::BIGINT << b) END
         |          ELSE 0 END) AS bigint) AS fp
         |        FROM bits GROUP BY 1),
         |bp AS (SELECT i, j
         |       FROM (SELECT unnest(generate_series(0, 7)) AS i) a,
         |            (SELECT unnest(generate_series(0, 7)) AS j) b
         |       WHERE i < j),
         |banded AS (SELECT id, fp, i * 8 + j AS tbl,
         |             ((fp >> (i * 8)) & 255) * 256 + ((fp >> (j * 8)) & 255) AS key
         |           FROM fps, bp)
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |  cast(bit_count(xor(a.fp, b.fp)) AS int) AS hamming
         |FROM banded a JOIN banded b
         |  ON a.tbl = b.tbl AND a.key = b.key AND a.id < b.id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 6""".stripMargin,

    // d6 replays the hyperplane-LSH near-dup path end to end (shared
    // CTEs with e2 — see DuckSql.lshCtes); the tau cut applies to the
    // UNROUNDED cosine exactly as the Spark side does, and that value
    // is bit-identical because every reduction is the same ascending
    // fold.
    "d6_neardup_embedding_lsh" ->
      s"""WITH ${DuckSql.lshCtes},
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |         FROM bk a JOIN bk b
         |           ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |scored AS (SELECT id_a, id_b,
         |             list_reduce(list_transform(generate_series(1, 64),
         |               i -> x.u[i] * y.u[i]), (p, q) -> p + q) AS cosv
         |           FROM cand JOIN u x ON x.vec_id = id_a
         |                     JOIN u y ON y.vec_id = id_b)
         |SELECT id_a, id_b, round(cosv, 6) AS cosine
         |FROM scored WHERE cosv >= 0.35""".stripMargin,

    "d2_dedup_ngram_jaccard" ->
      s"""WITH $jaccardCte
         |SELECT id_a, id_b,
         |  round(shared * 1.0 / (x.n + y.n - shared), 6) AS jaccard
         |FROM shared JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
         |WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.5""".stripMargin,

    // d15 composes the two PROVEN pair oracles over one shared
    // shingle CTE (the exact-Jaccard truth set tp from jaccardCte,
    // the MinHash candidate set cp from the SAME minhashEstCte d3
    // replays), full-outer joined on the oriented pair key and
    // counted. Both generators emit non-null id_a < id_b, so the
    // operator's null-drop + least/greatest normalization is the
    // identity here.
    "d15_dedup_eval" ->
      s"""WITH $jaccardCte,
         |tp AS (SELECT id_a AS pa, id_b AS pb
         |       FROM shared JOIN sz x ON id_a = x.doc_id
         |                   JOIN sz y ON id_b = y.doc_id
         |       WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.5),
         |$minhashEstCte,
         |cp AS (SELECT id_a AS pa, id_b AS pb FROM est WHERE est_jaccard >= 0.5),
         |j AS (SELECT t.pa AS tpa, c.pa AS cpa
         |      FROM tp t FULL OUTER JOIN cp c ON t.pa = c.pa AND t.pb = c.pb),
         |agg AS (SELECT cast(count(tpa) AS bigint) AS n_truth,
         |          cast(count(cpa) AS bigint) AS n_candidate,
         |          cast(count(CASE WHEN tpa IS NOT NULL AND cpa IS NOT NULL
         |                  THEN 1 END) AS bigint) AS n_matched
         |        FROM j)
         |SELECT n_truth, n_candidate, n_matched,
         |  round(cast(n_matched AS double) / greatest(n_candidate, 1), 4)
         |    AS precision,
         |  round(cast(n_matched AS double) / greatest(n_truth, 1), 4) AS recall
         |FROM agg""".stripMargin,

    "d7_dedup_components" ->
      s"""WITH RECURSIVE $componentCte
         |SELECT id AS doc_id, min(reach) AS component FROM r GROUP BY 1""".stripMargin,

    // d16's oracle IS d7's: the incremental merge must reproduce the
    // full recompute over the complete pair set, bit for bit — the
    // strongest possible equivalence statement, and the whole point
    // of the operator.
    "d16_components_incremental" ->
      s"""WITH RECURSIVE $componentCte
         |SELECT id AS doc_id, min(reach) AS component FROM r GROUP BY 1""".stripMargin,

    // d19's oracle IS d16's/d7's: the serving path on reloaded dims
    // must reproduce the full recompute bit for bit — the hash match
    // proves both the incremental merge AND the persistence
    // round-trip at once.
    "d19_components_serving" ->
      s"""WITH RECURSIVE $componentCte
         |SELECT id AS doc_id, min(reach) AS component FROM r GROUP BY 1""".stripMargin,

    "d8_dedup_canonical" ->
      s"""WITH RECURSIVE $componentCte,
         |losers AS (SELECT id FROM r GROUP BY id HAVING min(reach) <> id)
         |SELECT doc_id, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin,

    "d10_dup_spans" -> dupSpansOracle,

    // d17's oracle IS d10's — the shared val — restricted to the
    // slice: incremental ≡ full recompute, the d16/b4 equivalence
    // pattern.
    "d17_dup_spans_incremental" ->
      s"""SELECT * FROM ($dupSpansOracle) WHERE doc_id % 10 = 0""",

    // d20's oracle IS d17's; the reloaded gram dim must change
    // nothing.
    "d20_spans_serving" ->
      s"""SELECT * FROM ($dupSpansOracle) WHERE doc_id % 10 = 0""",

    "d9_decontaminate" ->
      s"""WITH $shingleCte,
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0)
         |SELECT doc_id,
         |  count(*) AS n_shingles,
         |  cast(sum(CASE WHEN bench.shingle IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_hits,
         |  round(sum(CASE WHEN bench.shingle IS NOT NULL THEN 1 ELSE 0 END) * 1.0
         |        / count(*), 6) AS contamination
         |FROM sh LEFT JOIN bench USING (shingle)
         |WHERE doc_id % 20 <> 0
         |GROUP BY 1""".stripMargin,

    "d5_neardup_embedding" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.35""".stripMargin,

    // d12 replays the cut with a DIFFERENT plan (token-index anti
    // filter via NOT EXISTS vs Spark's narrow covered-array lambda) —
    // same values, proven per document by the kept_hash. Positions are
    // 1-based here, 0-based on the Spark side; both cover [pos, pos+2].
    "d12_dup_span_cut" -> dupSpanCutOracle,

    // d18's oracle IS d12's — the shared val — restricted to the
    // slice (the hot set, every covered position and the kept_hash
    // depend only on corpus ∪ slice gram counts).
    "d18_dup_span_cut_incremental" ->
      s"""SELECT * FROM ($dupSpanCutOracle) WHERE doc_id % 10 = 0""",

    // d21's oracle IS d18's — same serving-equals-inline contract.
    "d21_span_cut_serving" ->
      s"""SELECT * FROM ($dupSpanCutOracle) WHERE doc_id % 10 = 0""",

    // d14 replays span extraction with a DIFFERENT plan: duplicated-
    // 3-gram coverage, then maximal runs via gaps-and-islands
    // (tokpos − row_number is constant within a consecutive run) vs
    // Spark's narrow sorted-array boundary filters. span_hash pins
    // the exact span text. Positions 1-based here, 0-based Spark-side.
    "d14_dup_span_extract" ->
      s"""WITH w AS (${DuckSql.wordsCte}),
         |g AS (SELECT doc_id,
         |        unnest(${DuckSql.grams(3)}) AS gram,
         |        unnest(generate_series(1, greatest(len(words) - 2, 0))) AS pos
         |      FROM w),
         |hot AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2),
         |cov AS (SELECT DISTINCT doc_id, pos + off AS tokpos
         |        FROM g JOIN hot USING (gram)
         |        CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS off) o),
         |isl AS (SELECT doc_id, tokpos,
         |          tokpos - row_number() OVER (PARTITION BY doc_id
         |                                      ORDER BY tokpos) AS grp
         |        FROM cov),
         |r AS (SELECT doc_id, min(tokpos) AS s1, count(*) AS len
         |      FROM isl GROUP BY doc_id, grp)
         |SELECT r.doc_id, cast(s1 - 1 AS bigint) AS span_start,
         |  cast(len AS bigint) AS span_len,
         |  md5(array_to_string(list_slice(w.words, s1, s1 + len - 1), ' '))
         |    AS span_hash
         |FROM r JOIN w USING (doc_id)""".stripMargin,

    // d13 replays the Bloom filter's SEMANTICS, not its bitmap plan:
    // a shingle is maybe-present iff all 7 of its md5-derived bit
    // positions land in the existing slice's position set (bitmap
    // word/mask packing and a distinct-position IN test are the same
    // predicate, so the hash gate proves value equality while the
    // plans differ). Position hash = hash64md5(shingle:i) mod 2^20,
    // the exact Text.hash64md5 construction.
    "d13_bloom_prefilter" ->
      s"""WITH $shingleCte,
         |ks AS (SELECT unnest(generate_series(0, 6)) AS i),
         |exg AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 <> 0),
         |expos AS (SELECT DISTINCT
         |            ((${DuckSql.hash64md5("shingle || ':' || i")} % 1048576)
         |             + 1048576) % 1048576 AS pos
         |          FROM exg, ks),
         |inc AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 = 0),
         |pp AS (SELECT doc_id, shingle,
         |         ((${DuckSql.hash64md5("shingle || ':' || i")} % 1048576)
         |          + 1048576) % 1048576 AS pos
         |       FROM inc, ks),
         |hit AS (SELECT doc_id, shingle, bool_and(e.pos IS NOT NULL) AS hp
         |        FROM pp LEFT JOIN expos e USING (pos) GROUP BY 1, 2),
         |agg AS (SELECT doc_id, count(*) AS n_grams,
         |          cast(sum(CASE WHEN hp THEN 1 ELSE 0 END) AS bigint) AS n_maybe,
         |          max(hp) AS maybe_overlap
         |        FROM hit GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
         |  coalesce(n_maybe, 0) AS n_maybe,
         |  coalesce(maybe_overlap, false) AS maybe_overlap
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
         |LEFT JOIN agg USING (doc_id)""".stripMargin,
  )
}
