package graft.operators

import graft.functions.Text
import graft.operators.Checkpoints.Cuttable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash. (Reference analogue:
  * collection-templates dedups members by curated name —
  * scripts/prepare_members_names.py `uniq_members` — and merges
  * same-name collections — scripts/filter_duplicates.py; these
  * operators generalize that to content-level near-duplication.)
  *
  * Scale posture: nothing here is all-pairs. Candidate generation goes
  * through an inverted index (shared shingle / LSH band bucket /
  * SimHash band), so the only shuffles key on high-cardinality values
  * and the pair fan-out is bounded by bucket sizes. `dfCap` drops
  * ubiquitous shingles (stopword-like n-grams) that would otherwise
  * create quadratic buckets — the standard df-cut for skew.
  */
object Dedup {

  /** Exact dedup groups: md5 of `textCol`, smallest id wins.
    * One map-side-combinable aggregation. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // coalesce: the repo-wide null-text-is-empty-document contract
    // (bloomPositions, Corpus.dupSpanCut) — bare md5(null) is null,
    // which splits null-text docs into their own group away from
    // ''-text docs and silently drops them from any downstream
    // text_hash equi-join (r12 review). The d1 oracle coalesces
    // identically.
    docs.groupBy(md5(coalesce(col(textCol), lit(""))).as("text_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_docs"))

  /** The corpus after near-dup removal: every document whose id is a
    * non-keeper member of some pair-cluster is dropped; cluster =
    * [[Graph.connectedComponents]] over `pairs`, keeper = the min id.
    * This is the step the pair generators exist for — the actual
    * training-set cut. One anti-join of the corpus against the
    * non-keeper id set (components are pair-count-sized, dim-like
    * next to the corpus; the anti-join shuffles on the id, or
    * broadcasts when the dup set is small enough for AQE to see it).
    */
  def keepCanonical(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val losers = Graph.connectedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("__loser"))
    docs.join(losers, docs(idCol) === col("__loser"), "left_anti")
  }

  /** Distinct (id, shingle) pairs, optionally dropping shingles whose
    * document frequency exceeds `dfCap` (0 = keep all). Cap sizing is
    * [[Relational.overlapPairs]]' rule: largest downstream join task
    * ≈ cap² pairs, so cap ≈ √(per-task pair budget) — 10⁴ by default
    * at corpus scale; a shingle in > 10⁴ documents identifies
    * boilerplate, not duplication, so the cut costs recall nothing.
    *
    * With a dfCap the distinct stream is checkpointed FIRST and the
    * over-cap set derived from the checkpointed frame: the drop-set
    * job ([[overCapShingles]]' eager cut) then reads stored blocks
    * instead of recomputing the tokenize→explode→distinct pipeline,
    * and the anti-join probe side reuses the same blocks — one
    * materialization of the heaviest shuffle instead of two.
    *
    * Consequently this RUNS JOBS AT CONSTRUCTION when `dfCap > 0`
    * (both checkpoints are actions): the tradeoff that makes the
    * drop-set's broadcast provable to the planner instead of hoped
    * from AQE (see [[Relational.overlapPairs]] — same contract).
    * Plan-inspection callers that must stay job-free pass
    * `dfCap = 0`. */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
               n: Int, dfCap: Long = 0L): DataFrame = {
    val sh = docs
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .select(col("id"), explode(Text.shingles(col("toks"), n)).as("shingle"))
      .distinct()
    if (dfCap <= 0) sh
    else {
      val shc = sh.cut()
      val over = overCapShingles(shc, dfCap)
      // The kept set is cut HERE (callers must not re-cut a dfCap>0
      // result) so the two internal checkpoints — shc, the heaviest
      // intermediate in the whole dedup pipeline, and the over-cap
      // set — can be freed the moment it materializes instead of
      // staying persisted for the query lifetime at 2× the largest
      // block set (r12 review; the Checkpoints.uncut contract).
      val kept = shc.join(over, Seq("shingle"), "left_anti").cut()
      shc.uncut()
      over.uncut()
      kept
    }
  }

  /** The OVER-cap shingle set for a (id, shingle) frame: shingles
    * whose document frequency exceeds `dfCap`. Both dfCap cuts
    * ([[shingles]] and [[ngramJaccardAgainst]]) anti-join against
    * THIS set (bounded by E/dfCap, tiny in practice) instead of
    * inner-joining the huge keep set, so the shingle stream is never
    * shuffled for the cut. Same rationale as
    * [[Relational.overlapPairs]]'s dfCap cut — including the eager
    * checkpoint: an agg+filter subtree carries no usable size
    * estimate, so without it neither the static planner nor AQE can
    * prove the broadcast and the cut degrades to a full SMJ of the
    * shingle stream (measured; AQE's runtime stats stop at the stage
    * boundary below the agg). The checkpointed set exposes its true
    * materialized size: broadcast exactly when genuinely small,
    * automatic shuffled-join fallback when not. One definition, so
    * the cut shape (and its broadcast-anti-join plan assertion in
    * Round6Spec) cannot drift between call sites. */
  private[graft] def overCapShingles(sh: DataFrame, dfCap: Long): DataFrame =
    sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("shingle").cut()

  /** Near-duplicate pairs by exact n-gram Jaccard ≥ `tau`. Two exact
    * plans, selected by `prefixFilter`; both return identical results.
    *
    * Default (`prefixFilter = false`): shared-shingle inverted-index
    * join — only pairs with ≥ 1 common shingle are materialized, one
    * aggregation counts each intersection, sizes come from a pre-agg.
    * Join volume is Σ df² over shingles, which is the efficient plan
    * when shingle document-frequencies are bounded (low-entropy /
    * synthetic corpora, or any corpus after a `dfCap` cut).
    *
    * `prefixFilter = true`: PPJoin-style prefix filtering (Xiao et
    * al., "Efficient Similarity Joins for Near Duplicate Detection",
    * WWW'08). Shingles are globally ordered rarest-first; a document
    * of set size s indexes only its first s − ⌈τ·s⌉ + 1 shingles, and
    * any pair with J ≥ τ provably shares an indexed shingle on both
    * sides (its rarest common element sits within both prefixes).
    * Candidates are then verified on full collected shingle sets. On
    * high-entropy corpora (real web text: shingle df ≈ 1–2) this
    * skips the ubiquitous-shingle join mass entirely and is the
    * 100 TB path; on low-entropy corpora the candidate set stays
    * large and the default count-join is faster.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, tau: Double, dfCap: Long = 0L,
                        prefixFilter: Boolean = false): DataFrame = {
    // dfCap > 0 results arrive already cut from shingles (which frees
    // its internals against that cut); only the lazy dfCap = 0 form
    // needs the checkpoint here.
    val sh0 = shingles(docs, idCol, textCol, n, dfCap)
    // EAGER cut, deliberately (r17 A/B): sh is scanned by several
    // subplans of the SAME downstream job (sizes + the overlap join,
    // or sets + both candidate sides), and a lazily-persisted frame
    // double-computes under Spark's get-or-compute race when two
    // tasks materialize the same partition concurrently — the
    // interleaved A/B measured the lazy form at +40% cpu on the
    // jaccard family. Lazy cuts are only safe single-scan-first
    // (see Checkpoints.cutLazy).
    val sh = if (dfCap > 0) sh0 else sh0.cut()
    if (!prefixFilter) {
      ngramJaccardPairsFromIndex(sh, tau, boundedDf = dfCap > 0)
    } else {
      // Global rarity order (df, shingle); rank each doc's shingles by it.
      val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy("df", "shingle")
      val prefix = sh.join(dfreq, "shingle")
        .withColumn("pos", row_number().over(w))
        .withColumn("n_sh", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("id")))
        // ceil guarded against float noise: 0.1 * 30 = 3.0000000000000004
      // must still ceil to 3, not 4 (an over-long ceil shortens the
      // prefix below the guarantee and silently drops boundary pairs).
      .filter(col("pos") <= col("n_sh") - ceil(lit(tau) * col("n_sh") - lit(1e-9)) + 1)
        .select("shingle", "id")
      val cands = prefix.select(col("shingle"), col("id").as("id_a"))
        .join(prefix.select(col("shingle"), col("id").as("id_b")), "shingle")
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      // Exact verification on the full sets (bounded by document size).
      // Cut for the same two-consumer reason as `sizes` above — and
      // this one is the corpus-wide collect_set, the heaviest shuffle
      // on the prefix path.
      val sets = sh.groupBy("id")
        .agg(collect_set(col("shingle")).as("set"), count(lit(1)).as("n_sh"))
        .cut()
      cands
        .join(sets.select(col("id").as("id_a"), col("set").as("set_a"),
          col("n_sh").as("na")), "id_a")
        .join(sets.select(col("id").as("id_b"), col("set").as("set_b"),
          col("n_sh").as("nb")), "id_b")
        .withColumn("shared",
          size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
        .withColumn("jaccard",
          col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
        .filter(col("jaccard") >= tau)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }
  }

  /** [[ngramJaccardPairs]]' default (inverted-index) plan over an
    * ALREADY-BUILT — and CUT — (id, shingle) index: the shingle pass
    * factored out so a composed query that both self-pairs a side and
    * confirms a slice against it (d16/d19, p4/p5's ingest DAGs)
    * shingles each document set ONCE instead of once per consumer
    * (guide §1.2: the corpus-linear tokenize→explode→distinct pass is
    * the heaviest narrow stage in the dedup family, and Catalyst does
    * not dedupe common subplans across separately-constructed frames).
    * `sh` must arrive checkpointed — the body scans it from several
    * subplans of one job (sizes agg + both overlap sides), exactly the
    * multi-scan shape the eager-cut contract exists for.
    * [[ngramJaccardPairs]] IS this function applied to its own freshly
    * cut shingle frame, so the two paths cannot drift. */
  def ngramJaccardPairsFromIndex(sh: DataFrame, tau: Double,
                                 boundedDf: Boolean = false): DataFrame = {
    // Cut: `sizes` is joined on BOTH pair sides and Catalyst does
    // not dedupe the identical agg subplans (verified on the
    // executed plan: zero ReusedExchange) — without the checkpoint
    // the per-doc count aggregation over the full shingle stream
    // executes twice per query (r12 review). The materialized
    // (id, n) frame is docs-sized — dim-class storage.
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh")).cut()
    Relational.overlapPairs(sh, "id", "shingle", boundedDf = boundedDf)
      .withColumnRenamed("overlap", "shared")
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("nb")), "id_b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** MinHash signatures: `numHashes` min-values of seeded xxhash64 over
    * the shingle set, as one grouped aggregation (each component is a
    * plain `min`, so partial aggregation applies). Output: (id,
    * sig array<long>). */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    // Component hashes are md5-derived, NOT xxhash64: the signature
    // values are observable output (d3's pairs and est_jaccard flow
    // from them), and the md5 base is what lets an independent engine
    // replay the sketch exactly (the DuckDB oracle does). Cost
    // matters here, so the digest runs ONCE per shingle; the k
    // components come from affine mixes of the digest's four 32-bit
    // words (the Kirsch–Mitzenmacher double-hashing construction;
    // odd multipliers 2i+1 are bijections mod 2^32). All arithmetic
    // stays below 2^63 — exact in any engine. One md5 per shingle
    // measured ~7× faster than per-component digests at sf0.1.
    val words = sh
      .select(col("id"), md5(col("shingle").cast("binary")).as("hx"))
      .select(col("id"),
        conv(substring(col("hx"), 1, 8), 16, 10).cast("long").as("w0"),
        conv(substring(col("hx"), 9, 8), 16, 10).cast("long").as("w1"),
        conv(substring(col("hx"), 17, 8), 16, 10).cast("long").as("w2"),
        conv(substring(col("hx"), 25, 8), 16, 10).cast("long").as("w3"))
    def component(i: Int): Column = {
      val m = 2L * i + 1
      val a = (col("w0") + lit(m) * col("w2")) % 4294967296L
      val b = (col("w1") + lit(m) * col("w3")) % 4294967296L
      (when(a >= 2147483648L, a - 4294967296L).otherwise(a)) * 4294967296L + b
    }
    val mins = (0 until numHashes).map(i => min(component(i)).as(s"h$i"))
    words.groupBy("id")
      .agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** LSH candidate pairs: signatures banded into `bands` groups of
    * `rows` components; docs sharing any band bucket pair up. Output
    * includes the signature-estimated Jaccard (fraction of equal
    * components). At cluster scale the bucket join shuffles on
    * (band, bucket-hash) — high cardinality, bounded fan-out.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, bands: Int, rows: Int,
                      minEstJaccard: Double, dfCap: Long = 0L): DataFrame = {
    // Named require here: on the grouped (dfCap>0) path a zero product
    // surfaced as an opaque `head of empty list`, and the native path
    // named only numHashes — the caller set bands/rows (r12 review).
    require(bands >= 1 && rows >= 1,
      s"minhashLshPairs: bands and rows must be >= 1, got bands=$bands rows=$rows")
    val numHashes = bands * rows
    // No df cut → signatures come from the NATIVE scalar expression
    // over each document's in-row shingle array: one JVM digest per
    // element (no hex/conv detour) and ZERO shuffle for the signature
    // stage (the grouped form shuffles exploded (id, shingle) rows).
    // Duplicate shingles cannot move a min, so multiset input is fine;
    // bit-parity of the two forms is pinned in DedupSpec. With a df
    // cut the per-element frequencies are corpus-global, so the
    // exploded grouped path is the only shape that can apply it.
    val sigs = if (dfCap <= 0) {
      docs.select(col(idCol).as("id"),
          graft.functions.Hashes.minhashSig(
            Text.shingles(Text.tokens(col(textCol)), n), numHashes).as("sig"))
        .filter(col("sig").isNotNull)
        .cut()
    } else {
      // The df-cut shingle frame arrives cut from shingles; it is
      // dead the moment the (much smaller) signature cut
      // materializes — free it (r12 review: it stayed persisted for
      // the query lifetime).
      val shc = shingles(docs, idCol, textCol, n, dfCap)
      val s = minhashSignatures(shc, numHashes).cut()
      shc.uncut()
      s
    }
    val banded = sigs.select(
      col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
                    Text.hash64md5(concat(b.cast("string"), lit(":"),
                        concat_ws(",", slice(col("sig"), b * lit(rows) + 1, lit(rows)))))
                      .as("bucket")))).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    val cands = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
            Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cands
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / numHashes)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** INCREMENTAL near-dup detection — the daily-ingest shape: which
    * `incoming` documents are n-gram-Jaccard ≥ `tau` near-dups of the
    * EXISTING corpus. Output: (new_id, old_id, jaccard), one row per
    * qualifying cross pair (an incoming doc may match several
    * existing ones; `keepCanonical`-style cuts pick the policy).
    *
    * The point of the dedicated bipartite form is the scale shape: a
    * daily slice is orders of magnitude smaller than the corpus, so
    * the candidate join is incoming-shingles × the existing inverted
    * index — volume Σ df_new·df_old per shingle, NEVER the corpus
    * self-join Σ df² that a union + [[ngramJaccardPairs]] would pay.
    * Incoming-vs-incoming duplicates are deliberately out of scope
    * here (run [[ngramJaccardPairs]] on the slice for those — it is
    * slice-sized). `dfCap` cuts shingles by their EXISTING-side
    * document frequency (the hot-shingle guard) — and the SAME drop
    * set cuts the incoming side, so both Jaccard denominators count
    * the same shingle universe (a one-sided cut would deflate only
    * n_old and skew every score).
    */
  def ngramJaccardAgainst(existing: DataFrame, incoming: DataFrame,
                          idCol: String, textCol: String,
                          n: Int, tau: Double,
                          dfCap: Long = 0L): DataFrame = {
    val ex = shingles(existing, idCol, textCol, n, 0L).cut()
    val inc = shingles(incoming, idCol, textCol, n, 0L)
    if (dfCap <= 0L) ngramJaccardAgainstIndexes(ex, inc.cut(), tau)
    else {
      // Same broadcast-anti-join shape as [[shingles]]'s cut (the
      // shared [[overCapShingles]], which checkpoints the set — no
      // second cut here), with one drop set applied to BOTH sides;
      // the existing sizes re-derive from the capped index.
      val drop = overCapShingles(ex, dfCap)
      ngramJaccardAgainstIndexes(ex.join(drop, Seq("shingle"), "left_anti"),
        inc.join(drop, Seq("shingle"), "left_anti").cut(), tau)
    }
  }

  /** [[ngramJaccardAgainst]] with BOTH sides supplied as already-built
    * (id, shingle) frames — the serving form: a daily pipeline
    * shingles its corpus once, persists the index via
    * [[graft.sinks.ModelStore]], and every later slice confirms
    * against the RELOADED frame instead of re-shingling the corpus per
    * cycle (a corpus-linear text pass this form deletes from the
    * serving path). The incoming side is shingled once and shared with
    * its other consumers (the new×new pair stage, the bloom probe):
    * d16/d19 and p4/p5 feed the same cut slice frame everywhere (guide
    * §1.2 — the r16 forms re-tokenized the slice once per consumer).
    * `incShingles` must arrive CUT (it is scanned from several
    * subplans of one job). The index is consumed as-is: a ModelStore
    * scan is stats-backed and needs no checkpoint, and cutting the
    * corpus-sized dim here would materialize it into executor storage
    * per call (the componentsDelta serving-state doctrine). No `dfCap`
    * form — capped calls go through [[ngramJaccardAgainst]], which
    * owns the two-sided cut.
    *
    * The body streams `ex` against the slice-bounded `inc` on the
    * shingle key, joins the intersection counts to both size frames
    * and filters on Jaccard; [[ngramJaccardAgainst]] runs it on
    * freshly shingled sides, so the two paths cannot drift.
    *
    * `exSizes` (optional, (id, n_old)): the existing side's per-doc
    * shingle counts, PRE-AGGREGATED and persisted next to the index.
    * Without it the sizes re-aggregate from the index per call — a
    * corpus-sized SHUFFLE in what should be a slice-proportional
    * serving path (the scan-vs-shuffle line the dim doctrine draws);
    * a serving deployment persists both frames in one fit pass and
    * the per-cycle plan touches the sizes dim only through the
    * matched-pair join. The sizes must count the index as passed: a
    * capped index re-derives them (`None`). */
  def ngramJaccardAgainstIndexes(exShingles: DataFrame,
                                 incShingles: DataFrame,
                                 tau: Double,
                                 exSizes: Option[DataFrame] = None): DataFrame = {
    val ex = exShingles.select(col("id"), col("shingle"))
    val inc = incShingles.select(col("id").as("new_id"), col("shingle"))
    val szOld = exSizes
      .map(_.select(col("id"), col("n_old")))
      .getOrElse(ex.groupBy("id").agg(count(lit(1)).as("n_old")))
    val incSizes = inc.groupBy("new_id").agg(count(lit(1)).as("n_new"))
    // ONE broadcast hint (r18): the matched-pair aggregate is
    // slice-bounded (the bipartite contract — the agg emits one row
    // per qualifying cross pair) but plans over an agg-topped subtree
    // with no size statistics, so the static planner sort-merged the
    // n_old join — shuffling the CORPUS-sized sizes dim once per
    // serving cycle (AQE converts at runtime, but only after the
    // dim's map-side shuffle write has executed). The n_old join
    // therefore runs FIRST, with the hinted pair side built and the
    // sizes dim only ever SCANNED — the declared "touches the sizes
    // dim only through the matched-pair join" shape. The slice-sized
    // n_new join follows UNhinted: both of its sides are slice-scale
    // (no corpus side to protect), and forcing a second broadcast
    // round-trip there measured as pure fixed cost on the ~2 s
    // serving floor rows (the W7 hotGramsAgainst rejection's
    // mechanism — this tail initially hinted both joins and d11 read
    // disjointly ~0.3 s worse until the second hint was dropped).
    inc.join(ex.select(col("id").as("old_id"), col("shingle")), "shingle")
      .groupBy("new_id", "old_id")
      .agg(count(lit(1)).as("shared"))
      .hint("broadcast")
      .join(szOld.select(col("id").as("old_id"), col("n_old")), "old_id")
      .join(incSizes, "new_id")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n_new") + col("n_old") - col("shared")))
      .filter(col("jaccard") >= tau)
      .select(col("new_id"), col("old_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** 64-bit SimHash fingerprints: every feature (word n-gram; n = 1
    * means plain tokens, n ≥ 2 gives far better discrimination on
    * small vocabularies) hashes to 64 bits; each bit position
    * accumulates +1/-1 across features (term frequency = weight, as in
    * Charikar's scheme); the sign vector is the fingerprint. The 64
    * per-bit counters live in ONE custom typed aggregate
    * ([[graft.functions.expr.SimhashAgg]]) — map-side combinable, 512
    * bytes of buffer per group — instead of 64 declarative sum
    * columns. Output: (id, fp long). */
  def simhashFingerprints(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 3): DataFrame =
    docs
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .select(col("id"), explode(Text.shingles(col("toks"), shingleN)).as("token"))
      .groupBy("id")
      // Feature hash is md5-derived for the same reason as the
      // MinHash components: the fingerprint is observable output, and
      // the DuckDB oracle replays it bit-for-bit.
      .agg(graft.functions.Hashes.simhash(Text.hash64md5(col("token"))).as("fp"))

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming` ≤ 6,
    * Manku-style combined-band blocking (Detecting Near-Duplicates for
    * Web Crawling, WWW'07): the 64-bit fingerprint splits into 8 bands
    * of 8 bits; with ≤ 6 differing bits at least two bands match
    * exactly, so every qualifying pair collides in one of the C(8,2) =
    * 28 tables keyed by a 16-bit band-pair value. The candidate join
    * keys on (table, 16-bit value) — wider keys than single-band
    * blocking, so buckets stay small at scale; fan-out is 28 rows per
    * document. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, shingleN: Int = 1): DataFrame = {
    require(maxHamming <= 6, "8-band pairwise blocking guarantees recall only for maxHamming <= 6")
    val fps = simhashFingerprints(docs, idCol, textCol, shingleN).cut()
    def band(b: Int): Column =
      shiftrightunsigned(col("fp"), b * 8).bitwiseAND(0xFFL)
    val tables = for { i <- 0 until 8; j <- i + 1 until 8 } yield
      struct(lit(i * 8 + j).as("tbl"),
             (band(i) * 256L + band(j)).as("key"))
    val banded = fps.select(col("id"), col("fp"),
        explode(array(tables: _*)).as("tk"))
      .select(col("id"), col("fp"), col("tk.tbl"), col("tk.key"))
    banded.select(col("tbl"), col("key"), col("id").as("id_a"), col("fp").as("fp_a"))
      .join(banded.select(col("tbl"), col("key"), col("id").as("id_b"), col("fp").as("fp_b")),
            Seq("tbl", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** One (row, position) entry per probe hash: `kHashes` md5-derived
    * bit positions in an `mBits`-wide Bloom filter for the (string)
    * key column. Shared by [[bloomBits]] and [[bloomProbe]] so build
    * and probe can never hash differently; null keys hash as the
    * empty string (the null-text-is-empty-document contract). */
  private def bloomPositions(df: DataFrame, keyCol: String, mBits: Long,
                             kHashes: Int): DataFrame = {
    val key = coalesce(col(keyCol).cast("string"), lit(""))
    df.withColumn("__pos",
      explode(array((0 until kHashes).map(i =>
        pmod(Text.hash64md5(concat(key, lit(s":$i"))), lit(mBits))): _*)))
  }

  /** Bloom-filter BITMAP of a key set: ≤ `mBits`/64 rows of
    * (word, bits) — 64 filter bits per row, built by one map-side-
    * combinable `bit_or` aggregation over the keys' md5-derived
    * positions. This is the compressed form of "the set of keys the
    * corpus contains": ~2 MB of (word, bits) rows per 2^20 bits, a
    * DIM next to any corpus. Size `mBits` at roughly 10-15 bits per
    * expected distinct key (FP rate ≈ (1-e^{-kn/m})^k); at 10^10
    * keys the bitmap is ~16 GB — too big to broadcast but still
    * joinable on `word`, which is why probing is a join, not a
    * collected driver-side filter. Hashes are the md5 family
    * ([[Text.hash64md5]] of key:i), so an external engine replays
    * the construction bit-for-bit. */
  def bloomBits(keys: DataFrame, keyCol: String, mBits: Long = 1L << 20,
                kHashes: Int = 7): DataFrame = {
    require(mBits > 0 && mBits % 64 == 0,
      s"mBits must be a positive multiple of 64, got $mBits")
    require(kHashes >= 1, s"kHashes must be >= 1, got $kHashes")
    bloomPositions(keys.select(keyCol).distinct(), keyCol, mBits, kHashes)
      .groupBy(shiftright(col("__pos"), 6).as("word"))
      .agg(expr("bit_or(shiftleft(cast(1 as bigint), cast(__pos % 64 as int)))")
        .as("bits"))
  }

  /** Probe rows against a [[bloomBits]] bitmap: the input plus a
    * `maybe_present` flag — false PROVES the key was never inserted
    * (a clear bit at any of the k positions is a proof of absence,
    * the exactness that makes a Bloom prefilter sound), true means
    * "maybe seen" at the filter's false-positive rate, so only that
    * sliver pays the exact confirmation join ([[exactGroups]] /
    * [[ngramJaccardAgainst]]). Duplicate probe rows collapse (the
    * group-by keys on every probe column). The bitmap side is a dim
    * — AQE broadcasts it when it fits, and the join keys on `word`
    * when it doesn't. `mBits`/`kHashes` MUST match the build call;
    * positions come from the same shared hash helper. */
  def bloomProbe(bits: DataFrame, probes: DataFrame, keyCol: String,
                 mBits: Long = 1L << 20, kHashes: Int = 7): DataFrame = {
    val probeCols = probes.columns.map(col).toSeq
    bloomPositions(probes, keyCol, mBits, kHashes)
      .withColumn("__word", shiftright(col("__pos"), 6))
      .withColumn("__mask",
        expr("shiftleft(cast(1 as bigint), cast(__pos % 64 as int))"))
      .join(bits.select(col("word").as("__word"), col("bits").as("__bits")),
            Seq("__word"), "left")
      .withColumn("__hit",
        coalesce(col("__bits").bitwiseAND(col("__mask")) =!= 0L, lit(false)))
      .groupBy(probeCols: _*)
      .agg(expr("bool_and(__hit)").as("maybe_present"))
  }

  /** Pair-set acceptance gate — [[Similarity.recallAt]]'s role for
    * the dedup family: before a corpus-scale dedup run commits to a
    * candidate-generator configuration (bands × rows, hamming radius,
    * dfCap), measure it against the exact pair set on a sample. Takes
    * any two (id_a, id_b, …) pair frames — `candidate` from a sketch
    * path ([[minhashLshPairs]], [[simhashPairs]],
    * [[Similarity.cosinePairsLsh]]), `truth` from the exact one
    * ([[ngramJaccardPairs]], [[Similarity.cosinePairs]]) — and
    * returns ONE row: (n_truth, n_candidate, n_matched, precision,
    * recall). Orientation is normalized (least, greatest) and both
    * sides deduped, so either ordering convention works; rows with a
    * null id are dropped (a pair needs two members — least/greatest
    * would otherwise fabricate a self-pair from the non-null side),
    * and so are reflexive rows (id_a = id_b): "doc duplicates
    * itself" is vacuous, and a generator that emits it must not
    * inflate n_candidate or buy free matches. Empty sides score 0,
    * never divide-by-zero.
    *
    * Scale shape: one narrow normalization + distinct per side, one
    * full-outer join on the pair key (each input computed ONCE — the
    * join feeds every count, so no side is re-evaluated per metric),
    * one map-side-combinable aggregate. Inputs are pair-set-sized,
    * and at corpus scale the evaluation runs on a SAMPLE — the exact
    * side is quadratic-ish by nature, which is exactly why this gate
    * exists (the e9 doctrine: tune on a slice, serve the sketch).
    *
    * Cross-engine exactness: integer counts plus two small-integer
    * ratios rounded to 4 dp — no float path at all.
    */
  def pairsEval(candidate: DataFrame, truth: DataFrame): DataFrame = {
    def norm(df: DataFrame, marker: String) = df
      .filter(col("id_a").isNotNull && col("id_b").isNotNull &&
        col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("pa"),
        greatest(col("id_a"), col("id_b")).as("pb"))
      .distinct()
      .withColumn(marker, lit(1L))
    norm(truth, "__t")
      .join(norm(candidate, "__c"), Seq("pa", "pb"), "full_outer")
      .agg(count(col("__t")).as("n_truth"),
        count(col("__c")).as("n_candidate"),
        count(when(col("__t").isNotNull && col("__c").isNotNull, lit(1)))
          .as("n_matched"))
      .select(col("n_truth"), col("n_candidate"), col("n_matched"),
        round(col("n_matched").cast("double") /
          greatest(col("n_candidate"), lit(1L)), 4).as("precision"),
        round(col("n_matched").cast("double") /
          greatest(col("n_truth"), lit(1L)), 4).as("recall"))
  }
}
