package graft.operators

import graft.functions.Vectors
import graft.operators.Checkpoints.Cuttable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`):
  * exact cosine pairs / kNN as the correctness baseline, and a
  * random-hyperplane LSH bucketed variant as the scale path.
  * (Reference analogue: related-collection search —
  * collection-templates research/related-collections,
  * airflow/dags/precompute_related.py — which ranks the top-10 most
  * similar collections per collection.)
  */
object Similarity {

  /** Guard for the two DECLARED all-pairs baselines below: they exist
    * to validate the LSH/IVF scale paths, and a copy-paste onto a real
    * corpus would be an O(N²) incident, not a slow query. Above
    * `maxExactInput` rows the call fails loudly, naming the scale path
    * to use instead; passing `allowLargeInput = true` is the explicit
    * "I know this is quadratic" override. One limit-bounded count per
    * guarded input — a scan that stops at threshold+1 rows, negligible
    * next to the join it protects. */
  private def guardAllPairs(df: DataFrame, what: String, op: String,
                            scalePath: String, allow: Boolean,
                            threshold: Long): Unit = {
    if (allow) return
    val n = df.limit(math.min(threshold + 1, Int.MaxValue.toLong).toInt).count()
    if (n > threshold) throw new IllegalArgumentException(
      s"$op: $what has > $threshold rows and the plan is ALL-PAIRS " +
        s"(exact validation baseline). Use $scalePath at this scale, or pass " +
        "allowLargeInput = true to run the quadratic plan anyway.")
  }

  /** Exact cosine near-dup pairs (similarity ≥ `tau`). All-pairs by
    * construction — exactness over an inner-product threshold cannot
    * prune without risking misses, so this is the validation-scale
    * variant; [[cosinePairsLsh]] is the 100 TB path (and above
    * `maxExactInput` rows this call refuses to run without
    * `allowLargeInput = true`). Vectors are unit-normalized
    * once before the self-join so each pair costs one dot product.
    */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                  tau: Double, allowLargeInput: Boolean = false,
                  maxExactInput: Long = 100000L): DataFrame = {
    guardAllPairs(emb, "emb", "cosinePairs", "cosinePairsLsh",
      allowLargeInput, maxExactInput)
    val unit = normalized(emb, idCol, vecCol).cut()
    val a = unit.select(col("id").as("id_a"), col("unit").as("va"))
    val b = unit.select(col("id").as("id_b"), col("unit").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", Vectors.dot(col("va"), col("vb")))
      .filter(col("cosine") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Exact top-k cosine neighbors for each query vector: block
    * nested-loop join + per-query rank window — cost is |Q|·|C| dot
    * products, the declared exact baseline the ANN recall specs anchor
    * on ([[knnLsh]]/[[knnIvf]] are the scale paths; above
    * `maxExactInput` rows on either side this call refuses to run
    * without `allowLargeInput = true`). Ranking uses the cosine
    * rounded to 4 decimals with the neighbor id as tiebreak, so the
    * k-set is stable across engines' last-ulp float differences.
    */
  def knnBruteForce(queries: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    allowLargeInput: Boolean = false,
                    maxExactInput: Long = 100000L): DataFrame = {
    guardAllPairs(corpus, "corpus", "knnBruteForce", "knnLsh / knnIvf",
      allowLargeInput, maxExactInput)
    guardAllPairs(queries, "queries", "knnBruteForce", "knnLsh / knnIvf",
      allowLargeInput, maxExactInput)
    val q = normalized(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("unit").as("qv"))
    val c = normalized(corpus, idCol, vecCol)
      .select(col("id").as("neighbor_id"), col("unit").as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(Vectors.dot(col("qv"), col("cv")), 4))
    Relational.topKPerGroup(
        scored.select("query_id", "neighbor_id", "cosine"),
        Seq(col("query_id")),
        Seq(col("cosine").desc, col("neighbor_id").asc), k, "rank")
  }

  /** Deterministic ±1 hyperplane components: the sign of plane cell
    * (t, j, i) is the low bit of md5("t:j:i:seed") — NOT a JVM PRNG
    * stream, so any engine can replay it (the DuckDB oracles rebuild
    * e2/d6's buckets exactly; the scala.util.Random stream this
    * replaced was JVM-only, forcing both queries to rows-only
    * checks). md5 rather than a cheap LCG parity on purpose: a
    * Lehmer/MINSTD double-step has an EVEN increment between
    * consecutive cell indices (48271² mod p ≈ 1.8e8), so its parity
    * runs in ~12-cell streaks of equal sign — measured recall dropped
    * from 0.61 to 0.54 before this was caught by the recall-floor
    * spec. The planes are literals built once on the driver; 5120
    * digests cost nothing. */
  private def planes(numTables: Int, bitsPerTable: Int, dim: Int,
                     seed: Long): Seq[Seq[Array[Double]]] = {
    // Shared by every LSH entry point (r12 review): bitsPerTable = 0
    // crashed as an unnamed empty.reduce at plan construction, and
    // numTables = 0 silently returned ZERO candidates — a wrong
    // answer, not an error.
    require(numTables >= 1, s"numTables must be >= 1, got $numTables")
    require(bitsPerTable >= 1, s"bitsPerTable must be >= 1, got $bitsPerTable")
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq.tabulate(numTables)(t => Seq.tabulate(bitsPerTable)(j =>
      Array.tabulate(dim) { i =>
        md.reset()
        val d = md.digest(s"$t:$j:$i:$seed".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        if ((d(7) & 1) == 0) 1.0 else -1.0
      }))
  }

  /** Approximate top-k: random-hyperplane LSH. Each of `numTables`
    * tables assigns every vector a `bitsPerTable`-bit bucket (sign of
    * the dot with a fixed ±1 hyperplane per bit); query and corpus
    * vectors sharing a (table, bucket) pair become candidates, which
    * are then exactly re-scored and ranked. Shuffles key on (table,
    * bucket) — high cardinality, no all-pairs stage; recall/cost is
    * tuned by (numTables, bitsPerTable).
    *
    * `dim` is REQUIRED and TRUSTED: the embedding dimension is model
    * metadata every caller has (it is fixed by whatever produced the
    * vectors), so no library entry point runs a synchronous driver
    * probe job to discover it. The contract is that it matches the
    * data — a wrong value makes every plane dot run over the SHORTER
    * of (vector, plane) (ArrayDot's min-length contract): too-small
    * dim buckets on a vector prefix and silently degrades recall with
    * no null signature anywhere ([[requireDim]] fails fast only when
    * dim is omitted entirely).
    */
  def knnLsh(queries: DataFrame, corpus: DataFrame,
             idCol: String, vecCol: String, k: Int,
             numTables: Int = 16, bitsPerTable: Int = 5, dim: Int = -1,
             seed: Long = 42L): DataFrame = {
    requireDim(dim, "knnLsh")
    Relational.topKPerGroup(
        lshCandidateScores(queries, corpus, idCol, vecCol,
          numTables, bitsPerTable, dim, seed),
        Seq(col("query_id")),
        Seq(col("cosine").desc, col("neighbor_id").asc), k, "rank")
  }

  /** The LSH/PQ entry points take the embedding dimension as caller
    * metadata instead of probing the data: a 1-row `head` probe is a
    * synchronous driver job per call — fine interactively, wrong as a
    * library default at cluster scale (it serializes plan construction
    * behind a job and re-runs per invocation). The parameter keeps a
    * sentinel default so positional call sites stay source-compatible,
    * but omitting it fails fast here rather than silently probing. */
  private def requireDim(dim: Int, caller: String): Unit =
    require(dim > 0,
      s"$caller: pass the embedding dimension explicitly (dim = ...) — " +
        "it is model metadata; probing it from the data would run a " +
        "driver job per call")

  /** Radius (range) retrieval: every corpus vector with cosine ≥ `tau`
    * of each query — the thresholded-retrieval contract ("all matches
    * above a similarity bar": dedup candidate lookup, near-match
    * surfacing) complementing [[knnLsh]]'s top-k. Identical LSH
    * candidate machinery and exact rescoring, so precision is 1.0 and
    * the only approximation is recall (same collision bound as
    * [[cosinePairsLsh]] — grow bits with the corpus, buy recall with
    * tables). Identity pinned in spec: equals [[knnLsh]] at
    * unbounded k filtered to `tau`, minus the rank column.
    *
    * `dim` contract matches [[knnLsh]]: required, trusted caller
    * metadata — never probed from the data.
    */
  def rangeSearchLsh(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, tau: Double,
                     numTables: Int = 16, bitsPerTable: Int = 5,
                     dim: Int = -1, seed: Long = 42L): DataFrame = {
    requireDim(dim, "rangeSearchLsh")
    lshCandidateScores(queries, corpus, idCol, vecCol,
        numTables, bitsPerTable, dim, seed)
      .filter(col("cosine") >= tau)
  }

  /** The shared LSH candidate + exact-rescore core of [[knnLsh]] and
    * [[rangeSearchLsh]]: (query_id, neighbor_id, cosine rounded 4dp)
    * for every bucket-colliding pair. */
  private def lshCandidateScores(queries: DataFrame, corpus: DataFrame,
                                 idCol: String, vecCol: String,
                                 numTables: Int, bitsPerTable: Int,
                                 dataDim: Int, seed: Long): DataFrame = {
    val ps = planes(numTables, bitsPerTable, dataDim, seed)
    // Normalize once, reuse for bucketing and scoring (at cluster scale
    // this would be a persisted/cached intermediate).
    val qUnit = normalized(queries, idCol, vecCol).cut()
    val cUnit = normalized(corpus, idCol, vecCol).cut()
    // Checkpointed for the same plan-size reason as cosinePairsLsh:
    // each bucketIds subplan carries the full plane-literal tree.
    val cands = bucketIds(qUnit, ps, "query_id").cut()
      .join(bucketIds(cUnit, ps, "neighbor_id").cut(),
            Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    cands
      .join(qUnit.select(col("id").as("query_id"), col("unit").as("qv")), "query_id")
      .join(cUnit.select(col("id").as("neighbor_id"), col("unit").as("cv")), "neighbor_id")
      .withColumn("cosine", round(Vectors.dot(col("qv"), col("cv")), 4))
      .select("query_id", "neighbor_id", "cosine")
  }

  /** Free `cuts` before rethrowing ANY failure from `body` — the
    * no-leak-on-guard-throw contract (r11: pqCodebook; r12 review:
    * extended to every entry point that cuts before a guard can
    * throw, so a caller who fixes the named parameter and retries
    * never accumulates corpus-sized block sets). Rethrown, never
    * absorbed. */
  private def freeingOnFailure[A](cuts: DataFrame*)(body: => A): A =
    try body catch {
      case e: Throwable =>
        cuts.foreach(graft.operators.Checkpoints.uncut)
        throw e
    }

  /** Codeword ids ride as 32-bit `code`s in the PQ output schema; a
    * seed id outside int range would WRAP silently under non-ANSI
    * (two codewords 2^32 apart collide — the ADC double-counts their
    * d2 and reconstruction mis-joins subvectors) or throw an opaque
    * CAST_OVERFLOW under ANSI. Refuse loudly with the remedy named
    * (r12 review). */
  private def asCode(c: Column): Column =
    when(c > Int.MaxValue.toLong || c < Int.MinValue.toLong, raise_error(
      lit("PQ codeword id outside the 32-bit code range — remap corpus " +
        "ids before the PQ fit (codes are int in the output schema)")))
      .otherwise(c).cast("int")

  /** (id, table, bucket) rows for every (vector, table) pair. Bucket
    * rows carry ONLY ids: exploding `numTables` rows per vector must
    * not duplicate the embedding itself, so candidate joins shuffle
    * two longs per row instead of two full vectors. */
  private def bucketIds(unit: DataFrame, ps: Seq[Seq[Array[Double]]],
                        idAs: String): DataFrame = {
    val buckets = ps.zipWithIndex.map { case (tablePlanes, t) =>
      val bucket = tablePlanes.zipWithIndex.map { case (p, j) =>
        val planeLit = array(p.toIndexedSeq.map(lit): _*)
        when(Vectors.dot(col("unit"), planeLit) >= 0, lit(1L << j)).otherwise(0L)
      }.reduce(_ + _)
      struct(lit(t).as("table"), bucket.as("bucket"))
    }
    unit.select(col("id").as(idAs), explode(array(buckets: _*)).as("tb"))
      .select(col(idAs), col("tb.table"), col("tb.bucket"))
  }

  /** Near-dup pairs with cosine ≥ `tau` via LSH candidate generation +
    * exact re-scoring — the 100 TB path for what [[cosinePairs]] does
    * all-pairs. Candidates come from hyperplane bucket collisions
    * (shuffles key on (table, bucket), fan-out bounded by bucket
    * sizes); every candidate is then scored exactly, so precision is
    * 1.0 and the only approximation is recall: a true pair at exactly
    * `tau` collides in ≥ 1 of the `numTables` tables with probability
    * 1 − (1 − (1 − θ/π)^bits)^tables (θ = arccos τ) — ~0.77 at
    * τ = 0.35 with the 16 × 5 defaults, rising steeply above τ. The
    * recall floor vs the exact variant is pinned in SimilarityLshSpec.
    * At corpus scale, grow `bitsPerTable` with the corpus — target
    * bucket sizes of a few hundred (bits ≈ log2(N / targetBucket)) so
    * candidate volume stays Σ bucket²-bounded — and buy recall back
    * with `numTables`, which scales cost linearly, not quadratically.
    *
    * `dim` contract matches [[knnLsh]]: required, trusted caller
    * metadata — never probed from the data.
    */
  def cosinePairsLsh(emb: DataFrame, idCol: String, vecCol: String,
                     tau: Double, numTables: Int = 16, bitsPerTable: Int = 5,
                     seed: Long = 42L, dim: Int = -1): DataFrame = {
    requireDim(dim, "cosinePairsLsh")
    val ps = planes(numTables, bitsPerTable, dim, seed)
    val unit = normalized(emb, idCol, vecCol).cut()
    // Checkpoint the bucket ids before self-joining: the bucketing
    // expression embeds numTables × bits × dim plane literals, and
    // referencing it on both join sides would double an already huge
    // plan (codegen/analysis cost, not data cost — the bucket set
    // itself is 3 longs per (vector, table)).
    val b = bucketIds(unit, ps, "id").cut()
    val cands = b.select(col("table"), col("bucket"), col("id").as("id_a"))
      .join(b.select(col("table"), col("bucket"), col("id").as("id_b")),
            Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cands
      .join(unit.select(col("id").as("id_a"), col("unit").as("va")), "id_a")
      .join(unit.select(col("id").as("id_b"), col("unit").as("vb")), "id_b")
      .withColumn("cosine", Vectors.dot(col("va"), col("vb")))
      .filter(col("cosine") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Approximate top-k via IVF (inverted-file) coarse quantization:
    * every `centroidMod`-th corpus vector seeds a centroid,
    * `kmeansIters` Lloyd iterations refine them (assign → per-cluster
    * spherical mean → renormalize), then corpus vectors assign to
    * their nearest centroid (the inverted lists) and queries probe
    * the `nProbe` nearest centroids, searching only those lists
    * exactly. Means are rounded to 9 dp so summation-order noise in
    * the distributed average cannot flip near-tie assignments —
    * deterministic in practice, not bit-for-bit guaranteed.
    *
    * Scale posture: with C ≈ √N centroids the assignment stage costs
    * N·C dots through a broadcast join, and its argmax is a plain
    * `max_by` groupBy — map-side combinable, so the exchange carries
    * N rows, never the N·C candidates. The probe stage is Q·C, the
    * search stage Q·nProbe·(N/C); all dots are codegen'd ArrayDot
    * scans and the candidate join shuffles on the centroid id
    * (bounded fan-out, like the LSH bucket join). Each Lloyd
    * iteration adds the argmax exchange plus one posexplode +
    * (cid, dim) partial-agg shuffle — the canonical distributed
    * k-means step. Beyond ~10⁸ docs (C ≈ √N makes the per-iteration
    * N·C assignment and the centroid broadcast itself the bottleneck)
    * fit the centroids on a hash-sample via `fitKeep`/`fitBuckets` —
    * refinement quality needs a representative sample, not the full
    * corpus; assignment still covers every vector.
    */
  def knnIvf(queries: DataFrame, corpus: DataFrame,
             idCol: String, vecCol: String, k: Int,
             centroidMod: Long = 37L, nProbe: Int = 4,
             kmeansIters: Int = 2, fitBuckets: Int = 100,
             fitKeep: Int = 100): DataFrame = {
    val unit = normalized(corpus, idCol, vecCol).cut()
    freeingOnFailure(unit) {
      val centroids = ivfFit(unit, centroidMod, kmeansIters,
        fitBuckets, fitKeep, "knnIvf")
      // Inverted lists: corpus vector -> its single nearest centroid.
      val lists = ivfAssign(unit, centroids)
        .select(col("id").as("neighbor_id"), col("cid"), col("unit").as("cv"))
      // Queries probe nProbe lists.
      val qUnit = normalized(queries, idCol, vecCol)
      val probes = ivfNearest(qUnit, centroids, nProbe, "query_id")
        .join(qUnit.select(col("id").as("query_id"), col("unit").as("qv")),
              "query_id")
      val scored = probes.join(lists, "cid")
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", round(Vectors.dot(col("qv"), col("cv")), 4))
        // No dedup needed: every corpus vector lives in exactly one list,
        // so (query, neighbor) pairs are already unique across probes.
        .select("query_id", "neighbor_id", "cosine")
      Relational.topKPerGroup(scored, Seq(col("query_id")),
        Seq(col("cosine").desc, col("neighbor_id").asc), k, "rank")
    }
  }

  /** The IVF centroid fit shared by [[knnIvf]] and [[knnIvfPq]]:
    * sampled seeds, existence/broadcast-size guards, `kmeansIters`
    * Lloyd rounds on `fitKeep`/`fitBuckets` hash-sampled vectors
    * (9-dp-rounded renormalized means — deterministic in practice).
    * Returns the (cid, cvec) centroid set, unhinted: the crossJoins
    * that consume it ([[ivfAssign]], [[ivfNearest]]) broadcast it. */
  private def ivfFit(unit: DataFrame, centroidMod: Long, kmeansIters: Int,
                     fitBuckets: Int, fitKeep: Int,
                     caller: String): DataFrame = {
    // Lloyd refinement may run on a deterministic hash-sample of the
    // corpus: per-iteration cost becomes sample·C dots instead of
    // N·C, which is what keeps the centroid fit feasible when C ≈ √N
    // grows with the corpus. Assignment always covers the FULL
    // corpus. Defaults keep the exact-fit behavior (keep = 100%).
    val fitSet =
      if (fitKeep >= fitBuckets) unit
      else unit.filter(Sampling.hashBucket(col("id"), fitBuckets) < fitKeep)
    val seeds = unit.filter(col("id") % centroidMod === 0)
      .select(col("id").as("cid"), col("unit").as("cvec"))
    // One job covers both guards: existence (require below) and the
    // broadcast-size warning — C vectors of `dim` doubles ship to
    // every executor each Lloyd round, and past ~100M cells (≈800 MB)
    // that broadcast is the bottleneck; say so before a cluster
    // discovers it the hard way.
    val seedStats = seeds.agg(count(lit(1)), max(size(col("cvec")))).head()
    require(seedStats.getLong(0) > 0,
      s"$caller: no centroids — no corpus id is divisible by $centroidMod " +
        "(ids must be numeric and cover multiples of centroidMod; " +
        "lower centroidMod or remap ids)")
    locally {
      val c = seedStats.getLong(0)
      val dim = seedStats.getInt(1).toLong
      if (c * dim > 100000000L)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$caller: broadcasting $c centroids x $dim dims (~${c * dim * 8 / (1 << 20)} MB) " +
            "per Lloyd round; raise centroidMod or fit on a sample (fitKeep)")
    }
    var centroids = seeds
    // Only rounds ≥ 2 supersede a cut WE made — the seed frame wraps
    // the caller's live corpus cut, which uncut must never touch.
    var priorCut: Option[org.apache.spark.sql.DataFrame] = None
    for (_ <- 1 to kmeansIters) {
      // Move each centroid to the renormalized mean of its cluster.
      // Empty clusters drop out — harmless, their list would be empty.
      val means = ivfAssign(fitSet, centroids)
        .select(col("cid"), posexplode(col("unit")).as(Seq("pos", "v")))
        .groupBy("cid", "pos").agg(round(avg(col("v")), 9).as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("mean"))
      // Norm staged before the dividing lambda (the §4 rule: the
      // interpreted HOF would otherwise re-run the aggregate per
      // element). Centroid-count-sized, but the idiom is the contract.
      val refined = means
        .select(col("cid"), col("mean"),
          sqrt(aggregate(col("mean"), lit(0.0), (a, x) => a + x * x)).as("__n"))
        .select(col("cid"),
          when(col("__n") === 0.0, col("mean"))
            .otherwise(transform(col("mean"), x => x / col("__n"))).as("cvec"))
        .cut()
      priorCut.foreach(Checkpoints.uncut)
      priorCut = Some(refined)
      centroids = refined
    }
    centroids
  }

  /** Nearest-centroid argmax: maximize (cdot, -cid) — deterministic
    * cid-ascending tie-break — via map-side-combinable max_by, so the
    * exchange carries N rows, never the N·C candidates. */
  private def ivfAssign(df: DataFrame, centroids: DataFrame): DataFrame =
    df.crossJoin(broadcast(centroids))
      .withColumn("cdot", Vectors.dot(col("unit"), col("cvec")))
      .groupBy("id")
      .agg(expr("max_by(cid, struct(cdot, -cid))").as("cid"),
           first(col("unit")).as("unit"))

  /** The `n` nearest centroids per vector (the query probe set). */
  private def ivfNearest(df: DataFrame, centroids: DataFrame,
                         n: Int, outId: String): DataFrame =
    Relational.topKPerGroup(
      df.crossJoin(broadcast(centroids))
        .withColumn("cdot", Vectors.dot(col("unit"), col("cvec"))),
      Seq(col("id")), Seq(col("cdot").desc, col("cid").asc), n, "__cr")
      .select(col("id").as(outId), col("cid"))

  /** IVF+PQ search — the layout billion-vector ANN serving actually
    * runs (FAISS "IVFADC"; Jégou et al., TPAMI 2011): the coarse IVF
    * stage routes each query to its `nProbe` inverted lists, but the
    * lists carry PQ CODES (m small ints per vector), NOT vectors — so
    * the candidate join ships ~(dim·4/m)× less data than [[knnIvf]]'s
    * vector-carrying lists, which is the difference between an index
    * that fits in memory and one that doesn't at 10⁹ vectors.
    * Candidates score by asymmetric distance (ADC): one per-query
    * lookup table of query-subvector ↔ codeword distances (Q·m·k
    * rows), joined on (query, s, code) and summed per candidate. The
    * `shortlist` best ADC candidates per query are then EXACTLY
    * rescored — the only stage that touches full vectors, at
    * Q·shortlist rows — and ranked. Recall floor vs the exact
    * baseline is pinned in SimilarityLshSpec; ADC is a biased
    * estimator, so the exact rescore is part of the contract, not an
    * optimization.
    */
  def knnIvfPq(queries: DataFrame, corpus: DataFrame,
               idCol: String, vecCol: String, k: Int,
               centroidMod: Long = 37L, nProbe: Int = 4,
               kmeansIters: Int = 2, m: Int = 8, codewords: Int = 16,
               pqIters: Int = 2, shortlist: Int = 100,
               dim: Int = -1,
               // The sampled-Lloyd knobs knnIvf exposes (r12 review:
               // hardcoded 100/100 here made the 10^9-vector path —
               // the one this operator advertises — unable to opt
               // into the sampled fit its own scale doc prescribes).
               fitBuckets: Int = 100, fitKeep: Int = 100): DataFrame = {
    requireDim(dim, "knnIvfPq")
    require(dim % m == 0, s"knnIvfPq: dim $dim is not divisible by m = $m")
    val ds = dim / m
    val unit = normalized(corpus, idCol, vecCol).cut()
    freeingOnFailure(unit) {
    // Independent fits over the shared cut unit frame — overlapped
    // like [[ivfPqFit]] (r17, guide §2.6).
    val (centroids, cb) = Par.both(
      ivfFit(unit, centroidMod, kmeansIters, fitBuckets, fitKeep,
        "knnIvfPq"),
      pqCodebook(unit, "id", "unit", m, codewords, pqIters, dim).cut())
    freeingOnFailure(cb) {
    // Inverted lists carry (neighbor_id, cid, codes) — m ints, no
    // vectors.
    val listCodes = ivfAssign(unit, centroids).select(col("id"), col("cid"))
      .join(quantizePq(unit, "id", "unit", cb, m, dim), "id")
      .select(col("id").as("neighbor_id"), col("cid"), col("codes"))
    val qUnit = normalized(queries, idCol, vecCol).cut()
    freeingOnFailure(qUnit) {
    val probes = ivfNearest(qUnit, centroids, nProbe, "query_id")
    // Per-query ADC lookup table: distance from each query subvector
    // to each codeword.
    val qsub = qUnit
      .select(col("id").as("query_id"),
        explode(sequence(lit(0), lit(m - 1))).as("s"), col("unit"))
      .select(col("query_id"), col("s"),
        slice(col("unit"), col("s") * ds + 1, lit(ds)).as("qsub"))
    // Per-term 9-dp rounding BEFORE the groupBy sum (the a27
    // determinism convention, r12 review): the sum's accumulation
    // order is shuffle-dependent, and unrounded doubles summed then
    // rounded at 6 dp could flip a shortlist boundary between runs or
    // engines. The oracle quantizes its lut identically.
    val lut = qsub.join(broadcast(cb), Seq("s"))
      .select(col("query_id"), col("s"), asCode(col("cid")).as("code"),
        round(Vectors.dot(col("qsub"), col("qsub")) +
          Vectors.dot(col("cvec"), col("cvec")) -
          lit(2.0) * Vectors.dot(col("cvec"), col("qsub")), 9).as("d2"))
    val adc = probes.join(listCodes, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        posexplode(col("codes")).as(Seq("s", "code")))
      .join(lut, Seq("query_id", "s", "code"))
      .groupBy("query_id", "neighbor_id")
      .agg(round(sum(col("d2")), 6).as("adist"))
    val short = Relational.topKPerGroup(adc, Seq(col("query_id")),
        Seq(col("adist").asc, col("neighbor_id").asc), shortlist, "__sr")
      .select("query_id", "neighbor_id")
    val rescored = short
      .join(qUnit.select(col("id").as("query_id"), col("unit").as("qv")),
        "query_id")
      .join(unit.select(col("id").as("neighbor_id"), col("unit").as("cv")),
        "neighbor_id")
      .withColumn("cosine", round(Vectors.dot(col("qv"), col("cv")), 4))
      .select("query_id", "neighbor_id", "cosine")
    Relational.topKPerGroup(rescored, Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id").asc), k, "rank")
    }}}
  }

  /** Fit the IVF+PQ serving structures ONCE over a reference corpus —
    * the (centroids, codebook) pair [[ivfPqIndexDelta]] assigns later
    * arrival slices against. Both come back as checkpointed
    * broadcast-sized dims (centroids: (cid, cvec); codebook:
    * (s, cid, cvec) carrying the (m, ds) geometry stamp), i.e. the
    * artifacts a serving pipeline persists once and re-reads daily.
    * Parameters match [[knnIvfPq]]'s fit stage exactly, so an index
    * built here serves the same searches.
    *
    * NOTE: fitting runs Spark jobs at CALL time (the Lloyd loops and
    * the existence guards are actions by design — this is model
    * fitting, not plan construction). `dim` is required trusted caller
    * metadata, as everywhere in this file.
    */
  def ivfPqFit(corpus: DataFrame, idCol: String, vecCol: String,
               centroidMod: Long = 37L, kmeansIters: Int = 2,
               m: Int = 8, codewords: Int = 16, pqIters: Int = 2,
               dim: Int = -1,
               fitBuckets: Int = 100, fitKeep: Int = 100): (DataFrame, DataFrame) = {
    requireDim(dim, "ivfPqFit")
    require(dim % m == 0, s"ivfPqFit: dim $dim is not divisible by m = $m")
    val unit = normalized(corpus, idCol, vecCol).cut()
    freeingOnFailure(unit) {
      // The IVF Lloyd loop and the PQ codebook fit are independent
      // eager constructions over the SAME already-cut unit frame —
      // overlap them on two driver threads (r17, guide §2.6; Par's
      // contract allows sharing a cut upstream). Each is a chain of
      // short single-digit-task rounds, so the other leg's tasks
      // back-fill the idle cores between its driver round-trips.
      Par.both(
        ivfFit(unit, centroidMod, kmeansIters, fitBuckets, fitKeep,
          "ivfPqFit"),
        pqCodebook(unit, "id", "unit", m, codewords, pqIters, dim).cut())
    }
  }

  /** Incremental ANN index maintenance — the vector-side analogue of
    * the d11 incremental dedup: assign a NEW embedding slice (the
    * daily arrivals) to the EXISTING serving structures with NO refit
    * and nothing corpus-wide recomputed. Output (id, cid, codes) =
    * the inverted-list delta rows (coarse IVF cell + PQ codes, the
    * [[knnIvfPq]] list layout); union them with yesterday's lists and
    * the index is current. This is the operation a 100 TB serving
    * corpus actually runs per ingest cycle — refitting centroids or
    * codebooks per slice would both cost a full corpus pass and
    * invalidate every stored code.
    *
    * Scale shape: one broadcast of the centroid dim against the slice
    * (slice-sized, never corpus-sized), one broadcast codebook join
    * for the code argmin, and one slice-keyed equi-join to glue
    * (cid, codes) — all work is proportional to |slice|. Assignment
    * and encoding reuse [[knnIvfPq]]'s exact argmax/argmin contracts
    * (deterministic tie-breaks, rounded distances), so an
    * incrementally-assigned vector lands in byte-identical list rows
    * as a monolithic rebuild would put it (spec-pinned against an
    * independent brute-force recomputation).
    *
    * (m, dim) are the codebook's build geometry — required trusted
    * caller metadata, verified against the codebook's schema stamp
    * when present ([[pqCodebook]] stamps it; transformations that
    * rebuild the columns strip the stamp and fall back to trust).
    *
    * Null vectors are SKIPPED (no delta row — a missing embedding
    * cannot be indexed), filtered up front so assignment and encoding
    * agree instead of the inner join silently dropping a half-built
    * row; zero vectors index deterministically (all-zero dots → the
    * min-cid cell, codes by the same rounded argmin).
    */
  def ivfPqIndexDelta(slice: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame, codebook: DataFrame,
                      m: Int = -1, dim: Int = -1): DataFrame = {
    require(m > 0,
      "ivfPqIndexDelta: pass the codebook's subspace count explicitly (m = ...)")
    requireDim(dim, "ivfPqIndexDelta")
    require(dim % m == 0, s"ivfPqIndexDelta: dim $dim is not divisible by m = $m")
    // EAGER cut (r17 A/B): assignment + PQ encode scan unit in one
    // job — a lazy cut double-computes the normalize under the
    // get-or-compute race (see Dedup's matching note).
    val unit = normalized(slice.filter(col(vecCol).isNotNull),
      idCol, vecCol).cut()
    freeingOnFailure(unit) {
      val assigned = ivfAssign(unit, centroids)
        .select(col("id"), col("cid"))
      assigned.join(quantizePq(unit, "id", "unit", codebook, m, dim), "id")
        .select("id", "cid", "codes")
    }
  }

  /** Per-vector int8 scalar quantization — the 4× storage cut every
    * embedding store takes before ANN serving (float32 → uint8 per
    * dimension, per-vector min/max calibration). Returns (id, mn, mx,
    * q array<int>): q_i = floor((x_i − mn) · 255 / (mx − mn)) clamped
    * to [0, 255]; dequantize as mn + (q_i + 0.5) · (mx − mn)/255 for
    * ≤ half-step error. Constant vectors (mx = mn) quantize to all 0.
    *
    * Narrow, zero-shuffle, codegen-friendly: min/max are native array
    * ops and the transform reads staged min/max columns (interpreted
    * HOF lambdas re-evaluate captured expressions per element — the
    * §4 staging rule). All arithmetic is plain IEEE double with fixed
    * operation order, so independent engines reproduce q bit-exactly.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .select(col("id"), col("v"),
        array_min(col("v")).as("mn"), array_max(col("v")).as("mx"))
      .select(col("id"), col("mn"), col("mx"),
        when(col("mx") === col("mn"),
          transform(col("v"), _ => lit(0)))
          .otherwise(transform(col("v"),
            x => greatest(lit(0.0), least(
              floor((x - col("mn")) * 255.0 / (col("mx") - col("mn"))),
              lit(255.0))).cast("int")))
          .as("q"))

  /** Signed random projection of int8-quantized vectors: `k` output
    * components per vector, component `j` the exact integer dot of the
    * quantized codes against a deterministic ±1 vector — the classic
    * cosine-sketch family (Charikar, STOC 2002: random hyperplane
    * rounding), here with quantize-then-project order so every value
    * is integer arithmetic and therefore bit-identical on any engine.
    * Output: (id, j, proj) long rows, j in [0, k).
    *
    * The sign matrix is seeded, not random-at-runtime: cell (i, j)'s
    * sign is the low bit of md5("i:j") — reproducible across runs and
    * engines (the property reproducible training-data pipelines need:
    * a rerun must not resketch the corpus differently), and a real
    * mixer (an LCG-parity scheme here had ~12-cell equal-sign runs;
    * see [[planes]]).
    *
    * Scale shape: the signs are LITERAL arrays baked into the plan
    * (k·dim doubles — 16×64 here is a kilobyte; even 256×4096 is
    * ~8 MB, task-binary size, never shuffled), each component is one
    * fused [[graft.functions.expr.ArrayDot]] codegen loop, and the
    * whole operator is a narrow projection: zero shuffles, zero
    * driver actions, embarrassingly parallel at any corpus size.
    * Vectors shorter than `dim` contribute min-length terms
    * (ArrayDot's contract); callers pass the embedding dimension they
    * ingested — it is a dataset constant, so no probe job runs.
    */
  def randomSignProjection(df: DataFrame, idCol: String, vecCol: String,
                           k: Int, dim: Int): DataFrame = {
    require(k >= 1 && dim >= 1, s"k/dim must be >= 1, got $k/$dim")
    // Null/empty vectors are skipped (no sketch rows) — the contract
    // the oracle replays; without the filter they would emit k
    // null/zero rows the SQL side cannot mirror.
    val input = df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
    val mdd = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Double = {
      mdd.reset()
      val d = mdd.digest(s"$i:$j".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      if ((d(7) & 1) == 0) 1.0 else -1.0
    }
    val q = quantizeInt8(input, idCol, vecCol)
      .select(col("id"), transform(col("q"), _.cast("double")).as("qd"))
    val comps = (0 until k).map { j =>
      val signs = array((0 until dim).map(i => lit(sign(i, j))): _*)
      Vectors.dot(col("qd"), signs).cast("long")
    }
    q.select(col("id"), posexplode(array(comps: _*)).as(Seq("j", "proj")))
      .select(col("id"), col("j").cast("long").as("j"), col("proj"))
  }

  /** (id, s, sub) rows: subvector `s` (0..m-1) of each vector — the
    * PQ decomposition. Narrow (explode + slice after pruning). */
  private def subvectors(v: DataFrame, m: Int, ds: Int): DataFrame =
    v.select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("s"), col("v"))
      .select(col("id"), col("s"),
        slice(col("v"), col("s") * ds + 1, lit(ds)).as("sub"))

  /** Nearest-codeword assignment per (vector, subspace): argmin of the
    * rounded squared L2 distance, codeword id as tiebreak — one
    * broadcast join + a map-side-combinable min_by, so the exchange
    * carries (id, s) rows, never the (id, s, codeword) candidates.
    * Distances round to 6 dp so independent engines pick identical
    * codes despite last-ulp summation differences. */
  private def assignPq(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb), Seq("s"))
      .withColumn("dist2", round(
        Vectors.dot(col("sub"), col("sub")) +
          Vectors.dot(col("cvec"), col("cvec")) -
          lit(2.0) * Vectors.dot(col("cvec"), col("sub")), 6))
      .groupBy("id", "s")
      .agg(expr("min_by(cid, struct(dist2, cid))").as("code"))

  /** Product-quantization codebook: (s, cid, cvec) — `m` independent
    * subspace codebooks over the vectors' `dim/m`-dim subvectors
    * (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011 — the layout IVF+PQ serving builds on).
    *
    * The base codebook is SAMPLED: the subvectors of the `k`
    * lowest-id vectors — deterministic and reproducible on any
    * engine, which is what lets [[quantizePq]] hash-match a SQL
    * oracle. `lloydIters` > 0 runs per-subspace k-means refinement on
    * the corpus (9-dp-rounded means, the [[knnIvf]] determinism
    * recipe) — the quality path; the spec pins that refinement never
    * increases reconstruction error.
    *
    * Scale shape: the codebook is m·k·(dim/m) = k·dim doubles — a
    * broadcast dim at any corpus size (256 codewords × 1024 dims =
    * 2 MB); each Lloyd round costs one assignment exchange of
    * (id, s) rows plus one (s, cid, pos) partial-agg shuffle.
    */
  def pqCodebook(emb: DataFrame, idCol: String, vecCol: String,
                 m: Int = 4, k: Int = 16, lloydIters: Int = 0,
                 dim: Int = -1): DataFrame = {
    require(m >= 1 && k >= 1, s"m/k must be >= 1, got $m/$k")
    requireDim(dim, "pqCodebook")
    require(dim % m == 0, s"pqCodebook: dim $dim is not divisible by m = $m")
    val v = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), transform(col(vecCol), _.cast("double")).as("v"))
    val ds = dim / m
    val vc = v.cut()
    // Fit-time existence guard (the [[ivfFit]] seed-guard class of
    // driver action: once per MODEL FIT, never per serving call): an
    // empty/all-null corpus must fail loudly here, not surface as an
    // empty codebook that downstream quantization silently maps to
    // zero code rows. The cut above already materialized vc, so this
    // reads a stored block, not the pipeline.
    if (vc.isEmpty) {
      // Free the corpus-as-doubles cut before the guard throw — a
      // caller retrying after the failed fit must not leak it.
      graft.operators.Checkpoints.uncut(vc)
      throw new IllegalArgumentException(
        "requirement failed: pqCodebook: no non-null vectors")
    }
    val seeds = vc.orderBy(col("id")).limit(k)
    var cb = subvectors(seeds, m, ds)
      .select(col("s"), col("id").as("cid"), col("sub").as("cvec")).cut()
    if (lloydIters > 0) {
      val subs = subvectors(vc, m, ds)
      for (_ <- 1 to lloydIters) {
        // Move each codeword to the mean of its assigned subvectors;
        // empty codewords drop out (their cell was never nearest).
        val next = assignPq(subs, cb)
          .join(subs, Seq("id", "s"))
          .select(col("s"), col("code").as("cid"),
            posexplode(col("sub")).as(Seq("pos", "x")))
          .groupBy("s", "cid", "pos").agg(round(avg(col("x")), 9).as("mv"))
          .groupBy("s", "cid")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
            p => p.getField("mv")).as("cvec"))
          .cut()
        // Every cb in this loop (the seed codebook included) is a
        // bare cut superseded by the round just materialized.
        cb.uncut()
        cb = next
      }
    }
    // The corpus-as-doubles cut fed the seed codebook and the Lloyd
    // assignments — both materialized; the returned stamped select is
    // lazy only over the final cb cut. vc is the one corpus-sized
    // frame this fit pins in executor storage: free it.
    vc.uncut()
    // Stamp the build geometry into the schema so [[quantizePq]] can
    // verify its caller-supplied (m, dim) against the codebook with
    // zero driver jobs — a mismatched m would otherwise emit wrong,
    // truncated codes with no error. EVERY column carries the stamp,
    // so common projections/renames keep verification alive; only a
    // transform that rebuilds all three columns strips it (then
    // quantizePq falls back to pure trust, as its scaladoc states).
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("pq.m", m.toLong).putLong("pq.ds", ds.toLong).build()
    cb.select(cb.columns.toIndexedSeq.map(c => col(c).as(c, meta)): _*)
  }

  /** PQ codes: (id, codes array<int>) — codes(s) = the nearest
    * codeword of subspace s. With m = 4 over 64 dims this stores 4
    * small ints instead of 64 floats per vector — the memory layout
    * that lets an ANN index hold billions of vectors in RAM;
    * reconstruction is [[pqReconstruct]]. */
  def quantizePq(emb: DataFrame, idCol: String, vecCol: String,
                 codebook: DataFrame, m: Int = -1, dim: Int = -1): DataFrame = {
    // (m, dim) are the same caller metadata the codebook was built
    // with — passing them keeps this entry point free of the driver
    // job an agg-probe of the codebook's shape would cost per call.
    // Both are required sentinels: a silently-defaulted m against an
    // m≠default codebook would split vectors into the wrong number of
    // subspaces and emit wrong codes with no error.
    require(m > 0,
      "quantizePq: pass the codebook's subspace count explicitly (m = ...)")
    requireDim(dim, "quantizePq")
    require(dim % m == 0, s"quantizePq: dim $dim is not divisible by m = $m")
    val ds = dim / m
    // [[pqCodebook]] stamps its build geometry into the schema of
    // every column; when ANY column still carries it, verify the
    // caller's values against it (zero driver jobs — schema metadata
    // only). Hand-built codebooks without the stamp — or codebooks
    // whose columns were all rebuilt downstream, which strips schema
    // metadata — keep the pure trust contract.
    locally {
      val md = codebook.schema.fields.map(_.metadata).find(_.contains("pq.m"))
      md.foreach { mm =>
        require(mm.getLong("pq.m") == m.toLong && mm.getLong("pq.ds") == ds.toLong,
          s"quantizePq: (m=$m, dim=$dim) disagree with the codebook's build " +
            s"geometry (m=${mm.getLong("pq.m")}, ds=${mm.getLong("pq.ds")})")
      }
    }
    val v = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), transform(col(vecCol), _.cast("double")).as("v"))
    assignPq(subvectors(v, m, ds), codebook)
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("s"), col("code")))),
        p => asCode(p.getField("code"))).as("codes"))
  }

  /** Decode PQ codes back to (id, vhat) — the concatenation of each
    * subspace's codeword; the spec measures reconstruction quality
    * against the originals. */
  def pqReconstruct(codes: DataFrame, codebook: DataFrame): DataFrame = {
    val cb = codebook.select(col("s"), asCode(col("cid")).as("code"),
      col("cvec"))
    codes.select(col("id"), posexplode(col("codes")).as(Seq("s", "code")))
      .join(broadcast(cb), Seq("s", "code"))
      .groupBy("id")
      .agg(flatten(transform(array_sort(collect_list(struct(col("s"), col("cvec")))),
        p => p.getField("cvec"))).as("vhat"))
  }

  /** kNN label propagation — the embedding-classifier step of a
    * curation pipeline (quality / topic / language labels spread from
    * a labeled seed set to the whole corpus by nearest neighbors).
    * Takes the OUTPUT of any kNN operator in this file — (query_id,
    * neighbor_id, cosine, …) from [[knnBruteForce]], [[knnLsh]],
    * [[knnIvf]] or [[knnIvfPq]] — plus an (id, label) table, and
    * returns one row per query: the cosine-weighted majority label.
    * Output: (query_id, label, votes, weight); weight = the sum of
    * the (already 4-dp-rounded) neighbor cosines re-rounded to 4 dp,
    * argmax by weight desc with label asc as the total tie-break.
    * Composability with every ANN variant is the point: the exact
    * path validates, the LSH/IVF paths serve at scale.
    *
    * Scale shape: the input is Q·k rows (never corpus-sized); the
    * label join shuffles on the neighbor id (or broadcasts when the
    * label table is dimension-sized — AQE decides, no hint for the
    * same Heaps-law reason as the TF-IDF model); the vote agg is
    * map-side combinable on (query, label); the winner is one
    * WindowGroupLimit top-1 on data already partitioned by query.
    *
    * Cross-engine exactness: the weight sums ≤ k values that are
    * 4-dp multiples, so accumulation order cannot move the re-rounded
    * result (the a27 argument), and the argmax compares rounded
    * weights only.
    */
  def classifyKnn(knn: DataFrame, labels: DataFrame,
                  labelIdCol: String, labelCol: String): DataFrame = {
    val lab = labels.select(col(labelIdCol).as("neighbor_id"),
      col(labelCol).as("label"))
    val votes = knn.select(col("query_id"), col("neighbor_id"), col("cosine"))
      .join(lab, "neighbor_id")
      .groupBy("query_id", "label")
      .agg(count(lit(1)).as("votes"),
        round(sum(col("cosine")), 4).as("weight"))
    Relational.topKPerGroup(votes, Seq(col("query_id")),
        Seq(col("weight").desc, col("label").asc), 1)
      .select("query_id", "label", "votes", "weight")
  }

  /** Recall@k evaluation — the acceptance gate every ANN rollout
    * runs before swapping an index in: per query, the fraction of the
    * EXACT top-k the candidate operator recovered. Takes the outputs
    * of any two kNN operators in this file ((query_id, neighbor_id,
    * …) — `exact` is the ground truth, `ann` the candidate) and
    * returns one row per exact-side query: (query_id, n_exact,
    * n_matched, recall). Queries the ANN side missed entirely still
    * appear (n_matched = 0) — silent query loss is precisely what an
    * acceptance gate must surface. This is the first-class form of
    * the recall floors the ScalaTest specs assert for e2/e3/e6.
    *
    * Scale shape: both inputs are Q·k rows (never corpus-sized — the
    * expensive exact side runs on a SAMPLED query set, which is how
    * recall evaluation is done at any scale); the overlap check is a
    * left-semi join on (query_id, neighbor_id) and both counts are
    * map-side-combinable aggs on data already partitioned by query.
    *
    * Cross-engine exactness: the output is integer counts plus one
    * ratio of small integers rounded to 4 dp — no float path at all.
    */
  def recallAt(ann: DataFrame, exact: DataFrame): DataFrame = {
    val ex = exact.select(col("query_id"), col("neighbor_id"))
    val an = ann.select(col("query_id"), col("neighbor_id"))
    val matched = ex.join(an, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_matched"))
    ex.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(matched, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        round(coalesce(col("n_matched"), lit(0L)).cast("double") /
          col("n_exact"), 4).as("recall"))
  }

  /** NDCG@k of a ranked retrieval against the exact ranking
    * (reference: research/learning-to-rank/compare_window_sizes.py:
    * 191-211 — the window-size study's quality metric; graded
    * relevance where [[recallAt]] only counts membership).
    *
    * Inputs are two kNN frames with (query_id, neighbor_id, cosine,
    * rank): `ann` supplies the retrieved ORDER and each hit's true
    * grade (its exact cosine — the LSH path rescores exactly), and
    * `exact` the ideal ordering. Per the reference: dcg folds the
    * retrieved grades AS-IS while idcg floors the ideal grades at
    * `defaultScore` (its asymmetry, kept); ndcg = 0 when idcg = 0 or
    * the retrieval returned nothing. The reference's default grade
    * floor is 2.0 for 0–4 human annotations; cosine grades live in
    * [-1, 1], so the registered call floors at 0.0 instead.
    *
    * Determinism: a groupBy sum of doubles commits to no accumulation
    * order, so each ≤k-term series folds LEFT-TO-RIGHT in rank order
    * via aggregate() over a rank-sorted array — the oracle mirrors it
    * with list_reduce over list(term ORDER BY rank), and IEEE
    * addition replays bit-for-bit (the 0.0 init is exact: 0.0 + x =
    * x for every finite x). */
  def ndcgAt(ann: DataFrame, exact: DataFrame,
             defaultScore: Double = 0.0): DataFrame = {
    def foldDcg(df: DataFrame, grade: Column, out: String): DataFrame =
      df.select(col("query_id"), col("rank"),
          (grade / log2(col("rank").cast("double") + 1.0)).as("term"))
        .groupBy("query_id")
        .agg(aggregate(
          array_sort(collect_list(struct(col("rank"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as(out))
    val dcg = foldDcg(ann.select("query_id", "rank", "cosine"),
      col("cosine"), "dcg")
    val idcg = foldDcg(exact.select("query_id", "rank", "cosine"),
      greatest(col("cosine"), lit(defaultScore)), "idcg")
    // Exact side is the spine: every query has ideal rows, while a
    // retrieval can come back empty (no shared LSH bucket) -> dcg 0.
    idcg.join(dcg, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("dcg"), lit(0.0)), 6).as("dcg"),
        round(col("idcg"), 6).as("idcg"),
        round(when(col("idcg") > 0,
            coalesce(col("dcg"), lit(0.0)) / col("idcg"))
          .otherwise(lit(0.0)), 6).as("ndcg"))
  }

  /** (id, unit) with `unit` the L2-normalized vector in doubles;
    * zero vectors pass through unchanged (cosine 0 downstream).
    * One fused codegen pass ([[graft.functions.expr.ArrayNormalize]]
    * — bit-compatible with the staged cast/norm/divide projections it
    * replaced; parity spec'd). */
  private def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), Vectors.normalize(col(vecCol)).as("unit"))
}
