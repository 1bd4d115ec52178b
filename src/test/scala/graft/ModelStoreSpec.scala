package graft

import graft.operators.{Corpus, Dedup, Similarity}
import graft.sinks.ModelStore
import org.apache.spark.sql.functions._

/** Fitted-structure persistence: the serving lifecycle e11/f15/f22/d13
  * imply — fit once, write the dims via ModelStore, reload, and feed
  * the incremental/scoring operators — must be value-identical to the
  * in-memory path, and the schema-metadata stamps (PQ geometry,
  * bigram vocab) must survive the parquet round-trip ALIVE (still
  * enforced, not silently degraded to trust).
  */
class ModelStoreSpec extends GraftSuite {
  private val ss = SparkTestBase.spark
  import ss.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$name").toFile
    d.deleteOnExit()
    new java.io.File(d, "m").getAbsolutePath
  }

  private def sameRows(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq)
    assert(a.count() > 0)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  private lazy val emb = Tables(spark, sfDir, "embeddings")
    .select("vec_id", "embedding")
  private lazy val docs = Tables(spark, sfDir, "documents")
    .select("doc_id", "text")
  private lazy val corpus = emb.filter(col("vec_id") % 10 =!= 0)
  private lazy val slice = emb.filter(col("vec_id") % 10 === 0)
  private lazy val fitted =
    Similarity.ivfPqFit(corpus, "vec_id", "embedding", dim = 64)

  test("PQ geometry stamp survives the round-trip and still ENFORCES") {
    val p = tmp("cb")
    ModelStore.save(fitted._2, p)
    val back = ModelStore.load(spark, p)
    val md = back.schema.fields.map(_.metadata).find(_.contains("pq.m"))
    assert(md.nonEmpty, "stamp lost in parquet round-trip")
    assert(md.get.getLong("pq.m") == 8L && md.get.getLong("pq.ds") == 8L)
    // Alive, not decorative: a wrong geometry against the RELOADED
    // codebook must still throw (the silent-degrade-to-trust failure
    // the store exists to prevent).
    intercept[IllegalArgumentException] {
      Similarity.quantizePq(emb, "vec_id", "embedding", back, m = 4, dim = 64)
    }
  }

  test("e11 on reloaded dims is identical to in-memory dims") {
    val (pc, pb) = (tmp("cent"), tmp("code"))
    ModelStore.save(fitted._1, pc)
    ModelStore.save(fitted._2, pb)
    sameRows(
      Similarity.ivfPqIndexDelta(slice, "vec_id", "embedding",
        ModelStore.load(spark, pc), ModelStore.load(spark, pb),
        m = 8, dim = 64),
      Similarity.ivfPqIndexDelta(slice, "vec_id", "embedding",
        fitted._1, fitted._2, m = 8, dim = 64))
  }

  test("bloom bitmap round-trip: probe verdicts identical") {
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val incoming = docs.filter(col("doc_id") % 10 === 0)
    val bits = Dedup.bloomBits(
      Dedup.shingles(existing, "doc_id", "text", n = 3).select("shingle"),
      "shingle")
    val p = tmp("bloom")
    ModelStore.save(bits, p)
    val probes = Dedup.shingles(incoming, "doc_id", "text", n = 3)
    sameRows(
      Dedup.bloomProbe(ModelStore.load(spark, p), probes, "shingle"),
      Dedup.bloomProbe(bits, probes, "shingle"))
  }

  test("unigram LM round-trip: persisted-model scoring equals inline f15") {
    val p = tmp("uni")
    ModelStore.save(Corpus.unigramFit(docs, "doc_id", "text"), p)
    sameRows(
      Corpus.perplexityBucketsWith(ModelStore.load(spark, p),
        docs, "doc_id", "text"),
      Corpus.perplexityBuckets(docs, "doc_id", "text"))
  }

  test("bigram LM round-trip: vocab stamp survives; scoring equals inline f22") {
    val p = tmp("bi")
    val model = Corpus.bigramFit(docs, "doc_id", "text")
    ModelStore.save(model, p)
    val back = ModelStore.load(spark, p)
    assert(back.schema.fields.forall(_.metadata.contains("lm.vocab")))
    sameRows(
      Corpus.bigramNllWith(back, docs, "doc_id", "text"),
      Corpus.bigramNll(docs, docs, "doc_id", "text"))
    // A model without the stamp is refused, never guessed at.
    intercept[IllegalArgumentException] {
      Corpus.bigramNllWith(
        // Rebuild BOTH columns: a plain alias keeps an attribute's
        // metadata, a fresh expression strips it.
        back.select(concat(col("bg"), lit("")).as("bg"),
          (col("cb") + lit(0L)).as("cb")),
        docs, "doc_id", "text")
    }
  }

  test("gram-count dim round-trip: incremental span measurement identical") {
    import graft.operators.Corpus
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val incoming = docs.filter(col("doc_id") % 10 === 0)
    val dim = Corpus.gramCounts(existing, "text", n = 3)
    val p = tmp("grams")
    ModelStore.save(dim, p)
    sameRows(
      Corpus.dupSpansAgainst(ModelStore.load(spark, p), incoming,
        "doc_id", "text", n = 3),
      Corpus.dupSpansAgainst(dim, incoming, "doc_id", "text", n = 3))
  }

  test("CMS counter dim round-trip: estimates identical") {
    // The f20 serving shape: the counter frame is a persisted dim the
    // daily slices probe; reloaded counters must estimate identically.
    import graft.operators.Sketches
    import graft.functions.Text
    val grams = docs.select(col("doc_id"),
        explode(Text.shingles(Text.tokens(col("text")), 3)).as("gram"))
    val counters = Sketches.cmsCounters(grams, "gram")
    val p = tmp("cms")
    ModelStore.save(counters, p)
    val probes = grams.select("gram").distinct().limit(200)
    sameRows(
      Sketches.cmsEstimate(ModelStore.load(spark, p), probes, "gram"),
      Sketches.cmsEstimate(counters, probes, "gram"))
  }

  test("closure round-trip: transitiveClosureDelta on reloaded closure identical") {
    import graft.operators.Graph
    val edges = Tables(spark, sfDir, "part")
      .filter(col("p_partkey") >= 2)
      .select(col("p_partkey").as("src"), expr("p_partkey DIV 2").as("dst"))
    val c = Graph.transitiveClosure(edges.filter(col("src") % 10 =!= 0))
    val p = tmp("closure")
    ModelStore.save(c, p)
    val slice = edges.filter(col("src") % 10 === 0)
    sameRows(
      Graph.transitiveClosureDelta(ModelStore.load(spark, p), slice),
      Graph.transitiveClosureDelta(c, slice))
  }

  test("component assignment round-trip: componentsDelta on reloaded assignment identical") {
    // The d16 serving path: the (id, comp) assignment persists
    // between ingest cycles and the next cycle's merge runs against
    // the RELOADED frame — must be value-identical to the in-memory
    // continuation.
    import graft.operators.{Dedup, Graph}
    val existing = docs.filter(col("doc_id") % 10 =!= 0)
    val incoming = docs.filter(col("doc_id") % 10 === 0)
    val asg = Graph.connectedComponents(
      Dedup.ngramJaccardPairs(existing, "doc_id", "text", n = 3, tau = 0.5))
    val p = tmp("asg")
    ModelStore.save(asg, p)
    val newPairs = Dedup.ngramJaccardAgainst(existing, incoming,
        "doc_id", "text", n = 3, tau = 0.5)
      .select(col("new_id").as("id_a"), col("old_id").as("id_b"))
    sameRows(
      Graph.componentsDelta(ModelStore.load(spark, p), newPairs),
      Graph.componentsDelta(asg, newPairs))
  }

  test("same-path update cycle: save(transform(load(p)), p) is safe") {
    // The serving lifecycle the scaladoc pitches: the saved frame's
    // lazy plan still READS the path being replaced. Stage-and-swap
    // must materialize the new model before touching the old one.
    import graft.operators.Graph
    val p = tmp("cycle")
    val asg0 = Graph.connectedComponents(
      spark.range(1, 9).selectExpr("id AS id_a", "id + 1 AS id_b"))
    ModelStore.save(asg0, p)
    val loaded = ModelStore.load(spark, p)
    val delta = Graph.componentsDelta(loaded,
      spark.range(100, 103).selectExpr("id AS id_a", "5 AS id_b"))
    val upserted = loaded.join(delta, Seq("id"), "left_anti")
      .unionByName(delta)
    ModelStore.save(upserted, p)
    val back = ModelStore.load(spark, p).as[(Long, Long)].collect().toMap
    val want = Graph.connectedComponents(
        spark.range(1, 9).selectExpr("id AS id_a", "id + 1 AS id_b")
          .unionByName(spark.range(100, 103)
            .selectExpr("id AS id_a", "5 AS id_b")))
      .as[(Long, Long)].collect().toMap
    assert(back == want)
  }

  test("save refuses to hive-partition a stamped column") {
    intercept[IllegalArgumentException] {
      ModelStore.save(fitted._2, tmp("bad"), partitionCols = Seq("s"))
    }
  }

  test("save auto-restores .__prev__ when a crash left no live model") {
    val p = tmp("restore")
    val m1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    ModelStore.save(m1, p)
    ModelStore.save(Seq((3L, "c")).toDF("id", "v"), p) // m1 → .__prev__
    // Simulate a crash between the two swap renames: live model gone,
    // the retired generation still on disk.
    val dir = new java.io.File(p)
    val prev = new java.io.File(p + ".__prev__")
    assert(prev.isDirectory)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(dir)
    assert(!dir.exists())
    // The next save must restore .__prev__ first (standalone-caller
    // recovery, ADVICE r10) and then swap the new model in — leaving
    // the RESTORED model (m1: the crash destroyed the later one)
    // retired at .__prev__, not lost.
    ModelStore.save(Seq((4L, "d")).toDF("id", "v"), p)
    sameRows(ModelStore.load(spark, p), Seq((4L, "d")).toDF("id", "v"))
    sameRows(ModelStore.load(spark, p + ".__prev__"), m1)
  }

  test("serving twins p5, d19, b6 are value-identical to p4, d16, b4") {
    // The whole point of the serving registrations: the ModelStore
    // round-trip of every dim must change nothing — the driver proves
    // it via the shared oracles, this pins the same equality in CI.
    // ensureServingModels / ensureTaxonomyModels are exercised
    // implicitly (first call fits and persists, the repeat is a
    // fingerprint no-op).
    //
    // Compared on MATERIALIZED rows, not a combined exceptAll plan:
    // the two live DAGs are near-identical self-join-style subtrees,
    // and stitching them into one ExceptAll query trips an AQE
    // EXCHANGE-REUSE quirk where identical rows fail to cancel —
    // isolated to stage reuse specifically: the same combined plan
    // cancels to 0 with spark.sql.adaptive.enabled=false OR
    // spark.sql.exchange.reuse=false, and per-column / 2-column
    // projections cancel even with both on (a reused exchange from
    // one side is substituted for a non-identical one on the other).
    // Parquet-materialized copies — and each live side against the
    // other's materialized copy — agree in EVERY combination, so the
    // values themselves are identical and only the combined reused
    // plan is wrong; the driver always runs queries in isolation, so
    // this cannot touch the gate.
    def rowsOf(name: String): Seq[Seq[Any]] = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.orderBy(df.columns.map(col).toSeq: _*)
        .collect().map(_.toSeq).toSeq
    }
    for ((inline, serving) <- Seq(
        "p4_ingest_pipeline" -> "p5_serving_ingest",
        "d16_components_incremental" -> "d19_components_serving",
        "b4_closure_incremental" -> "b6_closure_serving")) {
      val expected = rowsOf(inline)
      assert(expected.nonEmpty, inline)
      assert(rowsOf(serving) == expected, s"$serving differs from $inline")
      // Idempotence: a second invocation reuses the persisted store
      // (same fingerprint) and still matches.
      assert(rowsOf(serving) == expected, s"$serving (store reused) differs from $inline")
    }
  }
}
