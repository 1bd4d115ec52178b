package graftbench

import graft.operators.{Collections, Corpus, Dedup, Graph, Relational, Sampling, Similarity}
import graft.queries.GroupP
import graft.sinks.{EsBulk, ModelStore, PartitionedParquet, ServingStore}
import graft.sources.{NTriples, SqlDump}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Eager materialisation of a frame read by several consumers, and its
  * release once the frame is dead. */
object Cuts {
  def cut(df: DataFrame): DataFrame = df.localCheckpoint()

  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))
}

/** One benchmark workload: a one-time set-up, then passes. A pass
  * returns the untimed step that saves what the output checks read. */
trait Workload {
  def setup(): Unit
  def pass(i: Int, out: String): () => Unit
}

object Workload {
  /** Runs `f` with `module` as the attribution fallback for its jobs. */
  def as[T](spark: SparkSession, module: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Trace.ModuleProp)
    sc.setLocalProperty(Trace.ModuleProp, module)
    try f finally sc.setLocalProperty(Trace.ModuleProp, prev)
  }

  def apply(name: String, spark: SparkSession, in: String): Workload =
    name match {
      case "collections" => new CollectionsRebuild(spark, in)
      case "ingest_cycle" => new IngestCycle(spark, in)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** The daily rebuild: raw dumps → collections → related → diff against
  * yesterday's snapshot → ES bulk operations. */
final class CollectionsRebuild(spark: SparkSession, in: String) extends Workload {
  import Workload.as

  private var prevSnapshot: Option[DataFrame] = None
  private val payload = Seq("collection_name", "valid_cnt", "invalid_cnt",
    "rank", "top_members", "namehash", "banner_number", "related")

  private def qid(c: Column): Column = regexp_extract(c, "^Q(\\d+)$", 1).cast("long")

  /** Parse one day's dumps and build its snapshot. Returns the cut
    * snapshot and every cut made on the way, for the caller to free. */
  private def snapshot(day: String): (DataFrame, Seq[DataFrame]) = {
    val triples = as(spark, "sources") {
      Cuts.cut(NTriples.parse(spark.read.text(s"$day/triples.nt"))
        .filter(col("subject") =!= ""))
    }
    def pred(p: String) = triples.filter(col("predicate") === p)
    val labels = pred("label").filter(!col("obj_is_uri"))
      .select(qid(col("subject")).as("id"), col("obj").as("name"))
    val entities = pred("P31")
      .select(qid(col("subject")).as("member_id"), qid(col("obj")).as("member_type"))
      .join(labels.select(col("id").as("member_id"), col("name").as("member_name")),
        Seq("member_id"), "left")
    val collections = pred("P360")
      .select(qid(col("subject")).as("collection_id"), qid(col("obj")).as("required_type"))
      .join(labels.select(col("id").as("collection_id"), col("name").as("collection_name")),
        Seq("collection_id"), "left")
    val typeEdges = pred("P279")
      .select(qid(col("subject")).as("src"), qid(col("obj")).as("dst"))
    val relations = pred("P1754")
      .select(qid(col("subject")).as("category_id"), qid(col("obj")).as("list_id"))
    val members = as(spark, "sources") {
      Cuts.cut(SqlDump.tuples(spark.read.text(s"$day/pagelinks.sql"))
        .select(
          regexp_extract(col("tuple"), "^(\\d+),", 1).cast("long").as("collection_id"),
          regexp_extract(col("tuple"), "'Q(\\d+)'", 1).cast("long").as("member_id"),
          regexp_extract(col("tuple"), ",(\\d+)$", 1).cast("double").as("score")))
    }
    val built = as(spark, "collections") {
      Collections.build(members, entities, collections, typeEdges, topK = 10,
        relations = Some(relations))
    }
    val membership = as(spark, "relational") {
      Cuts.cut(members.select(col("collection_id").as("coll"),
        col("member_id").as("member")).distinct())
    }
    val related = as(spark, "relational") {
      val pairs = Relational.overlapPairs(membership, "coll", "member",
          dfCap = 50L, boundedDf = true)
        .filter(col("overlap") >= 2)
      val directed = pairs.select(col("id_a").as("coll"), col("id_b").as("rel"), col("overlap"))
        .union(pairs.select(col("id_b").as("coll"), col("id_a").as("rel"), col("overlap")))
        .join(collections.select(col("collection_id").as("rel"), col("required_type").as("kind")),
          "rel")
      Relational.diverseTopK(directed, Seq(col("coll")), col("kind"),
          Seq(col("overlap").desc, col("rel").asc), k = 10, perKind = 2)
        .groupBy("coll")
        .agg(concat_ws(",", transform(
          array_sort(collect_list(struct((-col("overlap")).as("o"), col("rel"), col("kind")))),
          s => concat(s.getField("rel").cast("string"), lit(":"),
            s.getField("kind").cast("string")))).as("related"))
    }
    val snap = as(spark, "collections") {
      Cuts.cut(built
        .join(related.withColumnRenamed("coll", "stable_id"), Seq("stable_id"), "left")
        .select(col("stable_id"), col("collection_name"), col("valid_cnt"),
          col("invalid_cnt"), col("rank"),
          concat_ws(",", col("top_members")).as("top_members"),
          col("namehash"), col("banner_number"),
          coalesce(col("related"), lit("")).as("related")))
    }
    (snap, Seq(snap, triples, members, membership))
  }

  def setup(): Unit = ()

  /** Pass i rebuilds day i % 2 and diffs it against the snapshot the
    * previous pass wrote (an empty one before the first pass). */
  def pass(i: Int, out: String): () => Unit = {
    val (snap, cuts) = snapshot(s"$in/day${i % 2}")
    as(spark, "collections") { snap.write.mode("overwrite").parquet(s"$out/snapshot") }
    val prev = prevSnapshot.getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema))
    val ops = as(spark, "relational") {
      Relational.diffSnapshotsCarry(snap, prev, "stable_id",
          md5(to_json(struct(payload.map(col): _*))), payload)
        .filter(col("op") =!= "unchanged")
    }
    as(spark, "sinks") {
      EsBulk.write(ops, "collections", "stable_id", "op",
        struct(payload.map(col): _*), s"$out/bulk")
    }
    cuts.foreach(Cuts.free)
    prevSnapshot = Some(as(spark, "collections") { spark.read.parquet(s"$out/snapshot") })
    () => ()
  }
}

/** The serving path: a store fitted once per build, then one daily
  * slice per pass. */
final class IngestCycle(spark: SparkSession, in: String) extends Workload {
  import Workload.as

  private var root: String = _
  private val corpus = new java.io.File(s"$in/corpus").getCanonicalPath
  private val slices = s"$in/slices.parquet"
  private val sliceEmb = s"$in/slice_embeddings.parquet"
  private val bench = s"$corpus/bench.parquet"
  private var nSlices = 0L

  /** The store, which `IngestCycle.prepare` fitted before this JVM. */
  def setup(): Unit = {
    root = IngestCycle.store(spark, corpus) { _ =>
      throw new IllegalStateException("the serving store was not prepared")
    }
    nSlices = spark.read.parquet(slices).select("cycle").distinct().count()
  }

  /** One daily slice: serving verdicts against the reloaded store, the
    * quality gate and decontamination, then the accepted documents
    * (gated, clean, new to the corpus, canonical within the slice) are
    * written and sampled. */
  def pass(i: Int, out: String): () => Unit = {
    val cycle = (i % nSlices).toInt
    def dim(name: String) = ModelStore.load(spark, s"$root/$name")
    val slice = spark.read.parquet(slices).filter(col("cycle") === cycle)
      .select("doc_id", "lang", "text")
    val verdicts = as(spark, "queries") {
      Cuts.cut(GroupP.servingChain(
        incoming = slice.select("doc_id", "text"),
        sliceEmb = spark.read.parquet(sliceEmb).filter(col("cycle") === cycle)
          .select("vec_id", "embedding"),
        bits = dim("bloom_bits"), exSh = dim("ex_shingles"), exSizes = dim("ex_sizes"),
        asg = dim("assignment"), cent = dim("centroids"), cb = dim("codebook")))
    }
    val gate = as(spark, "corpus") { Corpus.qualityGate(slice, "doc_id", "text") }
    val cont = as(spark, "corpus") {
      Corpus.contamination(
        spark.read.parquet(bench).withColumn("source", lit("bench"))
          .unionByName(slice.select(col("doc_id"), col("text"), lit("web").as("source"))),
        "doc_id", "text", n = 3, isBench = col("source") === "bench")
    }
    val accepted = slice
      .join(verdicts.filter(col("n_dup_old") === 0 &&
          coalesce(col("component"), col("doc_id")) === col("doc_id")).select("doc_id"),
        "doc_id")
      .join(gate.filter(col("keep")).select(col("id").as("doc_id")), "doc_id")
      .join(cont.select(col("id").as("doc_id"), col("contamination")), Seq("doc_id"), "left")
      .filter(coalesce(col("contamination"), lit(0.0)) < 0.5)
      .select("doc_id", "lang", "text")
    as(spark, "sinks") {
      PartitionedParquet.write(accepted, s"$out/accepted", Seq("lang"),
        sortCols = Seq("doc_id"), filesPerPartition = 1)
    }
    as(spark, "sampling") {
      Sampling.stratifiedSample(spark.read.parquet(s"$out/accepted"), col("doc_id"),
          col("lang"), rates = Map("en" -> 50), defaultRate = 20)
        .select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$out/sample")
    }
    val rows = verdicts.collect()
    Cuts.free(verdicts)
    () => {
      val w = new java.io.PrintWriter(s"$out/verdicts.jsonl", "UTF-8")
      try {
        w.println(s"""{"cycle":$cycle,"root":"${root.stripPrefix("file:")}"}""")
        rows.foreach(r => w.println(r.json))
      } finally w.close()
    }
  }
}

object IngestCycle {
  import Workload.as

  /** The serving store of the corpus in `corpus`: its current generation
    * under `graft.model.dir`, or one made by `fit` into the directory it
    * is given. */
  def store(spark: SparkSession, corpus: String)(fit: String => Unit): String =
    ServingStore.ensure("graftbench-ingest",
      Seq(s"$corpus/documents.parquet", s"$corpus/embeddings.parquet"), "graftbench-v1")(fit)

  /** Fits the store of the corpus in `corpus`: shingle index and sizes,
    * bloom bits, the component assignment, IVF centroids and PQ codebook. */
  def prepare(spark: SparkSession, corpus: String): String = store(spark, corpus) { gen =>
    val docs = spark.read.parquet(s"$corpus/documents.parquet")
    val exSh = as(spark, "dedup") {
      Cuts.cut(Dedup.shingles(docs, "doc_id", "text", n = 3))
    }
    as(spark, "sinks") {
      ModelStore.save(exSh, s"$gen/ex_shingles")
      ModelStore.save(exSh.groupBy("id").agg(count(lit(1)).as("n_old")), s"$gen/ex_sizes")
      ModelStore.save(Dedup.bloomBits(exSh.select("shingle"), "shingle"), s"$gen/bloom_bits")
      ModelStore.save(Graph.connectedComponents(
        Dedup.ngramJaccardPairsFromIndex(exSh, tau = 0.5), strict = true),
        s"$gen/assignment")
    }
    Cuts.free(exSh)
    val (cent, cb) = as(spark, "similarity") {
      Similarity.ivfPqFit(spark.read.parquet(s"$corpus/embeddings.parquet"),
        "vec_id", "embedding", dim = 64)
    }
    as(spark, "sinks") {
      ModelStore.save(cent, s"$gen/centroids")
      ModelStore.save(cb, s"$gen/codebook")
    }
  }
}
