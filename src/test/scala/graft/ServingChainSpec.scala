package graft

import graft.operators.Similarity
import graft.queries.GroupP
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `GroupP.servingChain` on slices the registered p4/p5 testdata never
  * makes: doc ids off the "every tenth id" convention, an empty slice,
  * and a slice none of whose shingles is in the bloom bitmap. The
  * expected components come from a union-find replay over exact
  * 3-shingle Jaccard pairs of the whole corpus plus the slice (the d16
  * equivalence: an incremental merge equals a full recompute). */
class ServingChainSpec extends GraftSuite {
  private val ss = SparkTestBase.spark
  import ss.implicits._

  private val rnd = new scala.util.Random(7)
  private def words(prefix: String, n: Int): Seq[String] =
    Seq.fill(n)(s"$prefix${rnd.nextInt(5000)}")
  /** `base` with word `i` replaced: a near-duplicate (Jaccard ≥ 0.8 at
    * 40 words). */
  private def variant(base: Seq[String], i: Int, w: String): Seq[String] = base.updated(i, w)

  // Corpus ids 1..120: docs 1-3 are one near-duplicate cluster, 4-5
  // another, the rest unrelated.
  private val b1 = words("a", 40)
  private val b2 = words("a", 40)
  private val corpus: Seq[(Long, Seq[String])] =
    Seq(1L -> b1, 2L -> variant(b1, 5, "x1"), 3L -> variant(b1, 30, "x2"),
      4L -> b2, 5L -> variant(b2, 12, "x3")) ++
      (6L to 120L).map(i => i -> words("a", 30 + (i % 20).toInt))

  private lazy val dims = {
    val (exSh, exSizes, bits, asg) = GroupP.textDims(
      corpus.map { case (i, t) => (i, t.mkString(" ")) }.toDF("doc_id", "text"))
    val emb = Tables(spark, sfDir, "embeddings")
    val (cent, cb) = Similarity.ivfPqFit(emb.filter(col("vec_id") % 10 =!= 0),
      "vec_id", "embedding", dim = 64)
    (exSh, exSizes, bits, asg, cent, cb)
  }

  /** Embeddings for `ids`, borrowed from the testdata's slice vectors. */
  private def sliceEmb(ids: Seq[Long]): DataFrame = {
    val emb = Tables(spark, sfDir, "embeddings")
    val pool = emb.filter(col("vec_id") % 10 === 0).select("vec_id")
      .as[Long].collect().sorted.take(ids.size)
    ids.zip(pool).map { case (id, v) =>
      emb.filter(col("vec_id") === v).select(lit(id).as("vec_id"), col("embedding"))
    }.reduceOption(_ unionByName _).getOrElse(emb.limit(0))
  }

  private def serve(slice: Seq[(Long, Seq[String])]): DataFrame = {
    val (exSh, exSizes, bits, asg, cent, cb) = dims
    GroupP.servingChain(slice.map { case (i, t) => (i, t.mkString(" ")) }.toDF("doc_id", "text"),
      sliceEmb(slice.map(_._1)), bits, exSh, exSizes, asg, cent, cb)
  }

  /** The verdict's schema: names, types and nullability are part of
    * the chain's contract. */
  private val verdictSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("maybe_overlap", BooleanType, nullable = false),
    StructField("n_dup_old", LongType, nullable = false),
    StructField("best_jaccard", DoubleType),
    StructField("component", LongType),
    StructField("cid", LongType),
    StructField("codes", StringType)))

  private def shingles(t: Seq[String]): Set[String] = t.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
  private def jaccard(a: Set[String], b: Set[String]): Double =
    (a & b).size.toDouble / (a | b).size

  /** Per slice doc: (n_dup_old, best_jaccard, component) from exact
    * Jaccard ≥ 0.5 over corpus ∪ slice and a min-root union-find. */
  private def replay(slice: Seq[(Long, Seq[String])]): Map[Long, (Long, Option[Double], Option[Long])] = {
    val all = (corpus ++ slice).map { case (i, t) => i -> shingles(t) }
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    val paired = scala.collection.mutable.Set.empty[Long]
    for ((a, sa) <- all; (b, sb) <- all if a < b && jaccard(sa, sb) >= 0.5) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      paired ++= Seq(a, b)
    }
    val old = corpus.map { case (i, t) => i -> shingles(t) }
    slice.map { case (id, t) =>
      val js = old.map(o => jaccard(shingles(t), o._2)).filter(_ >= 0.5)
      id -> (js.size.toLong, js.maxOption.map(j => math.round(j * 1e6) / 1e6),
        if (paired(id)) Some(find(id)) else None)
    }.toMap
  }

  private def check(slice: Seq[(Long, Seq[String])], out: DataFrame): Unit = {
    assert(out.schema == verdictSchema, out.schema.treeString)
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == slice.map(_._1).sorted, "one row per incoming doc")
    val want = replay(slice)
    for (r <- rows) {
      val id = r.getLong(0)
      val got = (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))
      assert(got == want(id), s"doc $id")
      assert(!r.isNullAt(5) && !r.isNullAt(6), s"doc $id has no (cid, codes)")
    }
  }

  test("servingChain labels slice docs whose ids are not multiples of 10") {
    val novel = words("n", 40)
    val slice = Seq(
      1001L -> variant(b1, 20, "y1"), // near-duplicate of corpus docs 1-3
      1003L -> novel, 1005L -> variant(novel, 9, "y2"), // a new×new pair
      1007L -> words("m", 35))
    val out = serve(slice)
    check(slice, out)
    val comp = out.collect().map(r => r.getLong(0) -> Option(r.get(4))).toMap
    assert(comp(1001L).contains(1L) && comp(1003L).contains(1003L) &&
      comp(1005L).contains(1003L) && comp(1007L).isEmpty, comp)
  }

  test("servingChain on an empty slice returns no rows with the verdict schema") {
    val out = serve(Nil)
    assert(out.schema == verdictSchema, out.schema.treeString)
    assert(out.collect().isEmpty)
  }

  test("servingChain on a slice that sets no bloom bit confirms nothing and still labels new pairs") {
    // Words no corpus doc uses: every probe finds a clear bit, so the
    // maybe sliver is empty and the confirm join has no input. The ids
    // keep the every-tenth convention, so only the edge is under test.
    val novel = words("z", 40)
    val slice = Seq(2010L -> novel, 2020L -> variant(novel, 3, "q1"),
      2030L -> words("z", 30), 2040L -> words("z", 25))
    val out = serve(slice)
    check(slice, out)
    assert(out.collect().forall(r => !r.getBoolean(1)), "no doc may pass the bloom gate")
  }
}
