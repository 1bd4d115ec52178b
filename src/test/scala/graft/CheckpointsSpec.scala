package graft

import graft.operators.Checkpoints
import graft.operators.Checkpoints.Cuttable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.storage.StorageLevel

/** Contracts of the cut layer beyond GraphSpec's loop coverage: what
  * each form persists, the one-job fused count, reliable mode for every
  * form, and uncut under concurrency.
  */
class CheckpointsSpec extends GraftSuite {
  private val ss = SparkTestBase.spark
  import ss.implicits._

  private def cutRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  private def levels(df: DataFrame): Seq[StorageLevel] =
    cutRdds(df).map(_.getStorageLevel)

  test("concurrent uncuts free every cut without Spark's unpersist warning") {
    // 8 threads race cut+uncut. Every uncut RDD must leave the
    // context's persistent set. Spark logs "cannot be recomputed after
    // unpersisting" from RDD.unpersist alone, which also resets the
    // RDD's storage level to NONE; a level still set after uncut shows
    // the blocks were freed without going through that call.
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val freed = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        try {
          for (j <- 1 to 5) {
            val df = Seq((i, j)).toDF("a", "b").cut()
            df.uncut()
            cutRdds(df).foreach(freed.add)
          }
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, s"concurrent cut/uncut threw: ${failures.peek()}")
    import scala.jdk.CollectionConverters._
    val rdds = freed.asScala.toSeq
    assert(rdds.size === 40)
    val live = ss.sparkContext.getPersistentRDDs.keySet
    assert(rdds.forall(r => !live.contains(r.id)),
      s"uncut RDDs still persistent: ${rdds.map(_.id).filter(live.contains)}")
    assert(rdds.forall(_.getStorageLevel != StorageLevel.NONE),
      "uncut went through RDD.unpersist, which logs the recompute warning")
  }

  test("cutEval materializes the cut and returns the count in one job") {
    // Count jobs via a listener: the lazy cut + rdd count must submit
    // exactly ONE job (the r16 verdict ask #2 contract — the eager
    // cut + isEmpty pattern it replaces submits two per round).
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ss.sparkContext.addSparkListener(l)
    try {
      // Shuffle-free frame: with AQE every exchange materializes as
      // its own job regardless of cut mode, so the one-job contract
      // is asserted on the cut+count TAIL itself (a plan with N AQE
      // stage jobs runs N+1 with cutEval vs N+2 with the eager
      // cut + isEmpty pattern it replaces).
      val src = ss.range(1000)
        .select(col("id"), (col("id") % 7).as("k"))
        .filter(col("k") =!= 99)
      val (c, n) = Checkpoints.cutEval(src)(_.queryExecution.toRdd.count())
      // Settle the async listener bus so the job counter is final.
      SparkInternals.drainListenerBus(ss.sparkContext)
      assert(n === 1000L)
      assert(jobs.get() === 1,
        s"cutEval must run exactly one job, ran ${jobs.get()}")
      // The frame is genuinely cut: plan is an RDD scan (no lineage
      // back to the range) and re-reading it is block-backed.
      assert(cutRdds(c).nonEmpty, "cutEval result must be a checkpointed LogicalRDD")
      assert(c.count() === 1000L)
      c.uncut()
    } finally ss.sparkContext.removeSparkListener(l)
  }

  test("cutEval(round = true) folds a full aggregate into the materializing job") {
    val src = ss.range(100).select(col("id"), col("id").as("comp"))
    val (c, s) = Checkpoints.cutEval(src, round = true)(
      _.agg(sum(col("comp"))).head().getLong(0))
    assert(s === (0L until 100L).sum)
    // The cut frame must be re-consumable after its INPUT would be
    // gone (lineage truncated): count it again from blocks.
    assert(c.count() === 100L)
    c.uncut()
  }

  test("plain cuts persist Spark's localCheckpoint level, round cuts DISK_ONLY") {
    val src = ss.range(50).select(col("id"), (col("id") % 3).as("k"))
    val sparkDefault = levels(src.localCheckpoint())
    assert(sparkDefault.size === 1)
    val plain: Seq[(String, DataFrame)] = Seq(
      "cut" -> src.cut(),
      "cutLazy" -> src.cutLazy(),
      "cutEval" -> Checkpoints.cutEval(src)(_.count())._1)
    val round: Seq[(String, DataFrame)] = Seq(
      "cutEval" -> Checkpoints.cutEval(src, round = true)(_.count())._1)
    for ((form, c) <- plain) {
      assert(c.count() === 50L)
      assert(levels(c) === sparkDefault, s"$form must keep Spark's level")
    }
    for ((form, c) <- round) {
      assert(c.count() === 50L)
      assert(levels(c) === Seq(StorageLevel.DISK_ONLY),
        s"$form(round = true) must persist DISK_ONLY")
    }
    (plain ++ round).foreach(_._2.uncut())
  }

  test("reliable mode: every form writes checkpoint files and keeps local rows") {
    val src = ss.range(200).select(col("id"), (col("id") % 7).as("k"))
      .filter(col("k") =!= 3)
    val forms: Seq[(String, DataFrame => DataFrame)] = Seq(
      "cut" -> (df => Checkpoints.cut(df)),
      "cutLazy" -> (df => Checkpoints.cutLazy(df)),
      "cutEval" -> (df => Checkpoints.cutEval(df)(_.count())._1))
    def rows(df: DataFrame) = df.orderBy("id").as[(Long, Long)].collect().toSeq
    val local = forms.map { case (form, f) =>
      val c = f(src)
      val r = rows(c)
      c.uncut()
      form -> r
    }.toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-forms")
    ss.conf.set(Checkpoints.confKey, dir.toString)
    try {
      for ((form, f) <- forms) {
        val c = f(src)
        // Reliable cuts are eager, so the files exist before any read.
        val files = cutRdds(c).flatMap(_.getCheckpointFile)
        assert(files.nonEmpty, s"$form must checkpoint to files")
        for (path <- files) {
          val d = new java.io.File(new java.net.URI(path))
          assert(Option(d.listFiles()).exists(_.exists(_.getName.startsWith("part-"))),
            s"$form wrote no checkpoint part files under $path")
        }
        assert(rows(c) === local(form), s"$form rows differ from local mode")
      }
    } finally ss.conf.unset(Checkpoints.confKey)
  }
}
