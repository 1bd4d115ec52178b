package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.storage.StorageLevel

/** Lineage cuts for iterative and multi-consumer intermediates.
  *
  * Every iterative operator in this package (connected components,
  * LSH bucket sets, pair generators) materializes
  * intermediates so the Catalyst plan does not grow with iteration
  * count and shared subplans execute once. One resolver picks the
  * mechanism per cut, because Spark's two checkpoint flavors fail
  * differently:
  *
  *  - `localCheckpoint` (the default) stores blocks on executors only.
  *    Fast, but the lineage is discarded, so losing ANY executor that
  *    holds a block fails the job unrecoverably. Right for local mode
  *    and small static clusters.
  *  - Reliable `checkpoint()` writes the blocks under
  *    `spark.graft.checkpointDir` on the fault-tolerant filesystem. One
  *    extra write+read per cut, but executor loss just re-reads the
  *    files: the only safe mode for long iterative jobs on a cluster
  *    with dynamic allocation. It is always eager: a lazy reliable
  *    checkpoint recomputes the frame a second time into its files at
  *    job end, which costs more than the job it saves.
  *
  * Set `spark.graft.checkpointDir` (session conf, or
  * `-Dspark.graft.checkpointDir` on the JVM) to an HDFS/S3 path to
  * switch every graft operator to reliable cuts; it is read per cut, so
  * a session can flip it between jobs.
  *
  * `cutEval(round = true)` marks a per-ROUND cut of an iterative loop
  * (the connected-components rounds) and persists its local blocks
  * DISK_ONLY instead of localCheckpoint's MEMORY_AND_DISK. Each round
  * supersedes the last, and round blocks held in the unified storage
  * pool churn through eviction and re-serialization under co-tenant memory
  * pressure, multiplying task CPU by the remaining round count;
  * DISK_ONLY blocks never enter that pool. On a quiet host the loops
  * are neutral to the level (each round is written once and read
  * once or twice from the page cache), while one-shot cuts read hot
  * by adjacent stages lose under DISK_ONLY (+25 % CPU on a25), and
  * frames re-read by every round (the mirrored edge set) gain from
  * memory residency; those keep the default.
  */
private[graft] object Checkpoints {

  /** Session conf key selecting reliable checkpoints. */
  val confKey = "spark.graft.checkpointDir"

  private def resolve(df: DataFrame, eager: Boolean, round: Boolean): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(confKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // setCheckpointDir creates a fresh UUID subdirectory per call, so
        // it runs only when the context's dir is not yet under `dir`.
        val want = new Path(dir)
        val qualified = want.getFileSystem(sc.hadoopConfiguration).makeQualified(want)
        if (!sc.getCheckpointDir.exists(d => new Path(d).getParent == qualified))
          sc.setCheckpointDir(dir)
        df.checkpoint()
      case None if round => df.localCheckpoint(eager, StorageLevel.DISK_ONLY)
      case None => df.localCheckpoint(eager)
    }
  }

  /** EAGER cut: the frame is materialized before this returns. */
  def cut(df: DataFrame): DataFrame = resolve(df, eager = true, round = false)

  /** LAZY cut: lineage is truncated now (the plan becomes an RDD scan),
    * but materialization waits for the first consumer's job — the form
    * for pipeline intermediates whose next step runs immediately, where
    * an eager cut would add a whole sequential job only to persist
    * blocks the next job persists as a side effect. Concurrent scans of
    * a not-yet-materialized lazy cut are correct, but two tasks racing
    * on one partition may both compute it (+40 % CPU measured on the
    * jaccard family, see Dedup), so it fits frames whose first consumer
    * scans them once.
    *
    * ORDERING CONTRACT: the inputs this frame reads may not be
    * [[uncut]] until some action has materialized it. */
  def cutLazy(df: DataFrame): DataFrame = resolve(df, eager = false, round = false)

  /** Cut + inspect in ONE job: an iterative loop's per-round tail is
    * "materialize the round's frame, then run a scalar driver action on
    * it" (connectedComponents' row count and label sum), which an eager
    * cut runs as two sequential jobs. Here the cut is lazy and `action` is the
    * materializing job: local-checkpoint marking persists each
    * partition as the action's tasks compute it. The action must touch
    * every partition (a count or full aggregate, NEVER `take`/`isEmpty`,
    * which leave the rest to a catch-up pass at job end).
    *
    * Same ORDERING CONTRACT as [[cutLazy]]: do not [[uncut]] the inputs
    * the frame reads until this returns. */
  def cutEval[T](df: DataFrame, round: Boolean = false)
      (action: DataFrame => T): (DataFrame, T) = {
    val c = resolve(df, eager = false, round)
    (c, action(c))
  }

  /** Free the executor-storage blocks behind a SUPERSEDED cut — the
    * other half of the cut contract. An iterative operator that cuts a
    * corpus-sized frame per round otherwise accumulates live blocks ∝
    * rounds × |frame|, and under storage pressure every superseded
    * round's blocks churn through spill and re-serialization.
    *
    * CONTRACT — the frame must be DEAD: a localCheckpoint discarded its
    * lineage, so once the blocks are dropped a later read fails with
    * missing-block errors instead of recomputing. Callers may only pass
    * (a) the result of a cut once every consumer of it has been
    * materialized into its own cut, or (b) a pure union/select over
    * such dead cuts — never a frame derived from cuts some OTHER live
    * frame still needs, because this walks the whole analyzed plan and
    * frees every checkpoint RDD it finds. Under reliable checkpointing
    * the data lives in checkpoint files, not persisted blocks, so this
    * is a harmless no-op.
    *
    * Non-blocking (the freed memory is reclaimed asynchronously) and
    * non-fallible: a cleanup that cannot run degrades to keeping the
    * blocks, never fails the query. */
  def uncut(df: DataFrame): Unit =
    try df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
      .foreach(SparkInternals.unpersist)
    catch {
      // Only ABSORBABLE failures may degrade to keep-everything:
      // NonFatal covers unpersist/plan-walk errors; a cancellation
      // (InterruptedException is fatal to NonFatal) is absorbed but
      // the thread's interrupt flag is RE-SET so the caller's next
      // blocking point still observes it. VM-fatal errors (OOM,
      // linkage) propagate.
      case e: InterruptedException =>
        Thread.currentThread().interrupt()
        skipped(e)
      case scala.util.control.NonFatal(e) => skipped(e)
    }

  private def skipped(e: Throwable): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass)
      .warn(s"uncut skipped (blocks stay live): ${e.getMessage}")

  /** `df.cut()` / `df.cutLazy()` / `df.uncut()` — the call-site forms
    * the operators use. */
  implicit class Cuttable(private val df: DataFrame) extends AnyVal {
    def cut(): DataFrame = Checkpoints.cut(df)
    def cutLazy(): DataFrame = Checkpoints.cutLazy(df)
    def uncut(): Unit = Checkpoints.uncut(df)
  }
}
