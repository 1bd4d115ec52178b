package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for registered queries — the plan
  * evidence files the optimization rounds commit under plans/<round>/.
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=8 sbt 'runMain graft.tools.PlanDump <outDir> <suffix> [q1,q2,...]'
  *
  * Writes <outDir>/<query>_<suffix>.txt per selected query (all
  * registered queries when the list is omitted). Plans are captured
  * BEFORE execution (AdaptiveSparkPlan isFinalPlan=false) — the static
  * shape: Exchange count, join strategy, PushedFilters/ReadSchema.
  * Queries whose construction runs eager jobs (dfCap cuts, iterative
  * fits, collects to the driver) execute those jobs as a side effect of
  * building the frame. The dump starts with the final consumer plan the
  * query registers, then appends every plan construction executed, in
  * the order they finished ([[ExecutedPlans]]): `== Executed k/n: <action> ==`
  * sections, each the post-execution formatted plan.
  *
  * SPARK_GRAFT_PLAN_EXEC=1 (r18, closing the r17 verdict's ask #5):
  * EXECUTE each selected query first — the registered frame's own
  * physical plan, run to completion via `queryExecution.toRdd.count()`
  * (every operator runs; only the noop sink is absent) — and dump the
  * POST-EXECUTION formatted plan instead. With AQE on this is the
  * final re-optimized plan (`AdaptiveSparkPlan isFinalPlan=true`),
  * the only artifact that can show AQE's runtime join-strategy
  * rewrites (the W9 `maxShuffledHashJoinLocalMapThreshold` SMJ→SHJ
  * conversions), which a pre-execution dump structurally cannot.
  * Run these dumps with SPARK_GRAFT_CPUS=32 so shuffle.partitions and
  * AQE coalescing match the benched session's.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PlanDump <outDir> <suffix> [q1,q2,...] [sfDir]")
    val outDir = args(0)
    val suffix = args(1)
    val names: Seq[String] =
      if (args.length >= 3 && args(2).nonEmpty)
        args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val sfDir =
      if (args.length >= 4) args(3)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Mirror Bench's join-strategy confs (r17 W9) so the dumped
      // static plans show the strategy the benched session actually
      // plans with — without these a dump would still print the
      // sort-merge shapes the session no longer runs.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val exec = sys.env.get("SPARK_GRAFT_PLAN_EXEC")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    names.foreach { n =>
      val (df, built) = ExecutedPlans.capture(spark) {
        graft.SparkEntry.queries(n)(spark, sfDir)
      }
      val qe = df.queryExecution
      if (exec) {
        // Execute THIS QueryExecution (not a separate count/write
        // plan) so its AdaptiveSparkPlanExec finalizes in place and
        // the explain below prints the runtime plan. toRdd runs the
        // physical plan as-is — no column pruning, no re-planning
        // (the Checkpoints.rddCount rationale).
        spark.sparkContext.setJobDescription(s"plandump-exec: $n")
        qe.toRdd.count()
        spark.sparkContext.setJobDescription(null)
      }
      def formatted(q: org.apache.spark.sql.execution.QueryExecution) =
        q.explainString(org.apache.spark.sql.execution.FormattedMode)
      val plan = (formatted(qe) +: built.zipWithIndex.map { case ((action, q), i) =>
        s"== Executed ${i + 1}/${built.size}: $action ==\n${formatted(q)}"
      }).mkString("\n")
      val p = java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt")
      java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $p (${plan.length} chars)")
    }
    spark.stop()
  }
}
