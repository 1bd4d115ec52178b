package graft.tools

import org.apache.spark.sql.SparkSession

/** Measures the LIVE CHECKPOINT-STORAGE FOOTPRINT of a registered
  * query — the quantity the round-11 uncut fix changes, measured
  * directly instead of inferred from cpu under synthetic pressure:
  * a sampler thread polls `sc.getRDDStorageInfo` while the query
  * runs and records the peak of (persisted RDD count, total memory
  * bytes, total disk bytes). Before the fix, iterative operators
  * accumulated every superseded round's localCheckpoint blocks —
  * peak blocks ≈ rounds × |frame| (the round-10 graded artifact's
  * co-tenant cpu amplification rode exactly that dead storage);
  * after, the loops free superseded rounds and the peak stays at
  * the few frames actually live.
  *
  * Usage (from sbt):
  *   runMain graft.tools.StoragePeak d16_components_incremental
  * The argument is a registered query name, or `chain:<n>` — a
  * synthetic n-node path graph through connectedComponents, its
  * longest-diameter input (ids in path order; the label-class rounds
  * contract it, 11 rounds at n = 300 and 14 at n = 3000), where a
  * superseded-block leak would accumulate rounds × |labels|.
  * Prints one JSON line: {"query":…,"peak_rdds":…,
  * "peak_mem_bytes":…,"peak_disk_bytes":…,"end_rdds":…,
  * "end_mem_bytes":…,"wall_sec":…}.
  */
object StoragePeak {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("d16_components_incremental")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      if (name.startsWith("chain:")) {
        val n = name.stripPrefix("chain:").toInt
        (s, _) => {
          import org.apache.spark.sql.functions._
          val pairs = s.range(1, n.toLong)
            .select(col("id").as("id_a"), (col("id") - 1).as("id_b"))
          graft.operators.Graph.connectedComponents(pairs)
        }
      } else graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
    val sc = spark.sparkContext
    @volatile var stop = false
    @volatile var peakRdds = 0
    @volatile var peakMem = 0L
    @volatile var peakDisk = 0L
    val sampler = new Thread(() => {
      while (!stop) {
        val infos = sc.getRDDStorageInfo
        val n = infos.length
        val mem = infos.map(_.memSize).sum
        val disk = infos.map(_.diskSize).sum
        if (n > peakRdds) peakRdds = n
        if (mem > peakMem) peakMem = mem
        if (disk > peakDisk) peakDisk = disk
        Thread.sleep(25)
      }
    })
    sampler.setDaemon(true)
    val t0 = System.nanoTime()
    sampler.start()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    stop = true
    sampler.join(2000)
    val wall = (System.nanoTime() - t0) / 1e9
    // End state: what stays pinned after the query completes — the
    // debris later queries in a long-lived session inherit. Settle
    // briefly so async unpersists finish counting.
    Thread.sleep(500)
    val endInfos = sc.getRDDStorageInfo
    // Locale.ROOT: a comma-decimal default locale would print invalid
    // JSON (the Bench.s3 rule).
    val wallStr = String.format(java.util.Locale.ROOT, "%.3f", Double.box(wall))
    println(s"""{"query":"$name","peak_rdds":$peakRdds,""" +
      s""""peak_mem_bytes":$peakMem,"peak_disk_bytes":$peakDisk,""" +
      s""""end_rdds":${endInfos.length},""" +
      s""""end_mem_bytes":${endInfos.map(_.memSize).sum},""" +
      s""""wall_sec":$wallStr}""")
    spark.stop()
  }
}
