package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM: set-up, one untimed warm-up pass, then
  * timed passes for the given seconds (at least one).
  * Prints one `GRAFTBENCH {json}` line with every raw measurement;
  * `run.py` turns it into metrics and checks the saved outputs.
  *
  *   graftbench.Main <workload> <inputDir> <runDir> <seconds> <trace 0|1> <slots>
  *   graftbench.Main fit <corpusDir> <runDir> <slots>   (ingest_cycle's serving store)
  */
object Main {
  final case class Pass(index: Int, wallS: Double, cpuS: Double, gcS: Double,
                        traced: Boolean, error: Option[String],
                        layers: Seq[(String, Double)])

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  private def session(name: String, run: String, slots: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName(s"graftbench-$name")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = args match {
    case Array("fit", corpus, run, slots) =>
      val spark = session("fit", run, slots.toInt)
      try IngestCycle.prepare(spark, corpus) finally spark.stop()
    case Array(name, in, run, seconds, trace, slots) =>
      measure(name, in, run, seconds.toDouble, trace == "1", slots.toInt)
  }

  private def measure(name: String, in: String, run: String, seconds: Double,
                      traced: Boolean, slots: Int): Unit = {
    val spark = session(name, run, slots)
    val sc = spark.sparkContext
    val sessionReadyMs = System.currentTimeMillis()
    val workload = Workload(name, spark, in)
    workload.setup()
    val setupDoneMs = System.currentTimeMillis()

    val tracer = new Trace(slots)
    var next = 0
    val saves = ArrayBuffer.empty[(Int, () => Unit)]
    def runPass(kind: String, withTrace: Boolean): Pass = {
      val i = next
      next += 1
      val out = s"$run/$kind-$i"
      if (withTrace) tracer.reset()
      val gc0 = gcSeconds()
      val cpu0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val result = try Right(workload.pass(i, out)) catch {
        case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}".take(400))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val gc = gcSeconds() - gc0
      val layers = if (withTrace) { org.apache.spark.graftbench.Bus.drain(sc); tracer.snapshot() :+ ("jvm.gc_s" -> gc) }
                   else Nil
      result.foreach(save => if (kind == "timed") saves += (i -> save))
      Pass(i, wall, cpu, gc, withTrace, result.left.toOption, layers)
    }

    val warm = runPass("warm", withTrace = false)

    val firstTimedMs = System.currentTimeMillis()
    val timed = ArrayBuffer.empty[Pass]
    def timedPhase(span: Double, withTrace: Boolean): Unit = {
      val end = System.nanoTime() + (span * 1e9).toLong
      var n = 0
      while (n == 0 || System.nanoTime() < end) {
        timed += runPass("timed", withTrace)
        n += 1
      }
    }
    if (!traced) timedPhase(seconds, withTrace = false)
    else {
      // Untraced, then traced: the difference is the tracing overhead.
      timedPhase(seconds / 2, withTrace = false)
      sc.addSparkListener(tracer)
      SessionListeners.register(spark, tracer)
      timedPhase(seconds / 2, withTrace = true)
      SessionListeners.unregister(spark, tracer)
      sc.removeSparkListener(tracer)
    }
    val endMs = System.currentTimeMillis()

    // Untimed: save what the output checks read.
    val saveErrors = saves.flatMap { case (i, save) =>
      try { save(); None } catch { case NonFatal(e) => Some(i -> e.toString) }
    }.toMap

    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    def str(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => " "; case c => c.toString
      } + "\""
    def passJson(p: Pass): String = {
      val err = p.error.orElse(saveErrors.get(p.index))
      val layers = p.layers.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",")
      s"""{"index":${p.index},"wall_s":${num(p.wallS)},"cpu_s":${num(p.cpuS)},""" +
        s""""gc_s":${num(p.gcS)},"traced":${p.traced},""" +
        s""""error":${err.map(str).getOrElse("null")},"layers":{$layers}}"""
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    println("GRAFTBENCH " +
      s"""{"workload":${str(name)},"jvm_start_ms":$jvmStartMs,""" +
      s""""session_ready_ms":$sessionReadyMs,"setup_done_ms":$setupDoneMs,""" +
      s""""first_timed_ms":$firstTimedMs,"end_ms":$endMs,""" +
      s""""slots":$slots,"heap_max_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
      s""""peak_rss_kb":${peakRssKb()},""" +
      s""""warmup":[${passJson(warm)}],""" +
      s""""timed":[${timed.map(passJson).mkString(",")}]}""")
    spark.stop()
  }
}
