package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Attributes Spark work to graft's modules, from outside the program.
  *
  * Each job belongs to the module of the first graft frame in its long
  * call site, then in the call site of the SQL execution it runs under,
  * skipping `Checkpoints` and `Par` frames; a job with no other graft
  * frame falls back to the module the harness declared for the call
  * (the `graftbench.module` local property). Jobs whose call
  * site passes through `Checkpoints` (cut materialisations) are also
  * counted under `checkpoints`, on top of their own module.
  */
final class Trace(slots: Int) extends SparkListener with QueryExecutionListener {
  import Trace._

  private final class Acc {
    var wallMs = 0L; var cpuNs = 0L; var jobs = 0L; var stages = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
  }

  private val accs = mutable.LinkedHashMap(Modules.map(_ -> new Acc): _*)
  private val jobs = mutable.Map.empty[Int, (Long, Seq[String])]
  private val executionSites = mutable.Map.empty[Long, String]
  private val stageOwners = mutable.Map.empty[Int, Seq[String]]
  private var stallS = 0.0
  private var broadcastBytes = 0L
  private var broadcasts = 0L
  private var broadcastRows = 0L
  private var storedBytes = 0L
  private var planMs = 0L

  def reset(): Unit = synchronized {
    accs.keys.toList.foreach(accs(_) = new Acc)
    stallS = 0.0; broadcastBytes = 0L; broadcasts = 0L; broadcastRows = 0L
    storedBytes = 0L; planMs = 0L
  }

  /** The per-layer metrics accumulated since the last [[reset]]. */
  def snapshot(): Seq[(String, Double)] = synchronized {
    accs.toSeq.flatMap { case (m, a) => Seq(
      s"$m.wall_s" -> a.wallMs / 1e3,
      s"$m.task_cpu_s" -> a.cpuNs / 1e9,
      s"$m.jobs" -> a.jobs.toDouble,
      s"$m.stages" -> a.stages.toDouble,
      s"$m.shuffle_mb" -> a.shuffleBytes / 1e6,
      s"$m.spill_mb" -> a.spillBytes / 1e6)
    } ++ Seq(
      "spark.stall_s" -> stallS,
      "spark.broadcast_mb" -> broadcastBytes / 1e6,
      "spark.broadcasts" -> broadcasts.toDouble,
      "spark.broadcast_rows" -> broadcastRows.toDouble,
      "spark.stored_mb" -> storedBytes / 1e6,
      "driver.plan_s" -> planMs / 1e3)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executionSites(s.executionId) = s.details
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      executionSites.remove(s.executionId)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val site = prop("callSite.long").filter(_.nonEmpty)
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details))
      .getOrElse("")
    // Jobs Spark starts on its own threads (broadcasts, adaptive query
    // stages) carry no graft frame: they take the call site of the SQL
    // execution that started them.
    val executionSite = prop("spark.sql.execution.id")
      .flatMap(id => executionSites.get(id.toLong)).getOrElse("")
    val owners = attribute(site + "\n" + executionSite, prop(ModuleProp))
    jobs(e.jobId) = (e.time, owners)
    e.stageIds.foreach(id => if (!stageOwners.contains(id)) stageOwners(id) = owners)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (start, owners) =>
      owners.foreach { m =>
        val a = accs(m)
        a.wallMs += e.time - start
        a.jobs += 1
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val tm = info.taskMetrics
    val owners = stageOwners.getOrElse(info.stageId, Seq("queries"))
    if (tm != null) {
      owners.foreach { m =>
        val a = accs(m)
        a.cpuNs += tm.executorCpuTime
        a.stages += 1
        a.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
        a.spillBytes += tm.diskBytesSpilled
      }
      val wallS = (for (s <- info.submissionTime; c <- info.completionTime)
        yield (c - s) / 1e3).getOrElse(0.0)
      val par = math.min(math.max(info.numTasks, 1), slots)
      stallS += math.max(0.0, wallS - tm.executorCpuTime / 1e9 / par)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) storedBytes += b.memSize + b.diskSize
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val plan = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val bc = broadcastBuilds(qe.executedPlan)
    synchronized {
      planMs += plan
      broadcasts += bc.size
      broadcastBytes += bc.map(_._1).sum
      broadcastRows += bc.map(_._2).sum
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Trace {
  val ModuleProp = "graftbench.module"

  val Modules: Seq[String] = Seq("sources", "functions", "graph", "dedup",
    "similarity", "relational", "collections", "corpus", "sampling",
    "checkpoints", "sinks", "queries")

  private val operatorModules = Map(
    "Graph" -> "graph", "Dedup" -> "dedup", "Similarity" -> "similarity",
    "Relational" -> "relational", "Collections" -> "collections",
    "Corpus" -> "corpus", "Sampling" -> "sampling",
    "Checkpoints" -> "checkpoints", "Par" -> "par")

  /** graft module of a stack frame's class, if it is a graft frame. */
  def moduleOf(frame: String): Option[String] = {
    val call = frame.trim.takeWhile(_ != '(')
    val cls = call.take(math.max(call.lastIndexOf('.'), 0))
    val parts = cls.split('.')
    if (parts.length < 3 || parts(0) != "graft") None
    else parts(1) match {
      case "sources" => Some("sources")
      case "functions" => Some("functions")
      case "sinks" => Some("sinks")
      case "queries" => Some("queries")
      case "operators" => operatorModules.get(parts(2).takeWhile(_ != '$'))
      case _ => None
    }
  }

  /** The modules a job counts under: its own, plus `checkpoints` when
    * its call site runs through a cut. */
  def attribute(callSite: String, fallback: Option[String]): Seq[String] = {
    val frames = callSite.split('\n').toSeq.flatMap(moduleOf)
    val own = frames.find(m => m != "checkpoints" && m != "par")
      .orElse(fallback.filter(Modules.contains))
      .getOrElse("queries")
    if (frames.contains("checkpoints") && own != "checkpoints") Seq(own, "checkpoints")
    else Seq(own)
  }

  /** (bytes, rows) of every broadcast built by an executed plan, read
    * from the exchanges' `dataSize` and `numOutputRows` metrics (final
    * adaptive plans included). `dataSize` is the built relation's
    * allocated size, which has a floor however few rows it holds. */
  def broadcastBuilds(root: SparkPlan): Seq[(Long, Long)] = {
    val builds = mutable.ArrayBuffer.empty[(Long, Long)]
    def metric(b: BroadcastExchangeExec, k: String) = b.metrics.get(k).map(_.value).getOrElse(0L)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case b: BroadcastExchangeExec =>
        builds += (metric(b, "dataSize") -> metric(b, "numOutputRows"))
        walk(b.child)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(root)
    builds.toSeq
  }
}
