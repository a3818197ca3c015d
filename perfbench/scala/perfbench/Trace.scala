package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.StorageLevel

/** Per-layer counters of one traced pass. Every Spark job is attributed
  * to the repo module (a package under `graft.`) whose code launched it:
  * the first `graft.*` frame of the SQL execution's call site, else of
  * the job's final-stage call site, else the `perfbench.module` local
  * property the benchmark sets around its own sink calls, else `other`.
  *
  * The listener runs on Spark's listener-bus thread, off the jobs'
  * critical path; the time spent in its callbacks bounds what tracing
  * adds to the pass (`trace.overhead`).
  */
final class Trace extends SparkListener {
  import Trace._

  private final case class Job(module: String, start: Long, barrier: Boolean,
      rdds: Set[Int], persisted: Set[Int]) {
    var end: Long = start
  }

  private val sqlCallSites = mutable.Map.empty[Long, String]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var cachedBytes = 0L
  private var cachedPeak = 0L
  private var stages = 0L
  private var tasks = 0L
  private var failedTasks = 0L
  private var runMs = 0L
  private var cpuNs = 0L
  private var gcMs = 0L
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var spill = 0L
  private var peakExecMem = 0L
  private var busyNs = 0L

  private def traced(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    busyNs += System.nanoTime() - t0
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => traced {
      sqlCallSites(e.executionId) = e.details
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = traced {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val last = e.stageInfos.maxBy(_.stageId)
    val fromSql = prop("spark.sql.execution.id")
      .flatMap(id => sqlCallSites.get(id.toLong)).flatMap(moduleOf)
    val module = fromSql.orElse(moduleOf(last.details))
      .orElse(prop("perfbench.module")).getOrElse("other")
    val infos = e.stageInfos.flatMap(_.rddInfos)
    jobs(e.jobId) = Job(module, e.time,
      Barriers.contains(last.name.takeWhile(_ != ' ')),
      infos.map(_.id).toSet,
      infos.filter(_.storageLevel != StorageLevel.NONE).map(_.id).toSet)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = traced {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    traced { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = traced {
    tasks += 1
    if (e.reason != Success) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = traced {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += now - blockBytes.getOrElse(id, 0L)
      blockBytes(id) = now
      cachedPeak = math.max(cachedPeak, cachedBytes)
    }
  }

  /** Counters over everything seen so far; `runS` is the pass's wall time. */
  def summary(runS: Double, cores: Int): Map[String, Double] = synchronized {
    val js = jobs.values.toSeq
    def secs(j: Job) = (j.end - j.start) / 1000.0
    val seen = mutable.Set.empty[Int]
    val pins = js.map { j =>
      val fresh = j.persisted -- seen
      seen ++= j.rdds
      (j, fresh)
    }.filter(_._2.nonEmpty)
    val pinned = pins.flatMap(_._2)
    val readers = pinned.map { r =>
      js.count(j => j.rdds.contains(r) && !pins.exists(p => (p._1 eq j) && p._2(r)))
    }
    val jobS = unionSeconds(js.map(j => (j.start, j.end)))
    val mb = 1024.0 * 1024.0
    val perModule = Modules.flatMap { m =>
      val mine = js.filter(_.module == m)
      Seq(s"$m.jobs" -> mine.size.toDouble, s"$m.job_s" -> mine.map(secs).sum)
    }
    val otherShare = if (js.isEmpty) 0.0 else js.count(_.module == "other").toDouble / js.size
    val allJobS = js.map(secs).sum
    val otherSShare = if (allJobS == 0) 0.0
      else js.filter(_.module == "other").map(secs).sum / allJobS
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.failed_tasks" -> failedTasks.toDouble,
      "spark.job_s" -> jobS,
      "spark.driver_gap_s" -> math.max(0.0, runS - jobS),
      "spark.exec_run_s" -> runMs / 1000.0,
      "spark.exec_cpu_s" -> cpuNs / 1e9,
      "spark.core_busy" -> runMs / 1000.0 / (cores * runS),
      "spark.gc_s" -> gcMs / 1000.0,
      "spark.shuffle_write_mb" -> shuffleWrite / mb,
      "spark.shuffle_read_mb" -> shuffleRead / mb,
      "spark.spill_mb" -> spill / mb,
      "spark.peak_exec_mem_mb" -> peakExecMem / mb,
      "pin.jobs" -> pins.size.toDouble,
      "pin.job_s" -> pins.map(p => secs(p._1)).sum,
      "pin.mb" -> cachedPeak / mb,
      "pin.single_use" -> readers.count(_ <= 1).toDouble,
      "barrier.jobs" -> js.count(_.barrier).toDouble,
      "trace.overhead" -> (runS + busyNs / 1e9) / runS,
      "trace.other_job_share" -> otherShare,
      "trace.other_job_s_share" -> otherSShare,
    ) ++ perModule
  }
}

object Trace {
  /** The `graft.*` packages a job can be attributed to; anything else,
    * top-level `graft.*` objects included, counts as `other`.
    */
  val Modules: Seq[String] = Seq("pipeline", "grid", "clean", "schema", "io",
    "ext", "queries", "streaming", "other")

  /** Final-stage call-site names of actions that return rows or counts to
    * the driver (one round-trip each).
    */
  private val Barriers = Set("count", "collect", "collectAsList", "head",
    "first", "take", "takeAsList", "isEmpty", "reduce", "toLocalIterator",
    "countByKey", "countByValue", "fold", "aggregate", "treeAggregate",
    "treeReduce", "max", "min", "sum", "lookup")

  def moduleOf(callSite: String): Option[String] =
    Option(callSite).toSeq.flatMap(_.linesIterator).map(_.trim)
      .find(_.startsWith("graft.")).map { frame =>
        val pkg = frame.split('.')(1)
        if (Modules.contains(pkg)) pkg else "other"
      }

  /** Seconds covered by the union of [start, end] millisecond intervals. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }
}
