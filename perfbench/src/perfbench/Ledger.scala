package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark listener registered by the benchmark, outside the program.
  *
  * Always on: RDD block accounting (cached and checkpointed blocks the
  * block manager holds), for `peak_pinned_mb`.
  *
  * Traced runs only (`full = true`): every job with its start/end, tasks,
  * task run time, shuffle and spill bytes, and the modules that issued
  * it: the source file of its short call site (e.g. `localCheckpoint at
  * Tables.scala:351`) plus every program source file on its long call
  * site (the result stage's `details`), so a checkpoint that
  * `RuleCorpus` takes through a `Tables` helper counts for both. Time is
  * attributed to program layers without any change to the program.
  */
final class Ledger(val full: Boolean) extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val modules: Set[String]) {
    var endMs: Long = -1L
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  private val FrameFile = """\(([A-Za-z0-9_]+)\.scala:\d+\)""".r
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val blocks = mutable.HashMap.empty[String, Long]
  private val rddModule = mutable.HashMap.empty[Int, String]
  private var pinned = 0L
  private var peak = 0L
  private val peakByModule = mutable.HashMap.empty[String, Long]
  private val pinnedByModule = mutable.HashMap.empty[String, Long]

  /** `"collect at RuleCorpus.scala:123"` → `"RuleCorpus"`. */
  def moduleOf(callSite: String): String =
    Option(callSite).map(_.trim).filter(_.nonEmpty).map { cs =>
      val at = cs.lastIndexOf(" at ")
      val file = (if (at >= 0) cs.substring(at + 4) else cs).takeWhile(_ != ':')
      file.stripSuffix(".scala").stripSuffix(".java")
    }.getOrElse("unknown")

  override def onJobStart(e: SparkListenerJobStart): Unit = if (full) synchronized {
    val result = e.stageInfos.sortBy(_.stageId).lastOption
    val cs = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(result.map(_.name)).orNull
    val stack = FrameFile.findAllMatchIn(result.map(_.details).getOrElse(""))
      .map(_.group(1)).toSet
    val j = new Job(e.jobId, e.time, stack + moduleOf(cs))
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (full) synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (full) synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.rddInfos.foreach(r =>
      rddModule.getOrElseUpdate(r.id, moduleOf(r.callSite)))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { rdd =>
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val key = info.blockManagerId.executorId + "/" + rdd.name
      val prev = blocks.getOrElse(key, 0L)
      if (size == 0L) blocks.remove(key) else blocks(key) = size
      pinned += size - prev
      peak = math.max(peak, pinned)
      val m = rddModule.getOrElse(rdd.rddId, "unknown")
      val now = pinnedByModule.getOrElse(m, 0L) + size - prev
      pinnedByModule(m) = now
      peakByModule(m) = math.max(peakByModule.getOrElse(m, 0L), now)
    }
  }

  def pinnedBytes: Long = synchronized(pinned)

  /** Peak pinned bytes since the last reset; the peak restarts at the
    * bytes pinned now.
    */
  def takePeak(): Long = synchronized {
    val p = peak
    peak = pinned
    p
  }

  /** Per-module peak pinned bytes since the last call. */
  def takeModulePeaks(): Map[String, Long] = synchronized {
    val out = peakByModule.toMap
    peakByModule.clear()
    pinnedByModule.foreach { case (m, b) => peakByModule(m) = b }
    out
  }

  def jobsBetween(startMs: Long, endMs: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.startMs >= startMs && j.startMs <= endMs).toSeq
  }

  def allJobs: Seq[Job] = synchronized(jobs.values.toSeq)
}
