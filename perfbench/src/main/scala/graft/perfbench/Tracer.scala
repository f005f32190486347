package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the engine, plus a listener
  * that attributes Spark's work to them. Each span sets its own job group;
  * jobs (and so their stages and tasks) are charged to the span whose group
  * they carry. Spans live in memory until [[json]] writes them out.
  */
final class Tracer(sc: SparkContext) extends SparkListener {

  final class Span(val id: Int, val parent: Int, val trace: String, val name: String) {
    var startNs, endNs, startMs, endMs = 0L
    var jobs, stages, tasks = 0
    var taskMs, inputBytes, inputRecords, shuffleWriteBytes, spillBytes,
      outputBytes, outputRecords, cachePeakBytes, ntBytesRead = 0L
    val taskTimes = mutable.ArrayBuffer.empty[Long]
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    def wallS: Double = (endNs - startNs) / 1e9
    def taskS: Double = taskMs / 1e3

    /** Wall time outside every job of this span. */
    def driverS: Double = {
      val clipped = jobIntervals.synchronized(jobIntervals.toVector)
        .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered, curS, curE = 0L
      var open = false
      clipped.foreach { case (s, e) =>
        if (open && s <= curE) curE = math.max(curE, e)
        else { if (open) covered += curE - curS; curS = s; curE = e; open = true }
      }
      if (open) covered += curE - curS
      math.max(0.0, wallS - covered / 1e3)
    }

    /** Slowest task over the median task. */
    def taskSkew: Double = {
      val t = taskTimes.synchronized(taskTimes.sorted)
      if (t.isEmpty) 0.0 else t.last.toDouble / math.max(1L, t(t.size / 2))
    }
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  // open spans, innermost first; read by the listener thread
  @volatile private var stack: List[Span] = Nil
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val byJob = new ConcurrentHashMap[Int, Span]()
  private val byStage = new ConcurrentHashMap[Int, Span]()
  private val cached = mutable.HashMap.empty[String, Long]
  private var cachedTotal = 0L
  private val GroupPrefix = "perfbench-span-"

  /** Runs `body` inside a span named `name`. */
  def span[A](trace: String, name: String)(body: => A): (A, Span) = {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), trace, name)
    spans += s
    BenchBus.drain(sc)
    byGroup.put(GroupPrefix + s.id, s)
    stack = s :: stack
    sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
    val nt0 = CountingLocalFs.ntBytesRead.get()
    s.startMs = System.currentTimeMillis(); s.startNs = System.nanoTime()
    try (body, s)
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      s.ntBytesRead = CountingLocalFs.ntBytesRead.get() - nt0
      BenchBus.drain(sc)
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(byGroup.get(g))).foreach { s =>
        byJob.put(e.jobId, s)
        e.stageIds.foreach(byStage.put(_, s))
        s.synchronized(s.jobs += 1)
        s.jobIntervals.synchronized(s.jobIntervals += ((e.time, Long.MaxValue)))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.get(e.jobId)).foreach { s =>
      s.jobIntervals.synchronized {
        val i = s.jobIntervals.lastIndexWhere(_._2 == Long.MaxValue)
        if (i >= 0) s.jobIntervals(i) = (s.jobIntervals(i)._1, e.time)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(byStage.get(e.stageInfo.stageId)).foreach(s => s.synchronized(s.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(byStage.get(e.stageId)).foreach { s =>
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.taskMs += m.executorRunTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRecords += m.inputMetrics.recordsRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.outputBytes += m.outputMetrics.bytesWritten
          s.outputRecords += m.outputMetrics.recordsWritten
        }
      }
      if (m != null) s.taskTimes.synchronized(s.taskTimes += m.executorRunTime)
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedTotal += bytes - cached.getOrElse(info.blockId.name, 0L)
      if (bytes == 0L) cached.remove(info.blockId.name) else cached(info.blockId.name) = bytes
      stack.foreach(s => s.cachePeakBytes = math.max(s.cachePeakBytes, cachedTotal))
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** All spans as one JSON document. */
  def json: String = spans.map { s =>
    f"""{"trace":"${s.trace}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      f""""start_ns":${s.startNs},"end_ns":${s.endNs},"wall_s":${s.wallS}%.6f,"driver_s":${s.driverS}%.6f,""" +
      f""""jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},"task_s":${s.taskS}%.3f,""" +
      f""""input_bytes":${s.inputBytes},"nt_bytes_read":${s.ntBytesRead},"input_records":${s.inputRecords},""" +
      f""""shuffle_write_bytes":${s.shuffleWriteBytes},"spill_bytes":${s.spillBytes},""" +
      f""""output_bytes":${s.outputBytes},"output_records":${s.outputRecords},"cache_peak_bytes":${s.cachePeakBytes}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
