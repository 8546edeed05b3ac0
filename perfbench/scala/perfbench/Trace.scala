package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `parent` is the span
  * open when this one started (-1 at the root); `iter` is the iteration
  * the span belongs to (-1 outside iterations); all spans of a run share
  * the tracer's `runId`.
  */
final case class Span(id: Int, parent: Int, name: String, iter: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` is a plain call: untraced
  * iterations pay nothing. Spans are written out once, when the run ends.
  */
final class Tracer(val runId: String) {
  var enabled = false
  var iter = -1
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s0 = System.nanoTime()
      val m0 = System.currentTimeMillis()
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, iter, s0, System.nanoTime(), m0, System.currentTimeMillis())
      }
    }

  def ofIter(i: Int): Seq[Span] = spans.filter(_.iter == i).toSeq

  /** Self time of iteration `i`'s spans called `name`: each span's
    * duration minus the part of it that its direct children cover.
    */
  def seconds(i: Int, name: String): Double = {
    val ss = ofIter(i)
    ss.filter(_.name == name).map { s =>
      val covered = Tracer.unionLength(ss.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)))
      (s.endNs - s.startNs - covered) / 1e9
    }.sum
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""iter":${s.iter},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""dur_s":${s.seconds}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Length covered by the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    for ((a, b) <- iv.sortBy(_._1)) {
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a
        curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Spark scheduler counters for one traced iteration. Events arrive on
  * the listener-bus thread; read only after `Bus.drain`.
  */
final class SparkCounters extends SparkListener {
  private var jobs, stages, tasks, runMs, cpuNs, shuffleWrite, shuffleRead,
    spill, resultBytes, peakExecMem, cachedNow, cachedPeak = 0L
  private val cachedBlocks = scala.collection.mutable.Map.empty[String, Long]
  private val openJobs = scala.collection.mutable.Map.empty[Int, Long]
  private val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  /** Called before an iteration; the previous one's cached frames were
    * released, so cached bytes count from zero.
    */
  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; shuffleWrite = 0
    shuffleRead = 0; spill = 0; resultBytes = 0; peakExecMem = 0
    cachedNow = 0; cachedPeak = 0
    cachedBlocks.clear()
    openJobs.clear()
    jobIntervals.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    openJobs(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      resultBytes += m.resultSize
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedNow += size - cachedBlocks.getOrElse(key, 0L)
      if (size > 0) cachedBlocks(key) = size else cachedBlocks.remove(key)
      cachedPeak = math.max(cachedPeak, cachedNow)
    }
  }

  /** Wall milliseconds of [fromMs, toMs) during which no job ran. */
  def idleMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = jobIntervals.toSeq.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }
    (toMs - fromMs) - Tracer.unionLength(clipped)
  }

  def snapshot(wallS: Double, cores: Int): Map[String, Double] = synchronized {
    Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.task_run_s" -> runMs / 1e3,
      "spark.task_cpu_s" -> cpuNs / 1e9,
      "spark.parallel_eff" -> (if (wallS > 0) runMs / 1e3 / (wallS * cores) else 0.0),
      "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.result_bytes" -> resultBytes.toDouble,
      "spark.peak_exec_mem_bytes" -> peakExecMem.toDouble,
      "spark.cached_bytes_peak" -> cachedPeak.toDouble)
  }
}

/** Catalyst phase times of every query that completed an action. */
final class CatalystPhases extends QueryExecutionListener {
  private var analysisMs, optimizationMs, planningMs = 0L

  def reset(): Unit = synchronized { analysisMs = 0; optimizationMs = 0; planningMs = 0 }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val p = qe.tracker.phases
      analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
      optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
      planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot: Map[String, Double] = synchronized {
    Map(
      "catalyst.analysis_s" -> analysisMs / 1e3,
      "catalyst.optimization_s" -> optimizationMs / 1e3,
      "catalyst.planning_s" -> planningMs / 1e3)
  }
}

/** Codegen and JVM counters, read as differences across an iteration. */
object JvmCounters {
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  import org.apache.spark.metrics.source.CodegenMetrics

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  final case class Mark(compileNs: Long, classes: Long, jitMs: Long, gcMs: Long)

  private def read(): Mark =
    Mark(CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)

  def mark(): Mark = {
    heapPools.foreach(_.resetPeakUsage())
    read()
  }

  def since(m: Mark): Map[String, Double] = {
    val now = read()
    Map(
      "codegen.compile_s" -> (now.compileNs - m.compileNs) / 1e9,
      "codegen.classes" -> (now.classes - m.classes).toDouble,
      "jvm.jit_s" -> (now.jitMs - m.jitMs) / 1e3,
      "jvm.gc_s" -> (now.gcMs - m.gcMs) / 1e3,
      "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
}

/** Sink wrapper handed to the export as its `Writer`: times the calls
  * into the file, counts them, and counts the dump's tuples and CREATE
  * statements for the output check. `dropFirstTuple` corrupts the
  * output on purpose (self-test of the check).
  */
final class TimingWriter(file: java.io.File, dropFirstTuple: Boolean) extends java.io.Writer {
  private val bytes = new CountingStream(new java.io.FileOutputStream(file))
  private val out = new java.io.OutputStreamWriter(bytes, java.nio.charset.StandardCharsets.UTF_8)
  var ioNs = 0L
  var writes = 0L
  var tuples = 0L
  var creates = 0L
  private var prev = ' '
  private var skipping = false
  private var dropped = false
  private val createTag = "CREATE TABLE"
  private var tagPos = 0

  def bytesWritten: Long = bytes.count

  override def write(cbuf: Array[Char], off: Int, len: Int): Unit = {
    val end = off + len
    var from = off
    var i = off
    while (i < end) {
      val c = cbuf(i)
      if (skipping) {
        // drop the tuple text through its line break
        if (c == '\n') skipping = false
        from = i + 1
      } else {
        if (c == '(' && prev == '\n') {
          if (dropFirstTuple && !dropped) {
            if (i > from) timed(out.write(cbuf, from, i - from))
            skipping = true
            dropped = true
            from = i + 1
          } else tuples += 1
        }
        if (!skipping) {
          if (c == createTag.charAt(tagPos)) {
            tagPos += 1
            if (tagPos == createTag.length) { creates += 1; tagPos = 0 }
          } else tagPos = if (c == createTag.charAt(0)) 1 else 0
          prev = c
        }
      }
      i += 1
    }
    if (end > from) timed(out.write(cbuf, from, end - from))
  }

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    ioNs += System.nanoTime() - t0
    writes += 1
  }

  override def flush(): Unit = timed(out.flush())
  override def close(): Unit = timed(out.close())
}

final class CountingStream(underlying: java.io.OutputStream) extends java.io.FilterOutputStream(underlying) {
  var count = 0L
  override def write(b: Int): Unit = { underlying.write(b); count += 1 }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    underlying.write(b, off, len)
    count += len
  }
}
