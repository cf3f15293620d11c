package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Local file system that counts the calls the stores make, by kind.
  * Installed as `fs.file.impl` in traced runs only; the counters are
  * JVM-global because Hadoop caches one instance per scheme.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    statuses.incrementAndGet(); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object CountingLocalFileSystem {
  val lists, statuses, opens, creates = new AtomicLong()
}

/** Cumulative counters of one traced process; per-request figures are
  * differences of two snapshots taken with the listener bus drained.
  */
final case class Counters(
    jobs: Long, stages: Long, tasks: Long, emptyTasks: Long,
    runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleReadB: Long, shuffleWriteB: Long, spillB: Long,
    codegenCompiles: Long, codegenNs: Long,
    fsList: Long, fsStatus: Long, fsOpen: Long, fsCreate: Long,
    fsReadB: Long, fsWriteB: Long) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    emptyTasks - o.emptyTasks, runMs - o.runMs, cpuNs - o.cpuNs,
    gcMs - o.gcMs, shuffleReadB - o.shuffleReadB,
    shuffleWriteB - o.shuffleWriteB, spillB - o.spillB,
    codegenCompiles - o.codegenCompiles, codegenNs - o.codegenNs,
    fsList - o.fsList, fsStatus - o.fsStatus, fsOpen - o.fsOpen,
    fsCreate - o.fsCreate, fsReadB - o.fsReadB, fsWriteB - o.fsWriteB)
}

/** Listener the benchmark registers itself: job, stage and task counts
  * and the executor-side task metrics. It counts only while `on`.
  * A task is "empty" when it read no input and no shuffle records.
  */
final class WorkListener extends SparkListener {
  @volatile var on = false
  private var jobs, stages, tasks, emptyTasks = 0L
  private var runMs, cpuNs, gcMs, shuffleReadB, shuffleWriteB, spillB = 0L
  private val started = mutable.Map[Int, Long]()
  private val spans = mutable.ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (on) synchronized { jobs += 1; started(e.jobId) = e.time }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach(s => spans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    val m = e.taskMetrics
    synchronized {
      tasks += 1
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        if (m.inputMetrics.recordsRead == 0 &&
            m.shuffleReadMetrics.recordsRead == 0) emptyTasks += 1
      }
    }
  }

  def snapshot(): (Long, Long, Long, Long, Long, Long, Long, Long, Long,
      Long) = synchronized {
    (jobs, stages, tasks, emptyTasks, runMs, cpuNs, gcMs, shuffleReadB,
      shuffleWriteB, spillB)
  }

  /** Job intervals (ms) that ended since the last call. */
  def takeJobSpans(): Seq[(Long, Long)] = synchronized {
    val out = spans.toList; spans.clear(); out
  }
}

/** The traced run's outside view of each layer: the listener, Hadoop FS
  * statistics, Spark's codegen counters, the block manager's cached
  * blocks, and spans around every graft call. Untraced runs build no
  * Probe; `Probe.span` then only runs its body.
  */
final class Probe(spark: SparkSession) {
  val listener = new WorkListener
  spark.sparkContext.addSparkListener(listener)
  private val spanLog = mutable.ArrayBuffer[String]()
  private val t0 = System.nanoTime()

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def counters(): Counters = {
    drain()
    val (j, s, t, e, run, cpu, gc, sr, sw, sp) = listener.snapshot()
    val fs = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file")
    def fsLong(k: String): Long =
      Option(fs).flatMap(x => Option(x.getLong(k))).map(_.longValue)
        .getOrElse(0L)
    Counters(j, s, t, e, run, cpu, gc, sr, sw, sp,
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .compileTime,
      CountingLocalFileSystem.lists.get, CountingLocalFileSystem.statuses.get,
      CountingLocalFileSystem.opens.get, CountingLocalFileSystem.creates.get,
      fsLong("bytesRead"), fsLong("bytesWritten"))
  }

  /** Cached blocks and storage memory (MB) held right now. */
  def cached(): (Long, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toLong).sum,
      infos.map(i => i.memSize + i.diskSize).sum / 1e6)
  }

  /** Spans of one request share its number; the request's own span is
    * the parent of the graft-call spans recorded inside it.
    */
  private var request = 0
  private var requestSpan = ""

  def begin(kind: String): Unit = { request += 1; requestSpan = s"request:$kind" }

  def end(startNs: Long, endNs: Long): Unit = {
    record(requestSpan, startNs, endNs, parent = "")
  }

  def record(name: String, startNs: Long, endNs: Long): Unit =
    record(name, startNs, endNs, requestSpan)

  private def record(name: String, startNs: Long, endNs: Long,
                     parent: String): Unit =
    spanLog += f"""{"request":$request,"name":"$name","parent":"$parent",""" +
      f""""start_s":${(startNs - t0) / 1e9}%.6f,"dur_s":${(endNs - startNs) / 1e9}%.6f}"""

  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      spanLog.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Probe {
  /** Runs `body`, recording a span named after the graft call when a
    * probe is present.
    */
  def span[T](probe: Option[Probe], name: String)(body: => T): T =
    probe match {
      case None => body
      case Some(p) =>
        val s = System.nanoTime()
        try body finally p.record(name, s, System.nanoTime())
    }

  /** Length of the union of the intervals, in seconds. */
  def unionSeconds(spans: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}
