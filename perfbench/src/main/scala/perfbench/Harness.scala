package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

final case class Metric(name: String, value: Double, unit: String)

/** One timed request of the closed loop. `docs` is the number of input
  * documents or rows the request covers; `traced` marks the requests
  * of a traced run that ran with the probes on.
  */
final case class Req(kind: String, sec: Double, docs: Long, ok: Boolean,
                     traced: Boolean)

/** What every workload shares: the session, the seed, the run length,
  * the probe of a traced run, and a scratch directory in the checkout.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     probe: Option[Probe], work: java.nio.file.Path,
                     cores: Int) {
  def traced: Boolean = probe.isDefined
  def path(name: String): String = work.resolve(name).toAbsolutePath.toString
}

/** The closed loop's bookkeeping: one client, one request at a time.
  * Timed regions hold only the request; probe snapshots, leak probes
  * and output checks run between requests.
  */
final class Harness(ctx: Ctx) {
  val reqs = mutable.ArrayBuffer[Req]()
  private var layer: Option[Counters] = None
  private var jobS, gapS, buildS, planS = 0.0
  private val blocksAfterOp = mutable.ArrayBuffer[Double]()
  private val storageAfterOp = mutable.ArrayBuffer[Double]()
  private var heapMb = 0.0
  private var checks = 0
  var checkFailures = 0
  private var pendingBuild, pendingPlan = 0.0
  /** Probe counters of the last request, when it was traced. */
  var lastDelta: Option[Counters] = None

  private val created = System.nanoTime()
  def timedSeconds: Double = reqs.iterator.map(_.sec).sum
  def timeLeft: Boolean = timedSeconds < ctx.seconds

  /** Times one request. `traceThis` turns the probes on for it. A
    * request that throws is recorded as failed and the loop goes on.
    */
  def request[T](kind: String, docs: Long, traceThis: Boolean = false)(
      body: Option[Probe] => T): Option[T] = {
    val p = if (traceThis) ctx.probe else None
    ctx.probe.foreach { pr => pr.drain(); pr.listener.on = traceThis }
    val before = p.map(_.counters())
    p.foreach(_.listener.takeJobSpans())
    pendingBuild = 0.0; pendingPlan = 0.0
    p.foreach(_.begin(kind))
    val t0 = System.nanoTime()
    val out =
      try Some(body(p))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $kind failed: " +
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          None
      }
    val t1 = System.nanoTime()
    val sec = (t1 - t0) / 1e9
    p.foreach(_.end(t0, t1))
    lastDelta = None
    p.foreach { pr =>
      val d = pr.counters() - before.get
      lastDelta = Some(d)
      layer = Some(layer.fold(d)(acc => Counters(
        acc.jobs + d.jobs, acc.stages + d.stages, acc.tasks + d.tasks,
        acc.emptyTasks + d.emptyTasks, acc.runMs + d.runMs,
        acc.cpuNs + d.cpuNs, acc.gcMs + d.gcMs,
        acc.shuffleReadB + d.shuffleReadB, acc.shuffleWriteB + d.shuffleWriteB,
        acc.spillB + d.spillB, acc.codegenCompiles + d.codegenCompiles,
        acc.codegenNs + d.codegenNs, acc.fsList + d.fsList,
        acc.fsStatus + d.fsStatus, acc.fsOpen + d.fsOpen,
        acc.fsCreate + d.fsCreate, acc.fsReadB + d.fsReadB,
        acc.fsWriteB + d.fsWriteB)))
      val js = Probe.unionSeconds(pr.listener.takeJobSpans())
      jobS += js
      gapS += math.max(0.0, sec - js)
      buildS += pendingBuild
      planS += pendingPlan
    }
    ctx.probe.foreach { pr =>
      val (blocks, mb) = pr.cached()
      blocksAfterOp += blocks.toDouble
      storageAfterOp += mb
    }
    reqs += Req(kind, sec, docs, out.isDefined, traceThis)
    out
  }

  private val pairRatios = mutable.ArrayBuffer[Double]()

  /** A request that leaves no state behind. A traced run makes it twice,
    * with the probes on and off in alternating order, and keeps the
    * ratio of the two latencies for the trace overhead; an untraced
    * run makes it once. Returns the untraced result.
    */
  def paired[T](kind: String, docs: Long)(body: Option[Probe] => T): Option[T] =
    if (!ctx.traced) request(kind, docs)(body)
    else {
      val tracedFirst = pairRatios.size % 2 == 1
      val runs = Seq(tracedFirst, !tracedFirst).map { tr =>
        tr -> (request(kind, docs, tr)(body), reqs.last.sec)
      }.toMap
      if (runs.values.forall(_._1.isDefined))
        pairRatios += runs(true)._2 / runs(false)._2
      runs(false)._1
    }

  /** Builds a frame through a graft call, plans it (traced only, so
    * the planning time is separable), then collects it.
    */
  def collect(p: Option[Probe], name: String)(build: => DataFrame): Array[Row] = {
    val t0 = System.nanoTime()
    val df = Probe.span(p, name)(build)
    val t1 = System.nanoTime()
    if (p.isDefined) df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val rows = df.collect()
    pendingBuild += (t1 - t0) / 1e9
    pendingPlan += (t2 - t1) / 1e9
    rows
  }

  /** A value computed by a graft call that runs its own jobs. */
  def value[T](p: Option[Probe], name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val v = Probe.span(p, name)(body)
    pendingBuild += (System.nanoTime() - t0) / 1e9
    v
  }

  /** Counts an output check; a check that throws is a failed check. */
  def check(what: String)(ok: => Boolean): Boolean = {
    checks += 1
    val passed =
      try ok
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] check $what threw: $e"); false
      }
    if (!passed) {
      checkFailures += 1
      System.err.println(s"[perfbench] check failed: $what")
    }
    passed
  }

  /** Post-GC heap in use now; the run reports the largest sample. The
    * second collection runs after Spark's cleaner has dropped the
    * broadcasts and shuffles the first one released.
    */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6
    heapMb = math.max(heapMb, used)
  }

  /** Median latency per request kind, and the loop's wall time against
    * its timed seconds, to standard error.
    */
  def logKinds(): Unit = {
    System.err.println(f"[perfbench] loop wall ${(System.nanoTime() - created) / 1e9}%.1f s, " +
      f"timed $timedSeconds%.1f s, ${reqs.size} requests, $checks output checks, " +
      s"$checkFailures failed")
    reqs.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, rs) =>
      System.err.println(f"[perfbench] request $k%-24s n=${rs.size}%3d " +
        f"median=${Stats.median(rs.map(_.sec).toSeq)}%.3f s")
    }
  }

  def attempted: Int = reqs.size
  def failed: Int = reqs.count(!_.ok)

  private def secsOf(kind: String => Boolean, untracedOnly: Boolean): Seq[Double] =
    reqs.iterator.filter(r => kind(r.kind) && (!untracedOnly || !r.traced))
      .map(_.sec).toSeq

  def quantile(kind: String => Boolean, q: Double,
               untracedOnly: Boolean = true): Double =
    Stats.quantile(secsOf(kind, untracedOnly), q)

  /** End-to-end metrics shared by every workload. */
  def endToEnd(setupS: Double): Seq[Metric] = {
    val clean = reqs.filterNot(_.traced)
    val sec = clean.iterator.map(_.sec).sum
    Seq(
      Metric("setup_s", setupS, "s"),
      Metric("latency_p50_s", quantile(_ => true, 0.5), "s"),
      Metric("latency_p90_s", quantile(_ => true, 0.9), "s"),
      Metric("ops_per_s", clean.size / sec, "1/s"),
      Metric("docs_per_s", clean.iterator.map(_.docs).sum / sec, "docs/s"),
      Metric("live_heap_mb", heapMb, "MB"))
  }

  /** Per-layer metrics from the traced requests, as means per traced
    * request, plus the trace overhead: the geometric mean over paired
    * requests of traced over untraced latency, minus one. Pairs
    * alternate which side runs first, so a second run's warm caches
    * cancel out.
    */
  def layers(): Seq[Metric] = {
    val n = math.max(1, reqs.count(_.traced)).toDouble
    val wall = reqs.iterator.filter(_.traced).map(_.sec).sum
    val c = layer.getOrElse(Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
      0, 0, 0, 0, 0))
    Seq(
      Metric("api.build_s", buildS / n, "s"),
      Metric("api.plan_s", planS / n, "s"),
      Metric("api.plan_share", if (wall > 0) planS / wall else 0.0, "ratio"),
      Metric("spark.jobs", c.jobs / n, "count"),
      Metric("spark.stages", c.stages / n, "count"),
      Metric("spark.tasks", c.tasks / n, "count"),
      Metric("spark.empty_tasks", c.emptyTasks / n, "count"),
      Metric("spark.driver_gap_s", gapS / n, "s"),
      Metric("spark.job_s", jobS / n, "s"),
      Metric("spark.codegen_compiles", c.codegenCompiles / n, "count"),
      Metric("spark.codegen_compile_s", c.codegenNs / 1e9 / n, "s"),
      Metric("spark.executor_run_s", c.runMs / 1e3 / n, "s"),
      Metric("spark.executor_cpu_s", c.cpuNs / 1e9 / n, "s"),
      Metric("spark.cpu_busy_ratio",
        if (wall > 0) c.cpuNs / 1e9 / (wall * ctx.cores) else 0.0, "ratio"),
      Metric("spark.shuffle_read_mb", c.shuffleReadB / 1e6 / n, "MB"),
      Metric("spark.shuffle_write_mb", c.shuffleWriteB / 1e6 / n, "MB"),
      Metric("spark.spill_mb", c.spillB / 1e6 / n, "MB"),
      Metric("spark.gc_s", c.gcMs / 1e3 / n, "s"),
      Metric("spark.cached_blocks_after_op", Stats.mean(blocksAfterOp.toSeq), "count"),
      Metric("spark.storage_mb_after_op", Stats.mean(storageAfterOp.toSeq), "MB"),
      Metric("store.fs_list_ops", c.fsList / n, "count"),
      Metric("store.fs_status_ops", c.fsStatus / n, "count"),
      Metric("store.fs_open_ops", c.fsOpen / n, "count"),
      Metric("store.fs_create_ops", c.fsCreate / n, "count"),
      Metric("store.bytes_read_mb", c.fsReadB / 1e6 / n, "MB"),
      Metric("store.bytes_written_mb", c.fsWriteB / 1e6 / n, "MB"),
      Metric("error_rate", failed.toDouble / math.max(1, attempted), "ratio"),
      Metric("trace.overhead_share",
        if (pairRatios.isEmpty) 0.0
        else math.exp(Stats.mean(pairRatios.map(math.log).toSeq)) - 1.0, "ratio"))
  }
}

object Stats {
  /** Linear-interpolated quantile; 0 for no values. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
