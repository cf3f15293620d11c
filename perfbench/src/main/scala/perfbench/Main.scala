package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1>`, run from the root of a checkout. Prints one JSON
  * object as the last line of standard output: the end-to-end metrics
  * for an untraced run, the per-layer metrics for a traced one. Exits
  * with 3 when an output check failed.
  */
object Main {

  /** The end-to-end metric names, in output order. */
  val EndToEnd: Seq[String] = Seq("setup_s", "latency_p50_s", "latency_p90_s",
    "ops_per_s", "docs_per_s", "live_heap_mb")

  final case class Outcome(metrics: Seq[Metric], attempted: Int, failed: Int,
                           correct: Boolean)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val traced = opts.getOrElse("--trace", "0") == "1"
    require(Set("interactive", "curation", "index_serving")(workload),
      s"unknown workload $workload")

    val cores = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(".bench_build", "warehouse")
        .toAbsolutePath.toString)
    if (traced) builder.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val work = Paths.get(".bench_build", "work", s"$workload-$seed-${ProcessHandle.current.pid}")
      .toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work)
    val probe = if (traced) Some(new Probe(spark)) else None
    val ctx = Ctx(spark, seed, seconds, probe, work, cores)
    val out =
      try workload match {
        case "interactive" => Interactive.run(ctx, sessionS)
        case "curation" => Curation.run(ctx, sessionS)
        case "index_serving" => IndexServing.run(ctx, sessionS)
      } finally deleteTree(work)
    System.err.println(f"[perfbench] JVM wall ${(System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")
    probe.foreach(_.writeSpans(Paths.get(".bench_build", "spans",
      s"$workload-seed$seed.jsonl")))
    spark.stop()

    val names = if (traced) Layers.names else EndToEnd
    val byName = out.metrics.groupBy(_.name).map { case (n, ms) => n -> ms.head }
    names.map(byName).foreach(m => System.err.println(
      f"[perfbench] ${m.name}%-34s ${m.value}%.6f ${m.unit}"))
    val body = names.map { n =>
      val m = byName(n)
      s""""$n":{"value":${jsonNum(m.value)},"unit":"${m.unit}"}"""
    }.mkString(",")
    println(s"""{"correct":${out.correct},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":{$body}}""")
    System.out.flush()
    if (!out.correct) sys.exit(3)
  }

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString

  /** Median of `reps` timed calls of `body`. */
  def medianTime(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }
}

/** Per-layer metric names. Every traced run reports all of them; a
  * layer a workload does not exercise reads 0 there.
  */
object Layers {
  val common: Seq[String] = Seq("api.build_s", "api.plan_s", "api.plan_share",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.empty_tasks",
    "spark.driver_gap_s", "spark.job_s", "spark.codegen_compiles",
    "spark.codegen_compile_s", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.cpu_busy_ratio", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
    "spark.spill_mb", "spark.gc_s", "spark.cached_blocks_after_op",
    "spark.storage_mb_after_op", "store.fs_list_ops", "store.fs_status_ops",
    "store.fs_open_ops", "store.fs_create_ops", "store.bytes_read_mb",
    "store.bytes_written_mb", "error_rate", "trace.overhead_share")

  val index: Seq[(String, String)] = Seq("store.segments" -> "count",
    "store.tombstone_batches" -> "count", "store.files" -> "count",
    "store.write_amplification" -> "ratio", "store.build_s" -> "s",
    "store.search_fs_ops" -> "count", "store.write_fs_ops" -> "count",
    "index.search_p50_s" -> "s", "index.search_p90_s" -> "s",
    "index.write_p50_s" -> "s", "index.compact_s" -> "s",
    "index.bytes_per_input_byte" -> "ratio", "index.checked_searches" -> "count",
    "index.scan_mismatches" -> "count")

  val kernels: Seq[String] = Seq("minhash", "shingles", "simhash", "repetition",
    "match", "phrase_freq", "unicode_normalize", "cosine")

  val curation: Seq[(String, String)] = Seq("curation.quality_s" -> "s",
    "curation.repetition_s" -> "s", "curation.dedup_s" -> "s",
    "curation.perplexity_s" -> "s", "curation.rows_in" -> "count",
    "curation.quality_rows_out" -> "count",
    "curation.repetition_rows_out" -> "count",
    "curation.dedup_rows_out" -> "count",
    "curation.perplexity_rows_out" -> "count",
    "curation.lsh_candidate_pairs" -> "count",
    "curation.lsh_verified_ratio" -> "ratio") ++
    kernels.map(k => s"kernel.$k.rows_per_s" -> "rows/s")

  val names: Seq[String] = common ++ index.map(_._1) ++ curation.map(_._1)

  /** Zeros for the layers the workload at hand does not reach; a
    * workload's own figures come first and win.
    */
  def zeroFill: Seq[Metric] =
    (index ++ curation).map { case (n, u) => Metric(n, 0.0, u) }
}
