package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._

/** The segment-store discipline shared by the persistent indexes
  * ([[InvertedIndex]], [[VectorIndex]]): immutable segments committed
  * by a stats-last marker, segment-scoped tombstone batches, an
  * exactly-once ingest ledger, and manifest-healed compaction.
  *
  * Everything here is layout mechanics — what counts as committed,
  * how tombstones apply, how a crashed compaction replays. The
  * indexes own their payloads (postings vs vectors), their scoring,
  * and their stats arithmetic; this module owns the directories, so
  * the two stores cannot drift on the crash-safety contract.
  *
  * Layout under an index root:
  * {{{
  *   segments/<name>/...      payload + stats/ (marker: stats/_SUCCESS)
  *   deletes/batch-<uuid>/    ids/ + stats/ (marker: stats/_SUCCESS;
  *                            the doc holds charges, ids schema, scope)
  *   ingested/batch-<id>      exactly-once ledger markers
  *   compacting               manifest of an in-flight compaction
  * }}}
  */
private[graft] object SegmentStore {

  def fsOf(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed segment dirs (stats marker present), sorted. */
  def committedSegments(spark: SparkSession, indexPath: String): Seq[String] =
    commitsUnder(spark, s"$indexPath/segments").map(_.path)

  /** A committed dir as one listing saw it. `stamp` is the modification
    * time of its commit marker, which every commit creates afresh: a
    * dir rewritten under the same name (an ingestBatch replay) is a
    * new commit generation, not the one a reader opened before.
    */
  final case class Commit(path: String, stamp: Long)

  /** The committed dirs under `root` (stats marker present), sorted by
    * path: one directory listing plus one marker probe per dir, on
    * every call — the commit-marker gate is never cached.
    */
  def commitsUnder(spark: SparkSession, root: String): Seq[Commit] = {
    val fs = fsOf(spark, root)
    val dirs =
      try fs.listStatus(new org.apache.hadoop.fs.Path(root)).filter(_.isDirectory)
      catch {
        case _: java.io.FileNotFoundException =>
          Array.empty[org.apache.hadoop.fs.FileStatus]
      }
    dirs.toSeq.flatMap { d =>
      try Some(Commit(d.getPath.toString, fs.getFileStatus(
        new org.apache.hadoop.fs.Path(d.getPath, "stats/_SUCCESS"))
        .getModificationTime))
      catch { case _: java.io.FileNotFoundException => None }
    }.sortBy(_.path)
  }

  // ---- the searcher snapshot ---------------------------------------
  //
  // Opening a committed dir (its stats doc, its payload relation and
  // that relation's file listing, a tombstone batch's id pairs) is
  // the same work on every read until the dir changes, and a
  // committed dir only changes by leaving the committed set (compact,
  // build) or by a new commit generation under its name. So each
  // SparkSession keeps the dirs it opened, per listed root, keyed by
  // path and commit stamp — Lucene's SearcherManager.openIfChanged.
  // Every call still lists (commitsUnder), reuses the generations it
  // still sees, opens the new ones, and drops the rest. Entries hold
  // plans and driver-side metadata, never cached blocks. Per session
  // because the relations are bound to the session that built them;
  // a session's entries go when its SparkContext stops.

  private final class Generation(val stamp: Long, open: () => AnyRef) {
    lazy val value: AnyRef = open() // at most once, even when raced
  }

  private val snapshots = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    java.util.concurrent.ConcurrentHashMap[String, Generation]]()

  /** Every committed dir under `root`, opened with `open` at most once
    * per commit generation in this session (see the note above).
    * Thread-safe: concurrent callers share one open of a generation.
    */
  def openCommitted[T <: AnyRef](spark: SparkSession, root: String)(
      open: String => T): Seq[T] = {
    snapshots.keySet.removeIf(_._1.sparkContext.isStopped)
    val commits = commitsUnder(spark, root)
    val gens = snapshots.computeIfAbsent((spark, root),
      _ => new java.util.concurrent.ConcurrentHashMap[String, Generation]())
    gens.keySet.retainAll(commits.map(_.path).toSet.asJava)
    commits.map { c =>
      gens.compute(c.path, (_, g) =>
        if (g != null && g.stamp == c.stamp) g
        else new Generation(c.stamp, () => open(c.path))
      ).value.asInstanceOf[T]
    }
  }

  /** Drop marker-less crash leftovers (a segment whose append died
    * before its stats commit, a tombstone batch whose delete died
    * likewise): no reader consumes them, but left alone they
    * accumulate forever on a long-lived index and every committed-dir
    * listing stat-probes them. Safe only under the compaction's
    * offline single-writer contract — nothing is mid-write while this
    * runs.
    */
  def sweepUncommitted(fs: org.apache.hadoop.fs.FileSystem,
                       indexPath: String): Unit =
    Seq("segments", "deletes").foreach { sub =>
      val root = new org.apache.hadoop.fs.Path(s"$indexPath/$sub")
      if (fs.exists(root))
        fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
          .filterNot(p => fs.exists(
            new org.apache.hadoop.fs.Path(p, "stats/_SUCCESS")))
          .foreach(p => fs.delete(p, true))
    }

  // ---- one-row metadata sidecars (r17-opt) ---------------------------
  //
  // Stats tables, tombstone scopes, and quantizer models are a handful
  // of scalars per directory, read back driver-side by every consumer.
  // Writing/reading them as Spark parquet jobs cost a scheduler
  // round-trip PER PROBE — at micro-batch cadence that was most of the
  // index-lifecycle gates' job count, and on a real cluster it is pure
  // overhead too (one row never needs executors). They are now a
  // single JSON document + the same `_SUCCESS` marker, written and
  // read with plain FS calls; the marker file is still created LAST,
  // so every commit-discipline reader (committedUnder, heal, the
  // crash specs) sees exactly the layout it always did.

  /** Write `json` as `dir/doc.json` and then `dir/_SUCCESS` — the
    * marker lands strictly last, like the parquet committer's.
    */
  def writeDocDir(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                  json: org.json4s.JObject): Unit = {
    val d = new org.apache.hadoop.fs.Path(dir)
    fs.delete(d, true)
    fs.mkdirs(d)
    val out = fs.create(new org.apache.hadoop.fs.Path(d, "doc.json"), true)
    try out.write(org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(json))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.create(new org.apache.hadoop.fs.Path(d, "_SUCCESS"), true).close()
  }

  /** The parsed `doc.json` of a [[writeDocDir]] directory, or None when
    * the dir holds none.
    */
  def readDocDir(fs: org.apache.hadoop.fs.FileSystem,
                 dir: String): Option[org.json4s.JValue] = {
    val f = new org.apache.hadoop.fs.Path(s"$dir/doc.json")
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      val bytes = try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = in.read(tmp)
        while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        buf.toByteArray
      } finally in.close()
      Some(org.json4s.jackson.JsonMethods.parse(
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)))
    }
  }

  /** Numeric field of a doc (JSON numbers parse as int or double). */
  def docDouble(doc: org.json4s.JValue, field: String): Double =
    (doc \ field) match {
      case org.json4s.JDouble(v) => v
      case org.json4s.JInt(v) => v.toDouble
      case org.json4s.JLong(v) => v.toDouble
      case org.json4s.JDecimal(v) => v.toDouble
      case other => sys.error(s"stats doc field '$field' is not numeric: $other")
    }

  /** The layout version of the commit docs this build writes and
    * reads: the inverted index's segment stats and every tombstone
    * batch's stats. It rides the doc with the payload schema readers
    * pass to `spark.read.schema` (no inference job).
    */
  val Format = 1

  /** `dir/stats/doc.json` of a commit written at [[Format]] — any
    * other version, or none (a store written before the format field),
    * fails loudly: the reader would misread it.
    */
  def readCommitDoc(spark: SparkSession, dir: String): org.json4s.JValue = {
    val doc = readDocDir(fsOf(spark, dir), s"$dir/stats")
    val format = doc.map(_ \ "format") match {
      case Some(org.json4s.JInt(v)) => Some(v.toInt)
      case _ => None
    }
    if (!format.contains(Format))
      throw new IllegalStateException(s"$dir has store format " +
        s"${format.getOrElse("none")}, this build reads format $Format " +
        "only — rebuild the index from its source documents")
    doc.get
  }

  def docSchema(doc: org.json4s.JValue): org.apache.spark.sql.types.StructType =
    (doc \ "schema") match {
      case org.json4s.JString(s) => org.apache.spark.sql.types.DataType
        .fromJson(s).asInstanceOf[org.apache.spark.sql.types.StructType]
      case other => sys.error(s"commit doc has no payload schema: $other")
    }

  /** One committed tombstone batch as the snapshot opened it: its
    * stats doc (the owning index's charge fields) and its (id, _seg)
    * applicability pairs — a row means "id is dead IN that segment" —
    * collected once into a driver-local relation.
    */
  final case class Tombstone(path: String, doc: org.json4s.JValue,
                             pairs: DataFrame) {
    def name: String = new org.apache.hadoop.fs.Path(path).getName
    def charge(field: String): Double = docDouble(doc, field)
  }

  private def openTombstone(spark: SparkSession, dir: String): Tombstone = {
    val doc = readCommitDoc(spark, dir)
    val idSchema = docSchema(doc)
    val scope = (doc \ "scope") match {
      case org.json4s.JArray(xs) =>
        xs.collect { case org.json4s.JString(s) => s }
      case other => sys.error(s"$dir tombstone doc has no scope: $other")
    }
    val ids = labeled(spark, "store open: tombstone ids")(
      spark.read.schema(idSchema).parquet(s"$dir/ids").collect())
    val pairs = for (r <- ids.toSeq; s <- scope) yield Row(r.get(0), s)
    Tombstone(dir, doc, spark.createDataFrame(pairs.asJava,
      idSchema.add("_seg", org.apache.spark.sql.types.StringType)))
  }

  /** The committed tombstone batches of an index, through the
    * searcher snapshot. Bounded between compactions, which apply and
    * remove them.
    */
  def tombstones(spark: SparkSession, indexPath: String): Seq[Tombstone] =
    openCommitted(spark, s"$indexPath/deletes")(openTombstone(spark, _))

  /** All (id, _seg) pairs of `dels` — always broadcast, never shuffled
    * against payloads.
    */
  def tombstonePairs(dels: Seq[Tombstone]): DataFrame =
    dels.map(_.pairs).reduce(_ unionByName _)

  /** Commit one tombstone batch: the ids parquet first, then the stats
    * doc LAST (the marker) carrying the index's charge accounting
    * (`statsFields` — the inverted index records (n, sum_len, n_text);
    * the vector index records n), the ids schema, and the scope: the
    * segments committed at the caller's probe time (the only ones that
    * can hold the ids) and never a later segment — so a deleted id can
    * be re-ingested (the upsert model) and the new payload is not
    * masked.
    */
  def writeTombstone(spark: SparkSession, indexPath: String,
                     segs: Seq[String], ids: DataFrame,
                     statsFields: Seq[(String, Double)]): Unit = {
    val dir = s"$indexPath/deletes/batch-${java.util.UUID.randomUUID()}"
    labeled(spark, "tomb: ids write")(
      ids.write.mode("overwrite").parquet(s"$dir/ids"))
    writeDocDir(fsOf(spark, dir), s"$dir/stats", org.json4s.JObject(
      statsFields.map { case (k, v) =>
        k -> (org.json4s.JDouble(v): org.json4s.JValue)
      }.toList ++ List(
        "format" -> org.json4s.JInt(Format),
        "schema" -> org.json4s.JString(ids.schema.json),
        "scope" -> org.json4s.JArray(
          segs.map(s => org.json4s.JString(
            new org.apache.hadoop.fs.Path(s).getName): org.json4s.JValue)
            .toList))))
  }

  /** A per-segment ledger dir (the inverted index's `lens`, the vector
    * index's `ids`): id-bucketed when a compaction wrote it, plain
    * parquet otherwise.
    */
  def readLedger(spark: SparkSession, path: String,
                 schema: Option[org.apache.spark.sql.types.StructType])
      : DataFrame =
    if (Bucketing.isBucketedBatch(fsOf(spark, path), path))
      Bucketing.readBucketedBatch(spark, path)
    else schema.fold(spark.read)(spark.read.schema).parquet(path)

  /** Per-segment ledger rows (`ledgers`: segment name → its ledger
    * frame) tagged with their segment name, minus the tombstones
    * applicable to each segment: exactly the live corpus bookkeeping —
    * ONE FRAME PER SEGMENT, so a compacted segment's id-bucketed ledger
    * keeps its HashPartitioning into whatever join the caller builds
    * (a union would erase it). The broadcast tombstone anti-join
    * preserves the child's partitioning. Callers that join these
    * frames must join per frame and union the RESULTS; semi-joins
    * distribute over the left union, so that rewrite is always sound.
    */
  def liveLedgerFrames(ledgers: Seq[(String, DataFrame)],
                       dels: Seq[Tombstone]): Seq[DataFrame] = {
    val tomb =
      if (dels.isEmpty) None
      else Some(org.apache.spark.sql.functions.broadcast(
        tombstonePairs(dels)))
    ledgers.map { case (name, base) =>
      val tagged = base.withColumn("_seg",
        org.apache.spark.sql.functions.lit(name))
      tomb.map(t => tagged.join(t, Seq("id", "_seg"), "left_anti"))
        .getOrElse(tagged)
    }
  }

  /** `body` over `df` checkpointed locally (materialized once, lineage
    * cut), with the checkpoint's blocks dropped when `body` returns: a
    * writer's staging must not outlive its call, waiting for a garbage
    * collection to reach the RDD before the block manager lets go.
    * (Spark warns that the unpersisted checkpoint cannot be recomputed;
    * nothing reads it after `body`.)
    */
  def withLocalCheckpoint[T](df: DataFrame)(body: DataFrame => T): T = {
    val staged = df.localCheckpoint(true)
    try body(staged)
    finally staged.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
        ()
      case _ => ()
    }
  }

  /** Label every Spark job `body` submits (guide §1.5) so the UI and
    * the job-level profiler attribute index-lifecycle time to phases
    * instead of one opaque foreachBatch call site. Thread-local;
    * restores the previous description on exit.
    */
  def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** Run independent Spark write jobs concurrently and wait for all —
    * the guide-§2.6 overlap: a segment's payload and ledger writes read
    * the same persisted staged frame and land in different directories,
    * so running them serially leaves the cluster idle through each
    * job's tail. EVERY task is awaited to settlement before this
    * returns (r18, the r17 ADVICE ask): rethrowing on the first failure
    * while a sibling write still ran would let a streaming replay of
    * the same batchId rewrite segment dirs concurrently with the
    * orphaned writer. Only then does the first failure propagate; the
    * caller still writes its commit marker (stats) strictly AFTER this
    * returns, so the stats-last discipline is untouched. The tasks run
    * on a small dedicated pool, not the global ExecutionContext —
    * callers like FieldedIndex.perField already occupy the global pool
    * with blocking Spark actions, and nesting blocking Awaits there
    * leaned on ForkJoinPool managed blocking and its thread cap.
    */
  def inParallel(tasks: Seq[() => Unit]): Unit =
    if (tasks.length <= 1) tasks.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        tasks.length)
      try {
        val settled = tasks
          .map(t => pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
            override def call(): Option[Throwable] =
              try { t(); None } catch { case e: Throwable => Some(e) }
          }))
          .map(_.get()) // settle ALL tasks, failures included
        settled.flatten.headOption.foreach(e => throw e)
      } catch {
        case e: InterruptedException =>
          // the caller was interrupted while siblings still write:
          // interrupt them and wait until every one has exited, so no
          // orphaned writer outlives this call (a retry may rewrite the
          // same dirs); a second interrupt does not cut the drain short
          pool.shutdownNow()
          var drained = false
          while (!drained)
            try drained = pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
            catch { case _: InterruptedException => () }
          throw e
      } finally {
        pool.shutdown()
        ()
      }
    }

  def manifestPath(indexPath: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$indexPath/compacting")

  /** Resolve a compaction that crashed between committing its merged
    * segment and deleting the inputs (see [[Manifest]]): merged
    * committed → finish the input deletes; merged uncommitted → drop
    * the partial merged dir — then clear the manifest. Idempotent.
    * Entries are index-relative ("segments/seg-x", "deletes/batch-y")
    * so one manifest covers segment inputs AND the tombstone dirs a
    * compaction applies physically; the commit marker of both kinds
    * is their stats table.
    */
  def heal(spark: SparkSession, indexPath: String): Unit =
    Manifest.heal(fsOf(spark, indexPath), manifestPath(indexPath),
      indexPath,
      d => new org.apache.hadoop.fs.Path(s"$d/stats/_SUCCESS"))

  /** The exactly-once ingest ledger marker for `batchId`. */
  def ingestMarker(indexPath: String, batchId: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$indexPath/ingested/batch-$batchId")
}
