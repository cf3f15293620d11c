package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.TestSpark

/** The searcher snapshot behind every [[InvertedIndex]] read
  * ([[SegmentStore.openCommitted]]): reopens exactly what changed,
  * opens nothing on a warm read, and holds no cached data.
  */
class IndexSnapshotSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String = {
    val f = java.nio.file.Files.createTempDirectory(name).toFile
    f.deleteOnExit(); f.toString
  }

  private def hits(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private val terms = Seq("alpha", "beta", "gamma")

  private def search(s: SparkSession, path: String) =
    hits(InvertedIndex.searchTopK(s, path, terms, 20, idColName = "doc_id"))

  /** Descriptions and first-stage names of the jobs `body` submits. */
  private def jobsOf(body: => Unit): Seq[(String, String)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val ended = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add((String.valueOf(
          j.properties.getProperty("spark.job.description")),
          j.stageInfos.map(_.name).mkString(" | ")))
        ()
      }
      override def onJobEnd(
          j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        ended.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener events are async: wait for every started job's end
      val deadline = System.nanoTime() + 10000000000L
      Thread.sleep(300)
      while (ended.get < seen.size && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(l)
    seen.toArray(Array.empty[(String, String)]).toSeq
  }

  test("invalidation: after every kind of commit a warm read equals a cold one") {
    val path = tmp("graft-snap-matrix")
    def docs(from: Long, text: String) =
      (from until from + 6).map(i => (i, s"$text w$i")).toDF("doc_id", "text")
    def agrees(step: String): Unit = {
      val warm = search(spark, path)
      assert(warm.nonEmpty, step)
      assert(warm == search(spark.newSession(), path), step)
    }
    InvertedIndex.build(docs(0, "alpha beta"), "doc_id", "text", path)
    agrees("build")
    InvertedIndex.upsertDocs(
      Seq((1L, "gamma gamma"), (40L, "alpha")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    agrees("upsertDocs")
    InvertedIndex.deleteDocs(Seq(2L, 40L).toDF("doc_id"), path)
    agrees("deleteDocs")
    InvertedIndex.compact(spark, path)
    agrees("compact")
    InvertedIndex.build(docs(100, "beta gamma"), "doc_id", "text", path)
    agrees("build over the same path")
    assert(search(spark, path).forall(_._1 >= 100L))
    // a batch whose segment committed but whose ledger marker did not
    // (a crash in between) is rewritten under the same name on replay
    InvertedIndex.ingestBatch(docs(200, "alpha"), "doc_id", "text", path, 7L)
    agrees("ingestBatch")
    new java.io.File(s"$path/ingested/batch-7").delete()
    InvertedIndex.ingestBatch(docs(300, "gamma alpha alpha"), "doc_id",
      "text", path, 7L)
    agrees("ingestBatch named-segment rewrite")
    assert(search(spark, path).exists(_._1 >= 300L))
    assert(!search(spark, path).exists(h => h._1 >= 200L && h._1 < 300L))
    // a writer in another session commits; this session's next read
    // lists it and opens only the new dirs
    val other = spark.newSession()
    InvertedIndex.upsertDocs(other.createDataFrame(
        Seq((101L, "alpha beta gamma"), (500L, "beta"))).toDF("doc_id", "text"),
      "doc_id", "text", path)
    agrees("commit from a second session")
    assert(search(spark, path).exists(_._1 == 500L))
  }

  test("a warm searchTopK submits only its scoring jobs — no open, inference or listing job") {
    val path = tmp("graft-snap-jobs")
    InvertedIndex.build((0L until 40L).map(i =>
      (i, s"alpha beta w${i % 7} gamma${i % 3}")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    InvertedIndex.append((40L until 60L).map(i =>
      (i, s"beta gamma w$i")).toDF("doc_id", "text"), "doc_id", "text", path)
    // a job the read submits outside its scoring plan: the snapshot's
    // own opens, a parquet schema inference or a file-listing job
    def overhead(jobs: Seq[(String, String)]) = jobs.filter(j =>
      j._1.startsWith("store open") || j._2.contains("parquet at") ||
        (j._1 + j._2).contains("Listing"))
    search(spark, path)
    val plain = jobsOf(search(spark, path))
    assert(overhead(plain).isEmpty && plain.size <= 4, plain)
    InvertedIndex.deleteDocs(Seq(3L, 41L).toDF("doc_id"), path)
    val cold = jobsOf(search(spark, path))
    assert(overhead(cold).exists(_._1.startsWith("store open")), cold)
    val warm = jobsOf(search(spark, path))
    assert(overhead(warm).isEmpty && warm.size <= 5, warm)
  }

  test("concurrent cold reads share one open per commit generation") {
    val path = tmp("graft-snap-threads")
    InvertedIndex.build((0L until 30L).map(i =>
      (i, s"alpha w$i beta")).toDF("doc_id", "text"), "doc_id", "text", path)
    InvertedIndex.deleteDocs(Seq(5L).toDF("doc_id"), path)
    val serial = search(spark.newSession(), path)
    val fresh = spark.newSession()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val opens = jobsOf {
      val fs = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[Seq[(Long, Double)]] {
          override def call(): Seq[(Long, Double)] = search(fresh, path)
        }))
      fs.foreach(f => assert(f.get() == serial))
    }.count(_._1.startsWith("store open"))
    pool.shutdown()
    assert(opens == 1, s"$opens opens of one tombstone batch")
  }

  test("the snapshot holds no cached data") {
    val path = tmp("graft-snap-storage")
    InvertedIndex.build((0L until 30L).map(i =>
      (i, s"alpha beta w$i")).toDF("doc_id", "text"), "doc_id", "text",
      path, positions = true)
    InvertedIndex.upsertDocs(Seq((1L, "beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    InvertedIndex.buildVocabulary(spark, path)
    // the writers' own checkpoints may still be released meanwhile:
    // the reads must add no stored RDD
    def stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = stored
    for (_ <- 1 to 2) {
      search(spark, path)
      InvertedIndex.phraseSearchTopK(spark, path, Seq("alpha", "beta"), 5)
        .collect()
      InvertedIndex.boolPrefixSearchTopK(spark, path, "alpha be", 5).collect()
    }
    assert(stored.subsetOf(before), stored -- before)
  }
}
