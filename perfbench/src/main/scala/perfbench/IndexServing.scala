package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{InvertedIndex, Ranking}

/** `index_serving`: a positional `InvertedIndex` over a replicated
  * corpus serves a seeded stream of about 85% reads (`searchTopK` with
  * 1-3 Zipf-skewed terms, `phraseSearchTopK`, `boolPrefixSearchTopK`)
  * and 15% writes (`upsertDocs` batches of edited and new documents,
  * `deleteDocs` batches of live ids), with a `compact` after every two
  * writes. The loop runs whole cycles of the stream, at least two.
  * Segments and tombstones build up between compactions, so cheaper
  * writes that leave more segments show as slower reads.
  *
  * The benchmark keeps its own model of the live documents. Every
  * `searchTopK` result must hold at most k distinct live ids in score
  * order (an output check), and every ninth one is compared, outside
  * the timed region, with `Ranking.bm25TopK` over that model; a
  * mismatch there is a failed request. A seeded few percent of
  * upserted documents carry empty, null or non-ASCII text, and they
  * stay in the stream whether or not they make requests fail.
  */
object IndexServing {

  val BaseDocs = 500
  val Replicas = 4
  val UpsertBatch = 200
  val DeleteBatch = 100
  val CheckEvery = 9
  /** One cycle of the stream: eleven reads, two writes, one compaction.
    * The order of kinds is fixed, so every run of a given length does
    * the same kinds of work; terms, phrases and batches come from the
    * seed. Plain searches are the majority, so the median request is
    * a search.
    */
  val Cycle: Seq[String] = Seq("search", "upsert", "search", "search", "phrase",
    "search", "search", "bool_prefix", "search", "delete", "search", "search",
    "search", "compact")
  /** Whole cycles a run makes at least, so every run sees a compaction
    * followed by more reads and writes.
    */
  val MinCycles = 2
  val TopK = 10

  private val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  def frame(spark: SparkSession, docs: Iterable[(Long, String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(docs.toSeq.map { case (i, t) => Row(i, t) }: _*),
      schema)

  /** `Replicas` copies of a seeded base corpus; each copy of a document
    * carries one extra token naming the replica, so copies are near
    * duplicates rather than exact ones.
    */
  def replicaCorpus(seed: Long, base: Int, replicas: Int): IndexedSeq[(Long, String)] = {
    val docs = Data.documents(seed, base)
    for (r <- 0 until replicas; d <- docs)
      yield (r.toLong * base + d.id, s"${d.text} rep${seed % 1000}x$r")
  }

  private val odd = Seq("", null, "naïve café déjà vu", "Größe straße über",
    "東京 大阪 京都", "Ωμέγα λόγος", "emoji 🙂 text")

  /** Text for an upserted document: usually fresh words, sometimes
    * empty, null or non-ASCII.
    */
  def upsertText(r: Random): String =
    if (r.nextInt(100) < 4) {
      val o = odd(r.nextInt(odd.size))
      if (o == null || o.isEmpty || r.nextBoolean()) o
      else s"$o ${Data.words(r, 10 + r.nextInt(30))}"
    } else Data.words(r, 30 + r.nextInt(80))

  val reads = Set("search", "phrase", "bool_prefix")

  def term(r: Random): String = Data.vocab(18 + Data.wordZipf.draw(r) % 1000)

  def dirBytes(root: java.nio.file.Path): (Long, Long) = {
    val s = java.nio.file.Files.walk(root)
    try {
      val files = s.filter(java.nio.file.Files.isRegularFile(_)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      (files.length.toLong, files.map(java.nio.file.Files.size).sum)
    } finally s.close()
  }

  /** Committed store directories under `idx/sub`: those whose stats
    * commit marker is present, read from the file tree without Spark.
    */
  def committed(idx: String, sub: String): Int = {
    val d = new java.io.File(idx, sub)
    Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
      .count(s => new java.io.File(s, "stats/_SUCCESS").isFile)
  }

  /** At most `TopK` distinct live ids, by score desc then id asc. */
  def wellFormed(rows: Array[Row], live: collection.Map[Long, String]): Boolean = {
    val hits = rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
    hits.size <= TopK && hits.map(_._1).distinct.size == hits.size &&
      hits.forall(x => live.contains(x._1)) &&
      hits == hits.sortBy(x => (-x._2, x._1))
  }

  /** Same ids in the same order, scores within 1e-6. */
  def sameHits(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.getLong(0) == y.getLong(0) && math.abs(x.getDouble(1) - y.getDouble(1)) <= 1e-6
    }

  def utf8Bytes(t: String): Long =
    if (t == null) 0L else t.getBytes("UTF-8").length.toLong

  def run(ctx: Ctx, sessionS: Double): Main.Outcome = {
    val spark = ctx.spark
    val idx = ctx.path("index")
    val corpus = replicaCorpus(ctx.seed, BaseDocs, Replicas)
    val build = () => {
      InvertedIndex.build(frame(spark, corpus), "id", "text", idx, positions = true)
      InvertedIndex.buildVocabulary(spark, idx)
    }
    val buildS = Main.medianTime(3)(build())

    val model = mutable.LinkedHashMap[Long, String]() ++= corpus
    var nextId = corpus.size.toLong
    val r = Data.rng(ctx.seed, 4)
    def liveIds(n: Int): Seq[Long] = {
      val ids = model.keysIterator.toIndexedSeq
      r.shuffle(ids.indices.toList).take(n).map(ids)
    }

    // the writes return the text bytes they index
    def search(terms: Seq[String]): Array[Row] =
      InvertedIndex.searchTopK(spark, idx, terms, TopK).collect()
    def upsert(): Long = {
      val edits = liveIds(UpsertBatch * 7 / 10)
      val fresh = (edits.size until UpsertBatch).map { _ => nextId += 1; nextId }
      val batch = (edits ++ fresh).map(i => i -> upsertText(r))
      InvertedIndex.upsertDocs(frame(spark, batch), "id", "text", idx)
      InvertedIndex.buildVocabulary(spark, idx)
      model ++= batch
      batch.iterator.map(b => utf8Bytes(b._2)).sum
    }
    def delete(): Long = {
      val ids = liveIds(DeleteBatch)
      InvertedIndex.deleteDocs(frame(spark, ids.map(_ -> "")).select("id"), idx)
      model --= ids
      0L
    }
    def compact(): Long = {
      InvertedIndex.compact(spark, idx)
      InvertedIndex.buildVocabulary(spark, idx)
      0L
    }

    val warmS = Main.medianTime(1)(search(Seq(term(r))))

    val h = new Harness(ctx)
    var searches = 0
    var checked, mismatches = 0
    var writeBytes, writeInputBytes = 0L
    val segs, dels, files = mutable.ArrayBuffer[Double]()
    val searchOps, writeOps = mutable.ArrayBuffer[Double]()
    var i = 0
    def op(kind: String): Unit = {
      val traceThis = ctx.traced
      val live = model.size.toLong
      kind match {
        case "compact" =>
          h.request(kind, live, traceThis)(p =>
            h.value(p, "InvertedIndex.compact")(compact()))
        case "search" =>
          val terms = Seq.fill(1 + r.nextInt(3))(term(r)).distinct
          searches += 1
          val got = h.paired(kind, live)(p =>
            h.collect(p, "InvertedIndex.searchTopK")(
              InvertedIndex.searchTopK(spark, idx, terms, TopK)))
          got.foreach { rows =>
            h.check(s"searchTopK ${terms.mkString(" ")} result shape") {
              wellFormed(rows, model)
            }
            if (searches % CheckEvery == 0) {
              checked += 1
              val want = Ranking.bm25TopK(frame(spark, model), "id", "text", terms,
                TopK).collect()
              if (!sameHits(rows, want)) {
                mismatches += 1
                h.reqs(h.reqs.size - 1) = h.reqs.last.copy(ok = false)
                if (mismatches <= 2) System.err.println(
                  s"[perfbench] searchTopK ${terms.mkString(" ")} differs from " +
                    s"bm25TopK over the live docs\n[perfbench]   index ${rows.mkString(" ")}" +
                    s"\n[perfbench]   scan  ${want.mkString(" ")}")
              }
            }
          }
        case "phrase" =>
          val words = Option(model.valuesIterator.drop(r.nextInt(model.size)).next())
            .map(_.split(" ")).filter(_.length >= 2).getOrElse(Array("the", "of"))
          val at = r.nextInt(words.length - 1)
          h.paired(kind, live)(p =>
            h.collect(p, "InvertedIndex.phraseSearchTopK")(
              InvertedIndex.phraseSearchTopK(spark, idx, words.slice(at, at + 2).toSeq,
                TopK)))
        case "bool_prefix" =>
          val q = s"${term(r)} ${term(r).take(2 + r.nextInt(2))}"
          h.paired(kind, live)(p =>
            h.collect(p, "InvertedIndex.boolPrefixSearchTopK")(
              InvertedIndex.boolPrefixSearchTopK(spark, idx, q, TopK)))
        case "upsert" =>
          h.request(kind, UpsertBatch, traceThis)(p =>
            h.value(p, "InvertedIndex.upsertDocs")(upsert()))
            .filter(_ => traceThis).foreach(writeInputBytes += _)
        case "delete" =>
          h.request(kind, DeleteBatch, traceThis)(p =>
            h.value(p, "InvertedIndex.deleteDocs")(delete()))
      }
      h.lastDelta.foreach { d =>
        val ops = (d.fsList + d.fsStatus + d.fsOpen + d.fsCreate).toDouble
        if (reads(kind)) searchOps += ops
        else { writeOps += ops; writeBytes += d.fsWriteB }
      }
      if (ctx.traced) {
        segs += committed(idx, "segments")
        dels += committed(idx, "deletes")
        files += dirBytes(java.nio.file.Paths.get(idx))._1
      }
      i += 1
      if (i == 5) h.sampleHeap()
    }
    var cycles = 0
    while (h.timeLeft || cycles < MinCycles) { Cycle.foreach(op); cycles += 1 }
    h.sampleHeap()
    h.logKinds()

    val liveText = model.valuesIterator.map(utf8Bytes).sum
    val own = Seq(
      Metric("store.segments", Stats.mean(segs.toSeq), "count"),
      Metric("store.tombstone_batches", Stats.mean(dels.toSeq), "count"),
      Metric("store.files", Stats.mean(files.toSeq), "count"),
      Metric("store.write_amplification",
        if (writeInputBytes > 0) writeBytes.toDouble / writeInputBytes else 0.0,
        "ratio"),
      Metric("store.build_s", buildS, "s"),
      Metric("store.search_fs_ops", Stats.mean(searchOps.toSeq), "count"),
      Metric("store.write_fs_ops", Stats.mean(writeOps.toSeq), "count"),
      Metric("index.search_p50_s", h.quantile(reads, 0.5), "s"),
      Metric("index.search_p90_s", h.quantile(reads, 0.9), "s"),
      Metric("index.write_p50_s",
        h.quantile(Set("upsert", "delete"), 0.5, untracedOnly = false), "s"),
      Metric("index.compact_s", h.quantile(Set("compact"), 0.5, untracedOnly = false), "s"),
      Metric("index.bytes_per_input_byte",
        dirBytes(java.nio.file.Paths.get(idx))._2.toDouble / liveText, "ratio"),
      Metric("index.checked_searches", checked.toDouble, "count"),
      Metric("index.scan_mismatches", mismatches.toDouble, "count"))
    val failedChecks = h.checkFailures
    Main.Outcome(h.endToEnd(sessionS + buildS + warmS) ++ h.layers() ++ own ++
      Layers.zeroFill, h.attempted, h.failed + failedChecks, failedChecks == 0)
  }
}
