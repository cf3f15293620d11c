package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{EsMatch, TextAnalysis, VectorOps}
import graft.operators.{Dedup, LanguageModel, QualityRules, Repetition}
import graft.plans.{TokenMinHash, TokenPhraseFreq, TokenShingleHashes}

/** `curation`: passes of the training-data chain over a replicated
  * corpus, one at a time, in a fresh JVM with no warm-up (a curation
  * job pays its JIT and codegen cost on every run): `QualityRules.gopherFilter`
  * → `Repetition.gopherFilter` → `Dedup.dedupCorpus` →
  * `LanguageModel.perplexityBuckets`, keeping the head and middle
  * thirds. Each replica of a document carries one seeded suffix token,
  * so replicas form near-duplicate cliques for the dedup step.
  *
  * Every pass is checked: the survivors are a subset of the input, no
  * two share text, and every pass of a run returns the same survivors
  * (their id digest is printed, so two runs of one seed compare too).
  */
object Curation {

  val BaseDocs = 500
  val DocWordsSpread = 400
  val Replicas = 5
  val KernelRows = 10000L
  val EmbeddingDim = 64

  final case class Corpus(docs: IndexedSeq[Data.Doc]) {
    lazy val text: Map[Long, String] = docs.iterator.map(d => d.id -> d.text).toMap
  }

  def corpus(seed: Long): Corpus = {
    val base = Data.documents(seed, BaseDocs, spread = DocWordsSpread)
    Corpus(for (r <- 0 until Replicas; d <- base)
      yield d.copy(id = r.toLong * BaseDocs + d.id,
        text = s"${d.text} cur${seed % 1000}r$r"))
  }

  /** One pass of the chain; the caller materializes the survivors.
    * The repetition survivors and the deduped frame are staged, as the
    * chain reads each of them more than once, and released after.
    */
  def chain(docs: DataFrame)(use: DataFrame => Array[Long]): Array[Long] = {
    val q = QualityRules.gopherFilter(docs, "text", minStopHits = 1L)
    val rep = Repetition.gopherFilter(q, "text").persist()
    val dd = Dedup.dedupCorpus(rep, "doc_id", "text").persist()
    try use(LanguageModel.perplexityBuckets(dd, dd, "doc_id", "text", "source")
      .filter(col("bucket") =!= "tail").select("doc_id"))
    finally { dd.unpersist(blocking = true); rep.unpersist(blocking = true) }
  }

  def digest(ids: Array[Long]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    ids.sorted.foreach(i => md.update(java.nio.ByteBuffer.allocate(8).putLong(i).array()))
    md.digest().map("%02x".format(_)).mkString
  }

  def run(ctx: Ctx, sessionS: Double): Main.Outcome = {
    val spark = ctx.spark
    val path = ctx.path("documents")
    val c = corpus(ctx.seed)
    val dataS = Main.medianTime(3) {
      Data.docFrame(spark, c.docs).repartition(ctx.cores).write.mode("overwrite")
        .parquet(path)
    }
    val n = c.docs.size.toLong

    val h = new Harness(ctx)
    var first: Option[String] = None
    var pass = 0
    // a traced run pairs traced and untraced passes after the cold one
    while (h.timeLeft || (ctx.traced && pass < 2)) {
      val body = (p: Option[Probe]) => h.value(p, "curation chain")(
        chain(spark.read.parquet(path))(_.collect().map(_.getLong(0))))
      (if (pass == 0) h.request("pass", n)(body) else h.paired("pass", n)(body))
        .foreach { ids =>
          val d = digest(ids)
          h.check("curation survivors are input documents")(ids.forall(c.text.contains))
          h.check("curation survivors have distinct text")(
            ids.map(c.text).distinct.length == ids.length)
          h.check("curation passes agree")(first.forall(_ == d))
          if (first.isEmpty) {
            first = Some(d)
            System.err.println(s"[perfbench] curation survivors ${ids.length} of $n, " +
              s"id digest $d")
          }
        }
      pass += 1
      if (pass == 1) h.sampleHeap()
    }
    h.sampleHeap()
    h.logKinds()
    val own =
      if (!ctx.traced) Nil
      else {
        val (st, ts) = timed(stages(ctx, path))
        val (ks, tk) = timed(kernels(ctx, path))
        System.err.println(f"[perfbench] stage breakdown $ts%.1f s, kernels $tk%.1f s")
        st ++ ks
      }
    Main.Outcome(h.endToEnd(sessionS + dataS) ++ h.layers() ++ own ++ Layers.zeroFill,
      h.attempted, h.failed + h.checkFailures, h.checkFailures == 0)
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Each stage timed alone on its staged input, with rows in and out,
    * plus the LSH candidate and verified pair counts of the dedup step.
    */
  def stages(ctx: Ctx, path: String): Seq[Metric] = {
    val in = ctx.spark.read.parquet(path).persist()
    val nIn = in.count()
    def stage(f: DataFrame => DataFrame, from: DataFrame): (DataFrame, Long, Double) = {
      val (out, s) = timed { val o = f(from).persist(); (o, o.count()) }
      System.err.println(f"[perfbench] stage ${out._2}%6d rows out in $s%.2f s")
      (out._1, out._2, s)
    }
    val (q, nq, tq) = stage(QualityRules.gopherFilter(_, "text", minStopHits = 1L), in)
    val (rep, nr, tr) = stage(Repetition.gopherFilter(_, "text"), q)
    val (dd, nd, td) = stage(Dedup.dedupCorpus(_, "doc_id", "text"), rep)
    val (pb, np, tp) = stage(d => LanguageModel.perplexityBuckets(d, d, "doc_id", "text",
      "source").filter(col("bucket") =!= "tail"), dd)
    val exact = Dedup.exactKeepFirst(rep, "doc_id", "text").persist()
    val cand = Dedup.minhashLshPairs(exact, "doc_id", "text", 3, 16, 4, 0.2).persist()
    val ((nCand, nVerified), tl) = timed {
      val nc = cand.count()
      (nc, Dedup.ngramJaccard(exact, "doc_id", "text",
        cand.select("id_a", "id_b"), 3).filter(col("jaccard") >= 0.8).count())
    }
    System.err.println(f"[perfbench] lsh $nCand candidate pairs in $tl%.2f s")
    Seq(in, q, rep, dd, pb, exact, cand).foreach(_.unpersist())
    Seq(Metric("curation.quality_s", tq, "s"), Metric("curation.repetition_s", tr, "s"),
      Metric("curation.dedup_s", td, "s"), Metric("curation.perplexity_s", tp, "s"),
      Metric("curation.rows_in", nIn.toDouble, "count"),
      Metric("curation.quality_rows_out", nq.toDouble, "count"),
      Metric("curation.repetition_rows_out", nr.toDouble, "count"),
      Metric("curation.dedup_rows_out", nd.toDouble, "count"),
      Metric("curation.perplexity_rows_out", np.toDouble, "count"),
      Metric("curation.lsh_candidate_pairs", nCand.toDouble, "count"),
      Metric("curation.lsh_verified_ratio",
        if (nCand > 0) nVerified.toDouble / nCand else 0.0, "ratio"))
  }

  /** Rows/s of each native kernel through its public wrapper: the
    * corpus text (and seeded embeddings for cosine) is cached, then
    * each kernel's output column is written to the no-op sink three
    * times and the median time counts.
    */
  def kernels(ctx: Ctx, path: String): Seq[Metric] = {
    val spark = ctx.spark
    val base = spark.read.parquet(path).select("text")
    val reps = (KernelRows / math.max(1L, base.count())).toInt + 1
    val text = (1 until reps).foldLeft(base)((acc, _) => acc.unionByName(base))
      .limit(KernelRows.toInt).repartition(ctx.cores).persist()
    val rows = text.count()
    val emb = Data.embeddings(spark, ctx.seed, KernelRows, EmbeddingDim)
      .repartition(ctx.cores).persist()
    emb.count()
    val query = array((1 to EmbeddingDim).map(i => lit(math.sin(i.toDouble))): _*)
    val t = col("text")
    val cases: Seq[(String, DataFrame)] = Seq(
      "minhash" -> text.select(TokenMinHash(t, 3, 64)),
      "shingles" -> text.select(TokenShingleHashes(t, 3)),
      "simhash" -> text.select(TextAnalysis.simhash64(t)),
      "repetition" -> Repetition.withSignals(text, "text").drop("text"),
      "match" -> text.select(EsMatch.matchAny(t, "the of zuvi")),
      "phrase_freq" -> text.select(TokenPhraseFreq.of(TextAnalysis.tokens(t),
        Seq("the", "of"))),
      "unicode_normalize" -> text.select(TextAnalysis.normalizeUnicode(t)),
      "cosine" -> emb.select(VectorOps.cosine(col("embedding"), query)))
    val out = cases.map { case (name, df) =>
      val s = Main.medianTime(3)(df.write.mode("overwrite").format("noop").save())
      System.err.println(f"[perfbench] kernel $name%-18s $s%.3f s")
      Metric(s"kernel.$name.rows_per_s", rows / s, "rows/s")
    }
    text.unpersist(); emb.unpersist()
    out
  }
}
