package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. The same seed always gives the same tables, corpora
  * and request streams. The tables follow the shapes of the repo's
  * test data (a TPC-H-like `lineitem`/`orders` pair, an `events`
  * stream and a `documents` corpus) but are generated here, so the
  * benchmark needs nothing outside its checkout.
  */
object Data {

  /** Fixed vocabulary: English stop words first (the Gopher quality
    * rules need them), then pronounceable synthetic words of 3-9
    * letters. Word choice, not the vocabulary, depends on the seed.
    */
  val vocab: IndexedSeq[String] = {
    val stop = Vector("the", "of", "and", "to", "in", "that", "is", "with",
      "for", "as", "was", "on", "have", "be", "from", "this", "by", "not")
    val cons = "bcdfghjklmnprstvwz"
    val vows = "aeiou"
    val r = new scala.util.Random(7)
    val words = Iterator.continually {
      val syl = 2 + r.nextInt(3)
      (0 until syl).map(_ => s"${cons(r.nextInt(cons.length))}" +
        s"${vows(r.nextInt(vows.length))}").mkString
    }.filter(w => w.length >= 3 && w.length <= 9)
    (stop ++ words.distinct.filterNot(stop.contains).take(2000 - stop.size))
      .toIndexedSeq
  }

  /** A generator for `seed`, scrambled first: `java.util.Random` seeds
    * that differ by little give correlated first draws.
    */
  def rng(seed: Long, salt: Long = 0L): scala.util.Random = {
    var z = seed * 0x9E3779B97F4A7C15L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new scala.util.Random(z ^ (z >>> 31))
  }

  /** Zipf(1) sampler over ranks [0, n). */
  final class Zipf(n: Int, s: Double = 1.0) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(r: scala.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  val wordZipf = new Zipf(vocab.size)

  def words(r: scala.util.Random, n: Int): String =
    (0 until n).map(_ => vocab(wordZipf.draw(r))).mkString(" ")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** A corpus of `n` documents of 50 to `50 + spread` words; about one
    * in ten is a short line repeated (a Gopher repetition failure) and
    * about one in eight is shorter than the quality rules' 50-word
    * floor.
    */
  def documents(seed: Long, n: Int, spread: Int = 70): IndexedSeq[Doc] = {
    val r = rng(seed, 1)
    val langs = Vector("en", "en", "de", "fr", "es", "zh")
    (0 until n).map { i =>
      val kind = r.nextInt(40)
      val text =
        if (kind < 4) {
          val line = words(r, 8 + r.nextInt(6))
          Vector.fill(4 + r.nextInt(4))(line).mkString("\n")
        } else if (kind < 9) words(r, 20 + r.nextInt(25))
        else words(r, 50 + r.nextInt(spread))
      Doc(i.toLong, text, langs(r.nextInt(langs.size)), s"src${r.nextInt(20)}")
    }
  }

  def docFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Uniform [0, 1) per (seed, salt, id), as a Spark expression. */
  private def u(seed: Long, salt: Int): org.apache.spark.sql.Column =
    (pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(1000000007L))
      .cast("double") / 1000000007.0)

  private def pick(seed: Long, salt: Int, values: Seq[String]) =
    element_at(array(values.map(lit): _*),
      (floor(u(seed, salt) * values.size) + 1).cast("int"))

  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val eventTypes = Seq("click", "view", "purchase", "signup", "error")
  val countries: Seq[String] = (0 until 40).map(i => f"c$i%02d")

  def lineitem(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("l_id"),
      (col("id") / 4).cast("long").as("l_orderkey"),
      floor(u(seed, 1) * 20000).cast("long").as("l_partkey"),
      floor(u(seed, 2) * 1000).cast("long").as("l_suppkey"),
      (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
      (floor(u(seed, 3) * 50) + 1).as("l_quantity"),
      round(u(seed, 4) * 100000 + 900, 2).as("l_extendedprice"),
      (floor(u(seed, 5) * 11) / 100).as("l_discount"),
      (floor(u(seed, 6) * 9) / 100).as("l_tax"),
      pick(seed, 7, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 8, Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) +
        floor(u(seed, 9) * 2400 * 86400).cast("long")).as("l_shipdate"))

  def orders(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("o_orderkey"),
      floor(u(seed, 11) * 15000).cast("long").as("o_custkey"),
      pick(seed, 12, Seq("O", "F", "P")).as("o_orderstatus"),
      round(u(seed, 13) * 450000 + 850, 2).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) +
        floor(u(seed, 14) * 2400 * 86400).cast("long")).as("o_orderdate"),
      pick(seed, 15, priorities).as("o_orderpriority"))

  def events(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1704067200L) + col("id") * 30 +
        floor(u(seed, 21) * 30).cast("long")).as("ts"),
      floor(u(seed, 22) * 2000).cast("long").as("user_id"),
      pick(seed, 23, eventTypes).as("event_type"),
      round(u(seed, 24) * 250, 2).as("value"),
      // skewed: low country codes are common
      element_at(array(countries.map(lit): _*),
        (floor(pow(u(seed, 25), lit(3.0)) * countries.size) + 1).cast("int"))
        .as("country"))

  /** Seeded unit-free embedding vectors, `dim` floats each. */
  def embeddings(spark: SparkSession, seed: Long, n: Long, dim: Int): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        ((pmod(xxhash64(lit(seed), col("id"), i), lit(20001L)) - 10000)
          .cast("float") / 10000.0f)).as("embedding"))
}
