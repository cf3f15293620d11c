package perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.api.GraftFrame
import graft.operators.EsAggs

/** `interactive`: one analyst sends eland-surface requests over four
  * tables, one at a time, cycling through the templates with literals
  * drawn from the seed. Tables are read from parquet on every request,
  * with no dataset cache. A seeded sixth of the requests is recomputed
  * with plain Spark (no graft code) and compared by an
  * order-insensitive digest.
  */
object Interactive {

  val LineitemRows = 100000L
  val OrdersRows = 30000L
  val EventsRows = 60000L
  val DocRows = 2000

  /** A request: the graft computation and its plain-Spark twin, both
    * reduced to normalized result rows.
    */
  final case class Request(table: String,
                           graft: (Harness, Option[Probe]) => Seq[String],
                           plain: () => Seq[String])

  final class Tables(ctx: Ctx) {
    def read(name: String): DataFrame = ctx.spark.read.parquet(ctx.path(s"tables/$name"))
    val rows: Map[String, Long] = Map("lineitem" -> LineitemRows,
      "orders" -> OrdersRows, "events" -> EventsRows,
      "documents" -> DocRows.toLong)
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(ctx.path(s"tables/$name"))
    write(Data.lineitem(spark, ctx.seed, LineitemRows), "lineitem")
    write(Data.orders(spark, ctx.seed, OrdersRows), "orders")
    write(Data.events(spark, ctx.seed, EventsRows), "events")
    write(Data.docFrame(spark, Data.documents(ctx.seed, DocRows))
      .repartition(ctx.cores), "documents")
  }

  /** Normalized, order-insensitive form of result rows. */
  def norm(rows: Array[Row]): Seq[String] = rows.toSeq.map(normRow).sorted

  def normRow(r: Row): String = r.toSeq.map(normValue).mkString("|")

  def normValue(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else if (d == 0.0) "0" else "%.9g".format(d)
    case f: Float => normValue(f.toDouble)
    case b: java.math.BigDecimal => normValue(b.doubleValue)
    case n: java.lang.Number => n.longValue.toString
    case s: scala.collection.Seq[_] => s.map(normValue).mkString("[", ",", "]")
    case r: Row => normRow(r)
    case o => o.toString
  }

  def templates(t: Tables): Seq[(String, Random => Request)] = {
    def gf(name: String, id: String) = GraftFrame(t.read(name), id)
    def term(r: Random): String = Data.vocab(18 + Data.wordZipf.draw(r) % 400)
    Seq(
      "where_head" -> { (r: Random) =>
        val q = 1 + r.nextInt(45); val d = r.nextInt(11) / 100.0
        val pred = (c: String => Column) => c("l_quantity") > q && c("l_discount") === d
        Request("lineitem",
          (h, p) => norm(h.collect(p, "GraftFrame.where.head")(
            gf("lineitem", "l_id").where(pred(col)).head(10).df)),
          () => norm(t.read("lineitem").filter(pred(col)).orderBy("l_id")
            .limit(10).collect()))
      },
      "query_head" -> { (r: Random) =>
        val price = 1000 + r.nextInt(400000)
        val prio = Data.priorities(r.nextInt(Data.priorities.size))
        Request("orders",
          (h, p) => norm(h.collect(p, "GraftFrame.query.head")(
            gf("orders", "o_orderkey")
              .query(s"o_totalprice > $price AND o_orderpriority = '$prio'")
              .head(10).df)),
          () => norm(t.read("orders")
            .filter(col("o_totalprice") > price && col("o_orderpriority") === prio)
            .orderBy("o_orderkey").limit(10).collect()))
      },
      "esquery_range_terms" -> { (r: Random) =>
        val lo = r.nextInt(200); val hi = lo + 5 + r.nextInt(45)
        val types = r.shuffle(Data.eventTypes).take(2)
        val json = s"""{"bool":{"filter":[{"range":{"value":{"gte":$lo,"lt":$hi}}},""" +
          s"""{"terms":{"event_type":[${types.map("\"" + _ + "\"").mkString(",")}]}}]}}"""
        Request("events",
          (h, p) => norm(h.collect(p, "GraftFrame.esQuery.head")(
            gf("events", "event_id").esQuery(json).head(20).df)),
          () => norm(t.read("events")
            .filter(col("value") >= lo && col("value") < hi &&
              col("event_type").isin(types: _*))
            .orderBy("event_id").limit(20).collect()))
      },
      "esquery_bool_len" -> { (r: Random) =>
        val price = 1000 + r.nextInt(90000)
        val flag = Seq("A", "N", "R")(r.nextInt(3))
        val json = s"""{"bool":{"must":[{"range":{"l_extendedprice":{"gte":$price}}}],""" +
          s""""must_not":[{"term":{"l_returnflag":"$flag"}}]}}"""
        Request("lineitem",
          (h, p) => Seq(h.value(p, "GraftFrame.esQuery.len")(
            gf("lineitem", "l_id").esQuery(json).len()).toString),
          () => Seq(t.read("lineitem")
            .filter(col("l_extendedprice") >= price && !(col("l_returnflag") === flag))
            .count().toString))
      },
      "esmatch_head" -> { (r: Random) =>
        val q = Seq(term(r), term(r)).mkString(" ")
        Request("documents",
          (h, p) => norm(h.collect(p, "GraftFrame.esMatch.head")(
            gf("documents", "doc_id").withEsDtype("text", "text")
              .esMatch(q, Seq("text")).head(10).df)),
          () => norm(t.read("documents")
            .filter(arrays_overlap(split(lower(col("text")), "\\s+"),
              array(q.split(" ").map(lit).toIndexedSeq: _*)))
            .orderBy("doc_id").limit(10).collect()))
      },
      "esquery_scored_top" -> { (r: Random) =>
        val terms = Seq(term(r), term(r)).distinct
        val json = s"""{"match":{"text":"${terms.mkString(" ")}"}}"""
        Request("documents",
          (h, p) => h.collect(p, "GraftFrame.esQueryScored")(
            gf("documents", "doc_id").withEsDtype("text", "text")
              .esQueryScored(json).df
              .orderBy(col("_score").desc, col("doc_id")).limit(10)
              .select("doc_id", "_score"))
            .toSeq.map(x => s"${x.getLong(0)}|${"%.5f".format(x.getDouble(1))}"),
          () => plainBm25(t.read("documents"), terms, 10))
      },
      "groupby_agg_lineitem" -> { (r: Random) =>
        val keys = Seq(Seq("l_returnflag"), Seq("l_linestatus"),
          Seq("l_returnflag", "l_linestatus"))(r.nextInt(3))
        val vals = Seq("l_quantity", "l_extendedprice", "l_discount")
        val cut = r.nextInt(40)
        def frame = t.read("lineitem").filter(col("l_quantity") > cut)
          .select((Seq("l_id") ++ keys ++ vals).map(col): _*)
        Request("lineitem",
          (h, p) => norm(h.collect(p, "GraftFrame.groupby.agg")(
            GraftFrame(frame, "l_id").groupby(keys).agg(Seq("sum", "mean")))),
          () => {
            val exprs = vals.flatMap(v => Seq(sum(v), avg(v)))
            norm(frame.groupBy(keys.map(col): _*).agg(exprs.head, exprs.tail: _*)
              .collect())
          })
      },
      "describe" -> { (r: Random) =>
        val cut = 50000 + r.nextInt(400000)
        def frame = t.read("orders").filter(col("o_totalprice") < cut)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        Request("orders",
          (h, p) => norm(h.collect(p, "GraftFrame.describe")(
            GraftFrame(frame, "o_orderkey").describe())),
          () => {
            val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
            val stats = Seq[(String, String => Column)](
              "count" -> (c => count(col(c)).cast("double")),
              "mean" -> (c => avg(col(c))),
              "std" -> (c => stddev_samp(col(c))),
              "min" -> (c => min(col(c)).cast("double")),
              "25%" -> (c => percentile(col(c), lit(0.25))),
              "50%" -> (c => percentile(col(c), lit(0.5))),
              "75%" -> (c => percentile(col(c), lit(0.75))),
              "max" -> (c => max(col(c)).cast("double")))
            val exprs = for ((s, f) <- stats; c <- cols) yield f(c).as(s"$s/$c")
            val row = frame.agg(exprs.head, exprs.tail: _*).head()
            norm(stats.map { case (s, _) =>
              Row.fromSeq(s +: cols.map(c => row.getAs[Any](s"$s/$c")))
            }.toArray)
          })
      },
      "value_counts" -> { (r: Random) =>
        val lo = r.nextInt(200); val n = 3 + r.nextInt(10)
        def frame = t.read("events").filter(col("value") > lo)
        Request("events",
          (h, p) => norm(h.collect(p, "GraftFrame.valueCounts")(
            GraftFrame(frame, "event_id").valueCounts("country", n))),
          () => norm(frame.groupBy("country").count()
            .orderBy(col("count").desc, col("country")).limit(n).collect()))
      },
      "quantile" -> { (r: Random) =>
        val qs = Seq(0.1 + r.nextInt(3) / 10.0, 0.5, 0.9 - r.nextInt(3) / 20.0)
        val flag = Seq("A", "N", "R")(r.nextInt(3))
        def frame = t.read("lineitem").filter(col("l_returnflag") === flag)
          .select("l_returnflag", "l_quantity", "l_discount")
        Request("lineitem",
          (h, p) => norm(h.collect(p, "GraftFrame.quantile")(
            GraftFrame(frame, "l_returnflag").quantile(qs))),
          () => {
            val exprs = for (c <- Seq("l_quantity", "l_discount"); q <- qs)
              yield percentile(col(c), lit(q))
            norm(frame.agg(exprs.head, exprs.tail: _*).collect())
          })
      },
      "nunique" -> { (r: Random) =>
        val cut = 1000 + r.nextInt(400000)
        def frame = t.read("orders").filter(col("o_totalprice") > cut)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        Request("orders",
          (h, p) => norm(h.collect(p, "GraftFrame.nunique")(
            GraftFrame(frame, "o_orderkey").nunique())),
          () => norm(frame.agg(countDistinct("o_orderkey"),
            countDistinct("o_custkey"), countDistinct("o_orderstatus"),
            countDistinct("o_orderpriority")).collect()))
      },
      "len" -> { (r: Random) =>
        val et = Data.eventTypes(r.nextInt(Data.eventTypes.size))
        val lo = r.nextInt(250)
        def frame = t.read("events").filter(col("event_type") === et && col("value") > lo)
        Request("events",
          (h, p) => Seq(h.value(p, "GraftFrame.len")(
            GraftFrame(frame, "event_id").len()).toString),
          () => Seq(frame.count().toString))
      },
      "terms_agg" -> { (r: Random) =>
        val et = Data.eventTypes(r.nextInt(Data.eventTypes.size))
        val size = 5 + r.nextInt(15)
        def frame = t.read("events").filter(col("event_type") =!= et)
        Request("events",
          (h, p) => norm(h.collect(p, "EsAggs.termsAgg")(
            EsAggs.termsAgg(frame, "country", size = Some(size)))),
          () => norm(frame.filter(col("country").isNotNull)
            .groupBy(col("country").as("key")).agg(count(lit(1)).as("doc_count"))
            .orderBy(col("doc_count").desc, col("key")).limit(size).collect()))
      },
      "histogram" -> { (r: Random) =>
        val interval = Seq(1000.0, 2500.0, 5000.0, 10000.0)(r.nextInt(4))
        val flag = Seq("A", "N", "R")(r.nextInt(3))
        def frame = t.read("lineitem").filter(col("l_returnflag") === flag)
        Request("lineitem",
          (h, p) => norm(h.collect(p, "EsAggs.histogram")(
            EsAggs.histogram(frame, "l_extendedprice", interval))),
          () => norm(frame.select((floor(col("l_extendedprice") / interval) *
              interval).as("key"))
            .groupBy("key").agg(count(lit(1)).as("doc_count")).collect()))
      },
      "composite_page" -> { (r: Random) =>
        val size = 3 + r.nextInt(12)
        val lo = r.nextInt(200000)
        def frame = t.read("orders").filter(col("o_totalprice") > lo)
        Request("orders",
          (h, p) => norm(h.collect(p, "EsAggs.compositePage")(
            EsAggs.compositePage(frame, Seq("o_orderstatus", "o_orderpriority"),
              size))),
          () => norm(frame.groupBy("o_orderstatus", "o_orderpriority")
            .agg(count(lit(1)).as("doc_count"))
            .orderBy("o_orderstatus", "o_orderpriority").limit(size).collect()))
      },
      "top_hits" -> { (r: Random) =>
        val k = 1 + r.nextInt(3)
        val status = Seq("O", "F", "P")(r.nextInt(3))
        def frame = t.read("orders").filter(col("o_orderstatus") === status)
        Request("orders",
          (h, p) => norm(h.collect(p, "EsAggs.topHits")(
            EsAggs.topHits(frame, Seq("o_orderpriority"), "o_totalprice", k,
              "o_orderkey"))),
          () => {
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("o_orderpriority")
              .orderBy(col("o_totalprice").desc, col("o_orderkey"))
            norm(frame.withColumn("_r", row_number().over(w))
              .filter(col("_r") <= k).drop("_r").collect())
          })
      })
  }

  /** BM25 (k1 1.2, b 0.75) over whitespace tokens, written with plain
    * Spark; returns the top `k` as "id|score" rows, score desc, id asc.
    */
  def plainBm25(docs: DataFrame, terms: Seq[String], k: Int): Seq[String] = {
    val toks = docs.select(col("doc_id"),
      filter(split(lower(col("text")), "\\s+"), x => length(x) > 0).as("t"))
    val stats = toks.agg(count(lit(1)).cast("double"),
      avg(size(col("t")).cast("double"))).head()
    val n = stats.getDouble(0); val avgdl = stats.getDouble(1)
    val tf = toks.select(col("doc_id"), size(col("t")).as("dl"),
        explode(col("t")).as("w"))
      .filter(col("w").isin(terms: _*))
      .groupBy("doc_id", "dl", "w").agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy("w").agg(count(lit(1)).cast("double").as("df"))
    tf.join(df, "w")
      .select(col("doc_id"), (log(lit(1.0) + (lit(n) - col("df") + 0.5) /
          (col("df") + 0.5)) * col("tf") * 2.2 /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)))
        .as("s"))
      .groupBy("doc_id").agg(round(sum("s"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k).collect()
      .toSeq.map(x => s"${x.getLong(0)}|${"%.5f".format(x.getDouble(1))}")
  }

  def run(ctx: Ctx, sessionS: Double): Main.Outcome = {
    val dataS = Main.medianTime(3)(setup(ctx))
    val warmS = Main.medianTime(1)(warmUp(ctx))
    val h = new Harness(ctx)
    loop(ctx, h)
    h.sampleHeap()
    h.logKinds()
    Main.Outcome(h.endToEnd(sessionS + dataS + warmS) ++ h.layers() ++ Layers.zeroFill,
      h.attempted, h.failed + h.checkFailures, h.checkFailures == 0)
  }

  /** Requests cycle through the templates in a fixed order until the
    * timed seconds are spent, so runs of one length make the same kinds
    * of request whatever the seed; the seed picks the literals.
    */
  def loop(ctx: Ctx, h: Harness): Unit = {
    val t = new Tables(ctx)
    val r = Data.rng(ctx.seed, 2)
    Iterator.continually(templates(t)).flatten.takeWhile(_ => h.timeLeft)
      .zipWithIndex.foreach { case ((name, make), i) =>
        val req = make(r)
        val checkIt = r.nextInt(6) == 0
        h.paired(name, t.rows(req.table))(p => req.graft(h, p))
          .foreach { got =>
            if (checkIt) h.check(s"interactive $name") {
              val want = req.plain()
              if (name == "esquery_scored_top") scoredEqual(got, want)
              else got == want
            }
          }
        if (i == 7) h.sampleHeap()
      }
  }

  /** Same ids in the same order, scores within 2e-5. */
  def scoredEqual(a: Seq[String], b: Seq[String]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      val Array(ix, sx) = x.split('|'); val Array(iy, sy) = y.split('|')
      ix == iy && math.abs(sx.toDouble - sy.toDouble) <= 2e-5
    }

  /** Untimed requests of two templates, the scored search among them,
    * so most JIT and codegen warm-up is billed to set-up rather than to
    * the first timed requests.
    */
  def warmUp(ctx: Ctx): Unit = {
    val t = new Tables(ctx)
    val h = new Harness(ctx.copy(probe = None))
    val r = Data.rng(ctx.seed, 3)
    templates(t).filter(x => Set("esquery_scored_top", "groupby_agg_lineitem")(x._1))
      .foreach { case (_, make) =>
      make(r).graft(h, None)
    }
  }
}
