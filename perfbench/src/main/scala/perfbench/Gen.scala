package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of the benchmark's inputs: the TPC-H-ish source
  * tables the program's bindings read (`lineitem`, `orders`, `part`,
  * `documents`, `embeddings`, `events`) plus the options snapshot the
  * CDC job diffs, in the shape of the [[Gen.Reference]] data.
  *
  * The base tables come from a fixed seed, so day-1 lakes and query
  * results have content digests that can be recorded once
  * (`expected.json`). The run seed drives what a user varies day to day:
  * the day-2 delta, the read parameters and the query order.
  */
object Gen {

  /** The shape of the reference data the CDC job was first timed on
    * (TPC-H-like, sf0.01 and sf0.1 measured alike): orders spread evenly
    * over about 2,400 order dates, 62 a day at sf0.1; lineitem rows per
    * order Poisson with mean 4 (1.8 % of orders have none), each row's
    * line number uniform in 1..7, so 23.9 % of rows repeat an (order,
    * line) key with another payload; 10 orders per customer, 7.5 per
    * part, 150 per supplier; two events for every three orders, over 30
    * days, from one user in ten customers. */
  object Reference {
    val OrdersPerDay = 62
    val LinesPerOrder = 4.0
    val LineNumbers = 7
    val OrdersPerCustomer = 10
    val OrdersPerPart = 7.5
    val OrdersPerSupplier = 150
    val EventsPerOrder = 2.0 / 3
    val EventDays = 30
    val CustomersPerEventUser = 10
  }

  /** Rows per table. `days` is the order-date span, which sets the
    * number of one-day partitions in the silver and gold zones. */
  final case class Scale(
      orders: Int, customers: Int, parts: Int, suppliers: Int, days: Int,
      documents: Int, embeddings: Int, events: Int, eventUsers: Int)

  /** The reference's per-day shape over `days` order dates: the reference
    * with fewer days, not with thinner ones. */
  def ofDays(days: Int, documents: Int): Scale = {
    import Reference._
    val orders = OrdersPerDay * days
    val customers = orders / OrdersPerCustomer
    Scale(orders, customers, math.round(orders / OrdersPerPart).toInt,
      math.max(1, orders / OrdersPerSupplier), days, documents, documents,
      math.round(orders * EventsPerOrder).toInt, math.max(1, customers / CustomersPerEventUser))
  }

  /** 45 days, 2,790 orders: as many days as the run budget allows for
    * three cold loads a run. */
  val Main = ofDays(45, documents = 200)
  /** Same per-day shape, a ninth of the days: the analytics warm-up. */
  val Warm = ofDays(5, documents = 100)

  val BaseSeed = 20240601L
  /** The day-1 run clock; base orders fall in the `days` before it. */
  val Day1 = LocalDate.parse("2024-06-01")

  private def ts(dt: LocalDateTime) = Timestamp.from(dt.toInstant(ZoneOffset.UTC))

  private val Priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Types = Array("ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO")
  private val Words = ("key agg row scan slow fast table value part hash merge batch " +
    "spark the a line sort window order data column join small customer query " +
    "filter stream group big vector index shuffle cache plan stage task lake " +
    "silver gold bronze mart daily revenue user option price delta snapshot").split(" ")
  private val Langs = Array("en", "en", "en", "en", "en", "en", "de", "es", "fr", "zh")
  private val EventTypes = Array("click", "signup", "error", "view", "purchase")

  private val OrdersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
  private val LineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
                    path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)

  private def pick(r: SplittableRandom, xs: String*): String = xs(r.nextInt(xs.size))

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Poisson draw by inversion (Knuth); fine for small means. */
  private def poisson(r: SplittableRandom, mean: Double): Int = {
    val l = math.exp(-mean)
    var k = 0; var p = r.nextDouble()
    while (p > l) { k += 1; p *= r.nextDouble() }
    k
  }

  /** Orders with their lines, in the [[Reference]] shape. Order keys start
    * at `firstKey`; order dates are `date(i)`. */
  private def ordersAndLines(
      r: SplittableRandom, s: Scale, firstKey: Long, n: Int,
      date: Int => LocalDate): (Seq[Row], Seq[Row]) = {
    val orders = Seq.newBuilder[Row]
    val lines = Seq.newBuilder[Row]
    for (i <- 0 until n) {
      val key = firstKey + i
      val d = date(i)
      var total = 0.0
      for (_ <- 0 until poisson(r, Reference.LinesPerOrder)) {
        val qty = (1 + r.nextInt(50)).toDouble
        val price = math.round(qty * money(r, 9, 110) * 100) / 100.0
        total += price
        lines += Row(key, r.nextInt(s.parts).toLong, r.nextInt(s.suppliers).toLong,
          1 + r.nextInt(Reference.LineNumbers), qty, price,
          math.round(r.nextDouble() * 10) / 100.0, math.round(r.nextDouble() * 8) / 100.0,
          pick(r, "A", "N", "R"), pick(r, "O", "F"),
          ts(d.plusDays(1 + r.nextInt(30)).atStartOfDay()))
      }
      orders += Row(key, r.nextInt(s.customers).toLong, pick(r, "P", "O", "F"),
        math.round(total * 100) / 100.0, ts(d.atStartOfDay()), Priorities(r.nextInt(5)))
    }
    (orders.result(), lines.result())
  }

  private val PartSchema = StructType(Seq(StructField("p_partkey", LongType),
    StructField("p_name", StringType), StructField("p_brand", StringType),
    StructField("p_type", StringType), StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  /** The fixed order, line and part rows of scale `s`. */
  private def sales(s: Scale): (Seq[Row], Seq[Row], Seq[Row]) = {
    val r = new SplittableRandom(BaseSeed)
    val first = Day1.minusDays(s.days)
    val (orders, lines) = ordersAndLines(r, s, 0L, s.orders,
      _ => first.plusDays(r.nextInt(s.days)))
    val parts = (0 until s.parts).map { p =>
      Row(p.toLong, s"${Words(r.nextInt(Words.length))} part$p", s"Brand#${1 + r.nextInt(25)}",
        Types(r.nextInt(Types.length)), 1 + r.nextInt(50), 900.0 + p / 10.0)
    }
    (orders, lines, parts)
  }

  private def salesWrites(spark: SparkSession, dir: String,
                          rows: (Seq[Row], Seq[Row], Seq[Row])): Seq[() => Unit] = Seq(
    () => write(spark, rows._1, OrdersSchema, s"$dir/orders.parquet"),
    () => write(spark, rows._2, LineitemSchema, s"$dir/lineitem.parquet"),
    () => write(spark, rows._3, PartSchema, s"$dir/part.parquet"))

  /** Writes every fixed base table of scale `s` under `dir`: the sales
    * tables and the document, embedding and event tables. */
  def base(spark: SparkSession, dir: String, s: Scale): Unit = {
    val writes = Seq.newBuilder[() => Unit]
    writes ++= salesWrites(spark, dir, sales(s))
    val r = new SplittableRandom(BaseSeed + 1)

    // documents: random word bags, one in twenty a near-copy of an
    // earlier document (1-3 words changed) so the dedup tier finds pairs
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val docs = (0 until s.documents).map { i =>
      val words =
        if (i > 10 && r.nextInt(20) == 0) {
          val w = texts(r.nextInt(texts.size)).clone()
          (0 until 1 + r.nextInt(3)).foreach(_ => w(r.nextInt(w.length)) = Words(r.nextInt(Words.length)))
          w
        } else Array.fill(12 + r.nextInt(60))(Words(r.nextInt(Words.length)))
      texts += words
      val text = words.mkString(" ")
      Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}", text.length.toLong)
    }
    writes += (() => write(spark, docs, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
      s"$dir/documents.parquet"))

    // embeddings: 10 labelled clusters in 64 dims, a tenth near-copies
    val centroids = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val embs = (0 until s.embeddings).map { i =>
      val label = r.nextInt(10)
      val v =
        if (i > 10 && r.nextInt(10) == 0) vecs(r.nextInt(vecs.size)).map(x => x + (r.nextDouble() * 0.02 - 0.01).toFloat)
        else centroids(label).map(c => (0.05 * c + (r.nextDouble() * 2 - 1) * 0.3).toFloat)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      val unit = v.map(_ / norm)
      vecs += unit
      Row(i.toLong, unit.toSeq, label)
    }
    writes += (() => write(spark, embs, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
      s"$dir/embeddings.parquet"))

    // events: five types alike, at uniform times over the reference's
    // 30 days, for the streaming replay
    val t0 = LocalDate.parse("2024-01-01").atStartOfDay()
    val evs = (0 until s.events).map { i =>
      Row(i.toLong, ts(t0.plusSeconds(r.nextLong(Reference.EventDays * 86400L))),
        r.nextInt(s.eventUsers).toLong, EventTypes(r.nextInt(EventTypes.length)),
        money(r, 0, 100), s"""{"k":${r.nextInt(10)}}""")
    }
    writes += (() => write(spark, evs, StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType))), s"$dir/events.parquet"))

    Par.run(writes.result())
  }

  /** The options snapshot of the source system: the program's options
    * binding made PK-unique (SnapshotDiff requires it). */
  def options(spark: SparkSession, dir: String): DataFrame =
    graft.silver.CleanConform(
      graft.bindings.Conformed.optionsRaw(spark, dir), Map.empty,
      Seq("order_id", "lineitem_id", "option_name"), Seq(col("option_price")))

  /** The CDC job's sources for both days. Day 1 is the fixed sales
    * tables and their options snapshot. Day 2 adds about 2 % new orders,
    * dated on the day-1 run date, and its options snapshot changes about
    * 1 % of option prices and deletes about 1 % of options. All day-2
    * choices follow `seed`. */
  def cdcSources(spark: SparkSession, day1Dir: String, day2Dir: String, seed: Long): Unit = {
    val base = sales(Main)
    val r = new SplittableRandom(seed)
    val (orders, lines) = ordersAndLines(r, Main, Main.orders.toLong, Main.orders / 50, _ => Day1)
    Par.run(salesWrites(spark, day1Dir, base) ++
      salesWrites(spark, day2Dir, (base._1 ++ orders, base._2 ++ lines, base._3)))
    val pick = pmod(xxhash64(col("order_id"), col("lineitem_id"), col("option_name"), lit(seed)), lit(100))
    Par.run(Seq(
      () => options(spark, day1Dir).write.mode("overwrite")
        .parquet(s"$day1Dir/order_item_options.parquet"),
      () => options(spark, day2Dir)
        .filter(pick =!= 1)
        .withColumn("option_price",
          when(pick === 0, round(col("option_price") * 1.1, 2)).otherwise(col("option_price")))
        .write.mode("overwrite").parquet(s"$day2Dir/order_item_options.parquet")))
  }
}
