package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.bindings.Conformed
import graft.io.Lakehouse
import graft.pipeline.CdcPipeline

/** The `cdc_daily` workload: the CDC job's day-1 full load, the 16
  * dashboard reads over the day-1 lake and the day-2 daily job, on a
  * fresh lake every iteration (a Glue job starts from what S3 holds, not
  * from a warm cache). A full load of the day-2 sources into a second
  * lake is the untimed reference the day-2 lake is checked against. */
final class CdcDaily(spark: SparkSession, work: File, seed: Long, tr: Tracer) {
  import CdcDaily._

  val day1Src = new File(work, "src_day1").getAbsolutePath
  val day2Src = new File(work, "src_day2").getAbsolutePath
  private val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
  /** Seeded read parameters: the first day of each one-month revenue
    * range and the users whose LTV history is read. */
  val rangeStarts: Seq[Int] = Seq.fill(2)(RangeStarts(rnd.nextInt(RangeStarts.size)))
  val users: Seq[Long] = Seq.fill(2)(Users(rnd.nextInt(Users.size)))

  def generate(): Unit = Gen.cdcSources(spark, day1Src, day2Src, seed)

  /** One day of the job, as the reference runs it every day. */
  def day(pipe: CdcPipeline, lake: Lakehouse, src: String, d: Int, tag: String, t: Tracer): Unit = {
    val runDate = Gen.Day1.plusDays(d - 1).toString
    val now = s"$runDate 00:00:00"
    val ts = lit(now).cast("timestamp")
    t.span(s"cdc.bronze_fact.${tag}_s")(pipe.bronzeFact(
      Conformed.items(spark, src), "order_items", "creation_ts", runDate, ts, now))
    t.span(s"cdc.bronze_snapshot.${tag}_s")(pipe.bronzeSnapshot(
      spark.read.parquet(s"$src/order_item_options.parquet"), "order_item_options",
      Seq("order_id", "lineitem_id", "option_name"), runDate, ts))
    t.span(s"silver.conform_items.${tag}_s")(pipe.silverConform(
      "order_items", lake.bronze("order_items", runDate), "creation_ts",
      Map("item_price" -> "double"), Seq("order_id", "lineitem_id"), Seq(col("item_price"))))
    t.span(s"silver.conform_options.${tag}_s")(pipe.silverConform(
      "order_item_options", lake.bronze("order_item_options", runDate), "cdc_timestamp",
      Map("option_price" -> "double"), Seq("order_id", "lineitem_id"),
      Seq(col("option_name"), col("option_price"))))
    t.span(s"silver.revenue.${tag}_s")(pipe.silverRevenue())
    val w0 = t.writes.size
    t.span(s"gold.run_gold.${tag}_s")(pipe.runGold())
    if (tag == "d1" && t.traced) {
      t.drain()
      martWrites = t.writes.drop(w0).toSeq.flatMap { case (p, s) =>
        Marts.find(m => p.endsWith(s"/gold/$m")).map(_ -> s)
      }
    }
  }
  /** Per-mart write walls of the last traced day-1 `runGold`. */
  var martWrites: Seq[(String, Double)] = Nil

  /** The 16 reads, each written out in full to the [[Digest]] sink. */
  def reads(lake: Lakehouse): Seq[(String, DataFrame)] = reads(lake, rangeStarts, users)

  private def reads(lake: Lakehouse, rangeStarts: Seq[Int], users: Seq[Long]): Seq[(String, DataFrame)] =
    Marts.map(m => s"marts:$m" -> spark.read.parquet(lake.gold(m))) ++
      rangeStarts.map { s =>
        val from = Gen.Day1.minusDays(Gen.Main.days).plusDays(s)
        s"silver_range:$s" -> spark.read.parquet(lake.silver("order_revenue"))
          .filter(col("creation_date").between(lit(from.toString).cast("date"),
            lit(from.plusDays(RangeDays - 1).toString).cast("date")))
      } ++
      users.map(u => s"ltv_user:$u" -> spark.read.parquet(lake.gold("fact_ltv_daily"))
        .filter(col("user_id") === u))

  /** Runs the 16 reads; returns the digest of each. */
  def readAll(lake: Lakehouse): Seq[(String, String)] = reads(lake).map { case (k, df) =>
    tr.span(s"io.read.${k.takeWhile(_ != ':')}_s")(Digest.write(df, k))
    k -> Digest.result(k)
  }

  /** Files and bytes the scans of each read kind select after pruning. */
  def readSizes(lake: Lakehouse): Map[String, (Long, Long)] =
    reads(lake).groupBy(_._1.takeWhile(_ != ':')).map { case (kind, xs) =>
      val scans = xs.flatMap(_._2.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s })
      kind -> (scans.map(_.selectedPartitions.totalNumberOfFiles).sum,
        scans.map(_.selectedPartitions.totalFileSize).sum)
    }

  def newLake(name: String): (Lakehouse, CdcPipeline) = {
    val dir = new File(work, name)
    CdcDaily.delete(dir)
    val lake = Lakehouse(dir.toURI.toString.stripSuffix("/"))
    (lake, new CdcPipeline(spark, lake))
  }

  def tables(lake: Lakehouse): Seq[(String, DataFrame)] =
    Silver.map(t => s"silver/$t" -> spark.read.parquet(lake.silver(t))) ++
      Marts.map(m => s"gold/$m" -> spark.read.parquet(lake.gold(m)))

  /** Digests of every silver table and gold mart, run-clock columns left out. */
  def digests(lake: Lakehouse, only: String => Boolean = _ => true): Map[String, String] =
    Digest.parallel(tables(lake).filter(t => only(t._1)).map { case (k, df) =>
      k -> (() => Digest.of(df, Clock ++ (if (k == "silver/order_item_options") Set("creation_date") else Set())))
    })

  /** Digests of every filtered read any seed can draw, to record them. */
  def allReadDigests(lake: Lakehouse): Map[String, String] =
    Digest.parallel(reads(lake, RangeStarts, Users)
        .filterNot(_._1.startsWith("marts:")).map { case (k, df) =>
      k -> (() => Digest.of(df))
    })
}

object CdcDaily {
  val Silver = Seq("order_items", "order_item_options", "order_revenue")
  val Marts = Seq(
    "fact_ltv_daily", "mart_customer_ltv_snapshot", "mart_customer_clv_segment",
    "mart_customer_rfm", "mart_customer_churn_profile",
    "mart_sales_trends/daily", "mart_sales_trends/weekly",
    "mart_sales_trends/monthly", "mart_sales_trends/hourly",
    "mart_loyalty_program_impact", "mart_location_performance",
    "mart_discount_effectiveness")
  val Zones = Seq("bronze", "cdc", "snapshots", "silver", "gold")
  /** Run-clock columns: a rerun or a fresh load stamps them differently
    * by design, so content comparisons leave them out. The options'
    * `creation_date` is derived from `cdc_timestamp` and is left out of
    * that table's comparison for the same reason. */
  val Clock = Set("ingestion_timestamp", "cdc_timestamp")
  val RangeDays = 30
  val RangeStarts: Seq[Int] = 0 to Gen.Main.days - RangeDays by 5
  val Users: Seq[Long] = (0L until Gen.Main.customers.toLong by 25L)

  def delete(f: File): Unit = if (f.exists()) {
    Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[Path]()).iterator.asScala
      .foreach(p => Files.delete(p))
  }

  /** Parquet files and bytes per lake zone. */
  def zoneSizes(root: File): Map[String, (Long, Long)] = Zones.map { z =>
    val d = new File(root, z)
    val files = if (!d.exists()) Nil else Files.walk(d.toPath).iterator.asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toList
    z -> (files.size.toLong, files.map(p => Files.size(p)).sum)
  }.toMap
}
