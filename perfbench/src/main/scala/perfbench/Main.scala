package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Benchmark harness: one workload per JVM, one closed-loop client.
  *
  * {{{
  * Main --workload cdc_daily|analytics_mix --seed N --seconds S --trace 0|1
  *      --work DIR --expected FILE [--record]
  * }}}
  *
  * Prints a human-readable summary, then as its last stdout line one
  * JSON object: `correct`, `attempted`, `failed` and `metrics` (the
  * end-to-end metrics untraced, the per-layer metrics traced). A traced
  * run also writes its spans to `DIR/trace_<workload>.json`. With
  * `--record` the output digests are written to FILE instead of checked. */
object Main {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  private def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)
  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }
  private def loadavg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Old-generation use after the last collection, in MB. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed / 1e6).sum
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--list-layers")) {
      println(Json.arr(Layers.entries.map { case (n, u, b) =>
        Json.obj(Seq("name" -> n, "unit" -> u, "better" -> b)) }).s)
      return
    }
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val record = args.contains("--record")
    val work = new File(opts.getOrElse("work", "perfbench/work")).getAbsoluteFile
    val expectedFile = new File(opts.getOrElse("expected", "perfbench/expected.json"))
    require(Set("cdc_daily", "analytics_mix")(workload), s"unknown workload '$workload'")
    work.mkdirs()

    val nproc = Runtime.getRuntime.availableProcessors
    val load0 = loadavg()
    val (spark, sessionS) = time(graft.core.GraftSession.local(nproc, s"perfbench-$workload"))
    val out = mutable.ArrayBuffer.empty[String]
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark)
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val digests = mutable.LinkedHashMap.empty[String, String]
    var loopCpu = 0L; var loopGc = 0L; var loopWall = 0.0

    /** Runs iterations under span `unit` until `seconds` have passed. */
    def loop(unit: String)(body: => Unit): Unit = {
      val gc0 = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      val cpu0 = tr.cpuNs()
      val t0 = System.nanoTime()
      var i = 0
      if (traced) tr.enable()
      while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        i += 1
        tr.run = i
        tr.span(unit)(body)
      }
      loopWall = (System.nanoTime() - t0) / 1e9
      loopCpu = tr.cpuNs() - cpu0
      loopGc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum - gc0
    }
    def measured(unit: String) = tr.spans.filter(_.name == unit).toSeq
    /** Leaf calls of each iteration in order, aligned across iterations. */
    def callWalls(unit: String): Seq[Double] = {
      val runs = measured(unit).map(u => leaves(u.id).map(_.seconds))
      if (runs.isEmpty) Nil else runs.head.indices.map(i => median(runs.flatMap(_.lift(i))))
    }
    def leaves(id: Int): Seq[Span] = tr.children(id).flatMap { c =>
      val cs = tr.children(c.id); if (cs.isEmpty) Seq(c) else leaves(c.id)
    }
    /** Median over iterations of the summed walls of spans named `name`. */
    def spanMedian(unit: String, name: String): Double =
      median(measured(unit).map(u => tr.subtree(u.id).flatMap(i => tr.spans.find(_.id == i))
        .filter(_.name == name).map(_.seconds).sum))
    def countersFor(prefix: String, unit: String, name: String): Unit = {
      val u = measured(unit).last
      tr.subtree(u.id).flatMap(i => tr.spans.find(_.id == i)).find(_.name == name).foreach { s =>
        val c = tr.countsOf(s.id)
        layer(s"$prefix.tasks") = c.tasks.toDouble
        layer(s"$prefix.shuffle_mb") = c.shuffleBytes / 1e6
        layer(s"$prefix.spill_mb") = c.spillBytes / 1e6
        layer(s"$prefix.gc_s") = c.gcMs / 1e3
        layer(s"$prefix.cpu_share") = if (s.seconds > 0) c.cpuNs / 1e9 / s.seconds else 0.0
      }
    }

    def mark(what: String): Unit = out += f"[${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s] $what"
    def timedCheck(name: String)(f: => Unit): Unit = {
      val (_, sec) = time(f); out += f"$name: $sec%.1f s"
    }
    var failedOutside = false
    var unitName = ""
    // set-up is the program's: the session, and on analytics_mix its
    // warm-up; the seeded inputs are generated untimed
    var setupS = sessionS
    try workload match {
      case "cdc_daily" =>
        unitName = "cycle"
        val w = new CdcDaily(spark, work, seed, tr)
        timedCheck("input generation (untimed)")(w.generate())
        // One daily cycle per iteration, on a fresh lake: the day-1 full
        // load, the reads of the day-1 lake and the day-2 job. The first
        // iteration is the JVM's first, cold like a Glue job, and runs the
        // output checks between its calls; its day-2 check compares the
        // lake with a full load of the day-2 sources into a second lake.
        loop("cycle") {
          val first = tr.run == 1
          val (lake, pipe) = w.newLake("lake")
          def optionRows() = spark.read.parquet(lake.silver("order_item_options")).count().toDouble
          tr.span("full_load")(w.day(pipe, lake, w.day1Src, 1, "d1", tr))
          if (first) timedCheck("day-1 checks") {
            layer("silver.order_item_options.rows.d1") = optionRows()
            // the marts are checked through their whole-table reads below
            w.digests(lake, _.startsWith("silver/")).foreach { case (k, v) => digests(s"day1/$k") = v }
            if (record) w.allReadDigests(lake).foreach { case (k, v) => digests(s"read/$k") = v }
            if (traced) w.readSizes(lake).foreach { case (kind, (files, bytes)) =>
              layer(s"io.read.$kind.files_read") = files.toDouble
              layer(s"io.read.$kind.mb_read") = bytes / 1e6
            }
          }
          val readDigests = tr.span("reads")(w.readAll(lake))
          if (first) readDigests.foreach { case (k, v) => digests(s"read/$k") = v }
          tr.span("daily_refresh")(w.day(pipe, lake, w.day2Src, 2, "d2", tr))
          if (first) timedCheck("day-2 checks") {
            def revenue(l: graft.io.Lakehouse) = spark.read.parquet(l.silver("order_revenue"))
              .agg(count(lit(1)), sum("total_revenue")).head()
            // the fresh load runs while the day-2 lake is digested
            val Seq((day2, r2), (freshDigests, rf)) = Par.run(Seq(
              () => (w.digests(lake), revenue(lake)),
              () => {
                val (fresh, freshPipe) = w.newLake("lake_fresh")
                w.day(freshPipe, fresh, w.day2Src, 2, "fresh", new Tracer(spark))
                (w.digests(fresh), revenue(fresh))
              }))
            layer("silver.order_item_options.rows.d2") = optionRows()
            val divergent = day2.keys.toSeq.sorted.filter(k => day2(k) != freshDigests(k))
            out += s"day2 divergent tables (${divergent.size}): ${divergent.mkString(", ")}"
            out += s"day2 order_revenue rows ${r2.getLong(0)} vs fresh ${rf.getLong(0)}; " +
              f"revenue ${r2.getDouble(1)}%.2f vs fresh ${rf.getDouble(1)}%.2f"
            layer("cdc.day2_divergent_tables") = divergent.size.toDouble
            layer("cdc.day2_revenue_ratio") = r2.getDouble(1) / rf.getDouble(1)
            val zones = CdcDaily.zoneSizes(new File(work, "lake"))
            CdcDaily.Zones.foreach { z =>
              layer(s"io.$z.files_written") = zones(z)._1.toDouble
              layer(s"io.$z.mb_written") = zones(z)._2 / 1e6
            }
            layer("cdc.lake_files") = zones.values.map(_._1).sum.toDouble
            layer("cdc.lake_mb") = zones.values.map(_._2).sum / 1e6
          }
        }
        layer("cdc.full_load_s") = spanMedian("cycle", "full_load")
        layer("cdc.daily_refresh_s") = spanMedian("cycle", "daily_refresh")
        layer("io.read_wall_s") = spanMedian("cycle", "reads")
        for (d <- 1 to 2; n <- Seq("cdc.bronze_fact", "cdc.bronze_snapshot", "silver.conform_items",
               "silver.conform_options", "silver.revenue", "gold.run_gold"))
          layer(s"$n.d${d}_s") = spanMedian("cycle", s"$n.d${d}_s")
        Seq("marts", "silver_range", "ltv_user").foreach(k =>
          layer(s"io.read.${k}_s") = spanMedian("cycle", s"io.read.${k}_s"))
        CdcDaily.Marts.foreach(m => layer(s"gold.${m.replace('/', '.')}.write_s") =
          w.martWrites.filter(_._1 == m).map(_._2).sum)
        Seq("full_load", "reads", "daily_refresh").foreach(n => countersFor(s"phase.$n", "cycle", n))
        Seq("cdc.bronze_fact", "silver.conform_items", "silver.revenue", "gold.run_gold")
          .foreach(n => countersFor(s"$n.d1", "cycle", s"$n.d1_s"))

      case "analytics_mix" =>
        unitName = "pass"
        val w = new AnalyticsMix(spark, work, seed, tr)
        timedCheck("input generation (untimed)")(w.generate())
        val (_, warmS) = time(w.warm())
        layer("mix.warm_pass_s") = warmS
        setupS += warmS
        out += s"query order: ${w.order.mkString(" ")}"
        mark("warm done")
        loop("pass")(w.pass(w.mainDir, tr))
        mark("pass done")
        layer("bindings.cached_rdds_end") = spark.sparkContext.getPersistentRDDs.size.toDouble
        w.digests().foreach { case (k, v) => digests(s"query/$k") = v }  // of the last pass
        layer("bindings.order_revenue_cached_s") = spanMedian("pass", "bindings.order_revenue_cached_s")
        AnalyticsMix.Queries.foreach { case (q, _) => layer(s"query.${q}_s") = spanMedian("pass", s"query.${q}_s") }
        AnalyticsMix.Modules.foreach(m => layer(s"${m}_s") =
          AnalyticsMix.Queries.filter(_._2 == m).map(q => layer(s"query.${q._1}_s")).sum)
        countersFor("phase.pass", "pass", "pass")
    } catch {
      case e: Throwable =>
        Console.err.println(s"[perfbench] $workload failed: $e")
        e.printStackTrace()
        failedOutside = tr.failedCalls == 0
    }

    mark("workload done")
    // ---- results: calls are the timed leaf spans, a failed one included
    val attempted = math.max(1L, measured(unitName).map(u => leaves(u.id).size.toLong).sum)
    val failed = tr.failedCalls + (if (failedOutside) 1 else 0)
    val units = measured(unitName)
    // an iteration's wall is its timed calls; checks between them are not
    val wall = median(units.map(u => tr.children(u.id).map(_.seconds).sum))
    val calls = callWalls(unitName)
    out += f"untimed checks between the timed calls: ${units.map(tr.selfSeconds).sum}%.1f s; " +
      f"set-up ${setupS}%.2f s; session ${sessionS}%.2f s"
    val load1 = loadavg()
    val heap = liveHeapMb()
    // tracing overhead: this traced wall against the untraced runs of
    // this build (run.py clears the history when it rebuilds); 0 until
    // there is one
    val history = new File(work, s"untraced_wall_$workload.txt")
    val untracedWall =
      if (!history.exists()) 0.0
      else median(Files.readAllLines(history.toPath).asScala.toSeq.flatMap(_.trim.toDoubleOption))
    if (!traced && failed == 0 && units.nonEmpty)
      Files.write(history.toPath, s"$wall\n".getBytes(UTF_8),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    layer("core.session_s") = sessionS
    layer("calls.geomean_s") = geomean(calls)
    layer("live_heap_mb") = heap
    layer("failed_share") = failed.toDouble / attempted
    layer("host.loadavg_start") = load0
    layer("host.loadavg_end") = load1
    // flagged on the load found at start: the run's own threads add up to
    // nproc to the load at its end
    layer("host.contended") = if (load0 > nproc) 1.0 else 0.0
    layer("process.cpu_share") = if (loopWall > 0) loopCpu / 1e9 / loopWall else 0.0
    layer("process.gc_s") = loopGc / 1e3
    layer("trace.overhead_share") =
      if (traced && wall > 0 && untracedWall > 0) wall / untracedWall - 1 else 0.0
    if (traced && untracedWall <= 0) out += "no untraced run of this build yet: trace.overhead_share is 0"

    val expected =
      if (!expectedFile.exists()) Map.empty[String, String]
      else Expected.parse(new String(Files.readAllBytes(expectedFile.toPath), UTF_8))
    var correct = failed == 0 && digests.nonEmpty
    if (record && correct) {
      val merged = (expected ++ digests).toSeq.sortBy(_._1)
      Files.write(expectedFile.toPath, (Json.obj(merged).s + "\n").getBytes(UTF_8))
      out += s"recorded ${digests.size} digests to $expectedFile"
    } else if (correct) {
      val bad = digests.toSeq.filter { case (k, v) => !expected.get(k).contains(v) }
      bad.foreach { case (k, v) => Console.err.println(
        s"[perfbench] digest mismatch $k: got $v, expected ${expected.getOrElse(k, "<none>")}") }
      correct = bad.isEmpty
      out += s"output checks: ${digests.size - bad.size}/${digests.size} digests match"
    }

    mark("results")
    if (traced) {
      tr.drain()
      Files.write(new File(work, s"trace_$workload.json").toPath,
        (Json.obj(Seq("workload" -> workload, "seed" -> seed, "per_layer" -> layer.toMap,
          "trace" -> Json.Raw(tr.toJson))).s + "\n").getBytes(UTF_8))
    }
    spark.stop()

    val e2e = Seq(("setup_s", setupS, "s"), ("wall_s", wall, "s"))
    val metrics: Seq[(String, Any)] =
      if (!traced) e2e.map { case (n, v, u) => n -> Json.obj(Seq("value" -> v, "unit" -> u)) }
      else Layers.all.map { case (n, u) => n -> Json.obj(Seq("value" -> layer.getOrElse(n, 0.0), "unit" -> u)) }
    out.foreach(println)
    e2e.foreach { case (n, v, u) => println(f"metric $n%-24s $v%12.4f $u") }
    layer.foreach { case (n, v) => println(f"layer  $n%-44s $v%12.4f ${Layers.unit(n)}") }
    if (layer("host.contended") > 0)
      println(s"WARNING: loadavg $load0 at start exceeded nproc $nproc: contended run")
    println(Json.obj(Seq("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> Json.obj(metrics))).s)
  }
}

/** Reads the flat string map that `--record` writes. */
object Expected {
  private val Pair = "\"([^\"]+)\":\"([^\"]*)\"".r
  def parse(s: String): Map[String, String] =
    Pair.findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap
}
