package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the enclosing span's id (0 at
  * the top); spans of one iteration share `run`. */
final case class Span(id: Int, name: String, run: Int, parent: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task counts of one span, summed over the Spark jobs it ran. */
final class Counts {
  var tasks = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var gcMs = 0L; var cpuNs = 0L
}

/** Times calls into the program's layers from outside.
  *
  * Every call is timed (the end-to-end metrics are built from these
  * walls). Once [[enable]]d, the tracer also tags each span's Spark
  * jobs with the span id and registers two listeners: task counts per
  * span, and the wall and output path of every file write, which
  * attributes `runGold` time to the mart it wrote. The listeners are
  * the tracing overhead; an untraced run registers none. */
final class Tracer(spark: SparkSession) {
  private var on = false
  def traced: Boolean = on
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.Map.empty[Int, Counts]
  /** (output path, seconds) of each completed file write, in the order
    * the listener saw them; callers [[drain]] and slice by index. */
  val writes = mutable.ArrayBuffer.empty[(String, Double)]
  var run = 0
  /** Calls that threw, each failure counted once, at its innermost span. */
  var failedCalls = 0
  private var lastFailure: Throwable = null
  private val t0 = System.nanoTime()
  private var nextId = 1
  private var stack = List.empty[Int]
  private val sc = spark.sparkContext
  private val GroupKey = "spark.jobGroup.id"

  private val stageGroup = mutable.Map.empty[Int, Int]

  private def locked(f: => Unit): Unit = TaskListener.synchronized(f)

  private object TaskListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .flatMap(_.stripPrefix("span-").toIntOption)
      g.foreach { id =>
        e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, id))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      stageGroup.get(e.stageId).foreach { id =>
        val c = counts.getOrElseUpdate(id, new Counts)
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private object WriteListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = locked {
      val path = (qe.logical +: Seq(qe.analyzed)).iterator.flatMap(_.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
      }).nextOption()
      path.foreach(p => writes += ((p, durationNs / 1e9)))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Registers the listeners; spans opened from now on are traced. */
  def enable(): Unit = if (!on) {
    sc.addSparkListener(TaskListener)
    spark.listenerManager.register(WriteListener)
    on = true
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime

  /** Times `f` as span `name`, a child of the innermost open span. */
  def span[A](name: String)(f: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val oldGroup = sc.getLocalProperty(GroupKey)
    val (gc0, cpu0) = if (traced) (gcMs(), cpuNs()) else (0L, 0L)
    if (traced) sc.setLocalProperty(GroupKey, s"span-$id")
    stack = id :: stack
    val start = System.nanoTime()
    try f
    catch {
      case e: Throwable =>
        if (e ne lastFailure) { failedCalls += 1; lastFailure = e }
        throw e
    } finally {
      val end = System.nanoTime()
      stack = stack.tail
      spans += Span(id, name, run, parent, start - t0, end - t0)
      if (traced) {
        sc.setLocalProperty(GroupKey, oldGroup)
        val c = TaskListener.synchronized(counts.getOrElseUpdate(id, new Counts))
        c.gcMs += gcMs() - gc0
        c.cpuNs += cpuNs() - cpu0
      }
    }
  }

  /** Waits until the listeners have seen every event so far. */
  def drain(): Unit = if (traced) org.apache.spark.PerfbenchBus.drain(sc)

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Descendant span ids of `id`, itself included. */
  def subtree(id: Int): Seq[Int] = id +: children(id).flatMap(c => subtree(c.id))

  /** Task counts of span `id` and everything below it; gc and cpu are
    * measured inclusively at the span's own boundaries. */
  def countsOf(id: Int): Counts = TaskListener.synchronized {
    val c = new Counts
    subtree(id).flatMap(counts.get).foreach { x =>
      c.tasks += x.tasks; c.shuffleBytes += x.shuffleBytes; c.spillBytes += x.spillBytes
    }
    counts.get(id).foreach { x => c.gcMs = x.gcMs; c.cpuNs = x.cpuNs }
    c
  }

  /** A span's duration minus the part its child spans cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum

  def toJson: String = {
    val ss = spans.sortBy(_.startNs).map { s =>
      val c = countsOf(s.id)
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "run" -> s.run, "parent" -> s.parent,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9, "self_s" -> selfSeconds(s),
        "tasks" -> c.tasks, "shuffle_mb" -> c.shuffleBytes / 1e6,
        "spill_mb" -> c.spillBytes / 1e6, "gc_s" -> c.gcMs / 1e3,
        "cpu_share" -> (if (s.seconds > 0) c.cpuNs / 1e9 / s.seconds else 0.0)))
    }
    val byName = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, xs) =>
      n -> Json.obj(Seq("calls" -> xs.size, "total_s" -> xs.map(_.seconds).sum,
        "self_s" -> xs.map(selfSeconds).sum))
    }
    val ws = writes.map { case (p, s) => Json.obj(Seq("path" -> p, "seconds" -> s)) }
    Json.obj(Seq("spans" -> Json.arr(ss.toSeq), "self_time_by_span" -> Json.obj(byName),
      "writes" -> Json.arr(ws.toSeq))).s
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }).s
    case xs: Seq[_] => arr(xs).s
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
  def arr(xs: Seq[Any]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))
}
