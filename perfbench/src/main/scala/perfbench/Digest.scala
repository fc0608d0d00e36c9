package perfbench

import java.util

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A write sink that discards rows like Spark's `noop` sink, after folding
  * each one into an order-independent content digest: the row count and
  * the wrapping sum of a 64-bit hash of each row's canonical text.
  *
  * Writing a query's result here executes the same plan as writing it to
  * `noop` (a batch write with no distribution or ordering requirement),
  * so the timed call also yields the digest that checks it. Floating
  * values are rounded to 6 decimals first: the program sums doubles in
  * whatever order the shuffle delivers them, so their last bits may
  * differ between runs, while a wrong result moves far more than 1e-6.
  *
  * {{{ Digest.write(df, "key"); Digest.result("key") }}}
  */
object Digest {
  private val results = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def write(df: DataFrame, key: String): Unit = {
    results.remove(key)
    df.write.format(classOf[DigestSink].getName).mode("append").option("key", key).save()
  }

  def result(key: String): String = results.get(key)

  /** Writes `df` to the sink and returns its digest. */
  def of(df: DataFrame, drop: Set[String] = Set.empty): String = {
    val key = java.util.UUID.randomUUID().toString
    write(df.drop(drop.toSeq: _*), key)
    results.remove(key)
  }

  /** Runs digests on a few threads: they are checks, not timed work. */
  def parallel(jobs: Seq[(String, () => String)]): Map[String, String] =
    jobs.map(_._1).zip(Par.run(jobs.map(_._2))).toMap

  private def canon(sb: java.lang.StringBuilder, v: Any, t: DataType): Unit = (v, t) match {
    case (null, _) => sb.append("null")
    case (d: Double, _) => appendDouble(sb, d)
    case (f: Float, _) => appendDouble(sb, f.toDouble)
    case (a: ArrayData, ArrayType(et, _)) =>
      sb.append('[')
      (0 until a.numElements()).foreach { i =>
        canon(sb, if (a.isNullAt(i)) null else a.get(i, et), et); sb.append(',')
      }
      sb.append(']')
    case (r: InternalRow, st: StructType) => row(sb, r, st)
    case (m: MapData, MapType(kt, vt, _)) =>
      val entries = (0 until m.numElements()).map { i =>
        val e = new java.lang.StringBuilder
        canon(e, m.keyArray().get(i, kt), kt); e.append("->")
        canon(e, if (m.valueArray().isNullAt(i)) null else m.valueArray().get(i, vt), vt)
        e.toString
      }.sorted
      sb.append('{').append(entries.mkString(",")).append('}')
    case (x, _) => sb.append(x.toString)
  }

  private def appendDouble(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN || d.isInfinite) sb.append(d)
    else sb.append(java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP)
      .stripTrailingZeros().toPlainString)

  private def row(sb: java.lang.StringBuilder, r: InternalRow, st: StructType): Unit = {
    sb.append('(')
    st.fields.indices.foreach { i =>
      val t = st.fields(i).dataType
      canon(sb, if (r.isNullAt(i)) null else r.get(i, t), t); sb.append('|')
    }
    sb.append(')')
  }

  private[perfbench] def hash(r: InternalRow, st: StructType): Long = {
    val sb = new java.lang.StringBuilder
    row(sb, r, st)
    val s = sb.toString
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) | (MurmurHash3.stringHash(s, 0xd16e57) & 0xffffffffL)
  }

  private[perfbench] def commit(key: String, parts: Seq[(Long, Long)]): Unit =
    results.put(key, s"${parts.map(_._1).sum}:${java.lang.Long.toHexString(parts.map(_._2).sum)}")
}

/** Runs independent Spark actions from a few threads of this JVM. */
object Par {
  def run[A](jobs: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try jobs.map(f => pool.submit(new java.util.concurrent.Callable[A] { def call(): A = f() }))
      .map(_.get())
    finally pool.shutdown()
  }
}

final case class DigestPart(rows: Long, sum: Long) extends WriterCommitMessage

/** The [[Digest]] sink as a DataSource V2 provider. */
final class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(tableSchema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = new SupportsWrite {
    override def name(): String = "perfbench_digest"
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new DigestBatch(info.options.get("key"), info.schema)
      }
    }
  }
}

final class DigestBatch(key: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    Digest.commit(key, messages.toSeq.collect { case DigestPart(n, s) => (n, s) })
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var rows = 0L
      private var sum = 0L
      override def write(r: InternalRow): Unit = { rows += 1; sum += Digest.hash(r, schema) }
      override def commit(): WriterCommitMessage = DigestPart(rows, sum)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
