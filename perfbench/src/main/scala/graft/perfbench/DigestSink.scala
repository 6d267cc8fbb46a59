package graft.perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Order-independent content digest of a sink's rows: the row count and
  * the wrapping sum of one 64-bit hash per row. Two outputs with the
  * same multiset of rows have the same digest, whatever their
  * partitioning or row order. */
final case class Digest(rows: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
  def hex: String = f"$hash%016x"
}

object Digest {
  val empty: Digest = Digest(0L, 0L)
}

/** The benchmark's sink. Like Spark's `noop` format it consumes every
  * row of the plan it is handed (so sorts and projections all run),
  * and additionally folds each row's bytes into a [[Digest]] that the
  * benchmark compares with a recorded expected value.
  *
  * Usage: `df.write.format(DigestSink.Format).option("job", key)
  * .mode("overwrite").save()`. Overwrite replaces the digest stored
  * under `key`; append (and every streaming micro-batch) adds to it, so
  * a stream's digest is that of the union of its appended rows. */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new DigestTable(properties.get("job"))
}

object DigestSink {
  val Format: String = classOf[DigestSink].getName

  private val digests = new ConcurrentHashMap[String, Digest]()

  def get(key: String): Digest = digests.getOrDefault(key, Digest.empty)
  def clear(key: String): Unit = digests.remove(key)

  private[perfbench] def commit(key: String, d: Digest, replace: Boolean): Unit =
    if (replace) digests.put(key, d)
    else digests.merge(key, d, (a: Digest, b: Digest) => a + b)
}

private class DigestTable(key: String) extends Table with SupportsWrite {
  require(key != null, "DigestSink needs a `job` option")
  override def name(): String = s"digest:$key"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
    TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new DigestWriteBuilder(key, info.schema())
}

private class DigestWriteBuilder(key: String, schema: StructType)
    extends WriteBuilder with SupportsTruncate {
  private var replace = false
  override def truncate(): WriteBuilder = { replace = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new DigestBatchWrite(key, schema, replace)
    override def toStreaming: StreamingWrite = new DigestStreamingWrite(key, schema)
  }
}

private final case class DigestMessage(d: Digest) extends WriterCommitMessage

private object DigestMessages {
  def sum(messages: Array[WriterCommitMessage]): Digest =
    messages.collect { case DigestMessage(d) => d }.foldLeft(Digest.empty)(_ + _)
}

private class DigestBatchWrite(key: String, schema: StructType, replace: Boolean)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    DigestSink.commit(key, DigestMessages.sum(messages), replace)
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private class DigestStreamingWrite(key: String, schema: StructType)
    extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new DigestWriterFactory(schema)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    DigestSink.commit(key, DigestMessages.sum(messages), replace = false)
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private class DigestWriterFactory(schema: StructType)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DigestWriter(schema)
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new DigestWriter(schema)
}

private class DigestWriter(schema: StructType) extends DataWriter[InternalRow] {
  private val toUnsafe = UnsafeProjection.create(schema)
  private var rows = 0L
  private var hash = 0L
  override def write(record: InternalRow): Unit = {
    val u = toUnsafe(record)
    hash += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
      u.getSizeInBytes, 42L)
    rows += 1
  }
  override def commit(): WriterCommitMessage = DigestMessage(Digest(rows, hash))
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
