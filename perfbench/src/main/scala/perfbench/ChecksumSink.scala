package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A write sink that keeps nothing but an order-insensitive checksum.
  *
  * It plans exactly like Spark's `noop` sink (a V2 batch write that
  * accepts any schema and truncates), so every output column is computed
  * and no operator above the query changes its plan. Each task hashes
  * its rows' UnsafeRow bytes with xxhash64 and sums them; the job's
  * commit adds the task sums. The (row count, hash sum) pair is what the
  * benchmark compares against the expected values.
  *
  * Usage: `df.write.format(ChecksumSink.format).mode("overwrite")
  *   .option("id", id).save()`, then `ChecksumSink.take(id)`. */
object ChecksumSink {
  val format: String = classOf[ChecksumSinkProvider].getName

  private val results = new ConcurrentHashMap[String, (Long, Long)]()

  private[perfbench] def put(id: String, rows: Long, hash: Long): Unit =
    results.put(id, (rows, hash))

  /** The checksum committed under `id`, removed from the registry. */
  def take(id: String): Option[(Long, Long)] = Option(results.remove(id))
}

final case class ChecksumMessage(rows: Long, hash: Long) extends WriterCommitMessage

class ChecksumSinkProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = new ChecksumTable(schema)
}

class ChecksumTable(tableSchema: StructType) extends Table with SupportsWrite {
  override def name(): String = "perfbench-checksum"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] = java.util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new ChecksumBatchWrite(info.options.get("id"), info.schema())
      }
    }
}

class ChecksumBatchWrite(id: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ChecksumWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    var rows = 0L
    var hash = 0L
    messages.foreach {
      case ChecksumMessage(r, h) => rows += r; hash += h
      case _ => ()
    }
    ChecksumSink.put(id, rows, hash)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class ChecksumWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val project = UnsafeProjection.create(schema)
      private var rows = 0L
      private var hash = 0L
      override def write(record: InternalRow): Unit = {
        val u = project(record)
        hash += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        rows += 1
      }
      override def commit(): WriterCommitMessage = ChecksumMessage(rows, hash)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
