package graft.sources.common

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The reader half of the DSv2 scaffold ([[GenomicScan]] is the planning
  * half): one [[GenomicReaderFactory]] for every genomic scan, a
  * [[GenomicPartitionReader]] base that applies the projection and limit
  * pushdowns, and the [[RegionResidual]] each indexed reader re-checks
  * its records against. Format readers keep only their decode. */

/** The only `PartitionReaderFactory` in graft. `reader` builds the
  * format's reader for one partition; Spark ships the factory to the
  * executors, so it must be a function defined in the reader's companion
  * object — a lambda closing over the (unserializable) Scan fails.
  *
  * Columnar reads (SURVEY §4.2) are opt-in via `columnar=true` for flat
  * primitive/string projections (nested projections — BAM tags, VCF
  * info/samples, bed9+ itemRgb — keep the row path): the per-record
  * decode stays row-at-a-time and [[ColumnarRowBatcher]] copies the rows
  * into `OnHeapColumnVector`s. Off by default on measurement: stock
  * Spark re-materializes rows at `ColumnarToRow`, so with decode-bound
  * records the batch copy is pure overhead. Round-10 A/B at bench scale
  * (min of interleaved passes, local[32], x01-x06 in
  * BENCH_r10/bench_out): a 345 MB BAM qname..cigar projection is 8-21%
  * slower columnar on an idle heap and up to 3× slower inside the full
  * 73-row bench run, where 32 tasks' per-batch vector allocation meets a
  * busy heap; a 66 MB BGZF BED chrom/start/end projection is 1.58 s row
  * vs 1.65 s columnar; the columnar plan also pays a 4-7 s first-use
  * codegen warmup (<1 s row). The path is the integration surface for
  * vector-consuming engines that elide ColumnarToRow: in tree,
  * `ArrowShim.toIpcBytesColumnar` serializes the batches to Arrow IPC
  * executor-side with no row round-trip, ~5.6× faster than the row-path
  * sink at bench scale. */
class GenomicReaderFactory(fullSchema: StructType, pushdown: Pushdown,
    options: Map[String, String], reader: GenomicReaderFactory.Ctor)
    extends PartitionReaderFactory {

  private val columnarOk: Boolean =
    RangeStreams.columnarEligible(options, pushdown.required)

  override def supportColumnarReads(p: InputPartition): Boolean = columnarOk

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    reader(fullSchema, pushdown, options, p)

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] =
    new ColumnarRowBatcher(createReader(p), pushdown.required)
}

object GenomicReaderFactory {
  /** A format's reader for one partition: (full schema, pushdown,
    * options, partition). */
  type Ctor = (StructType, Pushdown, Map[String, String], InputPartition) =>
    GenomicPartitionReader
}

/** Base of every genomic partition reader. A format implements
  * [[nextRow]] and `close()`; `next()` applies the pushed limit (a
  * per-partition cap: Spark keeps its own Limit above the scan) and the
  * column projection. */
abstract class GenomicPartitionReader(fullSchema: StructType,
    pushdown: Pushdown) extends PartitionReader[InternalRow] {

  private val projIdx: Array[Int] =
    pushdown.required.fieldNames.map(fullSchema.fieldIndex)
  private val identityProj = projIdx.sameElements(fullSchema.indices)
  private val limit = pushdown.limit

  private var current: InternalRow = _
  private var emitted = 0
  private var exhausted = false

  /** The next row that passes the reader's own record checks, in FULL
    * schema order, or null at the end. Not called again after null: the
    * columnar batcher asks `next()` once more after a short final batch. */
  protected def nextRow(): InternalRow

  final override def next(): Boolean = {
    if (exhausted || limit >= 0 && emitted >= limit) return false
    val row = nextRow()
    if (row == null) { exhausted = true; return false }
    current = LineSourceUtil.projectRow(row, projIdx, fullSchema, identityProj)
    emitted += 1
    true
  }

  final override def get(): InternalRow = current
}

/** A partition's per-record region re-check: its (name, start, end)
  * regions, 0-based half-open, resolved once through `refIds` (name →
  * reference id) into flat arrays, so the per-record check allocates
  * nothing. A name `refIds` does not know matches no record. Each caller
  * keeps its own record-span rule (BAM and CRAM count a zero-span record
  * as length 1). */
final class RegionResidual(regions: Seq[(String, Long, Long)],
    refIds: => Iterable[(String, Int)]) {

  /** No regions: every record passes without a check. */
  val isEmpty: Boolean = regions.isEmpty

  private val resolved: Seq[(Int, Long, Long)] =
    if (isEmpty) Nil
    else {
      val idOf = refIds.toMap
      regions.flatMap { case (n, s, e) => idOf.get(n).map((_, s, e)) }
    }
  private val ids: Array[Int] = resolved.map(_._1).toArray
  private val starts: Array[Long] = resolved.map(_._2).toArray
  private val ends: Array[Long] = resolved.map(_._3).toArray

  /** Whether [start0, end0) on reference `id` overlaps any region. */
  def overlaps(id: Int, start0: Long, end0: Long): Boolean = {
    var i = 0
    while (i < ids.length) {
      if (id == ids(i) && start0 < ends(i) && end0 > starts(i)) return true
      i += 1
    }
    false
  }
}

/** Batches a row reader into `OnHeapColumnVector`s for the columnar path
  * of [[GenomicReaderFactory]]. The per-record decode stays row-at-a-time
  * but downstream operators read column vectors, and the scan boundary
  * amortizes to one virtual call per 4096 rows instead of per row. */
class ColumnarRowBatcher(rows: PartitionReader[InternalRow],
    schema: StructType) extends PartitionReader[ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnVector

  private val capacity = 4096
  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(capacity, schema)
  private val batch =
    new ColumnarBatch(vectors.map(v => v: ColumnVector), 0)

  // per-column writers resolved ONCE — the type dispatch must not run
  // per cell in the loop this batch path exists to make cheap
  private val writers: Array[(InternalRow, Int) => Unit] =
    Array.tabulate(schema.fields.length) { c =>
      val v = vectors(c)
      val put: (InternalRow, Int) => Unit = schema.fields(c).dataType match {
        case LongType => (row, n) => v.putLong(n, row.getLong(c))
        case IntegerType => (row, n) => v.putInt(n, row.getInt(c))
        case DoubleType => (row, n) => v.putDouble(n, row.getDouble(c))
        case FloatType => (row, n) => v.putFloat(n, row.getFloat(c))
        case BooleanType => (row, n) => v.putBoolean(n, row.getBoolean(c))
        case StringType => (row, n) => {
          val b = row.getUTF8String(c).getBytes
          v.putByteArray(n, b, 0, b.length)
        }
        case other =>
          throw new IllegalStateException(
            s"unsupported columnar type $other") // guarded by factory
      }
      (row: InternalRow, n: Int) =>
        if (row.isNullAt(c)) v.putNull(n) else put(row, n)
    }

  override def next(): Boolean = {
    var n = 0
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    while (n < capacity && rows.next()) {
      val row = rows.get()
      var c = 0
      while (c < writers.length) {
        writers(c)(row, n)
        c += 1
      }
      n += 1
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = rows.close()
}
