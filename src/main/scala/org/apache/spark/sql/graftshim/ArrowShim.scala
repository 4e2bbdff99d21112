package org.apache.spark.sql.graftshim

import java.io.ByteArrayOutputStream

import org.apache.arrow.vector.VectorSchemaRoot
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.arrow.ArrowWriter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.ArrowUtils

/** Arrow IPC sink (SURVEY §2.2 K1): serialize a DataFrame's rows to a
  * single Arrow IPC stream byte array — the analogue of the reference's
  * `batches_to_ipc` (`/root/reference/oxbow/src/util.rs:10-18`) /
  * Python `to_ipc`. Executor-side encode: each task writes its
  * partition as one complete IPC stream, and the driver only splices
  * the streams at the message layer (one schema header, every
  * record-batch message verbatim, one EOS). The joined stream is built
  * in driver memory, so this is for result-sized frames, not the 100 TB
  * path (that's parquet). Lives in the shim namespace for access to
  * Spark's internal Arrow utilities. */
object ArrowShim {

  /** Batches hold at most `maxRecordsPerBatch` rows and never span two
    * partitions, so a partition's last batch may be short. A local
    * relation's rows are already on the driver and are encoded there as
    * one partition. */
  def toIpcBytes(df: DataFrame, maxRecordsPerBatch: Int = 1 << 16): Array[Byte] = {
    // <= 0 would never cut a batch (and the columnar path would
    // silently never flush) — reject loudly
    require(maxRecordsPerBatch > 0,
      s"maxRecordsPerBatch must be positive, got $maxRecordsPerBatch")
    val schema = df.schema
    val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    val maxRecs = maxRecordsPerBatch
    val parts = df.queryExecution.executedPlan match {
      // no job to ship driver-resident rows out and back, and no batch
      // per parallelized slice
      case local: LocalTableScanExec =>
        Array(rowPartitionIpc(local.executeCollect().iterator, schema, tz,
          maxRecs))
      case plan => plan.execute().mapPartitionsInternal { rows =>
          Iterator.single(rowPartitionIpc(rows, schema, tz, maxRecs))
        }.collect()
    }
    joinStreams(parts, schema, tz)
  }

  /** Columnar Arrow IPC sink: serialize a COLUMNAR scan (the opt-in
    * `columnar=true` batch path — `ColumnarRowBatcher`'s
    * `OnHeapColumnVector` batches) to the same Arrow IPC stream as
    * [[toIpcBytes]], WITHOUT the `ColumnarToRow` round-trip the stock
    * row pipeline inserts. This is the integration surface the batch
    * path exists for (`BamSource` factory scaladoc): executor-side the
    * Spark column vectors are copied column-at-a-time into Arrow field
    * vectors, and the partition streams are spliced exactly as
    * [[toIpcBytes]] splices its own.
    *
    * Output contract: byte-identical to [[toIpcBytes]] for the same
    * frame and `maxRecordsPerBatch` (pinned by `ArrowIpcSpec`) — both
    * faces cut batches inside each partition.
    *
    * The plan must BE the columnar scan (optionally projected/filtered
    * inside the scan via pushdown): anything computed above
    * `ColumnarToRow` executes in the row domain, so bypassing it would
    * silently drop that work — rejected with `IllegalArgumentException`
    * rather than computed wrong. Use [[toIpcBytes]] for arbitrary
    * frames. A scan that plans no partition gives the schema-only
    * stream, as [[toIpcBytes]] does. */
  def toIpcBytesColumnar(df: DataFrame,
      maxRecordsPerBatch: Int = 1 << 16): Array[Byte] = {
    // same guard as toIpcBytes: a non-positive cap would mean "never
    // flush" here (one giant batch) — the two faces must reject alike
    require(maxRecordsPerBatch > 0,
      s"maxRecordsPerBatch must be positive, got $maxRecordsPerBatch")
    import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case pr: ProjectExec if pr.projectList == pr.child.output =>
        unwrap(pr.child)
      case other => other
    }
    val schema = df.schema
    val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    val colPlan = unwrap(df.queryExecution.executedPlan) match {
      case c: ColumnarToRowExec if c.child.supportsColumnar => c.child
      // a scan with no input partitions plans as a row scan (Spark's
      // supportsColumnar is an `exists` over the partitions)
      case s: BatchScanExec if s.inputPartitions.isEmpty =>
        return joinStreams(Array.empty, schema, tz)
      case other => throw new IllegalArgumentException(
        "toIpcBytesColumnar requires a plan that is exactly a columnar " +
          s"scan under ColumnarToRow; got:\n$other\nUse toIpcBytes for " +
          "arbitrary frames.")
    }
    val maxRecs = maxRecordsPerBatch
    val parts = colPlan.executeColumnar().mapPartitions { batches =>
      Iterator.single(partitionIpc(batches, schema, tz, maxRecs))
    }.collect()
    joinStreams(parts, schema, tz)
  }

  /** One complete IPC stream over a fresh root for `schema`: schema
    * message, whatever record batches `body` writes, EOS. */
  private def ipcStream(schema: StructType, tz: String)(
      body: (VectorSchemaRoot, ArrowStreamWriter) => Unit): Array[Byte] = {
    val arrowSchema = ArrowUtils.toArrowSchema(schema, tz,
      errorOnDuplicatedFieldNames = true, largeVarTypes = false)
    val allocator = ArrowUtils.rootAllocator
      .newChildAllocator("graft-ipc", 0, Long.MaxValue)
    val root = VectorSchemaRoot.create(arrowSchema, allocator)
    try {
      val out = new ByteArrayOutputStream()
      val writer = new ArrowStreamWriter(root, null, out)
      writer.start()
      body(root, writer)
      writer.end()
      out.toByteArray
    } finally {
      root.close()
      allocator.close()
    }
  }

  /** The partitions' streams as one; a plan with no partitions gives the
    * schema-only stream. */
  private def joinStreams(parts: Array[Array[Byte]], schema: StructType,
      tz: String): Array[Byte] =
    if (parts.isEmpty) ipcStream(schema, tz)((_, _) => ())
    else spliceIpcStreams(parts)

  /** One partition's complete IPC stream from its rows, cut into
    * `maxRecs`-row batches. */
  private def rowPartitionIpc(rows: Iterator[InternalRow],
      schema: StructType, tz: String, maxRecs: Int): Array[Byte] =
    ipcStream(schema, tz) { (root, writer) =>
      val arrowWriter = ArrowWriter.create(root)
      var n = 0
      def flush(): Unit = if (n > 0) {
        arrowWriter.finish()
        writer.writeBatch()
        arrowWriter.reset()
        n = 0
      }
      while (rows.hasNext) {
        arrowWriter.write(rows.next())
        n += 1
        if (n == maxRecs) flush()
      }
      flush()
    }

  /** One partition's complete IPC stream from its columnar batches —
    * column-vector-to-arrow-vector copies, re-batched to
    * `maxRecordsPerBatch` row boundaries. Runs executor-side. */
  private def partitionIpc(
      batches: Iterator[org.apache.spark.sql.vectorized.ColumnarBatch],
      schema: StructType, tz: String, maxRecs: Int): Array[Byte] =
    ipcStream(schema, tz) { (root, writer) =>
      import org.apache.arrow.vector._
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.vectorized.ColumnVector
      // per-column copier resolved once (type dispatch out of the loop,
      // same discipline as ColumnarRowBatcher's writers)
      val copiers: Array[(ColumnVector, Int, Int) => Unit] =
        Array.tabulate(schema.length) { c =>
          val put: (ColumnVector, Int, Int) => Unit =
            (schema(c).dataType, root.getVector(c)) match {
              case (LongType, v: BigIntVector) =>
                (cv, r, n) => v.setSafe(n, cv.getLong(r))
              case (IntegerType, v: IntVector) =>
                (cv, r, n) => v.setSafe(n, cv.getInt(r))
              case (DoubleType, v: Float8Vector) =>
                (cv, r, n) => v.setSafe(n, cv.getDouble(r))
              case (FloatType, v: Float4Vector) =>
                (cv, r, n) => v.setSafe(n, cv.getFloat(r))
              case (BooleanType, v: BitVector) =>
                (cv, r, n) => v.setSafe(n, if (cv.getBoolean(r)) 1 else 0)
              case (ShortType, v: SmallIntVector) =>
                (cv, r, n) => v.setSafe(n, cv.getShort(r))
              case (ByteType, v: TinyIntVector) =>
                (cv, r, n) => v.setSafe(n, cv.getByte(r))
              case (StringType, v: VarCharVector) =>
                (cv, r, n) => {
                  val b = cv.getUTF8String(r).getBytes
                  v.setSafe(n, b, 0, b.length)
                }
              case (BinaryType, v: VarBinaryVector) =>
                (cv, r, n) => {
                  val b = cv.getBinary(r)
                  v.setSafe(n, b, 0, b.length)
                }
              case (dt, v) => throw new IllegalArgumentException(
                s"unsupported columnar IPC type $dt -> ${v.getClass}")
            }
          val v = root.getVector(c)
          (cv: ColumnVector, r: Int, n: Int) =>
            if (cv.isNullAt(r)) v.setNull(n) else put(cv, r, n)
        }
      var n = 0
      def flush(): Unit = if (n > 0) {
        root.setRowCount(n)
        writer.writeBatch()
        root.getFieldVectors.forEach(_.reset())
        n = 0
      }
      batches.foreach { batch =>
        val rows = batch.numRows()
        var r = 0
        while (r < rows) {
          var c = 0
          while (c < copiers.length) {
            copiers(c)(batch.column(c), r, n); c += 1
          }
          n += 1
          if (n == maxRecs) flush()
          r += 1
        }
      }
      flush()
    }

  /** Splice complete per-partition IPC streams into one: the first
    * stream's schema message, every stream's record-batch messages
    * copied VERBATIM, one end-of-stream marker. Message framing per the
    * Arrow encapsulated-message format: 0xFFFFFFFF continuation, int32
    * little-endian metadata size (8-padded), metadata, body — a schema
    * message has no body, so it ends at 8 + size; EOS is the 8-byte
    * continuation + zero-size tail `end()` writes. */
  private def spliceIpcStreams(parts: Array[Array[Byte]]): Array[Byte] = {
    def schemaEnd(b: Array[Byte]): Int = {
      require(b.length >= 16, s"IPC stream too short: ${b.length}")
      val bb = java.nio.ByteBuffer.wrap(b)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      require(bb.getInt(0) == -1,
        "expected continuation marker at stream start")
      8 + bb.getInt(4)
    }
    val eos = Array[Byte](-1, -1, -1, -1, 0, 0, 0, 0)
    parts.foreach { p =>
      require(p.length >= 8 &&
        p.slice(p.length - 8, p.length).sameElements(eos),
        "partition stream missing EOS tail")
    }
    // sized up front: one copy of every batch, no buffer regrowth
    val starts = parts.map(schemaEnd)
    val head = starts(0)
    val out = new Array[Byte](
      head + parts.indices.map(i => parts(i).length - 8 - starts(i)).sum + 8)
    System.arraycopy(parts(0), 0, out, 0, head)
    var pos = head
    parts.indices.foreach { i =>
      val len = parts(i).length - 8 - starts(i)
      System.arraycopy(parts(i), starts(i), out, pos, len)
      pos += len
    }
    System.arraycopy(eos, 0, out, pos, eos.length)
    out
  }
}
