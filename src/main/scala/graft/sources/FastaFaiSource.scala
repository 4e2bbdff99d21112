package graft.sources

import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Region
import graft.formats.{Bgzf, FaiIndex, GziIndex, SeekableInputs}
import graft.sources.common.{GenomicPartitionReader, GenomicReaderFactory, GenomicScan, LineSourceUtil, Pushdown}

/** FAI-indexed FASTA region slicing (SURVEY §2.1 S14): one partition per
  * (sequence × overlapping region), each reading ONLY the bytes covering
  * the requested bases via the .fai byte math — never materializing the
  * full contig (a multi-GB row on a real genome). Bgzipped FASTA seeks
  * through the companion .gzi block map. Mirrors the reference's
  * seek-based subsequence extraction
  * (`/root/reference/oxbow/src/sequence/scanner/fasta.rs:105-121`);
  * selected automatically by `format("fasta")` when `regions` is set and
  * the indexes exist, falling back to the streaming scan otherwise. */
object FastaFaiSource {
  /** Test hook: bytes read from the underlying file by slice readers. */
  val bytesRead = new LongAdder

  private[sources] final class Counting(in: Bgzf.SeekableInput)
      extends Bgzf.SeekableInput {
    override def seek(p: Long): Unit = in.seek(p)
    override def readFully(buf: Array[Byte], off: Int, len: Int): Int = {
      val n = in.readFully(buf, off, len)
      if (n > 0) bytesRead.add(n)
      n
    }
    override def length: Long = in.length
    override def close(): Unit = in.close()
  }
}

/** One (sequence, region) slice. `headerStart` is the byte offset of the
  * record's `>` header line (computed from the previous entry's extent),
  * so the description column survives the fast path. `regionEnd` = -1
  * means to-end-of-sequence. */
case class FaiSlice(name: String, length: Long, offset: Long,
    lineBases: Long, lineWidth: Long, headerStart: Long,
    regionStart: Long, regionEnd: Long)

/** A PACKED set of slices of one file: a gene-panel query with
  * thousands of small regions must not plan thousands of tasks each
  * paying a full file open (+ .gzi fetch) for a few hundred bytes —
  * the same fragment-packing `GenomicIndex.packRanges` does for the
  * sibling indexed sources. Slices are ordered by byte offset so one
  * partition reads roughly sequentially through its shared stream. */
case class FaiSlicePartition(pathStr: String, gzi: Boolean,
    slices: Seq[FaiSlice]) extends InputPartition

class FaiSliceScan(fullSchema: StructType, paths: Seq[Path],
    options: Map[String, String], pushdown: Pushdown)
    extends GenomicScan("fasta-fai", fullSchema, paths, options, pushdown,
      FaiSliceReader.ctor) {

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = graft.sources.common.GraftHadoop.conf()
    val regions = LineSourceUtil.parseRegionsOption(options)
    val perFile = paths.map { p =>
      val gzi = LineSourceUtil.isGzip(p)
      val entries = FaiIndex.readFor(p, conf).getOrElse(Nil)
      // header line of entry i lies in (previous entry's last sequence
      // byte, this entry's sequence offset); the reader scans that span
      // forward for the first '>' line, so blank/comment lines between
      // records are tolerated. Clamp into [0, e.offset] and handle
      // zero-length previous sequences (whose extent is just the header).
      // Header starts ride per ENTRY (aligned to the offset-sorted list),
      // never through a name-keyed map: a malformed .fai with duplicate
      // names would silently read the other record's description.
      val byOffset = entries.sortBy(_.offset).toIndexedSeq
      val headerStarts: IndexedSeq[Long] = byOffset.zipWithIndex.map {
        case (_, 0) => 0L
        case (e, i) =>
          val prev = byOffset(i - 1)
          val afterPrev =
            if (prev.length <= 0) prev.offset
            else FaiIndex.byteOffset(prev, prev.length - 1) + 1
          math.max(0L, math.min(afterPrev, e.offset))
      }
      val slices = byOffset.zipWithIndex.flatMap { case (e, i) =>
        regions.filter(r => r.name == e.name && r.start < e.length).map { r =>
          FaiSlice(e.name, e.length, e.offset, e.lineBases, e.lineWidth,
            headerStarts(i), r.start, r.end.getOrElse(-1L))
        }
      }
      (p, gzi, slices)
    }
    // pack slices into byte-budgeted partitions (offset order → roughly
    // sequential reads per task); a thousand-region panel query becomes
    // a handful of tasks instead of a thousand file opens
    def sliceBytes(s: FaiSlice): Long = {
      val e = FaiIndex.Entry(s.name, s.length, s.offset, s.lineBases,
        s.lineWidth)
      val end = math.min(
        if (s.regionEnd < 0) s.length else s.regionEnd, s.length)
      if (end <= s.regionStart) 0L
      else FaiIndex.byteOffset(e, end - 1) + 1 -
        FaiIndex.byteOffset(e, s.regionStart)
    }
    val totalBytes = perFile.iterator
      .flatMap(_._3).map(sliceBytes).sum
    val budget = LineSourceUtil.maxSplitBytes(options,
      fallback = 128L * 1024 * 1024, totalBytes = totalBytes)
    perFile.flatMap { case (p, gzi, slices) =>
      val packed = Seq.newBuilder[FaiSlicePartition]
      var cur = List.empty[FaiSlice]
      var curBytes = 0L
      slices.sortBy(s => (s.offset, s.regionStart)).foreach { s =>
        val b = sliceBytes(s)
        if (cur.nonEmpty && curBytes + b > budget) {
          packed += FaiSlicePartition(p.toString, gzi, cur.reverse)
          cur = Nil
          curBytes = 0L
        }
        cur = s :: cur
        curBytes += b
      }
      if (cur.nonEmpty)
        packed += FaiSlicePartition(p.toString, gzi, cur.reverse)
      packed.result()
    }.toArray
  }
}

object FaiSliceReader {
  val ctor: GenomicReaderFactory.Ctor = (schema, pushdown, _, part) =>
    new FaiSliceReader(schema, pushdown, part.asInstanceOf[FaiSlicePartition])
}

class FaiSliceReader(fullSchema: StructType, pushdown: Pushdown,
    part: FaiSlicePartition)
    extends GenomicPartitionReader(fullSchema, pushdown) {

  private val path = new Path(part.pathStr)
  private val raw = new FastaFaiSource.Counting(
    SeekableInputs.forHadoop(path.getFileSystem(graft.sources.common.GraftHadoop.conf()), path))
  private val in: Bgzf.SeekableInput =
    if (part.gzi) {
      // the ctor owns `raw` until construction completes: a missing
      // .gzi (deleted between planning and execution) must close the
      // already-opened stream, not leak a handle per task retry
      val idx =
        try GziIndex.readFor(path, graft.sources.common.GraftHadoop.conf())
          .getOrElse(throw new IllegalStateException(
            s"missing .gzi for ${part.pathStr}"))
        catch { case e: Throwable => raw.close(); throw e }
      new GziIndex.UncompressedView(raw, idx)
    } else raw

  // rows are built BY NAME against whatever schema the session handed
  // us (supportsExternalMetadata lets a user declare a subset/reorder
  // of the canonical columns): a positional 5-slot row under a 2-field
  // user schema would silently serve the description as the sequence
  private val fullNames = fullSchema.fieldNames
  private val required = pushdown.required

  private val slices = part.slices.iterator

  override protected def nextRow(): InternalRow = {
    if (!slices.hasNext) return null
    val s = slices.next()
    val entry = FaiIndex.Entry(s.name, s.length, s.offset,
      s.lineBases, s.lineWidth)
    val endOpt = if (s.regionEnd < 0) None else Some(s.regionEnd)
    // the slice read (seek + bulk read + newline strip) is the whole
    // cost of this reader: projection-gated like `description` below,
    // so select(name, start, end) pays no sequence I/O at all
    val seq: String =
      if (!required.fieldNames.contains("sequence")) null
      else FaiIndex.slice(in, entry,
        Region(s.name, s.regionStart, endOpt))
    val end = math.min(endOpt.getOrElse(s.length), s.length)
    // description: parse the `>` header line (small, bounded by the
    // sequence offset) only if the projection needs it
    val desc: UTF8String =
      if (!required.fieldNames.contains("description")) null
      else {
        val len = (s.offset - s.headerStart).toInt
        val buf = new Array[Byte](len)
        in.seek(s.headerStart)
        val got = in.readFully(buf, 0, len)
        // same loud contract as FaiIndex.slice: a truncation inside
        // the header span must not silently parse a NUL-padded buffer
        require(got == len,
          s"short read of FASTA header span for '${s.name}' — wanted " +
            s"$len bytes at ${s.headerStart}, got $got (truncated " +
            "FASTA or stale .fai?)")
        val text = new String(buf, "UTF-8")
        text.linesIterator.find(_.startsWith(">")) match {
          case Some(h) =>
            val sp = h.indexOf(' ')
            if (sp < 0) null else UTF8String.fromString(h.substring(sp + 1))
          case None => null
        }
      }
    val values: Array[Any] = fullNames.map {
      case "name" => UTF8String.fromString(s.name)
      case "description" => desc
      case "start" => s.regionStart
      case "end" => end
      case "sequence" =>
        if (seq == null) null else UTF8String.fromString(seq)
      case _ => null // unknown user-declared column → null, not garbage
    }
    new GenericInternalRow(values)
  }

  override def close(): Unit = in.close()
}
