package graft.sources

import java.io.InputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Region
import graft.formats.{CramCodec, FaiIndex, RefNames, SeekableInputs, TagSlots}
import graft.sources.common.{GenomicPartitionReader, GenomicReaderFactory, GenomicScan, GenomicScanBuilder, GenomicTable, GraftTableProps, LineSourceUtil, Pushdown, RegionResidual}

/** DSv2 CRAM reader (SURVEY §2.1 S7) — the reference's CRAM scanner
  * surface (`/root/reference/oxbow/src/alignment/scanner/cram.rs:42-120`)
  * re-expressed as a Spark source: full scan, CRAI-indexed region
  * queries, unmapped-only scan, reference-based sequence reconstruction
  * via an indexed FASTA. Rows take the one alignment model shared with
  * SAM and BAM ([[AlignmentModel]]): its schema, tag slots and position
  * shift; tag values decode through `graft.formats.TagValues` (CRAM
  * stores them in BAM's encoding) and reference names through
  * `graft.formats.RefNames`.
  *
  * Options:
  *  - `reference`: FASTA path (with `.fai`) used to rebuild SEQ for
  *    mapped records; without it SEQ positions not covered by read
  *    features decode as `N` (bases live in the reference, not the CRAM)
  *  - `tags`, `tag_scan_rows` (0 drops the tags column), `regions`,
  *    `unmapped`, `coords` ("11" default)
  *
  * Partitioning: one partition per data container (CRAM's own write-time
  * batching, like the BBI section partitioner); region queries select
  * containers through the `.crai` index with a per-record residual
  * overlap check.
  */
class CramDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "cram"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CramSource.schema(LineSourceUtil.optionsMap(options),
      LineSourceUtil.resolvePaths(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    AlignmentModel.requireLayout(schema, "CRAM")
    val opts = new CaseInsensitiveStringMap(properties)
    val paths = LineSourceUtil.resolvePaths(opts)
    // M5 catalog surface: @SQ dictionary from the SAM header container
    new GenomicTable(s"cram:${paths.mkString(",")}", schema,
      LineSourceUtil.optionsMap(opts), GraftTableProps.forPaths(paths))(o =>
      new GenomicScanBuilder(schema, Some("rname"))(
        new CramScan(schema, paths, o, _)))
  }
}

object CramSource {
  /** The alignment model's schema ([[AlignmentModel]]); by default the
    * `tags` struct comes from the first data container's tag dictionary —
    * CRAM's TD IS the tag discovery, no record sampling needed.
    * `tag_scan_rows=0` disables the column (BAM-compatible switch). */
  def schema(options: Map[String, String], paths: Seq[Path]): StructType =
    AlignmentModel.schema(options, defaultScanRows = 1)(_ =>
      paths.headOption.map(discoverTags).getOrElse(Nil))

  /** Union of the first data container's TD lines, in appearance order. */
  private def discoverTags(path: Path): Seq[(String, Char)] = {
    val fs = path.getFileSystem(graft.sources.common.GraftHadoop.conf())
    val in = SeekableInputs.forHadoop(fs, path)
    try {
      val s = new CountingStream(in, readHeader(in)._2)
      if (s.pos >= in.length) return Nil
      val ch = CramCodec.readContainerHeader(s)
      if (ch.isEof || ch.nRecords == 0) return Nil
      val block = CramCodec.readBlock(s)
      if (block.contentType != 1) return Nil
      val comp = CramCodec.readCompressionHeader(block.data)
      val types = new AlignmentModel.TagTypes
      comp.tagDictionary.flatten.foreach { case (tag, tpe) =>
        types.add(tag, tpe)
      }
      types.result
    } catch {
      case _: Exception => Nil
    } finally in.close()
  }

  /** Tracks the absolute file offset while parsing container headers. */
  final class CountingStream(in: graft.formats.Bgzf.SeekableInput,
      var pos: Long) extends InputStream {
    private val one = new Array[Byte](1)
    override def read(): Int = {
      in.seek(pos)
      val n = in.readFully(one, 0, 1)
      if (n < 1) -1 else { pos += 1; one(0) & 0xff }
    }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      in.seek(pos)
      val n = in.readFully(buf, off, len)
      if (n <= 0) -1 else { pos += n; n }
    }
  }

  final case class ContainerRef(offset: Long, refSeqId: Int, start: Int,
      span: Int, nRecords: Int)

  /** The SAM header text and the offset of the first data container,
    * from the file definition and the header container alone. */
  private def readHeader(in: graft.formats.Bgzf.SeekableInput)
      : (String, Long) = {
    val s = new CountingStream(in, 0L)
    CramCodec.readFileDefinition(s)
    // first container holds the SAM header block; samtools pads this
    // container (and may write extra blocks) so the in-place header-rewrite
    // trick works, so the next container starts at the declared container
    // `length` past the header — NOT at the end of the first block
    // (spec §9; bug found against /root/reference/fixtures/sample.cram)
    val h0 = CramCodec.readContainerHeader(s)
    val h0DataStart = s.pos
    val d = CramCodec.readBlock(s).data
    val len = (d(0) & 0xff) | ((d(1) & 0xff) << 8) |
      ((d(2) & 0xff) << 16) | ((d(3) & 0xff) << 24)
    (new String(d, 4, math.min(len, d.length - 4), "UTF-8"),
      h0DataStart + h0.length)
  }

  /** The SAM header text; reads no data container. */
  def readHeaderText(in: graft.formats.Bgzf.SeekableInput): String =
    readHeader(in)._1

  /** Walk container headers (cheap seeks, no block decode) and return the
    * SAM header text plus the data containers. */
  def scanContainers(in: graft.formats.Bgzf.SeekableInput)
      : (String, Seq[ContainerRef]) = {
    val (headerText, afterHeader) = readHeader(in)
    val s = new CountingStream(in, afterHeader)
    val out = scala.collection.mutable.ArrayBuffer.empty[ContainerRef]
    var offset = afterHeader
    var done = false
    while (!done && offset < in.length) {
      s.pos = offset
      val ch =
        try CramCodec.readContainerHeader(s)
        catch { case _: java.io.EOFException => done = true; null }
      if (!done) {
        if (ch.isEof) done = true
        else {
          out += ContainerRef(offset, ch.refSeqId, ch.startPos, ch.span,
            ch.nRecords)
          offset = s.pos + ch.length // skip the container's blocks
        }
      }
    }
    (headerText, out.toSeq)
  }

  /** `@SQ` dictionary from the SAM header text, in declaration order. */
  def refDictionary(headerText: String): Seq[(String, Int)] =
    headerText.split("\n").toSeq.filter(_.startsWith("@SQ")).map { line =>
      val fields = line.split("\t")
      val sn = fields.collectFirst { case f if f.startsWith("SN:") =>
        f.substring(3) }.getOrElse("")
      val ln = fields.collectFirst { case f if f.startsWith("LN:") =>
        f.substring(3).toInt }.getOrElse(0)
      (sn, ln)
    }
}

/** One data container, with the residual region list (0-based half-open).
  * `unmappedOnly` keeps only records with the BAM unmapped flag (0x4) —
  * needed because unmapped-placed records may live inside multi-ref (-2)
  * containers, not just the unmapped (-1) tail. */
case class CramInputPartition(pathStr: String, containerOffset: Long,
    regions: Seq[(String, Long, Long)],
    unmappedOnly: Boolean = false) extends InputPartition

class CramScan(fullSchema: StructType, paths: Seq[Path],
    options: Map[String, String], pushdown: Pushdown)
    extends GenomicScan("cram", fullSchema, paths, options, pushdown,
      CramPartitionReader.ctor) {

  override protected def planPartitions(): Array[InputPartition] = {
    val conf = graft.sources.common.GraftHadoop.conf()
    val regions = GenomicScan.regions(options, pushdown.filters.toSeq, "rname")
    val unmappedOnly = options.get("unmapped").exists(_.toBoolean)
    paths.flatMap { p =>
      val fs = p.getFileSystem(conf)
      val craiPath = new Path(p.toString + ".crai")
      // a .crai region query never uses the container list, which costs
      // a header read per container: read the header container only
      val useCrai = !unmappedOnly && regions.nonEmpty && fs.exists(craiPath)
      val in = SeekableInputs.forHadoop(fs, p)
      val (headerText, containers) =
        try {
          if (useCrai) (CramSource.readHeaderText(in), Nil)
          else CramSource.scanContainers(in)
        } finally in.close()
      val dict = CramSource.refDictionary(headerText)
      val refIds = dict.map(_._1).zipWithIndex.toMap
      val refLens = dict.map(_._2)
      if (unmappedOnly) {
        // -1 containers hold the unplaced tail; -2 (multi-ref) containers
        // may interleave unmapped-placed records with mapped ones, so they
        // are scanned too with a per-record flag residual (the reference
        // seeks by index, alignment/scanner/bam.rs:214-230; container
        // granularity is CRAM's natural analogue)
        containers.filter(c =>
            (c.refSeqId == -1 || c.refSeqId == -2) && c.nRecords > 0)
          .map(c => CramInputPartition(p.toString, c.offset, Nil,
            unmappedOnly = true))
      } else if (regions.nonEmpty) {
        val resolved = regions.flatMap { r =>
          refIds.get(r.name).map { id =>
            val end = r.end.getOrElse(
              refLens.lift(id).map(_.toLong).getOrElse(Long.MaxValue))
            (id, r.name, r.start, end)
          }
        }
        // .crai narrows to overlapping slices' containers; fall back to
        // header-level container spans when no index exists
        val offsets: Seq[Long] =
          if (useCrai) {
            val cin = fs.open(craiPath)
            val entries = try CramCodec.readCrai(cin) finally cin.close()
            entries.filter { e =>
              resolved.exists { case (id, _, s, en) =>
                e.refSeqId == id && e.start - 1 < en &&
                  (e.start - 1 + e.span) > s
              }
            }.map(_.containerOffset).distinct
          } else {
            containers.filter { c =>
              resolved.exists { case (id, _, s, en) =>
                c.refSeqId == id && c.start - 1 < en &&
                  (c.start - 1 + c.span) > s
              } ||
                // multi-ref containers are checked per record, unless no
                // region names a reference of this file: an empty
                // residual would then keep their records whole
                c.refSeqId == -2 && resolved.nonEmpty
            }.map(_.offset)
          }
        val residual = resolved.map { case (_, n, s, e) => (n, s, e) }
        offsets.sorted.map(off =>
          CramInputPartition(p.toString, off, residual))
      } else {
        containers.map(c => CramInputPartition(p.toString, c.offset, Nil))
      }
    }.toArray
  }
}

object CramPartitionReader {
  val ctor: GenomicReaderFactory.Ctor = (schema, pushdown, options, part) =>
    new CramPartitionReader(schema, pushdown, options,
      part.asInstanceOf[CramInputPartition])
}

/** Reads one data container. Each slice decodes in one pass
  * ([[CramCodec.decodeSlice]]), and its reference bases are one byte
  * array from the slice's start: the embedded-reference block, or the
  * span read once from the indexed FASTA. Rows are built from bytes: seq
  * and cigar are ASCII arrays ([[CramCodec.reconstruct]]), qual is the
  * phred bytes plus 33, qname the RN bytes, and rname/rnext come from
  * one [[graft.formats.RefNames]] table (null past the dictionary). Tags
  * fill only the projected tag slots. Series and blocks no projected
  * column needs are skipped. */
class CramPartitionReader(fullSchema: StructType, pushdown: Pushdown,
    options: Map[String, String], part: CramInputPartition)
    extends GenomicPartitionReader(fullSchema, pushdown) {

  private val conf = graft.sources.common.GraftHadoop.conf()
  private val path = new Path(part.pathStr)
  private val fs = path.getFileSystem(conf)
  private val in = SeekableInputs.forHadoop(fs, path)

  private val posShift = AlignmentModel.posShift(options)

  // reference dictionary from the SAM header container
  private val refNames: IndexedSeq[String] =
    CramSource.refDictionary(CramSource.readHeaderText(in)).map(_._1)
      .toIndexedSeq
  private val residual = new RegionResidual(part.regions, refNames.zipWithIndex)
  private val refNamesUtf8 = new RefNames(refNames)

  // the tag slots a projected tags struct fills (nested pruning), or null
  private val slots: TagSlots =
    AlignmentModel.tagSlots(fullSchema, pushdown.requiredNested).orNull

  // projection-aware decode: quality scores, read names and tags are the
  // bulkiest CRAM series; when un-projected their reads are skipped and
  // (for purely-external series) their blocks are never decompressed.
  // Region predicates only consult refId/start/refLen, which are always
  // decoded, so required-based skipping is safe under region queries too.
  private val required = pushdown.required
  private val wantQual = required.fieldNames.contains("qual")
  private val wantQname = required.fieldNames.contains("qname")
  // seq/cigar reconstruction (per-base reference fill + cigar assembly)
  // is the dominant per-record CPU after block decode; `end` only needs
  // the feature-derived reference length, so a coordinate projection
  // skips reconstruct entirely
  private val wantSeq = required.fieldNames.contains("seq")
  private val wantCigar = required.fieldNames.contains("cigar")

  // optional indexed FASTA for sequence reconstruction
  private val reference: Option[(Path, Seq[FaiIndex.Entry])] =
    options.get("reference").flatMap { refPath =>
      val rp = new Path(refPath)
      FaiIndex.readFor(rp, conf).map(entries => (rp, entries))
    }

  /** Decode the partition's container lazily per slice: each call
    * returns the next kept record's row, null at the end. */
  private val rows: () => InternalRow = {
    val s = new CramSource.CountingStream(in, part.containerOffset)
    val container = CramCodec.readContainerHeader(s)
    if (container.isEof || container.nRecords == 0) () => null
    else {
      val comp = {
        val b = CramCodec.readBlock(s)
        require(b.contentType == 1, s"expected compression header block")
        CramCodec.readCompressionHeader(b.data)
      }
      val doTags = slots != null
      val substitutions = CramCodec.substitutionTable(comp.substitutionMatrix)
      def dataEnc(k: String) =
        comp.dataSeries.getOrElse(k, CramCodec.NullEncoding)
      // Skip candidates: series whose values no projected column consumes
      // AND whose reads never touch the shared core bitstream. A
      // candidate is only actually skippable if its external blocks are
      // disjoint from every block a retained series still reads — the
      // spec allows two EXTERNAL series to share one block, and skipping
      // one of them would desynchronize the shared cursor. The loop is a
      // fixpoint: demoting a candidate to "read" grows the read-id set,
      // which can demote further candidates (sets are tiny, it converges
      // in <= a few passes).
      val candData: Set[String] =
        ((if (wantQual) Set.empty[String] else Set("QS", "QQ")) ++
          (if (wantQname) Set.empty[String] else Set("RN")))
          .filter(k => CramCodec.pureExternal(dataEnc(k)))
      val candTags: Set[Int] =
        if (doTags) Set.empty
        else comp.tagEncodings.collect {
          case (k, e) if CramCodec.pureExternal(e) => k
        }.toSet
      var skipKeys = candData
      var skipTagKeys = candTags
      var stable = false
      while (!stable) {
        val readIds: Set[Int] =
          comp.dataSeries.collect {
            case (k, e) if !skipKeys(k) => CramCodec.externalIds(e)
          }.flatten.toSet ++
            comp.tagEncodings.collect {
              case (k, e) if !skipTagKeys(k) => CramCodec.externalIds(e)
            }.flatten.toSet
        val d = skipKeys.filter(k =>
          (CramCodec.externalIds(dataEnc(k)) intersect readIds).isEmpty)
        val t = skipTagKeys.filter(k => (CramCodec.externalIds(
          comp.tagEncodings(k)) intersect readIds).isEmpty)
        stable = d == skipKeys && t == skipTagKeys
        skipKeys = d
        skipTagKeys = t
      }
      // external blocks referenced only by skipped series need no
      // decompression at all — for quality-heavy CRAMs that is most of
      // the decode CPU (disjointness from read blocks holds by the
      // fixpoint above)
      val skippableIds: Set[Int] =
        skipKeys.flatMap(k => CramCodec.externalIds(dataEnc(k))) ++
          skipTagKeys.flatMap(k =>
            CramCodec.externalIds(comp.tagEncodings(k)))
      // remaining blocks: slices (header + core + externals)
      val slices = scala.collection.mutable.ArrayBuffer
        .empty[(CramCodec.SliceHeader, Array[Byte], Map[Int, Array[Byte]])]
      var blocksRead = 1
      while (blocksRead < container.nBlocks) {
        val sh = CramCodec.readBlock(s)
        require(sh.contentType == 2,
          s"expected slice header block, got ${sh.contentType}")
        val slice = CramCodec.readSliceHeader(sh.data)
        var core: Array[Byte] = Array.empty
        val ext = Map.newBuilder[Int, Array[Byte]]
        (0 until slice.nBlocks).foreach { _ =>
          val b = CramCodec.readBlock(s,
            id => skippableIds(id) && id != slice.embeddedRefId)
          if (b.contentType == 5) core = b.data
          else if (b.data != null) ext += b.contentId -> b.data
        }
        slices += ((slice, core, ext.result()))
        blocksRead += 1 + slice.nBlocks
      }
      // explicit per-record loop instead of
      // slices.iterator.flatMap { records.iterator.map(toRow) }: the
      // per-record dispatch is a direct monomorphic toRow call, not a
      // lambda under two generic iterator adapters whose steady-state
      // cost depends on whether C2 happens to inline them (the same
      // per-JVM coin flip fixed in the text-scan path this round)
      new (() => InternalRow) {
        private var si = 0
        private var records: collection.IndexedSeq[CramCodec.CramRecord] = null
        private var ri = 0
        // the slice's reference bases from 0-based position refStart on,
        // null when the slice has none
        private var ref: Array[Byte] = null
        private var refStart = 0L

        private def loadSlice(): Unit = {
          val (slice, core, ext) = slices(si)
          si += 1
          records = CramCodec.decodeSlice(comp, slice, core, ext,
            decodeTags = doTags, skipSeries = skipKeys,
            skipTagKeys = skipTagKeys)
          ri = 0
          refStart = math.max(0L, slice.start - 1L)
          // reference bases for this slice: an embedded-reference block
          // takes precedence (self-contained slices), else seek the span
          // out of the indexed FASTA once
          val embedded =
            if (slice.embeddedRefId < 0) None else ext.get(slice.embeddedRefId)
          ref =
            if (slice.refSeqId < 0) null
            else embedded.orElse(reference.flatMap { case (rp, entries) =>
              val name = refNames.lift(slice.refSeqId).getOrElse("")
              entries.find(_.name == name).map { e =>
                val end0 = math.min(e.length, refStart + slice.span.toLong)
                val rin = SeekableInputs.forHadoop(rp.getFileSystem(conf), rp)
                try FaiIndex.slice(rin, e, Region(name, refStart, Some(end0)))
                  .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
                finally rin.close()
              }
            }).orNull
        }

        override def apply(): InternalRow = {
          while (true) {
            while ((records == null || ri >= records.length) &&
              si < slices.length) loadSlice()
            if (records == null || ri >= records.length) return null
            val rec = records(ri)
            ri += 1
            if (keep(rec)) return toRow(rec, substitutions, ref, refStart)
          }
          null
        }
      }
    }
  }

  private val outWidth: Int =
    12 + (if (AlignmentModel.tagSchema(fullSchema).isDefined) 1 else 0)

  /** The record's tags in its slots: rec.tags is small, the tag schema
    * can be wide, so iterate the record's tags. Duplicate tags last-win. */
  private def buildTagsRow(rec: CramCodec.CramRecord): GenericInternalRow = {
    val arr = new Array[Any](slots.schema.length)
    val it = rec.tags.iterator
    while (it.hasNext) {
      val (tag, tpe, bytes) = it.next()
      val slot = slots.slot(tag.charAt(0), tag.charAt(1))
      if (slot >= 0) arr(slot) = slots.read(java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN), tpe, slot)
    }
    new GenericInternalRow(arr)
  }

  /** Phred bytes as SAM qual text (each + 33); null when absent or all
    * 0xFF (the BAM "no qualities" marker). */
  private def qualText(qs: Array[Byte]): UTF8String = {
    if (qs == null) return null
    var all255 = true
    var i = 0
    while (all255 && i < qs.length) {
      if (qs(i) != 0xff.toByte) all255 = false
      i += 1
    }
    if (all255) null
    else {
      val text = new Array[Byte](qs.length)
      var j = 0
      while (j < qs.length) { text(j) = (qs(j) + 33).toByte; j += 1 }
      UTF8String.fromBytes(text)
    }
  }

  private def toRow(rec: CramCodec.CramRecord, substitutions: Array[Byte],
      ref: Array[Byte], refStart: Long): InternalRow = {
    val mapped = !rec.isUnmapped && rec.refId >= 0
    val (cigar, seq) =
      if (!wantSeq && !wantCigar) (null, null) // un-projected: skip rebuild
      else if (mapped)
        CramCodec.reconstruct(rec, substitutions, ref, refStart)
      else (null, rec.bases)
    val out = new Array[Any](outWidth)
    if (rec.readName != null) out(0) = UTF8String.fromBytes(rec.readName)
    out(1) = rec.bamFlags
    out(2) = refNamesUtf8(rec.refId)
    // placement, not mappedness, as in the BAM decoder: a flag-0x4 read
    // with a position keeps it
    if (rec.alignmentStart > 0) out(3) = rec.alignmentStart.toLong + posShift
    out(4) = rec.mappingQuality
    if (cigar != null && cigar.length > 0) out(5) = UTF8String.fromBytes(cigar)
    out(6) = refNamesUtf8(rec.mateRefId)
    if (rec.matePos > 0) out(7) = rec.matePos.toLong + posShift
    out(8) = rec.templateSize
    if (seq != null && seq.length > 0) out(9) = UTF8String.fromBytes(seq)
    if (wantQual) out(10) = qualText(rec.qualityScores)
    // end is invariant across coord systems (1-based closed end equals
    // the 0-based half-open end), matching the BAM reader; a read that
    // covers no reference base has none
    if (mapped && rec.referenceLength > 0)
      out(11) = rec.alignmentStart.toLong + rec.referenceLength - 1
    if (slots != null) out(12) = buildTagsRow(rec)
    new GenericInternalRow(out)
  }

  // an unmapped record has no position, so no region keeps it; placed
  // records with no reference span count as length 1 (htslib
  // bam_endpos convention)
  private def keep(rec: CramCodec.CramRecord): Boolean =
    (!part.unmappedOnly || rec.isUnmapped) && (residual.isEmpty ||
      !rec.isUnmapped && {
        val start0 = rec.alignmentStart - 1L
        residual.overlaps(rec.refId, start0,
          start0 + math.max(rec.referenceLength, 1))
      })

  override protected def nextRow(): InternalRow = rows()

  override def close(): Unit = in.close()
}
