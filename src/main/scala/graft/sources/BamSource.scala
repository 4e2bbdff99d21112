package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.CoordSystem
import graft.formats.{BamCodec, BgzfRangeInputStream, GenomicIndex, SeekableInputs}
import graft.formats.Bgzf.VirtualPosition
import graft.sources.common.{BgzfIndexPlanner, GenomicPartitionReader, GenomicReaderFactory, GenomicScan, GenomicScanBuilder, GenomicTable, GraftTableProps, LineSourceUtil, Pushdown, RegionResidual}

/** DSv2 binary BAM reader (SURVEY §2.1 S2-S6).
  *
  * Capabilities mirrored from the reference scanner
  * (`/root/reference/oxbow/src/alignment/scanner/bam.rs`):
  *  - full scan with BGZF-chunk partitioning planned from the BAI/CSI
  *    index (`partition_from_index`, `util/index.rs:117-178`) — each
  *    partition is a virtual-position range, the Spark-native form of
  *    `scan_virtual_ranges` (S6)
  *  - indexed region queries: `regions` option or pushed `rname`
  *    equality → index chunk lookup + per-record overlap re-check (S3)
  *  - `unmapped=true`: scan from the index's last mapped offset (S4)
  *  - column pruning skips decode of unneeded fields, limit pushdown,
  *    tag schema via `tags` option or sampling discovery
  *
  * Options: `tags` ("NM:i,MD:Z"), `tag_scan_rows` (default 64, 0=none),
  * `regions`, `unmapped`, `coords` ("11" default), `maxpartitionbytes`.
  */
class BamDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "bam"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val paths = LineSourceUtil.resolvePaths(options)
    BamSource.schema(LineSourceUtil.optionsMap(options), paths)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // supportsExternalMetadata lets callers SKIP inference (e.g. a
    // catalog-supplied schema), not reorder or subset columns: the
    // decoder emits rows in FixedFields order, so a reordered user
    // schema would silently misalign every value ('rname' reading
    // qname bytes). Reject loudly; projection belongs in select().
    val fixed = BamSource.FixedFields
    val core =
      if (schema.fieldNames.lastOption.contains("tags"))
        schema.fields.dropRight(1).toSeq
      else schema.fields.toSeq
    require(core.map(f => (f.name, f.dataType)) ==
        fixed.map(f => (f.name, f.dataType)),
      "user-supplied BAM schema must match the source layout " +
        s"(${fixed.map(_.name).mkString(",")}[, tags]); got " +
        s"${schema.fieldNames.mkString(",")} — project with select() " +
        "instead of a reordered/subset schema")
    val paths = LineSourceUtil.resolvePaths(opts)
    // M5 catalog surface: chrom names/sizes from the header dictionary,
    // record counts from the index pseudo-bins (bam.rs:74-89).
    new GenomicTable(s"bam:${paths.mkString(",")}", schema,
      LineSourceUtil.optionsMap(opts),
      GraftTableProps.forPaths(paths, indexStats = true))(o =>
      new GenomicScanBuilder(schema, Some("rname"))(
        new BamScan(schema, paths, o, _)))
  }
}

object BamSource {
  val FixedFields: Seq[StructField] = Seq(
    StructField("qname", StringType), StructField("flag", IntegerType),
    StructField("rname", StringType), StructField("pos", LongType),
    StructField("mapq", IntegerType), StructField("cigar", StringType),
    StructField("rnext", StringType), StructField("pnext", LongType),
    StructField("tlen", IntegerType), StructField("seq", StringType),
    StructField("qual", StringType), StructField("end", LongType))

  def schema(options: Map[String, String], paths: Seq[Path]): StructType = {
    val tagDefs: Seq[(String, Char)] = options.get("tags") match {
      case Some(spec) => SamTags.parseTagSpec(spec)
      case None =>
        val n = options.get("tag_scan_rows").map(_.toInt).getOrElse(64)
        if (n == 0) Nil else discoverTags(paths.head, n)
    }
    if (tagDefs.isEmpty) StructType(FixedFields.toIndexedSeq)
    else StructType((FixedFields :+ StructField("tags",
      StructType(tagDefs.map { case (name, c) =>
        StructField(name, SamTags.sparkType(c))
      }.toIndexedSeq))).toIndexedSeq)
  }

  /** Sample the first `scanRows` records for (tag, type) pairs. */
  private def discoverTags(path: Path, scanRows: Int): Seq[(String, Char)] = {
    val conf = graft.sources.common.GraftHadoop.conf()
    val fs = path.getFileSystem(conf)
    val in = new BgzfRangeInputStream(SeekableInputs.forHadoop(fs, path),
      VirtualPosition(0L), None)
    val seen = mutable.LinkedHashMap.empty[String, Char]
    try {
      val le = new BamCodec.LEInput(in)
      val header = BamCodec.readHeader(le)
      val _ = header
      var n = 0
      var done = false
      while (n < scanRows && !done) {
        le.tryReadInt() match {
          case None => done = true
          case Some(blockSize) =>
            val block = le.readBytes(blockSize)
            val bb = java.nio.ByteBuffer.wrap(block)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.position(8)
            val lReadName = bb.get() & 0xff
            bb.position(12)
            val nCigar = bb.getShort & 0xffff
            bb.position(16)
            val lSeq = bb.getInt
            bb.position(32 + lReadName + nCigar * 4 + (lSeq + 1) / 2 + lSeq)
            while (bb.remaining() >= 3) {
              val tag = new String(Array(bb.get(), bb.get()), "ASCII")
              val tpe = bb.get().toChar
              val code: Char = tpe match {
                case 'B' =>
                  val sub = bb.get().toChar
                  val cnt = bb.getInt
                  skipTagArray(bb, sub, cnt)
                  if (sub == 'f') 'G' else 'L'
                case other => skipTagScalar(bb, other); normalize(other)
              }
              seen.get(tag) match {
                case Some(prev) if SamTags.sparkType(prev) !=
                  SamTags.sparkType(code) => seen(tag) = 'Z'
                case Some(_) => ()
                case None => seen(tag) = code
              }
            }
            n += 1
        }
      }
    } finally in.close()
    seen.toSeq
  }

  private def normalize(c: Char): Char = c match {
    case 'c' | 'C' | 's' | 'S' | 'i' | 'I' => 'i'
    case 'A' | 'H' => 'Z'
    case other => other
  }

  private def skipTagScalar(bb: java.nio.ByteBuffer, t: Char): Unit = t match {
    case 'A' | 'c' | 'C' => bb.get()
    case 's' | 'S' => bb.getShort
    case 'i' | 'I' | 'f' => bb.getInt
    case 'Z' | 'H' => while (bb.get() != 0) ()
    case other => throw new IllegalArgumentException(s"tag type '$other'")
  }
  private def skipTagArray(bb: java.nio.ByteBuffer, t: Char, n: Int): Unit = {
    val w = t match {
      case 'c' | 'C' => 1
      case 's' | 'S' => 2
      case 'i' | 'I' | 'f' => 4
      case other => throw new IllegalArgumentException(s"B subtype '$other'")
    }
    bb.position(bb.position() + w * n)
  }
}

/** A BAM partition: one or more record-aligned virtual-position ranges
  * of one file (region queries pack scattered index chunks into shared
  * partitions — `GenomicIndex.packRanges`), with optional residual
  * region list (0-based half-open) to re-check per record.
  * `unmappedOnly` keeps only flag-0x4 records — the tail scan starts at
  * the last indexed offset, but an index-less file scans everything and
  * sorted BAMs can interleave mate-placed unmapped reads with mapped
  * ones, so the flag is the authoritative filter (mirrors CramSource). */
case class BamInputPartition(pathStr: String, ranges: Seq[(Long, Long)],
    regions: Seq[(String, Long, Long)],
    unmappedOnly: Boolean = false) extends InputPartition

class BamScan(fullSchema: StructType, paths: Seq[Path],
    options: Map[String, String], pushdown: Pushdown)
    extends GenomicScan("bam", fullSchema, paths, options, pushdown,
      BamPartitionReader.ctor) {

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = graft.sources.common.GraftHadoop.conf()
    val unmappedOnly = options.get("unmapped").exists(_.toBoolean)
    val regions = GenomicScan.regions(options, pushdown.filters.toSeq, "rname")

    // caller-precomputed virtual-position ranges (scan_virtual_ranges,
    // `alignment/scanner/bam.rs:263-279`): bounds must be record starts.
    // Handled before any file-status lookup — this path needs no
    // lengths, so it stays RPC-free at planning time.
    val explicit = LineSourceUtil.parseRangesOption(options, "virtual_ranges")
    if (explicit.nonEmpty) {
      // explicit vpos ranges address one file's offsets; replaying them
      // per path would scan other files mid-record
      require(paths.lengthCompare(1) == 0,
        s"virtual_ranges address a single file's offsets; " +
          s"got ${paths.length} resolved paths")
      // the expert ranges pick the BYTES to scan, but regions/unmapped
      // remain row predicates — silently dropping them returned mapped
      // (or out-of-region) records against the caller's explicit ask
      val residual = regions.map(r =>
        (r.name, r.start, r.end.getOrElse(Long.MaxValue)))
      return paths.flatMap(p => explicit.map { case (a, b) =>
        BamInputPartition(p.toString, Seq((a, b)), residual,
          unmappedOnly = unmappedOnly)
      }).toArray
    }

    val (pathLens, maxSplit) = LineSourceUtil
      .pathLensAndBudget(paths, conf, options, 64L * 1024 * 1024,
        LineSourceUtil.BgzfSplitFloor)
    pathLens.flatMap { case (p, fileLen) =>
      val fs = p.getFileSystem(conf)
      val index = GenomicIndex.findFor(fs, p)
      // ONE header read per file serves every branch: the parsed
      // header (region refId resolution) and the header-end vpos =
      // first record boundary. The indexed-region branch used to open
      // a second stream for the same header — two opens + seeks +
      // inflates per file at planning time, a remote GET each on
      // object stores.
      val si = SeekableInputs.forHadoop(fs, p)
      val (header, headEnd) = try {
        val s = new BgzfRangeInputStream(si, VirtualPosition(0L), None)
        val h = BamCodec.readHeader(new BamCodec.LEInput(s))
        // aligned: an exhausted header block reports the NEXT block start,
        // matching index-derived split points so no empty leading
        // partition is planned
        (h, s.alignedVirtualPosition)
      } finally si.close()

      if (unmappedOnly) {
        // start after the last indexed (mapped) chunk; prefer the metadata
        // pseudo-bin's record-span end (what samtools writes it for), fall
        // back to the max real chunk end for minimal indexes
        val lastMapped = index.flatMap { ix =>
          ix.refs.iterator.flatMap(_.metadata.map(_.offEnd.value)).maxOption
            .orElse(ix.refs.iterator
              .flatMap(_.bins.valuesIterator.flatMap(_.chunks.map(_.end.value)))
              .maxOption)
        }.map(VirtualPosition(_)).getOrElse(headEnd)
        Seq(BamInputPartition(p.toString,
          Seq((lastMapped.value, VirtualPosition(fileLen, 0).value)),
          Nil, unmappedOnly = true))
      } else {
        // indexed region query or index-split full scan; region names
        // resolve through the already-read header
        lazy val refIds = header.refNames.zipWithIndex.toMap
        val plan = BgzfIndexPlanner.plan(fileLen, index, headEnd, regions,
          refIds.get(_).map(id => (id, header.refLengths(id).toLong)),
          maxSplit)
        plan.groups.map(BamInputPartition(p.toString, _, plan.residual))
      }
    }.toArray
  }
}

object BamPartitionReader {
  val ctor: GenomicReaderFactory.Ctor = (schema, pushdown, options, part) =>
    new BamPartitionReader(schema, pushdown, options,
      part.asInstanceOf[BamInputPartition])
}

class BamPartitionReader(fullSchema: StructType, pushdown: Pushdown,
    options: Map[String, String], part: BamInputPartition)
    extends GenomicPartitionReader(fullSchema, pushdown) {

  private val conf = graft.sources.common.GraftHadoop.conf()
  private val path = new Path(part.pathStr)
  private val fs = path.getFileSystem(conf)

  // read the header through a separate stream (ref name dictionary)
  private val header = {
    val si = SeekableInputs.forHadoop(fs, path)
    try {
      val s = new BgzfRangeInputStream(si, VirtualPosition(0L), None)
      BamCodec.readHeader(new BamCodec.LEInput(s))
    } finally si.close()
  }

  // ranges are record-aligned, so lazily concatenating one BGZF range
  // stream per range yields a single contiguous record stream
  // (graft.sources.common.RangeStreams — opens each range when reached,
  // closes only the open one)
  private val stream: java.io.InputStream =
    graft.sources.common.RangeStreams.bgzfRanges(fs, path, part.ranges)
  private val le = new BamCodec.LEInput(stream)

  private val required = pushdown.required
  private val tagSchema: Option[StructType] =
    if (fullSchema.fieldNames.contains("tags"))
      Some(fullSchema("tags").dataType.asInstanceOf[StructType])
    else None
  // the region residual reads RawRecord.refId/pos0/refLen, which the
  // decoder extracts unconditionally — region checks need no column
  // materialization, so the projection is used as-is
  private val need: Array[Boolean] = {
    val req = required.fieldNames.toSet
    BamSource.FixedFields.map(f => req(f.name)).toArray
  }
  private val coords =
    CoordSystem.fromCode(options.getOrElse("coords", "11"))
  private val decoder = new BamCodec.RecordDecoder(header, tagSchema, need,
    posShift = coords match {
      case CoordSystem.OneBasedClosed => 0L
      case CoordSystem.ZeroBasedHalfOpen => -1L
    },
    parseTags = required.fieldNames.contains("tags"),
    neededTags = graft.sources.common.LineSourceUtil
      .nestedStruct(pushdown.requiredNested, "tags").map(_.fieldNames.toSet))

  private val residual =
    new RegionResidual(part.regions, header.refNames.zipWithIndex)

  override protected def nextRow(): InternalRow = {
    while (true) {
      val rec = decoder.read(le)
      if (rec == null) return null
      // htslib bam_endpos convention: zero-reference-length records (no
      // CIGAR, all-clip/insert) span length 1
      if ((!part.unmappedOnly || (rec.flag & 0x4) != 0) &&
          (residual.isEmpty || residual.overlaps(rec.refId, rec.pos0,
            rec.pos0 + math.max(rec.refLen, 1L))))
        return rec.row
    }
    null
  }

  override def close(): Unit = stream.close()
}
