package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.formats.{BamCodec, BcfCodec, BgzfRangeInputStream, GenomicIndex, SeekableInputs, VariantValues}
import graft.formats.Bgzf.VirtualPosition
import graft.sources.common.{BgzfIndexPlanner, GenomicPartitionReader, GenomicReaderFactory, GenomicScan, GenomicScanBuilder, GenomicTable, GraftTableProps, LineSourceUtil, Pushdown, RegionResidual}

/** DSv2 binary BCF reader (SURVEY §2.1 S9). It reads through the one
  * variant model it shares with the VCF text reader, [[VariantModel]]
  * (like the reference's vcf/bcf scanner pair over one model,
  * `variant/scanner/{vcf,bcf}.rs`): the same schema, multi-file sample
  * guard, per-partition [[VariantLayout]] and value rules
  * ([[graft.formats.VariantValues]]), so a BCF reads as the same rows as
  * its VCF text. This file keeps the typed-value decode
  * ([[graft.formats.BcfCodec]]) and the BGZF + CSI partitioning and
  * region queries, which ride the same index machinery as BAM.
  *
  * Options: `include_samples`, `genotype_by`, `samples`, `info_fields`,
  * `coords` ("11" default), `regions`, `maxpartitionbytes`, `mode`.
  */
class BcfDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "bcf"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    VariantModel.schema(LineSourceUtil.resolvePaths(options),
      LineSourceUtil.optionsMap(options))(p =>
      VariantModel.header(BcfSource.readHeaderText(p).linesIterator))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    VariantModel.requireLayout(schema, "BCF")
    val opts = new CaseInsensitiveStringMap(properties)
    val paths = LineSourceUtil.resolvePaths(opts)
    // M5 catalog surface: ##contig dictionary + CSI record stats
    new GenomicTable(s"bcf:${paths.mkString(",")}", schema,
      LineSourceUtil.optionsMap(opts),
      GraftTableProps.forPaths(paths, indexStats = true))(o =>
      new GenomicScanBuilder(schema, Some("chrom"))(
        new BcfScan(schema, paths, o, _)))
  }
}

object BcfSource {

  private[sources] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[BcfPartitionReader])

  def readHeaderText(path: Path): String = {
    val fs = path.getFileSystem(graft.sources.common.GraftHadoop.conf())
    val si = SeekableInputs.forHadoop(fs, path)
    try {
      val s = new BgzfRangeInputStream(si, VirtualPosition(0L), None)
      val le = new BamCodec.LEInput(s)
      val magic = le.readBytes(3)
      require(magic.sameElements("BCF".getBytes), "bad BCF magic")
      le.readBytes(2) // version major.minor
      val lText = le.readInt()
      new String(le.readBytes(lText), "UTF-8").takeWhile(_ != '\u0000')
    } finally si.close()
  }

  /** End-of-header virtual position (first record boundary). */
  def headerEndVpos(path: Path): VirtualPosition = {
    val fs = path.getFileSystem(graft.sources.common.GraftHadoop.conf())
    val si = SeekableInputs.forHadoop(fs, path)
    try {
      val s = new BgzfRangeInputStream(si, VirtualPosition(0L), None)
      val le = new BamCodec.LEInput(s)
      le.readBytes(5)
      val lText = le.readInt()
      le.readBytes(lText)
      // aligned: see BamSource — avoids a record-less leading partition
      s.alignedVirtualPosition
    } finally si.close()
  }
}

case class BcfInputPartition(pathStr: String, ranges: Seq[(Long, Long)],
    regions: Seq[(String, Long, Long)]) extends InputPartition

class BcfScan(fullSchema: StructType, paths: Seq[Path],
    options: Map[String, String], pushdown: Pushdown)
    extends GenomicScan("bcf", fullSchema, paths, options, pushdown,
      BcfPartitionReader.ctor) {

  override protected def planPartitions(): Array[InputPartition] = {
    val conf = graft.sources.common.GraftHadoop.conf()
    val (pathLens, maxSplit) = LineSourceUtil
      .pathLensAndBudget(paths, conf, options, 64L * 1024 * 1024,
        LineSourceUtil.BgzfSplitFloor)
    val regions = GenomicScan.regions(options, pushdown.filters.toSeq, "chrom")
    pathLens.flatMap { case (p, fileLen) =>
      val index = GenomicIndex.findFor(p.getFileSystem(conf), p)
      // each header read only on the branch that needs it: the region
      // query resolves names through the header dictionaries, the full
      // scan starts at the header-end vpos
      lazy val refIds = BcfCodec.dictionaries(BcfSource.readHeaderText(p))
        .contigs.zipWithIndex.toMap
      val plan = BgzfIndexPlanner.plan(fileLen, index,
        BcfSource.headerEndVpos(p), regions,
        refIds.get(_).map(_ -> (Long.MaxValue >> 17)), maxSplit)
      plan.groups.map(BcfInputPartition(p.toString, _, plan.residual))
    }.toArray
  }
}

object BcfPartitionReader {
  val ctor: GenomicReaderFactory.Ctor = (schema, pushdown, options, part) =>
    new BcfPartitionReader(schema, pushdown, options,
      part.asInstanceOf[BcfInputPartition])
}

class BcfPartitionReader(fullSchema: StructType, pushdown: Pushdown,
    options: Map[String, String], part: BcfInputPartition)
    extends GenomicPartitionReader(fullSchema, pushdown)
    with VariantLayout.Cells {

  private val path = new Path(part.pathStr)
  private val fs = path.getFileSystem(graft.sources.common.GraftHadoop.conf())
  private val headerText = BcfSource.readHeaderText(path)
  private val dict = BcfCodec.dictionaries(headerText)
  private val shift = VariantModel.posShift(options)

  // ranges are record-aligned; lazily concatenate one BGZF range stream
  // per range (multi-range partitions — graft.sources.common.RangeStreams)
  private val stream: java.io.InputStream =
    graft.sources.common.RangeStreams.bgzfRanges(fs, path, part.ranges)
  private val le = new BamCodec.LEInput(stream)

  private val residual =
    new RegionResidual(part.regions, dict.contigs.zipWithIndex)

  private val layout = new VariantLayout(fullSchema, pushdown.requiredNested,
    options.getOrElse("genotype_by", "sample") == "field", "BCF")

  // projection-aware decode: un-projected INFO values / the whole
  // per-sample block skip typed decoding, and un-requested INFO keys and
  // FORMAT fields are size-skipped in the codec, never boxed (region
  // residual checks use contigId/pos0/rlen, which are always decoded)
  private def byDict(index: Map[String, Int]): Array[Int] =
    dict.strings.map(n => if (n == null) -1 else index.getOrElse(n, -1)).toArray
  // dictionary index → info slot / layout FORMAT key, -1 when not read
  private val infoSlotByDict = byDict(layout.infoIndex)
  private val formatKeyByDict = byDict(layout.formatKeys.zipWithIndex.toMap)
  private def lookup(table: Array[Int], k: Int): Int =
    if (k >= 0 && k < table.length) table(k) else -1
  private val wantInfoKey: Int => Boolean = lookup(infoSlotByDict, _) >= 0
  private val wantFmtKey: Int => Boolean = lookup(formatKeyByDict, _) >= 0

  // same malformed-record policy as the text reader (FAILFAST raises,
  // PERMISSIVE skips the record)
  private val permissive =
    options.getOrElse("mode", "FAILFAST").equalsIgnoreCase("permissive")
  private var skipped = 0L

  override protected def nextRow(): InternalRow = {
    while (true) {
      BcfCodec.readRecord(le, layout.infoSlot >= 0, layout.samplesSlot >= 0,
        wantInfoKey, wantFmtKey) match {
        case None => return null
        case Some(rec) if residual.isEmpty || residual.overlaps(
            rec.contigId, rec.pos0, rec.pos0 + rec.rlen) =>
          val row =
            if (!permissive) toRow(rec)
            else try toRow(rec) catch {
              case e: Exception =>
                skipped += 1
                if (skipped <= 10) BcfSource.log.warn(
                  s"skipping malformed BCF record: ${e.getMessage}")
                null
            }
          if (row != null) return row
        case _ => ()
      }
    }
    null
  }

  private def utf8(s: String) = UTF8String.fromString(s)

  private def infoRow(rec: BcfCodec.BcfRecord): GenericInternalRow = {
    val arr = new Array[Any](layout.infoWidth)
    val it = rec.info.iterator
    while (it.hasNext) {
      val (keyIdx, v) = it.next()
      val slot = lookup(infoSlotByDict, keyIdx)
      if (slot >= 0) arr(slot) = layout.info(slot,
        VariantValues.fromTyped(v, layout.infoTargets(slot)))
    }
    new GenericInternalRow(arr)
  }

  // the record's per-sample vectors by layout FORMAT key, for cell()
  private val formatVals = new Array[IndexedSeq[Any]](layout.formatKeys.length)

  override def cell(key: Int, sample: Int, target: Int): Any = {
    val vals = formatVals(key)
    if (vals == null || sample >= vals.size) null
    else VariantValues.fromTyped(vals(sample), target)
  }

  private def samplesRow(rec: BcfCodec.BcfRecord): GenericInternalRow = {
    java.util.Arrays.fill(formatVals.asInstanceOf[Array[AnyRef]], null)
    val it = rec.formats.iterator
    while (it.hasNext) {
      val (keyIdx, vals) = it.next()
      val key = lookup(formatKeyByDict, keyIdx)
      // a duplicated FORMAT key resolves to its first occurrence
      if (key >= 0 && formatVals(key) == null) formatVals(key) = vals
    }
    layout.samplesRow(this)
  }

  private def toRow(rec: BcfCodec.BcfRecord): InternalRow = {
    val out = new Array[Any](layout.width)
    if (rec.contigId >= 0 && rec.contigId < dict.contigs.size)
      out(0) = utf8(dict.contigs(rec.contigId))
    out(1) = rec.pos0 + 1 + shift
    if (rec.ids.nonEmpty)
      out(2) = ArrayData.toArrayData(rec.ids.map(utf8).toArray)
    if (rec.ref.nonEmpty) out(3) = utf8(rec.ref)
    if (rec.alts.nonEmpty)
      out(4) = ArrayData.toArrayData(rec.alts.map(utf8).toArray)
    out(5) = rec.qual.map(Float.box).orNull
    if (rec.filters.nonEmpty)
      out(6) = ArrayData.toArrayData(rec.filters.map { i =>
        // guarded like the INFO lookup: an index outside the header
        // dictionary (or an IDX= hole) is a malformed record, not a
        // raw IndexOutOfBounds/NPE
        require(i >= 0 && i < dict.strings.size && dict.strings(i) != null,
          s"FILTER index $i not in the header dictionary")
        utf8(dict.strings(i))
      }.toArray)
    if (layout.infoSlot >= 0) out(layout.infoSlot) = infoRow(rec)
    if (layout.samplesSlot >= 0) out(layout.samplesSlot) = samplesRow(rec)
    new GenericInternalRow(out)
  }

  override def close(): Unit = stream.close()
}
