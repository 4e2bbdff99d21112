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

import graft.core.CoordSystem
import graft.formats.{BamCodec, BcfCodec, BgzfRangeInputStream, GenomicIndex, SeekableInputs}
import graft.formats.Bgzf.VirtualPosition
import graft.sources.common.{BgzfIndexPlanner, GenomicPartitionReader, GenomicReaderFactory, GenomicScan, GenomicScanBuilder, GenomicTable, GraftTableProps, LineSourceUtil, Pushdown, RegionResidual}

/** DSv2 binary BCF reader (SURVEY §2.1 S9).
  *
  * Same row shape as the VCF text reader (drop-in interchangeable, like
  * the reference's vcf/bcf scanner pair `variant/scanner/{vcf,bcf}.rs`):
  * fixed columns + header-driven `info` struct + `samples` struct with GT
  * special-casing, both genotype layouts. BGZF + CSI partitioning and
  * region queries ride the same index machinery as BAM.
  *
  * Options: `include_samples`, `genotype_by`, `samples`, `info_fields`,
  * `coords` ("11" default), `regions`, `maxpartitionbytes`.
  */
class BcfDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "bcf"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val paths = LineSourceUtil.resolvePaths(options)
    val opts = LineSourceUtil.optionsMap(options)
    val header = VcfHeader.fromLines(
      BcfSource.readHeaderText(paths.head).linesIterator)
    // same guard as VcfFormat.schema: the sample slot mapping comes
    // from ONE header — a file with a different sample order would
    // silently swap genotype columns
    // no samples.nonEmpty short-circuit: a sites-only FIRST file would
    // otherwise skip the check and silently drop the other files'
    // genotype columns ([] vs [A,B] is exactly a differing header)
    if (paths.length > 1 &&
        opts.getOrElse("include_samples", "true").toBoolean)
      paths.tail.foreach { p =>
        val other = BcfSource.sampleColumns(BcfSource.readHeaderText(p))
        require(other == header.samples,
          s"sample columns of $p (${other.mkString(",")}) differ from " +
            s"${paths.head} (${header.samples.mkString(",")}); load " +
            "files with differing sample headers separately")
      }
    VcfHeader.buildSchema(header, opts)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
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

  /** The #CHROM line's sample columns (empty when the file has none). */
  def sampleColumns(headerText: String): Seq[String] =
    VcfHeader.fromLines(headerText.linesIterator).samples

  /** One schema builder with the VCF text source: the header block of a
    * BCF is VCF header text, so [[VcfHeader.fromLines]] +
    * [[VcfHeader.buildSchema]] guarantee the two sources emit identical
    * schemas (a near-verbatim local copy drifted once — the multi-file
    * sample guard existed only in the VCF copy). */
  def schemaFromHeader(headerText: String,
      options: Map[String, String]): StructType =
    VcfHeader.buildSchema(
      VcfHeader.fromLines(headerText.linesIterator), options)
}

case class BcfInputPartition(pathStr: String, ranges: Seq[(Long, Long)],
    regions: Seq[(String, Long, Long)]) extends InputPartition

class BcfScan(fullSchema: StructType, paths: Seq[Path],
    options: Map[String, String], pushdown: Pushdown)
    extends GenomicScan("bcf", fullSchema, paths, options, pushdown,
      BcfPartitionReader.ctor) {

  override def planInputPartitions(): Array[InputPartition] = {
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
    extends GenomicPartitionReader(fullSchema, pushdown) {

  private val path = new Path(part.pathStr)
  private val fs = path.getFileSystem(graft.sources.common.GraftHadoop.conf())
  private val headerText = BcfSource.readHeaderText(path)
  private val dict = BcfCodec.dictionaries(headerText)
  private val byField = options.getOrElse("genotype_by", "sample") == "field"
  private val shift = -1L - CoordSystem.fromCode(
    options.getOrElse("coords", "11")).startOffset

  // ranges are record-aligned; lazily concatenate one BGZF range stream
  // per range (multi-range partitions — graft.sources.common.RangeStreams)
  private val stream: java.io.InputStream =
    graft.sources.common.RangeStreams.bgzfRanges(fs, path, part.ranges)
  private val le = new BamCodec.LEInput(stream)

  private val infoSchema: Option[StructType] =
    fullSchema.fieldNames.find(_ == "info").map(_ =>
      fullSchema("info").dataType.asInstanceOf[StructType])
  private val samplesSchema: Option[StructType] =
    fullSchema.fieldNames.find(_ == "samples").map(_ =>
      fullSchema("samples").dataType.asInstanceOf[StructType])

  private val residual =
    new RegionResidual(part.regions, dict.contigs.zipWithIndex)

  // projection-aware decode: un-projected INFO values / the whole
  // per-sample block skip typed decoding (region residual checks use
  // contigId/pos0/rlen, which are always decoded, so this is safe even
  // under region queries)
  private val wantInfo = pushdown.required.fieldNames.contains("info")
  private val wantSamples = pushdown.required.fieldNames.contains("samples")
  // nested pruning → string-dictionary index predicates: un-requested
  // INFO keys / FORMAT fields are size-skipped in the codec, never boxed
  private def nestedStruct(name: String): Option[StructType] =
    LineSourceUtil.nestedStruct(pushdown.requiredNested, name)
  private def dictIdx(names: Set[String]): Set[Int] =
    names.flatMap(n => Some(dict.strings.indexOf(n)).filter(_ >= 0))
  private val wantedInfoIdx: Option[Set[Int]] =
    nestedStruct("info").map(st => dictIdx(st.fieldNames.toSet))
  private val wantedFmtIdx: Option[Set[Int]] =
    nestedStruct("samples").map { st =>
      val keys =
        if (byField) st.fieldNames.toSet
        else st.fields.flatMap(
          _.dataType.asInstanceOf[StructType].fieldNames).toSet
      dictIdx(keys)
    }
  private val wantInfoKey: Int => Boolean =
    k => wantedInfoIdx.forall(_(k))
  private val wantFmtKey: Int => Boolean =
    k => wantedFmtIdx.forall(_(k))

  // ---- per-partition precomputation: the hot row loop must never
  // touch field metadata, fieldNames arrays (each call allocates), or
  // string maps per record — the text-path VcfParser upholds the same
  // contract, and this reader paid all three per record before
  private val infoSlotByDict: Array[Int] = {
    val nameToSlot: Map[String, Int] =
      infoSchema.map(_.fieldNames.zipWithIndex.toMap).getOrElse(Map.empty)
    Array.tabulate(dict.strings.size) { i =>
      val n = dict.strings(i)
      if (n == null) -1 else nameToSlot.getOrElse(n, -1)
    }
  }
  private def metaSlot(f: StructField, default: Int): Int =
    if (f.metadata.contains("vcf_sample_idx"))
      f.metadata.getLong("vcf_sample_idx").toInt
    else default
  private val dictIdxOfName: Map[String, Int] =
    dict.strings.zipWithIndex
      .collect { case (s, i) if s != null => s -> i }.toMap
  // byField layout: outer field = FORMAT key (dict idx per field),
  // inner = samples (slot per inner field)
  private val byFieldDictIdx: Array[Int] = samplesSchema match {
    case Some(ss) if byField =>
      ss.fields.map(f => dictIdxOfName.getOrElse(f.name, -1))
    case _ => Array.empty
  }
  private val byFieldInnerSlots: Array[Array[Int]] = samplesSchema match {
    case Some(ss) if byField =>
      ss.fields.map(_.dataType.asInstanceOf[StructType].fields
        .zipWithIndex.map { case (sf, j) => metaSlot(sf, j) })
    case _ => Array.empty
  }
  // bySample layout: outer field = sample (its value slot), inner =
  // FORMAT keys (same struct for every sample → one dict-idx array)
  private val bySampleSlots: Array[Int] = samplesSchema match {
    case Some(ss) if !byField =>
      ss.fields.zipWithIndex.map { case (f, j) => metaSlot(f, j) }
    case _ => Array.empty
  }
  private val bySampleFieldDictIdx: Array[Int] = samplesSchema match {
    case Some(ss) if !byField && ss.fields.nonEmpty =>
      ss.fields.head.dataType.asInstanceOf[StructType].fields
        .map(ff => dictIdxOfName.getOrElse(ff.name, -1))
    case _ => Array.empty
  }

  // same malformed-record policy as the text reader (VcfSource
  // promises "FAILFAST raises, PERMISSIVE skips the record" for the
  // shared Number=n enforcement — the BCF face must honor the option
  // too, not silently ignore it)
  private val permissive =
    options.getOrElse("mode", "FAILFAST").equalsIgnoreCase("permissive")
  private var skipped = 0L

  override protected def nextRow(): InternalRow = {
    while (true) {
      BcfCodec.readRecord(le, wantInfo, wantSamples,
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

  // per-record row layout, resolved once — same JIT-stability rule as
  // the VCF text parser: the hot path must not run Option.toSeq.map
  // lambdas or an array ++ whose steady-state cost depends on whether
  // C2 happens to inline the generic collection machinery
  private val infoStructOrNull: StructType = infoSchema.orNull
  private val samplesStructOrNull: StructType = samplesSchema.orNull
  private val samplesOutSlot: Int =
    if (samplesStructOrNull == null) -1
    else 7 + (if (infoStructOrNull != null) 1 else 0)
  private val outRowWidth: Int = 7 +
    (if (infoStructOrNull != null) 1 else 0) +
    (if (samplesStructOrNull != null) 1 else 0)

  // formats are few per record: a linear probe beats building a
  // string-keyed map per record
  private def valsFor(rec: BcfCodec.BcfRecord,
      dictIdx: Int): IndexedSeq[Any] =
    if (dictIdx < 0) null
    else {
      var i = 0
      var res: IndexedSeq[Any] = null
      while (res == null && i < rec.formats.length) {
        if (rec.formats(i)._1 == dictIdx) res = rec.formats(i)._2
        i += 1
      }
      res
    }

  private def infoRowOf(rec: BcfCodec.BcfRecord): GenericInternalRow = {
    val is = infoStructOrNull
    val arr = new Array[Any](is.length)
    val it = rec.info.iterator
    while (it.hasNext) {
      val (keyIdx, v) = it.next()
      val fi =
        if (keyIdx >= 0 && keyIdx < infoSlotByDict.length)
          infoSlotByDict(keyIdx)
        else -1
      if (fi >= 0) arr(fi) = enforceCount(is(fi),
        convert(is(fi).dataType, v))
    }
    new GenericInternalRow(arr)
  }

  private def samplesRowByField(
      rec: BcfCodec.BcfRecord): GenericInternalRow = {
    val ss = samplesStructOrNull
    val arr = new Array[Any](ss.length)
    var i = 0
    while (i < ss.length) {
      val fieldF = ss.fields(i)
      val sampleStruct = fieldF.dataType.asInstanceOf[StructType]
      val inner = new Array[Any](sampleStruct.length)
      val vals = valsFor(rec, byFieldDictIdx(i))
      if (vals != null) {
        val slots = byFieldInnerSlots(i)
        var j = 0
        while (j < sampleStruct.length) {
          val slot = slots(j)
          if (slot < vals.size)
            inner(j) = enforceCount(sampleStruct.fields(j),
              convertSample(fieldF.name,
                sampleStruct.fields(j).dataType, vals(slot)))
          j += 1
        }
      }
      arr(i) = new GenericInternalRow(inner)
      i += 1
    }
    new GenericInternalRow(arr)
  }

  private def samplesRowBySample(
      rec: BcfCodec.BcfRecord): GenericInternalRow = {
    val ss = samplesStructOrNull
    val arr = new Array[Any](ss.length)
    var j = 0
    while (j < ss.length) {
      val fieldStruct = ss.fields(j).dataType.asInstanceOf[StructType]
      val inner = new Array[Any](fieldStruct.length)
      val slot = bySampleSlots(j)
      var i = 0
      while (i < fieldStruct.length) {
        val ff = fieldStruct.fields(i)
        val vals = valsFor(rec, bySampleFieldDictIdx(i))
        if (vals != null && slot < vals.size)
          inner(i) = enforceCount(ff,
            convertSample(ff.name, ff.dataType, vals(slot)))
        i += 1
      }
      arr(j) = new GenericInternalRow(inner)
      j += 1
    }
    new GenericInternalRow(arr)
  }

  private def toRow(rec: BcfCodec.BcfRecord): InternalRow = {
    val out = new Array[Any](outRowWidth)
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
    if (infoStructOrNull != null && wantInfo) out(7) = infoRowOf(rec)
    if (samplesOutSlot >= 0 && wantSamples)
      out(samplesOutSlot) =
        if (byField) samplesRowByField(rec) else samplesRowBySample(rec)
    new GenericInternalRow(out)
  }

  /** Enforce a declared fixed Number=n carried as field metadata (the
    * reference's FixedSizeList semantics, `variant/model/info.rs:81-113`):
    * a BCF value longer than the declaration is malformed. Shorter is
    * legal — htslib encodes missing sample values as MISSING +
    * END_OF_VECTOR padding, which the codec strips, so under-length
    * vectors are how '.' looks after decode. */
  private def enforceCount(f: StructField, value: Any): Any =
    VcfHeader.enforceNumber(f, value, "BCF")

  private def convert(dt: DataType, v: Any): Any = (dt, v) match {
    case (BooleanType, _) => true // Flag: presence means true, value is void
    case (_, null) => null
    case (LongType, l: java.lang.Long) => l.longValue()
    case (LongType, xs: Seq[_]) =>
      // Number=1 with a multi-value vector is malformed — the VCF text
      // reader fails on the same data, silently keeping the head would
      // diverge from it
      require(xs.lengthCompare(1) <= 0,
        s"scalar-typed BCF value carries ${xs.length} elements")
      xs.headOption.map {
        case l: java.lang.Long => l.longValue()
        case _ => null
      }.orNull
    // int-encoded values against a Float-declared field convert (the
    // text reader parses "3" as 3.0f — parity demands the same here)
    case (FloatType, f: java.lang.Float) => f.floatValue()
    case (FloatType, l: java.lang.Long) => l.floatValue()
    case (FloatType, xs: Seq[_]) =>
      require(xs.lengthCompare(1) <= 0,
        s"scalar-typed BCF value carries ${xs.length} elements")
      xs.headOption.map {
        case f: java.lang.Float => f.floatValue()
        case l: java.lang.Long => l.floatValue()
        case _ => null
      }.orNull
    case (StringType, s: String) => utf8(s)
    case (StringType, other) => utf8(other.toString)
    case (ArrayType(LongType, _), xs: Seq[_]) =>
      ArrayData.toArrayData(xs.map {
        case l: java.lang.Long => l
        case _ => null
      }.toArray)
    case (ArrayType(LongType, _), l: java.lang.Long) =>
      ArrayData.toArrayData(Array(l))
    case (ArrayType(FloatType, _), xs: Seq[_]) =>
      ArrayData.toArrayData(xs.map {
        case f: java.lang.Float => f
        case l: java.lang.Long => java.lang.Float.valueOf(l.floatValue())
        case _ => null
      }.toArray)
    case (ArrayType(FloatType, _), f: java.lang.Float) =>
      ArrayData.toArrayData(Array(f))
    case (ArrayType(FloatType, _), l: java.lang.Long) =>
      ArrayData.toArrayData(Array(l.floatValue()))
    case (ArrayType(StringType, _), s: String) =>
      ArrayData.toArrayData(s.split(",").map(utf8))
    case (ArrayType(StringType, _), xs: Seq[_]) =>
      ArrayData.toArrayData(xs.map {
        case s: String => utf8(s)
        case other if other != null => utf8(other.toString)
        case _ => null
      }.toArray)
    // loud, like the text reader: a record whose encoded type cannot
    // satisfy the header-declared schema type used to fall through to
    // silent null — silent data loss where the same data through the
    // VCF text path raises at parse time. PERMISSIVE mode turns this
    // into a skipped record; FAILFAST surfaces it.
    case (dt2, other) => throw new IllegalArgumentException(
      s"BCF value of type ${other.getClass.getSimpleName} does not " +
        s"match the header-declared ${dt2.simpleString}")
  }

  /** FORMAT conversion with the GT special case: BCF encodes GT as int
    * vector (allele+1)<<1 | phased. */
  private def convertSample(name: String, dt: DataType, v: Any): Any = {
    dt match {
      case ArrayType(st: StructType, _) if name == "GT" &&
          st.fieldNames.sameElements(Array("allele", "phased")) =>
        val ints: Seq[Any] = v match {
          case l: java.lang.Long => Seq(l)
          case xs: Seq[_] => xs
          case _ => return null
        }
        if (ints.isEmpty) null
        else ArrayData.toArrayData(ints.map {
          case l: java.lang.Long =>
            val enc = l.toInt
            val allele = (enc >> 1) - 1
            new GenericInternalRow(Array[Any](
              if (allele < 0) null else allele, (enc & 1) == 1))
          case _ =>
            new GenericInternalRow(Array[Any](null, false))
        }.toArray)
      case other => convert(other, v)
    }
  }

  override def close(): Unit = stream.close()
}
