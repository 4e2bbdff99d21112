package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.formats.{BbiCodec, SeekableInputs}
import graft.sources.common.{GenomicPartitionReader, GenomicReaderFactory, GenomicScan, GenomicScanBuilder, GenomicTable, GraftTableProps, LineSourceUtil, Pushdown, RegionResidual}

/** BigWig / BigBed / BBI-zoom DSv2 readers (SURVEY §2.1 S16-S18).
  *
  * Output shapes mirror the reference's BBI models:
  *  - bigwig: `chrom, start, end, value:float` (bedGraph shape,
  *    `/root/reference/oxbow/src/bbi/scanner/bigwig.rs:46-48`)
  *  - bigbed: `chrom, start, end, rest:string`, optionally dissected into
  *    typed columns via the `fields` option (AutoSql-style defs,
  *    `bbi/model/base/field.rs`)
  *  - `zoom_level=N` on either: the stored multi-resolution summary
  *    records `chrom, start, end, bases_covered, min_val, max_val,
  *    sum_val, sum_squares` (`bbi/model/zoom.rs:13-37`)
  *
  * Partitioning: one partition per r-tree leaf section (the file's own
  * write-time batching); region queries traverse the r-tree and read only
  * overlapping sections, with a residual per-record overlap check.
  * Coordinates are always 0-based half-open — the BBI formats' native
  * convention; a `coords` option other than "01" is rejected rather
  * than silently ignored.
  */
abstract class BbiDataSource(wig: Boolean) extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = LineSourceUtil.optionsMap(options)
    BbiSource.schema(wig, opts, LineSourceUtil.resolvePaths(options))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val options = LineSourceUtil.optionsMap(opts)
    // BBI emits native 0-based half-open coordinates; accepting and
    // ignoring coords=11 would silently hand the user off-by-one rows
    require(options.getOrElse("coords", "01") == "01",
      "bigwig/bigbed coordinates are 0-based half-open; coords=" +
        s"'${options("coords")}' is not supported")
    val paths = LineSourceUtil.resolvePaths(opts)
    val label = if (wig) "bigwig" else "bigbed"
    // M5 catalog surface: chrom B+ tree names/sizes and zoom reduction
    // levels (bigwig.rs:94-117).
    new GenomicTable(s"$label:${paths.mkString(",")}", schema, options,
      GraftTableProps.forPaths(paths, zoom = true))(o =>
      new GenomicScanBuilder(schema, Some("chrom"))(
        new BbiScan(wig, schema, paths, o, _)))
  }
}

class BigWigDataSource extends BbiDataSource(wig = true) {
  override def shortName(): String = "bigwig"
}
class BigBedDataSource extends BbiDataSource(wig = false) {
  override def shortName(): String = "bigbed"
}

object BbiSource {
  def zoomLevel(options: Map[String, String]): Option[Int] =
    options.get("zoom_level").map { s =>
      val level = s.toInt
      // the upper bound is header-dependent (checked at planning), but
      // a negative level must not reach an array index
      require(level >= 0, s"zoom_level must be >= 0, got $level")
      level
    }

  /** BigBed rest-field typing, in precedence order: explicit `fields`
    * option → embedded AutoSql declaration (M4) → single `rest` string. */
  def restFields(options: Map[String, String],
      paths: Seq[Path]): Seq[graft.core.BedField] =
    options.get("fields")
      .map(graft.core.BedSchema.parseCustomFields)
      .orElse(paths.headOption.flatMap(autoSqlFields))
      .getOrElse(Nil)

  /** Parse the embedded AutoSql into typed rest columns: fields beyond
    * chrom/chromStart/chromEnd, truncated to the header's fieldCount. */
  def autoSqlFields(path: Path): Option[Seq[graft.core.BedField]] = {
    val fs = path.getFileSystem(graft.sources.common.GraftHadoop.conf())
    val in = SeekableInputs.forHadoop(fs, path)
    try {
      val header = BbiCodec.readHeader(in)
      BbiCodec.readAutoSql(in, header).flatMap { text =>
        // a malformed embedded declaration must DEGRADE to the single
        // `rest` string column (a complete representation of the data),
        // not make the whole BigBed unreadable
        try {
          val table = graft.formats.AutoSql.parse(text)
          val n =
            if (header.fieldCount > 0)
              math.min(header.fieldCount, table.fields.size)
            else table.fields.size
          Some(table.fields.take(n).drop(3)
            .map(f => graft.core.BedField(f.name, f.dataType)))
        } catch {
          case e: IllegalArgumentException =>
            System.err.println(
              s"[graft] unparseable embedded AutoSql in $path " +
                s"(falling back to a single 'rest' column): ${e.getMessage}")
            None
        }
      }.filter(_.nonEmpty)
    } finally in.close()
  }

  def schema(wig: Boolean, options: Map[String, String],
      paths: Seq[Path]): StructType = {
    if (zoomLevel(options).isDefined) {
      StructType(Seq(
        StructField("chrom", StringType), StructField("start", LongType),
        StructField("end", LongType),
        StructField("bases_covered", LongType),
        StructField("min_val", DoubleType), StructField("max_val", DoubleType),
        StructField("sum_val", DoubleType),
        StructField("sum_squares", DoubleType)))
    } else if (wig) {
      StructType(Seq(
        StructField("chrom", StringType), StructField("start", LongType),
        StructField("end", LongType), StructField("value", FloatType)))
    } else {
      val extra = restFields(options, paths)
      val base = Seq(
        StructField("chrom", StringType), StructField("start", LongType),
        StructField("end", LongType))
      val rest =
        if (extra.isEmpty) Seq(StructField("rest", StringType))
        else extra.map(f => StructField(f.name, f.dataType))
      StructType((base ++ rest).toIndexedSeq)
    }
  }
}

/** One r-tree section of one file. */
case class BbiInputPartition(pathStr: String, dataOffset: Long,
    dataSize: Long, startChromId: Int, startBase: Long, endChromId: Int,
    endBase: Long, regions: Seq[(String, Long, Long)],
    // header + chrom table ship WITH the partition: one partition per
    // r-tree leaf section means a big file has thousands, and each
    // reader re-reading the header and walking the chromosome B+ tree
    // (several seeks each) is pure planning work repeated per task
    header: graft.formats.BbiCodec.Header,
    chroms: Seq[graft.formats.BbiCodec.Chrom]) extends InputPartition

class BbiScan(wig: Boolean, fullSchema: StructType, paths: Seq[Path],
    options: Map[String, String], pushdown: Pushdown)
    extends GenomicScan(if (wig) "bigwig" else "bigbed", fullSchema, paths,
      options, pushdown, BbiPartitionReader.ctor) {

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = graft.sources.common.GraftHadoop.conf()
    val regions = GenomicScan.regions(options, pushdown.filters.toSeq, "chrom")
    paths.flatMap { p =>
      val fs = p.getFileSystem(conf)
      val in = SeekableInputs.forHadoop(fs, p)
      try {
        val header = BbiCodec.readHeader(in)
        // the chosen format must match the file: readHeader accepts
        // both magics, and a bigwig file read as bigbed (or vice
        // versa) would parse the other encoding as silent garbage rows
        require(header.isBigWig == wig,
          s"$p is a ${if (header.isBigWig) "BigWig" else "BigBed"} file; " +
            s"read it with format(\"${if (header.isBigWig) "bigwig"
              else "bigbed"}\")")
        val chroms = BbiCodec.readChroms(in, header)
        val byName = chroms.map(c => c.name -> c).toMap
        val indexOffset = BbiSource.zoomLevel(options) match {
          case Some(level) =>
            require(level < header.zoomLevels.size,
              s"zoom_level $level out of range (${header.zoomLevels.size})")
            header.zoomLevels(level).indexOffset
          case None => header.fullIndexOffset
        }
        if (regions.nonEmpty) {
          // union the section lists across regions, dedup by file
          // offset, and attach the FULL region list as the residual:
          // per-region partitions would emit a record once per query
          // region it overlaps (the same hazard GenomicIndex.mergeChunks
          // handles for BAI/CSI/TBI scans)
          val resolved = regions.flatMap { r =>
            byName.get(r.name).map(c => (c, r.start,
              r.end.getOrElse(c.size)))
          }
          val residuals = resolved.map { case (c, s, e) => (c.name, s, e) }
          val secs = scala.collection.mutable.LinkedHashMap
            .empty[Long, BbiCodec.Section]
          resolved.foreach { case (c, s, e) =>
            BbiCodec.querySections(in, indexOffset, c.id, s, e)
              .foreach(sec => secs.getOrElseUpdate(sec.dataOffset, sec))
          }
          secs.values.toSeq.map(s => BbiInputPartition(p.toString,
            s.dataOffset, s.dataSize, s.startChromId, s.startBase,
            s.endChromId, s.endBase, residuals, header, chroms))
        } else {
          BbiCodec.querySections(in, indexOffset, -1, 0, 0)
            .map(s => BbiInputPartition(p.toString, s.dataOffset, s.dataSize,
              s.startChromId, s.startBase, s.endChromId, s.endBase, Nil,
              header, chroms))
        }
      } finally in.close()
    }.toArray
  }
}

object BbiPartitionReader {
  val ctor: GenomicReaderFactory.Ctor = (schema, pushdown, options, part) =>
    new BbiPartitionReader(schema, pushdown, options,
      part.asInstanceOf[BbiInputPartition])
}

class BbiPartitionReader(fullSchema: StructType, pushdown: Pushdown,
    options: Map[String, String], part: BbiInputPartition)
    extends GenomicPartitionReader(fullSchema, pushdown) {

  private val path = new Path(part.pathStr)
  private val fs = path.getFileSystem(graft.sources.common.GraftHadoop.conf())
  private val in = SeekableInputs.forHadoop(fs, path)
  // shipped from planning - no per-section header/B+-tree re-read
  private val header = part.header
  private val chroms = part.chroms
  private val nameById = chroms.map(c => c.id -> c.name).toMap
  // planning checked that the file's magic matches the format read
  private val wig = header.isBigWig
  private val zoom = BbiSource.zoomLevel(options)

  private val section = BbiCodec.Section(part.startChromId, part.startBase,
    part.endChromId, part.endBase, part.dataOffset, part.dataSize)

  private val residual =
    new RegionResidual(part.regions, chroms.map(c => c.name -> c.id))
  private def keep(chromId: Int, start: Long, end: Long): Boolean =
    residual.isEmpty || residual.overlaps(chromId, start, end)

  // derive the typed rest columns from the SCHEMA, not by re-reading
  // the file header/options per partition: row arity then matches
  // fullSchema by construction (a user-supplied schema via
  // supportsExternalMetadata would otherwise desync), and the header
  // parse happens once at planning time
  private val bedFields: Seq[graft.core.BedField] =
    if (wig || zoom.isDefined) Nil
    else {
      val rest = fullSchema.fields.drop(3)
      if (rest.length == 1 && rest.head.name == "rest" &&
        rest.head.dataType == org.apache.spark.sql.types.StringType) Nil
      else rest.map(f => graft.core.BedField(f.name, f.dataType)).toSeq
    }

  private val rows: Iterator[InternalRow] = {
    def chromName(id: Int): Any =
      nameById.get(id).map(UTF8String.fromString).orNull
    zoom match {
      case Some(_) =>
        BbiCodec.readZoomSection(in, header, section).iterator
          .filter(z => keep(z.chromId, z.start, z.end))
          .map { z =>
            new GenericInternalRow(Array[Any](chromName(z.chromId), z.start,
              z.end, z.validCount, z.minVal.toDouble, z.maxVal.toDouble,
              z.sumData.toDouble, z.sumSquares.toDouble))
          }
      case None if wig =>
        BbiCodec.readWigSection(in, header, section).iterator
          .filter(i => keep(i.chromId, i.start, i.end))
          .map { i =>
            new GenericInternalRow(Array[Any](chromName(i.chromId), i.start,
              i.end, i.value))
          }
      case None =>
        BbiCodec.readBedSection(in, header, section).iterator
          .filter(i => keep(i.chromId, i.start, i.end))
          .map { i =>
            val base = Array[Any](chromName(i.chromId), i.start, i.end)
            val restCols: Array[Any] =
              if (bedFields.isEmpty) Array(UTF8String.fromString(i.rest))
              else {
                val parts = i.rest.split("\t", -1)
                bedFields.zipWithIndex.map { case (f, idx) =>
                  val raw = if (idx < parts.length) parts(idx) else null
                  if (raw == null || raw.isEmpty || raw == ".") null
                  else convertBedValue(f.dataType, raw)
                }.toArray[Any]
              }
            new GenericInternalRow(base ++ restCols)
          }
    }
  }

  /** AutoSql lists and sets arrive as comma-separated text (often with a
    * trailing comma in real BigBeds, e.g. blockSizes "1,2,3,"). */
  private def convertBedValue(dt: DataType, raw: String): Any = dt match {
    case StringType => UTF8String.fromString(raw)
    case LongType => raw.toLong
    case IntegerType => raw.toInt
    case FloatType => raw.toFloat
    case DoubleType => raw.toDouble
    case ArrayType(elem, _) =>
      val parts = raw.split(",").toSeq.filter(_.nonEmpty)
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        parts.map(p => convertBedValue(elem, p)).toArray)
    case other => throw new IllegalArgumentException(
      s"unsupported bigbed field type $other")
  }

  override protected def nextRow(): InternalRow =
    if (rows.hasNext) rows.next() else null

  override def close(): Unit = in.close()
}
