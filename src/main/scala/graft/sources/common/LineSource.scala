package graft.sources.common

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{CoordSystem, Region}
import graft.formats.{Bgzf, GenomicIndex}

/** Shared DataSource V2 infrastructure for the genomic text formats.
  *
  * Mirrors the reference's scanner contract (SURVEY §2.1: full scan,
  * region query, byte-range partitioned scan, projection/limit pushdown)
  * in Spark's native shape: `Table` → `ScanBuilder` (with
  * `SupportsPushDownRequiredColumns` / `Filters` / `Limit`) → `Batch.
  * planInputPartitions` (newline-aligned byte-range splits, the analogue
  * of `partition_from_index`, `/root/reference/oxbow/src/util/index.rs:
  * 117-178`) → per-partition record readers.
  *
  * Compression planning (three paths, `planPartitions` below):
  * plain files split by newline-aligned byte range; BGZF files with a
  * sidecar index plan virtual-position partitions — region queries
  * coalesce+pack the index's chunk lists into multi-range partitions,
  * full scans split at `partition_from_index` linear-index boundaries
  * (reference `util/query.rs:46-114`; benched b03/b09/b11) — and
  * gzip/BGZF without an index falls back to one streaming partition.
  */

/** A per-partition, possibly stateful record parser. `parse` returns rows
  * ready in the FULL table schema order; `flush` emits trailing records
  * for multi-line formats (FASTA). Return null for "no row". */
trait LineParser extends Serializable {
  def parse(line: String): InternalRow
  def flush(): InternalRow = null
  /** Multi-row override point (e.g. one row per query region). Formats
    * that emit at most one row per line keep the default. */
  def parseMany(line: String): Seq[InternalRow] = Option(parse(line)).toSeq
  def flushMany(): Seq[InternalRow] = Option(flush()).toSeq
  /** True only for parsers that override [[parseMany]] to emit more
    * than one row per line (FASTA region slicing). Single-row formats
    * keep `false`, which lets the reader call [[parse]] directly on the
    * hot path — no per-line Option/Seq/Queue allocation. */
  def emitsMany: Boolean = false
}

/** Format plugin: schema + parser + region-column metadata. */
trait LineFormat extends Serializable {
  def shortName: String
  /** Lines starting with any of these are skipped. */
  def commentPrefixes: Seq[String]
  /** Whether plain-text files of this format can be split mid-file
    * (record = line). Multi-line formats return false. */
  def splittable: Boolean = true
  /** Whether blank lines are insignificant (false for FASTQ, where the
    * 4-line cadence must see every line). */
  def skipEmptyLines: Boolean = true
  /** Infer/declare the full schema (may sample the file head). */
  def schema(options: Map[String, String], paths: Seq[Path],
      conf: Configuration): StructType
  /** Build a fresh per-partition parser emitting rows in `fullSchema`
    * field order (null-padding fields it cannot supply). */
  def newParser(fullSchema: StructType, options: Map[String, String]): LineParser
  /** Projection-aware variant: `parseNeeded` is the Catalyst-pruned
    * schema — top-level columns whose VALUES will actually be consumed,
    * with struct columns pruned down to the requested NESTED fields
    * (e.g. `samples.s1.GT` arrives as samples{s1{GT}}). Formats able to
    * skip expensive un-consumed parsing (VCF: samples/INFO is most of
    * the line cost) override this; the default ignores the hint. Rows
    * must still be emitted in FULL schema order/shape — skipped slots
    * stay null. */
  def newParser(fullSchema: StructType, options: Map[String, String],
      parseNeeded: StructType): LineParser = newParser(fullSchema, options)
  /** Names of the (chrom, start, end) columns used for genomic region
    * filtering, if this format has them. Coordinates in the emitted rows
    * are in the declared output coordinate system. */
  def regionColumns: Option[(String, String, String)] = None
  /** Optional row-level extractor of the record's 0-based EXCLUSIVE end,
    * overriding the plain end-column lookup in the residual region check.
    * Needed when the true span is not a column of its own — e.g. VCF,
    * where end = pos + len(REF) (or INFO END for symbolic alleles), so a
    * deletion spanning into the queried window is not dropped. */
  def regionEnd0(fullSchema: StructType,
      options: Map[String, String]): Option[InternalRow => Long] = None
  /** Output coordinate system for `start` (for region filtering). */
  def coordSystem(options: Map[String, String]): CoordSystem =
    CoordSystem.fromCode(options.getOrElse("coords", "01"))
  /** Columns the row-level predicate machinery consults BEYOND the
    * pruned projection and [[regionColumns]]: top-level names plus
    * (struct, nested-field) pairs. Lets predicate-active scans keep
    * nested pruning instead of parsing the full schema — e.g. VCF's
    * [[regionEnd0]] reads `ref` and `info.END`, not all of `info`. */
  def predicateNeeds(options: Map[String, String])
      : (Seq[String], Seq[(String, String)]) = (Nil, Nil)
}

object LineSourceUtil {

  /** The ONE parse of the `regions` option, shared by partition
    * planning and the reader's residual predicate: if the separator,
    * trimming, or default coordinate system ever drifted between the
    * two, the planner's index window and the reader's row filter would
    * disagree. */
  def parseRegionsOption(options: Map[String, String])
      : Seq[graft.core.Region] =
    options.get("regions").toSeq
      .flatMap(_.split(";").toSeq.map(_.trim).filter(_.nonEmpty))
      .map(graft.core.Region.parse(_,
        graft.core.CoordSystem.OneBasedClosed))

  /** The ONE parse of the caller-precomputed partitioning options
    * `byte_ranges` / `virtual_ranges` (reference scan_byte_ranges /
    * scan_virtual_ranges, `alignment/scanner/bam.rs:239-279`):
    * ";"-separated "start-end" pairs. A malformed pair fails naming the
    * option and the token. */
  def parseRangesOption(options: Map[String, String], key: String)
      : Seq[(Long, Long)] =
    options.get(key).toSeq
      .flatMap(_.split(";").toSeq.map(_.trim).filter(_.nonEmpty))
      .map { tok =>
        def bad = throw new IllegalArgumentException(
          s"$key: malformed range '$tok', expected start-end")
        tok.split("-", -1) match {
          case Array(a, b) => (a.trim.toLongOption.getOrElse(bad),
            b.trim.toLongOption.getOrElse(bad))
          case _ => bad
        }
      }

  /** The row projector of [[GenomicPartitionReader]]: copy the required
    * ordinals out of a full-schema row, with the identity short-circuit. */
  def projectRow(row: InternalRow, projIdx: Array[Int],
      fullSchema: StructType, identityProj: Boolean): InternalRow =
    if (identityProj) row
    else {
      val out = new Array[Any](projIdx.length)
      var i = 0
      while (i < projIdx.length) {
        val idx = projIdx(i)
        out(i) = if (row.isNullAt(idx)) null
          else row.get(idx, fullSchema(idx).dataType)
        i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
    }

  /** The Catalyst-pruned inner struct of top-level column `name` in a
    * pruned schema, if the column is requested at all — the shared
    * nested-projection hint extractor for every format reader. */
  def nestedStruct(pruned: org.apache.spark.sql.types.StructType,
      name: String): Option[org.apache.spark.sql.types.StructType] =
    pruned.fields.find(_.name == name)
      .map(_.dataType.asInstanceOf[org.apache.spark.sql.types.StructType])

  private[common] def filterAsLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case other => other.toString.toLong
  }

  /** A boxing-free long reader for a coordinate column, specialized on
    * its Catalyst type once at predicate-build time — the generic
    * `row.get` + [[filterAsLong]] pair allocates a box per read, which
    * matters in the residual predicate's per-row hot loop. */
  private[common] def longGetter(dt: org.apache.spark.sql.types.DataType,
      i: Int): InternalRow => Long = dt match {
    case org.apache.spark.sql.types.LongType => _.getLong(i)
    case org.apache.spark.sql.types.IntegerType => _.getInt(i).toLong
    case org.apache.spark.sql.types.ShortType => _.getShort(i).toLong
    case other => row => filterAsLong(row.get(i, other))
  }

  /** Conservative (startLt, endGt) bounds in OUTPUT coordinates from
    * pushed catalyst filters on the (start, end) region columns — the
    * shared folding used by the residual row predicate AND by index
    * chunk planning (kept rows satisfy `startOut < startLt` and
    * `endOut > endGt`). */
  def pushedBounds(pushed: Seq[org.apache.spark.sql.sources.Filter],
      s: String, e: String): (Option[Long], Option[Long]) = {
    import org.apache.spark.sql.sources._
    var startLt: Option[Long] = None
    var endGt: Option[Long] = None
    pushed.foreach {
      case LessThan(a, v) if a == s =>
        startLt = Some(startLt.fold(filterAsLong(v))(
          math.min(_, filterAsLong(v))))
      case LessThanOrEqual(a, v) if a == s && filterAsLong(v) != Long.MaxValue =>
        // `<= Long.MaxValue` is a tautology whose +1 would wrap the
        // bound negative and silently drop every row — add no bound
        startLt = Some(startLt.fold(filterAsLong(v) + 1)(
          math.min(_, filterAsLong(v) + 1)))
      case GreaterThan(a, v) if a == e =>
        endGt = Some(endGt.fold(filterAsLong(v))(
          math.max(_, filterAsLong(v))))
      case GreaterThanOrEqual(a, v) if a == e && filterAsLong(v) != Long.MinValue =>
        endGt = Some(endGt.fold(filterAsLong(v) - 1)(
          math.max(_, filterAsLong(v) - 1)))
      case _ => ()
    }
    (startLt, endGt)
  }

  /** The parse-needed schema for a PREDICATE-ACTIVE scan: the pruned
    * projection widened by the columns the predicate machinery reads —
    * `topCols` at full fidelity, `nestedCols` merged into their parent
    * struct's pruned field set. Only NAMES matter to the parsers (rows
    * are always emitted in full-schema shape), so field order inside
    * the result is irrelevant. */
  def mergeNeeded(full: StructType, pruned: StructType,
      topCols: Seq[String], nestedCols: Seq[(String, String)]): StructType = {
    val prunedByName = pruned.fields.map(f => f.name -> f).toMap
    val top = topCols.toSet
    val nestedWant = nestedCols.groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    StructType(full.fields.flatMap { f =>
      val p = prunedByName.get(f.name)
      val want = nestedWant.get(f.name)
      if (top.contains(f.name)) Some(f)
      else (p, want) match {
        case (Some(pf), Some(w)) => (pf.dataType, f.dataType) match {
          case (ps: StructType, fs: StructType) =>
            val have = ps.fieldNames.toSet
            val add = fs.fields.filter(x => w(x.name) && !have(x.name))
            Some(f.copy(dataType = StructType(ps.fields ++ add)))
          case _ => Some(pf)
        }
        case (Some(pf), None) => Some(pf)
        case (None, Some(w)) => f.dataType match {
          case fs: StructType =>
            Some(f.copy(dataType =
              StructType(fs.fields.filter(x => w(x.name)))))
          case _ => Some(f)
        }
        case (None, None) => None
      }
    })
  }

  /** Split-size budget for partition planning, in priority order: the
    * reader's `maxpartitionbytes` option, then Spark's standard
    * `spark.sql.files.maxPartitionBytes` — but only when the user SET
    * it (at submit, builder or runtime; the conf's own 128 MB default
    * must not override a format-appropriate fallback), then `fallback`.
    *
    * When `totalBytes` of the planned input is known, the budget then
    * shrinks to `max(floor, totalBytes / defaultParallelism)` — Spark's
    * own `FilePartition.maxSplitBytes` heuristic — so a
    * small-vs-the-budget input still fans out across every core
    * instead of planning one oversized partition (a 69 MB indexed VCF
    * on 32 cores must be 32-ish tasks, not 1). The floor is Spark's
    * `filesOpenCostInBytes` (4 MB) unless the caller passes its own:
    * that is Spark's rule for plain-text byte ranges, and it keeps tiny
    * text fixtures at one task. A BGZF-encoded scan (BAM, BCF,
    * bgzipped tabix text) passes [[BgzfSplitFloor]] instead: its splits
    * fall on index chunk starts, so a 3 MB BGZF file still plans one
    * record-aligned partition per core rather than one 3 MB task.
    * Planning runs on the driver, so the active session is reachable. */
  def maxSplitBytes(options: Map[String, String], fallback: Long,
      totalBytes: Long = 0L, floor: Option[Long] = None): Long = {
    val session = org.apache.spark.sql.SparkSession.getActiveSession
    val budget = options.get("maxpartitionbytes").map { v =>
      v.trim.toLongOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"option maxpartitionbytes must be a positive byte count, got '$v'"))
    }.orElse(session
        .filter(_.sessionState.conf.contains(
          "spark.sql.files.maxPartitionBytes"))
        .map(_.sessionState.conf.filesMaxPartitionBytes))
      .getOrElse(fallback)
    session match {
      case Some(s) if totalBytes > 0 =>
        val minSplit =
          floor.getOrElse(s.sessionState.conf.filesOpenCostInBytes)
        val bytesPerCore = totalBytes / s.sparkContext.defaultParallelism
        math.min(budget, math.max(minSplit, bytesPerCore))
      case _ => budget
    }
  }

  /** The split floor of a BGZF-encoded scan: one BGZF block. */
  val BgzfSplitFloor: Option[Long] = Some(Bgzf.MaxBlockSize.toLong)

  /** File lengths of `paths` plus the [[maxSplitBytes]] budget shrunk
    * for their total size with `floor` — the shared planning preamble of
    * every splittable scan. */
  def pathLensAndBudget(paths: Seq[Path],
      conf: org.apache.hadoop.conf.Configuration,
      options: Map[String, String], fallback: Long, floor: Option[Long])
      : (Seq[(Path, Long)], Long) = {
    val lens = paths.map(p =>
      p -> p.getFileSystem(conf).getFileStatus(p).getLen)
    (lens, maxSplitBytes(options, fallback, lens.map(_._2).sum, floor))
  }

  def resolvePaths(options: CaseInsensitiveStringMap): Seq[Path] = {
    val conf = graft.sources.common.GraftHadoop.conf()
    val raw = Option(options.get("paths"))
      .map(_.stripPrefix("[").stripSuffix("]").split(",").toSeq
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")))
      .orElse(Option(options.get("path")).map(Seq(_)))
      .getOrElse(throw new IllegalArgumentException("no path specified"))
    raw.flatMap { p =>
      val path = new Path(p)
      // A path the user WROTE OUT in full is never filtered; anything
      // discovered by expansion (glob match or directory listing) is —
      // tool-written directories carry _SUCCESS/.crc metadata files
      // that are not data (same filter as Spark's file sources), and
      // genomic data commonly sits NEXT TO its index/companion files,
      // so scanning a globbed .tbi as rows would be garbage.
      val literal = !p.exists("*?[]{}".contains(_))
      val fs = path.getFileSystem(conf)
      val globbed = Option(fs.globStatus(path)).getOrElse(Array.empty[FileStatus])
      if (globbed.isEmpty) Seq(path)
      else globbed.toSeq.flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq
          .filter(_.isFile).map(_.getPath)
          .filterNot(isNonData)
        else if (literal) Seq(st.getPath)
        else Seq(st.getPath).filterNot(isNonData)
      }
    }
  }

  private def isNonData(p: Path): Boolean = {
    val n = p.getName
    n.startsWith("_") || n.startsWith(".") ||
      LineSourceUtil.CompanionExts.exists(n.toLowerCase.endsWith)
  }

  /** Index/companion-file extensions that are never row data for any
    * graft format: excluded when a directory or glob is EXPANDED
    * (an explicitly-named literal path is never filtered). */
  val CompanionExts: Seq[String] =
    Seq(".bai", ".csi", ".tbi", ".crai", ".fai", ".gzi")

  def isGzip(p: Path): Boolean = {
    val n = p.getName.toLowerCase
    n.endsWith(".gz") || n.endsWith(".bgz") || n.endsWith(".bgzf")
  }

  def optionsMap(o: CaseInsensitiveStringMap): Map[String, String] =
    o.asCaseSensitiveMap().asScala.toMap.map { case (k, v) => k.toLowerCase -> v }
}

/** TableProvider base — subclasses provide the format. */
abstract class LineTableProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  def format: LineFormat
  override def shortName(): String = format.shortName
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val paths = LineSourceUtil.resolvePaths(options)
    format.schema(LineSourceUtil.optionsMap(options), paths, graft.sources.common.GraftHadoop.conf())
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val paths = LineSourceUtil.resolvePaths(opts)
    // M5 catalog surface (best-effort): VCF ##contig / SAM @SQ dictionaries
    // + tabix record stats; formats without header metadata (bed/gff) just
    // return an empty map
    new GenomicTable(s"${format.shortName}:${paths.mkString(",")}", schema,
      LineSourceUtil.optionsMap(opts),
      GraftTableProps.forPaths(paths, indexStats = true))(o =>
      new GenomicScanBuilder(schema, format.regionColumns.map(_._1),
        format.regionColumns.map { case (_, s, e) => (s, e) })(
        new LineScan(format, schema, paths, o, _)))
  }
}

/** One input split. Three addressing modes:
  *  - plain text: [start, end) byte range, newline-aligned by the reader
  *    (skip first partial line unless start==0, read past `end` to EOL)
  *  - gzip: whole file, single partition (`gzip=true`)
  *  - BGZF + tabix index: [vposStart, vposEnd) virtual-position range
  *    whose bounds are record starts (`vpos=true`) — the analogue of the
  *    reference's scan_virtual_ranges (S6) for coordinate text. */
case class LineInputPartition(pathStr: String, start: Long, end: Long,
    gzip: Boolean, vpos: Boolean = false,
    /** additional [start, end) vpos ranges packed into this partition
      * (region queries over scattered index chunks; vpos-only) */
    moreRanges: Seq[(Long, Long)] = Nil) extends InputPartition

class LineScan(format: LineFormat, fullSchema: StructType, paths: Seq[Path],
    options: Map[String, String], pushdown: Pushdown)
    extends GenomicScan(format.shortName, fullSchema, paths, options,
      pushdown, LineReader.ctor(format)) {

  private val pushed = pushdown.filters.toSeq

  override def description(): String =
    s"graft-${format.shortName} ${paths.mkString(",")}"

  override protected def planPartitions(): Array[InputPartition] = {
    val conf = graft.sources.common.GraftHadoop.conf()
    val fallback = 128L * 1024 * 1024
    val (pathLens, maxSplit) =
      LineSourceUtil.pathLensAndBudget(paths, conf, options, fallback, None)
    val bgzfSplit = LineSourceUtil.maxSplitBytes(options, fallback,
      pathLens.map(_._2).sum, LineSourceUtil.BgzfSplitFloor)
    // regions requested via option or pushed chrom equality
    val regions: Seq[graft.core.Region] =
      format.regionColumns.fold(LineSourceUtil.parseRegionsOption(options)) {
        case (c, s, e) =>
          // pushed coordinate bounds narrow the index window: kept rows
          // satisfy startOut < startLt and endOut > endGt (the same
          // folding the residual applies), which in 0-based half-open
          // space is the window [endGt, startLt + startOffset) — so
          // `chrom='chr1' AND pos BETWEEN a AND b` plans a's..b's chunks,
          // not the whole chromosome
          val (startLt, endGt) = LineSourceUtil.pushedBounds(pushed, s, e)
          val cs = format.coordSystem(options)
          val qs = math.max(0L, endGt.getOrElse(0L))
          val qe = startLt.map(v => math.max(v + cs.startOffset, qs))
          GenomicScan.regions(options, pushed, c, qs, qe)
      }
    // caller-precomputed partitioning: byte_ranges addresses plain-text
    // bytes — split points may fall mid-line, the reader's
    // first-line-skip/last-line-finish ownership keeps rows exactly-once;
    // virtual_ranges addresses BGZF virtual positions, whose bounds must
    // be record starts (chunk begins from an index), as in the reference.
    val byteRanges = LineSourceUtil.parseRangesOption(options, "byte_ranges")
    val virtualRanges =
      LineSourceUtil.parseRangesOption(options, "virtual_ranges")
    // explicit ranges address offsets of ONE file; replaying them per
    // path would scan other files at foreign positions (mid-record in a
    // BGZF stream) — fail loudly instead
    require(byteRanges.isEmpty && virtualRanges.isEmpty ||
      pathLens.lengthCompare(1) == 0,
      s"byte_ranges/virtual_ranges address a single file's offsets; " +
        s"got ${pathLens.length} resolved paths")

    pathLens.flatMap { case (p, len) =>
      val fs = p.getFileSystem(conf)
      if (virtualRanges.nonEmpty) {
        virtualRanges.map { case (a, b) =>
          LineInputPartition(p.toString, a, b, gzip = false, vpos = true)
        }
      } else if (byteRanges.nonEmpty) {
        byteRanges.map { case (a, b) =>
          LineInputPartition(p.toString, a, math.min(b, len), gzip = false)
        }
      } else if (LineSourceUtil.isGzip(p)) {
        // BGZF + tabix index → vpos partitions (region chunks or splits).
        // Names must be present to narrow by region: a CSI written
        // without its tabix aux block parses with an EMPTY name map, and
        // planning region chunks against it would find no refs and
        // return zero partitions — silently empty results. Such a file
        // takes the split/full scan; the reader's residual predicate
        // still applies the regions per record.
        GenomicIndex.findFor(fs, p) match {
          case Some(index) if format.splittable ||
              regions.nonEmpty && index.names.nonEmpty =>
            val byRegion = regions.nonEmpty && index.names.nonEmpty
            val groups = BgzfIndexPlanner.plan(len, Some(index),
              Bgzf.VirtualPosition(0L), if (byRegion) regions else Nil,
              index.names.get(_).map(_ -> (Long.MaxValue >> 16)),
              bgzfSplit).groups
            // a split scan with no interior split point streams whole
            if (!byRegion && groups.lengthCompare(1) <= 0)
              Seq(LineInputPartition(p.toString, 0L, Long.MaxValue, gzip = true))
            else groups.map { g =>
              LineInputPartition(p.toString, g.head._1, g.head._2,
                gzip = false, vpos = true, moreRanges = g.tail)
            }
          case _ =>
            Seq(LineInputPartition(p.toString, 0L, Long.MaxValue, gzip = true))
        }
      } else if (!format.splittable || len <= maxSplit) {
        Seq(LineInputPartition(p.toString, 0L, Long.MaxValue, gzip = false))
      } else {
        (0L until len by maxSplit).map { off =>
          LineInputPartition(p.toString, off, math.min(off + maxSplit, len),
            gzip = false)
        }
      }
    }.toArray
  }
}

object LineReader {
  private[common] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[LineReader])

  def ctor(format: LineFormat): GenomicReaderFactory.Ctor =
    (schema, pushdown, options, part) => new LineReader(format, schema,
      pushdown, options, part.asInstanceOf[LineInputPartition])
}

class LineReader(format: LineFormat, fullSchema: StructType,
    pushdown: Pushdown, options: Map[String, String],
    part: LineInputPartition)
    extends GenomicPartitionReader(fullSchema, pushdown) {

  private val pushed = pushdown.filters

  private val conf = graft.sources.common.GraftHadoop.conf()
  private val path = new Path(part.pathStr)
  private val reader: BufferedReader = {
    if (part.vpos) {
      // BGZF virtual-position range(s); bounds are record starts, so
      // each stream ends exactly at a line boundary and the lazy
      // concatenation of the partition's packed ranges
      // (RangeStreams.bgzfRanges) reads as one contiguous line stream
      val cat = RangeStreams.bgzfRanges(path.getFileSystem(conf), path,
        (part.start, part.end) +: part.moreRanges)
      new BufferedReader(new InputStreamReader(cat, StandardCharsets.UTF_8))
    } else {
      val fsIn = path.getFileSystem(conf).open(path)
      if (part.gzip) {
        new BufferedReader(new InputStreamReader(
          new GZIPInputStream(fsIn), StandardCharsets.UTF_8))
      } else {
        if (part.start > 0) fsIn.seek(part.start)
        new BufferedReader(
          new InputStreamReader(fsIn, StandardCharsets.UTF_8))
      }
    }
  }
  // Byte position tracking for split boundaries — exact: readLineExact
  // counts the UTF-8 bytes it consumes (terminator included), so CRLF
  // endings and unterminated final lines keep split ownership correct.
  private var pos: Long = part.start
  private var startedMidLine = !part.gzip && !part.vpos && part.start > 0
  private val parser = {
    // projection-aware parsing under predicates: a row-level
    // region/filter predicate consults columns beyond the projection
    // (regionEnd0 reads ref/INFO END; residual filters read their own
    // columns), so the pruned set is WIDENED by exactly those —
    // a region query over a 1000-sample VCF still parses one sample,
    // not a thousand
    val predicateActive = options.get("regions").isDefined || pushed.nonEmpty
    val parseSchema =
      if (!predicateActive) pushdown.requiredNested
      else {
        val regionTop = format.regionColumns.toSeq
          .flatMap { case (c, s, e) => Seq(c, s, e) }
        val filterTop = pushed.toSeq
          .flatMap(_.references.toSeq.map(_.takeWhile(_ != '.')))
        val (extraTop, extraNested) = format.predicateNeeds(options)
        LineSourceUtil.mergeNeeded(fullSchema, pushdown.requiredNested,
          (regionTop ++ filterTop ++ extraTop).distinct, extraNested)
      }
    format.newParser(fullSchema, options, parseSchema)
  }

  private val lineBuf = new java.lang.StringBuilder(256)
  private val charBuf = new Array[Char](8192)
  private var charLen = 0
  private var charPos = 0
  private var lastLineBytes = 0L

  private def utf8Len(c: Char): Int =
    if (c < 0x80) 1
    else if (c < 0x800) 2
    else if (c >= 0xd800 && c <= 0xdfff) 2 // surrogate half: pair totals 4
    else 3

  /** Line read with exact byte accounting: strips `\n` and `\r\n`
    * terminators (both counted in [[lastLineBytes]]), returns null at
    * EOF. A final unterminated line is returned with no terminator
    * bytes added.
    *
    * Accounting constraints (fine for the ASCII genomic text formats this
    * source serves): bytes are counted from DECODED chars, so malformed
    * UTF-8 — where the decoder substitutes U+FFFD (counted 3) for an
    * invalid byte (actually 1) — would drift the split position, and a
    * lone `\r` is not treated as a line terminator (classic-Mac line
    * endings do not occur in these formats). A byte-oriented reader
    * would lift both; revisit if a non-UTF-8 text format is added. */
  private def readLineExact(): String = {
    lineBuf.setLength(0)
    var bytes = 0L
    var sawAny = false
    var done = false
    while (!done) {
      if (charPos >= charLen) {
        charLen = reader.read(charBuf)
        charPos = 0
      }
      if (charLen <= 0) done = true
      else {
        sawAny = true
        val c = charBuf(charPos)
        charPos += 1
        bytes += utf8Len(c)
        if (c == '\n') done = true else lineBuf.append(c)
      }
    }
    if (!sawAny) { lastLineBytes = 0L; return null }
    if (lineBuf.length > 0 && lineBuf.charAt(lineBuf.length - 1) == '\r')
      lineBuf.setLength(lineBuf.length - 1)
    lastLineBytes = bytes
    lineBuf.toString
  }

  // region/filter predicate from `regions` option + pushed filters
  private val regionPred: InternalRow => Boolean = buildRegionPred()

  private var exhausted = false

  private def buildRegionPred(): InternalRow => Boolean = {
    val regionsOpt = options.get("regions")
    format.regionColumns match {
      case Some((c, s, e)) if regionsOpt.isDefined || pushed.nonEmpty =>
        val ci = fullSchema.fieldIndex(c)
        val si = fullSchema.fieldIndex(s)
        val ei = fullSchema.fieldIndex(e)
        val cs = format.coordSystem(options)
        val regions: Seq[Region] = LineSourceUtil.parseRegionsOption(options)
        // conservative bounds from pushed catalyst filters (output
        // coords) — shared folding with index chunk planning
        val (startLt, endGt) = LineSourceUtil.pushedBounds(pushed.toSeq, s, e)
        var chromSet: Option[Set[String]] = None
        pushed.foreach {
          // null comparands never match: EqualTo(c, null) keeps nothing
          // (empty set), and null In-list elements drop out — matching
          // SQL three-valued semantics instead of NPE-ing the reader
          case EqualTo(a, v) if a == c =>
            chromSet = Some(chromSet.getOrElse(Set.empty) ++
              Option(v).map(_.toString))
          case In(a, vs) if a == c =>
            chromSet = Some(chromSet.getOrElse(Set.empty) ++
              vs.filter(_ != null).map(_.toString))
          case _ => ()
        }
        val endOverride = format.regionEnd0(fullSchema, options)
        // SQL null semantics PER CONSTRAINT: a null column fails only
        // the constraints that reference it. Collapsing all nulls to
        // "keep iff nothing was pushed" dropped rows Spark would keep
        // — a GFF row with end='.' under a pushed start-only filter
        // satisfies that filter regardless of its end. (A null end
        // only matters when no format override can supply the true
        // span — e.g. SAM '*'-cigar rows override it.)
        //
        // The predicate is SHAPE-SPECIALIZED at build time: Options are
        // unwrapped to nullable fields / plain longs, coordinate reads
        // go through a type-specialized unboxed getter, and the chrom
        // string materializes at most once per row — the per-row
        // LazyRef/boxing allocations of the straightforward encoding
        // are all hoisted out of the scan's hot loop. A scan whose
        // pushed filters carry no region constraint at all (pure
        // projection pushdown) degrades to the constant-true predicate.
        val regionArr = regions.toArray
        val chromSetN: Set[String] = chromSet.orNull
        val hasStartLt = startLt.isDefined
        val startLtV = startLt.getOrElse(0L)
        val hasEndGt = endGt.isDefined
        val endGtV = endGt.getOrElse(0L)
        val endOvN: InternalRow => Long = endOverride.orNull
        val startOffset = cs.startOffset
        val startGet = LineSourceUtil.longGetter(fullSchema(si).dataType, si)
        val endGet = LineSourceUtil.longGetter(fullSchema(ei).dataType, ei)
        if (regionArr.isEmpty && chromSetN == null && !hasStartLt && !hasEndGt)
          _ => true
        else
          row => {
            val chromNull = row.isNullAt(ci)
            val startNull = row.isNullAt(si)
            val endColNull = row.isNullAt(ei)
            val endNull = endOvN == null && endColNull
            var chromStr: String = null
            var pass = true
            if (chromSetN != null) {
              if (chromNull) pass = false
              else {
                chromStr = row.getUTF8String(ci).toString
                pass = chromSetN.contains(chromStr)
              }
            }
            if (pass && hasStartLt)
              pass = !startNull && startGet(row) < startLtV
            if (pass && hasEndGt) {
              // a null end column falls back to the start coordinate as
              // the span end; if both are null the constraint fails
              if (endNull || (endColNull && startNull)) pass = false
              else pass =
                (if (endColNull) startGet(row) else endGet(row)) > endGtV
            }
            if (pass && regionArr.length > 0) {
              if (chromNull || startNull || endNull) pass = false
              else {
                if (chromStr == null)
                  chromStr = row.getUTF8String(ci).toString
                val startOut = startGet(row)
                // normalize to 0-based half-open for the overlap check
                // (a closed 1-based end equals the half-open end value,
                // so the end column needs no shift; formats whose true
                // span is not a column override it via regionEnd0)
                val start0 = startOut + startOffset
                val end0 =
                  if (endOvN != null) endOvN(row)
                  else if (endColNull) startOut
                  else endGet(row)
                pass = false
                var i = 0
                while (i < regionArr.length && !pass) {
                  if (regionArr(i).overlaps(chromStr, start0, end0))
                    pass = true
                  i += 1
                }
              }
            }
            pass
          }
      case _ => _ => true
    }
  }

  // Malformed-record policy (SURVEY §4.2): FAILFAST (default) surfaces
  // parse errors; PERMISSIVE logs and skips the record, like the
  // reference's discovery paths (`bam.rs:131-145`).
  private val permissive =
    options.getOrElse("mode", "FAILFAST").equalsIgnoreCase("permissive")
  private var skipped = 0L

  private def parseSafe(line: String): Seq[InternalRow] =
    if (!permissive) parser.parseMany(line)
    else try parser.parseMany(line) catch {
      case e: Exception =>
        skipped += 1
        if (skipped <= 10) LineReader.log.warn(
          s"skipping malformed ${format.shortName} record: ${e.getMessage}")
        Nil
    }

  // single-row twin of parseSafe for the hot path: no Option/Seq wrap
  private def parseOneSafe(line: String): InternalRow =
    if (!permissive) parser.parse(line)
    else try parser.parse(line) catch {
      case e: Exception =>
        skipped += 1
        if (skipped <= 10) LineReader.log.warn(
          s"skipping malformed ${format.shortName} record: ${e.getMessage}")
        null
    }

  private def flushSafe(): Seq[InternalRow] =
    if (!permissive) parser.flushMany()
    else try parser.flushMany() catch {
      case e: Exception =>
        skipped += 1
        if (skipped <= 10) LineReader.log.warn(
          s"dropping truncated trailing ${format.shortName} record: " +
            e.getMessage)
        Nil
    }

  private val pending = scala.collection.mutable.Queue.empty[InternalRow]

  // hot-loop precomputation: the per-line comment check must not walk a
  // Seq with a closure, and single-row parsers (everything but FASTA)
  // bypass the Option/Seq/Queue machinery entirely
  private val commentArr: Array[String] =
    format.commentPrefixes.filter(_.nonEmpty).toArray
  private def isComment(line: String): Boolean = {
    var i = 0
    while (i < commentArr.length) {
      if (line.startsWith(commentArr(i))) return true
      i += 1
    }
    false
  }
  private val singleRow = !parser.emitsMany

  /** The next queued row that passes the predicate, or null. */
  private def pendingRow(): InternalRow = {
    while (pending.nonEmpty) {
      val row = pending.dequeue()
      if (regionPred(row)) return row
    }
    null
  }

  override protected def nextRow(): InternalRow = {
    var row = pendingRow()
    while (row == null && !exhausted) {
      val line = readLineExact()
      if (line == null) exhausted = true
      else {
        pos += lastLineBytes
        val skip = startedMidLine
        startedMidLine = false
        // Hadoop line-split ownership: this split owns every line it
        // reads (except the skipped partial first line); the line whose
        // end crosses part.end is the last owned one. (vpos streams end
        // exactly at a record boundary instead.)
        if (!part.gzip && !part.vpos && pos > part.end) exhausted = true
        if (!skip && (line.nonEmpty || !format.skipEmptyLines) &&
            !isComment(line)) {
          if (singleRow && !exhausted) {
            // hot path: parse straight to the row, no Option/Seq/Queue.
            // (pending is empty here by construction: every pass of
            // this loop drains it.)
            val parsed = parseOneSafe(line)
            if (parsed != null && regionPred(parsed)) return parsed
          } else pending ++= parseSafe(line)
        }
      }
      if (exhausted) pending ++= flushSafe()
      row = pendingRow()
    }
    row
  }

  override def close(): Unit = reader.close()
}
