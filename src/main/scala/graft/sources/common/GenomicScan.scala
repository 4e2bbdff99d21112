package graft.sources.common

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.Region
import graft.formats.GenomicIndex
import graft.formats.Bgzf.VirtualPosition

/** The DSv2 scaffold every genomic reader shares — the reference's four
  * scanner pushdowns (`alignment/scanner/bam.rs:155-279`: projection,
  * genomic range, limit, range-partitioned scan) written once:
  * [[GenomicTable]] → [[GenomicScanBuilder]] → a [[GenomicScan]]
  * subclass whose `planInputPartitions` turns [[GenomicScan.regions]]
  * into partitions, through [[BgzfIndexPlanner]] for BGZF files with a
  * BAI/CSI/TBI index, and whose [[GenomicReaderFactory]] runs the
  * format's [[GenomicPartitionReader]]. Readers keep only their format's
  * own planning and per-record decode. */

/** What Catalyst pushed into a scan: the pruned top-level columns (in
  * full-schema order), the schema exactly as pruned — nested fields
  * included, a parse hint for readers able to skip unrequested struct
  * fields — the filters the reader plans from, and the limit (-1: none). */
final case class Pushdown(required: StructType, requiredNested: StructType,
    filters: Array[Filter], limit: Int)

/** One batch-readable genomic table. `props` is the catalog property map
  * ([[GraftTableProps]]), built on first request; `scan` builds the
  * scan builder from the table options merged with the read options. */
class GenomicTable(tableName: String, tableSchema: StructType,
    options: Map[String, String], props: => java.util.Map[String, String])(
    scan: Map[String, String] => ScanBuilder) extends Table with SupportsRead {
  private lazy val tableProps = props
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def properties(): java.util.Map[String, String] = tableProps
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    scan(options ++ LineSourceUtil.optionsMap(o))
}

/** Column pruning, filter and limit pushdown. Pushed: `EqualTo`/`In` on
  * the `chrom` column and, when `bounds` names the (start, end) columns,
  * `start <`/`<=` and `end >`/`>=` comparisons. Every filter also stays
  * with Spark (the reader only prunes), and the limit is a partial push:
  * Spark keeps its own Limit above the scan. */
class GenomicScanBuilder(fullSchema: StructType, chrom: Option[String],
    bounds: Option[(String, String)] = None)(scan: Pushdown => Scan)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit {
  private var required: StructType = fullSchema
  private var requiredNested: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(fullSchema.fields.filter(f => keep(f.name)))
    requiredNested = requiredSchema
  }
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val start = bounds.map(_._1)
    val end = bounds.map(_._2)
    pushed = filters.filter {
      case EqualTo(a, _) => chrom.contains(a)
      case In(a, _) => chrom.contains(a)
      case LessThan(a, _) => start.contains(a)
      case LessThanOrEqual(a, _) => start.contains(a)
      case GreaterThan(a, _) => end.contains(a)
      case GreaterThanOrEqual(a, _) => end.contains(a)
      case _ => false
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def build(): Scan =
    scan(Pushdown(required, requiredNested, pushed, limit))
}

/** Base of every genomic scan: the pruned read schema, the
  * `graft-<label> <paths>[ pushed=[...]]` plan description and the
  * [[GenomicReaderFactory]] over the format's `reader`. */
abstract class GenomicScan(label: String, fullSchema: StructType,
    paths: Seq[Path], options: Map[String, String], pushdown: Pushdown,
    reader: GenomicReaderFactory.Ctor) extends Scan with Batch {
  override def readSchema(): StructType = pushdown.required
  override def toBatch: Batch = this
  override def createReaderFactory(): PartitionReaderFactory =
    new GenomicReaderFactory(fullSchema, pushdown, options, reader)
  override def description(): String = s"graft-$label ${paths.mkString(",")}" +
    (if (pushdown.filters.nonEmpty)
      s" pushed=[${pushdown.filters.mkString(",")}]" else "")
}

object GenomicScan {
  /** The regions a scan plans from: the `regions` option when set (it is
    * more specific), else one region [start, end) per value of the
    * pushed `chrom` equality/`In` filters. Null comparands never match,
    * so they are dropped instead of reaching the planner. */
  def regions(options: Map[String, String], pushed: Seq[Filter],
      chrom: String, start: Long = 0L, end: Option[Long] = None)
      : Seq[Region] = {
    val fromOption = LineSourceUtil.parseRegionsOption(options)
    if (fromOption.nonEmpty) fromOption
    else pushed.flatMap {
      case EqualTo(a, v) if a == chrom && v != null => Seq(v)
      case In(a, vs) if a == chrom => vs.toSeq.filter(_ != null)
      case _ => Nil
    }.map(v => Region(v.toString, start, end))
  }
}

/** Partition planning for a BGZF file with an optional BAI/CSI/TBI
  * index, shared by the BAM, BCF and tabix-indexed text readers. */
object BgzfIndexPlanner {

  /** `groups`: one partition each, a list of record-aligned [begin, end)
    * virtual-position ranges. `residual`: the (name, start, end) regions,
    * 0-based half-open, each partition re-checks per record. */
  final case class Plan(groups: Seq[Seq[(Long, Long)]],
      residual: Seq[(String, Long, Long)])

  /** Region query when there are regions and an index: resolve each
    * region through `resolve` (name → (refId, end used when the region
    * has none)), union and coalesce the index chunks of all regions, and
    * pack them into multi-range partitions of about `maxSplit`
    * compressed bytes, so the task count follows data volume, not chunk
    * scatter; every partition re-checks the FULL resolved list, so a
    * record in two regions is emitted once. Otherwise a full scan from
    * `firstRecord` to EOF, split at the index's record-aligned chunk
    * starts (`partition_from_index`, `util/index.rs:117-178`) at least
    * `maxSplit` apart, with the unresolved regions as residual. */
  def plan(fileLen: Long, index: Option[GenomicIndex.Index],
      firstRecord: => VirtualPosition, regions: Seq[Region],
      resolve: String => Option[(Int, Long)], maxSplit: Long): Plan =
    index match {
      case Some(ix) if regions.nonEmpty =>
        val resolved = regions.flatMap { r =>
          resolve(r.name).map { case (refId, refEnd) =>
            (refId, r.name, r.start,
              r.end.getOrElse(math.max(refEnd, r.start + 1)))
          }
        }
        // the residual predicate drops the records of the gaps that
        // coalescing reads through: µs of decode for far fewer tasks
        val chunks = GenomicIndex.coalesceChunks(resolved.flatMap {
          case (refId, _, s, e) => ix.query(refId, s, e)
        }, gapBytes = 1L << 20, spanBytes = maxSplit)
        Plan(GenomicIndex.packRanges(chunks, maxSplit)
            .map(_.map(ch => (ch.begin.value, ch.end.value))),
          resolved.map { case (_, n, s, e) => (n, s, e) })
      case _ =>
        val first = firstRecord
        val splits = index.map(GenomicIndex.partitionFromIndex(_, maxSplit))
          .getOrElse(Nil)
          .filter(v => v.value > first.value && v.compressedOffset < fileLen)
        val bounds = (first +: splits) :+ VirtualPosition(fileLen, 0)
        Plan(bounds.sliding(2).collect {
            case Seq(a, b) if a.value < b.value => Seq((a.value, b.value))
          }.toSeq,
          regions.map(r => (r.name, r.start, r.end.getOrElse(Long.MaxValue))))
    }
}
