package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Region
import graft.sources.common.{GenomicScanBuilder, GenomicTable, GraftTableProps, LineFormat, LineParser, LineTableProvider}

/** FASTA reader (SURVEY §2.1 S13/S14).
  *
  * One row per sequence record: `name, description, sequence` (all strings,
  * reference `sequence/model/field.rs:7-41`). With the `regions` option,
  * one row per (record × overlapping region) with the sliced subsequence
  * and explicit `start`/`end` columns — the FAI-slicing capability
  * (`sequence/scanner/fasta.rs:105-121`) expressed as a scan option; the
  * linear scan stands in for the FAI index seek (index fast-path planned).
  *
  * Multi-line records make plain FASTA non-splittable; parallelism comes
  * from many files (or the FAI-partitioned upgrade).
  */
class FastaFormat extends LineFormat {
  override def shortName: String = "fasta"
  override def commentPrefixes: Seq[String] = Seq(";")
  override def splittable: Boolean = false

  // presence must be derived from the PARSED list, not the raw value:
  // a separator-only regions value (";") trims non-empty but parses to
  // zero regions, and a schema/parser disagreement emits 3-field rows
  // under a 5-field schema
  private def hasRegions(options: Map[String, String]): Boolean =
    graft.sources.common.LineSourceUtil.parseRegionsOption(options).nonEmpty

  override def schema(options: Map[String, String], paths: Seq[Path],
      conf: Configuration): StructType = {
    val base = StructType(Seq(
      StructField("name", StringType),
      StructField("description", StringType),
      StructField("sequence", StringType)))
    if (hasRegions(options)) {
      StructType(base.fields.patch(2, Seq(
        StructField("start", LongType), StructField("end", LongType)), 0))
    } else base
  }

  override def newParser(fullSchema: StructType,
      options: Map[String, String]): LineParser = {
    val regions =
      graft.sources.common.LineSourceUtil.parseRegionsOption(options)
    new FastaParser(regions)
  }
}

class FastaParser(regions: Seq[Region]) extends LineParser {
  private var name: String = _
  private var desc: String = _
  private val seq = new StringBuilder

  override def parse(line: String): InternalRow =
    throw new IllegalStateException("FastaParser emits via parseMany")

  override def emitsMany: Boolean = true

  override def parseMany(line: String): Seq[InternalRow] = {
    if (line.startsWith(">")) {
      val out = emit()
      val header = line.substring(1)
      val sp = header.indexOf(' ')
      name = if (sp < 0) header else header.substring(0, sp)
      desc = if (sp < 0) null else header.substring(sp + 1)
      seq.clear()
      out
    } else {
      if (name != null) seq.append(line.trim)
      Nil
    }
  }

  override def flushMany(): Seq[InternalRow] = {
    val out = emit()
    name = null
    out
  }

  private def emit(): Seq[InternalRow] = {
    if (name == null) return Nil
    val s = seq.toString
    if (regions.isEmpty) {
      Seq(new GenericInternalRow(Array[Any](
        UTF8String.fromString(name),
        if (desc == null) null else UTF8String.fromString(desc),
        UTF8String.fromString(s))))
    } else {
      regions.filter(r => r.name == name && r.start < s.length).map { r =>
        val end = math.min(r.end.getOrElse(s.length.toLong), s.length.toLong)
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(name),
          if (desc == null) null else UTF8String.fromString(desc),
          r.start, end,
          UTF8String.fromString(s.substring(r.start.toInt, end.toInt))))
      }
    }
  }
}

class FastaDataSource extends LineTableProvider {
  override def format: FastaFormat = new FastaFormat

  /** Region queries take the FAI seek fast path when a .fai companion
    * exists (plus .gzi for bgzipped FASTA): one partition per
    * (sequence × region), reading only the bytes covering the slice —
    * the streaming full-record scan is the fallback. */
  override def getTable(schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = {
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(properties)
    val options = graft.sources.common.LineSourceUtil.optionsMap(opts)
    val paths = graft.sources.common.LineSourceUtil.resolvePaths(opts)
    val conf = graft.sources.common.GraftHadoop.conf()
    val hasRegions = graft.sources.common.LineSourceUtil
      .parseRegionsOption(options).nonEmpty
    val indexable = hasRegions && paths.nonEmpty && paths.forall { p =>
      graft.formats.FaiIndex.readFor(p, conf).isDefined &&
        (!graft.sources.common.LineSourceUtil.isGzip(p) ||
          graft.formats.GziIndex.readFor(p, conf).isDefined)
    }
    // the fast path takes its regions from the option only: no filter
    // is pushed, and the slice reader does not stop at a pushed limit
    // (Spark keeps its own); catalog properties come from the .fai (M5)
    if (indexable)
      new GenomicTable(s"fasta-fai:${paths.mkString(",")}", schema, options,
        GraftTableProps.forPaths(paths))(o =>
        new GenomicScanBuilder(schema, chrom = None)(
          new FaiSliceScan(schema, paths, o, _)))
    else super.getTable(schema, partitioning, properties)
  }
}

/** FASTQ reader (SURVEY §2.1 S15): 4-line records →
  * `name, description, sequence, quality`. Non-splittable in plain text
  * (record sync is ambiguous); BGZF-chunked splitting is the scale path. */
class FastqFormat extends LineFormat {
  override def shortName: String = "fastq"
  override def commentPrefixes: Seq[String] = Nil
  override def splittable: Boolean = false
  override def skipEmptyLines: Boolean = false

  override def schema(options: Map[String, String], paths: Seq[Path],
      conf: Configuration): StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("sequence", StringType),
    StructField("quality", StringType)))

  override def newParser(fullSchema: StructType,
      options: Map[String, String]): LineParser = new FastqParser
}

class FastqParser extends LineParser {
  private var lineNo = 0
  private var bad = false
  private var name: String = _
  private var desc: String = _
  private var sequence: String = _

  /** The 4-line cadence advances BEFORE validation, so a malformed
    * line in PERMISSIVE mode poisons only its own record (flagged and
    * silently dropped at emission — the phase-0 throw already counted
    * it) instead of shifting every later record's phase — the old
    * post-validation increment left the parser re-trying phase 0
    * forever, and a quality line starting with '@' (Q31) would then be
    * consumed as a header, emitting garbage. Two extra guards: a BLANK
    * line at phase 0 is skipped without consuming the phase (the
    * common inserted-line corruption, which would otherwise shift
    * every later record), and emission requires len(qual) ==
    * len(seq) — the FASTQ invariant — so residual desync can never
    * emit a mismatched record. A non-blank line-count shift (an extra
    * or missing real line) still desyncs the remainder of the
    * partition; that is inherent to the format ('@' is a valid quality
    * character, so headers are not unambiguously recognizable). */
  override def parse(line: String): InternalRow = {
    val phase = lineNo
    if (phase == 0 && line.isEmpty)
      throw new IllegalArgumentException("blank line between FASTQ records")
    // bounded, never a raw counter: an Int incremented past 2^31 lines
    // (NovaSeq-scale single files) wraps negative and `% 4` then
    // matches no case — a mid-scan MatchError
    lineNo = (lineNo + 1) % 4
    phase match {
      case 0 =>
        bad = false
        if (!line.startsWith("@")) {
          bad = true
          throw new IllegalArgumentException(
            s"bad FASTQ record header: '$line'")
        }
        val header = line.substring(1)
        val sp = header.indexOf(' ')
        name = if (sp < 0) header else header.substring(0, sp)
        desc = if (sp < 0) null else header.substring(sp + 1)
        null
      case 1 => sequence = line; null
      case 2 =>
        if (!bad && !line.startsWith("+")) {
          bad = true
          throw new IllegalArgumentException(
            s"bad FASTQ separator: '$line'")
        }
        null
      case 3 =>
        if (bad) { bad = false; null } // already counted at its throw
        else if (line.length != sequence.length)
          throw new IllegalArgumentException(
            s"FASTQ quality length ${line.length} != sequence length " +
              s"${sequence.length} for record '$name'")
        else new GenericInternalRow(Array[Any](
          UTF8String.fromString(name),
          if (desc == null) null else UTF8String.fromString(desc),
          UTF8String.fromString(sequence),
          UTF8String.fromString(line)))
    }
  }

  /** A file ending mid-record (1-3 lines into the 4-line cadence) is
    * truncated: raise instead of silently dropping the dangling
    * record (PERMISSIVE mode downgrades this to a skip + warning). */
  override def flush(): InternalRow = {
    require(lineNo % 4 == 0,
      s"truncated FASTQ: file ends ${lineNo % 4} line(s) into record " +
        s"'${if (name != null) name else "?"}'")
    null
  }
}

class FastqDataSource extends LineTableProvider {
  override def format: FastqFormat = new FastqFormat
}
