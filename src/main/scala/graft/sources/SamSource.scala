package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.formats.TagSlots
import graft.sources.common.{LineFormat, LineParser, LineSourceUtil, LineTableProvider}

/** SAM text reader (SURVEY §2.1 S1) over the one alignment model
  * ([[AlignmentModel]]: twelve fixed columns plus an optional `tags`
  * struct, shared with the BAM and CRAM readers).
  *
  * Tag schema comes from the `tags` option (`"NM:i,MD:Z"` — the reference's
  * tag-def grammar) or from sampling `tag_scan_rows` records (TagScanner
  * pattern, `alignment/model/tag.rs:593-640`).
  *
  * Options: `tags` / `tag_scan_rows` (default 1024, 0 = no tags column),
  * `coords` (`11` default), `regions`, `maxpartitionbytes`.
  */
class SamFormat extends LineFormat {
  override def shortName: String = "sam"
  override def commentPrefixes: Seq[String] = Seq("@")
  override def regionColumns: Option[(String, String, String)] =
    Some(("rname", "pos", "end"))
  override def coordSystem(options: Map[String, String]) =
    graft.core.CoordSystem.fromCode(options.getOrElse("coords", "11"))

  /** htslib bam_endpos convention for region queries: a placed record
    * with no reference span ('*' CIGAR → null end, or all-clip/insert)
    * counts as length 1 — samtools returns it for a region covering
    * its position. */
  override def regionEnd0(fullSchema: StructType,
      options: Map[String, String]): Option[InternalRow => Long] = {
    val cs = coordSystem(options)
    val posIdx = fullSchema.fieldIndex("pos")
    val endIdx = fullSchema.fieldIndex("end")
    Some { row =>
      val start0 = row.getLong(posIdx) + cs.startOffset
      if (row.isNullAt(endIdx)) start0 + 1
      else math.max(row.getLong(endIdx), start0 + 1)
    }
  }

  override def schema(options: Map[String, String], paths: Seq[Path],
      conf: Configuration): StructType =
    AlignmentModel.schema(options, defaultScanRows = 1024)(
      discoverTags(paths, _))

  private def discoverTags(paths: Seq[Path], scanRows: Int): Seq[(String, Char)] = {
    val conf = graft.sources.common.GraftHadoop.conf()
    val types = new AlignmentModel.TagTypes
    var seen = 0
    paths.iterator.takeWhile(_ => seen < scanRows).foreach { p =>
      val fs = p.getFileSystem(conf)
      val raw = fs.open(p)
      val in = if (LineSourceUtil.isGzip(p)) new GZIPInputStream(raw) else raw
      val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      try {
        var line = r.readLine()
        while (line != null && seen < scanRows) {
          if (line.nonEmpty && !line.startsWith("@")) {
            val cols = line.split("\t", -1)
            cols.drop(11).foreach { t =>
              val parts = t.split(":", 3)
              // parts(1).nonEmpty: a malformed "XX::v" token must not
              // crash schema inference with head-of-empty — the row
              // parser itself skips the same token, and discovery must
              // never be MORE fragile than parsing
              if (parts.length == 3 && parts(1).nonEmpty)
                types.add(parts(0),
                  if (parts(1) == "B") // B:f,… → float array, else int array
                    (if (parts(2).startsWith("f")) 'G' else 'L')
                  else parts(1).head)
            }
            seen += 1
          }
          line = r.readLine()
        }
      } finally r.close()
    }
    types.result
  }

  override def newParser(fullSchema: StructType,
      options: Map[String, String]): LineParser =
    newParser(fullSchema, options, fullSchema)

  /** Projection-aware down to nested fields: tag parsing is skipped
    * when the `tags` struct is not consumed, and limited to the
    * Catalyst-requested tag names otherwise. */
  override def newParser(fullSchema: StructType,
      options: Map[String, String], parseNeeded: StructType): LineParser =
    new SamParser(fullSchema, AlignmentModel.posShift(options),
      AlignmentModel.tagSlots(fullSchema, parseNeeded))
}

/** One SAM text line to a row. `posShift` comes from the `coords`
  * option; `tagSlots` names the tag slots to fill (None skips tag
  * parsing and leaves the tags slot null). */
class SamParser(fullSchema: StructType, posShift: Long,
    tagSlots: Option[TagSlots]) extends LineParser {
  private val hasTags = AlignmentModel.tagSchema(fullSchema).isDefined
  private val slots: TagSlots = tagSlots.orNull

  override def parse(line: String): InternalRow = {
    val c = line.split("\t", -1)
    require(c.length >= 11, s"malformed SAM line (${c.length} cols)")
    def str(v: String) = if (v == "*" || v.isEmpty) null else UTF8String.fromString(v)
    val pos = c(3).toLong
    val cigarLen = AlignmentModel.cigarRefLen(c(5))
    val unmapped = (c(1).toInt & 0x4) != 0 || c(2) == "*" || pos == 0
    // 1-based-closed end == 0-based-half-open end numerically, so no
    // shift. cigarLen <= 0 (not just '*' = -1): a zero-reference-length
    // CIGAR (all clips/inserts) covers no reference base, so end is
    // null — matching the BAM decoder instead of emitting the nonsense
    // coordinate pos-1
    val endVal: Any =
      if (unmapped || cigarLen <= 0) null
      else pos + cigarLen - 1

    val base = Array[Any](
      str(c(0)), c(1).toInt, str(c(2)),
      if (pos == 0) null else pos + posShift,
      c(4).toInt, str(c(5)),
      // RNEXT "=" means "same contig as RNAME" (SAM §1.4) — resolve it
      // like the BAM/CRAM decoders do, so the three faces agree on
      // every same-contig paired read
      if (c(6) == "=") str(c(2)) else str(c(6)),
      if (c(7).toLong == 0) null else c(7).toLong + posShift,
      c(8).toInt, str(c(9)), str(c(10)), endVal)

    if (!hasTags) new GenericInternalRow(base)
    else if (slots == null)
      // un-projected tags column: emit the slot as null, skip parsing
      new GenericInternalRow(base :+ (null: Any))
    else {
      val tags = new Array[Any](slots.schema.length)
      var i = 11
      while (i < c.length) {
        // "XX:T:value" — identify the 2-char tag without splitting, so
        // un-requested tags cost no allocation at all
        val t = c(i)
        if (t.length >= 5 && t.charAt(2) == ':' && t.charAt(4) == ':') {
          val slot = slots.slot(t.charAt(0), t.charAt(1))
          if (slot >= 0) tags(slot) = slots.fromText(t.charAt(3), t.substring(5), slot)
        }
        i += 1
      }
      new GenericInternalRow(base :+ (new GenericInternalRow(tags): Any))
    }
  }
}

class SamDataSource extends LineTableProvider {
  override def format: SamFormat = new SamFormat

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    AlignmentModel.requireLayout(schema, "SAM")
    super.getTable(schema, partitioning, properties)
  }
}
