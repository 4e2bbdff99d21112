package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.formats.VariantValues
import graft.sources.common.{LineFormat, LineParser, LineSourceUtil, LineTableProvider}

/** VCF text reader (SURVEY §2.1 S8). It reads through the one variant
  * model it shares with the BCF reader, [[VariantModel]]: the schema
  * (seven fixed columns, the header-typed `info` struct, the `samples`
  * struct in either `genotype_by` layout, GT as
  * `array<struct<allele:int, phased:boolean>>`), the multi-file sample
  * guard, the per-partition [[VariantLayout]] and, through
  * [[graft.formats.VariantValues]], the missing, Flag, GT and Number
  * rules. This file keeps only the text decode, [[VcfParser]].
  *
  * Options: `include_samples` (default true), `genotype_by` (sample|field),
  * `samples` (comma list subset), `info_fields` (comma list subset),
  * `coords` (`11` default), `regions`, `maxpartitionbytes`, `mode`.
  */
class VcfFormat extends LineFormat {
  override def shortName: String = "vcf"
  override def commentPrefixes: Seq[String] = Seq("#")
  override def regionColumns: Option[(String, String, String)] =
    Some(("chrom", "pos", "pos"))
  override def predicateNeeds(options: Map[String, String])
      : (Seq[String], Seq[(String, String)]) =
    (Seq("ref"), Seq("info" -> "END")) // regionEnd0's inputs
  override def coordSystem(options: Map[String, String]) =
    graft.core.CoordSystem.fromCode(options.getOrElse("coords", "11"))

  /** htslib/tabix VCF end semantics: a record spans
    * [pos0, pos0 + len(REF)), or up to INFO END (1-based inclusive) for
    * symbolic alleles — so a deletion starting before the queried window
    * but reaching into it is kept, matching `BcfSource`'s rlen behavior
    * on the same data. */
  override def regionEnd0(fullSchema: StructType,
      options: Map[String, String]): Option[InternalRow => Long] = {
    val cs = coordSystem(options)
    val posIdx = fullSchema.fieldIndex("pos")
    val refIdx = fullSchema.fieldIndex("ref")
    // INFO END (Number=1, Integer → scalar long), if declared in the header
    val infoEnd: Option[(Int, Int, Int)] =
      fullSchema.fields.zipWithIndex.collectFirst {
        case (StructField("info", st: StructType, _, _), ii) => (ii, st)
      }.flatMap { case (ii, st) =>
        st.fields.zipWithIndex.collectFirst {
          case (StructField("END", LongType, _, _), fi) => (ii, fi, st.length)
        }
      }
    Some { row =>
      val pos0 = row.getLong(posIdx) + cs.startOffset
      val fromInfo = infoEnd.flatMap { case (ii, fi, n) =>
        if (row.isNullAt(ii)) None
        else {
          val s = row.getStruct(ii, n)
          if (s.isNullAt(fi)) None else Some(s.getLong(fi))
        }
      }
      fromInfo.getOrElse {
        val refLen =
          if (row.isNullAt(refIdx)) 1L
          else math.max(1L, row.getUTF8String(refIdx).numChars().toLong)
        pos0 + refLen
      }
    }
  }

  override def schema(options: Map[String, String], paths: Seq[Path],
      conf: Configuration): StructType =
    VariantModel.schema(paths, options)(readHeader(_, conf))

  private def readHeader(path: Path, conf: Configuration): VcfHeaderInfo = {
    val raw = path.getFileSystem(conf).open(path)
    // the GZIP constructor reads the stream header and throws on
    // empty/corrupt input BEFORE the reader's try/finally exists —
    // without this guard `raw` (a connection-holding filesystem
    // stream) leaks on every such file during schema inference
    val in =
      try {
        if (LineSourceUtil.isGzip(path)) new GZIPInputStream(raw) else raw
      } catch { case e: Throwable => raw.close(); throw e }
    val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    try VariantModel.header(Iterator.continually(r.readLine())
      .takeWhile(l => l != null && l.startsWith("#")))
    finally r.close()
  }

  override def newParser(fullSchema: StructType,
      options: Map[String, String]): LineParser =
    newParser(fullSchema, options, fullSchema)

  /** Projection-aware down to NESTED fields: INFO and samples parsing
    * dominate the per-line cost (measured 11.8 s -> 7.1 s over a
    * 2.5M-record bgzipped VCF when both are skipped entirely), so a
    * top-level column absent from `parseNeeded` is left null, and within
    * a present info/samples struct only the Catalyst-pruned sub-fields
    * are parsed (selecting `samples.s1.GT` out of a 1000-sample file
    * parses one sample column, not a thousand). */
  override def newParser(fullSchema: StructType,
      options: Map[String, String], parseNeeded: StructType): LineParser =
    new VcfParser(new VariantLayout(fullSchema, parseNeeded,
      options.getOrElse("genotype_by", "sample") == "field", "VCF"),
      VariantModel.posShift(options))
}

/** The VCF text decode: a tab-offset scan of each line, INFO's `key=value`
  * scan and the sample columns split at ':', filling the slots `layout`
  * names (rows keep the full schema's shape; other slots stay null). */
class VcfParser(layout: VariantLayout, shift: Long)
    extends LineParser with VariantLayout.Cells {

  private val fixedNeeded = layout.fixed

  // memoized FORMAT-column parse: real files carry very few distinct
  // FORMAT strings, so the split and the layout keys' positions are
  // computed once per distinct value instead of per row (parsers are
  // per-partition and single-threaded, so plain mutable fields are safe)
  private val keyIndex: Map[String, Int] = layout.formatKeys.zipWithIndex.toMap
  private var fmtCacheStr: String = null
  private var fmtCachePos: Array[Int] = null
  private def formatPositions(fmt: String): Array[Int] = {
    if (fmt != fmtCacheStr) {
      val pos = Array.fill(layout.formatKeys.length)(-1)
      if (fmt != "." && fmt.nonEmpty) {
        val keys = fmt.split(":")
        var i = 0
        // a duplicated FORMAT key resolves to its FIRST position
        while (i < keys.length) {
          val k = keyIndex.getOrElse(keys(i), -1)
          if (k >= 0 && pos(k) < 0) pos(k) = i
          i += 1
        }
      }
      fmtCacheStr = fmt
      fmtCachePos = pos
    }
    fmtCachePos
  }

  // reusable tab-offset buffer for the column scan
  private var tabBuf = new Array[Int](12)

  // the record whose samples struct is being built, for cell(): each
  // sample column read is split once per row
  private var line: String = null
  private var nTabs = 0
  private var nCols = 0
  private var keyPos: Array[Int] = null
  private val partsCache = new Array[Array[String]](layout.sampleCount)

  private def strList(v: String, sep: Char): Any =
    if (VariantValues.isMissing(v)) null
    else ArrayData.toArrayData(v.split(sep).map(UTF8String.fromString))

  // The per-row path deliberately avoids generic collection combinators
  // (an earlier `infoSchema.toSeq.map { ... }` / `fixed ++ info ++
  // samples` shape): whether C2 inlined List.map into parse was a
  // per-JVM coin flip, and the losing mode ran full-file scans 2.5-3x
  // slower — on a large cluster that is a random per-executor
  // straggler, so the hot loop must not depend on inlining luck.
  private def colAt(line: String, nTabs: Int, i: Int): String = {
    val a = if (i == 0) 0 else tabBuf(i - 1) + 1
    val b = if (i == nTabs) line.length else tabBuf(i)
    line.substring(a, b)
  }

  override def parse(line: String): InternalRow = {
    // offset scan over the tabs: a column substring is materialized
    // only when that column is actually consumed — split("\t") would
    // allocate one String per sample column even for an INFO-only scan
    var nTabs = 0
    var ti = line.indexOf('\t')
    while (ti >= 0) {
      if (nTabs == tabBuf.length)
        tabBuf = java.util.Arrays.copyOf(tabBuf, nTabs * 2)
      tabBuf(nTabs) = ti
      nTabs += 1
      ti = line.indexOf('\t', ti + 1)
    }
    val nCols = nTabs + 1
    require(nCols >= 8, s"malformed VCF line ($nCols cols)")

    val out = new Array[Any](layout.width)
    if (fixedNeeded(0)) { val v = colAt(line, nTabs, 0)
      if (!VariantValues.isMissing(v)) out(0) = UTF8String.fromString(v) }
    if (fixedNeeded(1)) { val v = colAt(line, nTabs, 1)
      if (!VariantValues.isMissing(v)) out(1) = v.toLong + shift }
    if (fixedNeeded(2)) out(2) = strList(colAt(line, nTabs, 2), ';')
    if (fixedNeeded(3)) { val v = colAt(line, nTabs, 3)
      if (!VariantValues.isMissing(v)) out(3) = UTF8String.fromString(v) }
    if (fixedNeeded(4)) out(4) = strList(colAt(line, nTabs, 4), ',')
    if (fixedNeeded(5)) { val v = colAt(line, nTabs, 5)
      if (!VariantValues.isMissing(v)) out(5) = v.toFloat }
    if (fixedNeeded(6)) out(6) = strList(colAt(line, nTabs, 6), ';')

    if (layout.infoSlot >= 0) out(layout.infoSlot) = infoRow(line, nTabs)
    if (layout.samplesSlot >= 0) {
      this.line = line
      this.nTabs = nTabs
      this.nCols = nCols
      keyPos = formatPositions(if (nCols > 8) colAt(line, nTabs, 8) else "")
      java.util.Arrays.fill(partsCache.asInstanceOf[Array[AnyRef]], null)
      out(layout.samplesSlot) = layout.samplesRow(this)
      this.line = null
    }
    new GenericInternalRow(out)
  }

  private def infoRow(line: String, nTabs: Int): GenericInternalRow = {
    // single pass over the INFO string, filling schema slots directly:
    // no split array, no intermediate map, and value substrings are
    // extracted only for keys the schema keeps (duplicate keys
    // last-win)
    val arr = new Array[Any](layout.infoWidth)
    val s = colAt(line, nTabs, 7)
    if (!VariantValues.isMissing(s)) {
      val n = s.length
      var start = 0
      while (start < n) {
        var semi = s.indexOf(';', start)
        if (semi < 0) semi = n
        // scan for '=' only within the segment: an unbounded indexOf
        // would re-scan the whole tail for every flag-style key
        var eq = start
        while (eq < semi && s.charAt(eq) != '=') eq += 1
        val idx = layout.infoIndex.getOrElse(s.substring(start, eq), -1)
        if (idx >= 0) {
          // bare key: a Flag is present; a typed key with no value
          // carries nothing and stays null
          if (eq == semi) {
            if (layout.infoTargets(idx) == VariantValues.AsFlag) arr(idx) = true
          } else arr(idx) = layout.info(idx, VariantValues.fromText(
            s.substring(eq + 1, semi), layout.infoTargets(idx)))
        }
        start = semi + 1
      }
    }
    new GenericInternalRow(arr)
  }

  override def cell(key: Int, sample: Int, target: Int): Any = {
    val pos = keyPos(key)
    val ci = 9 + sample
    if (pos < 0 || ci >= nCols) null
    else {
      var parts = partsCache(sample)
      if (parts == null) {
        parts = colAt(line, nTabs, ci).split(":", -1)
        partsCache(sample) = parts
      }
      if (pos < parts.length) VariantValues.fromText(parts(pos), target) else null
    }
  }
}

class VcfDataSource extends LineTableProvider {
  override def format: VcfFormat = new VcfFormat

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    VariantModel.requireLayout(schema, "VCF")
    super.getTable(schema, partitioning, properties)
  }
}
