package graft.sources

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.fixtures.BcfFixture
import graft.formats.BcfCodec

/** The same variants written as VCF text and as BCF must read back as the
  * same rows: one variant model behind two decoders. Each case compares
  * whole collected rows (ordered by chrom and pos) and the schemas. */
class VariantParitySpec extends SparkSuite {

  private val samples = Seq("NA1", "NA2", "NA3")
  private val contigs = Seq("chr1", "chr2")

  private val header = (Seq(
    "##fileformat=VCFv4.2",
    "##FILTER=<ID=PASS,Description=\"ok\">",
    "##FILTER=<ID=q10,Description=\"low, quality\">",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
    "##INFO=<ID=AF,Number=A,Type=Float,Description=\"freq\">",
    "##INFO=<ID=MQ,Number=1,Type=Float,Description=\"mapq\">",
    "##INFO=<ID=DB,Number=0,Type=Flag,Description=\"db\">",
    "##INFO=<ID=SV,Number=1,Type=String,Description=\"kind\">",
    "##INFO=<ID=AC2,Number=2,Type=Integer,Description=\"pair\">",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"genotype\">",
    "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
    "##FORMAT=<ID=AD,Number=R,Type=Integer,Description=\"allele depths\">",
    "##FORMAT=<ID=FT,Number=1,Type=String,Description=\"filter\">") ++
    contigs.map(c => s"##contig=<ID=$c,length=100000>") :+
    ("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" +
      samples.mkString("\t"))).mkString("\n")

  private val dict = BcfCodec.dictionaries(header).strings

  /** One typed value, written as VCF text and as a BCF typed value. */
  private sealed trait Value
  /** Integers; None is the missing value. */
  private final case class Ints(vs: Option[Int]*) extends Value
  private final case class Floats(vs: Float*) extends Value
  private final case class Str(s: String) extends Value
  private case object Flag extends Value
  /** A genotype: alleles (None = `.`), each with its phase bit. */
  private final case class Gt(alleles: (Option[Int], Boolean)*) extends Value

  private final case class Site(chrom: Int, pos: Int, ids: Seq[String],
      ref: String, alts: Seq[String], qual: Option[Float],
      filters: Seq[String], info: Seq[(String, Value)],
      format: Seq[(String, Seq[Value])])

  private def text(v: Value): String = v match {
    case Ints(vs @ _*) => vs.map(_.fold(".")(_.toString)).mkString(",")
    case Floats(vs @ _*) => vs.mkString(",")
    case Str(s) => s
    case Flag => ""
    case Gt(as @ _*) => as.zipWithIndex.map { case ((a, phased), i) =>
      (if (i == 0) (if (phased) "|" else "") else if (phased) "|" else "/") +
        a.fold(".")(_.toString)
    }.mkString
  }

  private def vcfLine(s: Site): String = {
    def dotted(xs: Seq[String], sep: String) =
      if (xs.isEmpty) "." else xs.mkString(sep)
    val info = if (s.info.isEmpty) "." else s.info.map {
      case (k, Flag) => k
      case (k, v) => s"$k=${text(v)}"
    }.mkString(";")
    val fixed = Seq(contigs(s.chrom), s.pos.toString, dotted(s.ids, ";"),
      s.ref, dotted(s.alts, ","), s.qual.fold(".")(_.toString),
      dotted(s.filters, ";"), info)
    val fmt =
      if (s.format.isEmpty) Nil
      else s.format.map(_._1).mkString(":") +: samples.indices.map(j =>
        s.format.map { case (_, per) => text(per(j)) }.mkString(":"))
    (fixed ++ fmt).mkString("\t")
  }

  private def key(name: String): Int = dict.indexOf(name)

  private def bcfInfo(v: Value): Array[Byte] = v match {
    case Ints(one) => BcfFixture.typedInt(one.getOrElse(BcfCodec.MissingInt32))
    case Ints(vs @ _*) =>
      BcfFixture.typedIntVec(vs.map(_.getOrElse(BcfCodec.MissingInt32)))
    case Floats(vs @ _*) => BcfFixture.typedFloatVec(vs)
    case Str(s) => BcfFixture.typedString(s)
    case Flag => BcfFixture.typedFlag
    case other => sys.error(s"no BCF INFO encoding for $other")
  }

  /** One sample's integer FORMAT vector: GT as (allele + 1) << 1 | phased
    * (0 = missing allele), integers with int8 MISSING. */
  private def bcfInts(v: Value): Seq[Int] = v match {
    case Gt(as @ _*) => as.map { case (a, p) =>
      ((a.getOrElse(-1) + 1) << 1) | (if (p) 1 else 0) }
    case Ints(vs @ _*) => vs.map(_.getOrElse(BcfCodec.MissingInt8))
    case other => sys.error(s"no BCF FORMAT encoding for $other")
  }

  private def bcfRec(s: Site): BcfFixture.BcfRec = {
    val (strs, ints) = s.format.partition(_._2.head.isInstanceOf[Str])
    BcfFixture.BcfRec(s.chrom, s.pos - 1, s.ref.length, s.qual, s.ids,
      s.ref +: s.alts, s.filters.map(key),
      s.info.map { case (k, v) => key(k) -> bcfInfo(v) },
      ints.map { case (k, per) => key(k) -> per.map(bcfInts) },
      samples.length,
      strs.map { case (k, per) => key(k) -> per.map { case Str(x) => x
        case other => sys.error(s"mixed FORMAT values $other") } })
  }

  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft-variant-parity")

  /** `sites` as VCF text and BCF files: (format, path) in that order. */
  private def write(name: String, sites: Seq[Site]): Seq[(String, String)] = {
    val vcf = dir.resolve(s"$name.vcf")
    java.nio.file.Files.write(vcf,
      (header + "\n" + sites.map(vcfLine).mkString("\n") + "\n")
        .getBytes("UTF-8"))
    val bcf = dir.resolve(s"$name.bcf").toString
    BcfFixture.write(bcf, header, sites.map(bcfRec))
    Seq("vcf" -> vcf.toString, "bcf" -> bcf)
  }

  private def gt(as: (Option[Int], Boolean)*): Gt = Gt(as: _*)
  private val (u0, u1, u2, p0, p1, no) = ((Some(0), false), (Some(1), false),
    (Some(2), false), (Some(0), true), (Some(1), true), (None, false))

  private val sites = Seq(
    Site(0, 100, Seq("rs1", "rs2"), "A", Seq("G", "T"), Some(29.5f),
      Seq("PASS"), Seq("DP" -> Ints(Some(10)), "AF" -> Floats(0.25f, 0.5f),
        "MQ" -> Floats(59.5f), "DB" -> Flag, "SV" -> Str("snv"),
        "AC2" -> Ints(Some(1), Some(2))),
      Seq("GT" -> Seq(gt(u0, p1), gt(u1, u2), gt(u0, u0)),
        "DP" -> Seq(Ints(Some(7)), Ints(None), Ints(Some(5))),
        "AD" -> Seq(Ints(Some(4), Some(3), Some(1)),
          Ints(Some(1), Some(1), Some(0)), Ints(Some(9), None, Some(0))),
        "FT" -> Seq(Str("PASS"), Str("LOWQ"), Str("PASS")))),
    Site(0, 250, Nil, "C", Seq("A"), None, Seq("q10"),
      Seq("DP" -> Ints(Some(3))),
      Seq("GT" -> Seq(gt(no, no), gt(u0, u0), gt(u1, p1)),
        "DP" -> Seq(Ints(Some(2)), Ints(Some(5)), Ints(Some(8))))),
    Site(1, 40, Seq("rs3"), "G", Seq("GA"), Some(12f), Nil,
      Seq("AF" -> Floats(1.0f), "SV" -> Str("ins")),
      Seq("GT" -> Seq(gt(u0, u1), gt(p0, p1), gt(no, no)))))

  private lazy val files = write("sites", sites)

  /** Each face's rows of `q`, ordered by chrom and pos, must equal the
    * first face's, with the same schema; returns the first face's rows. */
  private def assertParity(faces: Seq[(String, String)],
      opts: Map[String, String] = Map.empty)(q: DataFrame => DataFrame)
      : Seq[Row] = {
    val dfs = faces.map { case (fmt, p) =>
      fmt -> q(spark.read.format(fmt).options(opts).load(p)) }
    val (first, want) = dfs.head
    val rows = want.orderBy("chrom", "pos").collect().toSeq
    dfs.tail.foreach { case (fmt, df) =>
      assert(df.schema == want.schema, s"$fmt schema differs from $first")
      val got = df.orderBy("chrom", "pos").collect().toSeq
      assert(got == rows, s"$fmt rows differ from $first:\n$got\n$rows")
    }
    rows
  }

  test("parity: all columns") {
    val rows = assertParity(files)(identity)
    assert(rows.length == sites.length)
    val info = rows.head.getStruct(7)
    assert(info.schema.fieldNames.toSeq ==
      Seq("DP", "AF", "MQ", "DB", "SV", "AC2"))
    assert(info.getFloat(2) == 59.5f && info.getString(4) == "snv")
    val na1 = rows.head.getStruct(8).getStruct(0)
    assert(na1.getSeq[Long](2) == Seq(4L, 3L, 1L) && na1.getString(3) == "PASS")
  }

  test("parity: info_fields and samples subsets") {
    val rows = assertParity(files,
      Map("info_fields" -> "SV,DP", "samples" -> "NA3,NA2"))(identity)
    assert(rows.head.getStruct(7).schema.fieldNames.toSeq == Seq("DP", "SV"))
    assert(rows.head.getStruct(8).schema.fieldNames.toSeq == Seq("NA2", "NA3"))
    assert(rows(1).getStruct(8).getStruct(1).getSeq[Row](0)
      .map(g => (g.getInt(0), g.getBoolean(1))) == Seq((1, false), (1, true)))
  }

  test("parity: info.DP alone and samples.NA1.GT alone") {
    val dp = assertParity(files)(_.select(col("chrom"), col("pos"),
      col("info.DP")))
    assert(dp.map(r => if (r.isNullAt(2)) null else r.getLong(2)) ==
      Seq(10L, 3L, null))
    val gts = assertParity(files)(_.select(col("chrom"), col("pos"),
      col("samples.NA1.GT")))
    assert(gts.map(_.getSeq[Row](2).map(g =>
      (if (g.isNullAt(0)) -1 else g.getInt(0), g.getBoolean(1)))) == Seq(
      Seq((0, false), (1, true)), Seq((-1, false), (-1, false)),
      Seq((0, false), (1, false))))
  }

  test("parity: genotype_by=field") {
    val rows = assertParity(files, Map("genotype_by" -> "field"))(identity)
    val byField = rows.head.getStruct(8)
    assert(byField.schema.fieldNames.toSeq == Seq("GT", "DP", "AD", "FT"))
    val dp = byField.getStruct(1)
    assert(dp.getLong(0) == 7L && dp.isNullAt(1) && dp.getLong(2) == 5L)
  }

  test("parity: coords=01 shifts pos") {
    val rows = assertParity(files, Map("coords" -> "01"))(
      _.select("chrom", "pos", "ref"))
    assert(rows.map(_.getLong(1)) == Seq(99L, 249L, 39L))
  }

  test("parity: a Number=2 overflow raises under FAILFAST, skips under PERMISSIVE") {
    val faces = write("overflow", Seq(
      Site(0, 10, Nil, "A", Seq("G"), None, Seq("PASS"),
        Seq("AC2" -> Ints(Some(1), Some(2))), Nil),
      Site(0, 20, Nil, "C", Seq("T"), None, Seq("PASS"),
        Seq("AC2" -> Ints(Some(1), Some(2), Some(3))), Nil)))
    faces.foreach { case (fmt, p) =>
      val e = intercept[SparkException] {
        spark.read.format(fmt).load(p).collect()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage)
          .contains("AC2 declares Number=2")), s"$fmt: $e")
    }
    val rows = assertParity(faces, Map("mode" -> "permissive"))(
      _.select("chrom", "pos", "info.AC2"))
    assert(rows.map(r => (r.getLong(1), r.getSeq[Long](2))) ==
      Seq((10L, Seq(1L, 2L))))
  }

  /** One site on chr1 whose FORMAT field `key` carries `perSample`, and
    * whose INFO carries `info`. */
  private def oneSite(info: Seq[(String, Value)], key: String,
      perSample: Seq[Value]): Seq[Site] = Seq(Site(0, 100, Nil, "A",
    Seq("G", "T"), None, Seq("PASS"), info,
    Seq("GT" -> Seq(gt(u0, u1), gt(u0, u1), gt(u0, u1)), key -> perSample)))

  test("parity: a char FORMAT value NUL-padded to the longest sample") {
    val rows = assertParity(write("padded", oneSite(Nil, "FT",
      Seq(Str("PASS"), Str("q1"), Str("LowQual")))))(
      _.select(col("chrom"), col("pos"), col("samples.NA2.FT")))
    assert(rows.head.getString(2) == "q1")
  }

  test("parity: a '.' string value reads null") {
    val rows = assertParity(write("dotted", oneSite(Seq("SV" -> Str(".")),
      "FT", Seq(Str("."), Str("."), Str(".")))))(
      _.select(col("chrom"), col("pos"), col("info.SV"), col("samples.NA1.FT")))
    assert(rows.head.isNullAt(2) && rows.head.isNullAt(3))
  }

  test("parity: a FORMAT vector of MISSING then END_OF_VECTOR reads null") {
    val rows = assertParity(write("eov", oneSite(Nil, "AD", Seq(
      Ints(Some(4), Some(3), Some(1)), Ints(None), Ints(Some(9), None, None)))))(
      _.select(col("chrom"), col("pos"), col("samples")))
    val samples = rows.head.getStruct(2)
    assert(samples.getStruct(1).isNullAt(2))
    assert(samples.getStruct(2).getSeq[Any](2) == Seq(9L, null, null))
  }
}
