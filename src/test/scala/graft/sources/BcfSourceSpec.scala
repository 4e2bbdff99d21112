package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SparkSuite
import graft.fixtures.BcfFixture
import graft.fixtures.BcfFixture.BcfRec

class BcfSourceSpec extends SparkSuite {

  private val header = Seq(
    "##fileformat=VCFv4.2",
    "##FILTER=<ID=PASS,Description=\"ok\">",
    "##FILTER=<ID=q10,Description=\"low\">",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
    "##INFO=<ID=AF,Number=A,Type=Float,Description=\"freq\">",
    "##INFO=<ID=DB,Number=0,Type=Flag,Description=\"db\">",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">",
    "##FORMAT=<ID=FD,Number=1,Type=Integer,Description=\"fmt depth\">",
    "##contig=<ID=chr1,length=100000>",
    "##contig=<ID=chr2,length=50000>",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA1\tNA2"
  ).mkString("\n")

  // dictionary (implicit order): PASS=0 q10=1 DP=2 AF=3 DB=4 GT=5 FD=6
  private lazy val bcfPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bcf")
    val p = dir.resolve("sample.bcf").toString
    BcfFixture.write(p, header, Seq(
      BcfRec(0, 99, 1, Some(29.5f), Seq("rs1", "rs2"), Seq("A", "G", "T"),
        Seq(0),
        info = Seq(2 -> BcfFixture.typedInt(10), 4 -> BcfFixture.typedFlag),
        // GT: NA1 0|1 -> [2,5]; NA2 1/1 -> [4,4]; FD: NA1 7, NA2 missing
        fmt = Seq(5 -> Seq(Seq(2, 5), Seq(4, 4)),
          6 -> Seq(Seq(7), Seq(graft.formats.BcfCodec.MissingInt8))),
        nSample = 2),
      BcfRec(1, 199, 1, None, Nil, Seq("C"), Seq(1),
        info = Seq(3 -> BcfFixture.typedFloatVec(Seq(0.5f))),
        fmt = Seq(5 -> Seq(Seq(0, 0), Seq(2, 2))),
        nSample = 2)))
    p
  }

  test("bcf: header-driven schema matches the vcf text reader shape") {
    val df = spark.read.format("bcf").load(bcfPath)
    assert(df.columns.toSeq == Seq("chrom", "pos", "id", "ref", "alt", "qual",
      "filter", "info", "samples"))
    val info = df.schema("info").dataType.asInstanceOf[StructType]
    assert(info.fieldNames.toSeq == Seq("DP", "AF", "DB"))
    val samples = df.schema("samples").dataType.asInstanceOf[StructType]
    assert(samples.fieldNames.toSeq == Seq("NA1", "NA2"))
  }

  test("bcf: samples subset reads the right per-sample vector slots") {
    // NA2 (file slot 1): GT 1/1, FD missing; positional mapping would
    // leak NA1's 0|1 / 7
    val d = spark.read.format("bcf").option("samples", "NA2").load(bcfPath)
    val r = d.where(org.apache.spark.sql.functions.col("pos") === 100)
      .select("samples.NA2.GT", "samples.NA2.FD").collect()(0)
    val gt = r.getSeq[org.apache.spark.sql.Row](0)
    assert(gt.map(_.getInt(0)) == Seq(1, 1), s"GT alleles: $gt")
    assert(r.isNullAt(1), s"expected NA2 FD null, got $r")
    val dbf = spark.read.format("bcf").option("samples", "NA2")
      .option("genotype_by", "field").load(bcfPath)
    val r2 = dbf.where(org.apache.spark.sql.functions.col("pos") === 100)
      .select("samples.FD.NA2").collect()(0)
    assert(r2.isNullAt(0))
  }

  test("bcf: record decode (dictionary strings, typed values, GT)") {
    val rows = spark.read.format("bcf").load(bcfPath).orderBy("pos").collect()
    assert(rows.length == 2)
    val r1 = rows(0)
    assert(r1.getString(0) == "chr1" && r1.getLong(1) == 100)
    assert(r1.getSeq[String](2) == Seq("rs1", "rs2"))
    assert(r1.getString(3) == "A" && r1.getSeq[String](4) == Seq("G", "T"))
    assert(r1.getFloat(5) == 29.5f)
    assert(r1.getSeq[String](6) == Seq("PASS"))
    val i1 = r1.getStruct(7)
    assert(i1.getLong(0) == 10 && i1.isNullAt(1) && i1.getBoolean(2))
    val na1 = r1.getStruct(8).getStruct(0)
    assert(na1.getSeq[org.apache.spark.sql.Row](0)
      .map(g => (g.getInt(0), g.getBoolean(1))) == Seq((0, false), (1, true)))
    assert(na1.getLong(1) == 7)
    val na2 = r1.getStruct(8).getStruct(1)
    assert(na2.getSeq[org.apache.spark.sql.Row](0)
      .map(g => (g.getInt(0), g.getBoolean(1))) == Seq((1, false), (1, false)))
    assert(na2.isNullAt(1)) // missing FD

    val r2 = rows(1)
    assert(r2.getString(0) == "chr2" && r2.getLong(1) == 200)
    assert(r2.isNullAt(2) && r2.isNullAt(5))
    assert(r2.getSeq[String](6) == Seq("q10"))
    val i2 = r2.getStruct(7)
    assert(i2.isNullAt(0) && i2.getSeq[Float](1) == Seq(0.5f) && i2.isNullAt(2))
    val gt2 = r2.getStruct(8).getStruct(0)
      .getSeq[org.apache.spark.sql.Row](0)
    assert(gt2.map(_.isNullAt(0)) == Seq(true, true)) // ./.
  }

  test("bcf: nested projection skips un-requested info/format decoding") {
    // only DP and NA1.GT are requested: AF/DB and FD are size-skipped in
    // the codec, and the returned values must still be exact
    val df = spark.read.format("bcf").load(bcfPath)
    val r = df.orderBy("pos")
      .select(col("pos"), col("info.DP").as("dp"),
        col("samples.NA1.GT").as("gt")).collect()
    assert(r(0).getLong(0) == 100 && r(0).getLong(1) == 10)
    assert(r(0).getSeq[org.apache.spark.sql.Row](2)
      .map(g => (g.getInt(0), g.getBoolean(1))) == Seq((0, false), (1, true)))
    assert(r(1).isNullAt(1)) // record 2 has no DP
    // FD-only projection must still read FD exactly (skip GT)
    val fd = df.orderBy("pos").select(col("samples.NA1.FD").as("fd"))
      .collect()
    assert(fd(0).getLong(0) == 7L && fd(1).isNullAt(0))
    // AF-only projection skips DP/DB
    val af = df.orderBy("pos").select(col("info.AF").as("af")).collect()
    assert(af(0).isNullAt(0) && af(1).getSeq[Float](0) == Seq(0.5f))
  }

  test("bcf: CSI region query and pushed chrom filter") {
    val df = spark.read.format("bcf")
      .option("regions", "chr2:150-250").load(bcfPath)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("chr2"))
    val df2 = spark.read.format("bcf").load(bcfPath)
      .where(col("chrom") === "chr1")
    assert(df2.select("pos").collect().map(_.getLong(0)).toSeq == Seq(100L))
  }

  test("bcf: index-derived splits and projection") {
    val df = spark.read.format("bcf").option("maxpartitionbytes", "1")
      .load(bcfPath)
    assert(df.rdd.getNumPartitions > 1)
    assert(df.count() == 2)
    val pruned = spark.read.format("bcf").load(bcfPath)
      .select("chrom", "pos")
    assert(pruned.collect().map(_.getString(0)).toSet == Set("chr1", "chr2"))
  }

  test("bcf: explicit IDX= renumbers the dictionary, including PASS") {
    import graft.formats.BcfCodec
    // BCF2 §6.2.1: IDX is all-or-none; when present it overrides the
    // implicit ordering — pre-seeding PASS -> 0 would silently ignore
    // an explicit ##FILTER=<ID=PASS,IDX=3>
    val explicit = BcfCodec.dictionaries(Seq(
      "##FILTER=<ID=q10,Description=\"low\",IDX=0>",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"d\",IDX=1>",
      "##FILTER=<ID=PASS,Description=\"ok\",IDX=3>").mkString("\n"))
    assert(explicit.strings(0) == "q10", explicit.strings.toString)
    assert(explicit.strings(1) == "DP")
    assert(explicit.strings(3) == "PASS")
    // implicit mode unchanged: PASS is slot 0 even if declared late
    val implicitD = BcfCodec.dictionaries(Seq(
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"d\">",
      "##FILTER=<ID=PASS,Description=\"ok\">").mkString("\n"))
    assert(implicitD.strings(0) == "PASS" && implicitD.strings(1) == "DP")
  }

  test("bcf: a reordered user-supplied schema is rejected loudly") {
    val e = intercept[Exception] {
      spark.read.format("bcf").schema("pos LONG, chrom STRING")
        .load(bcfPath).collect()
    }
    assert(e.getMessage.contains("select()"),
      s"misaligned schema not rejected: ${e.getMessage}")
  }
}
