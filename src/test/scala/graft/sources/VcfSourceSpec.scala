package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SparkSuite
import graft.fixtures.BcfFixture

class VcfSourceSpec extends SparkSuite {

  // FIXTURES.md §2 shape: INFO defs incl. Flag and Number=A; 3 samples
  private val vcf = Seq(
    "##fileformat=VCFv4.1",
    "##INFO=<ID=AC,Number=A,Type=Integer,Description=\"Allele count\">",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
    "##INFO=<ID=AF,Number=A,Type=Float,Description=\"Freq, comma stuff\">",
    "##INFO=<ID=DB,Number=0,Type=Flag,Description=\"dbSNP\">",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
    "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Read depth\">",
    "##FORMAT=<ID=AD,Number=.,Type=Integer,Description=\"Allele depths\">",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA1\tNA2",
    "chr1\t100\trs1;rs2\tA\tG,T\t29.5\tPASS\tAC=1,2;DP=10;DB\t" +
      "GT:DP:AD\t0|1:7:4,3\t1/2:.:1,1",
    "chr2\t200\t.\tC\t.\t.\tq10;s50\tDP=3\tGT:DP\t./.:2\t0/0:5")

  private def df = spark.read.format("vcf")
    .load(tempFile("s.vcf", vcf))

  test("vcf: directory load expands data files, skips index companions") {
    val f = tempFile("s.vcf", vcf)
    val dir = java.nio.file.Paths.get(f).getParent
    // companion/index files next to the data must NOT be scanned as rows
    java.nio.file.Files.write(dir.resolve("s.vcf.gz.tbi"),
      Array[Byte](0x1f, 0x0b.toByte, 1, 2, 3))
    java.nio.file.Files.write(dir.resolve("ref.fa.fai"),
      "chr1\t100\t6\t100\t101\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("_SUCCESS"), Array.empty[Byte])
    val d = spark.read.format("vcf").load(dir.toString)
    assert(d.count() == 2)
    // glob expansion must filter companions the same way ...
    val g = spark.read.format("vcf").load(dir.toString + "/*")
    assert(g.count() == 2)
    // ... but a literal path the user wrote out in full is never
    // filtered: FAILFAST must reach the (non-VCF) content and die
    // parsing it, not silently skip the file
    val lit = spark.read.format("vcf")
      .schema(d.schema).option("mode", "FAILFAST")
      .load(dir.resolve("ref.fa.fai").toString)
    val e = intercept[org.apache.spark.SparkException](lit.count())
    assert(e.getMessage != null)
  }

  test("vcf: fixed columns with list semantics") {
    val d = df
    assert(d.columns.toSeq == Seq("chrom", "pos", "id", "ref", "alt", "qual",
      "filter", "info", "samples"))
    val rows = d.orderBy("pos").collect()
    assert(rows(0).getLong(1) == 100)
    assert(rows(0).getSeq[String](2) == Seq("rs1", "rs2"))
    assert(rows(0).getSeq[String](4) == Seq("G", "T"))
    assert(rows(0).getFloat(5) == 29.5f)
    assert(rows(0).getSeq[String](6) == Seq("PASS"))
    assert(rows(1).isNullAt(2) && rows(1).isNullAt(4) && rows(1).isNullAt(5))
    assert(rows(1).getSeq[String](6) == Seq("q10", "s50"))
  }

  test("vcf: header-driven info struct (Number=1 scalar, A array, Flag bool)") {
    val d = df
    val info = d.schema("info").dataType.asInstanceOf[StructType]
    assert(info.fieldNames.toSeq == Seq("AC", "DP", "AF", "DB"))
    assert(info("AC").dataType.typeName == "array")
    assert(info("DP").dataType.typeName == "long")
    assert(info("DB").dataType.typeName == "boolean")
    val rows = d.orderBy("pos").select("info").collect()
    val i0 = rows(0).getStruct(0)
    assert(i0.getSeq[Long](0) == Seq(1L, 2L))
    assert(i0.getLong(1) == 10 && i0.getBoolean(3))
    val i1 = rows(1).getStruct(0)
    assert(i1.isNullAt(0) && i1.getLong(1) == 3 && i1.isNullAt(3))
  }

  test("vcf: samples nested by sample with GT special-case") {
    val d = df
    val samples = d.schema("samples").dataType.asInstanceOf[StructType]
    assert(samples.fieldNames.toSeq == Seq("NA1", "NA2"))
    val rows = d.orderBy("pos").select("samples").collect()
    val na1 = rows(0).getStruct(0).getStruct(0)
    // GT 0|1 → [{0,false},{1,true}]
    val gt = na1.getSeq[org.apache.spark.sql.Row](0)
    assert(gt.map(r => (r.getInt(0), r.getBoolean(1))) ==
      Seq((0, false), (1, true)))
    assert(na1.getLong(1) == 7)
    assert(na1.getSeq[Long](2) == Seq(4L, 3L))
    // NA2 at chr2: GT 0/0, DP 5
    val na2row2 = rows(1).getStruct(0).getStruct(1)
    assert(na2row2.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getInt(0), r.getBoolean(1))) == Seq((0, false), (0, false)))
    assert(na2row2.getLong(1) == 5)
    // NA1 at chr2: GT ./. → null alleles; DP 2
    val na1row2 = rows(1).getStruct(0).getStruct(0)
    val gtNull = na1row2.getSeq[org.apache.spark.sql.Row](0)
    assert(gtNull.map(_.isNullAt(0)) == Seq(true, true))
  }

  test("vcf: genotype_by=field pivot") {
    val d = spark.read.format("vcf").option("genotype_by", "field")
      .load(tempFile("s2.vcf", vcf))
    val samples = d.schema("samples").dataType.asInstanceOf[StructType]
    assert(samples.fieldNames.toSeq == Seq("GT", "DP", "AD"))
    val dp = samples("DP").dataType.asInstanceOf[StructType]
    assert(dp.fieldNames.toSeq == Seq("NA1", "NA2"))
    val rows = d.orderBy("pos").select("samples.DP").collect()
    val r0 = rows(0).getStruct(0)
    assert(r0.getLong(0) == 7 && r0.isNullAt(1)) // NA2 DP '.' at chr1
    val r1 = rows(1).getStruct(0)
    assert(r1.getLong(0) == 2 && r1.getLong(1) == 5)
  }

  test("vcf: samples subset and exclusion") {
    val d = spark.read.format("vcf").option("samples", "NA2")
      .load(tempFile("s3.vcf", vcf))
    val samples = d.schema("samples").dataType.asInstanceOf[StructType]
    assert(samples.fieldNames.toSeq == Seq("NA2"))
    // the VALUES must be NA2's (file column 10), not column 9's: NA2 is
    // "1/2:.:1,1" — DP missing, AD [1,1]; a positional mapping would
    // leak NA1's 7 / [4,3]
    val row = d.where(col("pos") === 100)
      .select("samples.NA2.DP", "samples.NA2.AD").collect()(0)
    assert(row.isNullAt(0), s"expected NA2 DP null, got $row")
    assert(row.getSeq[Long](1) == Seq(1L, 1L))
    // byField pivot honors the same mapping
    val dbf = spark.read.format("vcf").option("samples", "NA2")
      .option("genotype_by", "field").load(tempFile("s3f.vcf", vcf))
    val r2 = dbf.where(col("pos") === 100)
      .select("samples.DP.NA2", "samples.AD.NA2").collect()(0)
    assert(r2.isNullAt(0) && r2.getSeq[Long](1) == Seq(1L, 1L))
    val d2 = spark.read.format("vcf").option("include_samples", "false")
      .load(tempFile("s4.vcf", vcf))
    assert(!d2.columns.contains("samples"))
  }

  test("vcf: region filter on pos") {
    val d = spark.read.format("vcf").option("regions", "chr1:50-150")
      .load(tempFile("s5.vcf", vcf))
    assert(d.count() == 1)
    val d2 = spark.read.format("vcf").option("regions", "chr2:300-400")
      .load(tempFile("s6.vcf", vcf))
    assert(d2.count() == 0)
  }

  test("vcf: gzip input") {
    val d = spark.read.format("vcf").load(tempGzFile("s.vcf.gz", vcf))
    assert(d.count() == 2)
  }

  // htslib/tabix end semantics: record spans [pos0, pos0+len(REF)), or up
  // to INFO END for symbolic alleles — NOT a single base at pos
  private val spanningVcf = Seq(
    "##fileformat=VCFv4.1",
    "##INFO=<ID=END,Number=1,Type=Integer,Description=\"End\">",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
    "chr1\t60\t.\tA\t<DEL>\t.\tPASS\tEND=120", // symbolic, spans 60..120
    "chr1\t95\t.\tAAAAAAAAAA\tA\t.\tPASS\t.",  // 10bp deletion, spans 95..104
    "chr1\t200\t.\tG\tC\t.\tPASS\t.")

  test("vcf: region query keeps spanning deletions (tabix end semantics)") {
    val d = spark.read.format("vcf").option("regions", "chr1:100-150")
      .load(tempFile("span.vcf", spanningVcf))
    // pos=60 reaches in via INFO END=120; pos=95 via len(REF)=10; pos=200 out
    assert(d.select("pos").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(60L, 95L))
    val d2 = spark.read.format("vcf").option("regions", "chr1:110-130")
      .load(tempFile("span2.vcf", spanningVcf))
    // only the symbolic record's END=120 still covers 110-130
    assert(d2.select("pos").collect().map(_.getLong(0)).toSeq == Seq(60L))
  }

  test("vcf and bcf region queries agree on spanning deletions") {
    val header = Seq(
      "##fileformat=VCFv4.2",
      "##FILTER=<ID=PASS,Description=\"ok\">",
      "##contig=<ID=chr1,length=100000>",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO")
    val vcfLines = header ++ Seq(
      "chr1\t95\t.\tAAAAAAAAAA\tA\t.\tPASS\t.",
      "chr1\t200\t.\tG\tC\t.\tPASS\t.")
    val dir = java.nio.file.Files.createTempDirectory("graft-vcfbcf")
    val bcfPath = dir.resolve("same.bcf").toString
    BcfFixture.write(bcfPath, header.mkString("\n"), Seq(
      BcfFixture.BcfRec(0, 94, 10, None, Nil, Seq("AAAAAAAAAA", "A"),
        Seq(0), info = Nil, fmt = Nil, nSample = 0),
      BcfFixture.BcfRec(0, 199, 1, None, Nil, Seq("G", "C"),
        Seq(0), info = Nil, fmt = Nil, nSample = 0)))
    val region = "chr1:100-150"
    val vcfPos = spark.read.format("vcf").option("regions", region)
      .load(tempFile("same.vcf", vcfLines))
      .select("pos").collect().map(_.getLong(0)).sorted.toSeq
    val bcfPos = spark.read.format("bcf").option("regions", region)
      .load(bcfPath)
      .select("pos").collect().map(_.getLong(0)).sorted.toSeq
    assert(vcfPos == Seq(95L))
    assert(bcfPos == vcfPos)
  }

  test("vcf: declared Number=n is enforced (FixedSizeList semantics)") {
    // reference: variant/model/info.rs maps Number=n (n>1) to
    // FixedSizeList(n) — a count mismatch cannot build the batch there,
    // so here it makes the record malformed
    val lines = Seq(
      "##fileformat=VCFv4.1",
      "##INFO=<ID=AC2,Number=2,Type=Integer,Description=\"pair\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
      "chr1\t100\t.\tA\tG\t10\tPASS\tAC2=1,2",      // conforming
      "chr1\t200\t.\tC\tT\t10\tPASS\tAC2=1,2,3")   // 3 values: bad
    val path = tempFile("nenforce.vcf", lines)
    // FAILFAST (default): the mismatch surfaces with field and counts
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("vcf").load(path).collect()
    }
    assert(e.getCause != null &&
      e.getCause.getMessage.contains("AC2 declares Number=2"),
      String.valueOf(e.getCause))
    // PERMISSIVE: the bad record is skipped, the conforming one reads
    val ok = spark.read.format("vcf").option("mode", "permissive")
      .load(path).select("pos", "info.AC2").collect()
    assert(ok.length == 1 && ok(0).getLong(0) == 100L)
    assert(ok(0).getSeq[Long](1) == Seq(1L, 2L))
  }

  test("vcf: nested pruning parses only the requested samples/info keys") {
    // NA2's DP is malformed ("xx"): any projection that needs NA2.DP must
    // fail in FAILFAST, while projections of other samples/fields must
    // succeed — proof the un-requested sample column is never parsed
    val lines = Seq(
      "##fileformat=VCFv4.1",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
      "##INFO=<ID=MQ,Number=1,Type=Integer,Description=\"MapQ\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Read depth\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA1\tNA2",
      "chr1\t100\t.\tA\tG\t10\tPASS\tDP=7;MQ=xx\tGT:DP\t0|1:4\t1/1:xx")
    val path = tempFile("pruned.vcf", lines)
    def scan = spark.read.format("vcf").load(path)
    // needs the malformed values → must fail
    intercept[Throwable] { scan.select("samples.NA2.DP").collect() }
    intercept[Throwable] { scan.select("info.MQ").collect() }
    // doesn't → must succeed with correct values
    val r = scan.select(col("pos"), col("samples.NA1.GT").as("gt"),
      col("samples.NA1.DP").as("dp"), col("info.DP").as("idp")).collect()(0)
    assert(r.getLong(0) == 100 &&
      r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getInt(0), x.getBoolean(1))) ==
        Seq((0, false), (1, true)) &&
      r.getLong(2) == 4L && r.getLong(3) == 7L)
    // whole-struct projection still parses (and therefore fails)
    intercept[Throwable] { scan.select("samples").collect() }
    intercept[Throwable] { scan.select("info").collect() }
    // nested pruning SURVIVES an active region predicate: the widened
    // parse set adds only chrom/pos/ref/info.END, so NA2's malformed DP
    // and the malformed info.MQ must still never be touched
    val rq = spark.read.format("vcf").option("regions", "chr1:50-150")
      .load(path)
      .select(col("pos"), col("samples.NA1.DP").as("dp")).collect()
    assert(rq.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((100L, 4L)))
  }

  test("vcf: INFO '.' and empty values are missing, not parse errors") {
    val lines = Seq(
      "##fileformat=VCFv4.1",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
      "##INFO=<ID=AF,Number=A,Type=Float,Description=\"Freq\">",
      "##INFO=<ID=DB,Number=0,Type=Flag,Description=\"db\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
      "chr1\t100\t.\tA\tG\t10\tPASS\tDP=.;AF=.;DB",
      "chr1\t200\t.\tA\tG\t10\tPASS\tDP=;AF=0.5",
      "chr1\t300\t.\tA\tG\t10\tPASS\tDP=7")
    val d = spark.read.format("vcf")
      .load(tempFile("dots.vcf", lines))
      .select(col("pos"), col("info.DP").as("dp"), col("info.AF").as("af"),
        col("info.DB").as("db"))
      .orderBy("pos").collect()
    assert(d(0).isNullAt(1) && d(0).isNullAt(2) && d(0).getBoolean(3))
    assert(d(1).isNullAt(1) &&
      d(1).getSeq[Float](2) == Seq(0.5f) && d(1).isNullAt(3))
    assert(d(2).getLong(1) == 7L)
  }

  test("vcf: a reordered user-supplied schema is rejected loudly") {
    val e = intercept[Exception] {
      spark.read.format("vcf").schema("pos LONG, chrom STRING")
        .load(tempFile("reordered.vcf", vcf)).collect()
    }
    assert(e.getMessage.contains("select()"),
      s"misaligned schema not rejected: ${e.getMessage}")
  }
}
