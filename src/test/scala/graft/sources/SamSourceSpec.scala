package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSuite

class SamSourceSpec extends SparkSuite {

  // FIXTURES.md §1 shape: @SQ chr1/chr2 header + records with NM/MD tags
  private val sam = Seq(
    "@HD\tVN:1.6\tSO:coordinate",
    "@SQ\tSN:chr1\tLN:45",
    "@SQ\tSN:chr2\tLN:40",
    "r001\t99\tchr1\t7\t30\t8M2I4M1D3M\t=\t37\t39\tTTAGATAAAGGATACTG\t*\tNM:i:1\tMD:Z:16",
    "r002\t0\tchr1\t9\t30\t3S6M1P1I4M\t*\t0\t0\tAAAAGATAAGGATA\t*\tNM:i:0",
    "r003\t4\t*\t0\t0\t*\t*\t0\t0\tATAGCT\t*",
    "r004\t16\tchr2\t16\t23\t6M\t*\t0\t0\tATAGCT\tFFFFFF\tXS:f:1.5")

  test("sam: standard 12 columns + computed end") {
    val df = spark.read.format("sam").option("tag_scan_rows", "0")
      .load(tempFile("s.sam", sam))
    assert(df.columns.toSeq == Seq("qname", "flag", "rname", "pos", "mapq",
      "cigar", "rnext", "pnext", "tlen", "seq", "qual", "end"))
    val rows = df.orderBy("qname").collect()
    assert(rows.length == 4)
    // r001: pos 7, CIGAR 8M2I4M1D3M → ref len 8+4+1+3=16 → end 22
    assert(rows(0).getLong(3) == 7 && rows(0).getLong(11) == 22)
    // RNEXT "=" resolves to RNAME's contig (BAM/CRAM parity)
    assert(rows(0).getString(6) == "chr1" && rows(0).getLong(7) == 37)
    // r003 unmapped: null rname/pos/end
    assert(rows(2).isNullAt(2) && rows(2).isNullAt(3) && rows(2).isNullAt(11))
    assert(rows(2).getInt(1) == 4)
  }

  test("sam: a reordered user-supplied schema is rejected loudly") {
    val e = intercept[Exception] {
      spark.read.format("sam").schema("rname STRING, pos LONG")
        .load(tempFile("reordered.sam", sam)).collect()
    }
    assert(e.getMessage.contains("select()"),
      s"misaligned schema not rejected: ${e.getMessage}")
  }

  test("sam: explicit tag defs") {
    val df = spark.read.format("sam").option("tags", "NM:i,MD:Z")
      .load(tempFile("s2.sam", sam))
    val tags = df.schema("tags").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(tags.fieldNames.toSeq == Seq("NM", "MD"))
    assert(tags("NM").dataType.typeName == "long")
    val r1 = df.where(col("qname") === "r001").select("tags").collect()(0)
      .getStruct(0)
    assert(r1.getLong(0) == 1 && r1.getString(1) == "16")
    val r3 = df.where(col("qname") === "r003").select("tags").collect()(0)
      .getStruct(0)
    assert(r3.isNullAt(0) && r3.isNullAt(1))
  }

  test("sam: nested tag projection returns the requested tag's value") {
    val df = spark.read.format("sam").option("tags", "NM:i,MD:Z")
      .load(tempFile("s2n.sam", sam))
    val r = df.where(col("qname") === "r001")
      .select(col("tags.NM").as("nm")).collect()(0)
    assert(r.getLong(0) == 1L)
  }

  test("sam: tag discovery by sampling") {
    val df = spark.read.format("sam").load(tempFile("s3.sam", sam))
    val tags = df.schema("tags").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(tags.fieldNames.toSet == Set("NM", "MD", "XS"))
    assert(tags("XS").dataType.typeName == "float")
  }

  test("sam: region filter on rname/pos/end overlap") {
    val df = spark.read.format("sam").option("tag_scan_rows", "0")
      .option("regions", "chr1:1-10")
      .load(tempFile("s4.sam", sam))
    // r001 pos 7 end 22 overlaps [0,10); r002 pos 9 end 18 overlaps
    assert(df.select("qname").collect().map(_.getString(0)).toSet ==
      Set("r001", "r002"))
    val df2 = spark.read.format("sam").option("tag_scan_rows", "0")
      .option("regions", "chr2")
      .load(tempFile("s5.sam", sam))
    assert(df2.select("qname").collect().map(_.getString(0)).toSet ==
      Set("r004"))
  }

  test("sam: catalyst chrom filter + projection") {
    val df = spark.read.format("sam").option("tag_scan_rows", "0")
      .load(tempFile("s6.sam", sam))
      .where(col("rname") === "chr1")
      .select("qname", "pos")
    assert(df.collect().map(_.getString(0)).toSet == Set("r001", "r002"))
  }

  test("sam: B-array tags declarable via the spec NAME:B:sub grammar") {
    val withB = sam :+
      "r005\t0\tchr1\t20\t30\t6M\t*\t0\t0\tATAGCT\t*\tXB:B:i,1,2,3\tXF:B:f,1.5,2.5"
    val df = spark.read.format("sam")
      .option("tags", "XB:B:i,XF:B:f,NM:i")
      .load(tempFile("sb.sam", withB))
    val r = df.where(col("qname") === "r005")
      .select("tags.XB", "tags.XF").collect()(0)
    assert(r.getSeq[Long](0) == Seq(1L, 2L, 3L))
    assert(r.getSeq[Float](1) == Seq(1.5f, 2.5f))
    // a bare NAME:B is ambiguous and rejected with a usable message
    val e = intercept[Exception] {
      spark.read.format("sam").option("tags", "XB:B")
        .load(tempFile("sb2.sam", withB)).collect()
    }
    assert(e.getMessage.contains("NAME:B:sub"), e.getMessage)
  }

  test("sam: tag type drift past the scan window degrades, never crashes") {
    // XB typed Long by the declaration; a later record carries f — the
    // value converts by truncation (matching the BAM decoder's coerce)
    // instead of a NumberFormatException killing the scan
    val drift = Seq(
      "@SQ\tSN:chr1\tLN:100",
      "d1\t0\tchr1\t10\t30\t4M\t*\t0\t0\tACGT\t*\tXB:i:5",
      "d2\t0\tchr1\t20\t30\t4M\t*\t0\t0\tACGT\t*\tXB:f:1.5",
      "d3\t0\tchr1\t30\t30\t4M\t*\t0\t0\tACGT\t*\tXB:Z:junk")
    val rows = spark.read.format("sam").option("tags", "XB:i")
      .load(tempFile("drift.sam", drift))
      .orderBy("qname").select("tags.XB").collect()
    assert(rows(0).getLong(0) == 5L)
    assert(rows(1).getLong(0) == 1L) // 1.5 truncates like BAM coerce
    assert(rows(2).isNullAt(0))     // unconvertible → null, not a crash
  }

  test("sam: discovery tolerates a malformed empty-type tag token") {
    // "XX::v" would previously crash schema inference with
    // NoSuchElementException (head of empty string) — strictly more
    // fragile than the row parser, which skips the token
    val bad = Seq(
      "@SQ\tSN:chr1\tLN:100",
      "m1\t0\tchr1\t10\t30\t4M\t*\t0\t0\tACGT\t*\tXX::v\tNM:i:1")
    val df = spark.read.format("sam").load(tempFile("badtag.sam", bad))
    val r = df.select("tags.NM").collect()(0)
    assert(r.getLong(0) == 1L)
  }
}
