package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.formats.{Bgzf, GenomicIndex, SeekableInputs}
import graft.fixtures.BamFixture
import graft.fixtures.BamFixture.{Rec, tagInt, tagStr}

class BamSourceSpec extends SparkSuite {

  private def m(len: Int) = Seq((len, 'M'))

  private lazy val bamPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bam")
    val p = dir.resolve("sample.bam").toString
    val refs = Seq(("chr1", 100000), ("chr2", 50000))
    val records = Seq(
      Rec("r001", 99, 0, 6, 30, Seq((8, 'M'), (2, 'I'), (4, 'M'), (1, 'D'),
        (3, 'M')), "TTAGATAAAGGATACTG", null, tagInt("NM", 1) ++ tagStr("MD", "16")),
      Rec("r002", 0, 0, 100, 20, m(6), "ATAGCT", "FFFFFF", tagInt("NM", 0)),
      Rec("r003", 16, 0, 20000, 45, m(4), "GGCC", "IIII"),
      Rec("r004", 0, 1, 15, 23, m(6), "ATAGCT", "FFFFFF"),
      Rec("r005", 4, -1, -1, 0, Nil, "ACGT", null)) // unmapped, no coords
    BamFixture.write(p, refs, records)
    p
  }

  test("bam: full scan decodes records, computed end, phred qual") {
    val df = spark.read.format("bam").option("tag_scan_rows", "0").load(bamPath)
    assert(df.columns.toSeq == Seq("qname", "flag", "rname", "pos", "mapq",
      "cigar", "rnext", "pnext", "tlen", "seq", "qual", "end"))
    val rows = df.orderBy("qname").collect()
    assert(rows.length == 5)
    // r001: pos0 6 → 1-based 7; CIGAR 8M2I4M1D3M ref len 16 → end 22
    assert(rows(0).getLong(3) == 7 && rows(0).getLong(11) == 22)
    assert(rows(0).getString(5) == "8M2I4M1D3M")
    assert(rows(0).getString(9) == "TTAGATAAAGGATACTG")
    assert(rows(0).isNullAt(10)) // missing qual (0xff)
    assert(rows(1).getString(10) == "FFFFFF")
    // r005 unmapped
    assert(rows(4).isNullAt(2) && rows(4).isNullAt(3) && rows(4).isNullAt(11))
    assert(rows(4).getInt(1) == 4)
  }

  test("bam: binary tag discovery and values") {
    val df = spark.read.format("bam").load(bamPath)
    val tags = df.schema("tags").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(tags.fieldNames.toSet == Set("NM", "MD"))
    val r1 = df.where(col("qname") === "r001").select("tags").collect()(0)
      .getStruct(0)
    assert(r1.getLong(0) == 1 && r1.getString(1) == "16")
  }

  test("bam: nested tag projection returns the requested tag's value") {
    val df = spark.read.format("bam").load(bamPath)
    val r = df.where(col("qname") === "r001")
      .select(col("tags.NM").as("nm")).collect()(0)
    assert(r.getLong(0) == 1L)
    val md = df.where(col("qname") === "r001")
      .select(col("tags.MD").as("md")).collect()(0)
    assert(md.getString(0) == "16")
  }

  test("bam: indexed region query returns only overlapping records") {
    val df = spark.read.format("bam").option("tag_scan_rows", "0")
      .option("regions", "chr1:1-200")
      .load(bamPath)
    assert(df.select("qname").collect().map(_.getString(0)).toSet ==
      Set("r001", "r002"))
    val df2 = spark.read.format("bam").option("tag_scan_rows", "0")
      .option("regions", "chr2")
      .load(bamPath)
    assert(df2.select("qname").collect().map(_.getString(0)).toSet ==
      Set("r004"))
  }

  test("bam: overlapping multi-region query emits each record once") {
    // both regions cover r001/r002's bin on chr1; merged-chunk planning
    // must emit each matching record exactly once, and a record
    // overlapping both regions must not be emitted per-region
    val df = spark.read.format("bam").option("tag_scan_rows", "0")
      .option("regions", "chr1:1-150;chr1:90-250")
      .load(bamPath)
    val names = df.select("qname").collect().map(_.getString(0)).toSeq
    assert(names.sorted == Seq("r001", "r002"))
  }

  test("bam: pushed rname filter prunes partitions via index") {
    val df = spark.read.format("bam").option("tag_scan_rows", "0")
      .load(bamPath)
      .where(col("rname") === "chr2")
    assert(df.select("qname").collect().map(_.getString(0)).toSet ==
      Set("r004"))
  }

  test("bam: unmapped scan starts after last mapped chunk") {
    val df = spark.read.format("bam").option("tag_scan_rows", "0")
      .option("unmapped", "true")
      .load(bamPath)
    assert(df.select("qname").collect().map(_.getString(0)).toSet ==
      Set("r005"))
  }

  test("bam: index-derived splits cover all records exactly once") {
    val df = spark.read.format("bam").option("tag_scan_rows", "0")
      .option("maxpartitionbytes", "1") // force a split at every boundary
      .load(bamPath)
    assert(df.rdd.getNumPartitions > 1)
    assert(df.count() == 5)
    assert(df.select("qname").distinct().count() == 5)
  }

  test("bam: explicit virtual_ranges option drives the partitioning") {
    // precompute record-start vpos from the BAI chunk begins (the
    // reference's scan_virtual_ranges contract) and scan exactly those
    val p = new org.apache.hadoop.fs.Path(bamPath)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val index = GenomicIndex.findFor(fs, p).get
    val starts = index.refs.flatMap(_.begins).distinct.sorted
    val eof = fs.getFileStatus(p).getLen << 16
    val spec = (starts :+ eof).sliding(2)
      .map { case Seq(a, b) => s"$a-$b" }.mkString(";")
    val df = spark.read.format("bam").option("tag_scan_rows", "0")
      .option("virtual_ranges", spec).load(bamPath)
    assert(df.rdd.getNumPartitions == starts.length)
    // mapped records only: the unmapped tail is past the last chunk...
    // except the final range extends to EOF, so all 5 records appear
    assert(df.select("qname").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("r001", "r002", "r003", "r004", "r005"))
  }

  test("bam: unmapped=true on an index-less file filters by flag") {
    // without an index the tail scan covers the whole file, so the flag
    // filter is what keeps the mapped records out (mirrors CramSource)
    val dir = java.nio.file.Files.createTempDirectory("graft-unm")
    val p = dir.resolve("u.bam").toString
    BamFixture.writeRaw(p, Seq(("chr1", 100000)), Seq(
      Rec("m1", 0, 0, 10, 60, m(4), "ACGT", "FFFF"),
      Rec("m2", 16, 0, 50, 30, m(4), "GGCC", null),
      Rec("u1", 4, -1, -1, 0, Nil, "TTAA", null)))
    val unm = spark.read.format("bam").option("tag_scan_rows", "0")
      .option("unmapped", "true").load(p)
    assert(unm.select("qname").collect().map(_.getString(0)).toSeq ==
      Seq("u1"))
    // the plain scan still sees everything
    val all = spark.read.format("bam").option("tag_scan_rows", "0").load(p)
    assert(all.count() == 3)
  }

  test("bam: coords=01 zero-based positions") {
    val df = spark.read.format("bam").option("tag_scan_rows", "0")
      .option("coords", "01").load(bamPath)
    val r = df.where(col("qname") === "r001").collect()(0)
    assert(r.getLong(3) == 6 && r.getLong(11) == 22) // end identical value
  }

  test("bgzf: block round-trip and virtual-position range reads") {
    val payload = (0 until 3).map(i => s"block$i payload".getBytes("UTF-8"))
    val dir = java.nio.file.Files.createTempDirectory("graft-bgzf")
    val f = dir.resolve("t.bgzf")
    val out = new java.io.FileOutputStream(f.toString)
    payload.foreach(p => out.write(Bgzf.writeBlock(p)))
    out.write(Bgzf.EofBlock)
    out.close()
    // whole-stream read
    val s1 = new graft.formats.BgzfRangeInputStream(
      SeekableInputs.forLocal(f.toString), Bgzf.VirtualPosition(0, 0), None)
    val all = new String(s1.readAllBytes(), "UTF-8")
    s1.close()
    assert(all == payload.map(new String(_, "UTF-8")).mkString)
    // range read from block 1, skipping "block1 " (7 bytes)
    val block0Size = Bgzf.writeBlock(payload(0)).length
    val s2 = new graft.formats.BgzfRangeInputStream(
      SeekableInputs.forLocal(f.toString),
      Bgzf.VirtualPosition(block0Size.toLong, 7), None)
    val tail = new String(s2.readAllBytes(), "UTF-8")
    s2.close()
    assert(tail == "payloadblock2 payload")
  }

  test("bam: mate-placed unmapped reads keep RNAME/POS (SAM parity)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bam-placed")
    val p = dir.resolve("placed.bam").toString
    BamFixture.write(p, Seq(("chr1", 100000)), Seq(
      Rec("m1", 0, 0, 99, 30, m(4), "ACGT", null),
      // flag 0x4 with a valid refId/pos: a mate-placed unmapped read —
      // its placement is real data the SAM text parser keeps, so the
      // BAM decoder must not null it on the flag alone
      Rec("m2", 4, 0, 99, 0, Nil, "ACGT", null),
      Rec("m3", 4, -1, -1, 0, Nil, "ACGT", null))) // truly placeless
    val rows = spark.read.format("bam").option("tag_scan_rows", "0")
      .load(p).orderBy("qname").collect()
    assert(rows(1).getString(2) == "chr1" && rows(1).getLong(3) == 100,
      s"placed-unmapped lost its placement: ${rows(1)}")
    assert(rows(1).isNullAt(11)) // but no alignment end (flag 0x4)
    assert(rows(2).isNullAt(2) && rows(2).isNullAt(3))
  }

  test("bam: indexed region query returns placed-unmapped like htslib") {
    // htslib indexes placed records regardless of flag 0x4 (a coordinate
    // implies a bin); a BAI that drops them makes indexed region queries
    // disagree with a full scan over the same file
    val dir = java.nio.file.Files.createTempDirectory("graft-bam-placed-idx")
    val p = dir.resolve("pidx.bam").toString
    BamFixture.write(p, Seq(("chr1", 100000)), Seq(
      Rec("m1", 0, 0, 99, 30, m(4), "ACGT", null),
      Rec("m2", 4, 0, 99, 0, Nil, "ACGT", null)))
    val names = spark.read.format("bam").option("tag_scan_rows", "0")
      .option("regions", "chr1:[99,100)").load(p)
      .select("qname").collect().map(_.getString(0)).toSet
    assert(names == Set("m1", "m2"), names.toString)
  }

  test("bam: a reordered user-supplied schema is rejected loudly") {
    val e = intercept[Exception] {
      spark.read.format("bam").schema("rname STRING, pos LONG")
        .load(bamPath).collect()
    }
    assert(e.getMessage.contains("select()"),
      s"misaligned schema not rejected: ${e.getMessage}")
  }

  test("index: reg2bins covers reg2bin of contained intervals") {
    val rng = new scala.util.Random(1)
    (1 to 200).foreach { _ =>
      val beg = rng.nextInt(1 << 28).toLong
      val len = 1 + rng.nextInt(10000)
      val bin = GenomicIndex.reg2bin(beg, beg + len)
      val bins = GenomicIndex.reg2bins(beg, beg + len, 14, 5)
      assert(bins.contains(bin))
    }
  }
}
