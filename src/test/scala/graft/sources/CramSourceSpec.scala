package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.formats.CramCodec
import graft.fixtures.CramFixture
import graft.fixtures.CramFixture.{CRec, Feat}

class CramSourceSpec extends SparkSuite {

  private val chr1 = "ACGTACGTAC" * 10 // 100 bp
  private val chr2 = "GGCC" * 15       // 60 bp

  private val samHeader =
    "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:100\n@SQ\tSN:chr2\tLN:60\n"

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft-cram")

  private lazy val refPath: String = {
    val fa = dir.resolve("ref.fa")
    java.nio.file.Files.write(fa,
      (s">chr1\n$chr1\n>chr2\n$chr2\n").getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("ref.fa.fai"),
      (s"chr1\t100\t6\t100\t101\n" +
        s"chr2\t60\t${6 + 101 + 6}\t60\t61\n").getBytes("UTF-8"))
    fa.toString
  }

  private lazy val cramPath: String = {
    val p = dir.resolve("sample.cram").toString
    // X at read pos 5 substitutes ref base C (chr1 idx 11) with G
    val xCode = CramCodec.substitutionCode(CramFixture.SubstitutionMatrix,
      'C', 'G')
    CramFixture.write(p, samHeader, Seq(
      Seq(
        CRec("c1", 0, 0, 5, 60, 8, quals = Array.fill[Byte](8)(30)),
        CRec("c2", 0, 0, 10, 30, 10, feats = Seq(
          Feat('S', 1, bytes = "TT".getBytes),
          Feat('X', 5, intVal = xCode),
          Feat('D', 7, intVal = 3)))),
      Seq(CRec("c4", 0, 1, 50, 50, 5)),
      Seq(CRec("c3", 4, -1, 0, -1, 4, bases = "ACGT"))))
    p
  }

  private def readCram = spark.read.format("cram")
    .option("reference", refPath).load(cramPath)

  test("cram: full scan reconstructs seq/cigar/end against the reference") {
    val df = readCram
    assert(df.columns.toSeq == Seq("qname", "flag", "rname", "pos", "mapq",
      "cigar", "rnext", "pnext", "tlen", "seq", "qual", "end"))
    val rows = df.orderBy("qname").collect()
    assert(rows.length == 4)
    // c1: plain 8M match copied from the reference
    assert(rows(0).getString(0) == "c1" && rows(0).getLong(3) == 5 &&
      rows(0).getString(5) == "8M" && rows(0).getString(9) == "ACGTACAC" &&
      rows(0).getLong(11) == 12 && rows(0).getInt(4) == 60)
    assert(rows(0).getString(10) == "?" * 8) // phred 30 → '?'
    // c2: soft clip + substitution + deletion
    assert(rows(1).getString(0) == "c2" && rows(1).getLong(3) == 10 &&
      rows(1).getString(5) == "2S4M3D4M" &&
      rows(1).getString(9) == "TTCAGGGTAC" && rows(1).getLong(11) == 20)
    assert(rows(1).isNullAt(10)) // no stored quals
    // c3: unmapped with stored bases
    assert(rows(2).getString(0) == "c3" && rows(2).getInt(1) == 4 &&
      rows(2).isNullAt(2) && rows(2).isNullAt(3) &&
      rows(2).getString(9) == "ACGT" && rows(2).isNullAt(11))
    // c4: second chromosome
    assert(rows(3).getString(0) == "c4" && rows(3).getString(2) == "chr2" &&
      rows(3).getString(9) == "GCCGG" && rows(3).getLong(11) == 54)
  }

  test("cram: crai region query prunes containers, residual check applies") {
    val d1 = readCram.filter(col("pos").isNotNull)
    val _ = d1
    val q1 = spark.read.format("cram").option("reference", refPath)
      .option("regions", "chr1:1-9").load(cramPath)
    assert(q1.rdd.getNumPartitions == 1) // only the chr1 container
    assert(q1.select("qname").collect().map(_.getString(0)).toSeq == Seq("c1"))
    val q2 = spark.read.format("cram").option("reference", refPath)
      .option("regions", "chr1:15-20").load(cramPath)
    assert(q2.select("qname").collect().map(_.getString(0)).toSeq == Seq("c2"))
    val q3 = spark.read.format("cram").option("reference", refPath)
      .option("regions", "chr2").load(cramPath)
    assert(q3.select("qname").collect().map(_.getString(0)).toSeq == Seq("c4"))
  }

  test("cram: tag discovery skips the header container's padding") {
    // samtools pads the SAM header container past its header block; the
    // first data container starts at the container's declared length
    val p = dir.resolve("tagged-unpadded.cram").toString
    CramFixture.write(p, samHeader, Seq(Seq(
      CRec("t1", 0, 0, 5, 60, 4, tags = Seq(("NM", 'i', 2))),
      CRec("t2", 0, 0, 8, 60, 4))))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val in = new java.io.ByteArrayInputStream(bytes, 26, bytes.length - 26)
    val h0 = CramCodec.readContainerHeader(in)
    val blocksAt = bytes.length - in.available()
    val pad = 64
    val head = new java.io.ByteArrayOutputStream()
    head.write(java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(h0.length + pad).array())
    Seq(h0.refSeqId, h0.startPos, h0.span, h0.nRecords)
      .foreach(CramCodec.writeItf8(head, _))
    CramCodec.writeLtf8(head, h0.recordCounter)
    CramCodec.writeLtf8(head, h0.bases)
    (Seq(h0.nBlocks, h0.landmarks.size) ++ h0.landmarks)
      .foreach(CramCodec.writeItf8(head, _))
    head.write(CramFixture.crc32le(head.toByteArray))
    val padded = dir.resolve("tagged-padded.cram")
    java.nio.file.Files.write(padded, bytes.take(26) ++ head.toByteArray ++
      bytes.slice(blocksAt, blocksAt + h0.length) ++ new Array[Byte](pad) ++
      bytes.drop(blocksAt + h0.length))
    def read(path: String) = spark.read.format("cram")
      .option("reference", refPath).load(path)
    assert(read(padded.toString).schema == read(p).schema)
    assert(read(padded.toString).schema.fieldNames.contains("tags"))
    assert(read(padded.toString).orderBy("qname").collect().toSeq ==
      read(p).orderBy("qname").collect().toSeq)
  }

  test("cram: pushed rname filter and unmapped scan") {
    val pushed = readCram.where(col("rname") === "chr2")
    assert(pushed.select("qname").collect().map(_.getString(0)).toSeq ==
      Seq("c4"))
    val unmapped = spark.read.format("cram").option("unmapped", "true")
      .load(cramPath)
    assert(unmapped.select("qname").collect().map(_.getString(0)).toSeq ==
      Seq("c3"))
  }

  test("cram: coords=01 shifts pos but not end") {
    val df = spark.read.format("cram").option("reference", refPath)
      .option("coords", "01").load(cramPath)
    val r = df.where(col("qname") === "c1").collect()(0)
    assert(r.getLong(3) == 4 && r.getLong(11) == 12)
  }

  test("cram: without a reference, match bases decode as N") {
    val df = spark.read.format("cram").load(cramPath)
    val r = df.where(col("qname") === "c2").collect()(0)
    // soft-clipped and substituted bases come from the CRAM itself; the
    // matched stretches need the reference
    assert(r.getString(9) == "TTNNGNNNNN".replace('G',
      CramCodec.substitute(CramFixture.SubstitutionMatrix, 'N',
        CramCodec.substitutionCode(CramFixture.SubstitutionMatrix, 'C', 'G'))))
    assert(r.getString(5) == "2S4M3D4M") // cigar never needs the reference
  }

  test("cram: a reordered user-supplied schema is rejected loudly") {
    val e = intercept[Exception] {
      spark.read.format("cram").schema("rname STRING, pos LONG")
        .load(cramPath).collect()
    }
    assert(e.getMessage.contains("select()"),
      s"misaligned schema not rejected: ${e.getMessage}")
  }

  test("cram: tag dictionary drives tags schema and values decode") {
    val p = dir.resolve("tagged.cram").toString
    CramFixture.write(p, samHeader, Seq(
      Seq(
        CRec("t1", 0, 0, 5, 60, 4,
          tags = Seq(("NM", 'i', 2), ("MD", 'Z', "4"))),
        CRec("t2", 0, 0, 8, 60, 4)))) // no tags → empty TD line
    val df = spark.read.format("cram").option("reference", refPath).load(p)
    val tagsType = df.schema("tags").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(tagsType.fieldNames.toSeq == Seq("NM", "MD"))
    assert(tagsType("NM").dataType.typeName == "long")
    val rows = df.orderBy("qname").select("qname", "tags").collect()
    val t1 = rows(0).getStruct(1)
    assert(t1.getLong(0) == 2 && t1.getString(1) == "4")
    val t2 = rows(1).getStruct(1)
    assert(t2.isNullAt(0) && t2.isNullAt(1))
    // BAM-compatible disable switch
    val noTags = spark.read.format("cram").option("tag_scan_rows", "0").load(p)
    assert(!noTags.columns.contains("tags"))
    // explicit tags option subsets/overrides discovery
    val subset = spark.read.format("cram").option("tags", "NM:i").load(p)
    assert(subset.schema("tags").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("NM"))
  }

  test("cram: MF mate flags of detached records set BAM flags 0x20 and 0x8") {
    val p = dir.resolve("mate-flags.cram").toString
    CramFixture.write(p, samHeader, Seq(Seq(
      CRec("f1", 0x1, 0, 5, 60, 8, mateFlags = 0x1),
      CRec("f2", 0x1, 0, 6, 60, 8, mateFlags = 0x2),
      CRec("f3", 0x1 | 0x20, 0, 7, 60, 8, mateFlags = 0x1 | 0x2),
      CRec("f4", 0x1 | 0x8, 0, 8, 60, 8))))
    val df = spark.read.format("cram").load(p)
    val flags = df.orderBy("qname").select("flag").collect().map(_.getInt(0))
    assert(flags.toSeq == Seq(0x1 | 0x20, 0x1 | 0x8, 0x1 | 0x20 | 0x8, 0x1 | 0x8))
    // other columns are as without MF
    val cols = Seq("qname", "pos", "end", "cigar", "seq")
    val plain = dir.resolve("mate-flags-none.cram").toString
    CramFixture.write(plain, samHeader, Seq(Seq(
      CRec("f1", 0x1, 0, 5, 60, 8), CRec("f2", 0x1, 0, 6, 60, 8),
      CRec("f3", 0x1 | 0x20, 0, 7, 60, 8), CRec("f4", 0x1 | 0x8, 0, 8, 60, 8))))
    assert(df.orderBy("qname").select(cols.map(col): _*).collect().toSeq ==
      spark.read.format("cram").load(plain).orderBy("qname")
        .select(cols.map(col): _*).collect().toSeq)
  }

  test("cram: gzip- and rans-compressed data blocks scan identically") {
    val recs = Seq(
      Seq(
        CRec("c1", 0, 0, 5, 60, 8, quals = Array.fill[Byte](8)(30)),
        CRec("c2", 0, 0, 10, 30, 10, feats = Seq(
          Feat('S', 1, bytes = "TT".getBytes),
          Feat('D', 7, intVal = 3)))))
    def scan(method: Int): Seq[(String, Long, String)] = {
      val p = dir.resolve(s"m$method.cram").toString
      CramFixture.write(p, samHeader, recs, blockMethod = method)
      spark.read.format("cram").option("reference", refPath).load(p)
        .select("qname", "pos", "seq").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq.sorted
    }
    val raw = scan(0)
    assert(raw.map(_._1) == Seq("c1", "c2"))
    assert(scan(1) == raw) // gzip blocks
    assert(scan(2) == raw) // bzip2 blocks
    assert(scan(3) == raw) // lzma blocks (.xz container, as htslib writes)
    assert(scan(4) == raw) // rANS 4x8 blocks
    assert(scan(6) == raw) // adaptive arithmetic blocks (CRAM 3.1)
  }

  test("cram: multi-slice containers decode every slice") {
    val p = dir.resolve("multislice.cram").toString
    // one container, three slices (two on chr1, one on chr2) — the shape
    // real CRAM writers produce
    CramFixture.writeSliced(p, samHeader, Seq(Seq(
      Seq(
        CRec("m1", 0, 0, 5, 60, 8, quals = Array.fill[Byte](8)(30)),
        CRec("m2", 0, 0, 10, 30, 10, feats = Seq(
          Feat('S', 1, bytes = "TT".getBytes),
          Feat('D', 7, intVal = 3)))),
      Seq(CRec("m3", 0, 0, 40, 50, 4)),
      Seq(CRec("m4", 0, 1, 50, 50, 5)))))
    val df = spark.read.format("cram").option("reference", refPath).load(p)
    assert(df.rdd.getNumPartitions == 1) // one container
    val rows = df.orderBy("qname")
      .select("qname", "rname", "pos", "seq").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("m1", "m2", "m3", "m4"))
    assert(rows(0).getString(3) == "ACGTACAC")
    assert(rows(2).getString(1) == "chr1" && rows(2).getLong(2) == 40 &&
      rows(2).getString(3) == chr1.substring(39, 43))
    assert(rows(3).getString(1) == "chr2" && rows(3).getString(3) == "GCCGG")
    // the crai carries one line per slice → chr2 region hits the container
    val q = spark.read.format("cram").option("reference", refPath)
      .option("regions", "chr2:45-55").load(p)
    assert(q.select("qname").collect().map(_.getString(0)).toSeq == Seq("m4"))
  }

  test("cram: embedded-reference slices decode without a fasta") {
    val p = dir.resolve("embed.cram").toString
    CramFixture.write(p, samHeader, Seq(
      Seq(
        CRec("e1", 0, 0, 5, 60, 8),
        CRec("e2", 0, 0, 10, 30, 10, feats = Seq(
          Feat('S', 1, bytes = "TT".getBytes),
          Feat('D', 7, intVal = 3))))),
      embeddedRefs = Map(0 -> chr1))
    // NO reference option — bases come from the embedded block
    val rows = spark.read.format("cram").load(p)
      .orderBy("qname").select("qname", "seq", "cigar").collect()
    assert(rows(0).getString(1) == "ACGTACAC")
    // no X feature here, so read pos 5 is the reference base (C)
    assert(rows(1).getString(1) == "TTCACGGTAC" &&
      rows(1).getString(2) == "2S4M3D4M")
  }

  test("cram: 'q'/'Q' features carry quality only — bases stay ref matches") {
    val p = dir.resolve("qfeat.cram").toString
    CramFixture.write(p, samHeader, Seq(
      Seq(
        // 'q' stretch over read positions 3..5: cigar must remain 8M, seq
        // entirely from the reference, end unchanged
        CRec("f1", 0, 0, 5, 60, 8, feats = Seq(
          Feat('q', 3, bytes = Array[Byte](30, 31, 32)))),
        // 'Q' single score at read pos 4 — same invariants
        CRec("f2", 0, 0, 10, 60, 6, feats = Seq(
          Feat('Q', 4, intVal = 35))))))
    val rows = spark.read.format("cram").option("reference", refPath).load(p)
      .orderBy("qname").select("qname", "cigar", "seq", "end").collect()
    assert(rows(0).getString(1) == "8M")
    assert(rows(0).getString(2) == chr1.substring(4, 12)) // all ref bases
    assert(rows(0).getLong(3) == 12) // 5 + 8 - 1: q consumed no ref span
    assert(rows(1).getString(1) == "6M")
    assert(rows(1).getString(2) == chr1.substring(9, 15))
    assert(rows(1).getLong(3) == 15)
  }

  test("cram: unmapped scan reaches records inside multi-ref containers") {
    val p = dir.resolve("multiref-unmapped.cram").toString
    // one container with two slices on different refs → container refSeqId
    // -2; the unmapped-placed record hides inside it, plus a -1 tail
    CramFixture.writeSliced(p, samHeader, Seq(
      Seq(
        Seq(
          CRec("u1", 0, 0, 5, 60, 8),
          CRec("u2", 4, 0, 0, -1, 4, bases = "ACGT")),
        Seq(CRec("u3", 0, 1, 50, 50, 5))),
      Seq(Seq(CRec("u4", 4, -1, 0, -1, 4, bases = "GGTT")))))
    val unmapped = spark.read.format("cram").option("unmapped", "true")
      .load(p)
    assert(unmapped.select("qname").collect().map(_.getString(0)).sorted
      .toSeq == Seq("u2", "u4"))
    // mapped records are untouched by the residual
    val all = spark.read.format("cram").option("reference", refPath).load(p)
    assert(all.count() == 4)
  }

  test("cram codec: huffman and beta core-stream decoders") {
    // canonical huffman over {5:1bit, 6:2bits, 7:2bits}: codes 0,10,11
    val dec = new CramCodec.HuffmanDecoder(Seq(5, 6, 7), Seq(1, 2, 2))
    val bits = new CramCodec.BitReader(Array(0xB0.toByte)) // 10 11 0...
    assert(dec.read(bits) == 6) // 10
    assert(dec.read(bits) == 7) // 11
    assert(dec.read(bits) == 5) // 0
    // zero-bit single-symbol huffman never touches the stream
    val single = new CramCodec.HuffmanDecoder(Seq(42), Seq(0))
    assert(single.read(new CramCodec.BitReader(Array.empty)) == 42)
    // beta: 4 bits, offset 2 → stored 9 = value 7
    val beta = CramCodec.Beta(2, 4)
    val r = new CramCodec.SeriesReader(beta,
      new CramCodec.BitReader(Array(0x90.toByte)), Map.empty)
    assert(r.readInt() == 7)
  }

  test("cram: itf8/ltf8 round-trip incl. negatives") {
    val values = Seq(0, 1, 127, 128, 5000, 1 << 20, Int.MaxValue, -1, -2)
    values.foreach { v =>
      val o = new java.io.ByteArrayOutputStream()
      CramCodec.writeItf8(o, v)
      val in = new java.io.ByteArrayInputStream(o.toByteArray)
      assert(CramCodec.readItf8(in) == v, s"itf8 $v")
    }
    val longs = Seq(0L, 200L, 1L << 40, Long.MaxValue)
    longs.foreach { v =>
      val o = new java.io.ByteArrayOutputStream()
      CramCodec.writeLtf8(o, v)
      val in = new java.io.ByteArrayInputStream(o.toByteArray)
      assert(CramCodec.readLtf8(in) == v, s"ltf8 $v")
    }
  }

  test("cram 3.1: name-tokenised RN, fqzcomp QS, arith + ransNx16 blocks") {
    val p = dir.resolve("sample31.cram").toString
    CramFixture.write(p, samHeader, Seq(
      Seq(
        CRec("M9:1:1101:1000:2000", 99, 0, 5, 60, 8,
          quals = Array[Byte](5, 10, 15, 20, 25, 30, 35, 40)),
        CRec("M9:1:1101:1000:2000", 147, 0, 11, 60, 6,
          quals = Array.fill[Byte](6)(40)),
        CRec("M9:1:1101:1003:2001", 0, 0, 21, 55, 10,
          quals = Array[Byte](2, 3, 4, 5, 6, 7, 8, 9, 10, 11))),
      Seq(CRec("M9:1:1101:1007:2003", 4, -1, 0, -1, 4,
        bases = "ACGT", quals = Array[Byte](30, 30, 31, 31)))),
      blockMethod = 5,
      seriesMethods = Map("RN" -> 8, "QS" -> 7, "BA" -> 6),
      minorVersion = 1)
    val rows = spark.read.format("cram").option("reference", refPath)
      .load(p)
      .select("qname", "flag", "rname", "pos", "cigar", "seq", "qual",
        "end")
      .orderBy("qname", "flag").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq(
      "M9:1:1101:1000:2000", "M9:1:1101:1000:2000",
      "M9:1:1101:1003:2001", "M9:1:1101:1007:2003"))
    assert(rows(0).getString(5) == "ACGTACAC" &&
      rows(0).getString(6) == "&+05:?DI")
    assert(rows(1).getString(5) == "ACGTAC" &&
      rows(1).getString(6) == "IIIIII")
    assert(rows(2).getString(4) == "10M" &&
      rows(2).getString(6) == "#$%&'()*+,")
    assert(rows(3).getString(5) == "ACGT" &&
      rows(3).getString(6) == "??@@")
    // CRAI region query through the same 3.1 container: chr1:21-25
    // reaches only the third record
    val reg = spark.read.format("cram").option("reference", refPath)
      .option("regions", "chr1:21-25").load(p)
      .select("qname", "pos", "qual").collect()
    assert(reg.length == 1 && reg(0).getString(0) == "M9:1:1101:1003:2001")
    assert(reg(0).getString(2) == "#$%&'()*+,")
  }

  test("cram: un-projected qual/qname/tags skip series AND block decode") {
    // write with rANS-compressed QS and RN blocks, then corrupt both
    // payloads in place: a projection that needs them must fail, while a
    // projection that does not must succeed — proof the skipped blocks
    // are never decompressed, not merely discarded after decode
    val p = dir.resolve("skipdecode.cram").toString
    CramFixture.write(p, samHeader, Seq(Seq(
      CRec("r1", 0, 0, 5, 60, 8, quals = Array.fill[Byte](8)(30)),
      CRec("r2", 0, 0, 10, 30, 6, quals = Array.fill[Byte](6)(35)))),
      seriesMethods = Map("QS" -> 4, "RN" -> 4))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    // block header shape for these ids: method=4, contentType=4 external,
    // contentId itf8 one byte (QS=21=0x15, RN=6=0x06)
    var corrupted = 0
    for (id <- Seq(0x15, 0x06); i <- bytes.indices.dropRight(8)) {
      if (bytes(i) == 4.toByte && bytes(i + 1) == 4.toByte &&
        (bytes(i + 2) & 0xff) == id && (bytes(i + 3) & 0xff) < 0x80) {
        // corrupt the whole payload (skip method/type/id/compSize/rawSize)
        val compSize = bytes(i + 3) & 0xff
        for (j <- (i + 5) until math.min(i + 5 + compSize, bytes.length))
          bytes(j) = (bytes(j) ^ 0xa5).toByte
        corrupted += 1
      }
    }
    assert(corrupted >= 2, s"found $corrupted candidate QS/RN blocks")
    java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes)
    def scan = spark.read.format("cram").option("reference", refPath).load(p)
    // needs the corrupted blocks → must fail
    intercept[Throwable] { scan.select("qual").collect() }
    intercept[Throwable] { scan.select("qname").collect() }
    // does not need them → must succeed with correct values
    val ok = scan.select("pos", "seq", "end").orderBy("pos").collect()
    assert(ok.length == 2 && ok(0).getLong(0) == 5 &&
      ok(0).getString(1) == "ACGTACAC" && ok(0).getLong(2) == 12)
    assert(ok(1).getLong(0) == 10)
  }

  test("cram: crai region planning reads only the header container") {
    // five data containers, the first with two slices; no region below
    // falls in the gap between a container's slices, where the .crai
    // (per slice) and the container spans (per container) legitimately
    // disagree
    val p = dir.resolve("planned.cram").toString
    CramFixture.writeSliced(p, samHeader, Seq(
      Seq(Seq(CRec("a1", 0, 0, 5, 60, 8), CRec("a2", 0, 0, 12, 60, 6)),
        Seq(CRec("a3", 0, 0, 20, 60, 5))),
      Seq(Seq(CRec("b1", 0, 0, 40, 60, 10), CRec("b2", 0, 0, 45, 60, 8))),
      Seq(Seq(CRec("c1", 0, 0, 70, 60, 10))),
      Seq(Seq(CRec("d1", 0, 1, 5, 60, 8))),
      Seq(Seq(CRec("e1", 0, 1, 30, 60, 10), CRec("e2", 0, 1, 40, 60, 5)))))
    val noCrai = dir.resolve("planned-nocrai.cram")
    java.nio.file.Files.copy(java.nio.file.Paths.get(p), noCrai)
    def query(path: String, regions: String) = spark.read.format("cram")
      .option("reference", refPath).option("regions", regions).load(path)
    def planned(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.map { case c: CramInputPartition =>
            (c.containerOffset, c.regions, c.unmappedOnly) }
      }.get
    val regionSets = Seq("chr1:1-9", "chr1:41-42", "chr1:60-100", "chr2",
      "chr1:1-100;chr2:35-36", "chr1:21-45;chrZZ:1-5", "chrZZ:1-5")
    regionSets.foreach { r =>
      assert(planned(query(p, r)) == planned(query(noCrai.toString, r)), r)
    }
    assert(planned(query(p, "chr1:1-100")).size == 3)

    // corrupt the header CRC of the chr1:70 container, which the query
    // below never reads: flipping refSeqId 0 -> 1 keeps the header's
    // shape, so only the stored CRC disagrees
    val bad = java.nio.file.Files.createTempDirectory("graft-cram-crc")
      .resolve("bad.cram")
    java.nio.file.Files.copy(java.nio.file.Paths.get(p), bad)
    java.nio.file.Files.copy(java.nio.file.Paths.get(p + ".crai"),
      java.nio.file.Paths.get(bad.toString + ".crai"))
    val crai = {
      val in = new java.io.FileInputStream(p + ".crai")
      try CramCodec.readCrai(in) finally in.close()
    }
    val off = crai.find(e => e.refSeqId == 0 && e.start == 70).get
      .containerOffset.toInt
    val bytes = java.nio.file.Files.readAllBytes(bad)
    assert(bytes(off + 4) == 0) // itf8 refSeqId after the int32 length
    bytes(off + 4) = 1
    java.nio.file.Files.write(bad, bytes)
    val e = intercept[Exception] {
      spark.read.format("cram").load(bad.toString).count()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("CRC mismatch")))

    val regions = "chr1:1-50;chr2"
    def overlaps(r: org.apache.spark.sql.Row): Boolean = {
      val pos = r.getAs[Long]("pos")
      val end = math.max(r.getAs[Long]("end"), pos)
      (r.getAs[String]("rname") == "chr1" && pos <= 50 && end >= 1) ||
        r.getAs[String]("rname") == "chr2"
    }
    val want = spark.read.format("cram").option("reference", refPath)
      .load(p).collect().filter(overlaps).map(_.toString).sorted.toSeq
    val got = query(bad.toString, regions).collect().map(_.toString)
      .sorted.toSeq
    assert(want.size == 8)
    assert(got == want)
  }
}
