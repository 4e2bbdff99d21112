package graft.sources

import graft.SparkSuite

class SeqSourcesSpec extends SparkSuite {

  private val fasta = Seq(
    ">chr1 test chromosome one",
    "ACGTACGTAC",
    "GGGTTTAAAC",
    ">chr2",
    "TTTT")

  test("fasta: one row per record, multi-line sequences joined") {
    val df = spark.read.format("fasta").load(tempFile("s.fa", fasta))
    assert(df.columns.toSeq == Seq("name", "description", "sequence"))
    val rows = df.orderBy("name").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "chr1" &&
      rows(0).getString(1) == "test chromosome one" &&
      rows(0).getString(2) == "ACGTACGTACGGGTTTAAAC")
    assert(rows(1).getString(0) == "chr2" && rows(1).isNullAt(1) &&
      rows(1).getString(2) == "TTTT")
  }

  test("fasta: region slicing (one row per query region)") {
    val df = spark.read.format("fasta")
      .option("regions", "chr1:3-6;chr2;chrX:1-2")
      .load(tempFile("s2.fa", fasta))
    val rows = df.orderBy("name", "start").collect()
    assert(df.columns.toSeq ==
      Seq("name", "description", "start", "end", "sequence"))
    // chr1:3-6 one-based closed = [2,6) → "GTAC"
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "chr1" && rows(0).getLong(2) == 2 &&
      rows(0).getLong(3) == 6 && rows(0).getString(4) == "GTAC")
    assert(rows(1).getString(0) == "chr2" && rows(1).getString(4) == "TTTT")
  }

  test("fasta: fai fast path slices without materializing contigs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-faifast")
    val chr1seq = "ACGT" * 50000 // 200k bases
    val wrapped = chr1seq.grouped(60).mkString("\n")
    val header1 = ">chr1 big contig"
    val content = header1 + "\n" + wrapped + "\n>chr2\nTTTTGGGG\n"
    val fa = dir.resolve("big.fa")
    java.nio.file.Files.write(fa, content.getBytes("UTF-8"))
    val off1 = header1.length + 1L
    val off2 = off1 + wrapped.length + 1 + ">chr2\n".length
    java.nio.file.Files.write(dir.resolve("big.fa.fai"),
      (s"chr1\t200000\t$off1\t60\t61\n" +
        s"chr2\t8\t$off2\t8\t9\n").getBytes("UTF-8"))

    FastaFaiSource.bytesRead.reset()
    val df = spark.read.format("fasta")
      .option("regions", "chr1:1001-1100;chr2:2-5")
      .load(fa.toString)
    // two tiny slices PACK into one byte-budgeted partition (the
    // gene-panel fix: tasks scale with data volume, not region count)
    val nParts = df.rdd.getNumPartitions
    assert(nParts >= 1 && nParts <= 2, s"got $nParts partitions")
    val rows = df.orderBy("name").collect()
    assert(rows(0).getString(0) == "chr1" &&
      rows(0).getString(1) == "big contig" &&
      rows(0).getLong(2) == 1000 && rows(0).getLong(3) == 1100 &&
      rows(0).getString(4) == chr1seq.substring(1000, 1100))
    assert(rows(1).getString(0) == "chr2" && rows(1).isNullAt(1) &&
      rows(1).getString(4) == "TTTG")
    // the point of the fast path: only slice + header bytes are read,
    // not the 200 KB contig
    assert(FastaFaiSource.bytesRead.sum() < 10000,
      s"read ${FastaFaiSource.bytesRead.sum()} bytes")
  }

  test("fasta: fai header location survives gaps and empty sequences") {
    // records separated by blank lines, with a zero-length record in the
    // middle: headerStart derivation must not overshoot the next header
    val dir = java.nio.file.Files.createTempDirectory("graft-faigap")
    val content = ">chrA first contig\nACGTACGT\n\n\n" +
      ">chrEmpty placeholder\n" +
      ">chrB second contig\nGGGGCCCC\n"
    val fa = dir.resolve("gap.fa")
    java.nio.file.Files.write(fa, content.getBytes("UTF-8"))
    val offA = ">chrA first contig\n".length.toLong
    val offEmpty = offA + 9 + 2 + ">chrEmpty placeholder\n".length
    val offB = offEmpty + ">chrB second contig\n".length
    java.nio.file.Files.write(dir.resolve("gap.fa.fai"),
      (s"chrA\t8\t$offA\t8\t9\n" +
        s"chrEmpty\t0\t$offEmpty\t8\t9\n" +
        s"chrB\t8\t$offB\t8\t9\n").getBytes("UTF-8"))
    val rows = spark.read.format("fasta")
      .option("regions", "chrA:1-4;chrB:5-8")
      .load(fa.toString)
      .orderBy("name").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "chrA" &&
      rows(0).getString(1) == "first contig" &&
      rows(0).getString(4) == "ACGT")
    assert(rows(1).getString(0) == "chrB" &&
      rows(1).getString(1) == "second contig" &&
      rows(1).getString(4) == "CCCC")
  }

  test("fasta: bgzipped fasta slices through the gzi block map") {
    import graft.formats.Bgzf
    val dir = java.nio.file.Files.createTempDirectory("graft-gzi")
    val chr1seq = "ACGTTGCA" * 375 // 3000 bases
    val wrapped = chr1seq.grouped(60).mkString("\n")
    val content = ">chr1 zipped\n" + wrapped + "\n"
    val bytes = content.getBytes("UTF-8")
    val fa = dir.resolve("z.fa.gz")
    val out = new java.io.FileOutputStream(fa.toString)
    // bgzip-style: fixed-size blocks + EOF sentinel, with a .gzi map
    val gziEntries = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var coff = 0L
    var uoff = 0L
    bytes.grouped(1024).foreach { chunk =>
      if (uoff > 0) gziEntries += ((coff, uoff))
      val block = Bgzf.writeBlock(chunk)
      out.write(block)
      coff += block.length
      uoff += chunk.length
    }
    out.write(Bgzf.EofBlock)
    out.close()
    val gzi = java.nio.ByteBuffer
      .allocate(8 + gziEntries.size * 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    gzi.putLong(gziEntries.size.toLong)
    gziEntries.foreach { case (c, u) => gzi.putLong(c).putLong(u) }
    java.nio.file.Files.write(dir.resolve("z.fa.gz.gzi"), gzi.array())
    val off1 = ">chr1 zipped\n".length.toLong
    java.nio.file.Files.write(dir.resolve("z.fa.gz.fai"),
      s"chr1\t3000\t$off1\t60\t61\n".getBytes("UTF-8"))

    val df = spark.read.format("fasta")
      .option("regions", "chr1:2001-2100")
      .load(fa.toString)
    val rows = df.collect()
    assert(rows.length == 1)
    assert(rows(0).getString(1) == "zipped")
    assert(rows(0).getString(4) == chr1seq.substring(2000, 2100))
  }

  test("fastq: 4-line records with quality") {
    val fq = Seq(
      "@read1 desc here", "ACGT", "+", "IIII",
      "@read2", "GGCC", "+read2", "@@!!") // quality may start with @
    val df = spark.read.format("fastq").load(tempFile("s.fq", fq))
    val rows = df.orderBy("name").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "read1" &&
      rows(0).getString(1) == "desc here" &&
      rows(0).getString(2) == "ACGT" && rows(0).getString(3) == "IIII")
    assert(rows(1).getString(0) == "read2" && rows(1).getString(3) == "@@!!")
  }

  test("fastq: gzip input") {
    val fq = Seq("@r", "A", "+", "I")
    val df = spark.read.format("fastq").load(tempGzFile("s.fq.gz", fq))
    assert(df.count() == 1)
  }

  test("fastq: truncated trailing record raises in FAILFAST, skips in PERMISSIVE") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fqtrunc")
    val p = dir.resolve("t.fq")
    java.nio.file.Files.writeString(p,
      "@r1\nACGT\n+\nFFFF\n@r2\nGGCC\n+\n") // cut before quality
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("fastq").load(p.toString).collect()
    }
    assert(String.valueOf(e.getCause).contains("truncated FASTQ"))
    val ok = spark.read.format("fastq").option("mode", "permissive")
      .load(p.toString).select("name").collect().map(_.getString(0))
    assert(ok.toSeq == Seq("r1"))
  }

  test("fastq: a malformed record cannot desync later records") {
    // record 2's header is malformed; its quality line starts with '@'
    // (legal Q31) — the old post-validation cadence re-tried phase 0
    // and consumed that quality line as a header, emitting garbage
    val dir = java.nio.file.Files.createTempDirectory("graft-fqsync")
    val p = dir.resolve("d.fq")
    java.nio.file.Files.writeString(p,
      "@r1\nACGT\n+\nFFFF\n" +
        "BADHEADER\nGGCC\n+\n@@@@\n" + // malformed record, poisoned
        "@r3\nTTAA\n+\nIIII\n")
    val rows = spark.read.format("fastq").option("mode", "permissive")
      .load(p.toString).orderBy("name").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("r1", "r3"))
    assert(rows.map(_.getString(2)).toSeq == Seq("ACGT", "TTAA"))
    // FAILFAST still dies on the malformed header
    intercept[org.apache.spark.SparkException] {
      spark.read.format("fastq").load(p.toString).collect()
    }
  }

  test("fasta: fai fast path packs many regions into few partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-faipack")
    val chr1seq = "ACGT" * 25000 // 100k bases
    val wrapped = chr1seq.grouped(60).mkString("\n")
    val fa = dir.resolve("pack.fa")
    java.nio.file.Files.write(fa, (">chr1\n" + wrapped + "\n").getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("pack.fa.fai"),
      s"chr1\t100000\t6\t60\t61\n".getBytes("UTF-8"))
    // 200 10-base regions — the gene-panel shape; without packing this
    // planned 200 single-slice tasks each paying a file open
    val regions = (0 until 200)
      .map(i => s"chr1:${i * 500 + 1}-${i * 500 + 10}").mkString(";")
    val df = spark.read.format("fasta").option("regions", regions)
      .load(fa.toString)
    val nParts = df.rdd.getNumPartitions
    assert(nParts <= 8, s"expected packed partitions, got $nParts")
    val rows = df.orderBy("start").collect()
    assert(rows.length == 200)
    // spot-check content correctness through the packed reader
    assert(rows(0).getString(4) == chr1seq.substring(0, 10))
    assert(rows(37).getLong(2) == 37 * 500 &&
      rows(37).getString(4) == chr1seq.substring(37 * 500, 37 * 500 + 10))
  }

  test("fasta: fai fast path honors a user-declared column subset") {
    // supportsExternalMetadata lets a session hand the table a subset /
    // reorder of the canonical columns; rows must be built BY NAME (a
    // positional 5-slot row would serve the description as sequence)
    val dir = java.nio.file.Files.createTempDirectory("graft-faischema")
    val fa = dir.resolve("u.fa")
    java.nio.file.Files.write(fa,
      ">chr1 some desc\nACGTACGTAC\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("u.fa.fai"),
      "chr1\t10\t16\t10\t11\n".getBytes("UTF-8"))
    val df = spark.read.format("fasta")
      .schema("sequence STRING, name STRING")
      .option("regions", "chr1:2-5")
      .load(fa.toString)
    val r = df.collect()(0)
    assert(r.getString(0) == "CGTA", r.toString) // sequence, not desc
    assert(r.getString(1) == "chr1", r.toString)
  }

  test("index query: empty or out-of-range intervals plan zero chunks") {
    import graft.formats.GenomicIndex._
    import graft.formats.Bgzf.VirtualPosition
    val bin = reg2bin(0, 100)
    val idx = Index(14, 5, IndexedSeq(RefIndex(
      Map(bin -> Bin(bin, Seq(Chunk(VirtualPosition(0, 0),
        VirtualPosition(1000, 0))), None)),
      IndexedSeq(VirtualPosition(0, 0)))), Map.empty, None)
    assert(idx.query(0, 0, 100).nonEmpty)
    assert(idx.query(0, 100, 100).isEmpty, "empty interval must plan Nil")
    assert(idx.query(0, 200, 100).isEmpty, "inverted interval must plan Nil")
    assert(idx.query(0, 1L << 40, 1L << 41).isEmpty,
      "past the addressable range must plan Nil")
  }

  test("a corrupt index falls back instead of killing the scan") {
    // stale zero-byte .tbi next to a bed: planning must degrade to the
    // split/full scan (residual predicate keeps results correct), not
    // throw from inside planInputPartitions
    val dir = java.nio.file.Files.createTempDirectory("graft-corruptidx")
    val bed = dir.resolve("c.bed")
    java.nio.file.Files.write(bed,
      "chr1\t10\t20\nchr1\t30\t40\nchr2\t5\t9\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("c.bed.tbi"), Array.empty[Byte])
    val rows = spark.read.format("bed").option("bed_schema", "bed3")
      .option("regions", "chr1:1-100")
      .load(bed.toString).collect()
    assert(rows.length == 2, rows.mkString(","))

    // a non-empty BAI and TBI cut inside the first bin's first chunk: the
    // scan returns exactly the rows of the same file with no index
    val corpus = graft.fixtures.BenchCorpus.ensure(
      dir.resolve("corpus").toString, nBam = 500, nVcf = 10, nBed = 500,
      nCram = 10)
    def gunzip(b: Array[Byte]) = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(b)).readAllBytes()
    def gzip(b: Array[Byte]) = {
      val bo = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bo)
      gz.write(b); gz.close(); bo.toByteArray
    }
    Seq(("bam", corpus.bam, ".bai"), ("bed", corpus.bed, ".tbi")).foreach {
      case (fmt, src, ext) =>
        val whole = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(src + ext))
        val raw = if (ext == ".tbi") gunzip(whole) else whole
        // the first reference starts after the magic and n_ref (BAI), or
        // after the tabix header and its l_nm name bytes (TBI); cut after
        // its n_bin, bin id, n_chunk and half a chunk
        val refStart = if (ext == ".bai") 8 else 36 +
          java.nio.ByteBuffer.wrap(raw, 32, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        val cut = raw.take(refStart + 20)
        val name = java.nio.file.Paths.get(src).getFileName.toString
        def scan(index: Option[Array[Byte]]) = {
          val d = java.nio.file.Files.createTempDirectory("graft-cutidx")
          val f = d.resolve(name)
          java.nio.file.Files.copy(java.nio.file.Paths.get(src), f)
          index.foreach(b => java.nio.file.Files.write(
            java.nio.file.Paths.get(f.toString + ext),
            if (ext == ".tbi") gzip(b) else b))
          spark.read.format(fmt).option("regions", "chr1:1-50000000")
            .load(f.toString).collect().map(_.toString).sorted.toSeq
        }
        val want = scan(None)
        assert(want.nonEmpty)
        assert(scan(Some(cut)) == want, fmt)
    }
  }
}
