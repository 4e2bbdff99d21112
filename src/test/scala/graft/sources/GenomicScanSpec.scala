package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.fixtures.{BbiFixture, BcfFixture, BenchCorpus, CramFixture}
import graft.fixtures.BbiFixture.BedItem
import graft.fixtures.BcfFixture.BcfRec
import graft.fixtures.CramFixture.CRec

/** The contract of the DSv2 scaffold every genomic reader shares
  * (`graft.sources.common.GenomicScan`): pushed chrom filters, the
  * `regions` option, limit pushdown, the plan description, and the
  * explicit-range options. */
class GenomicScanSpec extends SparkSuite {

  private lazy val corpus = BenchCorpus.ensure(
    java.nio.file.Files.createTempDirectory("graft-scaffold").toString,
    nBam = 3000, nVcf = 3000, nBed = 3000, nCram = 1000)

  private lazy val bcfPath: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-scaffold-bcf")
      .resolve("s.bcf").toString
    val header = Seq(
      "##fileformat=VCFv4.2",
      "##FILTER=<ID=PASS,Description=\"ok\">",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">",
      "##contig=<ID=chr1,length=100000>",
      "##contig=<ID=chr2,length=50000>",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO").mkString("\n")
    def rec(contig: Int, pos0: Int) = BcfRec(contig, pos0, 1, None, Nil,
      Seq("A", "G"), Seq(0), Seq(1 -> BcfFixture.typedInt(10)), Nil, 0)
    BcfFixture.write(p, header, Seq(rec(0, 99), rec(0, 4999), rec(1, 199)))
    p
  }

  private lazy val bigbedPath: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-scaffold-bb")
      .resolve("s.bb").toString
    BbiFixture.write(p, Seq(("chr1", 0), ("chr2", 1)), wigSections = Nil,
      bedItems = Seq(BedItem(0, 10, 50, "a\t1"), BedItem(0, 60, 90, "b\t2"),
        BedItem(1, 5, 25, "c\t3")),
      zooms = Nil)
    p
  }

  /** One reader under test: its chrom column and a `regions` value that
    * covers part of chr1. */
  private case class Fx(fmt: String, path: () => String, chrom: String,
      region: String)

  private val fixtures = Seq(
    Fx("bam", () => corpus.bam, "rname", "chr1:1-20000000"),
    Fx("bcf", () => bcfPath, "chrom", "chr1:1-1000"),
    Fx("cram", () => corpus.cram, "rname", "chr1:1-300"),
    Fx("bigbed", () => bigbedPath, "chrom", "chr1:1-55"),
    Fx("vcf", () => corpus.vcf, "chrom", "chr1:1-20000000"),
    Fx("bed", () => corpus.bed, "chrom", "chr1:1-20000000"))

  private def load(fx: Fx, regions: Option[String] = None): DataFrame = {
    val r = spark.read.format(fx.fmt)
    regions.fold(r)(r.option("regions", _)).load(fx.path())
  }

  fixtures.foreach { fx =>
    test(s"${fx.fmt}: isin(chrom, null) drops the null comparand") {
      val df = load(fx)
      val chr1 = df.where(col(fx.chrom) === "chr1").count()
      assert(chr1 > 0)
      assert(df.where(col(fx.chrom).isin("chr1", null)).count() == chr1)
    }

    test(s"${fx.fmt}: the regions option wins over a pushed chrom filter") {
      val inRegion = load(fx, Some(fx.region)).count()
      val chr1 = load(fx).where(col(fx.chrom) === "chr1").count()
      assert(inRegion > 0 && inRegion < chr1, (inRegion, chr1))
      assert(load(fx, Some(fx.region)).where(col(fx.chrom) === "chr1")
        .count() == inRegion)
    }

    test(s"${fx.fmt}: a pushed limit returns that many rows") {
      assert(load(fx).limit(2).collect().length == 2)
    }

    test(s"${fx.fmt}: the plan names graft-${fx.fmt}") {
      val plan = load(fx).where(col(fx.chrom) === "chr1")
        .queryExecution.executedPlan.toString
      assert(plan.contains(s"graft-${fx.fmt}"), plan)
    }
  }

  /** The IllegalArgumentException somewhere in the cause chain of `f`. */
  private def argumentError(f: => Any): IllegalArgumentException = {
    val e = intercept[Throwable](f)
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case iae: IllegalArgumentException => iae }
      .getOrElse(fail(s"no IllegalArgumentException in $e"))
  }

  // (format, path, option, valid prefix, malformed tokens)
  private val badRanges = ("0-65536;", Seq("5", "1-2-3", "0-x"))
  private val badBudgets = ("", Seq("-1", "0", "abc"))
  Seq(("bam", () => corpus.bam, "virtual_ranges", badRanges),
      ("bed", () => corpus.bed, "virtual_ranges", badRanges),
      ("bed", () => corpus.bed, "byte_ranges", badRanges),
      ("bam", () => corpus.bam, "maxpartitionbytes", badBudgets),
      ("bed", () => corpus.bed, "maxpartitionbytes", badBudgets)).foreach {
    case (fmt, path, key, (prefix, bads)) =>
      test(s"$fmt: a malformed $key value names the option and the token") {
        bads.foreach { bad =>
          val e = argumentError(spark.read.format(fmt)
            .option(key, s"$prefix$bad").load(path()).count())
          assert(e.getMessage.contains(key) &&
            e.getMessage.contains(s"'$bad'"), e.getMessage)
        }
      }
  }

  test("bam: without an index, a region name the header lacks keeps no row") {
    val p = java.nio.file.Files.createTempDirectory("graft-scaffold-noidx")
      .resolve("c.bam")
    java.nio.file.Files.copy(java.nio.file.Paths.get(corpus.bam), p)
    assert(spark.read.format("bam").option("regions", "chrZZ:1-100")
      .load(p.toString).count() == 0)
  }

  test("cram: without a .crai, a region name the header lacks keeps no row") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scaffold-cram")
    val p = dir.resolve("c.cram").toString
    val (chr1, chr2) = ("ACGT" * 25, "GGCC" * 15)
    // one container whose two slices sit on different references: its
    // refSeqId is -2, the mixed-reference marker
    CramFixture.writeSliced(p,
      "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:100\n@SQ\tSN:chr2\tLN:60\n",
      Seq(Seq(Seq(CRec("m1", 0, 0, 5, 60, 8)),
        Seq(CRec("m2", 0, 1, 9, 60, 8)))),
      embeddedRefs = Map(0 -> chr1, 1 -> chr2))
    java.nio.file.Files.delete(java.nio.file.Paths.get(p + ".crai"))
    assert(spark.read.format("cram").load(p).count() == 2)
    assert(spark.read.format("cram").option("regions", "chrZZ:1-100")
      .load(p).count() == 0)
  }

  private lazy val wideCorpus = BenchCorpus.ensure(
    java.nio.file.Files.createTempDirectory("graft-scaffold-wide").toString,
    nBam = 6000, nVcf = 100, nBed = 30000, nCram = 100)

  Seq(("bam", () => wideCorpus.bam, Map.empty[String, String], "qname", 6000),
      ("bed", () => wideCorpus.bed, Map("bed_schema" -> "bed4"), "name",
        30000)).foreach {
    case (fmt, path, opts, key, n) =>
      test(s"$fmt: a BGZF file of a few blocks per core fills every core") {
        val cores = spark.sparkContext.defaultParallelism
        assert(new java.io.File(path()).length > cores * 65536L)
        def load(more: Map[String, String]) =
          spark.read.format(fmt).options(opts ++ more).load(path())
        val df = load(Map.empty)
        val narrow = load(Map("maxpartitionbytes" -> "65536"))
        val parts = df.rdd.getNumPartitions
        assert(parts >= math.min(cores, 4), parts)
        assert(narrow.rdd.getNumPartitions > parts)
        val rows = df.collect().map(_.toString).sorted.toSeq
        assert(rows.length == n)
        assert(df.select(key).distinct().count() == n)
        assert(narrow.collect().map(_.toString).sorted.toSeq == rows)
      }
  }

  /** The documented overlap rule: a row's (chrom, start0, end0), 0-based
    * half-open, or None when the row has no position. BAM and CRAM count
    * a zero-span read as length 1; a BCF record spans its REF allele. */
  private def span(fmt: String, r: Row): Option[(String, Long, Long)] =
    fmt match {
      case "bam" | "cram" =>
        Option(r.getAs[java.lang.Long]("pos")).map { pos =>
          val end = Option(r.getAs[java.lang.Long]("end"))
            .fold(pos.longValue)(e => math.max(e, pos))
          (r.getAs[String]("rname"), pos - 1, end)
        }
      case "bcf" =>
        val start0 = r.getAs[Long]("pos") - 1
        Some((r.getAs[String]("chrom"), start0,
          start0 + r.getAs[String]("ref").length))
      case "bigbed" =>
        Some((r.getAs[String]("chrom"), r.getAs[Long]("start"),
          r.getAs[Long]("end")))
    }

  fixtures.filter(fx => Set("bam", "bcf", "cram", "bigbed")(fx.fmt))
    .foreach { fx =>
      test(s"${fx.fmt}: the region residual keeps each overlapping row once") {
        val full = load(fx).collect().toSeq
        val starts = full.flatMap(span(fx.fmt, _))
          .collect { case ("chr1", s, _) => s }.distinct.sorted
        val (first, last) = (starts.head, starts.last)
        // 0-based half-open windows: two overlapping on the first chr1
        // record's first base, one ending on the base before the last
        // chr1 record starts
        val windows = Seq((math.max(0L, first - 10), first + 1),
          (first, first + 10), (last - 50, last))
        val regions = windows.map { case (s, e) => s"chr1:${s + 1}-$e" }
        val expected = full.filter(r => span(fx.fmt, r).exists {
          case (c, s, e) => c == "chr1" &&
            windows.exists { case (ws, we) => s < we && e > ws }
        })
        val got = load(fx, Some(regions.mkString(";"))).collect().toSeq
        assert(got.map(_.toString).sorted == expected.map(_.toString).sorted)
        assert(got.exists(r => span(fx.fmt, r).exists(_._2 == first)))
        assert(!got.exists(r => span(fx.fmt, r).exists(_._2 == last)))
      }
    }
}
