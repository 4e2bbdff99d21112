package graft.sources

import java.io.FileOutputStream

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.formats.{Bgzf, GenomicIndex}

/** Tabix-indexed BGZF text: region-chunk partitions and index-derived
  * splits over bed.gz + .tbi (the text-format analogue of the BAM path). */
class IndexedTextSpec extends SparkSuite {

  /** One BGZF block per line plus a hand-built TBI; the writer now lives
    * in main (graft.fixtures.TabixFixture) so the scanner gate can reuse
    * it — this spec keeps the partition/dedup/pseudo-bin assertions. */
  private def writeTabixedBed(name: String,
      rows: Seq[(String, Long, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tbx")
    graft.fixtures.TabixFixture.writeBedGz(dir.resolve(name).toString, rows)
  }


  private val rows = Seq(
    ("chr1", 100L, 200L), ("chr1", 15000L, 15100L), ("chr1", 40000L, 40200L),
    ("chr2", 50L, 80L), ("chr2", 20000L, 20100L))

  test("explicit byte_ranges and virtual_ranges options drive the scan") {
    // plain text: split points landing mid-line must still yield each row
    // exactly once (first-line-skip / last-line-finish ownership)
    val dir = java.nio.file.Files.createTempDirectory("graft-ranges")
    val lines = rows.map { case (c, s, e) => s"$c\t$s\t$e\n" }.mkString
    val txt = dir.resolve("r.bed")
    java.nio.file.Files.write(txt, lines.getBytes("UTF-8"))
    val mid = lines.length / 2 // mid-file, intentionally not line-aligned
    val byBytes = spark.read.format("bed").option("bed_schema", "bed3")
      .option("byte_ranges", s"0-$mid;$mid-${lines.length}")
      .load(txt.toString)
    assert(byBytes.rdd.getNumPartitions == 2)
    assert(byBytes.count() == rows.length)
    assert(byBytes.orderBy("chrom", "start").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      rows.sortBy(r => (r._1, r._2)))

    // BGZF: virtual-position ranges whose bounds are record starts — the
    // per-line block layout makes every (blockOffset<<16) a record start
    val gz = writeTabixedBed("r.bed.gz", rows)
    val fs = new org.apache.hadoop.fs.Path(gz)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val index = graft.formats.GenomicIndex
      .findFor(fs, new org.apache.hadoop.fs.Path(gz)).get
    val starts = index.refs.flatMap(_.bins.values.flatMap(_.chunks))
      .map(_.begin.value).distinct.sorted
    val eof = fs.getFileStatus(new org.apache.hadoop.fs.Path(gz)).getLen << 16
    val bounds = starts :+ eof
    val rangeSpec = bounds.sliding(2)
      .map { case Seq(a, b) => s"$a-$b" }.mkString(";")
    val byVpos = spark.read.format("bed").option("bed_schema", "bed3")
      .option("virtual_ranges", rangeSpec).load(gz)
    assert(byVpos.rdd.getNumPartitions == rows.length)
    assert(byVpos.orderBy("chrom", "start").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      rows.sortBy(r => (r._1, r._2)))
  }

  test("tabix region query reads only matching chunks") {
    val p = writeTabixedBed("a.bed.gz", rows)
    val df = spark.read.format("bed").option("bed_schema", "bed3")
      .option("regions", "chr1:14001-16000") // 1-based closed = [14000,16000)
      .load(p)
    assert(df.rdd.getNumPartitions == 1) // single chunk
    val got = df.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("chr1", 15000L)))
  }

  test("tabix whole-chromosome region via pushed catalyst filter") {
    val p = writeTabixedBed("b.bed.gz", rows)
    val df = spark.read.format("bed").option("bed_schema", "bed3").load(p)
      .where(col("chrom") === "chr2")
    assert(df.collect().map(_.getLong(1)).toSet == Set(50L, 20000L))
  }

  test("index-derived splits partition a BGZF full scan") {
    val p = writeTabixedBed("c.bed.gz", rows)
    val df = spark.read.format("bed").option("bed_schema", "bed3")
      .option("maxpartitionbytes", "1").load(p)
    assert(df.rdd.getNumPartitions > 1)
    assert(df.count() == 5)
    assert(df.select(sum(col("start"))).collect()(0).getLong(0) ==
      rows.map(_._2).sum)
  }

  test("overlapping multi-region query emits each record once") {
    val p = writeTabixedBed("d.bed.gz", rows)
    // both regions hit the bin holding chr1:15000-15100; before chunk
    // merging this planned two identical partitions → duplicate rows
    val df = spark.read.format("bed").option("bed_schema", "bed3")
      .option("regions", "chr1:14001-16000;chr1:15001-40500")
      .load(p)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.sorted == Seq(("chr1", 15000L), ("chr1", 40000L)))
  }

  test("pseudo-bin counts are excluded from split planning") {
    val p = writeTabixedBed("e.bed.gz", rows)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    val idx = GenomicIndex.findFor(fs, new org.apache.hadoop.fs.Path(p)).get
    // metadata captured, not exposed as a bin
    assert(idx.refs.forall(_.metadata.isDefined))
    assert(idx.refs.flatMap(_.bins.keys).forall(_ < 37449))
    assert(idx.refs.map(_.metadata.get.nMapped).sum == rows.size)
    // split planning must only yield real BGZF block starts
    val splits = GenomicIndex.partitionFromIndex(idx, 1L)
    assert(splits.forall(v => v.uncompressedOffset == 0))
  }

  test("bgzf without index still reads as single gzip partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tbx")
    val p = dir.resolve("plain.bed.gz").toString
    val out = new FileOutputStream(p)
    rows.foreach { case (c, s, e) =>
      out.write(Bgzf.writeBlock(s"$c\t$s\t$e\n".getBytes("UTF-8")))
    }
    out.write(Bgzf.EofBlock)
    out.close()
    val df = spark.read.format("bed").option("bed_schema", "bed3").load(p)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 5)
  }

  test("pushed coordinate bounds narrow the index window, rows exact") {
    val p = writeTabixedBed("pb.bed.gz", rows)
    def load = spark.read.format("bed").option("bed_schema", "bed3").load(p)
    // chrom + coordinate bounds: results must equal the post-filtered
    // full scan even though planning now queries a narrowed window
    val got = load
      .where(col("chrom") === "chr1" && col("start") < 20000L &&
        col("end") > 150L)
      .select("start").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(100L, 15000L))
    // bound-only (no narrowing effect possible from a contradictory
    // window): start < 0 yields nothing rather than an error
    assert(load.where(col("chrom") === "chr1" && col("start") < 0L)
      .count() == 0)
    // chrom-only still returns the whole chromosome
    assert(load.where(col("chrom") === "chr2").count() == 2)
  }

  test("split budget shrinks for small inputs (bytes-per-core heuristic)") {
    import graft.sources.common.LineSourceUtil.{BgzfSplitFloor, maxSplitBytes}
    spark.sparkContext // force session so the heuristic is active
    val p = spark.sparkContext.defaultParallelism
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val budget = 128L * 1024 * 1024
    // large input: budget shrinks to bytes-per-core so all cores get work
    val big = 64L * budget * p
    assert(maxSplitBytes(Map.empty, budget, big) == budget)
    val mid = 8L * openCost * p
    assert(maxSplitBytes(Map.empty, budget, mid) == 8L * openCost)
    // tiny input: open-cost floor keeps fixtures at one task
    assert(maxSplitBytes(Map.empty, budget, 100L) == openCost)
    // a BGZF scan's floor is one BGZF block, so it fans out below 4 MB
    assert(maxSplitBytes(Map.empty, budget, 100L, BgzfSplitFloor) ==
      Bgzf.MaxBlockSize)
    // an explicit option is a hard cap the shrink never exceeds
    assert(maxSplitBytes(Map("maxpartitionbytes" -> "1"), budget, mid) == 1L)
    // unknown size: plain budget resolution, unchanged
    assert(maxSplitBytes(Map.empty, budget) == budget)
  }
}
