package graftbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.fixtures.BenchCorpus

/** Input sizes. `smoke` is the seconds-long configuration the
  * benchmark's own tests use. */
final case class Sizes(nBam: Int, nVcf: Int, nBed: Int, nCram: Int,
    nDocs: Int, nVecs: Int, nEvents: Int, nUsers: Int) {
  def tag: String = productIterator.mkString("-")
}

object Sizes {
  val full = Sizes(nBam = 100000, nVcf = 100000, nBed = 200000,
    nCram = 60000, nDocs = 1000, nVecs = 1000, nEvents = 20000,
    nUsers = 300)
  val smoke = Sizes(nBam = 4000, nVcf = 3000, nBed = 6000, nCram = 2000,
    nDocs = 120, nVecs = 200, nEvents = 1500, nUsers = 40)
}

/** Sorted intervals of one contig in 1-based closed coordinates, for the
  * region-count and overlap-count checks. */
final class Intervals(val starts: Array[Long], val ends: Array[Long]) {
  private val maxLen =
    if (starts.isEmpty) 0L
    else starts.indices.map(i => ends(i) - starts(i) + 1).max

  private def firstAtLeast(v: Long): Int = {
    var lo = 0
    var hi = starts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Records overlapping the closed range [a, b]. */
  def overlapping(a: Long, b: Long): Int = {
    val inner = firstAtLeast(a)
    val hi = firstAtLeast(b + 1)
    var n = math.max(0, hi - inner)
    var i = firstAtLeast(a - maxLen)
    while (i < inner) { if (ends(i) >= a) n += 1; i += 1 }
    n
  }

  /** Pairs (x, y) with x in this set, y in `other` and the closed ranges
    * overlapping. */
  def overlapPairs(other: Intervals): Long = {
    var n = 0L
    var j = 0
    while (j < other.starts.length) {
      n += overlapping(other.starts(j), other.ends(j))
      j += 1
    }
    n
  }
}

object Intervals {
  def apply(rows: Seq[(Long, Long)]): Intervals = {
    val s = rows.sortBy(_._1)
    new Intervals(s.map(_._1).toArray, s.map(_._2).toArray)
  }
}

/** One region query: format, contig and 1-based closed range. */
final case class Region(fmt: String, chrom: String, beg: Long, end: Long) {
  def spec: String = s"$chrom:$beg-$end"
}

final case class Corpus(paths: BenchCorpus.Paths, sizes: Sizes) {
  def file(fmt: String): String = fmt match {
    case "bam" => paths.bam
    case "cram" => paths.cram
    case "vcf" => paths.vcf
    case "bed" => paths.bed
  }
  def mb(fmt: String): Double = new File(file(fmt)).length / 1e6
  def records(fmt: String): Long = fmt match {
    case "bam" => sizes.nBam
    case "cram" => sizes.nCram
    case "vcf" => sizes.nVcf
    case "bed" => sizes.nBed
  }
  /** Contigs (name, length) of each file, as the corpus generator
    * writes them. */
  def contigs(fmt: String): Seq[(String, Long)] = fmt match {
    case "bam" | "bed" => Seq("chr1" -> 200000000L, "chr2" -> 100000000L)
    case "vcf" => Seq("chr1" -> 200000000L)
    case "cram" => Seq("chr1" -> (3L * sizes.nCram + 200))
  }
}

object Inputs {
  val Formats: Seq[String] = Seq("bam", "cram", "vcf", "bed")

  /** The genomic corpus is fixed by its sizes, generated once per
    * checkout and reused. */
  def corpus(dir: File, s: Sizes): Corpus = {
    val d = new File(dir, s"corpus-${s.nBam}-${s.nVcf}-${s.nBed}-${s.nCram}")
    Corpus(BenchCorpus.ensure(d.getPath, nBam = s.nBam, nVcf = s.nVcf,
      nBed = s.nBed, nCram = s.nCram), s)
  }

  /** Seeded region list, in passes of `perPass` queries: the formats in
    * rotation and, per format, widths stratified over a log-uniform
    * 10 kbp to 8 Mbp range (clamped to the contig), so every pass has the
    * same width mix; the seed places each region and jitters its width
    * within its stratum. */
  def regions(c: Corpus, seed: Long, n: Int, perPass: Int = 20)
      : IndexedSeq[Region] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5e91L)
    val strata = perPass / Formats.size
    val (lo, hi) = (math.log(1e4), math.log(8e6))
    (0 until n).map { i =>
      val fmt = Formats(i % Formats.size)
      val stratum = (i % perPass) / Formats.size
      val ctgs = c.contigs(fmt)
      val (chrom, len) = ctgs(rnd.nextInt(ctgs.size))
      val w = math.min(len, math.exp(lo + (stratum + rnd.nextDouble()) /
        strata * (hi - lo)).toLong)
      val beg = 1L + (if (len > w) rnd.nextLong(len - w + 1) else 0L)
      Region(fmt, chrom, beg, beg + w - 1)
    }
  }

  private val Vocab = ("query row stream part column order scan slow agg " +
    "key window table merge vector join spark line small fast group " +
    "customer batch sort value hash filter big data dup").split(" ")

  /** Documents, embeddings and events in the training-data tables'
    * schemas, all drawn from `seed`. Written once per (sizes, seed). */
  def trainingData(spark: SparkSession, dir: File, s: Sizes,
      seed: Long): String = {
    val d = new File(dir, s"train-${s.tag}-seed$seed")
    val marker = new File(d, "_done")
    if (marker.exists()) return d.getPath
    d.mkdirs()
    val rnd = new java.util.SplittableRandom(seed)
    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
    val markers = graft.operators.TextOps.LangMarkers.toMap
    val texts = new Array[String](s.nDocs)
    val docs = (0 until s.nDocs).map { i =>
      val lang = langs(rnd.nextInt(langs.size))
      // one doc in ten is a near-copy of an earlier one, so the dedup
      // pipeline finds real clusters
      val text = if (i > 10 && rnd.nextInt(10) == 0) {
        val w = texts(rnd.nextInt(i)).split(" ")
        w(rnd.nextInt(w.length)) = Vocab(rnd.nextInt(Vocab.length))
        w.mkString(" ")
      } else {
        val mk = markers.getOrElse(lang, Seq.empty)
        Seq.fill(8 + rnd.nextInt(70)) {
          if (mk.nonEmpty && rnd.nextInt(4) == 0) mk(rnd.nextInt(mk.size))
          else Vocab(rnd.nextInt(Vocab.length))
        }.mkString(" ")
      }
      texts(i) = text
      Row(i.toLong, text, lang, s"src${rnd.nextInt(20)}", text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val dim = 64
    val centers = Array.fill(10, dim)(rnd.nextDouble() * 2 - 1)
    val vecs = (0 until s.nVecs).map { i =>
      val label = rnd.nextInt(10)
      val v = Array.tabulate(dim)(j =>
        (centers(label)(j) + 0.3 * (rnd.nextDouble() * 2 - 1)).toFloat)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      Row(i.toLong, v.map(_ / norm).toSeq, label)
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    val types = Array("click", "view", "purchase", "signup", "error")
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val month = 30L * 24 * 3600 * 1000
    val events = (0 until s.nEvents).map(i => (t0 + rnd.nextLong(month), i))
      .sortBy(_._1).zipWithIndex.map { case ((ts, _), i) =>
        Row(i.toLong, new java.sql.Timestamp(ts),
          rnd.nextInt(s.nUsers).toLong, types(rnd.nextInt(types.length)),
          math.round(rnd.nextDouble() * 50000) / 100.0,
          s"""{"k": ${rnd.nextInt(100)}}""")
      }
    val evSchema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
    def write(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(new File(d, s"$name.parquet").getPath)
    write(docs, docSchema, "documents")
    write(vecs, vecSchema, "embeddings")
    write(events, evSchema, "events")
    java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
    d.getPath
  }
}
