package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ArrowShim

import graft.operators.{IntervalJoin, IntervalOps, Similarity, TextOps}

/** Everything an operation needs: the session, the generated inputs and
  * the listener whose input-record counts some checks read. */
final class Ctx(val spark: SparkSession, val corpus: Corpus,
    val trainDir: String, val seed: Long, val recorder: Recorder)

/** One operation of a pass. `run` is the timed call; it gets the job
  * group its jobs run under and returns the check, which runs after the
  * clock stops and yields an error message when the output is wrong. */
final case class Op(kind: String, run: String => (() => Option[String]))

trait Workload {
  def name: String
  /** Per set-up work on a fresh session (readers, persisted inputs). */
  def prepare(ctx: Ctx): Unit = ()
  /** Expected outputs, computed once per run outside every timed region. */
  def reference(ctx: Ctx): Unit
  def pass(ctx: Ctx, passNo: Int): Seq[Op]
  /** Named end-to-end figures of this workload, from the per-kind
    * median latencies (seconds) and all latencies (seconds). */
  def figures(ctx: Ctx, kindMedianS: Map[String, Double],
      all: Seq[Double]): Seq[(String, Double, String)]
}

object Workloads {
  val all: Seq[Workload] =
    Seq(ScanEtl, RegionQueries, IntervalAlgebra, TrainingData)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def expect(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  /** Order-independent digest of a small result. */
  def checksum(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    df.collect().map(_.toString).sorted
      .foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] =
    new scala.util.Random(seed).shuffle(xs)
}

/** Full-file scans into a noop sink: BGZF inflate, rANS and record decode
  * in `formats`, split planning and row building in `sources`. */
object ScanEtl extends Workload {
  val name = "scan_etl"
  private val kinds = Seq("bam", "cram", "vcf_info", "vcf_genotypes", "bed")

  def frame(s: SparkSession, c: Corpus, kind: String): DataFrame = kind match {
    case "bam" => s.read.format("bam").option("tags", "NM:i,AS:i,RG:Z")
      .load(c.paths.bam)
    case "cram" => s.read.format("cram").load(c.paths.cram)
    case "vcf_info" => s.read.format("vcf").load(c.paths.vcf)
      .select("chrom", "pos", "info.DP", "info.AF", "info.MQ", "info.QD",
        "info.AN", "info.AC")
    case "vcf_genotypes" => s.read.format("vcf").load(c.paths.vcf)
      .select(col("chrom"), col("pos"), col("samples.s1.GT").as("gt1"),
        col("samples.s3.DP").as("dp3"))
    case "bed" => s.read.format("bed").load(c.paths.bed)
  }

  def fmtOf(kind: String): String = kind.takeWhile(_ != '_')

  private var frames: Map[String, DataFrame] = Map.empty

  /** Readers resolved once: schema inference reads each file's header. */
  override def prepare(ctx: Ctx): Unit =
    frames = kinds.map(k => k -> frame(ctx.spark, ctx.corpus, k)).toMap

  def reference(ctx: Ctx): Unit = ()

  /** The five scans in a seeded order per pass. */
  def pass(ctx: Ctx, passNo: Int): Seq[Op] =
    Workloads.shuffled(kinds, ctx.seed * 1000003L + passNo).map { k =>
      Op(k, group => {
        frames(k).write.format("noop").mode("overwrite").save()
        () => Workloads.expect(s"$k rows", ctx.recorder.records(group),
          ctx.corpus.records(fmtOf(k)))
      })
    }

  def figures(ctx: Ctx, m: Map[String, Double], all: Seq[Double])
      : Seq[(String, Double, String)] = {
    val c = ctx.corpus
    Seq(
      ("bam_mb_per_s", c.mb("bam") / m("bam"), "MB/s"),
      ("cram_mb_per_s", c.mb("cram") / m("cram"), "MB/s"),
      ("vcf_mb_per_s", 2 * c.mb("vcf") / (m("vcf_info") +
        m("vcf_genotypes")), "MB/s"),
      ("bed_mb_per_s", c.mb("bed") / m("bed"), "MB/s"))
  }
}

/** Indexed region queries returned to the driver as Arrow IPC: header
  * and index load, planning, task launch and the IPC encode. */
object RegionQueries extends Workload {
  val name = "region_queries"
  val perPass = 20
  private var regions: IndexedSeq[Region] = IndexedSeq.empty
  private var expected: Map[Region, Int] = Map.empty

  /** Full scan of `fmt` as 1-based closed intervals per contig, under the
    * overlap rule each reader documents for its regions option. */
  def intervals(s: SparkSession, c: Corpus, fmt: String)
      : Map[String, Intervals] = {
    val df = s.read.format(fmt).load(c.file(fmt))
    val iv = fmt match {
      case "bam" | "cram" => df.where(col("rname").isNotNull)
        .select(col("rname"), col("pos").cast("long"), col("end").cast("long"))
      case "vcf" => df.select(col("chrom"), col("pos").cast("long"),
        (col("pos") + length(col("ref")) - 1).cast("long"))
      case "bed" => df.select(col("chrom"), (col("start") + 1).cast("long"),
        col("end").cast("long"))
    }
    iv.collect().groupBy(_.getString(0)).map { case (k, rows) =>
      k -> Intervals(rows.toSeq.map(r => (r.getLong(1), r.getLong(2))))
    }
  }

  /** Each reader's schema, as a client resolves it once per file. */
  override def prepare(ctx: Ctx): Unit = Inputs.Formats.foreach { f =>
    ctx.spark.read.format(f).load(ctx.corpus.file(f)).schema
  }

  def reference(ctx: Ctx): Unit = {
    regions = Inputs.regions(ctx.corpus, ctx.seed, 400, perPass)
    val ivs = Inputs.Formats.map(f =>
      f -> intervals(ctx.spark, ctx.corpus, f)).toMap
    expected = regions.map { r =>
      r -> ivs(r.fmt).get(r.chrom).map(_.overlapping(r.beg, r.end))
        .getOrElse(0)
    }.toMap
  }

  def query(s: SparkSession, c: Corpus, r: Region): DataFrame =
    s.read.format(r.fmt).option("regions", r.spec).load(c.file(r.fmt))

  def ipcRows(bytes: Array[Byte]): Long = {
    val alloc = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
    try {
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      try {
        var n = 0L
        while (reader.loadNextBatch()) n += reader.getVectorSchemaRoot.getRowCount
        n
      } finally reader.close()
    } finally alloc.close()
  }

  def pass(ctx: Ctx, passNo: Int): Seq[Op] =
    (0 until perPass).map { i =>
      val r = regions(Math.floorMod(passNo * perPass + i, regions.size))
      Op(r.fmt, _ => {
        val bytes = ArrowShim.toIpcBytes(query(ctx.spark, ctx.corpus, r))
        () => Workloads.expect(s"${r.fmt} ${r.spec} rows", ipcRows(bytes),
          expected(r).toLong)
      })
    }

  def figures(ctx: Ctx, m: Map[String, Double], all: Seq[Double])
      : Seq[(String, Double, String)] = Seq(
    ("region_p50_ms", 1e3 * Workloads.quantile(all, 0.5), "ms"),
    ("region_p90_ms", 1e3 * Workloads.quantile(all, 0.9), "ms"))
}

/** BAM reads and BED features through the interval operators: the range
  * sweeps, the binned joins and Spark's shuffle. */
object IntervalAlgebra extends Workload {
  val name = "interval_algebra"
  val sliceBp = 15000000L
  private val kinds = Seq("coverage", "closest", "map", "overlap_join")
  private var slice = ""
  private var readBases = 0L
  private var sliceReads = 0L
  private var sliceFeats = 0L
  private var slicePairs = 0L

  /** Seeded 15 Mbp slice of chr1, 1-based closed. */
  def sliceOf(seed: Long): (Long, Long) = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x1a1L)
    val beg = 1L + rnd.nextLong(200000000L - sliceBp)
    (beg, beg + sliceBp - 1)
  }

  def reads(s: SparkSession, c: Corpus, region: Option[String]): DataFrame = {
    val r = s.read.format("bam")
    region.fold(r)(x => r.option("regions", x)).load(c.paths.bam)
      .where(col("rname").isNotNull && col("pos").isNotNull &&
        col("end").isNotNull)
  }

  def feats(s: SparkSession, c: Corpus, region: String): DataFrame =
    s.read.format("bed").option("regions", region).load(c.paths.bed)
      .where(col("chrom").isNotNull && col("start").isNotNull &&
        col("end").isNotNull)

  /** (chrom, start, end) as longs, the operators' input shape. */
  def coords(df: DataFrame, chrom: String, start: String): DataFrame =
    df.select(col(chrom).as("chrom"), col(start).cast("long").as("start"),
      col("end").cast("long").as("end"))

  def coverage(s: SparkSession, c: Corpus): DataFrame =
    IntervalOps.coverage(coords(reads(s, c, None), "rname", "pos"))
      .agg(sum(col("depth") * (col("end") - col("start"))).as("depth_bases"))

  def closest(s: SparkSession, c: Corpus, region: String): DataFrame = {
    val a = reads(s, c, Some(region)).select(
      xxhash64(col("qname"), col("pos"), col("flag")).as("aid"),
      col("rname").as("chrom"), col("pos").cast("long").as("start"),
      col("end").cast("long").as("end"))
    val b = feats(s, c, region).select(
      xxhash64(col("chrom"), col("start"), col("end")).as("bid"),
      col("chrom"), col("start").cast("long").as("start"),
      col("end").cast("long").as("end"))
    IntervalOps.closest(a, b, "aid", "bid").agg(count(lit(1)).as("n"))
  }

  def mapOverlaps(s: SparkSession, c: Corpus, region: String): DataFrame = {
    val a = feats(s, c, region).select(monotonically_increasing_id().as("fid"),
      col("chrom"), col("start").cast("long").as("start"),
      col("end").cast("long").as("end"))
    val b = coords(reads(s, c, Some(region)), "rname", "pos")
      .withColumn("v", lit(1L))
    IntervalOps.mapOverlaps(a, b, "fid", "v")
      .agg(count(lit(1)).as("n_feats"), sum(col("n_overlaps")).as("n_pairs"))
  }

  def overlapJoin(s: SparkSession, c: Corpus, region: String): DataFrame =
    IntervalJoin.overlapJoin(coords(reads(s, c, Some(region)), "rname", "pos"),
      coords(feats(s, c, region), "chrom", "start"), binSize = 1000L)
      .agg(count(lit(1)).as("n"))

  /** The operators plan eagerly (range bounds, pass-A summaries), so
    * every call builds its plan inside the timed operation. */
  override def prepare(ctx: Ctx): Unit = {
    val (beg, end) = sliceOf(ctx.seed)
    slice = s"chr1:$beg-$end"
  }

  def reference(ctx: Ctx): Unit = {
    val s = ctx.spark
    val c = ctx.corpus
    readBases = coords(reads(s, c, None), "rname", "pos")
      .agg(sum(col("end") - col("start"))).head().getLong(0)
    // the operators treat (start, end) as half-open: [s, e) is the
    // closed range [s, e - 1]
    def closed(df: DataFrame) = Intervals(df.collect().toSeq
      .map(r => (r.getLong(1), r.getLong(2) - 1)))
    val r = closed(coords(reads(s, c, Some(slice)), "rname", "pos"))
    val f = closed(coords(feats(s, c, slice), "chrom", "start"))
    sliceReads = r.starts.length
    sliceFeats = f.starts.length
    slicePairs = r.overlapPairs(f)
  }

  def pass(ctx: Ctx, passNo: Int): Seq[Op] = kinds.map { k =>
    Op(k, _ => {
      val (s, c) = (ctx.spark, ctx.corpus)
      val row = (k match {
        case "coverage" => coverage(s, c)
        case "closest" => closest(s, c, slice)
        case "map" => mapOverlaps(s, c, slice)
        case _ => overlapJoin(s, c, slice)
      }).head()
      () => k match {
        case "coverage" =>
          Workloads.expect("coverage depth x bases", row.getLong(0), readBases)
        case "closest" => Workloads.expect("closest rows", row.getLong(0),
          sliceReads)
        case "map" =>
          Workloads.expect("map features", row.getLong(0), sliceFeats)
            .orElse(Workloads.expect("map pairs", row.getLong(1), slicePairs))
        case _ => Workloads.expect("overlap_join pairs", row.getLong(0),
          slicePairs)
      }
    })
  }

  def figures(ctx: Ctx, m: Map[String, Double], all: Seq[Double])
      : Seq[(String, Double, String)] = Seq(
    ("coverage_s", m("coverage"), "s"), ("closest_s", m("closest"), "s"),
    ("map_s", m("map"), "s"), ("overlap_join_s", m("overlap_join"), "s"))
}

/** The training-data operators over generated documents, embeddings and
  * events; no genomic reader runs. */
object TrainingData extends Workload {
  val name = "training_data"
  private val kinds = Seq("dedup_split", "ann", "text_quality", "sessionize")
  private var want: Map[String, String] = Map.empty
  private var nVecs = 0L

  def docs(ctx: Ctx): DataFrame =
    ctx.spark.read.parquet(s"${ctx.trainDir}/documents.parquet")

  /** q50's body: minhash, LSH candidate pairs, then the leakage-safe
    * split that keeps near-duplicate clusters on one side. */
  def dedupSplit(ctx: Ctx): DataFrame = {
    val d = docs(ctx)
    val pairs = TextOps.lshCandidatePairs(
      TextOps.minhashSignatures(d, "doc_id", "text", 8, fastHash = false),
      "doc_id", k = 8, bandSize = 2)
    TextOps.leakageSafeSplit(d, pairs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
  }

  def embeddings(ctx: Ctx): DataFrame =
    ctx.spark.read.parquet(s"${ctx.trainDir}/embeddings.parquet")

  /** The production-shaped IVF-PQ self-query (the x66 configuration):
    * 32 cells, 8 probes, 8 blocks of 16 sub-centroids, ADC keep 10 k. */
  def ann(emb: DataFrame): DataFrame =
    Similarity.ivfPqTopK(emb, emb, "vec_id", "embedding", AnnK, nCells = 32,
      nProbe = 8, m = 8, kSub = 16, iters = 2, adcKeep = 10 * AnnK, dim = 64)

  val AnnK = 10

  /** q20's quality summary and q21's language-id table. */
  def quality(ctx: Ctx): (DataFrame, DataFrame) = {
    val d = docs(ctx)
    (d.withColumn("q", TextOps.qualityScore(col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("q")), 4).as("avg_quality"),
        sum(when(col("q") > 0.5, 1L).otherwise(0L)).as("n_high")),
      d.withColumn("predicted", TextOps.langId(col("text")))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs")))
  }

  def sessionize(ctx: Ctx): DataFrame =
    graft.streaming.EventStream.sessionizeToCompletion(ctx.spark,
      s"${ctx.trainDir}/events.parquet")

  /** Expected checksums from the oracle-gated bodies: q50 for the split,
    * q20 and q21 for the text kernels, and q12's batch window
    * sessionization, which q42's streaming drive must reproduce. The
    * ANN result has no oracle; its check is one row per neighbour. */
  def reference(ctx: Ctx): Unit = {
    def gated(q: String) = Workloads.checksum(
      graft.SparkEntry.queries(q)(ctx.spark, ctx.trainDir))
    want = Map(
      "dedup_split" -> gated("q50_leakage_split"),
      "text_quality" -> (gated("q20_quality") + gated("q21_langid")),
      "sessionize" -> gated("q12_sessionize"))
    nVecs = embeddings(ctx).count()
  }

  def pass(ctx: Ctx, passNo: Int): Seq[Op] = kinds.map {
    case k @ "ann" => Op(k, _ => {
      val n = ann(embeddings(ctx)).count()
      () => Workloads.expect("ann neighbours", n, nVecs * AnnK)
    })
    case k => Op(k, _ => {
      val got = k match {
        case "dedup_split" => Workloads.checksum(dedupSplit(ctx))
        case "text_quality" =>
          val (q20, q21) = quality(ctx)
          Workloads.checksum(q20) + Workloads.checksum(q21)
        case "sessionize" => Workloads.checksum(sessionize(ctx))
      }
      () => if (got == want(k)) None
        else Some(s"$k checksum $got differs from the reference ${want(k)}")
    })
  }

  def figures(ctx: Ctx, m: Map[String, Double], all: Seq[Double])
      : Seq[(String, Double, String)] = Seq(
    ("dedup_split_s", m("dedup_split"), "s"), ("ann_s", m("ann"), "s"),
    ("text_quality_s", m("text_quality"), "s"),
    ("sessionize_s", m("sessionize"), "s"))
}
