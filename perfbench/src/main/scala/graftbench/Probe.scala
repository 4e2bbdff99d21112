package graftbench

import java.io.{ByteArrayInputStream, File, FileInputStream}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{ArrowShim, RangeShuffle}
import org.apache.spark.storage.StorageLevel

import graft.formats.{BamCodec, Bgzf, CramCodec, GenomicIndex, RansCodec,
  SeekableInputs}
import graft.operators.{IntervalOps, TextOps}
import graft.sources.CramSource

/** Per-layer measurements of the traced run. Each layer is measured from
  * outside, by timing calls into its public functions; Spark work is
  * attributed through the job group set around each call. Every traced
  * run reports every metric, whichever workload it belongs to. */
object Probe {
  val operators: Seq[String] = Seq("coverage", "closest", "map",
    "overlap_join", "dedup_split", "ann", "text_quality")
  private val opFields = Seq("kernel_s" -> "s", "jobs" -> "count",
    "stages" -> "count", "tasks" -> "count", "executor_cpu_s" -> "s",
    "gc_s" -> "s", "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB",
    "driver_s" -> "s", "plan_ms" -> "ms")
  private val scanFields = Seq("plan_ms" -> "ms", "partitions" -> "count",
    "tasks" -> "count", "task_run_s" -> "s", "task_cpu_s" -> "s",
    "gc_s" -> "s", "rows_per_task_s" -> "1/s", "slowest_task_frac" -> "1")
  val selfLayers: Seq[String] = Seq("operation", "spark.job", "spark.stage",
    "formats", "sources", "graftshim", "operators")

  /** Every per-layer metric name with its unit, in report order. */
  val metrics: Seq[(String, String)] = Seq(
    "formats.bgzf_inflate_mb_per_s" -> "MB/s",
    "formats.bam_decode_records_per_s" -> "1/s",
    "formats.rans_decode_mb_per_s" -> "MB/s",
    "formats.cram_slice_records_per_s" -> "1/s",
    "formats.index_load_ms" -> "ms",
    "formats.chunks_per_region" -> "count",
    "formats.compressed_bytes_per_region" -> "B") ++
    Inputs.Formats.flatMap(f => scanFields.map { case (n, u) =>
      s"sources.$f.$n" -> u }) ++
    Seq("sources.region_driver_ms" -> "ms",
      "graftshim.arrow_ipc_mb_per_s" -> "MB/s",
      "graftshim.range_shuffle_s" -> "s",
      "graftshim.range_shuffle_partitions" -> "count") ++
    operators.flatMap(o => opFields.map { case (n, u) =>
      s"operators.$o.$n" -> u }) ++
    Seq("functions.minhash_rows_per_s" -> "1/s",
      "functions.quality_rows_per_s" -> "1/s",
      "plans.overlap_join_optimize_ms" -> "ms",
      "streaming.sessionize_batches" -> "count",
      "streaming.sessionize_drive_s" -> "s",
      "jvm.gc_s" -> "s", "jvm.jit_compile_s" -> "s",
      "trace.overhead_frac" -> "1") ++
    selfLayers.map(l => s"trace.${l.replace("spark.", "")}_self_s" -> "s")

  private def timeS[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Median rate over `reps` timed repetitions of `body`, which returns
    * the amount of work it did. */
  private def rate(reps: Int)(body: => Double): Double =
    Workloads.median((1 to reps).map { _ =>
      val (work, s) = timeS(body)
      work / s
    })

  // ------------------------------------------------------------ formats

  private def bgzfBlocks(path: String): (Long, Array[Byte]) = {
    val in = SeekableInputs.forLocal(path)
    try {
      val out = new java.io.ByteArrayOutputStream(1 << 24)
      var off = 0L
      var b = Bgzf.readBlock(in, off)
      while (b.isDefined) {
        out.write(b.get.data)
        off += b.get.compressedSize
        b = Bgzf.readBlock(in, off)
      }
      (off, out.toByteArray)
    } finally in.close()
  }

  private def decodeBam(inflated: Array[Byte]): Long = {
    val le = new BamCodec.LEInput(new ByteArrayInputStream(inflated))
    val header = BamCodec.readHeader(le)
    val dec = new BamCodec.RecordDecoder(header, None,
      Array.fill(12)(true), 1L)
    var n = 0L
    while (dec.read(le) != null) n += 1
    n
  }

  /** A CRAM container's blocks, raw (still compressed). */
  private final case class RawBlock(method: Int, contentType: Int,
      payload: Array[Byte])

  private def rawBlock(s: java.io.InputStream): RawBlock = {
    val method = s.read()
    val contentType = s.read()
    CramCodec.readItf8(s)
    val size = CramCodec.readItf8(s)
    CramCodec.readItf8(s)
    val payload = CramCodec.readFully(s, size)
    CramCodec.readFully(s, 4)
    RawBlock(method, contentType, payload)
  }

  /** rANS-compressed external blocks (raw) and every slice ready for
    * decodeSlice, read once outside the timed loops. */
  private def cramParts(path: String) = {
    val in = SeekableInputs.forLocal(path)
    try {
      val (_, containers) = CramSource.scanContainers(in)
      val rans = mutable.ArrayBuffer.empty[Array[Byte]]
      val slices = mutable.ArrayBuffer.empty[(CramCodec.CompressionHeader,
        CramCodec.SliceHeader, Array[Byte], Map[Int, Array[Byte]])]
      containers.foreach { c =>
        val s = new CramSource.CountingStream(in, c.offset)
        val ch = CramCodec.readContainerHeader(s)
        val start = s.pos
        var i = 0
        while (i < ch.nBlocks) {
          val b = rawBlock(s)
          if (b.contentType == 4 && b.method == 4) rans += b.payload
          i += 1
        }
        s.pos = start
        val comp = CramCodec.readCompressionHeader(CramCodec.readBlock(s).data)
        var read = 1
        while (read < ch.nBlocks) {
          val slice = CramCodec.readSliceHeader(CramCodec.readBlock(s).data)
          var core = Array.emptyByteArray
          val ext = Map.newBuilder[Int, Array[Byte]]
          (0 until slice.nBlocks).foreach { _ =>
            val b = CramCodec.readBlock(s)
            if (b.contentType == 5) core = b.data
            else ext += b.contentId -> b.data
          }
          slices += ((comp, slice, core, ext.result()))
          read += 1 + slice.nBlocks
        }
      }
      (rans.toSeq, slices.toSeq)
    } finally in.close()
  }

  private def indexes(c: Corpus) = {
    def open[T](p: String)(f: java.io.InputStream => T): T = {
      val in = new java.io.BufferedInputStream(new FileInputStream(p))
      try f(in) finally in.close()
    }
    (open(c.paths.bam + ".bai")(GenomicIndex.readBai),
      open(c.paths.vcf + ".tbi")(GenomicIndex.readTbi),
      open(c.paths.bed + ".tbi")(GenomicIndex.readTbi),
      open(c.paths.cram + ".crai")(CramCodec.readCrai))
  }

  /** Index lookup for one region: (chunks, compressed bytes spanned). */
  private def lookup(c: Corpus, r: Region,
      ix: (GenomicIndex.Index, GenomicIndex.Index, GenomicIndex.Index,
        Seq[CramCodec.CraiEntry])): (Int, Long) = {
    def chunks(index: GenomicIndex.Index, refId: Int) = {
      val cs = index.query(refId, r.beg - 1, r.end)
      (cs.size, cs.map(ch => ch.end.compressedOffset -
        ch.begin.compressedOffset).sum)
    }
    val refs = c.contigs(r.fmt).map(_._1)
    r.fmt match {
      case "bam" => chunks(ix._1, refs.indexOf(r.chrom))
      case "vcf" => chunks(ix._2, ix._2.names.getOrElse(r.chrom, -1))
      case "bed" => chunks(ix._3, ix._3.names.getOrElse(r.chrom, -1))
      case "cram" =>
        val es = ix._4.filter(e => e.refSeqId == refs.indexOf(r.chrom) &&
          e.start <= r.end && e.start + e.span >= r.beg)
        (es.size, es.map(_.sliceSize.toLong).sum)
    }
  }

  // --------------------------------------------------------------- run

  def run(ctx: Ctx, spans: Spans, root: Long, regions: Seq[Region],
      cores: Int): Map[String, Double] = {
    val s = ctx.spark
    val c = ctx.corpus
    val rec = ctx.recorder
    val out = mutable.LinkedHashMap.empty[String, Double]
    val steps = mutable.ArrayBuffer.empty[(String, Span)]

    def step[T](key: String, layer: String)(body: => T): T = {
      val id = spans.start(key, layer, root)
      s.sparkContext.setJobGroup(id.toString, key)
      try body finally {
        s.sparkContext.clearJobGroup()
        steps += key -> spans.end(id)
      }
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def persisted(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_ONLY)
      p.count()
      p
    }

    // formats: single-threaded, no Spark
    val (_, inflated) = step("bgzf", "formats")(bgzfBlocks(c.paths.bam))
    out("formats.bgzf_inflate_mb_per_s") =
      rate(3)(bgzfBlocks(c.paths.bam)._1 / 1e6)
    require(step("bam decode", "formats")(decodeBam(inflated)) == c.sizes.nBam,
      "BAM decode record count differs from the generator's")
    out("formats.bam_decode_records_per_s") = rate(3)(decodeBam(inflated).toDouble)
    val (rans, slices) = step("cram parts", "formats")(cramParts(c.paths.cram))
    out("formats.rans_decode_mb_per_s") = rate(3) {
      rans.foreach(RansCodec.decode)
      rans.map(_.length).sum / 1e6
    }
    out("formats.cram_slice_records_per_s") = rate(3) {
      slices.map { case (comp, sl, core, ext) =>
        CramCodec.decodeSlice(comp, sl, core, ext).size }.sum.toDouble
    }
    val ix = step("index load", "formats")(indexes(c))
    out("formats.index_load_ms") =
      1e3 * Workloads.median((1 to 5).map(_ => timeS(indexes(c))._2))
    val looked = regions.map(r => lookup(c, r, ix))
    out("formats.chunks_per_region") = looked.map(_._1).sum.toDouble / looked.size
    out("formats.compressed_bytes_per_region") =
      looked.map(_._2).sum.toDouble / looked.size

    // sources: one full scan per format, and region queries to IPC
    Inputs.Formats.foreach { f =>
      step(s"scan $f", "sources")(noop(ScanEtl.frame(s, c,
        if (f == "vcf") "vcf_info" else f)))
    }
    val regionSteps = regions.take(20).zipWithIndex.map { case (r, i) =>
      step(s"region $i", "sources")(
        ArrowShim.toIpcBytes(RegionQueries.query(s, c, r)))
      s"region $i"
    }

    // graftshim
    val (beg, end) = IntervalAlgebra.sliceOf(ctx.seed)
    val slice = s"chr1:$beg-$end"
    val regionDf = persisted(RegionQueries.query(s, c,
      Region("bam", "chr1", beg, beg + 8000000L - 1)))
    out("graftshim.arrow_ipc_mb_per_s") = rate(3)(
      step("arrow ipc", "graftshim")(ArrowShim.toIpcBytes(regionDf)).length / 1e6)
    regionDf.unpersist()
    val reads = persisted(IntervalAlgebra.coords(
      IntervalAlgebra.reads(s, c, None), "rname", "pos"))
    val sorted = RangeShuffle.rangeSortedDf(reads, Seq(col("chrom"),
      col("start")), Seq(col("end")), 2 * cores)
    step("range shuffle", "graftshim")(noop(sorted))
    out("graftshim.range_shuffle_partitions") = sorted.rdd.getNumPartitions

    // operators over persisted inputs
    val sliceReads = persisted(IntervalAlgebra.reads(s, c, Some(slice))
      .select(xxhash64(col("qname"), col("pos"), col("flag")).as("aid"),
        col("rname").as("chrom"), col("pos").cast("long").as("start"),
        col("end").cast("long").as("end"), lit(1L).as("v")))
    val sliceFeats = persisted(IntervalAlgebra.feats(s, c, slice)
      .select(xxhash64(col("chrom"), col("start"), col("end")).as("bid"),
        col("chrom"), col("start").cast("long").as("start"),
        col("end").cast("long").as("end")))
    val docs = persisted(TrainingData.docs(ctx))
    val vecs = persisted(TrainingData.embeddings(ctx))
    step("coverage", "operators")(noop(IntervalOps.coverage(reads)))
    step("closest", "operators")(noop(IntervalOps.closest(
      sliceReads.drop("v"), sliceFeats, "aid", "bid")))
    step("map", "operators")(noop(IntervalOps.mapOverlaps(
      sliceFeats.withColumnRenamed("bid", "fid"), sliceReads, "fid", "v")))
    step("overlap_join", "operators")(noop(
      graft.operators.IntervalJoin.overlapJoin(sliceReads, sliceFeats)))
    step("dedup_split", "operators")(noop(TextOps.leakageSafeSplit(docs,
      TextOps.lshCandidatePairs(TextOps.minhashSignatures(docs, "doc_id",
        "text", 8, fastHash = false), "doc_id", k = 8, bandSize = 2),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))))
    step("ann", "operators")(noop(TrainingData.ann(vecs)))
    step("text_quality", "operators") {
      noop(docs.groupBy(col("source")).agg(
        avg(TextOps.qualityScore(col("text")))))
      noop(docs.groupBy(col("lang"), TextOps.langId(col("text"))).count())
    }

    // functions, plans, streaming
    val nDocs = c.sizes.nDocs.toDouble
    out("functions.minhash_rows_per_s") = nDocs / timeS(step("minhash",
      "functions")(noop(TextOps.minhashSignatures(docs, "doc_id", "text", 8,
        fastHash = false))))._2
    out("functions.quality_rows_per_s") = nDocs / timeS(step("quality",
      "functions")(noop(docs.select(TextOps.qualityScore(col("text")),
        TextOps.langId(col("text"))))))._2
    val r = sliceReads.as("r")
    val f = sliceFeats.as("f")
    step("overlap join rewrite", "plans")(r.join(f,
      col("r.chrom") === col("f.chrom") && col("r.start") < col("f.end") &&
        col("f.start") < col("r.end")).agg(count(lit(1))).collect())
    step("sessionize", "streaming")(
      TrainingData.sessionize(ctx).collect())
    Seq(reads, sliceReads, sliceFeats, docs, vecs).foreach(_.unpersist())

    // Spark-side figures, once every event has been delivered
    org.apache.spark.perfbenchshim.Bus.drain(s.sparkContext)
    val byKey = steps.toMap
    def driverS(sp: Span, st: GroupStats): Double =
      (sp.durMs - Recorder.covered(st.stageIntervals, sp.startMs, sp.endMs)) / 1e3
    Inputs.Formats.foreach { fmt =>
      val sp = byKey(s"scan $fmt")
      val st = rec.stats(sp.id.toString)
      val p = s"sources.$fmt."
      out(p + "plan_ms") = rec.planMs(sp.startMs, sp.endMs)
      out(p + "partitions") = rec.scanTasks(sp.id.toString)
      out(p + "tasks") = st.tasks
      out(p + "task_run_s") = st.taskRunS
      out(p + "task_cpu_s") = st.cpuS
      out(p + "gc_s") = st.gcS
      // task run time is counted in whole milliseconds
      out(p + "rows_per_task_s") = c.records(fmt) / math.max(st.taskRunS, 1e-3)
      out(p + "slowest_task_frac") = st.slowestTaskFrac
    }
    out("sources.region_driver_ms") = 1e3 * Workloads.median(regionSteps.map {
      k => driverS(byKey(k), rec.stats(byKey(k).id.toString)) })
    out("graftshim.range_shuffle_s") = byKey("range shuffle").durMs / 1e3
    operators.foreach { o =>
      val sp = byKey(o)
      val st = rec.stats(sp.id.toString)
      val p = s"operators.$o."
      out(p + "kernel_s") = sp.durMs / 1e3
      out(p + "jobs") = st.jobs
      out(p + "stages") = st.stages
      out(p + "tasks") = st.tasks
      out(p + "executor_cpu_s") = st.cpuS
      out(p + "gc_s") = st.gcS
      out(p + "shuffle_write_mb") = st.shuffleWriteMb
      out(p + "shuffle_read_mb") = st.shuffleReadMb
      out(p + "driver_s") = driverS(sp, st)
      out(p + "plan_ms") = rec.planMs(sp.startMs, sp.endMs)
    }
    val rw = byKey("overlap join rewrite")
    out("plans.overlap_join_optimize_ms") =
      rec.planMs(rw.startMs, rw.endMs, Set("optimization"))
    val ss = byKey("sessionize")
    out("streaming.sessionize_batches") = rec.progressIn(ss.startMs, ss.endMs)
    out("streaming.sessionize_drive_s") = ss.durMs / 1e3
    out.toMap
  }
}
