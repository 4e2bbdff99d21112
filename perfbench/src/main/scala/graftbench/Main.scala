package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The graft benchmark: one workload as a closed loop, one client and one
  * local Spark session in this process.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> [--smoke]
  * }}}
  *
  * Prints every metric by name with its unit, writes the full record
  * (and, traced, the spans) under `<work>/records`, and ends stdout with
  * one JSON line: correct, attempted, failed and the metrics. */
object Main {
  final case class Latency(kind: String, seconds: Double)

  final class Loop(ctx: () => Ctx, wl: Workload, spans: Spans, root: Long) {
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    /** Off for the untraced passes of a traced run: their operations get
      * job groups but no spans. */
    var recordSpans = true
    private var untracedIds = 0L

    /** Runs one pass; returns each operation's latency. */
    def pass(passNo: Int): Seq[Latency] = {
      val c = ctx()
      val sc = c.spark.sparkContext
      wl.pass(c, passNo).map { op =>
        val id =
          if (recordSpans) spans.start(op.kind, "operation", root)
          else { untracedIds -= 1; untracedIds }
        sc.setJobGroup(id.toString, op.kind)
        val t = System.nanoTime()
        val check: () => Option[String] =
          try op.run(id.toString)
          catch { case e: Exception => () => Some(s"${op.kind}: $e") }
        val dt = (System.nanoTime() - t) / 1e9
        sc.clearJobGroup()
        if (recordSpans) spans.end(id)
        org.apache.spark.perfbenchshim.Bus.drain(sc)
        attempted += 1
        (try check() catch { case e: Exception => Some(s"${op.kind}: $e") })
          .foreach { e =>
            failed += 1
            if (errors.size < 20) errors += e
          }
        Latency(op.kind, dt)
      }
    }

    /** Whole passes until `seconds` have gone by, at least `minPasses`. */
    def run(seconds: Double, minPasses: Int = 1,
        beforePass: Int => Unit = _ => ()): Seq[(Int, Latency)] = {
      val out = mutable.ArrayBuffer.empty[(Int, Latency)]
      val t0 = System.nanoTime()
      var p = 0
      while (p < minPasses || System.nanoTime() - t0 < seconds * 1e9) {
        beforePass(p)
        out ++= pass(p).map(p -> _)
        p += 1
      }
      out.toSeq
    }
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", 2 * cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // the status store keeps every finished job, stage and query for
      // the UI; cap it so the live heap does not grow with the run
      .config("spark.ui.retainedJobs", 20)
      .config("spark.ui.retainedStages", 20)
      .config("spark.ui.retainedTasks", 200)
      .config("spark.sql.ui.retainedExecutions", 5)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Live heap after a full collection, MB. Taken once, after the timed
    * passes: what the run's caches and state still hold. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
    }.toMap
    val smoke = args.contains("--smoke")
    val wl = opts.get("workload").flatMap(Workloads.byName).getOrElse {
      System.err.println("--workload must be one of " +
        Workloads.all.map(_.name).mkString(", "))
      sys.exit(2)
    }
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(1L)
    val seconds = opts.get("seconds").flatMap(_.toDoubleOption).getOrElse(10.0)
    val traced = opts.get("trace").contains("1")
    val work = new File(opts.getOrElse("work", "perfbench-work"))
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = math.min(4, nproc)
    val sizes = if (smoke) Sizes.smoke else Sizes.full
    val setups = if (smoke) 2 else 7
    // the traced run reports per-layer figures only: one warm-up pass
    val warmupSeconds = if (smoke || traced) 0.0 else 15.0

    // inputs: generated outside every timed region
    val tGen = System.nanoTime()
    val corpus = Inputs.corpus(work, sizes)
    var spark = session(cores, work)
    // the traced run's probe also times the training-data operators
    val trainDir =
      if (wl == TrainingData || traced)
        Inputs.trainingData(spark, work, sizes, seed)
      else ""
    val inputsS = (System.nanoTime() - tGen) / 1e9

    val spans = new Spans
    val root = spans.start(wl.name, "workload", 0L)
    var rec: Recorder = null
    var ctx: Ctx = null
    val loop = new Loop(() => ctx, wl, spans, root)

    // expected outputs, then untimed warm-up passes (checked like the
    // rest): Spark's planner and graft's decoders take tens of seconds
    // of JIT compilation to settle, and neither set-up nor the timed
    // passes should ride that slope
    rec = Recorder.attach(spark, new Recorder(full = false))
    ctx = new Ctx(spark, corpus, trainDir, seed, rec)
    wl.prepare(ctx)
    val tRef = System.nanoTime()
    wl.reference(ctx)
    val referenceS = (System.nanoTime() - tRef) / 1e9
    val warmLat = loop.run(warmupSeconds).map(_._2)

    // set-up, several times on the warm JVM: a fresh session and the
    // workload's prepare step; the median is reported
    val setupS = (1 to setups).map { _ =>
      val t = System.nanoTime()
      spark.stop()
      spark = session(cores, work)
      rec = Recorder.attach(spark, new Recorder(full = false))
      ctx = new Ctx(spark, corpus, trainDir, seed, rec)
      wl.prepare(ctx)
      (System.nanoTime() - t) / 1e9
    }
    // the first pass on a fresh session pays for its thread pools and
    // block manager; it stays untimed
    val settleLat = loop.run(0).map(_._2)

    val gcBefore = gcSeconds()
    val (lat, traceOut) =
      if (!traced) (loop.run(seconds).map(_._2), None)
      else {
        // passes alternate untraced and traced: the difference between
        // the two is the tracing overhead
        val full = new Recorder(full = true)
        var on = false
        def trace(enable: Boolean): Unit = if (enable != on) {
          on = enable
          loop.recordSpans = enable
          if (enable) Recorder.attach(spark, full)
          else Recorder.detach(spark, full)
        }
        val all = loop.run(seconds, minPasses = 2, p => trace(p % 2 == 1))
        trace(true)
        rec = full
        ctx = new Ctx(spark, corpus, trainDir, seed, full)
        val byMode = all.groupBy(_._1 % 2 == 1)
        def kindMedian(ls: Seq[(Int, Latency)]) = ls.map(_._2)
          .groupBy(_.kind).map { case (k, v) =>
            k -> Workloads.median(v.map(_.seconds)) }
        val plain = kindMedian(byMode.getOrElse(false, Nil))
        val ratios = kindMedian(byMode.getOrElse(true, Nil)).collect {
          case (k, t) if plain.contains(k) => t / plain(k) }
        val overhead = mean(ratios.toSeq) - 1
        val probeRoot = spans.start("probe", "workload", 0L)
        val layer = Probe.run(ctx, spans, probeRoot,
          Inputs.regions(corpus, seed, 40), cores)
        spans.end(probeRoot)
        (all.map(_._2), Some((overhead, layer)))
      }
    spans.end(root)
    org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)

    val kinds = lat.groupBy(_.kind).map { case (k, ls) =>
      k -> Workloads.median(ls.map(_.seconds)) }
    val secs = lat.map(_.seconds)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", Workloads.median(setupS), "s"),
      ("op_p50_ms", 1e3 * Workloads.quantile(secs, 0.5), "ms"),
      ("op_p90_ms", 1e3 * Workloads.quantile(secs, 0.9), "ms"),
      ("ops_per_s", secs.size / secs.sum, "1/s"),
      ("heap_live_mb", liveHeapMb(), "MB"))
    val figures = wl.figures(ctx, kinds, secs)

    val allSpans = spans.all ++ rec.sparkSpans()
    val perLayer: Seq[(String, Double, String)] = traceOut.toSeq.flatMap {
      case (overhead, layer) =>
        val self = Recorder.selfTimes(allSpans)
        val extra = Map(
          "jvm.gc_s" -> (gcSeconds() - gcBefore),
          "jvm.jit_compile_s" -> ManagementFactory.getCompilationMXBean
            .getTotalCompilationTime / 1e3,
          "trace.overhead_frac" -> overhead) ++
          Probe.selfLayers.map(l => s"trace.${l.replace("spark.", "")}_self_s" ->
            self.getOrElse(l, 0.0))
        Probe.metrics.map { case (n, u) =>
          (n, layer.getOrElse(n, extra(n)), u) }
    }
    val reported = if (traced) perLayer else e2e

    val recDir = new File(work, "records")
    recDir.mkdirs()
    val stem = s"${wl.name}-seed$seed-trace${if (traced) 1 else 0}"
    val spanFile = new File(recDir, s"$stem.spans.jsonl")
    if (traced) {
      val w = new java.io.PrintWriter(spanFile)
      try allSpans.sortBy(_.startMs).foreach { s =>
        w.println(Json.write(Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs)))
      } finally w.close()
    }
    def metricMap(ms: Seq[(String, Double, String)]) =
      mutable.LinkedHashMap(ms.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }: _*)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "smoke" -> smoke,
      "traced" -> traced, "seconds" -> seconds, "cores" -> cores,
      "nproc" -> nproc, "sizes" -> sizes.productElementNames.zip(
        sizes.productIterator).toMap,
      "corpus_mb" -> Inputs.Formats.map(f => f -> corpus.mb(f)).toMap,
      "inputs_s" -> inputsS, "setup_runs_s" -> setupS,
      "reference_s" -> referenceS, "warmup_s" -> (warmLat ++ settleLat).map(_.seconds).sum,
      "attempted" -> loop.attempted, "failed" -> loop.failed,
      "errors" -> loop.errors,
      "operations" -> secs.size,
      "kind_median_s" -> kinds,
      "latencies_s" -> lat.map(l => Seq(l.kind, l.seconds)),
      "kind_samples" -> lat.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "end_to_end" -> metricMap(e2e),
      "workload_metrics" -> metricMap(figures),
      "per_layer" -> metricMap(perLayer),
      "self_s_by_layer" -> (if (traced) Recorder.selfTimes(allSpans) else Map()),
      "spans_file" -> (if (traced) spanFile.getPath else null))
    val recFile = new File(recDir, s"$stem.json")
    java.nio.file.Files.write(recFile.toPath, Json.write(record).getBytes("UTF-8"))

    spark.stop()
    (e2e ++ figures ++ perLayer).foreach { case (n, v, u) =>
      println(f"$n%-44s $v%.6g $u") }
    println(s"record: ${recFile.getPath}")
    println(Json.write(mutable.LinkedHashMap(
      "correct" -> (loop.failed == 0), "attempted" -> loop.attempted,
      "failed" -> loop.failed, "metrics" -> metricMap(reported))))
  }

  private def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
}
