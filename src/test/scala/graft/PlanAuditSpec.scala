package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.fixtures.BamFixture

/** Durable plan-shape assertions for the properties the 100 TB design
  * depends on. Row-correctness is the oracle gate's job; these specs pin
  * the PHYSICAL plan: filters reaching the scan, projection pruning the
  * read schema, small dimensions broadcast, and no cartesian fallbacks in
  * the analytical queries.
  */
class PlanAuditSpec extends SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  private def executedString(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  test("parquet scans receive pushed filters and pruned schemas") {
    val df = spark.read.parquet(s"$Sf/lineitem.parquet")
      .where("l_shipdate <= '1998-09-02'")
      .select("l_returnflag", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan)
    // the scan must read only the 3 referenced columns, not all 16
    val readSchema = "ReadSchema: struct<(.*?)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    val cols = readSchema.split(",").map(_.split(":").head).toSet
    assert(cols == Set("l_returnflag", "l_quantity", "l_shipdate"), readSchema)
  }

  test("rname equality pushes into the BAM scan as an index region query") {
    val dir = java.nio.file.Files.createTempDirectory("graft-audit").toString
    BamFixture.write(s"$dir/a.bam",
      Seq(("chr1", 100000), ("chr2", 50000)),
      Seq(
        BamFixture.Rec("a1", 0, 0, 100, 60, Seq((4, 'M')), "ACGT", "FFFF"),
        BamFixture.Rec("a2", 0, 1, 200, 60, Seq((4, 'M')), "GGCC", "IIII")))
    val df = spark.read.format("bam").option("tag_scan_rows", "0")
      .load(s"$dir/a.bam").where("rname = 'chr1'")
    // the filter reaches the DSv2 scan (visible in its description) and
    // index chunk selection plans exactly the chr1 partition
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-bam") && plan.contains("pushed=[") &&
      plan.contains("rname"), plan)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.select("qname").collect().map(_.getString(0)).toSeq == Seq("a1"))
  }

  test("small dimension joins broadcast instead of shuffling both sides") {
    val lineitem = spark.read.parquet(s"$Sf/lineitem.parquet")
    val part = spark.read.parquet(s"$Sf/part.parquet")
    val joined = lineitem.join(
      org.apache.spark.sql.functions.broadcast(part),
      lineitem("l_partkey") === part("p_partkey"))
      .groupBy("p_brand")
      .agg(org.apache.spark.sql.functions.sum("l_quantity").as("qty"))
    val plan = executedString(joined)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("analytical queries avoid cartesian/nested-loop fallbacks") {
    // every query except the documented exact-baseline crossJoin (q27)
    for (name <- Seq("q03_join_revenue", "q05_window_topn", "q08_semi_join",
        "q13_asof_join", "q14_interval_join", "q24_neardup_pairs")) {
      val df = SparkEntry.queries(name)(spark, Sf)
      val plan = executedString(df)
      assert(!plan.contains("CartesianProduct"), s"$name: $plan")
      // broadcast NLJ is acceptable only for the one-row probe joins the
      // interval operator uses; anything joining real relations must not
      if (name != "q14_interval_join")
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name: $plan")
    }
  }

  test("bucketed tables join with zero exchanges") {
    val lineitem = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val orders = spark.read.parquet(s"$Sf/orders.parquet")
      .select("o_orderkey", "o_orderdate")
    graft.operators.Layout.writeBucketed(lineitem, "li_b", 4, "l_orderkey")
    graft.operators.Layout.writeBucketed(orders, "ord_b", 4, "o_orderkey")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b").join(spark.table("ord_b"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val plan = executedString(joined)
      assert(!plan.contains("Exchange"), plan) // neither side shuffles
      assert(joined.count() == lineitem.count())
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("multi-file and glob loads fan out across files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-multi").toString
    for (i <- 1 to 3)
      BamFixture.write(s"$dir/part$i.bam", Seq(("chr1", 100000)),
        Seq(BamFixture.Rec(s"m$i", 0, 0, 100 * i, 60, Seq((4, 'M')),
          "ACGT", "FFFF")))
    val glob = spark.read.format("bam").option("tag_scan_rows", "0")
      .load(s"$dir/part*.bam")
    assert(glob.rdd.getNumPartitions == 3)
    assert(glob.select("qname").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("m1", "m2", "m3"))
    val multi = spark.read.format("bam").option("tag_scan_rows", "0")
      .load(s"$dir/part1.bam", s"$dir/part3.bam")
    assert(multi.select("qname").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("m1", "m3"))
  }

  test("ivf assignment is a narrow pass: no join, window, or exchange") {
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    val vecs = (0L until 500L)
      .map(i => (i, Array.fill(16)((i % 7).toFloat + 1f)))
      .toDF("id", "vec")
    val Some(cents) = graft.operators.Similarity.centroidLiteral(
      vecs, "id", "vec", 4)
    val base = vecs.select(col("id").as("cand_id"), col("vec").as("__cv"),
      graft.operators.Similarity.norm(col("vec")).as("__cn"))
    // both the argmax (keep=1) and the sorted-probe (keep>1) assignment
    // stages must be pure narrow projections over the scan — the
    // centroids ride the plan as a literal matrix, so any Join, Window
    // or Exchange here is the r7 nCells× row-blowup regression
    for (keep <- Seq(1, 2)) {
      val plan = executedString(graft.operators.Similarity.assignCells(
        base, cents, "__cv", "__cn", keep))
      assert(!plan.contains("Join") && !plan.contains("Window") &&
        !plan.contains("Exchange") && !plan.contains("CartesianProduct"),
        plan)
    }
    // end-to-end, the only remaining plan hazards would be a cartesian
    // or nested-loop join — the cell-key join must stay an equi-join
    val full = executedString(graft.operators.Similarity.ivfTopK(
      vecs.where(col("id") < 8), vecs, "id", "vec", k = 2,
      nCells = 4, nProbe = 2))
    assert(!full.contains("CartesianProduct") &&
      !full.contains("BroadcastNestedLoopJoin"), full)
  }

  test("flat text scans read columnar; nested schemas keep the row path") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-colnar")
    val bed = dir.resolve("t.bed").toString
    val fw = new java.io.FileWriter(bed)
    fw.write((0 until 5000).map(i =>
      s"chr1\t${i * 10}\t${i * 10 + 50}\tf$i\t${i % 1000}\t+").mkString("\n"))
    fw.close()
    // columnar is opt-in (row path measured faster under stock Spark's
    // ColumnarToRow re-materialization — see the factory scaladoc)
    val df = spark.read.format("bed").option("bed_schema", "bed6")
      .option("columnar", "true").load(bed)
    // the opted-in scan emits OnHeapColumnVector batches, consumed
    // through ColumnarToRow
    assert(executedString(df).contains("ColumnarToRow"), executedString(df))
    assert(df.count() == 5000)
    val colRows = df.orderBy(col("start")).collect()
    val rowDf = spark.read.format("bed").option("bed_schema", "bed6").load(bed)
    assert(!executedString(rowDf).contains("ColumnarToRow"))
    assert(colRows.toSeq == rowDf.orderBy(col("start")).collect().toSeq)
    // null-bearing and projected reads stay correct through the batch
    val proj = df.select(col("chrom"), col("score")).limit(7).collect()
    assert(proj.length == 7 && proj.forall(_.getString(0) == "chr1"))
    // the BAM reader exposes the same opt-in batch path for flat
    // projections (tags struct excluded)
    val bamDir = java.nio.file.Files.createTempDirectory("graft-colbam")
    fixtures.BamFixture.write(bamDir.resolve("c.bam").toString,
      Seq(("chr1", 100000)),
      (1 to 50).map(i => fixtures.BamFixture.Rec(s"r$i", 0, 0, i * 100, 60,
        Seq((4, 'M')), "ACGT", "FFFF")))
    val bam = spark.read.format("bam").option("tag_scan_rows", "0")
      .option("columnar", "true").load(bamDir.resolve("c.bam").toString)
      .select(col("qname"), col("pos"), col("flag"))
    assert(executedString(bam).contains("ColumnarToRow"), executedString(bam))
    assert(bam.count() == 50)
  }

  test("star-contraction rounds stay equi-join shaped (no cartesian)") {
    val s = spark
    import s.implicits._
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = graft.operators.TextOps.dedupClustersStar(pairs)
    val plan = executedString(out)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(out.count() == 60)
  }

  test("embedding dedup candidates come from the band equi-join") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 80L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian()))).toDF("id", "vec")
    val pairs = graft.operators.Similarity.bandedNearDupPairs(
      vecs, "id", "vec", threshold = 0.8, dim = 16, bands = 4,
      bitsPerBand = 8)
    val plan = executedString(pairs)
    // never all-pairs: the candidate join must be (band, key)-keyed
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    pairs.count() // must execute cleanly
  }

  test("image dedup candidates come from the band equi-join") {
    val s = spark
    import s.implicits._
    val assets = graft.operators.Multimodal.toAssets(
      (1L to 40L).map(i => (i, "image/png",
        graft.operators.Multimodal.encodeTwoTonePng(8, 4,
          (i % 7 * 30).toInt, (i % 5 * 50).toInt)))
        .toDF("id", "mime", "payload"),
      "id", "mime", "payload")
    val out = graft.operators.Multimodal
      .imageDedupClusters(s, assets, maxHamming = 2)
    val plan = executedString(out)
    // the rep pair join must be (band, key)-keyed, never all-pairs
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(out.count() == 40)
    // the brightness-separated variant adds a bucket to the join key —
    // still an equi-join, never all-pairs
    val outB = graft.operators.Multimodal
      .imageDedupClusters(s, assets, maxHamming = 2, brightnessTol = 0.05)
    val planB = executedString(outB)
    assert(!planB.contains("CartesianProduct") &&
      !planB.contains("BroadcastNestedLoopJoin"), planB)
    assert(outB.count() == 40)
  }

  test("image dedup decodes each payload once (ReusedExchange)") {
    val s = spark
    import s.implicits._
    val assets = graft.operators.Multimodal.toAssets(
      (1L to 30L).map(i => (i, "image/png",
        graft.operators.Multimodal.plantedNearDupPng(i % 5, (i % 3).toInt)))
        .toDF("id", "mime", "payload"),
      "id", "mime", "payload")
    val out = graft.operators.Multimodal
      .imageDedupClusters(s, assets, maxHamming = 3)
    val plan = executedString(out)
    // the hash frame feeds three consumers; without exchange reuse each
    // branch re-runs the pixel-decode mapPartitions. The asset_id
    // repartition above the decode must be materialized once and
    // re-read everywhere else.
    assert(plan.contains("ReusedExchange"), plan)
    assert(out.count() == 30)
  }

  test("video frame decode is narrow: no shuffle anywhere in the plan") {
    val s = spark
    import s.implicits._
    val mjpeg = graft.operators.Multimodal.encodeMp4FrameBytes(16, 16,
      1000L, Array(40L, 40L),
      Array(50, 90).map(graft.operators.Multimodal.encodeUniformJpeg(16, 16, _)))
    val assets = graft.operators.Multimodal.toAssets(
      (1L to 8L).map(i => (i, "video/mp4", mjpeg))
        .toDF("id", "mime", "payload"),
      "id", "mime", "payload")
    val out = graft.operators.Multimodal.decodeFrames(s, assets, stride = 1)
    val plan = executedString(out.toDF())
    // demux + per-frame decode is a pure map over asset rows — an
    // Exchange here would mean the operator shuffles binary payloads
    assert(!plan.contains("Exchange"), plan)
    assert(out.count() == 16)
  }

  test("prefix-sum shard packing never funnels into one partition") {
    val s = spark
    import s.implicits._
    val docs = (1L to 400L).map(i => (i, ("w " * (i % 30 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps
      .packShards(docs, "doc_id", "text", 100L, buckets = 8)
    val plan = executedString(out)
    // the global-window formulation would show Exchange SinglePartition;
    // the two-pass scan must keep every stage bucket-parallel
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("kmeans assignment is narrow: literal centroids, no join/window") {
    val s = spark
    import s.implicits._
    val vecs = (0L until 300L)
      .map(i => (i, Array.fill(8)((i % 5).toFloat)))
      .toDF("id", "vec")
    val out = graft.operators.Similarity.kmeansFixedPoint(
      vecs, "id", "vec", k = 3, iters = 1, dim = 8)
    // the whole loop must stay join- and window-free: centroids ride as
    // a literal matrix, assignment is a narrow fold, and the only
    // shuffles are the (cell, dim) update agg and the final summary agg
    val plan = executedString(out)
    assert(!plan.contains("Join") && !plan.contains("Window") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("temperature-sample thresholds join via broadcast, not shuffle") {
    val s = spark
    import s.implicits._
    val df = (0L until 500L).map(i => (i, s"k${i % 7}")).toDF("id", "key")
    val plan = executedString(
      graft.operators.TextOps.temperatureSample(df, "key", "id"))
    // the per-key threshold frame is key-cardinality-sized metadata; the
    // corpus itself must never shuffle for this join
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"), plan)
  }

  test("AQE skew-join splits a genuinely hot interval bin") {
    // chromosome-level skew is absorbed by the (chrom, bin) shuffle key
    // (benched as x14_interval_skew ≈ q14); this pins the safety net
    // BELOW the binning: when one bin itself is hot, AQE must split
    // that shuffle partition instead of leaving a straggler task. Skew
    // thresholds are lowered to test scale and restored after.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k =>
      k -> scala.util.Try(Option(s.conf.get(k))).toOption.flatten).toMap
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      s.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // one hot (chrom, bin): 5000 left intervals and 40 right intervals
      // inside bin 0 of chrU; a sprinkle of spread rows sets the median
      val left = ((0L until 5000L).map(i => (i, "chrU", 10L, 20L)) ++
        (0L until 200L).map(i => (10000L + i, s"chr${i % 4}",
          i * 1000L, i * 1000L + 50L)))
        .toDF("a_id", "chrom", "a_start", "a_end")
      val right = ((0L until 40L).map(i => (i, "chrU", 5L, 25L)) ++
        (0L until 200L).map(i => (1000L + i, s"chr${i % 4}",
          i * 1000L, i * 1000L + 50L)))
        .toDF("b_id", "b_chrom", "b_start", "b_end")
      val joined = graft.operators.IntervalJoin.overlapJoin(left, right,
        leftCols = ("chrom", "a_start", "a_end"),
        rightCols = ("b_chrom", "b_start", "b_end"), binSize = 1000L)
      val plan = executedString(joined)
      assert(plan.contains("skew=true"),
        s"AQE did not split the hot bin:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("slop/flank/shift are narrow: no Exchange in any plan") {
    val s = spark
    import s.implicits._
    val iv = (1L to 500L).map(i => (s"chr${i % 4}", i * 7L, i * 7L + 30L))
      .toDF("chrom", "start", "end")
    val sizes = (0 to 3).map(i => (s"chr$i", 5000L)).toDF("chrom", "size")
    import graft.operators.IntervalOps
    Seq(
      IntervalOps.slop(iv, both = 10L, chromSizes = Some(sizes)),
      IntervalOps.flank(iv, left = 5L, right = 5L,
        chromSizes = Some(sizes)),
      IntervalOps.shift(iv, -25L, chromSizes = Some(sizes)))
      .foreach { out =>
        val plan = executedString(out)
        // the sizes lookup must ride a BroadcastExchange, never a
        // shuffle: these are per-row projections at 100 TB
        assert(!plan.contains("ShuffleExchange") &&
          !plan.contains("Exchange hashpartitioning") &&
          !plan.contains("Exchange rangepartitioning"), plan)
      }
  }

  test("mapOverlaps aggregates per A id with no window or cartesian") {
    val s = spark
    import s.implicits._
    val a = (1L to 300L).map(i => (i, s"chr${i % 3}", i * 11L, i * 11L + 40L))
      .toDF("aid", "chrom", "start", "end")
    val b = (1L to 400L).map(i => (s"chr${i % 3}", i * 9L, i * 9L + 25L, i))
      .toDF("chrom", "start", "end", "v")
    val out = graft.operators.IntervalOps.mapOverlaps(a, b, "aid", "v")
    val plan = executedString(out)
    // a Window here would mean per-contig serialization crept in; a
    // CartesianProduct would mean the binned join degenerated
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"),
      plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("multiinter never routes a contig through one window task") {
    val s = spark
    import s.implicits._
    // single-contig load: the per-chromosome window formulation would
    // put EVERYTHING in one task; the two-pass sweep range-partitions
    val df = (1L to 2000L).map(i =>
      (s"s${i % 3}", "chrOnly", i * 3L, i * 3L + 50L))
      .toDF("set", "chrom", "start", "end")
    val out = graft.operators.IntervalOps.multiinter(df, partitions = 8)
    val plan = executedString(out)
    assert(!plan.contains("Window"), plan)
    assertSweepPlan(plan)
    // the sweep is planned as RangeSweep over the range shuffle; also
    // pin the OBSERVABLE property: the single contig's segments occupy
    // most of the requested partitions instead of one window task
    val nonEmpty = out.rdd
      .mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0))
      .collect().sum
    assert(nonEmpty >= 4, s"segments funneled into $nonEmpty partitions")
    assert(out.count() > 0)
  }

  test("mergeIntervalsRange never routes a contig through one window task") {
    val s = spark
    import s.implicits._
    // the r17 soft spot: a SPARSE no-overlap single-contig input keeps
    // runs ≈ rows, and the old per-chromosome windowMerge tail put the
    // whole contig in one task. The boundary handoff must show NO
    // Window node and spread the surviving groups across partitions.
    val df = (1L to 3000L).map(i => ("chrOnly", i * 100L, i * 100L + 10L))
      .toDF("chrom", "start", "end")
    val out = graft.operators.IntervalOps.mergeIntervalsRange(df,
      partitions = 8)
    val plan = executedString(out)
    assert(!plan.contains("Window"), plan)
    assertSweepPlan(plan)
    // the sweep is planned as RangeSweep over the range shuffle; also
    // pin the OBSERVABLE property: the single contig's merged groups
    // occupy most of the requested partitions
    val nonEmpty = out.rdd
      .mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0))
      .collect().sum
    assert(nonEmpty >= 4, s"groups funneled into $nonEmpty partitions")
    assert(out.count() == 3000L) // no-overlap: every row survives
  }

  /** The sweep is a named Catalyst operator over a planner-owned range
    * exchange, not an RDD re-wrapped as a scan. */
  private def assertSweepPlan(plan: String): Unit = {
    assert(plan.contains("RangeSweep"), plan)
    assert(plan.contains("Exchange rangepartitioning"), plan)
    assert(!plan.contains("ExistingRDD"), plan)
  }

  test("range sweeps run no job until an action") {
    val s = spark
    import s.implicits._
    val df = (1L to 500L).map(i => (s"chr${i % 2}", i * 10L, i * 10L + 25L,
      if (i % 3 == 0) Some(i) else None))
      .toDF("chrom", "start", "end", "v")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = "sweep-laziness-marker"
    @volatile var markerSeen = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == marker))
          markerSeen = true
        else if (!markerSeen) jobs.incrementAndGet()
    }
    s.sparkContext.addSparkListener(listener)
    try {
      val built = Seq(
        graft.operators.IntervalOps.coverage(df, partitions = 4),
        graft.operators.IntervalOps.mergeIntervalsRange(df, partitions = 4),
        graft.operators.RangeFill.fill(df, "chrom", "v",
          Seq(org.apache.spark.sql.functions.col("start").asc), 4))
      // the listener bus delivers events in order: once the marker
      // job's start arrives, every job started while building has too
      s.sparkContext.setJobDescription(marker)
      try s.sparkContext.parallelize(Seq(1), 1).count()
      finally s.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "the marker job never reached the listener")
      assert(jobs.get() == 0,
        s"building the sweep frames started ${jobs.get()} Spark jobs")
      built.foreach(f => assert(f.count() > 0))
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("RangeSweep reports rows in and out after an action") {
    val s = spark
    import s.implicits._
    import graft.operators.{AsofJoin, IntervalOps}
    val a = (1L to 300L).map(i => (i, s"chr${i % 2}", i * 40L, i * 40L + 30L))
      .toDF("aid", "chrom", "start", "end")
    val b = (1L to 100L).map(i => (i, s"chr${i % 2}", i * 97L, i * 97L + 15L))
      .toDF("bid", "chrom", "start", "end")
    val probes = (1L to 200L).map(i => (i % 5, i * 7L, i)).toDF("k", "t", "pid")
    val refs = (1L to 80L).map(i => (i % 5, i * 11L, i * 100L))
      .toDF("rk", "rt", "payload")
    val cases = Seq(
      "coverage" -> IntervalOps.coverage(a),
      "mergeIntervalsRange" -> IntervalOps.mergeIntervalsRange(a),
      "multiinter" -> IntervalOps.multiinter(
        a.withColumn("set", ($"aid" % 3).cast("string"))),
      "closest" -> IntervalOps.closest(a, b, "aid", "bid"),
      "backwardRange" -> AsofJoin.backwardRange(probes, refs, "k", "rk",
        "t", "rt"))
    val helper =
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    cases.foreach { case (name, df) =>
      df.collect()
      val sweeps = helper.collect(df.queryExecution.executedPlan) {
        case p: org.apache.spark.sql.graftshim.RangeSweepExec => p
      }
      assert(sweeps.nonEmpty, s"$name: no RangeSweep in the executed plan")
      sweeps.foreach { p =>
        assert(p.metrics("numInputRows").value > 0, s"$name: rows in")
        assert(p.metrics("numOutputRows").value > 0, s"$name: rows out")
      }
    }
  }

  test("a sweep frame joins with itself") {
    val s = spark
    import s.implicits._
    val df = (1L to 200L).map(i => (s"chr${i % 2}", i * 10L, i * 10L + 25L,
      if (i % 3 == 0) Some(i) else None, i))
      .toDF("chrom", "start", "end", "v", "id")
    val f = graft.operators.RangeFill.fill(df, "chrom", "v",
      Seq(org.apache.spark.sql.functions.col("start").asc), 3)
    assert(f.as("x").join(f.as("y"), $"x.id" === $"y.id").count() == 200)
    val c = graft.operators.IntervalOps.coverage(df, partitions = 3)
    assert(c.join(c.withColumnRenamed("depth", "d2"),
      Seq("chrom", "start", "end")).count() == c.count())
  }

  test("decontamination joins stay hashed-gram equi-joins") {
    val s = spark
    import s.implicits._
    val docs = (1L to 120L).map(i =>
      (i, (1 to 20).map(j => s"t${(i * 7 + j) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps.decontaminate(
      docs.filter($"doc_id" % 10 =!= 0), docs.filter($"doc_id" % 10 === 0),
      "doc_id", "text")
    val plan = executedString(out)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    out.count() // must execute cleanly
  }
}
