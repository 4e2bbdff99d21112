package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkSuite

class IntervalOpsSpec extends SparkSuite {

  test("mergeIntervals: overlaps, book-ends, points, inverted rows") {
    val s = spark
    import s.implicits._
    val iv = Seq(
      // chr1: [10,50) overlaps [40,80); [80,90) book-ends (merges);
      // [95,95) is a point; [200,100) is inverted (point at 200)
      ("chr1", 10L, 50L),
      ("chr1", 40L, 80L),
      ("chr1", 80L, 90L),
      ("chr1", 95L, 95L),
      ("chr1", 200L, 100L),
      // chr2: disjoint singles
      ("chr2", 5L, 6L),
      ("chr2", 8L, 9L))
      .toDF("chrom", "start", "end")
    val got = IntervalOps.mergeIntervals(iv)
      .orderBy("chrom", "start")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      ("chr1", 10L, 90L, 3L),
      ("chr1", 95L, 95L, 1L),
      ("chr1", 200L, 200L, 1L),
      ("chr2", 5L, 6L, 1L),
      ("chr2", 8L, 9L, 1L)))
  }

  test("mergeIntervalsRange equals mergeIntervals, including single-contig") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    // heavy single-contig plus two light ones — the skew shape the
    // range variant exists for
    val iv = ((0 until 2000).map { _ =>
      val st = rnd.nextInt(50000).toLong
      ("chrBig", st, st + 1 + rnd.nextInt(60))
    } ++ (0 until 50).map { _ =>
      val st = rnd.nextInt(5000).toLong
      ("chrA", st, st + 1 + rnd.nextInt(40))
    } :+ (("chrB", 10L, 10L)))
      .toDF("chrom", "start", "end")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("chrom", "start").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val plain = canon(IntervalOps.mergeIntervals(iv))
    val ranged = canon(IntervalOps.mergeIntervalsRange(iv, partitions = 7))
    assert(ranged == plain)
    // and with a partition count that gives tiny partitions (boundary-
    // crossing runs everywhere)
    assert(canon(IntervalOps.mergeIntervalsRange(iv, partitions = 40)) ==
      plain)
    // schema parity: custom chrom name and integer coordinate types
    // survive the range path (it widens to long internally)
    import org.apache.spark.sql.functions.col
    val typedIv = ((1, 100, 200) :: (1, 150, 300) :: (2, 10, 20) :: Nil)
      .toDF("contig", "start", "end")
      .select(col("contig"), col("start").cast("int"),
        col("end").cast("int"))
    val a = IntervalOps.mergeIntervals(typedIv, chrom = "contig")
    val b = IntervalOps.mergeIntervalsRange(typedIv, chrom = "contig")
    // names and types must match (nullability may widen across the cast)
    assert(a.schema.map(f => (f.name, f.dataType)) ==
      b.schema.map(f => (f.name, f.dataType)), s"${a.schema} vs ${b.schema}")
    assert(b.orderBy("contig", "start").collect().toSeq ==
      a.orderBy("contig", "start").collect().toSeq)
  }

  test("null-coordinate rows drop identically from both merge variants") {
    val s = spark
    import s.implicits._
    val iv = Seq(
      (Option("chr1"), Option(10L), Option(100L)),
      (Option("chr1"), Option(50L), Option(150L)),
      (Option.empty[String], Option(10L), Option(20L)),
      (Option("chr1"), Option.empty[Long], Option(20L)),
      (Option("chr1"), Option(10L), Option.empty[Long]))
      .toDF("chrom", "start", "end")
    // the typed sweep (primitive Long tuples) used to crash on the
    // null rows while the window path processed them — both now share
    // the explicit drop
    val a = IntervalOps.mergeIntervals(iv).collect()
    val b = IntervalOps.mergeIntervalsRange(iv).collect()
    assert(a.length == 1 && b.length == 1)
    assert(a(0).getLong(1) == 10L && a(0).getLong(2) == 150L &&
      a(0).getLong(3) == 2L)
    assert(a(0).toSeq == b(0).toSeq)
  }

  test("mergeIntervals: merged set is disjoint and covers the input") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val iv = (0 until 500).map { _ =>
      val st = rnd.nextInt(10000).toLong
      ("chrX", st, st + 1 + rnd.nextInt(50))
    }.toDF("chrom", "start", "end")
    val merged = IntervalOps.mergeIntervals(iv)
      .orderBy("start").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // strictly separated (half-open: a gap of at least one base)
    merged.sliding(2).foreach {
      case Array((_, e1, _), (s2, _, _)) => assert(s2 > e1)
      case _ => ()
    }
    assert(merged.map(_._3).sum == 500) // every source row counted once
    // total covered length equals the length of the union set
    val covered = merged.map { case (s2, e2, _) => e2 - s2 }.sum
    val expected = {
      val points = scala.collection.mutable.Set.empty[Long]
      iv.collect().foreach { r =>
        (r.getLong(1) until math.max(r.getLong(2), r.getLong(1)))
          .foreach(points += _)
      }
      points.size.toLong
    }
    assert(covered == expected)
  }

  test("coverage: hand case — overlaps, gap, canceling point") {
    val s = spark
    import s.implicits._
    val iv = Seq(
      ("chr1", 0L, 10L), ("chr1", 5L, 15L), ("chr1", 20L, 30L),
      ("chr1", 12L, 12L), // point: +1/-1 cancel, no breakpoint
      ("chr2", 3L, 4L))
      .toDF("chrom", "start", "end")
    val got = IntervalOps.coverage(iv)
      .orderBy("chrom", "start")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .toSeq
    assert(got == Seq(
      ("chr1", 0L, 5L, 1L), ("chr1", 5L, 10L, 2L),
      ("chr1", 10L, 15L, 1L), ("chr1", 15L, 20L, 0L),
      ("chr1", 20L, 30L, 1L),
      ("chr2", 3L, 4L, 1L)))
  }

  test("coverage: partition boundaries never shift a segment") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(29)
    // strict intervals (start < end) so the naive reference's domain
    // [min start, max end) begins and ends on net breakpoints
    val rows = Seq.tabulate(300) { i =>
      val c = s"chr${i % 3}"
      val st = rnd.nextInt(100).toLong
      (c, st, st + 1 + rnd.nextInt(30))
    }
    val df = rows.toDF("chrom", "start", "end")
    // naive per-base reference: depth(pos) by direct counting, equal-
    // depth runs coalesced — independent of the breakpoint algebra
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (c, ivs) =>
        val lo = ivs.map(_._2).min
        val hi = ivs.map(_._3).max
        val depth = (lo until hi).map(p =>
          ivs.count(iv => iv._2 <= p && p < iv._3).toLong)
        val segs = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, Long, Long)]
        var runStart = lo
        var i = lo + 1
        while (i <= hi) {
          if (i == hi || depth((i - lo).toInt) !=
              depth((runStart - lo).toInt)) {
            segs += ((c, runStart, i, depth((runStart - lo).toInt)))
            runStart = i
          }
          i += 1
        }
        segs
    }
    // many tiny partitions force chromosome runs across boundaries —
    // the offset seeding and terminator closing must both be exact
    for (parts <- Seq(1, 7)) {
      val got = IntervalOps.coverage(df, partitions = parts)
        .orderBy("chrom", "start")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
        .toSeq
      assert(got == expected, s"partitions=$parts")
    }
  }

  test("complement equals coverage's depth-0 gaps and mergeIntervals' " +
      "holes") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val iv = Seq.tabulate(200) { i =>
      val st = rnd.nextInt(300).toLong
      (s"chr${i % 2}", st, st + 1 + rnd.nextInt(25))
    }.toDF("chrom", "start", "end")
    val gaps = IntervalOps.complement(iv)
      .orderBy("chrom", "start")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(gaps.nonEmpty) // the random corpus must exercise the path
    // independent reference: the holes BETWEEN consecutive merged
    // intervals of the same chromosome
    val merged = IntervalOps.mergeIntervals(iv)
      .orderBy("chrom", "start")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val holes = merged.sliding(2).collect {
      case Seq((c1, _, e1), (c2, s2, _)) if c1 == c2 => (c1, e1, s2)
    }.toSeq
    assert(gaps == holes)
  }

  test("complement with chromSizes: head/tail/whole-chromosome gaps") {
    val s = spark
    import s.implicits._
    val iv = Seq(
      ("chr1", 10L, 20L), ("chr1", 30L, 40L), // head 0-10, mid 20-30, tail 40-100
      ("chr2", 0L, 50L), // covers its whole declared span: no boundary gaps
      ("chr3", 5L, 200L), // extends BEYOND its size: tail omitted, head kept
      ("chrX", 7L, 9L)) // not declared in sizes: interior contract only
      .toDF("chrom", "start", "end")
    val sizes = Seq(("chr1", 100L), ("chr2", 50L), ("chr3", 60L),
      ("chrM", 16L), // declared, no data -> whole [0,16)
      ("chrBad", 0L)) // non-positive size drops
      .toDF("chrom", "size")
    val got = IntervalOps.complement(iv, chromSizes = Some(sizes))
      .orderBy("chrom", "start")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == Seq(
      ("chr1", 0L, 10L), ("chr1", 20L, 30L), ("chr1", 40L, 100L),
      ("chr3", 0L, 5L),
      ("chrM", 0L, 16L)))
    // the whole-chromosome branch is a left-anti join, which can build
    // only its right side: that side carries the broadcast hint and is
    // the one built
    val withSizes = IntervalOps.complement(iv, chromSizes = Some(sizes))
    val antiHints = withSizes.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
        j.hint
    }
    assert(antiHints.map(h => (h.leftHint.flatMap(_.strategy),
      h.rightHint.flatMap(_.strategy))) == Seq((None,
      Some(org.apache.spark.sql.catalyst.plans.logical.BROADCAST))),
      antiHints)
    withSizes.collect()
    val anti = new org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanHelper {}.collect(
        withSizes.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(anti.map(_.nodeName) == Seq("BroadcastHashJoin"), anti)
    assert(anti.head.asInstanceOf[org.apache.spark.sql.execution.joins
      .BroadcastHashJoinExec].buildSide ==
      org.apache.spark.sql.catalyst.optimizer.BuildRight)
    // and the sizes-free call still returns only the interior gaps
    val bare = IntervalOps.complement(iv)
      .orderBy("chrom", "start")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(bare == Seq(("chr1", 20L, 30L)))
    // a chromosome whose rows are ALL degenerate points has no NET
    // coverage: it counts as uncovered and emits its whole declared
    // gap in the canonical maximal form (one row, not split at the
    // point) — the boundary spans derive from coverage's own segments,
    // not a second raw-input scan
    val pts = Seq(("chrP", 5L, 5L), ("chrP", 9L, 3L))
      .toDF("chrom", "start", "end")
    val gotP = IntervalOps.complement(pts,
        chromSizes = Some(Seq(("chrP", 20L)).toDF("chrom", "size")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(gotP == Seq(("chrP", 0L, 20L)))
  }

  test("complement composes with a real file's own chrom-sizes metadata") {
    val s = spark
    import org.apache.spark.sql.functions.col
    // a BAM whose HEADER declares chr1:1000/chr2:500/chrM:16 — the same
    // metadata GraftTableProps surfaces as the chrom_sizes property —
    // with reads leaving a head gap on chr1, a mid gap, a tail gap on
    // both covered chromosomes, and chrM unread
    val dir = java.nio.file.Files.createTempDirectory("graft-csizes")
    val bam = dir.resolve("c.bam").toString
    graft.fixtures.BamFixture.write(bam,
      Seq(("chr1", 1000), ("chr2", 500), ("chrM", 16)),
      Seq(
        graft.fixtures.BamFixture.Rec("a", 0, 0, 10, 30,
          Seq((20, 'M')), "A" * 20, null),
        graft.fixtures.BamFixture.Rec("b", 0, 0, 50, 30,
          Seq((10, 'M')), "A" * 10, null),
        graft.fixtures.BamFixture.Rec("c", 0, 1, 0, 30,
          Seq((100, 'M')), "A" * 100, null)))
    val sizes = IntervalOps.chromSizes(s, bam)
    assert(sizes.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("chr1", 1000L), ("chr2", 500L), ("chrM", 16L)))
    // the scanner emits SAM-convention 1-based pos and inclusive end;
    // shift to 0-based half-open for the interval algebra
    val reads = s.read.format("bam").load(bam)
      .where(col("rname").isNotNull)
      .select(col("rname").as("chrom"),
        (col("pos") - 1L).as("start"), col("end"))
    val got = IntervalOps.complement(reads, chromSizes = Some(sizes))
      .orderBy("chrom", "start")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == Seq(
      ("chr1", 0L, 10L), ("chr1", 30L, 50L), ("chr1", 60L, 1000L),
      ("chr2", 100L, 500L),
      ("chrM", 0L, 16L)))
  }

  test("subtract: split, swallow, untouched, book-ends, per-base ref") {
    val s = spark
    import s.implicits._
    val a = Seq(
      (1L, "chr1", 0L, 30L), // b covers [10,20) -> splits in two
      (2L, "chr1", 12L, 18L), // fully inside b -> vanishes
      (3L, "chr1", 40L, 50L), // no overlap -> unchanged
      (4L, "chr1", 20L, 25L), // book-ends b's end (half-open) -> whole
      (5L, "chr2", 0L, 5L)) // no B on chr2 -> unchanged
      .toDF("aid", "chrom", "start", "end")
    val b = Seq(("chr1", 10L, 15L), ("chr1", 14L, 20L)) // merge first
      .toDF("chrom", "start", "end")
    val got = IntervalOps.subtract(a, b, "aid")
      .orderBy("aid", "start")
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq((1L, 0L, 10L), (1L, 20L, 30L), (3L, 40L, 50L),
      (4L, 20L, 25L), (5L, 0L, 5L)))
    // zero-length B rows cover no bases and must not split A: a point
    // [5,5) and an inverted row (clamping to a point at 8) both land
    // strictly inside A=[0,10), where the strict overlap predicate
    // would match the surviving [p,p) segment and emit [0,p)+[p,10)
    val aPt = Seq((1L, "chr1", 0L, 10L)).toDF("aid", "chrom", "start", "end")
    val bPt = Seq(("chr1", 5L, 5L), ("chr1", 8L, 3L))
      .toDF("chrom", "start", "end")
    val gotPt = IntervalOps.subtract(aPt, bPt, "aid")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(gotPt == Seq((1L, 0L, 10L)))
    // randomized per-base reference
    val rnd = new scala.util.Random(53)
    val aR = Seq.tabulate(120) { i =>
      val st = rnd.nextInt(200).toLong
      (i.toLong, s"chr${i % 2}", st, st + 1 + rnd.nextInt(30))
    }
    val bR = Seq.tabulate(50) { i =>
      val st = rnd.nextInt(200).toLong
      (s"chr${i % 2}", st, st + 1 + rnd.nextInt(15))
    }
    val naive = aR.flatMap { case (aid, c, as, ae) =>
      val covered = (p: Long) =>
        bR.exists(bv => bv._1 == c && bv._2 <= p && p < bv._3)
      val alive = (as until ae).filterNot(covered)
      // coalesce consecutive survivors into intervals
      val segs = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long)]
      alive.foreach { p =>
        if (segs.nonEmpty && segs.last._3 == p) {
          val (i0, s0, _) = segs.remove(segs.length - 1)
          segs += ((i0, s0, p + 1))
        } else segs += ((aid, p, p + 1))
      }
      segs
    }.sortBy(x => (x._1, x._2))
    val gotR = IntervalOps.subtract(
        aR.toDF("aid", "chrom", "start", "end"),
        bR.toDF("chrom", "start", "end"), "aid")
      .orderBy("aid", "start")
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(gotR == naive)
  }

  test("closest: overlap, touch, gaps, equidistant tie, empty chrom") {
    val s = spark
    import s.implicits._
    val a = Seq(
      (1L, "chr1", 12L, 15L), // inside b1
      (2L, "chr1", 15L, 35L), // overlaps b1 AND b2 -> min start wins
      (3L, "chr1", 20L, 30L), // touches b1's end and b2's start -> b1
      (4L, "chr1", 50L, 60L), // gap: b2 at 10, b3 at 40 -> b2
      (5L, "chr1", 70L, 95L), // gap: b2 at 30, b3 at 5 -> b3
      (6L, "chr1", 44L, 96L), // equidistant (4 both sides) -> b2
      (7L, "chr2", 1L, 2L)) // no B on chr2 -> nulls
      .toDF("aid", "chrom", "start", "end")
    val b = Seq(
      (1L, "chr1", 10L, 20L), (2L, "chr1", 30L, 40L),
      (3L, "chr1", 100L, 110L))
      .toDF("bid", "chrom", "start", "end")
    val got = IntervalOps.closest(a, b, "aid", "bid")
      .orderBy("aid")
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(7)) None else Some(r.getLong(7))))
      .toSeq
    assert(got == Seq(
      (1L, Some(1L), Some(0L)), (2L, Some(1L), Some(0L)),
      (3L, Some(1L), Some(0L)), (4L, Some(2L), Some(10L)),
      (5L, Some(3L), Some(5L)), (6L, Some(2L), Some(4L)),
      (7L, None, None)))
  }

  test("closest matches the naive all-pairs argmin on random data") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(47)
    val aRows = Seq.tabulate(150) { i =>
      val st = rnd.nextInt(200).toLong
      (i.toLong, s"chr${i % 3}", st, st + 1 + rnd.nextInt(20))
    }
    val bRows = Seq.tabulate(60) { i =>
      val st = rnd.nextInt(200).toLong
      // chr2 gets no B rows: the no-candidate path must appear
      (i.toLong, s"chr${i % 2}", st, st + 1 + rnd.nextInt(20))
    }
    val naive = aRows.map { case (aid, c, as, ae) =>
      val cands = bRows.filter(_._2 == c).map { case (bid, _, bs, be) =>
        val d = if (as < be && bs < ae) 0L
          else if (be <= as) as - be else bs - ae
        (d, bs, bid)
      }
      aid -> (if (cands.isEmpty) None else Some(cands.min))
    }.toMap
    val got = IntervalOps.closest(
        aRows.toDF("aid", "chrom", "start", "end"),
        bRows.toDF("bid", "chrom", "start", "end"), "aid", "bid")
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) None
         else Some((r.getLong(7), r.getLong(5), r.getLong(4)))))
      .toMap
    assert(got == naive)
  }

  test("closest: single-contig-heavy load is exact at every partition " +
      "count") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(67)
    // 95% of BOTH sides on one chromosome — the skew shape the
    // RangeFill sweeps exist for; equal positions, duplicate B
    // intervals, and a candidate-less chromosome all appear
    val aRows = Seq.tabulate(400) { i =>
      val c = if (i % 20 < 19) "chrBig" else s"chr${i % 3}"
      val st = rnd.nextInt(3000).toLong
      (i.toLong, c, st, st + 1 + rnd.nextInt(40))
    } :+ ((400L, "chrEmpty", 5L, 9L))
    val bRows = Seq.tabulate(200) { i =>
      val c = if (i % 20 < 19) "chrBig" else s"chr${i % 2}"
      val st = rnd.nextInt(3000).toLong
      (i.toLong, c, st, st + 1 + rnd.nextInt(40))
    }
    val naive = aRows.map { case (aid, c, as, ae) =>
      val cands = bRows.filter(_._2 == c).map { case (bid, _, bs, be) =>
        val d = if (as < be && bs < ae) 0L
          else if (be <= as) as - be else bs - ae
        (d, bs, bid)
      }
      aid -> (if (cands.isEmpty) None else Some(cands.min))
    }.toMap
    val a = aRows.toDF("aid", "chrom", "start", "end")
    val b = bRows.toDF("bid", "chrom", "start", "end")
    for (parts <- Seq(1, 7, 40)) {
      val got = IntervalOps.closest(a, b, "aid", "bid",
          partitions = parts)
        .collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(4)) None
           else Some((r.getLong(7), r.getLong(5), r.getLong(4)))))
        .toMap
      assert(got == naive, s"partitions=$parts")
    }
  }

  test("closestK: top-k matches the naive ranking at every partition " +
      "count") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(83)
    // heavy single contig, zero-length rows on BOTH sides (the
    // double-report corner), a candidate-less chromosome
    val aRows = Seq.tabulate(200) { i =>
      val c = if (i % 10 < 8) "chrBig" else s"chr${i % 3}"
      val st = rnd.nextInt(2000).toLong
      val len = if (i % 17 == 0) 0 else 1 + rnd.nextInt(40)
      (i.toLong, c, st, st + len)
    } :+ ((200L, "chrEmpty", 5L, 9L))
    val bRows = Seq.tabulate(120) { i =>
      val c = if (i % 10 < 8) "chrBig" else s"chr${i % 2}"
      val st = rnd.nextInt(2000).toLong
      val len = if (i % 13 == 0) 0 else 1 + rnd.nextInt(40)
      (i.toLong, c, st, st + len)
    }
    val k = 3
    def d(as: Long, ae: Long, bs: Long, be: Long): Long =
      if (as < be && bs < ae) 0L else if (be <= as) as - be else bs - ae
    val naive: Map[Long, Seq[(Long, Long, Long)]] = aRows.map {
      case (aid, c, as, ae) =>
        aid -> bRows.filter(_._2 == c)
          .map { case (bid, _, bs, be) => (d(as, ae, bs, be), bs, bid) }
          .sorted.take(k)
    }.toMap
    val a = aRows.toDF("aid", "chrom", "start", "end")
    val b = bRows.toDF("bid", "chrom", "start", "end")
    for (parts <- Seq(1, 6, 32)) {
      val gotMap = IntervalOps.closestK(a, b, "aid", "bid", k,
          partitions = parts)
        .collect()
        .groupBy(_.getLong(0)).map { case (aid, rs) =>
          aid -> rs.filter(!_.isNullAt(4)).sortBy(_.getLong(9))
            .map(r => (r.getLong(7), r.getLong(5), r.getLong(4))).toSeq
        }
      assert(gotMap == naive, s"partitions=$parts")
    }
  }

  test("closestK: the both-zero-length corner reports the B once; " +
      "ranks are 1..n; misses keep one null row") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, "c", 10L, 10L), (2L, "cEmpty", 1L, 5L))
      .toDF("aid", "chrom", "start", "end")
    val b = Seq((5L, "c", 10L, 10L), (6L, "c", 30L, 40L))
      .toDF("bid", "chrom", "start", "end")
    val got = IntervalOps.closestK(a, b, "aid", "bid", 3)
      .orderBy("aid", "rank").collect()
    // aid 1: the zero-length B book-ended at the zero-length A point
    // is a candidate ONCE (d 0), then bid 6 at distance 20
    assert(got.length == 3)
    assert((got(0).getLong(0), got(0).getLong(4), got(0).getLong(7),
      got(0).getLong(8), got(0).getLong(9)) == (1L, 5L, 0L, 0L, 1L))
    assert((got(1).getLong(0), got(1).getLong(4), got(1).getLong(7),
      got(1).getLong(8), got(1).getLong(9)) == (1L, 6L, 20L, 20L, 2L))
    assert(got(2).getLong(0) == 2L && got(2).isNullAt(4) &&
      got(2).isNullAt(9))
  }

  test("closestK composes with strand matching: Same keys the " +
      "k-deep timeline") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, "c", 100L, 110L, "+"))
      .toDF("aid", "chrom", "start", "end", "strand")
    // a NEARER opposite-strand B must lose to the same-strand ones
    val b = Seq((5L, "c", 120L, 130L, "-"), (6L, "c", 200L, 210L, "+"),
      (7L, "c", 300L, 310L, "+"), (8L, "c", 400L, 410L, "+"))
      .toDF("bid", "chrom", "start", "end", "strand")
    val got = IntervalOps.closestK(a, b, "aid", "bid", 2,
        strand = Strandedness.Same())
      .orderBy("rank").collect()
      .map(r => (r.getLong(4), r.getLong(7), r.getLong(9)))
    assert(got.toSeq == Seq((6L, 90L, 1L), (7L, 190L, 2L)))
  }

  test("closestK plan: no all-pairs CartesianProduct at any option " +
      "combo (the only nested-loop joins are the one-row broadcast " +
      "flags)") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, "c", 10L, 20L, "+"), (2L, "c", 50L, 60L, "-"))
      .toDF("aid", "chrom", "start", "end", "strand")
    val b = Seq((7L, "c", 30L, 40L, "-"), (8L, "c", 70L, 90L, "+"))
      .toDF("bid", "chrom", "start", "end", "strand")
    for (opts <- Seq(ClosestOptions(),
        ClosestOptions(signed = true, ignoreOverlaps = true),
        ClosestOptions(signed = true, ignoreDownstream = true,
          distanceMode = DistanceMode.RespectB()))) {
      val df = IntervalOps.closestK(a, b, "aid", "bid", 3, opts = opts)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$opts\n$plan")
    }
  }

  test("closest/closestAll/closestK options: -io/-iu/-id/-D match " +
      "the naive filtered argmin") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(89)
    def strandOf(i: Long): String =
      if (i % 3 == 0) "+" else if (i % 3 == 1) "-" else "."
    val aRows = Seq.tabulate(150) { i =>
      val st = rnd.nextInt(1500).toLong
      (i.toLong, s"chr${i % 3}", st, st + 1 + rnd.nextInt(40),
        strandOf(i.toLong))
    }
    val bRows = Seq.tabulate(80) { i =>
      val st = rnd.nextInt(1500).toLong
      (i.toLong, s"chr${i % 2}", st, st + 1 + rnd.nextInt(40),
        strandOf(i.toLong))
    }
    def d(as: Long, ae: Long, bs: Long, be: Long): Long =
      if (as < be && bs < ae) 0L else if (be <= as) as - be else bs - ae
    // naive model: filtered candidate list under an option set
    def naive(io: Boolean, iu: Boolean, id: Boolean, mode: String)
        : Map[Long, Seq[(Long, Long, Long, Long)]] = aRows.map {
      case (aid, c, as, ae, astr) =>
        aid -> bRows.filter(_._2 == c).flatMap {
          case (bid, _, bs, be, bstr) =>
            val dd = d(as, ae, bs, be)
            val refSgn =
              if (dd == 0) 0L else if (be <= as) -1L else 1L
            val flip = mode match {
              case "a" => if (astr == "-") -1L else 1L
              case "b" => if (bstr == "-") -1L else 1L
              case _ => 1L
            }
            val eff = refSgn * flip
            val strictOv = as < be && bs < ae
            if ((io && strictOv) || (iu && eff < 0) || (id && eff > 0))
              None
            else Some((dd, bs, bid, eff * dd))
        }.sorted
    }.toMap
    val a = aRows.toDF("aid", "chrom", "start", "end", "strand")
    val b = bRows.toDF("bid", "chrom", "start", "end", "strand")
    val combos = Seq(
      ("io ref", ClosestOptions(signed = true, ignoreOverlaps = true),
        (true, false, false, "ref")),
      ("iu -D a", ClosestOptions(signed = true,
        distanceMode = DistanceMode.RespectA(),
        ignoreUpstream = true), (false, true, false, "a")),
      ("id -D b", ClosestOptions(signed = true,
        distanceMode = DistanceMode.RespectB(),
        ignoreDownstream = true), (false, false, true, "b")),
      ("iu -D b", ClosestOptions(signed = true,
        distanceMode = DistanceMode.RespectB(),
        ignoreUpstream = true), (false, true, false, "b")))
    for (((label, opts, (io, iu, id, mode))) <- combos) {
      val want = naive(io, iu, id, mode)
      // closest: the argmin of the filtered set, with flipped sign
      val gotOne = IntervalOps.closest(a, b, "aid", "bid", opts = opts)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(4)) None
           else Some((r.getLong(7), r.getLong(5), r.getLong(4),
             r.getLong(8))))).toMap
      assert(gotOne == want.map { case (aid, cs) =>
        aid -> cs.headOption }, s"closest $label")
      // closestAll: every filtered tie at the min distance
      val gotAll = IntervalOps.closestAll(a, b, "aid", "bid",
          opts = opts)
        .collect().groupBy(_.getLong(0)).map { case (aid, rs) =>
          aid -> rs.filter(!_.isNullAt(4))
            .map(r => (r.getLong(7), r.getLong(5), r.getLong(4),
              r.getLong(8))).toSet
        }
      assert(gotAll == want.map { case (aid, cs) =>
        aid -> cs.headOption.map(h =>
          cs.takeWhile(_._1 == h._1).toSet).getOrElse(Set.empty)
      }, s"closestAll $label")
      // closestK: the top-2 of the filtered set
      val gotK = IntervalOps.closestK(a, b, "aid", "bid", 2,
          opts = opts)
        .collect().groupBy(_.getLong(0)).map { case (aid, rs) =>
          aid -> rs.filter(!_.isNullAt(4)).sortBy(_.getLong(9))
            .map(r => (r.getLong(7), r.getLong(5), r.getLong(4),
              r.getLong(8))).toSeq
        }
      assert(gotK == want.map { case (aid, cs) =>
        aid -> cs.take(2) }, s"closestK $label")
    }
  }

  test("-split: block-aware intersect/map/coverage count block bases " +
      "only and each B once") {
    val s = spark
    import s.implicits._
    // aid 1: blocks [100,120) + [160,200) (gap 120..160), blen 60
    // aid 2: null arrays -> whole-interval fallback, blen 100
    // aid 3: unequal arrays -> only the (0,10) pair survives, blen 10
    // aid 4: one zero-length block -> no join rows, blen 0
    val a = Seq(
      (1L, "chr1", 100L, 200L, Some(Seq(0L, 60L)), Some(Seq(20L, 40L))),
      (2L, "chr1", 300L, 400L, None, None),
      (3L, "chr1", 500L, 560L, Some(Seq(0L, 40L)), Some(Seq(10L))),
      (4L, "chr2", 10L, 50L, Some(Seq(0L)), Some(Seq(0L))))
      .toDF("aid", "chrom", "start", "end", "bst", "bsz")
    // bid 10 spans BOTH of aid 1's blocks (counts once, ovl 10+10);
    // bid 11 sits wholly in the block gap (no -split overlap at all)
    val b = Seq(
      (10L, "chr1", 110L, 170L), (11L, "chr1", 130L, 150L),
      (12L, "chr1", 390L, 420L), (13L, "chr1", 505L, 540L),
      (14L, "chr2", 0L, 100L))
      .toDF("bid", "chrom", "start", "end")
    // intersectJoin -split -f 0.3 wao: pair ovl sums block clips and
    // the fraction measures against BLOCK bases
    val ij = IntervalOps.intersectJoin(a, b, "aid", "bid",
        minOverlapFracA = 0.3, mode = "wao",
        blockStarts = "bst", blockSizes = "bsz")
      .orderBy("aid").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(7)) None else Some(r.getLong(7))))
    // aid 1: 20 >= 18 qualifies; aid 2: 10 < 30 fails -> miss 0;
    // aid 3: 5 >= 3; aid 4: no block rows -> miss 0
    assert(ij.toSeq == Seq((1L, Some(10L), Some(20L)),
      (2L, None, Some(0L)), (3L, Some(13L), Some(5L)),
      (4L, None, Some(0L))))
    // mapOverlaps -split: B 10 aggregates ONCE despite two blocks;
    // gap-only B 11 never matches
    val mo = IntervalOps.mapOverlaps(a, b.withColumn("v", col("bid")),
        "aid", "v", blockStarts = "bst", blockSizes = "bsz")
      .orderBy("aid").collect()
      .map(r => (r.getLong(0), r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5)))
    assert(mo.toSeq == Seq((1L, 1L, 10L), (2L, 1L, 12L),
      (3L, 1L, 13L), (4L, 0L, -1L)))
    // coverageBy -split: covered bases clip against blocks, a_len is
    // the BLOCK total, zero-block rows keep null fraction
    val cb = IntervalOps.coverageBy(a, b, "aid",
        blockStarts = "bst", blockSizes = "bsz")
      .orderBy("aid").collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getDouble(7))))
    assert(cb.toSeq == Seq(
      (1L, 1L, 20L, 60L, Some(20.0 / 60.0)),
      (2L, 1L, 10L, 100L, Some(0.1)),
      (3L, 1L, 5L, 10L, Some(0.5)),
      (4L, 0L, 0L, 0L, None)))
    // explodeBlocks itself: block rows + fallback row shapes
    val ex = IntervalOps.explodeBlocks(a, blockStarts = "bst",
        blockSizes = "bsz")
      .select("aid", "blk_index", "blk_start", "blk_end", "blk_total")
      .orderBy("aid", "blk_index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(ex.toSeq == Seq(
      (1L, 0, 100L, 120L, 60L), (1L, 1, 160L, 200L, 60L),
      (2L, -1, 300L, 400L, 100L),
      (3L, 0, 500L, 510L, 10L),
      (4L, 0, 10L, 10L, 0L)))
  }

  test("explodeBlocks: negative block lengths are malformed, not " +
      "subtracted from blk_total") {
    val s = spark
    import s.implicits._
    val a = Seq(
      // one valid block + one negative-length block: the negative
      // pair drops, blk_total = the valid block's 10 (the old code
      // summed 10 + (-5) = 5, overstating -split fractions)
      (1L, "chr1", 100L, 200L, Seq(0L, 20L), Seq(10L, -5L)),
      // ALL pairs negative -> no valid pair -> whole-interval fallback
      (2L, "chr1", 300L, 400L, Seq(0L), Seq(-1L)))
      .toDF("aid", "chrom", "start", "end", "bst", "bsz")
    val ex = IntervalOps.explodeBlocks(a, blockStarts = "bst",
        blockSizes = "bsz")
      .select("aid", "blk_index", "blk_start", "blk_end", "blk_total")
      .orderBy("aid", "blk_index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(ex.toSeq == Seq(
      (1L, 0, 100L, 110L, 10L),
      (2L, -1, 300L, 400L, 100L)))
  }

  test("-split intersect/map/coverage match a naive block model on " +
      "random data") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(97)
    // random BED12-ish rows: alternating covered/gap blocks of a
    // random per-row size; every 4th row has null arrays (fallback)
    case class ARow(aid: Long, chrom: String, start: Long, end: Long,
      bst: Option[Seq[Long]], bsz: Option[Seq[Long]])
    val aRows = Seq.tabulate(80) { i =>
      val st = rnd.nextInt(800).toLong
      val len = (10 + rnd.nextInt(51)).toLong
      if (i % 4 == 0)
        ARow(i.toLong, s"chr${i % 3}", st, st + len, None, None)
      else {
        val nb = 1 + rnd.nextInt(3)
        val bsz = math.max(1L, len / (2 * nb))
        ARow(i.toLong, s"chr${i % 3}", st, st + len,
          Some(Seq.tabulate(nb)(j => j * 2L * bsz)),
          Some(Seq.fill(nb)(bsz)))
      }
    }
    val bRows = Seq.tabulate(60) { i =>
      val st = rnd.nextInt(900).toLong
      (i.toLong, s"chr${i % 2}", st, st + 1 + rnd.nextInt(40))
    }
    // naive model: absolute blocks (whole interval on fallback rows)
    def blocksOf(a: ARow): Seq[(Long, Long)] = (a.bst, a.bsz) match {
      case (Some(os), Some(ls)) =>
        os.zip(ls).map { case (o, l) => (a.start + o, a.start + o + l) }
      case _ => Seq((a.start, a.end))
    }
    def clip(ks: Long, ke: Long, bs: Long, be: Long): Long =
      math.max(0L, math.min(ke, be) - math.max(ks, bs))
    val naivePairs = for {
      a <- aRows
      (bid, bc, bs, be) <- bRows if bc == a.chrom
      ovl = blocksOf(a).map { case (ks, ke) => clip(ks, ke, bs, be) }.sum
      if blocksOf(a).exists { case (ks, ke) =>
        ks < ke && ks < be && bs < ke }
    } yield (a.aid, bid, bs, be, ovl)
    val blenOf = aRows.map(a => a.aid ->
      blocksOf(a).map { case (ks, ke) => ke - ks }.sum).toMap
    val a = aRows.map(r => (r.aid, r.chrom, r.start, r.end, r.bst,
      r.bsz)).toDF("aid", "chrom", "start", "end", "bst", "bsz")
    val b = bRows.toDF("bid", "chrom", "start", "end")
    // intersectJoin -split wao -f 0.25: pairs at >= quarter of the
    // BLOCK bases, plus a zero row per A with no qualifying pair
    val wantQual = naivePairs
      .filter { case (aid, _, _, _, ovl) => ovl >= 0.25 * blenOf(aid) }
    val wantPairs = wantQual
      .map { case (aid, bid, _, _, ovl) => (aid, Some(bid), Some(ovl)) }
    val wantMiss = aRows.map(_.aid)
      .filterNot(wantQual.map(_._1).toSet)
      .map(aid => (aid, None, Some(0L)))
    val gotIj = IntervalOps.intersectJoin(a, b, "aid", "bid",
        minOverlapFracA = 0.25, mode = "wao",
        blockStarts = "bst", blockSizes = "bsz")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(7)) None else Some(r.getLong(7)))).toSeq
    assert(gotIj.sortBy(x => (x._1, x._2.getOrElse(-1L))) ==
      (wantPairs ++ wantMiss).sortBy(x => (x._1, x._2.getOrElse(-1L))))
    // mapOverlaps -split: every block-overlapping B aggregates ONCE
    val hits = naivePairs.groupBy(_._1)
    val gotMo = IntervalOps.mapOverlaps(a,
        b.withColumn("v", col("bid")), "aid", "v",
        blockStarts = "bst", blockSizes = "bsz")
      .collect().map(r => r.getLong(0) -> (r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5))).toMap
    aRows.foreach { ar =>
      val h = hits.getOrElse(ar.aid, Seq())
      assert(gotMo(ar.aid) ==
        (h.size.toLong, if (h.isEmpty) -1L else h.map(_._2).sum),
        s"map aid=${ar.aid}")
    }
    // coverageBy -split: per-base union coverage over block space
    val gotCb = IntervalOps.coverageBy(a, b, "aid",
        blockStarts = "bst", blockSizes = "bsz")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    aRows.foreach { ar =>
      val bsOnChrom = bRows.filter(_._2 == ar.chrom)
      val cov = blocksOf(ar).map { case (ks, ke) =>
        (ks until ke).count(p =>
          bsOnChrom.exists { case (_, _, bs, be) => bs <= p && p < be })
      }.sum.toLong
      val n = hits.getOrElse(ar.aid, Seq()).size.toLong
      assert(gotCb(ar.aid) == ((n, cov, blenOf(ar.aid))),
        s"coverage aid=${ar.aid}")
    }
  }

  test("coverage: null coords dropped, caller types kept, " +
      "fractional rejected") {
    val s = spark
    import s.implicits._
    val iv = Seq(
      (Option("chr1"), Option(1), Option(5)),
      (Option.empty[String], Option(2), Option(6)),
      (Option("chr1"), Option.empty[Int], Option(6)))
      .toDF("chrom", "start", "end")
    val got = IntervalOps.coverage(iv).collect()
    assert(got.map(r => (r.getString(0), r.getInt(1), r.getInt(2),
      r.getLong(3))).toSeq == Seq(("chr1", 1, 5, 1L)))
    assert(got.head.schema("start").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val frac = Seq(("chr1", 1.5, 2.5)).toDF("chrom", "start", "end")
    val e = intercept[IllegalArgumentException] {
      IntervalOps.coverage(frac)
    }
    assert(e.getMessage.contains("integral"))
    // mixed coordinate widths are rejected too: segment boundaries mix
    // the two domains (a segment can START at an input end), so an int
    // start column would silently wrap a long end value on cast-back
    import org.apache.spark.sql.functions.col
    val mixed = Seq(("chr1", 1, 5L)).toDF("chrom", "start", "end")
      .select(col("chrom"), col("start").cast("int"), col("end"))
    val e2 = intercept[IllegalArgumentException] {
      IntervalOps.coverage(mixed)
    }
    assert(e2.getMessage.contains("share a type"))
  }

  test("mapOverlaps: counts, aggregates, zero-overlap/point/null edges") {
    val s = spark
    import s.implicits._
    val a = Seq(
      (1L, "chr1", 10L, 50L),  // overlaps b1, b2; book-ends b3
      (2L, "chr1", 200L, 210L), // no overlaps
      (3L, "chr2", 10L, 20L),  // overlaps b5 (null value)
      (4L, "chr1", 300L, 300L)) // zero-length A: kept, n = 0
      .toDF("aid", "chrom", "start", "end")
    val b = Seq(
      ("chr1", 5L, 15L, Option(10L)),   // b1: overlaps A1
      ("chr1", 40L, 60L, Option(4L)),   // b2: overlaps A1
      ("chr1", 50L, 70L, Option(100L)), // b3: book-ends A1 — NOT counted
      ("chr1", 30L, 30L, Option(7L)),   // b4: zero-length inside A1 — dropped
      ("chr2", 15L, 25L, Option.empty[Long])) // b5: null value
      .toDF("chrom", "start", "end", "v")
    val got = IntervalOps.mapOverlaps(a, b, "aid", "v")
      .orderBy("aid").collect()
      .map(r => (r.getLong(0), r.getLong(4), Option(r.get(5)),
        Option(r.get(6)), Option(r.get(7))))
      .toSeq
    assert(got == Seq(
      (1L, 2L, Some(14L), Some(4L), Some(10L)),
      (2L, 0L, None, None, None),
      (3L, 1L, None, None, None), // counted, but null v → null aggs
      (4L, 0L, None, None, None)))
  }

  test("jaccard: hand-computed sets, empty sides, point survivors") {
    val s = spark
    import s.implicits._
    // A merges to [10,30)+[50,60) = 30 bases; B = [20,55) = 35 bases;
    // intersection [20,30)+[50,55) = 15 over two segments; union 50
    val a = Seq(("chr1", 10L, 30L), ("chr1", 50L, 60L),
      ("chr1", 25L, 25L)).toDF("chrom", "start", "end")
    val b = Seq(("chr1", 20L, 40L), ("chr1", 35L, 55L))
      .toDF("chrom", "start", "end")
    val r = IntervalOps.jaccard(a, b).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(3)) == (15L, 50L, 2L))
    assert(math.abs(r.getDouble(2) - 0.3) < 1e-12)
    // empty B: intersection 0, union = |A|, jaccard 0
    val r2 = IntervalOps.jaccard(a,
      b.where($"start" < 0)).collect().head
    assert((r2.getLong(0), r2.getLong(1), r2.getDouble(2),
      r2.getLong(3)) == (0L, 30L, 0.0, 0L))
    // both empty: union 0 → jaccard null, not a division error
    val r3 = IntervalOps.jaccard(a.where($"start" < 0),
      b.where($"start" < 0)).collect().head
    assert((r3.getLong(0), r3.getLong(1), r3.isNullAt(2),
      r3.getLong(3)) == (0L, 0L, true, 0L))
  }

  test("slop: floor/cap clamps, missing size, pass-through, int coords") {
    val s = spark
    import s.implicits._
    val iv = Seq(
      ("chr1", 100, 200, "x"),  // grows to [0, 300)
      ("chr1", 950, 980, "y"),  // caps at size 1000
      ("chrU", 950, 980, "z"),  // no declared size: uncapped
      ("chr1", 500, 400, "w"))  // inverted → point 500, grows both ways
      .toDF("chrom", "start", "end", "tag")
    val sizes = Seq(("chr1", 1000L)).toDF("chrom", "size")
    val got = IntervalOps.slop(iv, both = 150L,
        chromSizes = Some(sizes))
      .orderBy("tag").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSeq
    assert(got == Seq(
      ("chr1", 350, 650, "w"),
      ("chr1", 0, 350, "x"),
      ("chr1", 800, 1000, "y"),
      ("chrU", 800, 1130, "z")))
  }

  test("flank: sides, floor/cap drops, pass-through") {
    val s = spark
    import s.implicits._
    val iv = Seq(
      ("chr1", 100L, 200L, "a"),  // both flanks
      ("chr1", 0L, 50L, "b"),     // left flank empty (starts at 0)
      ("chr1", 900L, 1000L, "c")) // right flank capped away (size 1000)
      .toDF("chrom", "start", "end", "tag")
    val sizes = Seq(("chr1", 1000L)).toDF("chrom", "size")
    val got = IntervalOps.flank(iv, left = 30L, right = 40L,
        chromSizes = Some(sizes))
      .orderBy("tag", "side").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == Seq(
      ("chr1", "a", "left", 70L, 100L),
      ("chr1", "a", "right", 200L, 240L),
      ("chr1", "b", "right", 50L, 90L),
      ("chr1", "c", "left", 870L, 900L)))
  }

  test("coverageBy: union-not-sum covered bases, zero-overlap, points") {
    val s = spark
    import s.implicits._
    val a = Seq(
      (1L, "chr1", 10L, 30L),  // b1+b2 overlap each other: union [12,25)
      (2L, "chr1", 100L, 110L), // nothing
      (3L, "chr1", 200L, 200L)) // zero-length A: n=0, fraction null
      .toDF("aid", "chrom", "start", "end")
    val b = Seq(
      ("chr1", 12L, 20L),  // b1
      ("chr1", 15L, 25L),  // b2 — overlaps b1; bases must not double
      ("chr1", 28L, 40L))  // b3 — clips to [28,30)
      .toDF("chrom", "start", "end")
    val got = IntervalOps.coverageBy(a, b, "aid")
      .orderBy("aid").collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getLong(6),
        Option(r.get(7)).map(_.asInstanceOf[Double])))
      .toSeq
    assert(got == Seq(
      (1L, 3L, 15L, 20L, Some(0.75)), // [12,25)=13 + [28,30)=2 → 15/20
      (2L, 0L, 0L, 10L, Some(0.0)),
      (3L, 0L, 0L, 0L, None)))
  }

  test("cluster: membership incl. book-end touches, points, counts") {
    val s = spark
    import s.implicits._
    val iv = Seq(
      (1L, "chr1", 10L, 50L),
      (2L, "chr1", 40L, 80L),   // overlaps 1 → same cluster
      (3L, "chr1", 80L, 90L),   // book-ends 2 → same cluster
      (4L, "chr1", 90L, 90L),   // point book-ending 3 → same cluster
      (5L, "chr1", 95L, 99L),   // alone
      (6L, "chr2", 10L, 20L))   // other chromosome
      .toDF("id", "chrom", "start", "end")
    val got = IntervalOps.cluster(iv)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSeq
    assert(got == Seq(
      (1L, 10L, 90L, 4L), (2L, 10L, 90L, 4L), (3L, 10L, 90L, 4L),
      (4L, 10L, 90L, 4L), (5L, 95L, 99L, 1L), (6L, 10L, 20L, 1L)))
  }

  test("makeWindows: truncation, step, two-level explode, bad sizes") {
    val s = spark
    import s.implicits._
    val sizes = Seq(("chr1", Option(250L)), ("chr2", Option(100L)),
      ("chrBad", Option(0L)), ("chrNull", Option.empty[Long]))
      .toDF("chrom", "size")
    val got = IntervalOps.makeWindows(sizes, windowSize = 100L)
      .orderBy("chrom", "start").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      ("chr1", 0L, 100L), ("chr1", 100L, 200L), ("chr1", 200L, 250L),
      ("chr2", 0L, 100L)))
    // sliding windows (step < windowSize) and a chunk size small
    // enough that the two-level explode actually splits
    val slid = IntervalOps.makeWindows(
        sizes.where($"chrom" === "chr1"), windowSize = 100L,
        step = 60L, chunkWindows = 2)
      .orderBy("start").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(slid == Seq((0L, 100L), (60L, 160L), (120L, 220L),
      (180L, 250L), (240L, 250L)))
  }

  test("mapOverlaps/coverageBy: randomized per-base reference") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(59)
    val aR = Seq.tabulate(100) { i =>
      val st = rnd.nextInt(180).toLong
      (i.toLong, s"chr${i % 2}", st, st + 1 + rnd.nextInt(25))
    }
    // every 7th B row is zero-length (must drop on both paths)
    val bR = Seq.tabulate(60) { i =>
      val st = rnd.nextInt(180).toLong
      val len = if (i % 7 == 0) 0 else 1 + rnd.nextInt(12)
      (s"chr${i % 2}", st, st + len, (rnd.nextInt(50) - 10).toLong)
    }
    val naive = aR.map { case (aid, c, as, ae) =>
      val ov = bR.filter(b => b._1 == c && b._2 < b._3 &&
        as < b._3 && b._2 < ae)
      val vs = ov.map(_._4)
      val covered = (as until ae).count(p =>
        ov.exists(b => b._2 <= p && p < b._3)).toLong
      (aid, ov.size.toLong, vs.sum, covered)
    }.sortBy(_._1)
    val aDf = aR.toDF("aid", "chrom", "start", "end")
    val bDf = bR.toDF("chrom", "start", "end", "v")
    val gotMap = IntervalOps.mapOverlaps(aDf, bDf, "aid", "v")
      .orderBy("aid").collect()
      .map(r => (r.getLong(0), r.getLong(4),
        if (r.isNullAt(5)) 0L else r.getLong(5)))
      .toSeq
    assert(gotMap == naive.map(x => (x._1, x._2, x._3)))
    val gotCov = IntervalOps.coverageBy(aDf, bDf, "aid")
      .orderBy("aid").collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5)))
      .toSeq
    assert(gotCov == naive.map(x => (x._1, x._2, x._4)))
  }

  test("annotate: per-set long format agrees with coverageBy per set") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(73)
    val a = Seq.tabulate(80) { i =>
      val st = rnd.nextInt(150).toLong
      (i.toLong, s"chr${i % 2}", st, st + 1 + rnd.nextInt(20))
    }.toDF("aid", "chrom", "start", "end")
    def mk(seed: Int) = {
      val r2 = new scala.util.Random(seed)
      Seq.tabulate(40) { _ =>
        val st = r2.nextInt(150).toLong
        ("chr" + r2.nextInt(2), st, st + 1 + r2.nextInt(10))
      }.toDF("chrom", "start", "end")
    }
    val (b1, b2) = (mk(5), mk(6))
    val got = IntervalOps.annotate(a, Seq("x" -> b1, "y" -> b2), "aid")
      .orderBy("aid", "set").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(5),
        r.getLong(6)))
      .toSeq
    // reference: coverageBy per set, interleaved to the same order
    def ref(b: org.apache.spark.sql.DataFrame, name: String) =
      IntervalOps.coverageBy(a, b, "aid")
        .orderBy("aid").collect()
        .map(r => (r.getLong(0), name, r.getLong(4), r.getLong(5)))
        .toSeq
    val want = (ref(b1, "x") ++ ref(b2, "y"))
      .sortBy(t => (t._1, t._2))
    assert(got == want)
    // every (A, set) pair appears — zero rows included
    assert(got.size == 160)
  }

  test("cluster: randomized transitive-closure reference") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(61)
    val rows = Seq.tabulate(150) { i =>
      val st = rnd.nextInt(300).toLong
      // mix of points (length 0) and spans, duplicate-heavy starts
      (i.toLong, s"chr${i % 2}", st, st + rnd.nextInt(12))
    }
    // naive closure: sort per chrom, island with the book-end rule
    val naive = rows.groupBy(_._2).flatMap { case (_, rs) =>
      val sorted = rs.map(r => (r._1, r._3, math.max(r._4, r._3)))
        .sortBy(x => (x._2, x._3))
      var spans = List.empty[(Long, Long, List[Long])]
      sorted.foreach { case (id, st, en) =>
        spans match {
          case (cs, ce, ids) :: tail if st <= ce =>
            spans = (cs, math.max(ce, en), id :: ids) :: tail
          case _ => spans = (st, en, List(id)) :: spans
        }
      }
      spans.flatMap { case (cs, ce, ids) =>
        ids.map(id => (id, cs, ce, ids.size.toLong))
      }
    }.toSeq.sortBy(_._1)
    val got = IntervalOps.cluster(
        rows.toDF("id", "chrom", "start", "end"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSeq
    assert(got == naive)
  }

  test("multiinter: memberships, nested same-set atomics, null labels") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a", "chr1", 10L, 30L),
      ("a", "chr1", 15L, 20L),  // nested same-set: atomic split, same membership
      ("b", "chr1", 20L, 40L),
      ("c", "chr1", 50L, 60L),
      (null.asInstanceOf[String], "chr1", 0L, 100L), // null label drops
      ("a", "chr2", 5L, 5L))    // point: vanishes
      .toDF("set", "chrom", "start", "end")
    val got = IntervalOps.multiinter(df)
      .orderBy("chrom", "start").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
      .toSeq
    assert(got == Seq(
      ("chr1", 10L, 15L, 1L, "a"),
      ("chr1", 15L, 20L, 1L, "a"),   // nested depth change: atomic form
      ("chr1", 20L, 30L, 2L, "a,b"),
      ("chr1", 30L, 40L, 1L, "b"),
      ("chr1", 50L, 60L, 1L, "c")))
  }

  test("multiinter: randomized consistency with per-set coverage") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(71)
    val rows = Seq.tabulate(300) { i =>
      val st = rnd.nextInt(400).toLong
      (s"s${i % 3}", s"chr${i % 2}", st, st + 1 + rnd.nextInt(40))
    }
    val df = rows.toDF("set", "chrom", "start", "end")
    val got = IntervalOps.multiinter(df, partitions = 7)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(4)))
    // reference: per-base membership from the raw rows
    got.foreach { case (c, st, en, sets) =>
      val want = rows.filter(r => r._2 == c)
      (st until en).foreach { p =>
        val cover = want.filter(r => r._3 <= p && p < r._4)
          .map(_._1).distinct.sorted.mkString(",")
        assert(cover == sets, s"at $c:$p expected [$cover] got [$sets]")
      }
    }
    // completeness: every covered base appears in exactly one segment
    val coveredBases = rows.flatMap(r => (r._3 until r._4)
      .map(p => (r._2, p))).distinct.size
    assert(got.map(x => x._3 - x._2).sum == coveredBases)
  }

  test("reldist: flanks, coincidence, edges, equidistance") {
    val s = spark
    import s.implicits._
    // B midpoints on chr1: 10, 50, 100
    val b = Seq(("chr1", 5L, 15L), ("chr1", 45L, 55L),
      ("chr1", 95L, 105L)).toDF("chrom", "start", "end")
    val a = Seq(
      (1L, "chr1", 20L, 20L),  // mid 20: prev 10, next 50 → 10/40 = 0.25
      (2L, "chr1", 50L, 50L),  // coincides with B mid 50 → 0.0
      (3L, "chr1", 30L, 30L),  // equidistant 10/50 → 20/40 = 0.5
      (4L, "chr1", 2L, 2L),    // before first B mid → null
      (5L, "chr1", 200L, 200L),// after last B mid → null
      (6L, "chr2", 10L, 10L))  // no B on chr2 → null
      .toDF("aid", "chrom", "start", "end")
    val got = IntervalOps.reldist(a, b, "aid")
      .orderBy("aid").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      .toSeq
    assert(got == Seq((1L, Some(0.25)), (2L, Some(0.0)),
      (3L, Some(0.5)), (4L, None), (5L, None), (6L, None)))
  }

  test("shuffleIntervals: deterministic, in-bounds, length-preserving") {
    val s = spark
    import s.implicits._
    val iv = Seq(
      (1L, "chr1", 100L, 160L),
      (2L, "chr1", 0L, 1000L),  // len == size: room 1, lands at 0
      (3L, "chr1", 10L, 2000L), // len > size: truncates to [0, size)
      (4L, "chrU", 5L, 9L))     // undeclared chromosome: drops
      .toDF("id", "chrom", "start", "end")
    val sizes = Seq(("chr1", 1000L)).toDF("chrom", "size")
    def run() = IntervalOps.shuffleIntervals(iv, sizes, seed = 11L,
        idCol = "id")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    val got = run()
    assert(got == run()) // deterministic across runs
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    val byId = got.map(x => x._1 -> (x._2, x._3)).toMap
    assert(byId(1L)._2 - byId(1L)._1 == 60L) // length preserved
    assert(byId(1L)._1 >= 0L && byId(1L)._2 <= 1000L)
    assert(byId(2L) == (0L, 1000L))
    assert(byId(3L) == (0L, 1000L))
    // a different seed moves interval 1 (overwhelmingly likely and
    // fixed for these constants — pinned so the seed genuinely flows)
    val other = IntervalOps.shuffleIntervals(iv, sizes, seed = 12L,
        idCol = "id")
      .where($"id" === 1L).collect().head.getLong(2)
    assert(other != byId(1L)._1)
  }

  test("shift: both directions, boundary collapse, missing size") {
    val s = spark
    import s.implicits._
    val iv = Seq(
      ("chr1", 100L, 200L, "a"),
      ("chr1", 950L, 980L, "b"),   // +300 pushes past size: [1000,1000)
      ("chr1", 100L, 250L, "c"),   // -300 pushes past 0: [0,0)
      ("chrU", 950L, 980L, "d"))   // no declared size: uncapped
      .toDF("chrom", "start", "end", "tag")
    val sizes = Seq(("chr1", 1000L)).toDF("chrom", "size")
    def run(n: Long) = IntervalOps.shift(iv, n, chromSizes = Some(sizes))
      .orderBy("tag").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(run(300L) == Seq((400L, 500L), (1000L, 1000L),
      (400L, 550L), (1250L, 1280L)))
    assert(run(-300L) == Seq((0L, 0L), (650L, 680L),
      (0L, 0L), (650L, 680L)))
  }

  test("windowJoin: strict window boundary, overlap, zero-length B") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, "chr1", 100L, 200L)).toDF("aid", "c", "s", "e")
    val b = Seq(
      (10L, "chr1", 150L, 160L), // overlaps
      (11L, "chr1", 205L, 215L), // gap 5 < 10 → in
      (12L, "chr1", 210L, 220L), // gap 10 == w → OUT (strict)
      (13L, "chr1", 85L, 90L),   // gap 10 == w on the left → OUT
      (14L, "chr1", 86L, 91L),   // gap 9 → in
      (15L, "chr1", 120L, 120L)) // zero-length → never matches
      .toDF("bid", "bc", "bs", "be")
    val got = IntervalOps.windowJoin(a, b, window = 10L,
        leftCols = ("c", "s", "e"), rightCols = ("bc", "bs", "be"))
      .select("bid").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(10L, 11L, 14L))
  }

  test("windowJoin: caller columns named __ws/__we survive untouched") {
    val s = spark
    import s.implicits._
    // the working-column names must be probed fresh (overlapJoin's
    // rule): a frame already carrying "__ws" was silently clobbered
    // by the extension withColumn and dropped from the output
    val a = Seq((1L, "chr1", 100L, 200L, "keepL"))
      .toDF("aid", "c", "s", "e", "__ws")
    val b = Seq((10L, "chr1", 205L, 215L, "keepR"))
      .toDF("bid", "bc", "bs", "be", "__we")
    val got = IntervalOps.windowJoin(a, b, window = 10L,
        leftCols = ("c", "s", "e"), rightCols = ("bc", "bs", "be"))
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("__ws") == "keepL")
    assert(r.getAs[String]("__we") == "keepR")
  }

  test("mergeIntervalsRange: one interval spanning many partitions") {
    val s = spark
    import s.implicits._
    // the boundary-handoff's hardest case: a single early interval
    // whose end reaches across SEVERAL range partitions, swallowing
    // whole groups that would otherwise be complete interior output —
    // pass B must fold them into the carried chain, not emit them
    val mega = ("chr1", 0L, 1000000L)
    val sparse = (1 to 500).map(i => ("chr1", i * 1000L, i * 1000L + 10L))
    val after = Seq(("chr1", 2000000L, 2000100L), ("chr2", 5L, 15L))
    val iv = (mega +: sparse) ++ after
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("chrom", "start").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val expected = Seq(
      ("chr1", 0L, 1000000L, 501L),
      ("chr1", 2000000L, 2000100L, 1L),
      ("chr2", 5L, 15L, 1L))
    for (p <- Seq(3, 17, 64)) {
      val got = canon(IntervalOps.mergeIntervalsRange(
        iv.toDF("chrom", "start", "end"), partitions = p))
      assert(got == expected, s"partitions = $p")
    }
    // randomized cross-check against the window formulation on a mix
    // of dense, sparse, chained and point rows
    val rnd = new scala.util.Random(41)
    val rand = (0 until 3000).map { _ =>
      val c = s"chr${rnd.nextInt(3)}"
      val st = rnd.nextInt(20000).toLong
      val len = rnd.nextInt(4) match {
        case 0 => 0L                       // point
        case 1 => rnd.nextInt(8).toLong    // sparse short
        case _ => rnd.nextInt(400).toLong  // chaining long
      }
      (c, st, st + len)
    }.toDF("chrom", "start", "end")
    assert(canon(IntervalOps.mergeIntervalsRange(rand, partitions = 23))
      == canon(IntervalOps.mergeIntervals(rand)))
  }

  test("merge maxGap (-d): both variants, boundary chains, cluster") {
    val s = spark
    import s.implicits._
    val iv = Seq(
      ("chr1", 10L, 20L), ("chr1", 25L, 30L),  // gap 5: merge at d>=5
      ("chr1", 40L, 50L),                      // gap 10 from 30
      ("chr2", 5L, 6L))
      .toDF("chrom", "start", "end")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("chrom", "start").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val want5 = Seq(("chr1", 10L, 30L, 2L), ("chr1", 40L, 50L, 1L),
      ("chr2", 5L, 6L, 1L))
    assert(canon(IntervalOps.mergeIntervals(iv, maxGap = 5L)) == want5)
    assert(canon(IntervalOps.mergeIntervalsRange(iv, maxGap = 5L))
      == want5)
    // d=4 does NOT bridge the 5-gap (strict: start > prevMax + d splits)
    assert(canon(IntervalOps.mergeIntervals(iv, maxGap = 4L)).length == 4)
    // d=10 bridges everything on chr1
    assert(canon(IntervalOps.mergeIntervalsRange(iv, maxGap = 10L)) ==
      Seq(("chr1", 10L, 50L, 3L), ("chr2", 5L, 6L, 1L)))
    // randomized equality across variants with gaps + many partitions
    // (boundary chains must carry the same slack)
    val rnd = new scala.util.Random(59)
    val big = (0 until 2500).map { _ =>
      val st = rnd.nextInt(30000).toLong
      (s"chr${rnd.nextInt(2)}", st, st + rnd.nextInt(12).toLong)
    }.toDF("chrom", "start", "end")
    for (d <- Seq(0L, 3L, 25L)) {
      assert(canon(IntervalOps.mergeIntervalsRange(big, partitions = 21,
        maxGap = d)) == canon(IntervalOps.mergeIntervals(big,
        maxGap = d)), s"maxGap=$d")
    }
    // cluster -d: rows within d cluster together
    val cl = IntervalOps.cluster(iv, maxGap = 5L)
      .where(col("chrom") === "chr1").orderBy("start")
      .collect().map(r => (r.getLong(1), r.getAs[Long]("cluster_start"),
        r.getAs[Long]("cluster_n"))).toSeq
    assert(cl == Seq((10L, 10L, 2L), (25L, 10L, 2L), (40L, 40L, 1L)))
  }

  test("overlapFilter: -u/-v with strand and fraction composition") {
    val s = spark
    import s.implicits._
    val a = Seq(
      (1L, "chr1", 100L, 200L, "+"),  // overlapped by b1 (50%, '+')
      (2L, "chr1", 300L, 400L, "-"),  // overlapped by b2 ('+', tiny)
      (3L, "chr2", 10L, 20L, "+"))    // no overlap
      .toDF("aid", "chrom", "start", "end", "strand")
    val b = Seq(
      ("chr1", 100L, 150L, "+"),
      ("chr1", 399L, 450L, "+"))
      .toDF("chrom", "start", "end", "strand")
    def ids(keep: Boolean, st: Strandedness = Strandedness.Ignore,
        fa: Double = 0.0) =
      IntervalOps.overlapFilter(a, b, "aid", keep = keep, strand = st,
          minOverlapFracA = fa)
        .select("aid").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(keep = true) == Seq(1L, 2L))
    assert(ids(keep = false) == Seq(3L))
    // -s: only A1 matches a same-strand B
    assert(ids(keep = true, st = Strandedness.Same()) == Seq(1L))
    assert(ids(keep = false, st = Strandedness.Same()) == Seq(2L, 3L))
    // -f 0.5: A2's 1-base overlap fails the threshold
    assert(ids(keep = true, fa = 0.5) == Seq(1L))
    assert(ids(keep = false, fa = 0.5) == Seq(2L, 3L))
    // all columns pass through; each A reported once even with many B
    val manyB = (0 until 20).map(i => ("chr1", 100L + i, 200L))
      .toDF("chrom", "start", "end")
    val out = IntervalOps.overlapFilter(a.drop("strand"), manyB, "aid",
      keep = true)
    assert(out.columns.toSeq == Seq("aid", "chrom", "start", "end"))
    assert(out.count() == 1L)
  }

  test("intersectJoin: wo pairs, wao zero rows, loj null rows") {
    val s = spark
    import s.implicits._
    val a = Seq(
      (1L, "chr1", 100L, 200L),   // overlaps b10 (50) and b11 (10)
      (2L, "chr1", 500L, 600L),   // overlaps nothing -> wao/loj only
      (3L, "chr2", 10L, 10L))     // zero-length: never a pair
      .toDF("aid", "chrom", "start", "end")
    val b = Seq(
      (10L, "chr1", 150L, 250L),  // 50 bases with A1 (>= half of 100? no)
      (11L, "chr1", 90L, 110L),   // 10 bases with A1
      (12L, "chr2", 0L, 5L))      // touches nothing
      .toDF("bid", "chrom", "start", "end")
    def rows(mode: String, frac: Double = 0.0) =
      IntervalOps.intersectJoin(a, b, "aid", "bid",
          minOverlapFracA = frac, mode = mode)
        .orderBy(col("aid"), col("b_id").asc_nulls_first)
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(4)) -1L else r.getLong(4),
          if (r.isNullAt(7)) Long.MinValue else r.getLong(7)))
        .toSeq
    assert(rows("wo") == Seq((1L, 10L, 50L), (1L, 11L, 10L)))
    // wao: every pairless A surfaces with overlap 0 (incl. zero-length)
    assert(rows("wao") == Seq((1L, 10L, 50L), (1L, 11L, 10L),
      (2L, -1L, 0L), (3L, -1L, 0L)))
    // loj: same rows, null overlap marks "not a measured zero"
    assert(rows("loj") == Seq((1L, 10L, 50L), (1L, 11L, 10L),
      (2L, -1L, Long.MinValue), (3L, -1L, Long.MinValue)))
    // -f 0.5: b10's 50 bases are EXACTLY half of A1's 100 — >= keeps
    // it (the bedtools boundary rule); b11's 10 drop. A2/A3 still
    // come back as zero rows (bedtools -wao -f retention)
    assert(rows("wao", frac = 0.5) == Seq((1L, 10L, 50L),
      (2L, -1L, 0L), (3L, -1L, 0L)))
    // a hair above half excludes the boundary pair and A1 becomes a
    // zero row itself
    assert(rows("wao", frac = 0.51) == Seq((1L, -1L, 0L),
      (2L, -1L, 0L), (3L, -1L, 0L)))
    // b_start/b_end keep B's coordinate types and values
    val pair = IntervalOps.intersectJoin(a, b, "aid", "bid")
      .where(col("b_id") === 10L).collect().head
    assert(pair.getAs[Long]("b_start") == 150L &&
      pair.getAs[Long]("b_end") == 250L &&
      pair.getAs[Long]("overlap_bp") == 50L)
    val e = intercept[IllegalArgumentException] {
      IntervalOps.intersectJoin(a, b, "aid", "bid", mode = "bad")
    }
    assert(e.getMessage.contains("wo|wao|loj"))
  }

  test("intersectJoin: strand predicate keeps unmatchable A rows") {
    val s = spark
    import s.implicits._
    val a = Seq(
      (1L, "chr1", 100L, 200L, "+"),
      (2L, "chr1", 100L, 200L, "."))
      .toDF("aid", "chrom", "start", "end", "strand")
    val b = Seq(
      (10L, "chr1", 150L, 250L, "-"),
      (11L, "chr1", 90L, 110L, "+"))
      .toDF("bid", "chrom", "start", "end", "strand")
    val opp = IntervalOps.intersectJoin(a, b, "aid", "bid",
        strand = Strandedness.Opposite(), mode = "wao")
      .orderBy(col("aid"), col("b_id").asc_nulls_first)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    // A1(+) pairs only with b10(-); A2(.) has no opposite -> zero row
    assert(opp == Seq((1L, 10L), (2L, -1L)))
  }

  test("stranded closest: same/opposite keys pick the right candidate") {
    val s = spark
    import s.implicits._
    val a = Seq(
      (1L, "chr1", 100L, 110L, "+"),
      (2L, "chr1", 100L, 110L, "-"),
      (3L, "chr1", 500L, 510L, "."),   // '.' matches only '.' under Same
      (4L, "chr1", 700L, 710L, null.asInstanceOf[String])) // matches nothing
      .toDF("aid", "chrom", "start", "end", "strand")
    val b = Seq(
      (10L, "chr1", 120L, 130L, "+"),  // nearest overall, plus-strand
      (11L, "chr1", 200L, 210L, "-"),  // nearest minus-strand
      (12L, "chr1", 520L, 530L, "."),
      (13L, "chr1", 705L, 706L, "+"))
      .toDF("bid", "chrom", "start", "end", "strand")
    def got(st: Strandedness) =
      IntervalOps.closest(a, b, "aid", "bid", strand = st)
        .orderBy("aid")
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(4)) -1L else r.getLong(4),
          if (r.isNullAt(7)) -1L else r.getLong(7)))
        .toSeq
    // strand-blind: both 1 and 2 pick b10 (distance 10)
    assert(got(Strandedness.Ignore) == Seq(
      (1L, 10L, 10L), (2L, 10L, 10L), (3L, 12L, 10L), (4L, 13L, 0L)))
    // -s: A1(+) -> b10; A2(-) -> b11 even though b10 is nearer;
    // A3(.) -> b12; A4(null strand) KEPT with no hit (bedtools keeps
    // every A row; null matches nothing)
    assert(got(Strandedness.Same()) == Seq(
      (1L, 10L, 10L), (2L, 11L, 90L), (3L, 12L, 10L), (4L, -1L, -1L)))
    // -S: A1(+) -> minus-strand b11; A2(-) -> plus-strand b10;
    // A3(.) has no opposite and A4 is null -> both KEPT with no hit
    assert(got(Strandedness.Opposite()) == Seq(
      (1L, 11L, 90L), (2L, 10L, 10L), (3L, -1L, -1L), (4L, -1L, -1L)))
  }

  test("stranded subtract: only same/opposite-strand bases removed") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, "chr1", 100L, 200L, "+"))
      .toDF("aid", "chrom", "start", "end", "strand")
    val b = Seq(
      ("chr1", 120L, 140L, "+"),
      ("chr1", 160L, 180L, "-"))
      .toDF("chrom", "start", "end", "strand")
    def canon(st: Strandedness) =
      IntervalOps.subtract(a, b, "aid", strand = st)
        .orderBy("start")
        .collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    assert(canon(Strandedness.Ignore) ==
      Seq((100L, 120L), (140L, 160L), (180L, 200L)))
    // -s removes only the '+' block; -S only the '-' block
    assert(canon(Strandedness.Same()) == Seq((100L, 120L), (140L, 200L)))
    assert(canon(Strandedness.Opposite()) ==
      Seq((100L, 160L), (180L, 200L)))
    // a '.'-strand A row matches nothing under -S and passes through
    // UNMODIFIED (bedtools keeps it; pre-r19 the key-based policy
    // wrongly dropped it)
    val dot = Seq((2L, "chr1", 100L, 200L, "."))
      .toDF("aid", "chrom", "start", "end", "strand")
    val kept = IntervalOps.subtract(dot, b, "aid",
        strand = Strandedness.Opposite())
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    assert(kept == Seq((100L, 200L)))
  }

  test("stranded mapOverlaps and windowJoin: predicate-based policy") {
    val s = spark
    import s.implicits._
    val a = Seq(
      (1L, "chr1", 100L, 200L, "+"),
      (2L, "chr1", 100L, 200L, null.asInstanceOf[String]))
      .toDF("aid", "chrom", "start", "end", "strand")
    val b = Seq(
      ("chr1", 120L, 140L, "+", 10L),
      ("chr1", 150L, 170L, "-", 20L))
      .toDF("chrom", "start", "end", "strand", "v")
    val same = IntervalOps.mapOverlaps(a, b, "aid", "v",
        strand = Strandedness.Same())
      .orderBy("aid").collect()
      .map(r => (r.getLong(0), r.getLong(4))).toSeq
    // A1 matches only the '+' row; A2 (null strand) SURVIVES with 0
    assert(same == Seq((1L, 1L), (2L, 0L)))
    val aw = a.withColumnRenamed("chrom", "ac")
      .withColumnRenamed("start", "as").withColumnRenamed("end", "ae")
      .withColumnRenamed("strand", "astr")
    val opp = IntervalOps.windowJoin(aw, b, window = 1000L,
        leftCols = ("ac", "as", "ae"),
        rightCols = ("chrom", "start", "end"),
        strand = Strandedness.Opposite("astr", "strand"))
      .select("aid", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(opp == Seq((1L, 20L))) // only A1(+) x B('-') pairs
  }

  test("stranded coverageBy and annotate: composite-key policy") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, "chr1", 100L, 200L, "+"))
      .toDF("aid", "chrom", "start", "end", "strand")
    val b = Seq(
      ("chr1", 100L, 150L, "+"),   // same strand: 50 covered bases
      ("chr1", 140L, 190L, "-"))   // opposite: 50 bases (overlaps +10)
      .toDF("chrom", "start", "end", "strand")
    def cov(st: Strandedness) =
      IntervalOps.coverageBy(a, b, "aid", strand = st)
        .collect().map(r => (r.getLong(4), r.getLong(5))).head
    assert(cov(Strandedness.Ignore) == ((2L, 90L)))
    assert(cov(Strandedness.Same()) == ((1L, 50L)))
    assert(cov(Strandedness.Opposite()) == ((1L, 50L)))
    // a '.'-strand A row survives -S with ZERO coverage (bedtools -S
    // keeps it; pre-r19 it dropped)
    val dot = Seq((9L, "chr1", 100L, 200L, "."))
      .toDF("aid", "chrom", "start", "end", "strand")
    val z = IntervalOps.coverageBy(dot, b, "aid",
        strand = Strandedness.Opposite())
      .collect().map(r => (r.getLong(4), r.getLong(5))).head
    assert(z == ((0L, 0L)))
    val ann = IntervalOps.annotate(a, Seq("s1" -> b), "aid",
        strand = Strandedness.Same())
      .collect().map(r => (r.getString(1), r.getLong(5), r.getLong(6)))
      .toSeq
    assert(ann == Seq(("s1", 1L, 50L)))
  }

  test("overlap fractions: -f/-F/-r thresholds on the exact overlap") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, "chr1", 100L, 200L)).toDF("aid", "c", "s", "e")
    val b = Seq(
      (10L, "chr1", 100L, 150L),  // covers 50% of A, 100% of itself
      (11L, "chr1", 190L, 400L),  // covers 10% of A, ~4.8% of itself
      (12L, "chr1", 140L, 160L))  // covers 20% of A, 100% of itself
      .toDF("bid", "bc", "bs", "be")
    def ids(fa: Double, fb: Double) =
      IntervalJoin.overlapJoin(a, b, leftCols = ("c", "s", "e"),
          rightCols = ("bc", "bs", "be"),
          minOverlapFracLeft = fa, minOverlapFracRight = fb)
        .select("bid").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(0.0, 0.0) == Seq(10L, 11L, 12L))
    assert(ids(0.5, 0.0) == Seq(10L))               // -f 0.5
    assert(ids(0.0, 0.9) == Seq(10L, 12L))          // -F 0.9
    assert(ids(0.5, 0.5) == Seq(10L))               // -r with f=0.5
    // exact boundary: overlap == f * len passes (>=)
    assert(ids(0.2, 0.0) == Seq(10L, 12L))
    // surfaced through mapOverlaps
    val n = IntervalOps.mapOverlaps(
        a.withColumnRenamed("c", "chrom").withColumnRenamed("s", "start")
          .withColumnRenamed("e", "end"),
        b.select(col("bc").as("chrom"), col("bs").as("start"),
          col("be").as("end"), col("bid").as("v")),
        "aid", "v", minOverlapFracA = 0.5)
      .select("n_overlaps").collect().head.getLong(0)
    assert(n == 1L)
  }

  test("closestAll: every tie reported with signed distance") {
    val s = spark
    import s.implicits._
    val a = Seq(
      (1L, "chr1", 100L, 110L),  // two B's at distance 10, one up one down
      (2L, "chr1", 500L, 510L),  // overlap (distance 0)
      (3L, "chr2", 10L, 20L))    // no B on chr2 -> null row
      .toDF("aid", "chrom", "start", "end")
    val b = Seq(
      (10L, "chr1", 80L, 90L),    // upstream of A1, gap 10
      (11L, "chr1", 120L, 130L),  // downstream of A1, gap 10
      (12L, "chr1", 505L, 520L),  // overlaps A2
      (13L, "chr1", 490L, 505L))  // overlaps A2 too (both distance 0)
      .toDF("bid", "chrom", "start", "end")
    val got = IntervalOps.closestAll(a, b, "aid", "bid")
      .orderBy("aid", "closest_id")
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(7)) Long.MinValue else r.getLong(7),
        if (r.isNullAt(8)) Long.MinValue else r.getLong(8)))
      .toSeq
    assert(got == Seq(
      (1L, 10L, 10L, -10L),  // upstream: negative signed distance
      (1L, 11L, 10L, 10L),   // downstream tie: positive
      (2L, 12L, 0L, 0L),
      (2L, 13L, 0L, 0L),
      (3L, -1L, Long.MinValue, Long.MinValue)))
    // the argmin operator's pick is always among the ties
    val argmin = IntervalOps.closest(a, b, "aid", "bid")
      .where(col("closest_id").isNotNull)
      .select("aid", "closest_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tieSet = got.filter(_._2 >= 0).map(t => (t._1, t._2)).toSet
    assert(argmin.subsetOf(tieSet))
  }

  test("closestAll: plan reuses closest's projections (leaf-count pin)") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, "chr1", 100L, 110L), (2L, "chr1", 500L, 510L))
      .toDF("aid", "chrom", "start", "end")
    val b = Seq((10L, "chr1", 80L, 90L), (11L, "chr1", 120L, 130L))
      .toDF("bid", "chrom", "start", "end")
    def localLeaves(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collectLeaves().count(
        _.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val dfAll = IntervalOps.closestAll(a, b, "aid", "bid")
    val dfOne = IntervalOps.closest(a, b, "aid", "bid")
    // Spark plans are trees: every reference to an input duplicates
    // its leaf, so the leaf count IS the evaluation count. These tiny
    // LocalRelation inputs are deliberately SKIPPED by the r21
    // materialization cost gate (trivial to recompute), so the counts
    // here pin the SHARING structure: closestAll reuses closest's
    // projections and its materialized argmin core (the core's
    // checkpoint is why closestAll shows FEWER raw-input leaves than
    // closest itself — the whole core subtree collapses to one
    // LogicalRDD leaf). This shape measures 6 / 5; the pre-r18
    // rebuild-everything formulation measured 20.
    val nAll = localLeaves(dfAll)
    val nOne = localLeaves(dfOne)
    info(s"closestAll leaves=$nAll closest leaves=$nOne")
    assert(nOne <= 8, s"closest plan grew to $nOne input scans")
    assert(nAll <= 8,
      s"closestAll plan has $nAll input scans — the tie join stopped " +
        "reusing closest's frames or the core checkpoint is gone")
  }

  test("materialization gate: expensive subtrees are checkpointed, " +
      "trivial ones are not") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, "chr1", 100L, 110L), (2L, "chr1", 500L, 510L))
      .toDF("aid", "chrom", "start", "end")
    val b = Seq((10L, "chr1", 80L, 90L), (11L, "chr1", 120L, 130L))
      .toDF("bid", "chrom", "start", "end")
    // an aggregate in the B subtree is not trivially recomputable:
    // the gate must checkpoint the projection (the optimized plan
    // then contains NO Aggregate — it ran once, into blocks).
    // mapOverlaps is the pinned operator since the r21 A/B moved the
    // closest family OFF input checkpointing (see closestCore's doc).
    val bAgg = b.groupBy("bid", "chrom")
      .agg(org.apache.spark.sql.functions.min("start").as("start"),
        org.apache.spark.sql.functions.max("end").as("end"))
      .withColumn("v", col("bid"))
    val bV = b.withColumn("v", col("bid"))
    def rddLeaves(p: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Int = p.collectLeaves().count(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    val planAgg = IntervalOps.mapOverlaps(a, bAgg, "aid", "v")
      .queryExecution.optimizedPlan
    val plain = IntervalOps.mapOverlaps(a, bV, "aid", "v")
      .queryExecution.optimizedPlan
    // the aggregate-derived B must contribute checkpoint-block leaves
    // (every b2 reference becomes a LogicalRDD leaf) and its
    // aggregate must no longer be duplicated per reference — the one
    // checkpoint run is outside this plan entirely; the overlap
    // join's own one-row existence probes are the Aggregates that
    // remain
    assert(rddLeaves(planAgg) > rddLeaves(plain),
      "mapOverlaps over an aggregate-derived B did not materialize " +
        "the projection — the aggregate would run once per reference")
    // trivial inputs stay un-checkpointed: raw LocalRelation leaves
    // remain in the plan
    assert(plain.collectLeaves().exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "trivial LocalRelation inputs were checkpointed — the gate " +
        "stopped skipping cheap frames")
    // and the closest family stays OFF input checkpointing (the r21
    // A/B verdict: recomputing the narrow projections beats the
    // block write + re-reads): an aggregate-derived B keeps its
    // Aggregate nodes inside closest's own plan
    val closestAgg = IntervalOps.closest(a, bAgg.drop("v"), "aid",
      "bid").queryExecution.optimizedPlan
    assert(closestAgg.collect { case ag: org.apache.spark.sql.catalyst
        .plans.logical.Aggregate => ag }.size > 1,
      "closest re-materialized its projections — the r21 decision " +
        "to keep the closest family checkpoint-free was reverted")
  }

  test("closestAll: randomized parity with a naive all-pairs oracle") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(83)
    val aRows = (1 to 120).map(i => (i.toLong, s"chr${rnd.nextInt(2)}",
      rnd.nextInt(3000).toLong))
      .map { case (id, c, st) => (id, c, st, st + rnd.nextInt(40)) }
    val bRows = (1 to 90).map(i => (i.toLong, s"chr${rnd.nextInt(2)}",
      rnd.nextInt(3000).toLong))
      .map { case (id, c, st) => (id, c, st, st + rnd.nextInt(40)) }
    val a = aRows.toDF("aid", "chrom", "start", "end")
    val b = bRows.toDF("bid", "chrom", "start", "end")
    val got = IntervalOps.closestAll(a, b, "aid", "bid",
        binSize = 100L, partitions = 7)
      .where(col("closest_id").isNotNull)
      .select("aid", "closest_id", "distance", "signed_distance")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // naive oracle: per (a, b) same-chrom pair, the closest rule's
    // distance; keep pairs at each A's minimum
    def dist(as: Long, ae: Long, bs: Long, be: Long): Long =
      if (as < be && bs < ae) 0L
      else if (be <= as) as - be else bs - ae
    val pairs = for {
      (aid, ac, as0, ae0) <- aRows
      (bid, bc, bs0, be0) <- bRows if ac == bc
    } yield (aid, bid, dist(as0, ae0, bs0, be0),
      if (be0 <= as0 && dist(as0, ae0, bs0, be0) != 0L)
        -dist(as0, ae0, bs0, be0)
      else dist(as0, ae0, bs0, be0))
    val minD = pairs.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._3).min }
    val want = pairs.filter(p => minD(p._1) == p._3).toSet
    assert(got == want)
  }

  test("multiinterOf: loud bound on the set-count dimension") {
    val s = spark
    import s.implicits._
    val one = Seq(("chr1", 1L, 5L)).toDF("chrom", "start", "end")
    val e = intercept[IllegalArgumentException] {
      IntervalOps.multiinterOf((1 to 65).map(i => s"s$i" -> one))
    }
    assert(e.getMessage.contains("64"))
    // 64 exactly still works
    assert(IntervalOps.multiinterOf((1 to 64).map(i => s"s$i" -> one))
      .count() == 1L)
  }

  test("complement with custom coordinate names AND chromSizes") {
    val s = spark
    import s.implicits._
    // regression: the boundary-span aggregate must read coverage's
    // literal "start"/"end" output names, not the caller's names —
    // with start = "lo" this threw AnalysisException
    val iv = Seq(("chr1", 10L, 20L), ("chr1", 30L, 40L))
      .toDF("contig", "lo", "hi")
    val sizes = Seq(("chr1", 100L), ("chrM", 16L)).toDF("contig", "size")
    val got = IntervalOps.complement(iv, chrom = "contig", start = "lo",
        end = "hi", chromSizes = Some(sizes))
      .orderBy("contig", "start")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == Seq(
      ("chr1", 0L, 10L), ("chr1", 20L, 30L), ("chr1", 40L, 100L),
      ("chrM", 0L, 16L)))
  }
}
