package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSuite

/** Width independence of the six range sweeps: every sweep must return
  * the same rows at any range-partition width. Each property generates
  * small skewed inputs (one hot key holding most rows, null keys,
  * all-null value runs, widths wider than the data so some partitions
  * are empty), runs the operator at widths 1, 2 and 7 and at the
  * session default (the adaptive width), and compares each result with
  * a naive single-threaded Scala model of the operator's contract.
  *
  * The seed is fixed so the suite is deterministic; shrinking is off
  * because every trial runs Spark jobs. */
class SweepWidthPropertySpec extends SparkSuite {

  private val Widths = Seq(1, 2, 7, 0) // 0 = the session default

  private def check(name: String, prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10)
        .withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, s"$name: $res")
  }

  /** Rows as plain lists (arrays as lists), in a canonical order. */
  private def canon(rows: Seq[Seq[Any]]): Seq[List[Any]] =
    rows.map(_.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }.toList).sortBy(_.toString)

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map((r: Row) => r.toSeq)

  /** Runs `op` at every width and compares with the model. */
  private def atEveryWidth(model: Seq[Seq[Any]])(
      op: Int => DataFrame): Boolean = {
    val want = canon(model)
    Widths.forall { w =>
      val got = canon(rowsOf(op(w)))
      if (got != want)
        info(s"width $w:\n got  $got\n want $want")
      got == want
    }
  }

  // ---- timeline inputs for the fill family ----

  /** (key, pos, id, fwd, bwd, probe); ids are unique, so (pos, id) is a
    * total order inside a key. */
  private type Ev = (Option[String], Int, Long, Option[Int], Option[Int],
    Boolean)

  private val genEvents: Gen[Seq[Ev]] = for {
    n <- Gen.chooseNum(0, 120)
    // per-trial null rates: 1.0 makes the whole column an all-null run
    fwdNull <- Gen.oneOf(0.3, 0.8, 1.0)
    bwdNull <- Gen.oneOf(0.3, 0.8, 1.0)
    rows <- Gen.listOfN(n, for {
      k <- Gen.frequency(7 -> Gen.const(Option("hot")),
        2 -> Gen.oneOf("a", "b", "c").map(Option(_)),
        1 -> Gen.const(Option.empty[String]))
      pos <- Gen.chooseNum(0, 40)
      f <- Gen.chooseNum(0.0, 1.0).flatMap(u =>
        if (u < fwdNull) Gen.const(None) else Gen.chooseNum(0, 99).map(Some(_)))
      b <- Gen.chooseNum(0.0, 1.0).flatMap(u =>
        if (u < bwdNull) Gen.const(None) else Gen.chooseNum(0, 99).map(Some(_)))
      p <- Gen.oneOf(true, false)
    } yield (k, pos, f, b, p))
  } yield rows.zipWithIndex.map { case ((k, pos, f, b, p), i) =>
    (k, pos, i.toLong, f, b, p)
  }

  private def eventsDf(evs: Seq[Ev]): DataFrame = {
    val s = spark
    import s.implicits._
    evs.toDF("k", "pos", "id", "f", "b", "p")
  }

  /** Each key's rows in (pos, id) order. */
  private def timelines(evs: Seq[Ev]): Seq[Seq[Ev]] =
    evs.groupBy(_._1).values.toSeq.map(_.sortBy(e => (e._2, e._3)))

  private def evRow(e: Ev, f: Option[Int], b: Option[Int]): Seq[Any] =
    Seq(e._1.orNull, e._2, e._3, f.getOrElse(null), b.getOrElse(null),
      e._6)

  /** fwd = latest non-null at-or-before, bwd = earliest non-null
    * at-or-after; only probes are filled when `probesOnly`. */
  private def modelFillBoth(evs: Seq[Ev], probesOnly: Boolean)
      : Seq[Seq[Any]] = timelines(evs).flatMap { tl =>
    tl.indices.map { i =>
      val e = tl(i)
      if (probesOnly && !e._6) evRow(e, e._4, e._5)
      else evRow(e, tl.take(i + 1).flatMap(_._4).lastOption,
        tl.drop(i).flatMap(_._5).headOption)
    }
  }

  private val order = Seq(col("pos").asc, col("id").asc)

  test("fill is width-independent") {
    check("fill", Prop.forAllNoShrink(genEvents) { evs =>
      val want = modelFillBoth(evs, probesOnly = false)
        .map(r => r.updated(4,
          evs.find(_._3 == r(2)).get._5.getOrElse(null)))
      atEveryWidth(want)(w =>
        RangeFill.fill(eventsDf(evs), "k", "f", order, w))
    })
  }

  test("fillBoth is width-independent, with and without probeCol") {
    check("fillBoth", Prop.forAllNoShrink(genEvents) { evs =>
      atEveryWidth(modelFillBoth(evs, probesOnly = false))(w =>
        RangeFill.fillBoth(eventsDf(evs), "k", "f", "b", order, w)) &&
        atEveryWidth(modelFillBoth(evs, probesOnly = true))(w =>
          RangeFill.fillBoth(eventsDf(evs), "k", "f", "b", order, w,
            probeCol = Some("p")))
    })
  }

  test("fillBothK is width-independent") {
    val gen = for {
      evs <- genEvents
      k <- Gen.chooseNum(1, 3)
      probes <- Gen.oneOf(true, false)
    } yield (evs, k, probes)
    check("fillBothK", Prop.forAllNoShrink(gen) { case (evs, k, probes) =>
      val want = timelines(evs).flatMap { tl =>
        tl.indices.map { i =>
          val e = tl(i)
          evRow(e, e._4, e._5) ++ (
            if (probes && !e._6) Seq(null, null)
            else Seq(tl.take(i + 1).flatMap(_._4).reverse.take(k),
              tl.drop(i).flatMap(_._5).take(k)))
        }
      }
      atEveryWidth(want)(w =>
        RangeFill.fillBothK(eventsDf(evs), "k", "f", "b", "lk", "nk", k,
          order, w, probeCol = if (probes) Some("p") else None))
    })
  }

  // ---- interval inputs for merge / coverage / multiinter ----

  /** (set, chrom, start, end); inverted rows and nulls included. */
  private type Iv = (Option[String], Option[String], Option[Long],
    Option[Long])

  private val genIntervals: Gen[Seq[Iv]] = for {
    n <- Gen.chooseNum(0, 100)
    rows <- Gen.listOfN(n, for {
      set <- Gen.frequency(9 -> Gen.oneOf("x", "y", "z").map(Option(_)),
        1 -> Gen.const(Option.empty[String]))
      c <- Gen.frequency(7 -> Gen.const(Option("chr1")),
        2 -> Gen.oneOf("chr2", "chr3").map(Option(_)),
        1 -> Gen.const(Option.empty[String]))
      st <- Gen.chooseNum(0L, 300L)
      len <- Gen.chooseNum(-5L, 40L)
      nullCoord <- Gen.chooseNum(0, 19)
    } yield (set, c, if (nullCoord == 0) None else Some(st),
      if (nullCoord == 1) None else Some(st + len)))
  } yield rows

  private def intervalsDf(ivs: Seq[Iv]): DataFrame = {
    val s = spark
    import s.implicits._
    ivs.toDF("set", "chrom", "start", "end")
  }

  /** Non-null (chrom, start, clamped end) per contig, sorted. */
  private def contigs(ivs: Seq[Iv]): Map[String, Seq[(Long, Long,
      Option[String])]] =
    ivs.collect { case (set, Some(c), Some(s), Some(e)) =>
      (c, (s, math.max(s, e), set))
    }.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sorted }

  test("mergeIntervalsRange is width-independent, maxGap 0 and > 0") {
    val gen = for {
      ivs <- genIntervals
      gap <- Gen.oneOf(0L, 0L, 3L, 25L)
    } yield (ivs, gap)
    check("merge", Prop.forAllNoShrink(gen) { case (ivs, gap) =>
      val want = contigs(ivs).toSeq.flatMap { case (c, xs) =>
        xs.foldLeft(List.empty[(Long, Long, Long)]) {
          case ((gs, ge, gn) :: done, (s, e, _)) if s <= ge + gap =>
            (gs, math.max(ge, e), gn + 1L) :: done
          case (acc, (s, e, _)) => (s, e, 1L) :: acc
        }.map { case (s, e, n) => Seq(c, s, e, n) }
      }
      atEveryWidth(want)(w =>
        IntervalOps.mergeIntervalsRange(intervalsDf(ivs), partitions = w,
          maxGap = gap))
    })
  }

  /** Net per-position deltas of one contig, keyed by `label`. */
  private def netDeltas[L](xs: Seq[(Long, Long, Option[String])],
      label: Option[String] => L): Seq[(Long, Map[L, Long])] =
    xs.flatMap { case (s, e, set) => Seq((s, label(set), 1L),
      (e, label(set), -1L)) }
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sum)
      .filter(_._2 != 0L).toSeq
      .groupBy(_._1._1).toSeq.sortBy(_._1)
      .map { case (p, ds) => p -> ds.map(d => d._1._2 -> d._2).toMap }

  test("coverage is width-independent") {
    check("coverage", Prop.forAllNoShrink(genIntervals) { ivs =>
      val want = contigs(ivs).toSeq.flatMap { case (c, xs) =>
        val bps = netDeltas(xs, _ => ())
        val depths = bps.scanLeft(0L)(_ + _._2(()))
        bps.zip(bps.drop(1)).zip(depths.drop(1)).map {
          case (((p, _), (q, _)), d) => Seq(c, p, q, d)
        }
      }
      atEveryWidth(want)(w =>
        IntervalOps.coverage(intervalsDf(ivs).drop("set"), partitions = w))
    })
  }

  test("multiinter is width-independent") {
    check("multiinter", Prop.forAllNoShrink(genIntervals) { ivs =>
      val labelled = ivs.filter(_._1.isDefined)
      val want = contigs(labelled).toSeq.flatMap { case (c, xs) =>
        val bps = netDeltas(xs, _.get)
        val depths = bps.scanLeft(Map.empty[String, Long]) {
          case (acc, (_, ds)) =>
            ds.foldLeft(acc) { case (m, (set, d)) =>
              m.updated(set, m.getOrElse(set, 0L) + d)
            }.filter(_._2 != 0L)
        }
        bps.zip(bps.drop(1)).zip(depths.drop(1)).collect {
          case (((p, _), (q, _)), d) if d.nonEmpty =>
            Seq(c, p, q, d.size.toLong, d.keys.toSeq.sorted.mkString(","))
        }
      }
      atEveryWidth(want)(w =>
        IntervalOps.multiinter(intervalsDf(ivs), partitions = w))
    })
  }
}
