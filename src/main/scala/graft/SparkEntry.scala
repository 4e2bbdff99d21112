package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GenomicFunctions._
import graft.operators.{IntervalJoin, Multimodal, Similarity, TextOps}

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2 + the LLM-data-pipeline extension layer), each with an
  * equivalent DuckDB oracle in [[SparkEntry.oracleSql]].
  *
  * Determinism rules shared with the oracles: every query ends in a full
  * ORDER BY; money/ratio/similarity aggregates are rounded (2/4/6 dp);
  * integer sums are exact; all column names match the oracle exactly.
  */
object SparkEntry {

  private def pq(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Doc ids for the synthetic media-asset generators, spread over the
    * session's shuffle width BEFORE the per-doc encode work:
    * documents.parquet is one small file, so the narrow mapPartitions
    * pipelines downstream otherwise run as a single task — q62's
    * JPEG+MP4 build and decode measured 2.7 s single-threaded on a
    * 32-core session (r22). Hash repartition on the deterministic
    * doc_id (guide §2.5 — never round-robin on re-runnable stages);
    * the shuffle moves 8-byte ids, the heavy payloads are built after
    * it. Per-doc outputs are id-deterministic, so results are
    * identical at any width. */
  private def docIds(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Long] = {
    import s.implicits._
    val base = pq(s, dir, "documents").select(col("doc_id").cast("long"))
    // default width: at least 8-way for the encode stage (the r22
    // interleaved A/B optimum on one small input file — 32-way paid
    // more task overhead than it bought on every generator), never
    // below the scan's own width, never above the session's shuffle
    // width (the 100 TB case: a many-file documents table keeps its
    // natural parallelism and the repartition is a cheap id shuffle).
    // 0 disables the repartition.
    val auto = math.min(s.sessionState.conf.numShufflePartitions,
      math.max(8, base.rdd.getNumPartitions))
    val n = scala.util.Try(
      s.conf.get("spark.graft.media.genPartitions", auto.toString).toInt)
      .getOrElse(auto)
    (if (n > 0) base.repartition(n, col("doc_id")) else base).as[Long]
  }

  /** The events table's `ts` has shipped in three physical shapes across
    * testdata generations: nanosecond parquet timestamps read as a raw
    * long (`spark.sql.legacy.parquet.nanosAsLong`, set in Verify/Bench
    * sessions), TIMESTAMP_NTZ, and plain TIMESTAMP. Normalize all three
    * to TimestampType so `unix_micros`/watermarks type-check: the long
    * path uses exact integer arithmetic (`ts div 1000` stays in Long — a
    * double division would lose precision above 2^53), and the NTZ cast
    * is deterministic because the gate sessions run with a UTC session
    * timezone, matching the oracle's naive-timestamp epoch math. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val raw = pq(s, dir, "events")
    // the ONE ts-normalization definition, shared with the streaming
    // drivers so batch and streaming can never diverge on the same input
    graft.streaming.EventStream.normalizeTs(raw, raw.schema)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q03_join_revenue(spark, "/root/testdata/sf0.001")

  // ====================================================================
  // Relational layer (Catalyst built-ins; SURVEY §2.6)
  // ====================================================================

  /** TPC-H-Q1-style pricing summary: filter → partial-aggregated groupBy. */
  private def q01_agg_pricing(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Filter + projection pushdown to the parquet scan, then top-k. */
  private def q02_filter_topk(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("l_quantity"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"))
      .limit(100)

  /** Multi-way join: fact table joined to broadcast dimensions, then agg. */
  private def q03_join_revenue(s: SparkSession, dir: String): DataFrame = {
    val li = pq(s, dir, "lineitem")
    val o = pq(s, dir, "orders")
    val c = pq(s, dir, "customer")
    val n = broadcast(pq(s, dir, "nation"))
    val r = broadcast(pq(s, dir, "region"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Broadcast-hash join of fact to a small dimension. */
  private def q04_broadcast_part(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "lineitem")
      .join(broadcast(pq(s, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("p_brand"))

  /** Window function: top-3 orders per customer. */
  private def q05_window_topn(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    pq(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("rn").cast("long").as("rn"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Set operations: INTERSECT and EXCEPT of yearly customer sets. */
  private def q06_setops(s: SparkSession, dir: String): DataFrame = {
    val o = pq(s, dir, "orders")
    val y95 = o.where(year(col("o_orderdate")) === 1995)
      .select(col("o_custkey")).distinct()
    val y96 = o.where(year(col("o_orderdate")) === 1996)
      .select(col("o_custkey")).distinct()
    y95.intersect(y96).withColumn("op", lit("both"))
      .unionAll(y95.except(y96).withColumn("op", lit("only95")))
      .orderBy(col("op"), col("o_custkey"))
  }

  /** Distinct (dropDuplicates) over a projection. */
  private def q07_distinct(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct()
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  /** Left-semi join (EXISTS). */
  private def q08_semi_join(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "customer")
      .join(pq(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .join(broadcast(pq(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_name"))

  /** Left-anti join (NOT EXISTS). */
  private def q09_anti_join(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "customer")
      .join(pq(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(pq(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_name"))

  /** ROLLUP grouping sets. */
  private def q10_rollup(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("returnflag"), col("linestatus"))

  /** Tumbling event-time window aggregation (batch analogue). */
  private def q11_time_window(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("hour_start"), col("event_type"))

  /** Gap-based sessionization (30-min inactivity) via window functions. */
  private def q12_sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    events(s, dir)
      .withColumn("tus", unix_micros(col("ts")))
      .withColumn("new_session",
        when(col("tus") - lag(col("tus"), 1).over(w) > 1800L * 1000000L, 1)
          .when(lag(col("tus"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).cast("long").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** As-of join: each event matched to the latest order of the same user
    * at or before the event time. Uses the union-timeline as-of operator
    * (`operators/AsofJoin.backward`): one shuffle on user_id, one
    * timeline sort per user, linear running fill — no per-event window
    * sort and no quadratic join intermediate on hot users. */
  private def q13_asof_join(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_id"), col("user_id"),
      col("ts"), col("value"))
    val o = pq(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
      col("o_orderdate"), col("o_totalprice"))
    graft.operators.AsofJoin.backward(e, o,
      probeKey = "user_id", refKey = "o_custkey",
      probeTime = "ts", refTime = "o_orderdate",
      tieBreak = Seq("o_orderdate", "o_orderkey"))
      .where(col("o_orderkey").isNotNull) // inner as-of semantics
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_matched"),
        round(sum(col("o_totalprice")), 2).as("sum_matched_price"))
      .orderBy(col("user_id"))
  }

  // ====================================================================
  // Genomic layer over derived intervals (SURVEY §2.3/§2.6/§2.7)
  // ====================================================================

  /** Derived interval set A (from lineitem): deterministic, shared with the
    * oracle. Zero-based half-open on 4 synthetic chromosomes of 10 Mbp. */
  private[graft] def intervalsA(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "lineitem").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("iv_id"),
      concat(lit("chr"), (col("l_orderkey") % 4).cast("string")).as("chrom"),
      ((col("l_partkey") * 12347) % 10000000L).as("start"),
      (((col("l_partkey") * 12347) % 10000000L) + 50 +
        floor(col("l_quantity")) * 10).as("end"))

  /** Derived interval set C (from customer) — the probe side of the
    * q77/q79 bedtools gates, shared with their oracles AND with the
    * x77 skew bench twin (which overrides only the chromosome). */
  private[graft] def intervalsC(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "customer").select(
      col("c_custkey").as("aid"),
      concat(lit("chr"), (col("c_custkey") % 4).cast("string"))
        .as("chrom"),
      ((col("c_custkey") * 5557) % 10000000L).as("start"),
      (((col("c_custkey") * 5557) % 10000000L) + 30 +
        col("c_custkey") % 300).as("end"))

  /** Derived interval set B (from orders). */
  private[graft] def intervalsB(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "orders").select(
      col("o_orderkey").as("iv_id"),
      concat(lit("chr"), (col("o_orderkey") % 4).cast("string")).as("chrom"),
      ((col("o_custkey") * 9973) % 10000000L).as("start"),
      (((col("o_custkey") * 9973) % 10000000L) + 200).as("end"))

  /** Distributed interval-overlap join (binned equi-join, §2.6). */
  private def q14_interval_join(s: SparkSession, dir: String): DataFrame = {
    val a = intervalsA(s, dir)
      .withColumnRenamed("iv_id", "a_id")
      .withColumnRenamed("start", "a_start").withColumnRenamed("end", "a_end")
    val b = intervalsB(s, dir)
      .withColumnRenamed("iv_id", "b_id").withColumnRenamed("chrom", "b_chrom")
      .withColumnRenamed("start", "b_start").withColumnRenamed("end", "b_end")
    IntervalJoin.overlapJoin(a, b,
        leftCols = ("chrom", "a_start", "a_end"),
        rightCols = ("b_chrom", "b_start", "b_end"), binSize = 1000L)
      .groupBy(col("chrom"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(least(col("a_end"), col("b_end")) -
          greatest(col("a_start"), col("b_start"))).as("sum_overlap"))
      .orderBy(col("chrom"))
  }

  /** parse_region expression over UCSC strings (coords.rs semantics). */
  private def q15_parse_region(s: SparkSession, dir: String): DataFrame = {
    val regions = intervalsB(s, dir).select(
      // UCSC one-based closed notation for [start, end)
      concat(col("chrom"), lit(":"), (col("start") + 1).cast("string"),
        lit("-"), col("end").cast("string")).as("region_str"))
    regions
      .select(parse_region(col("region_str")).as("r"))
      .groupBy(col("r.chrom").as("chrom"))
      .agg(count(lit(1)).as("n_regions"),
        sum(col("r.end") - col("r.start")).as("sum_span"),
        min(col("r.start")).as("min_start"),
        max(col("r.end")).as("max_end"))
      .orderBy(col("chrom"))
  }

  /** BBI-zoom-style multi-resolution rollup (SURVEY §2.1 S18) with the
    * CLIPPED per-base accounting of real zoom records: intervals
    * straddling a 100 kb bin boundary must contribute to both bins,
    * with covered bases split at the boundary — the oracle explodes
    * the same bin ranges with generate_series. The per-base value is
    * integral (floor(l_quantity)), so the double sums are exact and
    * the BIGINT casts deterministic in both engines. */
  private def q16_zoom_rollup(s: SparkSession, dir: String): DataFrame = {
    val iv = pq(s, dir, "lineitem").select(
      concat(lit("chr"), (col("l_orderkey") % 4).cast("string"))
        .as("chrom"),
      ((col("l_partkey") * 12347) % 10000000L).as("start"),
      (((col("l_partkey") * 12347) % 10000000L) + 50 +
        floor(col("l_quantity")) * 10).as("end"),
      floor(col("l_quantity")).cast("double").as("v"))
    IntervalJoin.zoomRollup(iv, resolution = 100000L, value = Some("v"))
      .select(col("chrom"), col("bin_start"), col("n_records"),
        col("bases_covered"), col("min_val"), col("max_val"),
        col("sum_val").cast("long").as("sum_val"),
        col("sum_squares").cast("long").as("sum_squares"))
      .orderBy(col("chrom"), col("bin_start"))
  }

  /** SAM-flag bitfield helpers (samtools-flagstat-style counts). */
  private def q17_flagstat(s: SparkSession, dir: String): DataFrame = {
    val withFlag = pq(s, dir, "lineitem")
      .select((col("l_orderkey") % 4096).cast("int").as("flag"))
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    withFlag.agg(
      count(lit(1)).as("n_total"),
      cnt(flag_is_paired(col("flag"))).as("n_paired"),
      cnt(flag_is_proper_pair(col("flag"))).as("n_proper"),
      cnt(flag_is_unmapped(col("flag"))).as("n_unmapped"),
      cnt(flag_is_reverse(col("flag"))).as("n_reverse"),
      cnt(flag_is_secondary(col("flag"))).as("n_secondary"),
      cnt(flag_is_duplicate(col("flag"))).as("n_duplicate"))
  }

  /** CIGAR expressions: ref-length consumed + op counting. */
  private def q18_cigar(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "lineitem")
      .withColumn("cigar",
        concat(floor(col("l_quantity")).cast("string"), lit("M"),
          col("l_linenumber").cast("string"), lit("S"),
          (col("l_suppkey") % 7).cast("string"), lit("D")))
      .withColumn("ref_len", cigar_ref_len(col("cigar")))
      .withColumn("n_ops", size(cigar_ops(col("cigar"))))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("ref_len")).as("sum_ref_len"),
        sum(col("n_ops")).cast("long").as("sum_ops"),
        count(lit(1)).as("n_records"))
      .orderBy(col("l_returnflag"))

  // ====================================================================
  // LLM-data-pipeline layer (dedup / text / similarity / multimodal)
  // ====================================================================

  /** Text statistics per language (token counting, char stats). */
  private def q19_text_stats(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text"))).cast("long").as("n_tokens"),
        round(avg(length(col("text"))), 4).as("avg_chars"),
        round(avg(TextOps.meanTokenLen(col("text"))), 4).as("avg_word_len"))
      .orderBy(col("lang"))

  /** BPE-style vs whitespace token accounting per source — the LLM cost
    * proxy over the corpus (regex pre-tokenizer, letter/digit/punct). */
  private def q31_token_regex(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text"))).cast("long").as("ws_tokens"),
        sum(TextOps.bpeTokenCount(col("text"))).cast("long").as("bpe_tokens"))
      .orderBy(col("source"))

  /** Winnowing (rolling-hash) fingerprint statistics per source: count
    * and checksum of the MOSS-style k-gram window-min fingerprints.
    * Shared by the gated q32 (md5, oracle-reproducible) and the bench
    * twin x32 (fast path) so the pair differs ONLY in hash family —
    * the x32/q32 delta then prices exactly that choice, not a
    * divergent aggregate shape. */
  private[graft] def winnowStats(s: SparkSession, dir: String,
      fastHash: Boolean, sort: Boolean = true,
      checksum: Boolean = true): DataFrame = {
    // `sort`/`checksum` exist ONLY for the bench's x32b/x32c
    // decomposition twins (Bench.fastPathBenches) — sharing this one
    // body keeps the diagnostic rows structurally identical to the
    // gated query by construction. Gates always use the defaults.
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum(size(col("fp"))).cast("long").as("n_fps")) ++
      (if (checksum) Seq(
        // codegen'd array sum — `aggregate(fp, 0L, +)` is
        // CodegenFallback and its interpreted per-element boxing
        // DOMINATED the fast-hash twin x32 (the winnow kernel is
        // cheap); values identical (graft.functions.VectorKernels)
        sum(org.apache.spark.sql.graftshim.ColumnShim.column(
            graft.functions.VectorFunctions.ArraySumLong(
              org.apache.spark.sql.graftshim.ColumnShim
                .expression(col("fp")))))
          .cast("long").as("fp_checksum"))
      else Nil)
    val grouped = pq(s, dir, "documents")
      .select(col("source"),
        TextOps.winnowFingerprints(col("text"), fastHash = fastHash).as("fp"))
      .groupBy(col("source"))
      .agg(aggs.head, aggs.tail: _*)
    if (sort) grouped.orderBy(col("source")) else grouped
  }

  private def q32_winnow(s: SparkSession, dir: String): DataFrame =
    winnowStats(s, dir, fastHash = false)

  /** Heuristic quality scoring per source. */
  private def q20_quality(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "documents")
      .withColumn("q", TextOps.qualityScore(col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("q")), 4).as("avg_quality"),
        sum(when(col("q") > 0.5, 1L).otherwise(0L)).as("n_high"))
      .orderBy(col("source"))

  /** Marker-based language identification vs the labeled column. */
  private def q21_langid(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "documents")
      .withColumn("predicted", TextOps.langId(col("text")))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))

  /** Exact-dedup fingerprints (md5 of normalized text). */
  private def q22_fingerprint(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "documents")
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Deterministic weighted train/val/test assignment
    * ([[graft.operators.TextOps.hashSplit]]): per-split doc counts and
    * token totals; the md5-derived bucket math is mirrored exactly by
    * the oracle, so the assignment itself is what is checked. */
  private def q43_hash_split(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "documents")
      .withColumn("split", TextOps.hashSplit(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"))
      .orderBy(col("split"))

  /** Repetition quality filters ([[graft.operators.TextOps
    * .repetitionStats]]): Gopher-style duplicate-word, top-bigram and
    * repeated-bigram fractions per document — the signals a curation
    * pipeline drops boilerplate and degenerate pages with. */
  private def q46_repetition(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionStats(pq(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Corpus-relative unigram log-probability ([[graft.operators.TextOps
    * .unigramLogProb]]): the curation-pipeline "perplexity filter" —
    * docs whose words are atypical for the corpus score low. */
  private def q47_unigram_lm(s: SparkSession, dir: String): DataFrame =
    TextOps.unigramLogProb(pq(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Benchmark decontamination ([[graft.operators.TextOps
    * .decontaminate]]): docs with `doc_id % 20 == 0` stand in for an
    * eval set; every remaining doc sharing a 13-gram with one of them
    * is removed — the GPT-3-style overlap rule that keeps test text out
    * of training data. */
  private def q48_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = pq(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    TextOps.decontaminate(corpus, bench, "doc_id", "text", fastHash = false)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget shard packing ([[graft.operators.TextOps
    * .packShards]]): deterministic training-shard assignment by fixed
    * token offsets, computed with the two-pass distributed prefix sum
    * (literal range bounds + per-bucket windows) instead of a
    * single-partition global window. */
  private def q49_shard_pack(s: SparkSession, dir: String): DataFrame =
    TextOps.packShards(pq(s, dir, "documents"), "doc_id", "text", 1000L)
      .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
        col("shard_id"))
      .orderBy(col("doc_id"))

  /** Leakage-safe splitting ([[graft.operators.TextOps
    * .leakageSafeSplit]]): near-dup clusters (same LSH pair graph as
    * q37/q40) assigned to train/val/test as units, so near-duplicates
    * never straddle train and eval. */
  private def q50_leakage_split(s: SparkSession, dir: String): DataFrame = {
    val docs = pq(s, dir, "documents")
    val pairs = TextOps.lshCandidatePairs(
      TextOps.minhashSignatures(docs, "doc_id", "text", 8, fastHash = false),
      "doc_id", k = 8, bandSize = 2)
    TextOps.leakageSafeSplit(docs, pairs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .orderBy(col("doc_id"))
  }

  /** Per-source quota cap ([[graft.operators.TextOps.capPerKey]]): at
    * most 30 docs per source, deterministic by doc_id — the canonical
    * curation "at most N per domain" operator. */
  private def q44_source_cap(s: SparkSession, dir: String): DataFrame =
    TextOps.capPerKey(pq(s, dir, "documents"), "source", "doc_id", 30)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        max(col("doc_id")).as("max_kept_id"))
      .orderBy(col("source"))

  /** Embedding-cosine near-duplicate clustering
    * ([[graft.operators.Similarity.embeddingDedupClusters]]): the corpus
    * is doubled with a perturbed copy (ids offset by 1e9 — past any
    * test-SF id range, so plants can never collide with base ids the
    * way a +1000 offset silently did at sf0.1 — cosine ≈ 0.9996 to the
    * original — the q33 planting scheme), and banded-LSH candidates +
    * exact cosine ≥ 0.9 + star contraction must pair each original with
    * its plant; the oracle mirrors bands, cosine and transitive closure
    * exactly, so candidate generation itself is what is checked. */
  private def q45_embed_dedup(s: SparkSession, dir: String): DataFrame =
    embedDedup(s, dir, persistInput = None)

  /** q45's body with the persist knob exposed: the bench-only x45 twin
    * prices `persistInput` (one materialized normed projection vs ~4
    * recomputed corpus passes) on the identical plan; results are
    * byte-identical either way, so only the gate's default-path variant
    * needs an oracle row. */
  private[graft] def embedDedup(s: SparkSession, dir: String,
      persistInput: Option[org.apache.spark.storage.StorageLevel])
      : DataFrame = {
    val mult = array(Similarity.perturbMultipliers(99L, 64)
      .map(lit).toIndexedSeq: _*)
    val base = pq(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("vec"))
    val planted = base.select((col("vec_id") + 1000000000L).as("vec_id"),
      zip_with(col("vec"), mult, (x, m) => x * m).as("vec"))
    Similarity.embeddingDedupClusters(base.unionAll(planted),
      "vec_id", "vec", threshold = 0.9, dim = 64,
      persistInput = persistInput)
      .orderBy("vec_id")
  }

  /** MinHash signatures (k=8) per document. */
  private def q23_minhash_sig(s: SparkSession, dir: String): DataFrame =
    TextOps.minhashSignatures(pq(s, dir, "documents"), "doc_id", "text",
        k = 8, fastHash = false)
      .orderBy(col("doc_id"))

  /** MinHash-LSH near-duplicate candidate pairs (4 bands × 2 rows). */
  private def q24_neardup_pairs(s: SparkSession, dir: String): DataFrame =
    TextOps.lshCandidatePairs(
        TextOps.minhashSignatures(pq(s, dir, "documents"), "doc_id", "text", 8,
          fastHash = false),
        "doc_id", k = 8, bandSize = 2)
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash (16-bit) per document. */
  private def q25_simhash(s: SparkSession, dir: String): DataFrame =
    TextOps.simhash(pq(s, dir, "documents"), "doc_id", "text", bits = 16,
        fastHash = false)
      .orderBy(col("doc_id"))

  /** Exact n-gram Jaccard verification of the LSH candidates. */
  private def q26_ngram_jaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = pq(s, dir, "documents")
    val sh = docs.select(col("doc_id"),
      TextOps.shingles(col("text")).as("sh"))
    val pairs = TextOps.lshCandidatePairs(
      TextOps.minhashSignatures(docs, "doc_id", "text", 8, fastHash = false),
      "doc_id", k = 8, bandSize = 2)
    pairs
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(TextOps.jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Brute-force cosine top-k (exact ANN baseline). */
  private def q27_cosine_topk(s: SparkSession, dir: String): DataFrame = {
    val e = pq(s, dir, "embeddings")
    val q = e.where(col("vec_id") < 8).select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), Similarity.norm(col("embedding")).as("qn"))
    val c = e.where(col("vec_id") >= 8).select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), Similarity.norm(col("embedding")).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    q.crossJoin(c)
      .withColumn("sim",
        round(Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Seeded-hyperplane LSH approximate top-k (bucket equi-join through the
    * production [[Similarity.hyperplaneBucket]] expression; the banded
    * scale path is q33). */
  private def q28_ann_bucket(s: SparkSession, dir: String): DataFrame = {
    val e = pq(s, dir, "embeddings")
    val q = e.where(col("vec_id") < 16).select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), Similarity.norm(col("embedding")).as("qn"),
      Similarity.hyperplaneBucket(col("embedding"), 64, 6).as("bucket"))
    val c = e.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"), Similarity.norm(col("embedding")).as("cn"),
      Similarity.hyperplaneBucket(col("embedding"), 64, 6).as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    q.join(c, "bucket")
      .where(col("query_id") =!= col("cand_id"))
      .withColumn("sim",
        round(Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("cand_id"), col("sim"),
        col("bucket"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding near-dup pairs within seeded-hyperplane buckets. */
  private def q29_embed_neardup(s: SparkSession, dir: String): DataFrame = {
    val e = pq(s, dir, "embeddings")
    val v = e.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("n"),
      Similarity.hyperplaneBucket(col("embedding"), 64, 6).as("bucket"))
    val a = v.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      col("n").as("na"), col("bucket"))
    val b = v.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("n").as("nb"), col("bucket"))
    a.join(b, "bucket")
      .where(col("id_a") < col("id_b"))
      .withColumn("sim",
        round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .where(col("sim") >= 0.25)
      .select(col("id_a"), col("id_b"), col("sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Banded hyperplane-LSH ANN — the scale-honest production path
    * ([[Similarity.bandedTopK]]): 4 independent 16-bit band keys per
    * vector, candidates only where a band key collides (content-derived
    * cardinality, no capped bucket count), exact cosine rerank on the
    * candidate set. Queries are deterministic near-duplicates of 16 corpus
    * vectors (elementwise dyadic multipliers, cosine ≈ 0.9996), so the
    * banded index must actually recover each planted neighbor — an empty
    * or truncated result fails the oracle. */
  private def q33_ann_banded(s: SparkSession, dir: String): DataFrame = {
    val e = pq(s, dir, "embeddings")
    val mult = array(
      Similarity.perturbMultipliers(99L, 64).map(lit).toIndexedSeq: _*)
    val queries = e.where(col("vec_id") < 16).select(
      col("vec_id").as("id"),
      zip_with(col("embedding"), mult,
        (x, m) => x.cast("double") * m).as("vec"))
    val cands = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.bandedTopK(queries, cands, "id", "vec", k = 3, dim = 64)
      .withColumn("sim", round(col("sim"), 6))
      .withColumn("rank", col("rank").cast("long"))
      .select(col("query_id"), col("rank"), col("cand_id"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Real media-header decode over built-in-constructed payloads: even
    * docs become truecolor PNGs, odd docs grayscale JPEGs, with dims
    * derived from the text length; [[Multimodal.MediaDecoder]] parses the
    * PNG IHDR / JPEG SOF0 bytes back out (real header parsing — only
    * pixel-level features are stubbed). The oracle recomputes the dims
    * analytically, so a mis-offset in either the builder or the parser
    * fails the gate. */
  /** The ONE corpus definition behind the q34/q61 pair (full-decode vs
    * header-only path over the SAME assets and oracle): even docs become
    * truecolor PNGs, odd docs grayscale JPEGs, dims derived from the
    * text length. Shared so the two gates can never desynchronize. */
  private def mediaDimsAssets(docs: DataFrame): DataFrame = {
    val nb = octet_length(encode(col("text"), "UTF-8")).cast("long")
    val w = (nb % 64 + 1).cast("int")
    val h = (nb % 48 + 1).cast("int")
    docs.select(
      col("doc_id"),
      when(col("doc_id") % 2 === 0, "image/png")
        .otherwise("image/jpeg").as("mime"),
      when(col("doc_id") % 2 === 0, Multimodal.pngPayload(w, h))
        .otherwise(Multimodal.jpegPayload(w, h)).as("payload"))
  }

  /** The shared dims rollup for the q34/q61 pair. */
  private def dimsRollup(feats: DataFrame): DataFrame =
    feats
      .groupBy(col("mime"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_channels").cast("long").as("n_channels"),
        col("bit_depth").cast("long").as("bit_depth"))
      .agg(count(lit(1)).as("n_assets"))
      .orderBy(col("mime"), col("width"), col("height"))

  private def q34_media_dims(s: SparkSession, dir: String): DataFrame = {
    val assets = mediaDimsAssets(pq(s, dir, "documents"))
    dimsRollup(Multimodal.extractFeatures(s,
      Multimodal.toAssets(assets, "doc_id", "mime", "payload")).toDF())
  }

  /** q34's corpus through the METADATA-ONLY path
    * ([[Multimodal.extractDims]] — pure header parsers, no ImageIO
    * probe): same analytic oracle as q34, so the dims-only operator is
    * correctness-gated in its own right, and its standing bench row
    * prices the skipped pixel probe against q34's full-decode cost. */
  private def q61_media_dims_hdr(s: SparkSession, dir: String): DataFrame = {
    val assets = mediaDimsAssets(pq(s, dir, "documents"))
    dimsRollup(Multimodal.extractDims(s,
      Multimodal.toAssets(assets, "doc_id", "mime", "payload")).toDF())
  }

  /** Structured Streaming driven to completion and oracle-checked: the
    * same 1-hour tumbling windows as q11 computed by a REAL streaming
    * query (file source → AvailableNow → complete-mode memory sink,
    * [[graft.streaming.EventStream.windowedCountsToCompletion]]); the
    * final table must match DuckDB's batch aggregation over the same
    * rows. Streaming forbids exact distinct aggregates, so this query
    * carries no n_users column. */
  private def q35_stream_window(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream
      .windowedCountsToCompletion(s, s"$dir/events.parquet")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour_start"),
        col("event_type"), col("n_events"),
        round(col("sum_raw"), 2).as("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))

  /** Streaming watermarked dedup driven to completion (the streaming
    * face of q22's batch dedup, [[graft.streaming.EventStream
    * .dedupToCompletion]]): the stream reads every event TWICE and
    * `withWatermark + dropDuplicates(event_id)` must reduce it back to
    * the source's distinct rows — DuckDB sees the single-copy table, so
    * a no-op dedup fails the row count. */
  private def q38_stream_dedup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream
      .dedupToCompletion(s, s"$dir/events.parquet")
      .select(col("event_id"), col("event_type"),
        round(col("value"), 2).as("value_r"))
      .orderBy(col("event_id"))

  /** Custom-state sessionization driven to completion
    * ([[graft.streaming.EventStream.sessionizeToCompletion]]:
    * flatMapGroupsWithState with an event-time timeout, sentinel-flushed
    * watermark): the per-user session counts must equal the batch
    * window-function sessionization q12 computes — one oracle, two
    * independent formulations (batch window scan vs streaming custom
    * state). */
  private def q42_stream_sessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream
      .sessionizeToCompletion(s, s"$dir/events.parquet")
      .orderBy(col("user_id"))

  /** Audio/video header metadata (REAL WAV RIFF and MP4 box parsing —
    * [[graft.operators.Multimodal.MediaDecoder]]): payloads are built
    * from doc-derived formulas with Spark built-ins, parsed back per
    * partition, and the aggregate must reproduce the formulas DuckDB
    * computes directly. */
  private def q39_av_meta(s: SparkSession, dir: String): DataFrame = {
    val docs = pq(s, dir, "documents")
    val nb = octet_length(encode(col("text"), "UTF-8")).cast("long")
    val assets = docs.select(
      col("doc_id"),
      when(col("doc_id") % 2 === 0, "audio/wav")
        .otherwise("video/mp4").as("mime"),
      when(col("doc_id") % 2 === 0,
        graft.operators.Multimodal.wavPayload(
          (lit(8000) * (lit(1) + nb % 3)).cast("int"),
          (lit(1) + nb % 2).cast("int"),
          (lit(8) * (lit(1) + nb % 2)).cast("int"), nb))
      .otherwise(graft.operators.Multimodal.mp4Payload(
          (nb % 128 + 16).cast("int"), (nb % 96 + 16).cast("int"),
          (nb * 10).cast("int"))).as("payload"))
    val meta = graft.operators.Multimodal.extractAvMeta(s,
      graft.operators.Multimodal.toAssets(assets, "doc_id", "mime",
        "payload"))
    meta.toDF()
      .groupBy(col("kind"), col("sample_rate"), col("channels"),
        col("bits"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("n_frames")).as("sum_frames"),
        sum(col("duration_ms")).as("sum_duration_ms"),
        sum(col("width")).as("sum_width"),
        sum(col("height")).as("sum_height"))
      .orderBy(col("kind"), col("sample_rate"), col("channels"),
        col("bits"))
  }

  /** REAL pixel decode oracle ([[graft.operators.Multimodal.MediaDecoder
    * .pixelDecode]] — the JDK's ImageIO, not a stub): each doc becomes a
    * two-tone truecolor PNG encoded executor-side (left half gray `a`,
    * right half gray `b`, both id-derived), and the decoded mean
    * luminance plus the left/right 4×2-thumbnail cells must reproduce
    * the closed-form values DuckDB computes directly. The width is a
    * multiple of 4 so thumbnail cells never straddle the tone boundary;
    * brightness/thumbnail sums are single fused divisions of exact
    * integer sums, so Spark and DuckDB round identical doubles. The
    * left/right cells also pin ORIENTATION: a mirrored or transposed
    * unfilter swaps them. */
  private def q56_media_pixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docIds(s, dir)
    val assets = ids.mapPartitions { it =>
      it.map { id =>
        val w = (4 * (id % 4 + 1)).toInt
        val h = (id % 6 + 1).toInt
        val a = (id % 256).toInt
        val b = ((id * 31) % 256).toInt
        (id, "image/png", Multimodal.encodeTwoTonePng(w, h, a, b))
      }
    }.toDF("doc_id", "mime", "payload")
    Multimodal.extractFeatures(s,
        Multimodal.toAssets(assets, "doc_id", "mime", "payload"))
      .toDF()
      .select(col("asset_id").as("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        round(col("brightness"), 6).as("brightness"),
        // embedding cells are floats ([-1,1]); 3 dp keeps a ~16x margin
        // over float quantization at every possible cell value
        round(element_at(col("embedding"), 1).cast("double"), 3)
          .as("emb_left"),
        round(element_at(col("embedding"), 4).cast("double"), 3)
          .as("emb_right"))
      .orderBy(col("doc_id"))
  }

  /** REAL PCM sample decode oracle ([[graft.operators.Multimodal
    * .MediaDecoder.wavPcmFeatures]]): each doc becomes a WAV whose data
    * chunk carries id-derived samples (8-bit unsigned for even ids,
    * 16-bit signed LE for odd), encoded executor-side; decoded RMS and
    * peak must equal DuckDB's closed-form aggregation over the same
    * sample formula. Normalizers are powers of two and squares exact
    * dyadic rationals, so both engines' sum/avg/sqrt round identically. */
  private def q57_wav_pcm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docIds(s, dir)
    val assets = ids.mapPartitions { it =>
      it.map { id =>
        val n = (id % 64 + 1).toInt
        val bits = if (id % 2 == 0) 8 else 16
        val samples = Array.tabulate(n) { i =>
          if (bits == 8) ((id * 7 + i * 13) % 256).toInt
          else (((id * 7 + i * 13) * 257) % 65536 - 32768).toInt
        }
        (id, "audio/wav", Multimodal.encodePcmWav(8000, bits, samples))
      }
    }.toDF("doc_id", "mime", "payload")
    Multimodal.extractAudioFeatures(s,
        Multimodal.toAssets(assets, "doc_id", "mime", "payload"))
      .toDF()
      .where(col("decoded"))
      .select(col("asset_id").as("doc_id"),
        round(col("rms"), 6).as("rms"),
        round(col("peak"), 6).as("peak"))
      .orderBy(col("doc_id"))
  }

  /** STEREO PCM oracle — pins the documented multi-channel convention
    * ([[graft.operators.Multimodal.MediaDecoder.wavPcmFeatures]]): each
    * doc becomes a 2-channel interleaved WAV (8-bit even ids, 16-bit
    * odd) whose flat sample formula differs at every consecutive index,
    * so a decoder that dropped, duplicated, or de-interleaved a channel
    * produces a different rms/peak than the flat-stream convention;
    * `channels` and `n_frames` come from the RIFF parser
    * ([[graft.operators.Multimodal.MediaDecoder.wavMeta]]), so the
    * stereo blockAlign must be read correctly for the frame count
    * (samples/2) to match DuckDB's closed form. */
  private def q64_wav_stereo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docIds(s, dir)
    val assets = ids.mapPartitions { it =>
      it.map { id =>
        val n = (id % 32 + 1).toInt // frames per channel
        val bits = if (id % 2 == 0) 8 else 16
        val flat = Array.tabulate(2 * n) { j =>
          if (bits == 8) ((id * 7 + j * 13) % 256).toInt
          else (((id * 7 + j * 13) * 257) % 65536 - 32768).toInt
        }
        (id, "audio/wav",
          Multimodal.encodePcmWav(8000, bits, flat, channels = 2))
      }
    }.toDF("doc_id", "mime", "payload")
    val typed = Multimodal.toAssets(assets, "doc_id", "mime", "payload")
    val meta = Multimodal.extractAvMeta(s, typed).toDF()
      .select(col("asset_id"), col("channels"), col("n_frames"))
    val feats = Multimodal.extractAudioFeatures(s, typed).toDF()
      .where(col("decoded"))
      .select(col("asset_id"), round(col("rms"), 6).as("rms"),
        round(col("peak"), 6).as("peak"))
    meta.join(feats, "asset_id")
      .select(col("asset_id").as("doc_id"), col("channels"),
        col("n_frames"), col("rms"), col("peak"))
      .orderBy(col("doc_id"))
  }

  /** REAL MP4 frame-sampling oracle ([[graft.operators.Multimodal
    * .MediaDecoder.mp4Frames]] — stts/stsz/stsc/stco sample-table
    * demux): each doc becomes an MP4 with id-derived frame sizes/deltas
    * and frame `i` filled with byte `(id+i)%256`; every second frame is
    * sampled and its size, presentation time, and BYTE SUM must match
    * DuckDB's closed forms — the byte sum is the content witness that
    * the demuxed offsets point at the actual frame bytes, so a
    * one-byte placement error anywhere in the table composition fails
    * the gate. */
  private def q58_mp4_frames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docIds(s, dir)
    val assets = ids.mapPartitions { it =>
      it.map { id =>
        val n = (id % 16 + 1).toInt
        val deltas = Array.tabulate(n)(_ => (id % 5 + 1) * 40L)
        val sizes = Array.tabulate(n)(i => (id % 7 + 1 + i % 3) * 8L)
        val payload = Multimodal.encodeMp4Frames(320, 240,
          timescale = 1000L, deltas = deltas, sizes = sizes,
          frameFill = i => ((id + i) % 256).toByte)
        (id, "video/mp4", payload)
      }
    }.toDF("doc_id", "mime", "payload")
    Multimodal.sampleFrames(s,
        Multimodal.toAssets(assets, "doc_id", "mime", "payload"),
        stride = 2)
      .toDF()
      .select(col("asset_id").as("doc_id"), col("frame_idx"),
        col("size_bytes"), col("pts_ms"), col("byte_sum"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** VIDEO FRAME PIXELS oracle ([[graft.operators.Multimodal
    * .decodeFrames]] — sample-table demux composed with real ImageIO
    * pixel decode, the MJPEG-in-MP4 path): each doc becomes an MP4
    * whose frames are COMPLETE uniform-gray 16×16 JPEGs (gray
    * `(id*31 + i*17) % 256`), so every sampled frame must come back as
    * decoded pixels whose mean luminance is exactly `gray/255` — the
    * JDK JPEG codec round-trips a uniform image exactly (exhaustively
    * spec-verified), which is what makes a closed-form oracle possible
    * through a lossy codec. A demux placement error hands the decoder
    * a truncated JPEG (decoded=false → row filtered → row-count
    * mismatch); a pixel-path error changes the gray. Real video-frame
    * pixels end-to-end with zero new codec work; reference analogue:
    * none (oxbow has no video surface). */
  /** q62's asset generation (per-doc uniform-gray MJPEG frames wrapped
    * in a real MP4 sample table) — factored out so the x62a/x62b stage
    * twins in [[Bench]] time the EXACT generation the gate runs
    * (same-body decomposition, the x32/x50a pattern: the twins can
    * never silently drift from the gated query's work). */
  private[graft] def videoAssets(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val ids = docIds(s, dir)
    ids.mapPartitions { it =>
      it.map { id =>
        val n = (id % 4 + 2).toInt
        val deltas = Array.tabulate(n)(_ => (id % 5 + 1) * 40L)
        val frames = Array.tabulate(n)(i =>
          Multimodal.encodeUniformJpeg(16, 16,
            ((id * 31 + i * 17) % 256).toInt))
        val payload = Multimodal.encodeMp4FrameBytes(16, 16,
          timescale = 1000L, deltas = deltas, frames = frames)
        (id, "video/mp4", payload)
      }
    }.toDF("doc_id", "mime", "payload")
  }

  private def q62_video_frames(s: SparkSession, dir: String): DataFrame = {
    val assets = videoAssets(s, dir)
    Multimodal.decodeFrames(s,
        Multimodal.toAssets(assets, "doc_id", "mime", "payload"),
        stride = 2)
      .toDF()
      .where(col("decoded"))
      .select(col("asset_id").as("doc_id"), col("frame_idx"),
        col("pts_ms"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        round(col("luminance") * 255, 0).cast("long").as("gray"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** IMAGE near-dup clustering oracle ([[graft.operators.Multimodal
    * .imageDedupClusters]] — real decode → dHash → banded Hamming join
    * → star contraction, end to end): each doc's PNG carries the pixel
    * pattern of its class (`doc_id % 50`), so docs of one class decode
    * to identical images and must land in one cluster whose label is
    * the class-min doc_id — which DuckDB computes directly as a window
    * min over the residue. The class patterns are id-derived constants
    * (SF-independent), so the 50 planted dHash values can never drift
    * with scale; a hash collision between classes, a band-join recall
    * bug, or a contraction error all change the cluster assignment. */
  private def q59_image_dedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docIds(s, dir)
    val assets = ids.mapPartitions { it =>
      // splitmix-style avalanche: a LINEAR pattern in (x, y) makes
      // dHash compare phase-shifted ramps and classes collide — each
      // pixel must look independent for the 50 planted hashes to be
      // pairwise distinct
      def mix(z0: Long): Long = {
        var z = z0 * 0x9e3779b97f4a7c15L
        z ^= z >>> 32; z *= 0xbf58476d1ce4e5b9L; z ^= z >>> 29
        z
      }
      it.map { id =>
        val cls = id % 50
        val payload = Multimodal.encodePatternPng(24, 16, (x, y) => {
          val v = (mix(cls * 1000003L + x * 1009L + y) & 0xffL).toInt
          v * 0x010101
        })
        (id, "image/png", payload)
      }
    }.toDF("doc_id", "mime", "payload")
    Multimodal.imageDedupClusters(s,
        Multimodal.toAssets(assets, "doc_id", "mime", "payload"),
        maxHamming = 0)
      .select(col("asset_id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** IMAGE NEAR-dup clustering oracle — the `maxHamming = 3` path of
    * [[graft.operators.Multimodal.imageDedupClusters]], where the
    * banded Hamming join's RECALL (not the exact-hash collapse q59
    * pins) determines the answer. Each doc carries a
    * [[graft.operators.Multimodal.plantedNearDupPng]] for class
    * `doc_id % 50`, variant `(doc_id / 50) % 3`: variants of one class
    * decode to DIFFERENT images whose dHashes sit at Hamming distance
    * 1–3 from the class base (exact bit placement by construction —
    * scaladoc there), so after the exact collapse each class still has
    * up to 3 distinct representatives that ONLY the 4×16-bit band join
    * + `bit_count(xor) <= 3` verify can merge. A missed band candidate
    * splits a class (recall bug → wrong cluster ids); a verify that
    * admits distance > 3 merges classes (inter-class planted distances
    * are far above 3, asserted over all 150 hashes in PipelineOpsSpec).
    * The DuckDB mirror needs no pixels: the planted class structure
    * makes the fixed point a window min over the class residue. */
  private def q60_image_neardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docIds(s, dir)
    val assets = ids.mapPartitions { it =>
      it.map { id =>
        val payload = Multimodal.plantedNearDupPng(
          id % 50, ((id / 50) % 3).toInt)
        (id, "image/png", payload)
      }
    }.toDF("doc_id", "mime", "payload")
    Multimodal.imageDedupClusters(s,
        Multimodal.toAssets(assets, "doc_id", "mime", "payload"),
        maxHamming = 3)
      .select(col("asset_id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** FLAT-image brightness-separation oracle — the `brightnessTol`
    * path of [[graft.operators.Multimodal.imageDedupClusters]], where
    * the brightness BUCKET join (not dHash, which is 0 for every flat
    * image) determines the answer. Each doc is a uniform PNG with gray
    * `(doc_id % 20) * 13 + (doc_id / 20) % 2`: the ±1-gray-level
    * variants (|Δ| = 1/255 ≈ 0.0039 ≤ tol 0.01) must merge — and
    * adjacent grays can straddle a 0.01-wide bucket boundary, so the
    * two-bucket emission's recall is exactly what's being gated — while
    * distinct classes sit ≥ 12/255 ≈ 0.047 apart and must stay
    * separate. The fixed point is the class-min doc_id, a window min
    * over `doc_id % 20` in DuckDB. Without the knob every one of these
    * images would collapse into a single dhash-0 cluster. */
  private def q63_flat_dedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = docIds(s, dir)
    val assets = ids.mapPartitions { it =>
      it.map { id =>
        val g = ((id % 20) * 13 + (id / 20) % 2).toInt
        (id, "image/png",
          Multimodal.encodePatternPng(8, 8, (_, _) => g * 0x010101))
      }
    }.toDF("doc_id", "mime", "payload")
    Multimodal.imageDedupClusters(s,
        Multimodal.toAssets(assets, "doc_id", "mime", "payload"),
        maxHamming = 0, brightnessTol = 0.01)
      .select(col("asset_id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** bedtools-style merge over deterministic intervals derived from
    * orders, through the skew-robust production path
    * ([[graft.operators.IntervalOps.mergeIntervalsRange]]: range
    * repartition → one two-pass range sweep carrying each open group
    * across partitions). The DuckDB oracle replays the equivalent single window
    * construction — both formulations are provably identical, so the
    * gate validates the scale path against the simple spec. */
  private def q36_merge_intervals(s: SparkSession, dir: String): DataFrame = {
    val iv = pq(s, dir, "orders").select(
      concat(lit("chr"), (col("o_orderkey") % 4).cast("string")).as("chrom"),
      ((col("o_custkey") * 7919) % 10000000).cast("long").as("start"),
      ((col("o_custkey") * 7919) % 10000000 + 40 + col("o_orderkey") % 4000)
        .cast("long").as("end"))
    graft.operators.IntervalOps.mergeIntervalsRange(iv)
      .orderBy(col("chrom"), col("start"))
  }

  /** Near-dup cluster formation over the LSH candidate pairs
    * ([[TextOps.dedupClusters]]): connected components by min-label
    * propagation, each doc mapped to its component's smallest id — the
    * keep/drop decision of a dedup pipeline. The DuckDB oracle computes
    * the same components with a recursive transitive-closure CTE. */
  private def q37_dedup_clusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = TextOps.lshCandidatePairs(
      TextOps.minhashSignatures(pq(s, dir, "documents"), "doc_id", "text", 8,
        fastHash = false),
      "doc_id", k = 8, bandSize = 2)
    TextOps.dedupClusters(pairs).orderBy("doc_id")
  }

  /** Same clusters through the O(log n) large-star/small-star path
    * ([[TextOps.dedupClustersStar]]) — the deep-component variant of
    * q37, checked against the identical DuckDB transitive closure. */
  private def q40_dedup_star(s: SparkSession, dir: String): DataFrame = {
    val pairs = TextOps.lshCandidatePairs(
      TextOps.minhashSignatures(pq(s, dir, "documents"), "doc_id", "text", 8,
        fastHash = false),
      "doc_id", k = 8, bandSize = 2)
    TextOps.dedupClustersStar(pairs).orderBy("doc_id")
  }

  /** IVF-style ANN ([[graft.operators.Similarity.ivfTopK]]): coarse
    * quantizer cells + nProbe probing + exact rerank, bit-mirrored by
    * the DuckDB oracle (deterministic seed-vector quantizer). */
  private def q41_ann_ivf(s: SparkSession, dir: String): DataFrame = {
    val emb = pq(s, dir, "embeddings")
    graft.operators.Similarity.ivfTopK(
        emb.where(col("vec_id") < 16), emb, "vec_id", "embedding",
        k = 3, nCells = 8, nProbe = 2)
      .select(col("query_id"), col("cand_id"),
        round(col("sim"), 6).as("sim_r"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF ANN with a TRAINED coarse quantizer
    * ([[graft.operators.Similarity.ivfTopKTrained]]): the q53
    * fixed-point Lloyd loop (k=4, 2 iterations, lowest-id init)
    * produces the centroids, which drive the q41-shaped assignment /
    * 2-probe / exact rerank — the composition the IVF scaladoc
    * promises ("a trained quantizer drops in"), now oracle-gated end
    * to end: the DuckDB side replays the training chain AND the
    * search bit-for-bit. */
  private def q65_ann_ivf_trained(s: SparkSession, dir: String)
      : DataFrame = {
    val emb = pq(s, dir, "embeddings")
    graft.operators.Similarity.ivfTopKTrained(
        emb.where(col("vec_id") < 16), emb, "vec_id", "embedding",
        k = 3, kCells = 4, iters = 2, nProbe = 2, dim = 64)
      .select(col("query_id"), col("cand_id"),
        round(col("sim"), 6).as("sim_r"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-PQ ANN ([[graft.operators.Similarity.ivfPqTopK]]): the q41
    * coarse quantizer routes candidates to cells, four fixed-point
    * Lloyd loops (one per 16-dim block, the q53 training arithmetic)
    * produce the PQ codebooks, candidates travel as 4-code words, the
    * probe scans codes via exact-long ADC (top-8 per query, ties to
    * the lower cand_id), and only those survivors are reranked
    * exactly. The oracle replays coarse assignment, all four block
    * trainings, encode, ADC, and the rerank bit-for-bit. */
  private def q66_ann_ivfpq(s: SparkSession, dir: String): DataFrame = {
    val emb = pq(s, dir, "embeddings")
    graft.operators.Similarity.ivfPqTopK(
        emb.where(col("vec_id") < 16), emb, "vec_id", "embedding",
        k = 3, nCells = 8, nProbe = 2, m = 4, kSub = 4, iters = 2,
        adcKeep = 8, dim = 64)
      .select(col("query_id"), col("cand_id"),
        round(col("sim"), 6).as("sim_r"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** BM25 query-term set shared by the q68/q69 gates and their DuckDB
    * oracles (mid-frequency corpus vocabulary — every term has
    * non-trivial df, so all five idf branches are exercised). */
  private[graft] val Bm25Terms =
    Seq("join", "scan", "vector", "window", "stream")

  /** Deterministic stratified sampling
    * ([[graft.operators.TextOps.stratifiedSample]]): keep 20% of
    * English, 40% of Chinese, 60% of every other language by
    * `pmod(xxhash64(doc_id, 7), 100) < rate`. The oracle replays the
    * xxhash64 chain (the q55 machinery) so the kept SET — not just
    * counts — is pinned via id/char checksums. */
  private def q67_sample_stratified(s: SparkSession, dir: String)
      : DataFrame = {
    val kept = TextOps.stratifiedSample(pq(s, dir, "documents"),
      "doc_id", "lang", Seq("en" -> 20, "zh" -> 40), defaultRate = 60,
      seed = 7L)
    kept.groupBy(col("lang")).agg(
        count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("kept_id_sum"),
        sum(col("n_chars")).as("kept_chars"))
      .orderBy(col("lang"))
  }

  /** BM25 ranking ([[graft.operators.Ranking.bm25]]) of the corpus
    * against the fixed five-term query: top 20 docs by score (ties to
    * the lower doc_id), the score bits reproduced by the oracle from
    * the identical fixed-order double arithmetic. The top-k is a
    * TakeOrderedAndProject (no global sort); the rank window runs
    * over 20 rows. */
  private def q68_bm25(s: SparkSession, dir: String): DataFrame = {
    val scored = graft.operators.Ranking.bm25(
      pq(s, dir, "documents"), "doc_id", "text", Bm25Terms)
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    scored.orderBy(col("score").desc, col("doc_id").asc).limit(20)
      .withColumn("rank", row_number().over(w))
      .select(col("doc_id"), round(col("score"), 6).as("score_r"),
        col("rank"))
      .orderBy(col("rank"))
  }

  /** Hybrid search ([[graft.operators.Ranking.rrfFuse]]): reciprocal-
    * rank fusion of the BM25 top-50 (q68's scoring) with the exact
    * cosine top-50 against query vector 0 (the q27 brute-force
    * machinery) — doc_id and vec_id share the id space by
    * construction. Absent ranks ride as 0; the fused top-20 is pinned
    * with both source ranks. */
  private def q69_rrf_hybrid(s: SparkSession, dir: String): DataFrame = {
    val bmW = Window.orderBy(col("score").desc, col("doc_id").asc)
    val bm = graft.operators.Ranking.bm25(
        pq(s, dir, "documents"), "doc_id", "text", Bm25Terms)
      .orderBy(col("score").desc, col("doc_id").asc).limit(50)
      .withColumn("rank", row_number().over(bmW))
      .select(col("doc_id"), col("rank"))
    val emb = pq(s, dir, "embeddings")
    val vec = Similarity.bruteForceTopK(
        emb.where(col("vec_id") === 0), emb, "vec_id", "embedding",
        k = 50)
      .select(col("cand_id").as("doc_id"), col("rank"))
    val fused = graft.operators.Ranking.rrfFuse(bm, vec)
    val w = Window.orderBy(col("rrf").desc, col("doc_id").asc)
    fused.orderBy(col("rrf").desc, col("doc_id").asc).limit(20)
      .withColumn("rank", row_number().over(w))
      .select(col("doc_id"), col("rank_a").as("rank_bm25"),
        col("rank_b").as("rank_vec"), round(col("rrf"), 6).as("rrf_r"),
        col("rank"))
      .orderBy(col("rank"))
  }

  /** Residual IVF-PQ — IVFADC proper
    * ([[graft.operators.Similarity.ivfPqTopK]] with `residual=true`):
    * the q66 composition with PQ applied to `vector − its cell's
    * quantized centroid`; queries re-frame per probed cell. Every
    * stage — the residual construction included — replays in the
    * oracle's exact long arithmetic. */
  private def q72_ann_ivfadc(s: SparkSession, dir: String): DataFrame = {
    val emb = pq(s, dir, "embeddings")
    graft.operators.Similarity.ivfPqTopK(
        emb.where(col("vec_id") < 16), emb, "vec_id", "embedding",
        k = 3, nCells = 8, nProbe = 2, m = 4, kSub = 4, iters = 2,
        adcKeep = 8, dim = 64, residual = true)
      .select(col("query_id"), col("cand_id"),
        round(col("sim"), 6).as("sim_r"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Trained-coarse residual IVFADC
    * ([[graft.operators.Similarity.ivfPqTopKTrained]]): the faithful
    * FAISS composition — q53's Lloyd loop trains the coarse quantizer
    * (as in q65), PQ encodes residuals against the TRAINED quantized
    * centroids (exact long subtraction, no extra rounding), per-cell
    * residual frames at probe time. The oracle replays coarse
    * training, residual construction, all block trainings, ADC, and
    * rerank. */
  private def q73_ann_ivfadc_trained(s: SparkSession, dir: String)
      : DataFrame = {
    val emb = pq(s, dir, "embeddings")
    graft.operators.Similarity.ivfPqTopKTrained(
        emb.where(col("vec_id") < 16), emb, "vec_id", "embedding",
        k = 3, kCells = 4, coarseIters = 2, nProbe = 2, m = 4,
        kSub = 4, iters = 2, adcKeep = 8, dim = 64, residual = true)
      .select(col("query_id"), col("cand_id"),
        round(col("sim"), 6).as("sim_r"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Genome-wide coverage histogram ([[graft.operators.IntervalOps
    * .coverage]] — the bedtools-genomecov analogue via a two-pass
    * range-partitioned breakpoint sweep, no per-chromosome window):
    * depth segments of the lineitem-derived interval set, aggregated
    * per (chrom, depth) with segment counts, covered bases, and a
    * start-sum placement witness — a one-base shift anywhere in the
    * sweep (offset seeding, terminator closing, breakpoint dedup)
    * fails the gate. The DuckDB oracle computes the same segments with
    * the textbook per-chromosome window prefix sum that the
    * distributed sweep replaces. */
  private def q74_coverage(s: SparkSession, dir: String): DataFrame =
    graft.operators.IntervalOps.coverage(
        intervalsA(s, dir).drop("iv_id"))
      .groupBy(col("chrom"), col("depth"))
      .agg(count(lit(1)).as("n_segs"),
        sum(col("end") - col("start")).as("bases"),
        sum(col("start")).as("sum_start"))
      .orderBy(col("chrom"), col("depth"))

  /** Tolerance-bounded as-of attribution ([[graft.operators.AsofJoin
    * .backward]], `tolerance` semantics added r16 — kdb-`wj`/pandas-
    * `merge_asof` style): every click event joins the SAME user's
    * latest view at or before it, twice — unbounded and with a
    * 60-second tolerance that nulls older matches struct-atomically.
    * Times flow as the micros-truncated event timestamps on both
    * engines (Spark `ts div 1000` via normalizeTs; DuckDB's ns→us
    * parquet read), so DuckDB's NATIVE `ASOF LEFT JOIN` replays every
    * match, tie (engineered to the max view event_id per (user, time)
    * via tieBreak), and tolerance null bit-for-bit. q13 gates the
    * unbounded operator on an orders timeline; this gate pins the
    * tolerance path and the native-ASOF cross-engine equivalence. */
  private def q75_asof_join(s: SparkSession, dir: String): DataFrame =
    asofAttribution(s, dir, range = false)

  /** q75's body, shared with its q81 skew-robust twin ([[graft
    * .operators.AsofJoin.backwardRange]] — the [[graft.operators
    * .RangeFill]] path): only the fill machinery differs, so the twin
    * gate can never silently drift from the windowed one. */
  private def asofAttribution(s: SparkSession, dir: String,
      range: Boolean): DataFrame = {
    val e = events(s, dir)
      .where(col("event_id").isNotNull && col("user_id").isNotNull &&
        col("ts").isNotNull)
    val clicks = e.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    val views = e.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"),
        col("value").as("vvalue"), col("event_id").as("vid"))
    def asof(tol: Option[Long]) =
      if (range) graft.operators.AsofJoin.backwardRange(
        clicks, views, probeKey = "user_id", refKey = "user_id",
        probeTime = "ts", refTime = "vts",
        tieBreak = Seq("vts", "vid"), tolerance = tol)
      else graft.operators.AsofJoin.backward(
        clicks, views, probeKey = "user_id", refKey = "user_id",
        probeTime = "ts", refTime = "vts",
        tieBreak = Seq("vts", "vid"), tolerance = tol)
    val base = asof(None)
    val bounded = asof(Some(60000000L))
      .select(col("event_id"), col("vts").as("v60ts"),
        col("vvalue").as("v60value"))
    base.join(bounded, Seq("event_id"))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"), col("value"),
        unix_micros(col("vts")).as("view_tus"),
        col("vvalue").as("view_value"),
        unix_micros(col("v60ts")).as("view60_tus"),
        col("v60value").as("view60_value"))
      .orderBy(col("event_id"))
  }

  /** Forward as-of funnel ([[graft.operators.AsofJoin.forward]], added
    * r16): every click joins the SAME user's NEXT purchase at or after
    * it — unbounded and with a 1-hour tolerance — the
    * `merge_asof(direction='forward')` semantics, replayed by DuckDB's
    * native forward `ASOF LEFT JOIN` (`c.tus <= p.tus`) over the same
    * micro-truncated times and engineered max-id ties. */
  private def q76_asof_forward(s: SparkSession, dir: String): DataFrame =
    asofFunnel(s, dir, range = false)

  /** q76's body, shared with its q82 skew-robust twin ([[graft
    * .operators.AsofJoin.forwardRange]]) — the q75/q81 pairing's
    * forward direction. */
  private def asofFunnel(s: SparkSession, dir: String,
      range: Boolean): DataFrame = {
    val e = events(s, dir)
      .where(col("event_id").isNotNull && col("user_id").isNotNull &&
        col("ts").isNotNull)
    val clicks = e.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"),
        col("value").as("pvalue"), col("event_id").as("pid"))
    def asof(tol: Option[Long]) =
      if (range) graft.operators.AsofJoin.forwardRange(
        clicks, purchases, probeKey = "user_id", refKey = "user_id",
        probeTime = "ts", refTime = "pts",
        tieBreak = Seq("pts", "pid"), tolerance = tol)
      else graft.operators.AsofJoin.forward(
        clicks, purchases, probeKey = "user_id", refKey = "user_id",
        probeTime = "ts", refTime = "pts",
        tieBreak = Seq("pts", "pid"), tolerance = tol)
    val base = asof(None)
    val bounded = asof(Some(3600000000L))
      .select(col("event_id"), col("pts").as("p60ts"),
        col("pvalue").as("p60value"))
    base.join(bounded, Seq("event_id"))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"), col("value"),
        unix_micros(col("pts")).as("next_tus"),
        col("pvalue").as("next_value"),
        unix_micros(col("p60ts")).as("next1h_tus"),
        col("p60value").as("next1h_value"))
      .orderBy(col("event_id"))
  }

  /** Nearest-interval annotation ([[graft.operators.IntervalOps
    * .closest]] — the bedtools-closest analogue, added r16): every
    * customer-derived interval finds its nearest orders-derived
    * interval per chromosome via two as-of-style window sweeps plus
    * the binned overlap join — never all pairs. Ties resolve by the
    * engineered argmin (distance, b start, b id) rule, which the
    * DuckDB oracle replays as a naive all-pairs row_number argmin over
    * the identical CASE distance. */
  private def q77_closest(s: SparkSession, dir: String): DataFrame = {
    val a = intervalsC(s, dir)
    val b = intervalsB(s, dir).withColumnRenamed("iv_id", "bid")
    graft.operators.IntervalOps.closest(a, b, "aid", "bid")
      .orderBy(col("aid"))
  }

  /** Interval complement ([[graft.operators.IntervalOps.complement]]
    * — coverage's depth-0 segments, the bedtools-complement analogue
    * within the data's span): the uncovered gaps of the q74 interval
    * set, row-level. Shares q74's oracle CTEs filtered to depth 0. */
  private def q78_complement(s: SparkSession, dir: String): DataFrame =
    graft.operators.IntervalOps.complement(
        intervalsA(s, dir).drop("iv_id"))
      .orderBy(col("chrom"), col("start"))

  /** Interval subtraction ([[graft.operators.IntervalOps.subtract]] —
    * the bedtools-subtract analogue: merged-B overlap join + per-A
    * gap window, never per-base, never all-pairs): each
    * customer-derived interval minus everything the orders-derived
    * set covers. The DuckDB oracle is maximally independent — it
    * EXPLODES every A interval to positions, keeps those no B row
    * covers, and re-coalesces survivors with a gaps-and-islands
    * window, so any boundary arithmetic error on the engine side
    * breaks the hash. */
  private def q79_subtract(s: SparkSession, dir: String): DataFrame = {
    val a = intervalsC(s, dir)
    val b = intervalsB(s, dir).drop("iv_id")
    graft.operators.IntervalOps.subtract(a, b, "aid")
      .orderBy(col("aid"), col("start"))
  }

  /** Genome-sizes-aware complement ([[graft.operators.IntervalOps
    * .complement]] with `chromSizes` — full bedtools parity): q78's
    * interior gaps plus the boundary segments a genome file declares —
    * `[0, first)` and `[last, size)` per covered chromosome and the
    * whole `[0, size)` for a declared chromosome with no data (chrM
    * here). The oracle unions q74/q78's coverage CTEs with the same
    * boundary arithmetic over a literal sizes table. */
  private def q80_complement_sized(s: SparkSession, dir: String)
      : DataFrame = {
    val sizes = s.createDataFrame(Seq(
        ("chr0", 11000000L), ("chr1", 11000000L), ("chr2", 11000000L),
        ("chr3", 11000000L), ("chrM", 16571L)))
      .toDF("chrom", "size")
    graft.operators.IntervalOps.complement(
        intervalsA(s, dir).drop("iv_id"), chromSizes = Some(sizes))
      .orderBy(col("chrom"), col("start"))
  }

  /** q75's attribution through [[graft.operators.AsofJoin
    * .backwardRange]] — the skew-robust [[graft.operators.RangeFill]]
    * twin, where a hot user key spreads across all range partitions
    * instead of serializing one window task. Shares q75's body and its
    * DuckDB native-ASOF oracle verbatim: the twin must be
    * result-indistinguishable. */
  private def q81_asof_range(s: SparkSession, dir: String): DataFrame =
    asofAttribution(s, dir, range = true)

  /** q76's funnel through [[graft.operators.AsofJoin.forwardRange]] —
    * the forward direction of the q81 pairing, same oracle as q76. */
  private def q82_asof_forward_range(s: SparkSession, dir: String)
      : DataFrame =
    asofFunnel(s, dir, range = true)

  /** Per-interval value annotation ([[graft.operators.IntervalOps
    * .mapOverlaps]] — the bedtools-map analogue, added r17): every
    * customer-derived interval aggregates an order-derived value over
    * its ≥1-bp overlappers — count, sum, min, max, mean — zero-overlap
    * rows kept with n=0 and null aggregates. Binned equi-join + one
    * hash aggregation, no window, no all-pairs; the oracle is the
    * plain LEFT JOIN + GROUP BY formulation. */
  private def q83_interval_map(s: SparkSession, dir: String): DataFrame = {
    val a = intervalsC(s, dir)
    val b = intervalsB(s, dir).withColumn("v", col("iv_id") % 97)
    graft.operators.IntervalOps.mapOverlaps(a, b, "aid", "v")
      .select(col("aid"), col("chrom"), col("start"), col("end"),
        col("n_overlaps"), col("v_sum"), col("v_min"), col("v_max"),
        round(col("v_mean"), 4).as("v_mean_r"))
      .orderBy(col("aid"))
  }

  /** Interval-set similarity ([[graft.operators.IntervalOps.jaccard]]
    * — the bedtools-jaccard analogue, added r17): the lineitem- and
    * orders-derived sets each collapse to their disjoint union
    * (skew-robust range merge), then one binned join of the two
    * DISJOINT sets sums the clipped intersection exactly — never
    * per-base. One output row; the oracle replays both merges with
    * the textbook gaps-and-islands windows. */
  private def q84_interval_jaccard(s: SparkSession, dir: String)
      : DataFrame =
    graft.operators.IntervalOps.jaccard(
        intervalsA(s, dir).drop("iv_id"),
        intervalsB(s, dir).drop("iv_id"))
      .select(col("intersection"), col("union_len"),
        round(col("jaccard"), 6).as("jaccard_r"),
        col("n_intersections"))
      .orderBy(col("intersection"))

  /** Shared 10-Mbp sizes frame for the q85/q86 slop/flank gates —
    * deliberately one Mbp BELOW the generators' coordinate ceiling so
    * BOTH clamps bind: starts within `both` of 0 floor at 0, ends
    * growing past 10 Mbp cap at the declared size. */
  private def sizes10M(s: SparkSession): DataFrame =
    s.createDataFrame(Seq(("chr0", 10000000L), ("chr1", 10000000L),
        ("chr2", 10000000L), ("chr3", 10000000L)))
      .toDF("chrom", "size")

  /** Coordinate extension ([[graft.operators.IntervalOps.slop]] — the
    * bedtools-slop analogue, added r17): every customer-derived
    * interval grows 250 kbp on each side, floored at 0 and capped at
    * the declared 10-Mbp chromosome size — both clamps exercised by
    * construction. Narrow codegen'd projection + broadcast sizes
    * join; the oracle is the same greatest/least arithmetic. */
  private def q85_interval_slop(s: SparkSession, dir: String): DataFrame =
    graft.operators.IntervalOps.slop(intervalsC(s, dir),
        both = 250000L, chromSizes = Some(sizes10M(s)))
      .select(col("aid"), col("chrom"), col("start"), col("end"))
      .orderBy(col("aid"))

  /** Flanking intervals ([[graft.operators.IntervalOps.flank]] — the
    * bedtools-flank analogue, added r17): 100 bp before and 200 bp
    * after every customer-derived interval, floored/capped like q85,
    * empty flanks dropped (rows starting at 0 lose their left flank;
    * rows whose body already crosses the cap lose their right). At
    * most two rows per input, narrow explode, no shuffle. */
  private def q86_interval_flank(s: SparkSession, dir: String)
      : DataFrame =
    graft.operators.IntervalOps.flank(intervalsC(s, dir),
        left = 100L, right = 200L, chromSizes = Some(sizes10M(s)))
      .select(col("aid"), col("side"), col("chrom"), col("start"),
        col("end"))
      .orderBy(col("aid"), col("side"))

  /** Proximity join ([[graft.operators.IntervalOps.windowJoin]] — the
    * bedtools-window analogue, added r17): every (customer, order)
    * interval pair within a 20-kbp window, rolled up per A with a
    * count and placement witnesses (sum of B starts, min/max B id) so
    * a single spurious or missing neighbor fails the gate. The binned
    * equi-join on extended coordinates; the oracle is the naive
    * range-predicate join. */
  private def q87_interval_window(s: SparkSession, dir: String)
      : DataFrame = {
    val a = intervalsC(s, dir)
    val b = intervalsB(s, dir)
      .select(col("iv_id").as("bid"), col("chrom").as("bchrom"),
        col("start").as("bstart"), col("end").as("bend"))
    graft.operators.IntervalOps.windowJoin(a, b, window = 20000L,
        leftCols = ("chrom", "start", "end"),
        rightCols = ("bchrom", "bstart", "bend"))
      .groupBy(col("aid"))
      .agg(count(lit(1)).as("n_near"), sum(col("bstart")).as("sum_bstart"),
        min(col("bid")).as("min_bid"), max(col("bid")).as("max_bid"))
      .orderBy(col("aid"))
  }

  /** Per-interval coverage breadth ([[graft.operators.IntervalOps
    * .coverageBy]] — the bedtools-coverage analogue, added r17): every
    * customer-derived interval reports how many order-derived
    * intervals touch it and how many of its bases their UNION covers
    * (merged-B clipped sum — overlapping B rows never double-count),
    * plus the covered fraction. The oracle recomputes the union length
    * per A with DISTINCT clipped-segment islands — the textbook window
    * formulation, tie-safe by the q84 dedup rule. */
  private def q88_interval_coverage_by(s: SparkSession, dir: String)
      : DataFrame =
    graft.operators.IntervalOps.coverageBy(intervalsC(s, dir),
        intervalsB(s, dir).drop("iv_id"), "aid")
      .select(col("aid"), col("chrom"), col("start"), col("end"),
        col("n_overlaps"), col("covered_bases"), col("a_len"),
        round(col("fraction"), 6).as("fraction_r"))
      .orderBy(col("aid"))

  /** Per-row cluster assignment ([[graft.operators.IntervalOps
    * .cluster]] — the bedtools-cluster analogue, added r17): every
    * order-derived interval tagged with its merged run's span and
    * source-row count — one skew-robust merge plus one binned
    * membership join of each row's start probe, no window over input
    * rows. The orders derivation is duplicate-heavy (many orders share
    * a customer), so the gate also pins that duplicates cluster
    * together and count correctly; the oracle replays membership as a
    * containment join against tie-safe DISTINCT islands. */
  private def q89_interval_cluster(s: SparkSession, dir: String)
      : DataFrame =
    graft.operators.IntervalOps.cluster(intervalsB(s, dir))
      .select(col("iv_id"), col("chrom"), col("start"), col("end"),
        col("cluster_start"), col("cluster_end"), col("cluster_n"))
      .orderBy(col("iv_id"))

  /** Genome tiling ([[graft.operators.IntervalOps.makeWindows]] — the
    * bedtools-makewindows analogue, added r17): 750-kbp windows every
    * 500 kbp (sliding + truncation both exercised; chrM emits a single
    * truncated window) over the q80 genome declaration. The oracle is
    * DuckDB's generate_series over the same literal sizes. */
  private def q90_make_windows(s: SparkSession, dir: String): DataFrame = {
    val sizes = s.createDataFrame(Seq(
        ("chr0", 11000000L), ("chr1", 11000000L), ("chr2", 11000000L),
        ("chr3", 11000000L), ("chrM", 16571L)))
      .toDF("chrom", "size")
    graft.operators.IntervalOps.makeWindows(sizes,
        windowSize = 750000L, step = 500000L)
      .orderBy(col("chrom"), col("start"))
  }

  /** Coordinate translation ([[graft.operators.IntervalOps.shift]] —
    * the bedtools-shift analogue, added r17): every customer-derived
    * interval moved +300 kbp (top-capped at the 10-Mbp size, whole
    * intervals collapsing to boundary points) and −300 kbp (floored at
    * 0), union-tagged by direction. Pure clamp arithmetic on both
    * engines. */
  private def q91_interval_shift(s: SparkSession, dir: String)
      : DataFrame = {
    val a = intervalsC(s, dir)
    val sz = Some(sizes10M(s))
    graft.operators.IntervalOps.shift(a, 300000L, chromSizes = sz)
      .withColumn("dir", lit("right"))
      .unionByName(
        graft.operators.IntervalOps.shift(a, -300000L, chromSizes = sz)
          .withColumn("dir", lit("left")))
      .select(col("aid"), col("dir"), col("chrom"), col("start"),
        col("end"))
      .orderBy(col("aid"), col("dir"))
  }

  /** N-set breakpoint partition ([[graft.operators.IntervalOps
    * .multiinter]] — the bedtools-multiinter analogue, added r17): the
    * customer/lineitem/orders-derived sets partitioned into atomic
    * segments labeled with WHICH sets cover them, rolled up per
    * (chrom, membership) with segment counts, bases, and the
    * sum-of-starts placement witness (one breakpoint off anywhere
    * fails the gate). The oracle replays the per-set depth grid with
    * textbook per-(chrom, set) windows — the formulation whose
    * one-task-per-contig skew the generalized two-pass sweep
    * replaces. */
  private def q92_multiinter(s: SparkSession, dir: String): DataFrame =
    graft.operators.IntervalOps.multiinterOf(Seq(
        "cust" -> intervalsC(s, dir)
          .select(col("chrom"), col("start"), col("end")),
        "li" -> intervalsA(s, dir).drop("iv_id"),
        "ord" -> intervalsB(s, dir).drop("iv_id")))
      .groupBy(col("chrom"), col("sets"))
      .agg(count(lit(1)).as("n_segs"),
        sum(col("end") - col("start")).as("bases"),
        sum(col("start")).as("sum_start"),
        max(col("n_sets")).as("n_sets"))
      .orderBy(col("chrom"), col("sets"))

  /** Relative-distance statistic ([[graft.operators.IntervalOps
    * .reldist]] — the bedtools-reldist analogue, added r17): every
    * customer-derived midpoint against its flanking order-derived
    * midpoints via two RangeFill timeline sweeps, aggregated into the
    * bedtools 0.01-bin histogram with span and midpoint-sum witnesses
    * (a one-base shift in any flank moves a witness). The oracle
    * replays the sweeps as textbook per-chromosome union-timeline
    * windows with the same inclusive-coincidence tie rule on both
    * sides. */
  private def q93_reldist(s: SparkSession, dir: String): DataFrame =
    graft.operators.IntervalOps.reldist(intervalsC(s, dir),
        intervalsB(s, dir).drop("iv_id"), "aid")
      .where(col("reldist").isNotNull)
      .groupBy(floor(col("reldist") * 100).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_a"),
        sum(col("next_mid") - col("prev_mid")).as("sum_span"),
        sum(col("a_mid")).as("sum_amid"))
      .orderBy(col("bin"))

  /** Seeded deterministic shuffle ([[graft.operators.IntervalOps
    * .shuffleIntervals]] — the bedtools-shuffle-within-chromosome
    * analogue for null models, added r17): every customer-derived
    * interval relocates to `pmod(xxhash64(aid, 7), size - len + 1)`
    * on its own chromosome — the q55 xxhash64 chain replayed
    * bit-exactly by the oracle in HUGEINT arithmetic, so a single
    * differing placement fails the gate. */
  private def q94_interval_shuffle(s: SparkSession, dir: String)
      : DataFrame = {
    val sizes = s.createDataFrame(Seq(
        ("chr0", 11000000L), ("chr1", 11000000L), ("chr2", 11000000L),
        ("chr3", 11000000L)))
      .toDF("chrom", "size")
    graft.operators.IntervalOps.shuffleIntervals(
        intervalsC(s, dir), sizes, seed = 7L, idCol = "aid")
      .select(col("aid"), col("chrom"), col("start"), col("end"))
      .orderBy(col("aid"))
  }

  /** Multi-set coverage annotation ([[graft.operators.IntervalOps
    * .annotate]] — the bedtools-annotate analogue, added r17): every
    * customer-derived interval reports, per labeled source set
    * (lineitem- and orders-derived), the overlap count and the bases
    * its union covers — long format, zero rows kept. The oracle
    * replays each set through the q88 tie-safe island formulation and
    * unions the two. */
  private def q95_interval_annotate(s: SparkSession, dir: String)
      : DataFrame =
    graft.operators.IntervalOps.annotate(intervalsC(s, dir), Seq(
        "li" -> intervalsA(s, dir).drop("iv_id"),
        "ord" -> intervalsB(s, dir).drop("iv_id")), "aid")
      .select(col("aid"), col("set"), col("chrom"), col("start"),
        col("end"), col("n_overlaps"), col("covered_bases"),
        col("a_len"), round(col("fraction"), 6).as("fraction_r"))
      .orderBy(col("aid"), col("set"))

  /** Deterministic strand for the stranded-gate derivations: thirds of
    * '+' / '-' / '.', keyed off the interval id so the DuckDB oracles
    * replay it with one CASE expression. */
  private def strandOf(key: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(key % 3 === 0, "+").when(key % 3 === 1, "-").otherwise(lit("."))

  /** [[intervalsC]] plus the derived strand — probe side of the
    * stranded gates (kept separate so the strand column never leaks
    * into the pass-through outputs of the unstranded gates). */
  private[graft] def intervalsCS(s: SparkSession, dir: String): DataFrame =
    intervalsC(s, dir).withColumn("strand", strandOf(col("aid")))

  /** [[intervalsB]] plus the derived strand. */
  private[graft] def intervalsBS(s: SparkSession, dir: String): DataFrame =
    intervalsB(s, dir).withColumn("strand", strandOf(col("iv_id")))

  /** Same-strand closest ([[graft.operators.IntervalOps.closest]] with
    * [[graft.operators.Strandedness.Same]] — the bedtools `closest -s`
    * analogue, added r18): the strand joins the sweep/overlap KEY, so
    * each A finds its nearest same-strand B even when a wrong-strand B
    * sits nearer ('.' matches only '.'). The oracle replays q77's
    * all-pairs argmin with the strand equality added to the join. */
  private def q96_closest_stranded(s: SparkSession, dir: String)
      : DataFrame = {
    val a = intervalsCS(s, dir)
    val b = intervalsBS(s, dir).withColumnRenamed("iv_id", "bid")
    graft.operators.IntervalOps.closest(a, b, "aid", "bid",
        strand = graft.operators.Strandedness.Same())
      .orderBy(col("aid"))
  }

  /** Opposite-strand value annotation ([[graft.operators.IntervalOps
    * .mapOverlaps]] with [[graft.operators.Strandedness.Opposite]] —
    * the bedtools `map -S` analogue, added r18): only '+'/'-' pairings
    * aggregate ('.' rows never match, predicate policy keeps their A
    * rows with zero overlaps). Oracle = q83's LEFT JOIN with the
    * opposite-pairing condition. */
  private def q97_map_stranded(s: SparkSession, dir: String)
      : DataFrame = {
    val a = intervalsCS(s, dir)
    val b = intervalsBS(s, dir).withColumn("v", col("iv_id") % 97)
    graft.operators.IntervalOps.mapOverlaps(a, b, "aid", "v",
        strand = graft.operators.Strandedness.Opposite())
      .select(col("aid"), col("chrom"), col("start"), col("end"),
        col("n_overlaps"), col("v_sum"), col("v_min"), col("v_max"),
        round(col("v_mean"), 4).as("v_mean_r"))
      .orderBy(col("aid"))
  }

  /** Same-strand subtraction ([[graft.operators.IntervalOps.subtract]]
    * with Same — the bedtools `subtract -s` analogue, added r18): only
    * same-strand B bases are removed; the strand keys the merge AND
    * the join. The oracle is q79's per-base explode-and-recoalesce
    * with the strand equality in the coverage test. */
  private def q98_subtract_stranded(s: SparkSession, dir: String)
      : DataFrame = {
    val a = intervalsCS(s, dir)
    val b = intervalsBS(s, dir).drop("iv_id")
    graft.operators.IntervalOps.subtract(a, b, "aid",
        strand = graft.operators.Strandedness.Same())
      .orderBy(col("aid"), col("start"))
  }

  /** Opposite-strand subtraction ([[graft.operators.IntervalOps
    * .subtract]] with [[graft.operators.Strandedness.Opposite]] — the
    * bedtools `subtract -S` analogue, added r19): only
    * opposite-strand B bases are removed, and — the contract this
    * gate exists to pin — A rows whose strand is `'.'` (a third of
    * [[intervalsCS]]) match NOTHING and pass through UNMODIFIED
    * (bedtools keeps them; a key-based drop would silently lose
    * them). The oracle is q98's per-base explode-and-recoalesce with
    * the opposite pairing in the coverage test, which returns '.'
    * rows whole by construction. */
  private def q107_subtract_opposite(s: SparkSession, dir: String)
      : DataFrame = {
    val a = intervalsCS(s, dir)
    val b = intervalsBS(s, dir).drop("iv_id")
    graft.operators.IntervalOps.subtract(a, b, "aid",
        strand = graft.operators.Strandedness.Opposite())
      .orderBy(col("aid"), col("start"))
  }

  /** Pairwise overlap report ([[graft.operators.IntervalOps
    * .intersectJoin]] `mode="wo"` — the bedtools `intersect -wo`
    * analogue, added r19): one row per overlapping (A, B) pair with
    * both intervals and the clipped overlap length. The oracle is the
    * plain pairwise join with the overlap arithmetic inline. */
  private def q108_intersect_wo(s: SparkSession, dir: String)
      : DataFrame = {
    val a = intervalsC(s, dir)
    val b = intervalsB(s, dir)
    graft.operators.IntervalOps.intersectJoin(a, b, "aid", "iv_id")
      .orderBy(col("aid"), col("b_id"))
  }

  /** `-wao` with a `-f 0.5` fraction threshold ([[graft.operators
    * .IntervalOps.intersectJoin]] `mode="wao"`, added r19): pairs
    * covering at least half the A interval, plus one zero row for
    * every A with NO qualifying pair — including A rows whose
    * overlaps all failed the threshold, the retention bedtools -wao
    * guarantees. 0.5 * an integer length is exact in doubles, so the
    * threshold agrees bit-for-bit with the oracle's. */
  private def q109_intersect_wao(s: SparkSession, dir: String)
      : DataFrame = {
    val a = intervalsC(s, dir)
    val b = intervalsB(s, dir)
    graft.operators.IntervalOps.intersectJoin(a, b, "aid", "iv_id",
        minOverlapFracA = 0.5, mode = "wao")
      .orderBy(col("aid"), col("b_id").asc_nulls_first)
  }

  /** Block-aware pair report ([[graft.operators.IntervalOps
    * .intersectJoin]] with `blockStarts`/`blockSizes` — bedtools
    * `intersect -split -f 0.5 -wao`, the BED12 exon-overlap rule,
    * added r20): every customer-derived interval carries `1 + aid%3`
    * blocks of size `len // 5` at stride `2·size` (covered/gap
    * alternation), overlap bases sum the per-block clips, and the
    * `-f` fraction measures against BLOCK bases; A rows with no
    * qualifying pair keep a zero row. The oracle explodes the same
    * closed-form blocks with unnest(range(nb)) and replays the
    * re-aggregation. */
  private def q114_intersect_split(s: SparkSession, dir: String)
      : DataFrame = {
    val bszC = ((col("end") - col("start")) / 5).cast("long")
    val probes = intervalsC(s, dir)
      .withColumn("block_starts",
        transform(sequence(lit(0L), col("aid") % 3),
          x => x * 2L * bszC))
      .withColumn("block_sizes",
        array_repeat(bszC, (col("aid") % 3 + 1).cast("int")))
    val b = intervalsB(s, dir)
    graft.operators.IntervalOps.intersectJoin(probes, b, "aid",
        "iv_id", minOverlapFracA = 0.5, mode = "wao",
        blockStarts = "block_starts", blockSizes = "block_sizes")
      .orderBy(col("aid"), col("b_id").asc_nulls_first)
  }

  /** Sliding-window document chunking ([[graft.operators.TextOps
    * .chunkDocuments]] — the training-data / RAG passage builder,
    * added r20): 64-word windows every 48 words (25% overlap) over
    * the documents table, tail windows kept. Pure narrow array
    * arithmetic (split + posexplode(sequence) + slice, no shuffle);
    * the oracle replays it with DuckDB's 1-based inclusive list
    * slicing and generate_series stride. */
  private def q115_chunking(s: SparkSession, dir: String): DataFrame = {
    graft.operators.TextOps.chunkDocuments(
        pq(s, dir, "documents"), "doc_id", "text", 64, 48)
      .orderBy(col("doc_id"), col("chunk_index"))
  }

  /** K-nearest annotation ([[graft.operators.IntervalOps.closestK]]
    * — the bedtools `closest -k 3 -d` analogue, added r20): the three
    * nearest orders-derived intervals per customer-derived interval,
    * ranked 1..3 by the q77 argmin rule (distance, b start, b id);
    * A rows with no candidate keep one null row. The engine's k-deep
    * timeline deques ([[graft.operators.RangeFill.fillBothK]]) are
    * replayed by the oracle as a naive all-pairs row_number. */
  private def q111_closest_k(s: SparkSession, dir: String): DataFrame = {
    val a = intervalsC(s, dir)
    val b = intervalsB(s, dir).withColumnRenamed("iv_id", "bid")
    graft.operators.IntervalOps.closestK(a, b, "aid", "bid", 3)
      .orderBy(col("aid"), col("rank"))
  }

  /** Non-overlapping closest with strand-relative sign
    * ([[graft.operators.IntervalOps.closest]] with `-io -D a`, added
    * r20): strictly-overlapping B features are not candidates
    * (book-ended distance-0 ones remain), and the signed distance
    * flips for `'-'`-strand A rows — bedtools' "upstream is higher
    * coordinates when A is antisense" rule. The oracle excludes
    * overlap pairs in the LEFT JOIN's ON clause and applies the same
    * sign flip to the argmin winner. */
  private def q112_closest_io(s: SparkSession, dir: String)
      : DataFrame = {
    val a = intervalsCS(s, dir)
    val b = intervalsB(s, dir).withColumnRenamed("iv_id", "bid")
    graft.operators.IntervalOps.closest(a, b, "aid", "bid",
        opts = graft.operators.ClosestOptions(signed = true,
          ignoreOverlaps = true,
          distanceMode = graft.operators.DistanceMode.RespectA()))
      .orderBy(col("aid"))
  }

  /** Directional closest ([[graft.operators.IntervalOps.closest]]
    * with `-iu` under `-D ref` and `-id` under `-D b`, added r20,
    * unioned with a mode tag): the `iu` half ignores upstream
    * candidates by reference coordinates (B entirely below A's
    * start), the `idb` half ignores downstream candidates under the
    * B-strand convention — which exercises the class-split sweep
    * (the per-candidate flip makes one per-side argmin unsound; the
    * engine runs one sweep per B strand class). Oracle: the same
    * exclusions as LEFT JOIN ON conditions (iu-ref reduces to
    * `b.end >= a.start`; idb to a strand-conditional pair). */
  private def q113_closest_updown(s: SparkSession, dir: String)
      : DataFrame = {
    val a = intervalsC(s, dir)
    val b = intervalsBS(s, dir).withColumnRenamed("iv_id", "bid")
    val iu = graft.operators.IntervalOps.closest(a, b, "aid", "bid",
        opts = graft.operators.ClosestOptions(signed = true,
          ignoreUpstream = true))
      .withColumn("mode", lit("iu"))
    val idb = graft.operators.IntervalOps.closest(a, b, "aid", "bid",
        opts = graft.operators.ClosestOptions(signed = true,
          ignoreDownstream = true,
          distanceMode = graft.operators.DistanceMode.RespectB()))
      .withColumn("mode", lit("idb"))
    iu.unionByName(idb).orderBy(col("mode"), col("aid"))
  }

  /** Same-strand proximity join ([[graft.operators.IntervalOps
    * .windowJoin]] with Same — the bedtools `window -sw -s` analogue,
    * added r18): q87's 20-kbp pairing restricted to equal strands via
    * the join-condition predicate. */
  private def q99_window_stranded(s: SparkSession, dir: String)
      : DataFrame = {
    val a = intervalsCS(s, dir)
    val b = intervalsBS(s, dir)
      .select(col("iv_id").as("bid"), col("chrom").as("bchrom"),
        col("start").as("bstart"), col("end").as("bend"),
        col("strand").as("bstrand"))
    graft.operators.IntervalOps.windowJoin(a, b, window = 20000L,
        leftCols = ("chrom", "start", "end"),
        rightCols = ("bchrom", "bstart", "bend"),
        strand = graft.operators.Strandedness.Same("strand", "bstrand"))
      .groupBy(col("aid"))
      .agg(count(lit(1)).as("n_near"), sum(col("bstart")).as("sum_bstart"),
        min(col("bid")).as("min_bid"), max(col("bid")).as("max_bid"))
      .orderBy(col("aid"))
  }

  /** Fraction-thresholded annotation ([[graft.operators.IntervalOps
    * .mapOverlaps]] with `minOverlapFracA/B` — the bedtools
    * `map -f 0.5 -F 0.25` analogue, added r18): a B row counts only
    * when the exact clipped overlap covers ≥ 50% of A AND ≥ 25% of
    * itself. The oracle adds both inequalities to q83's join. */
  private def q100_map_fraction(s: SparkSession, dir: String)
      : DataFrame = {
    val a = intervalsC(s, dir)
    val b = intervalsB(s, dir).withColumn("v", col("iv_id") % 97)
    graft.operators.IntervalOps.mapOverlaps(a, b, "aid", "v",
        minOverlapFracA = 0.5, minOverlapFracB = 0.25)
      .select(col("aid"), col("chrom"), col("start"), col("end"),
        col("n_overlaps"), col("v_sum"), col("v_min"), col("v_max"),
        round(col("v_mean"), 4).as("v_mean_r"))
      .orderBy(col("aid"))
  }

  /** Every-tie closest with signed distance ([[graft.operators
    * .IntervalOps.closestAll]] — the bedtools `closest -t all -D ref`
    * analogue, added r18): one row per (A, B-at-minimum-distance)
    * pair, negative signed distance for upstream B. The oracle keeps
    * ALL pairs at each A's all-pairs minimum instead of the q77
    * argmin. */
  private def q101_closest_all(s: SparkSession, dir: String)
      : DataFrame = {
    val a = intervalsC(s, dir)
    val b = intervalsB(s, dir).withColumnRenamed("iv_id", "bid")
    graft.operators.IntervalOps.closestAll(a, b, "aid", "bid")
      .orderBy(col("aid"), col("closest_id"))
  }

  /** Gap-tolerant merge ([[graft.operators.IntervalOps
    * .mergeIntervalsRange]] with `maxGap` — the bedtools `merge -d`
    * analogue, added r18): q36's derivation merged with a 500-base
    * slack, so intervals separated by ≤ 500 bases fuse. Every sweep,
    * chain, and stitch comparison carries the same slack; the oracle
    * adds `+ 500` to the q36 window rule. */
  private def q104_merge_gap(s: SparkSession, dir: String): DataFrame = {
    val iv = pq(s, dir, "orders").select(
      concat(lit("chr"), (col("o_orderkey") % 4).cast("string")).as("chrom"),
      ((col("o_custkey") * 7919) % 10000000).cast("long").as("start"),
      ((col("o_custkey") * 7919) % 10000000 + 40 + col("o_orderkey") % 4000)
        .cast("long").as("end"))
    graft.operators.IntervalOps.mergeIntervalsRange(iv, maxGap = 500L)
      .orderBy(col("chrom"), col("start"))
  }

  /** Overlap-existence filter ([[graft.operators.IntervalOps
    * .overlapFilter]] — the bedtools `intersect -u` / `-v` analogue,
    * added r18): the customer-derived intervals that DO ('u') and do
    * NOT ('v') touch any order-derived interval, one row per A per
    * mode, tagged and unioned. The oracle is the plain EXISTS /
    * NOT EXISTS formulation. */
  private def q105_overlap_filter(s: SparkSession, dir: String)
      : DataFrame = {
    val a = intervalsC(s, dir)
    val b = intervalsB(s, dir).drop("iv_id")
    graft.operators.IntervalOps.overlapFilter(a, b, "aid", keep = true)
      .withColumn("mode", lit("u"))
      .unionByName(
        graft.operators.IntervalOps.overlapFilter(a, b, "aid",
            keep = false)
          .withColumn("mode", lit("v")))
      .select(col("mode"), col("aid"), col("chrom"), col("start"),
        col("end"))
      .orderBy(col("mode"), col("aid"))
  }

  /** Strand-aware sequence extraction ([[graft.operators.SequenceOps
    * .getFasta]] with `strand`/`name` — bedtools `getfasta -s -name`,
    * added r19): the q102 probes gain a deterministic strand
    * (`aid % 3` → `'+'`/`'-'`/`'.'`) and a name; `'-'` rows get the
    * IUPAC reverse complement of their bases (a codegen'd
    * translate+reverse, no new I/O) and every row gains the bedtools
    * `name::chrom:start-end(strand)` header. The oracle replays the
    * generating formula with the complement arithmetic inline —
    * `'TGCA'[(i*7+k*11)%4]` aggregated in DESCENDING position order —
    * so a wrong complement alphabet, a missed reverse, or a
    * strand-policy slip ('+'/'.' must stay untouched) all fail the
    * hash. */
  private def q106_getfasta_stranded(s: SparkSession, dir: String)
      : DataFrame = {
    val probes = seqIntervals(s, dir)
      .withColumn("strand",
        when(col("aid") % 3 === 0, "+")
          .when(col("aid") % 3 === 1, "-")
          .otherwise("."))
      .withColumn("name", concat(lit("iv_"), col("aid")))
    graft.operators.SequenceOps.getFasta(probes, seqFixture,
        strand = "strand", name = "name")
      .orderBy(col("aid"))
  }

  /** Spliced sequence extraction ([[graft.operators.SequenceOps
    * .getFasta]] with `blockStarts`/`blockSizes` — bedtools
    * `getfasta -split -s`, the BED12 transcript rule, added r19):
    * every probe carries two blocks (relative start 0 sized
    * `5 + aid % 7`, and relative start `20 + aid % 13` sized 11);
    * the sequence is the blocks' concatenation, reverse complemented
    * WHOLE for `'-'` rows (bedtools' minus-strand transcript rule —
    * block order flips too, which the oracle pins by aggregating in
    * descending (block, position) order for those rows). */
  private def q110_getfasta_split(s: SparkSession, dir: String)
      : DataFrame = {
    val probes = seqIntervals(s, dir)
      .withColumn("strand",
        when(col("aid") % 3 === 0, "+")
          .when(col("aid") % 3 === 1, "-")
          .otherwise("."))
      .withColumn("block_starts",
        array(lit(0L), lit(20L) + col("aid") % 13))
      .withColumn("block_sizes",
        array(lit(5L) + col("aid") % 7, lit(11L)))
    graft.operators.SequenceOps.getFasta(probes, seqFixture,
        strand = "strand", blockStarts = "block_starts",
        blockSizes = "block_sizes")
      .drop("block_starts", "block_sizes")
      .orderBy(col("aid"))
  }

  /** Deterministic synthetic reference FASTA for the q102/q103
    * sequence gates, written once per JVM into the system temp dir
    * (atomic rename — concurrent or crashed writers can only leave
    * whole files): four 50-kbp contigs where the base at position p of
    * chr k is `"ACGT"[(p*7 + k*11) % 4]` — a closed-form rule the
    * DuckDB oracle replays without reading the file, the q56 media
    * fixture's approach applied to sequence data. */
  private[graft] lazy val seqFixture: String = {
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-seqfix-v1")
    val fa = new java.io.File(dir, "ref.fa")
    val fai = new java.io.File(dir, "ref.fa.fai")
    if (!(fa.exists() && fai.exists())) {
      dir.mkdirs()
      val L = 50000
      val W = 60
      val faTmp = java.io.File.createTempFile("ref", ".fa.tmp", dir)
      val out = new java.io.BufferedWriter(new java.io.FileWriter(faTmp))
      val faiSb = new StringBuilder
      var offset = 0L
      for (k <- 0 until 4) {
        val header = s">chr$k synthetic\n"
        out.write(header)
        offset += header.length
        faiSb.append(s"chr$k\t$L\t$offset\t$W\t${W + 1}\n")
        val sb = new StringBuilder(L)
        var p = 0
        while (p < L) {
          sb.append("ACGT".charAt((p * 7 + k * 11) % 4))
          p += 1
        }
        sb.toString.grouped(W).foreach { line =>
          out.write(line); out.write("\n")
        }
        offset += L + (L + W - 1) / W
      }
      out.close()
      val faiTmp = java.io.File.createTempFile("ref", ".fai.tmp", dir)
      java.nio.file.Files.write(faiTmp.toPath,
        faiSb.toString.getBytes("UTF-8"))
      // .fa lands BEFORE .fai so a visible index always implies a
      // complete FASTA; ATOMIC_MOVE (same dir) throws on failure
      // instead of renameTo's silently-ignorable boolean
      import java.nio.file.{Files, StandardCopyOption}
      Files.move(faTmp.toPath, fa.toPath,
        StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      Files.move(faiTmp.toPath, fai.toPath,
        StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    fa.getAbsolutePath
  }

  /** Customer-derived probe intervals over [[seqFixture]]'s contigs —
    * 10-99 bp each, bounded inside the 50-kbp contigs. */
  private[graft] def seqIntervals(s: SparkSession, dir: String)
      : DataFrame =
    pq(s, dir, "customer").select(
      col("c_custkey").as("aid"),
      concat(lit("chr"), (col("c_custkey") % 4).cast("string"))
        .as("chrom"),
      ((col("c_custkey") * 37) % 49000).as("start"),
      (((col("c_custkey") * 37) % 49000) + 10 + col("c_custkey") % 90)
        .as("end"))

  /** Per-interval sequence extraction ([[graft.operators.SequenceOps
    * .getFasta]] — the bedtools-getfasta analogue, added r18): every
    * probe interval reads its bases from the synthetic reference via
    * .fai byte math (narrow pass, one broadcast index, no shuffle).
    * The oracle rebuilds each sequence character by character from
    * the generating formula — the ENGINE reads real file bytes, the
    * oracle never sees the file, so any byte-offset error fails the
    * hash. */
  private def q102_getfasta(s: SparkSession, dir: String): DataFrame =
    graft.operators.SequenceOps.getFasta(seqIntervals(s, dir),
        seqFixture)
      .orderBy(col("aid"))

  /** Per-interval nucleotide composition ([[graft.operators
    * .SequenceOps.nucContent]] — the bedtools-nuc analogue, added
    * r18): A/C/G/T/N counts and AT/GC fractions over the same
    * extraction, counted with codegen'd translate/length projections.
    * The oracle counts the formula's residue classes directly. */
  private def q103_nuc(s: SparkSession, dir: String): DataFrame =
    graft.operators.SequenceOps.nucContent(seqIntervals(s, dir),
        seqFixture)
      .select(col("aid"), col("chrom"), col("start"), col("end"),
        col("seq_len"), col("n_a"), col("n_c"), col("n_g"),
        col("n_t"), col("n_n"), col("n_other"),
        round(col("pct_at"), 6).as("pct_at_r"),
        round(col("pct_gc"), 6).as("pct_gc_r"))
      .orderBy(col("aid"))

  /** Exact corpus profile ([[graft.operators.TextOps.corpusProfile]]):
    * per-source doc/token totals and EXACT nearest-rank p50/p90/p99
    * token-length percentiles via the histogram method (the cumulative
    * window runs over distinct lengths, never corpus rows). */
  private def q70_corpus_profile(s: SparkSession, dir: String)
      : DataFrame = {
    TextOps.corpusProfile(pq(s, dir, "documents"), "doc_id", "text",
        "source", Seq(50, 90, 99))
      .orderBy(col("stratum"))
  }

  /** kNN label audit ([[graft.operators.Similarity.knnClassify]]):
    * every embedding's label predicted by the majority label of its 5
    * nearest neighbors (self excluded before ranking, the q41 IVF
    * production path, vote ties to the smallest label), rolled up to
    * per-label accuracy. The quantizer self-sizes to ceil(sqrt(N))
    * cells (the balanced all-pairs-audit law); the oracle replays the
    * sizing (LIMIT subquery), search, vote, and both tie-breaks. */
  private def q71_knn_label_audit(s: SparkSession, dir: String)
      : DataFrame = {
    val emb = pq(s, dir, "embeddings")
    Similarity.knnClassify(emb, "vec_id", "embedding", "label",
        k = 5, nCells = None, nProbe = 2)
      .groupBy(col("label")).agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("pred_label") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n_vecs"), col("n_correct"),
        round(col("n_correct").cast("double") /
          col("n_vecs").cast("double"), 4).as("acc_r"))
      .orderBy(col("label"))
  }

  /** PII detection + redaction ([[graft.operators.TextOps.redactPii]]):
    * deterministic PII (an email, a phone, an IPv4 derived from doc_id)
    * is appended to every document by BOTH engines, then counted and
    * scrubbed; the per-source redacted-text hash checksum means the
    * oracle verifies the redacted BYTES, not just the match counts. */
  private def q51_pii_redact(s: SparkSession, dir: String): DataFrame = {
    val aug = pq(s, dir, "documents").withColumn("aug",
      concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
        lit("@mail"), (col("doc_id") % 7).cast("string"),
        lit(".com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 100).cast("string")))
    aug.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(TextOps.piiCount(col("aug"), TextOps.EmailPattern))
          .cast("long").as("n_emails"),
        sum(TextOps.piiCount(col("aug"), TextOps.PhonePattern))
          .cast("long").as("n_phones"),
        sum(TextOps.piiCount(col("aug"), TextOps.Ipv4Pattern))
          .cast("long").as("n_ips"),
        sum(TextOps.baseHash(TextOps.redactPii(col("aug"))))
          .cast("long").as("redact_checksum"))
      .orderBy(col("source"))
  }

  /** Paragraph-level exact dedup ([[graft.operators.TextOps
    * .paragraphDedup]]): the corpus is doubled with planted partial
    * copies (ids offset by 1e9, collision-proof at any test SF;
    * text = the first 36 words of the original),
    * so every plant's 12-word paragraphs duplicate its original's
    * leading chunks; keep-the-earliest bookkeeping must attribute them
    * accordingly. */
  private def q52_para_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = pq(s, dir, "documents").select(col("doc_id"), col("text"))
    val plants = docs.select((col("doc_id") + 1000000000L).as("doc_id"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 36)).as("text"))
    val withParas = docs.unionAll(plants)
      .withColumn("paras", TextOps.paragraphs(col("text"), 12))
    TextOps.paragraphDedup(withParas, "doc_id", "paras")
      .orderBy(col("doc_id"))
  }

  /** Deterministic fixed-point k-means ([[graft.operators.Similarity
    * .kmeansFixedPoint]]): k=4 / 2 Lloyd iterations over the
    * embeddings in scaled-long arithmetic; the oracle replays init,
    * both update rounds and the final assignment exactly, so cluster
    * sizes, quantization error and centroid checksums must all match
    * bit-for-bit. */
  private def q53_kmeans(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansFixedPoint(pq(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, iters = 2, dim = 64)
      .orderBy(col("cell_id"))

  /** The q53 loop with the PRODUCTION seeded init: `initSeed = Some(7)`
    * draws the 4 vectors with the smallest `xxhash64(vec_id, 7L)`
    * (uniform over the corpus regardless of id layout). The oracle
    * replays that draw bit-exactly — XXH64 in HUGEINT mod-2^64
    * arithmetic — plus the same two update rounds, so the seeded init
    * path is oracle-pinned, not just spec-covered. */
  private def q55_kmeans_seeded(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansFixedPoint(pq(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, iters = 2, dim = 64,
        initSeed = Some(7L))
      .orderBy(col("cell_id"))

  /** Temperature-based domain rebalancing ([[graft.operators.TextOps
    * .temperatureSample]]): languages are skewed in the corpus; at
    * alpha=0.5 each language keeps sqrt(n_min/n_lang) of itself via
    * md5-threshold acceptance, which the oracle reproduces exactly
    * (same hash, same correctly-rounded sqrt threshold). */
  private def q54_temp_sample(s: SparkSession, dir: String): DataFrame =
    TextOps.temperatureSample(pq(s, dir, "documents"), "lang", "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        max(col("keep_threshold")).as("keep_threshold"),
        max(col("doc_id")).as("max_kept_id"))
      .orderBy(col("lang"))

  /** Opaque-binary (multimodal) column plumbing: payload bytes + digest. */
  private def q30_multimodal_meta(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "documents")
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_assets"),
        sum(octet_length(col("payload"))).cast("long").as("total_bytes"),
        countDistinct(md5(col("payload"))).as("n_distinct_payloads"))
      .orderBy(col("source"))

  // ====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_agg_pricing" -> (q01_agg_pricing _),
    "q02_filter_topk" -> (q02_filter_topk _),
    "q03_join_revenue" -> (q03_join_revenue _),
    "q04_broadcast_part" -> (q04_broadcast_part _),
    "q05_window_topn" -> (q05_window_topn _),
    "q06_setops" -> (q06_setops _),
    "q07_distinct" -> (q07_distinct _),
    "q08_semi_join" -> (q08_semi_join _),
    "q09_anti_join" -> (q09_anti_join _),
    "q10_rollup" -> (q10_rollup _),
    "q11_time_window" -> (q11_time_window _),
    "q12_sessionize" -> (q12_sessionize _),
    "q13_asof_join" -> (q13_asof_join _),
    "q14_interval_join" -> (q14_interval_join _),
    "q15_parse_region" -> (q15_parse_region _),
    "q16_zoom_rollup" -> (q16_zoom_rollup _),
    "q17_flagstat" -> (q17_flagstat _),
    "q18_cigar" -> (q18_cigar _),
    "q19_text_stats" -> (q19_text_stats _),
    "q20_quality" -> (q20_quality _),
    "q21_langid" -> (q21_langid _),
    "q22_fingerprint" -> (q22_fingerprint _),
    "q23_minhash_sig" -> (q23_minhash_sig _),
    "q24_neardup_pairs" -> (q24_neardup_pairs _),
    "q25_simhash" -> (q25_simhash _),
    "q26_ngram_jaccard" -> (q26_ngram_jaccard _),
    "q27_cosine_topk" -> (q27_cosine_topk _),
    "q28_ann_bucket" -> (q28_ann_bucket _),
    "q29_embed_neardup" -> (q29_embed_neardup _),
    "q30_multimodal_meta" -> (q30_multimodal_meta _),
    "q31_token_regex" -> (q31_token_regex _),
    "q32_winnow" -> (q32_winnow _),
    "q33_ann_banded" -> (q33_ann_banded _),
    "q34_media_dims" -> (q34_media_dims _),
    "q35_stream_window" -> (q35_stream_window _),
    "q36_merge_intervals" -> (q36_merge_intervals _),
    "q37_dedup_clusters" -> (q37_dedup_clusters _),
    "q38_stream_dedup" -> (q38_stream_dedup _),
    "q39_av_meta" -> (q39_av_meta _),
    "q40_dedup_star" -> (q40_dedup_star _),
    "q41_ann_ivf" -> (q41_ann_ivf _),
    "q42_stream_sessionize" -> (q42_stream_sessionize _),
    "q43_hash_split" -> (q43_hash_split _),
    "q44_source_cap" -> (q44_source_cap _),
    "q45_embed_dedup" -> (q45_embed_dedup _),
    "q46_repetition" -> (q46_repetition _),
    "q47_unigram_lm" -> (q47_unigram_lm _),
    "q48_decontaminate" -> (q48_decontaminate _),
    "q49_shard_pack" -> (q49_shard_pack _),
    "q50_leakage_split" -> (q50_leakage_split _),
    "q51_pii_redact" -> (q51_pii_redact _),
    "q52_para_dedup" -> (q52_para_dedup _),
    "q53_kmeans" -> (q53_kmeans _),
    "q54_temp_sample" -> (q54_temp_sample _),
    "q55_kmeans_seeded" -> (q55_kmeans_seeded _),
    "q56_media_pixels" -> (q56_media_pixels _),
    "q57_wav_pcm" -> (q57_wav_pcm _),
    "q58_mp4_frames" -> (q58_mp4_frames _),
    "q59_image_dedup" -> (q59_image_dedup _),
    "q60_image_neardup" -> (q60_image_neardup _),
    "q61_media_dims_hdr" -> (q61_media_dims_hdr _),
    "q62_video_frames" -> (q62_video_frames _),
    "q63_flat_dedup" -> (q63_flat_dedup _),
    "q64_wav_stereo" -> (q64_wav_stereo _),
    "q65_ann_ivf_trained" -> (q65_ann_ivf_trained _),
    "q66_ann_ivfpq" -> (q66_ann_ivfpq _),
    "q67_sample_stratified" -> (q67_sample_stratified _),
    "q68_bm25" -> (q68_bm25 _),
    "q69_rrf_hybrid" -> (q69_rrf_hybrid _),
    "q70_corpus_profile" -> (q70_corpus_profile _),
    "q71_knn_label_audit" -> (q71_knn_label_audit _),
    "q72_ann_ivfadc" -> (q72_ann_ivfadc _),
    "q73_ann_ivfadc_trained" -> (q73_ann_ivfadc_trained _),
    "q74_coverage" -> (q74_coverage _),
    "q75_asof_join" -> (q75_asof_join _),
    "q76_asof_forward" -> (q76_asof_forward _),
    "q77_closest" -> (q77_closest _),
    "q78_complement" -> (q78_complement _),
    "q79_subtract" -> (q79_subtract _),
    "q80_complement_sized" -> (q80_complement_sized _),
    "q81_asof_range" -> (q81_asof_range _),
    "q82_asof_forward_range" -> (q82_asof_forward_range _),
    "q83_interval_map" -> (q83_interval_map _),
    "q84_interval_jaccard" -> (q84_interval_jaccard _),
    "q85_interval_slop" -> (q85_interval_slop _),
    "q86_interval_flank" -> (q86_interval_flank _),
    "q87_interval_window" -> (q87_interval_window _),
    "q88_interval_coverage_by" -> (q88_interval_coverage_by _),
    "q89_interval_cluster" -> (q89_interval_cluster _),
    "q90_make_windows" -> (q90_make_windows _),
    "q91_interval_shift" -> (q91_interval_shift _),
    "q92_multiinter" -> (q92_multiinter _),
    "q93_reldist" -> (q93_reldist _),
    "q94_interval_shuffle" -> (q94_interval_shuffle _),
    "q95_interval_annotate" -> (q95_interval_annotate _),
    "q96_closest_stranded" -> (q96_closest_stranded _),
    "q97_map_stranded" -> (q97_map_stranded _),
    "q98_subtract_stranded" -> (q98_subtract_stranded _),
    "q99_window_stranded" -> (q99_window_stranded _),
    "q100_map_fraction" -> (q100_map_fraction _),
    "q101_closest_all" -> (q101_closest_all _),
    "q102_getfasta" -> (q102_getfasta _),
    "q103_nuc" -> (q103_nuc _),
    "q104_merge_gap" -> (q104_merge_gap _),
    "q105_overlap_filter" -> (q105_overlap_filter _),
    "q106_getfasta_stranded" -> (q106_getfasta_stranded _),
    "q107_subtract_opposite" -> (q107_subtract_opposite _),
    "q108_intersect_wo" -> (q108_intersect_wo _),
    "q109_intersect_wao" -> (q109_intersect_wao _),
    "q110_getfasta_split" -> (q110_getfasta_split _),
    "q111_closest_k" -> (q111_closest_k _),
    "q112_closest_io" -> (q112_closest_io _),
    "q113_closest_updown" -> (q113_closest_updown _),
    "q114_intersect_split" -> (q114_intersect_split _),
    "q115_chunking" -> (q115_chunking _)) ++
    // scanner-correctness gate (s01..s23): genomic readers vs
    // pre-materialized expected rows (see ScanGate)
    ScanGate.queries.map { case (name, fn, _) => name -> fn }.toMap

  def oracleSql: Map[String, String] = OracleSql.all ++
    ScanGate.queries.map { case (name, _, sql) => name -> sql }.toMap
}
