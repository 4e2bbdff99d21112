package graft.formats

import java.io.ByteArrayInputStream

import scala.collection.mutable

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, Float8Vector, VarCharVector}
import org.apache.arrow.vector.ipc.ArrowStreamReader

import graft.SparkSuite

/** K1: the Arrow IPC sink must produce a stream a stock Arrow reader can
  * consume, with the same rows the DataFrame held — the analogue of the
  * reference's `batches_to_ipc` (`/root/reference/oxbow/src/util.rs:10-18`).
  */
class ArrowIpcSpec extends SparkSuite {

  test("DataFrame -> IPC bytes -> Arrow reader round-trips rows") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "alpha", 1.5),
      (2L, "beta", -0.25),
      (3L, null.asInstanceOf[String], 0.0))
      .toDF("id", "name", "score")
      .orderBy("id")

    val ipc = org.apache.spark.sql.graftshim.ArrowShim.toIpcBytes(df,
      maxRecordsPerBatch = 2) // forces a multi-batch stream
    assert(ipc.nonEmpty)

    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new ByteArrayInputStream(ipc), alloc)
    val got = mutable.ArrayBuffer.empty[(Long, String, Double)]
    try {
      val root = reader.getVectorSchemaRoot
      assert(root.getSchema.getFields.size() == 3)
      while (reader.loadNextBatch()) {
        val ids = root.getVector("id").asInstanceOf[BigIntVector]
        val names = root.getVector("name").asInstanceOf[VarCharVector]
        val scores = root.getVector("score").asInstanceOf[Float8Vector]
        (0 until root.getRowCount).foreach { i =>
          got += ((ids.get(i),
            if (names.isNull(i)) null else new String(names.get(i), "UTF-8"),
            scores.get(i)))
        }
      }
    } finally {
      reader.close()
      alloc.close()
    }
    assert(got.toSeq == Seq(
      (1L, "alpha", 1.5), (2L, "beta", -0.25), (3L, null, 0.0)))
  }

  private def readAll(ipc: Array[Byte]): Seq[Seq[Any]] = {
    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new ByteArrayInputStream(ipc), alloc)
    val got = mutable.ArrayBuffer.empty[Seq[Any]]
    try {
      val root = reader.getVectorSchemaRoot
      while (reader.loadNextBatch()) {
        (0 until root.getRowCount).foreach { i =>
          got += (0 until root.getSchema.getFields.size()).map { c =>
            val v = root.getVector(c)
            if (v.isNull(i)) null else v.getObject(i)
          }
        }
      }
    } finally { reader.close(); alloc.close() }
    got.toSeq
  }

  test("columnar IPC path is byte-identical to the row path on flat scans") {
    // s05-shaped: a BED read through the opt-in columnar batch path —
    // toIpcBytesColumnar consumes the OnHeapColumnVector batches
    // directly (no ColumnarToRow), and on a single-partition scan the
    // stream must match the row path's BYTE FOR BYTE
    val bed = tempFile("t.bed", (0 until 9000).map(i =>
      s"chr${i % 4}\t${i * 10}\t${i * 10 + 50}\tf$i\t${i % 1000}\t+"))
    val df = spark.read.format("bed").option("bed_schema", "bed6")
      .option("columnar", "true").load(bed)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val row = org.apache.spark.sql.graftshim.ArrowShim.toIpcBytes(df)
    val col = org.apache.spark.sql.graftshim.ArrowShim.toIpcBytesColumnar(df)
    assert(col.sameElements(row),
      s"columnar IPC diverged: ${col.length} vs ${row.length} bytes")
    // re-batching inside the columnar path (4096-row scan batches →
    // 2000-row IPC batches) must hit the same boundaries as the row path
    val rowSmall = org.apache.spark.sql.graftshim.ArrowShim
      .toIpcBytes(df, maxRecordsPerBatch = 2000)
    val colSmall = org.apache.spark.sql.graftshim.ArrowShim
      .toIpcBytesColumnar(df, maxRecordsPerBatch = 2000)
    assert(colSmall.sameElements(rowSmall))

    // s01-shaped: flat BAM projection through the same batch path
    val bamDir = java.nio.file.Files.createTempDirectory("graft-ipc-bam")
    graft.fixtures.BamFixture.write(bamDir.resolve("c.bam").toString,
      Seq(("chr1", 100000)),
      (1 to 500).map(i => graft.fixtures.BamFixture.Rec(s"r$i", 0, 0,
        i * 100, 60, Seq((4, 'M')), "ACGT", "FFFF")))
    val bam = spark.read.format("bam").option("tag_scan_rows", "0")
      .option("columnar", "true").load(bamDir.resolve("c.bam").toString)
      .select("qname", "flag", "pos", "mapq")
    val bamRow = org.apache.spark.sql.graftshim.ArrowShim.toIpcBytes(bam)
    val bamCol = org.apache.spark.sql.graftshim.ArrowShim
      .toIpcBytesColumnar(bam)
    assert(bamCol.sameElements(bamRow))
    assert(readAll(bamCol).size == 500)

    // flat CRAM projection: one container, so one partition
    val cramPath = bamDir.resolve("c.cram").toString
    graft.fixtures.CramFixture.write(cramPath,
      "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:100000\n",
      Seq((1 to 500).map(i => graft.fixtures.CramFixture.CRec(s"r$i", 0, 0,
        i * 100, 60, 4))))
    val cram = spark.read.format("cram").option("columnar", "true")
      .load(cramPath).select("qname", "flag", "pos", "mapq", "end")
    val cramRow = org.apache.spark.sql.graftshim.ArrowShim.toIpcBytes(cram)
    val cramCol = org.apache.spark.sql.graftshim.ArrowShim
      .toIpcBytesColumnar(cram)
    assert(cramCol.sameElements(cramRow))
    assert(readAll(cramCol).size == 500)
  }

  test("columnar IPC splices multi-partition streams value-identically") {
    val lines = (0 until 60000).map(i =>
      s"chr${i % 4}\t${i * 10}\t${i * 10 + 50}")
    val bed = tempFile("big.bed", lines)
    val df = spark.read.format("bed")
      .option("maxpartitionbytes", (128L * 1024).toString)
      .option("columnar", "true").load(bed)
    assert(df.rdd.getNumPartitions > 1, "need a multi-partition scan")
    val col = org.apache.spark.sql.graftshim.ArrowShim.toIpcBytesColumnar(df)
    val row = org.apache.spark.sql.graftshim.ArrowShim.toIpcBytes(df)
    assert(readAll(col) == readAll(row))
    // both faces cut batches inside each partition: same bytes
    assert(col.sameElements(row),
      s"columnar IPC diverged: ${col.length} vs ${row.length} bytes")
  }

  test("columnar IPC rejects plans with row-domain work on top") {
    val bed = tempFile("r.bed", Seq("chr1\t0\t10", "chr1\t5\t20"))
    val df = spark.read.format("bed").option("columnar", "true").load(bed)
      .groupBy("chrom").count()
    val e = intercept[IllegalArgumentException] {
      org.apache.spark.sql.graftshim.ArrowShim.toIpcBytesColumnar(df)
    }
    assert(e.getMessage.contains("columnar"))
  }

  test("gate-sized query result survives the IPC round-trip byte-exactly") {
    // a second serialization of the same frame is byte-identical —
    // the sink is deterministic, so downstream content hashes are stable
    val df = spark.range(100).selectExpr("id", "id * 2 as dbl",
      "cast(id as string) as s")
    val a = org.apache.spark.sql.graftshim.ArrowShim.toIpcBytes(df)
    val b = org.apache.spark.sql.graftshim.ArrowShim.toIpcBytes(df)
    assert(a.sameElements(b))
    // and the reader sees all 100 rows
    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new ByteArrayInputStream(a), alloc)
    var n = 0
    try {
      val root = reader.getVectorSchemaRoot
      while (reader.loadNextBatch()) n += root.getRowCount
    } finally { reader.close(); alloc.close() }
    assert(n == 100)
  }

  /** Every IPC row as plain Scala values: structs and lists as Seqs,
    * strings as String — the shape [[plainRow]] gives a collected Row. */
  private def plainIpc(ipc: Array[Byte]): (Seq[String], Seq[Seq[Any]]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.arrow.vector.ValueVector
    import org.apache.arrow.vector.complex.{ListVector, StructVector}
    def plain(v: ValueVector, i: Int): Any = v match {
      case _ if v.isNull(i) => null
      case s: StructVector =>
        s.getChildrenFromFields.asScala.toSeq.map(plain(_, i))
      case l: ListVector =>
        (l.getElementStartIndex(i) until l.getElementEndIndex(i))
          .map(plain(l.getDataVector, _))
      case t: VarCharVector => new String(t.get(i), "UTF-8")
      case o => o.getObject(i)
    }
    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new ByteArrayInputStream(ipc), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val names = root.getSchema.getFields.asScala.toSeq.map(_.getName)
      val got = mutable.ArrayBuffer.empty[Seq[Any]]
      while (reader.loadNextBatch()) {
        (0 until root.getRowCount).foreach { i =>
          got += root.getFieldVectors.asScala.toSeq.map(plain(_, i))
        }
      }
      (names, got.toSeq)
    } finally { reader.close(); alloc.close() }
  }

  private def plainRow(x: Any): Any = x match {
    case r: org.apache.spark.sql.Row => r.toSeq.map(plainRow)
    case s: scala.collection.Seq[_] => s.toSeq.map(plainRow)
    case o => o
  }

  test("row IPC of a multi-partition nested frame equals collect, in order") {
    val header = Seq(
      "##fileformat=VCFv4.1",
      "##INFO=<ID=AC,Number=A,Type=Integer,Description=\"Allele count\">",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
      "##INFO=<ID=DB,Number=0,Type=Flag,Description=\"dbSNP\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO")
    // every third record drops DP and every fifth has no ALT and QUAL,
    // so the info struct and the top level both carry nulls
    val body = (0 until 20000).map { i =>
      val info = Seq(Some(s"AC=${i % 7}"),
        Option.when(i % 3 != 0)(s"DP=$i"),
        Option.when(i % 2 == 0)("DB")).flatten.mkString(";")
      val (alt, qual) = if (i % 5 == 0) (".", ".") else ("G", s"${i % 50}.5")
      s"chr${i % 3 + 1}\t${i + 1}\trs$i\tA\t$alt\t$qual\tPASS\t$info"
    }
    val df = spark.read.format("vcf")
      .option("maxpartitionbytes", (128L * 1024).toString)
      .load(tempFile("nested.vcf", header ++ body))
      .select("chrom", "pos", "id", "alt", "qual", "info")
    assert(df.rdd.getNumPartitions > 2, "need a multi-partition scan")
    val (names, got) = plainIpc(
      org.apache.spark.sql.graftshim.ArrowShim.toIpcBytes(df,
        maxRecordsPerBatch = 1000))
    assert(names == df.columns.toSeq)
    val want = df.collect().toSeq.map(r => plainRow(r))
    assert(got.size == 20000)
    assert(got == want)
  }

  test("row IPC keeps an orderBy's global order across partitions") {
    val conf = spark.conf
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = conf.getOption(key)
    conf.set(key, "false") // keep the sort's range partitions apart
    try {
      val df = spark.range(0, 3000, 1, 4)
        .selectExpr("id", "(id * 7919) % 3001 as k", "cast(id as string) as s")
        .orderBy("k")
      assert(df.queryExecution.toRdd.getNumPartitions >= 3)
      val (_, got) = plainIpc(org.apache.spark.sql.graftshim.ArrowShim
        .toIpcBytes(df, maxRecordsPerBatch = 100))
      val keys = got.map(_(1).asInstanceOf[Long])
      assert(keys.size == 3000 && keys == keys.sorted)
      assert(got == df.collect().toSeq.map(r => plainRow(r)))
    } finally prev.fold(conf.unset(key))(conf.set(key, _))
  }

  test("empty results give a readable schema-only stream") {
    val shim = org.apache.spark.sql.graftshim.ArrowShim
    // every one of 4 partitions empty
    val filtered = spark.range(0, 100, 1, 4).where("id < 0")
      .selectExpr("id", "cast(id as string) as s")
    assert(filtered.rdd.getNumPartitions == 4)
    assert(plainIpc(shim.toIpcBytes(filtered)) == (Seq("id", "s"), Nil))

    // a region query naming no reference of the file plans no partition
    // (and so plans as a row scan even with columnar=true)
    val dir = java.nio.file.Files.createTempDirectory("graft-ipc-empty")
    val cramPath = dir.resolve("e.cram").toString
    graft.fixtures.CramFixture.write(cramPath,
      "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:100000\n",
      Seq((1 to 50).map(i => graft.fixtures.CramFixture.CRec(s"r$i", 0, 0,
        i * 100, 60, 4))))
    val none = spark.read.format("cram").option("regions", "chrZZ:1-100")
      .load(cramPath).select("qname", "pos")
    assert(none.queryExecution.executedPlan.execute().getNumPartitions == 0)
    assert(plainIpc(shim.toIpcBytes(none)) == (Seq("qname", "pos"), Nil))
  }

  test("columnar IPC of a scan that plans no partition is schema-only") {
    val shim = org.apache.spark.sql.graftshim.ArrowShim
    val dir = java.nio.file.Files.createTempDirectory("graft-ipc-empty-col")
    val cramPath = dir.resolve("e.cram").toString
    graft.fixtures.CramFixture.write(cramPath,
      "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:100000\n",
      Seq((1 to 50).map(i => graft.fixtures.CramFixture.CRec(s"r$i", 0, 0,
        i * 100, 60, 4))))
    // no reference chrZZ: the scan plans zero partitions, so Spark plans
    // it as a row scan even with columnar=true
    val none = spark.read.format("cram").option("columnar", "true")
      .option("regions", "chrZZ:1-100").load(cramPath)
      .select("qname", "pos")
    val col = shim.toIpcBytesColumnar(none)
    assert(plainIpc(col) == (Seq("qname", "pos"), Nil))
    assert(col.sameElements(shim.toIpcBytes(none)))
  }
}
