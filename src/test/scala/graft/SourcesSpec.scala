package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.IO

/** Round-trips through every supported sink/source preserve data. */
class SourcesSpec extends SparkSpecBase {

  private lazy val sample = graft.core.Tables(spark, Sf).orders
    .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  private def roundtrip(write: String => Unit, read: String => org.apache.spark.sql.DataFrame): Unit = {
    val dir = Files.createTempDirectory("graft_io").toString
    write(dir)
    val back = read(dir)
    assert(back.count() == sample.count())
    val a = sample.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    val b = back.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("parquet round-trip") {
    roundtrip(d => IO.writeParquet(sample, d), d => IO.readParquet(spark, d))
  }

  test("partitioned parquet round-trip") {
    val dir = Files.createTempDirectory("graft_iop").toString
    IO.writeParquet(sample, dir, partitionBy = Seq("o_orderstatus"))
    val back = IO.readParquet(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    assert(back.count() == sample.count())
    // partition pruning: filtering on the partition column scans a subset
    val pruned = back.filter(col("o_orderstatus") === "F")
    val planStr = { pruned.collect(); pruned.queryExecution.executedPlan.toString }
    assert(planStr.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"expected partition pruning:\n$planStr")
  }

  test("binaryFile source ingests raw bytes with path/length metadata") {
    // the multimodal ingest path: raw image/audio files land as
    // opaque binary columns + metadata (SURVEY §2 G) — Spark's
    // binaryFile source is the standard front door for that
    val dir = Files.createTempDirectory("graft_bin")
    val payloads = Map("a.bin" -> Array[Byte](1, 2, 3, 4),
      "b.bin" -> Array[Byte](9, 8, 7, 6, 5))
    payloads.foreach { case (name, bytes) =>
      Files.write(dir.resolve(name), bytes)
    }
    val df = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(dir.toString)
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        col("length"), col("content"))
    val rows = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
      .toMap
    payloads.foreach { case (name, bytes) =>
      assert(rows(name) == ((bytes.length.toLong, bytes.toSeq)), s"$name")
    }
  }

  test("parseJsonSafe quarantines malformed payloads without failing") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType)))
    val df = spark.range(4).toDF("id")
      .withColumn("props", element_at(array(
        lit("""{"k": 1}"""), lit("not json at all"),
        lit("""{"k": 3}"""), lit(null)), (col("id") + 1).cast("int")))
    val out = IO.parseJsonSafe(df, "props", schema)
      .select("id", "props_parsed", "_corrupt")
      .collect().sortBy(_.getLong(0))
    assert(out(0).getStruct(1).getLong(0) == 1L && out(0).isNullAt(2))
    assert(out(1).isNullAt(1) && out(1).getString(2) == "not json at all")
    assert(out(2).getStruct(1).getLong(0) == 3L)
    assert(out(3).isNullAt(1) && out(3).isNullAt(2)) // null in, null out, no quarantine
  }

  test("csv round-trip") {
    roundtrip(d => IO.writeCsv(sample, d),
      d => IO.readCsv(spark, d, sample.schema))
  }

  test("json round-trip") {
    roundtrip(d => IO.writeJson(sample, d),
      d => IO.readJson(spark, d, sample.schema))
  }

  test("DSv2 word-count source reads reference-format outputs with pruning") {
    val dir = ReferenceParitySpec.Expected.toString
    val df = spark.read.format("graft.sources.WordCountSource").load(dir)
    // totals agree with a plain-text parse of the same files
    val viaText = spark.read.textFile(dir).filter(_.nonEmpty).collect()
      .map { l => val i = l.lastIndexOf(", "); l.substring(i + 2).trim.toLong }
      .sum
    assert(df.agg(sum(col("cnt"))).head().getLong(0) == viaText)
    // the reference's sorted-per-file invariant survives the read
    val one = spark.read.format("graft.sources.WordCountSource")
      .load(s"$dir/doc-0.txt").collect().map(_.getString(0))
    assert(one.toSeq == one.sortBy(identity[String]).toSeq && one.nonEmpty)
    // column pruning reaches the reader: a words-only projection's
    // BatchScan outputs just the word attribute, cnt never leaves it
    val words = df.select("word")
    words.collect()
    val scanLine = words.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("word#") && !scanLine.contains("cnt#"),
      s"expected pruned scan output: $scanLine")
  }

  test("DSv2 word-count sink: byte-parity with the reference output, truncate, append") {
    val out = Files.createTempDirectory("graft_wc_sink").toString
    // single sorted partition = one reducer's file, like the C framework
    val wc = graft.operators.TextMR
      .wordcountFile(spark, ReferenceParitySpec.Input.resolve("doc-0.txt").toString)
      .repartition(1).sortWithinPartitions("word")
    wc.write.format("graft.sources.WordCountSource").mode("overwrite").save(out)
    val files = new java.io.File(out).listFiles.filter(_.getName.endsWith(".txt"))
    assert(files.length == 1 &&
      files.head.getName.matches("part-00000-[0-9a-f]{8}\\.txt"))
    // the write path reproduces the reference's expected output byte-for-byte
    val got = java.nio.file.Files.readAllBytes(files.head.toPath)
    val want = java.nio.file.Files.readAllBytes(
      ReferenceParitySpec.Expected.resolve("doc-0.txt"))
    assert(java.util.Arrays.equals(got, want),
      s"sink output differs from reference (${got.length} vs ${want.length} bytes)")
    // round-trip through the connector's own read side
    val back = spark.read.format("graft.sources.WordCountSource").load(out)
    assert(back.orderBy("word").collect().toSeq ==
      wc.orderBy("word").collect().toSeq)
    // overwrite truncates the previous contents
    wc.limit(2).repartition(1)
      .write.format("graft.sources.WordCountSource").mode("overwrite").save(out)
    assert(spark.read.format("graft.sources.WordCountSource").load(out).count() == 2)
    // append adds a second reducer file alongside — and leaves no
    // readable tmp spill behind
    wc.limit(3).repartition(1)
      .write.format("graft.sources.WordCountSource").mode("append").save(out)
    assert(spark.read.format("graft.sources.WordCountSource").load(out).count() == 5)
    val names = new java.io.File(out).listFiles.map(_.getName)
    assert(names.count(_.endsWith(".txt")) == 2, names.mkString(","))
    assert(!names.exists(_.startsWith(".tmp")), names.mkString(","))
  }

  test("orc round-trip with filter pushdown") {
    roundtrip(d => IO.writeOrc(sample, d), d => IO.readOrc(spark, d))
    val dir = Files.createTempDirectory("graft_orc").toString
    IO.writeOrc(sample, dir)
    val filtered = IO.readOrc(spark, dir).filter(col("o_totalprice") > 300000)
    val planStr = { filtered.collect(); filtered.queryExecution.executedPlan.toString }
    assert(planStr.contains("PushedFilters: [") &&
      planStr.contains("o_totalprice"), s"expected ORC pushdown:\n$planStr")
  }

  test("avro round-trip") {
    roundtrip(d => IO.writeAvro(sample, d), d => IO.readAvro(spark, d))
  }

  test("avro filter lands in the scan's data filters") {
    val dir = Files.createTempDirectory("graft_avro").toString
    IO.writeAvro(sample, dir)
    val filtered = IO.readAvro(spark, dir).filter(col("o_totalprice") > 300000)
    // row-oriented format: no storage-level stats pushdown, but the
    // predicate must still evaluate inside the scan stage (no
    // separate Filter-after-collect shape)
    val planStr = { filtered.collect(); filtered.queryExecution.executedPlan.toString }
    assert(planStr.contains("o_totalprice"), s"filter missing from plan:\n$planStr")
    assert(filtered.count() ==
      sample.filter(col("o_totalprice") > 300000).count())
  }

  test("sorted layout skips row groups a range filter can't match") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // DateType sort/filter column: parquet row-group stats pushdown
    // covers dates; the source's TIMESTAMP_NTZ ship date is listed in
    // PushedFilters but Spark does not translate NTZ predicates into
    // parquet row-group filters, so NTZ layouts don't skip
    val li = graft.core.Tables(spark, Sf).lineitem
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship_date"),
        col("l_extendedprice"))
    def scanRows(path: String): Long = {
      val df = spark.read.parquet(path)
        .filter(col("ship_date").between(
          to_date(lit("1997-01-01")), to_date(lit("1997-03-31"))))
      df.collect()
      df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.sum
    }
    val sortedDir = Files.createTempDirectory("graft_sorted").toString
    val unsortedDir = Files.createTempDirectory("graft_unsorted").toString
    // same data, same file count — only the layout differs
    IO.writeSorted(li, sortedDir, "ship_date", partitions = 8)
    IO.writeParquet(li.repartition(8), unsortedDir)
    val (sortedRead, unsortedRead) = (scanRows(sortedDir), scanRows(unsortedDir))
    // unsorted: every file spans the full date range, so every row
    // group survives the min/max check and the scan decodes ~all rows;
    // sorted: the quarter lives in ~1 of 8 range partitions
    assert(unsortedRead > sortedRead * 2,
      s"expected row-group skipping: sorted=$sortedRead unsorted=$unsortedRead")
    // and the results are identical — layout is value-invisible
    val a = spark.read.parquet(sortedDir).orderBy("l_orderkey", "ship_date",
      "l_extendedprice").collect().map(_.toSeq).toSeq
    val b = spark.read.parquet(unsortedDir).orderBy("l_orderkey", "ship_date",
      "l_extendedprice").collect().map(_.toSeq).toSeq
    assert(a == b)
  }
}
