package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.TextMR

/** Closed-loop benchmark client: one client runs one query at a time
  * on `local[cpus]` in this process.
  *
  * Args are `key=value`: workload, sf (staged table dir), corpus (text
  * file), out (work dir), seconds, trace (0|1), cpus.
  *
  * Phases: session start; two warm-up passes over the workload's query
  * list, the first of which writes every output for the correctness
  * check; then whole passes until `seconds` have elapsed (at least
  * two). Between executions, outside every timer, the client
  * clears caches (cold workloads), forces a full GC and reads the heap
  * left in use. Writes `out/result.json` for the caller.
  */
object Harness {
  /** Cold: caches are dropped before every query. Warm (shared_cache):
    * caches are dropped only at the start of a pass, so frames shared
    * through PlanCache are built once per pass and then read. */
  final case class Workload(queries: Seq[String], cold: Boolean,
      build: (SparkSession, String) => DataFrame)

  /** The loops whose rounds run inside the operator call. */
  val IterativeQueries = Seq("graph_kcore", "graph_sssp")
  /** Dedup queries that share the PlanCache'd shingle, postings and
    * pair frames. */
  val SharedQueries = Seq("dedup_ngram_jaccard", "dedup_containment",
    "dedup_prefix_filter", "dedup_minhash_lsh", "dedup_sweep_hamming")

  def workload(name: String, sf: String, corpus: String): Workload = {
    lazy val entries = SparkEntry.queries
    def entry(s: SparkSession, q: String) = entries(q)(s, sf)
    name match {
      case "wordcount_file" => Workload(Seq("wordcount_file"), cold = true,
        (s, _) => TextMR.referenceFormat(TextMR.wordcountFile(s, corpus)))
      case "iterative_graph" => Workload(IterativeQueries, cold = true, entry)
      case "shared_cache" => Workload(SharedQueries, cold = false, entry)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  final case class Exec(query: String, pass: Int, buildS: Double, execS: Double,
      cpuS: Double, rows: Long, digest: Long, heapMb: Double, output: String,
      error: String)

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Heap left in use after a full collection, MiB. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Row count and an order-insensitive digest of every output row,
    * gathered by the action itself. */
  private def observed(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("n"),
      sum(pmod(xxhash64(col("*")), lit(2147483647L))).as("h"))

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val name = a("workload")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt

    val t0 = System.nanoTime()
    val spark = graft.core.ShuffleIo.tune(SparkSession.builder()
      .master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "15")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w = workload(name, a("sf"), a("corpus"))
    val wordcount = name == "wordcount_file"
    val trace = if (traced) Some(new Trace(spark, cpus)) else None
    var execIdx = 0

    /** One execution: build the DataFrame, run its action, then the
      * untimed bookkeeping. `check` writes the output for the
      * correctness check instead of sinking it to `noop`. */
    def runOne(q: String, pass: Int, check: Boolean, tr: Option[Trace]): Exec = {
      execIdx += 1
      val idx = execIdx
      if (w.cold) spark.catalog.clearCache()
      val obs = Observation(s"chk$idx")
      val output =
        if (wordcount) s"$out/wc/$idx" else if (check) s"$out/check/$q" else ""
      // without a trace a span is just the call
      def span(nm: String, parent: Long)(f: Long => Unit): Unit =
        tr.fold(f(0L))(_.span(nm, parent, idx)(f))
      var buildS = 0.0
      try {
        val c0 = processCpuNs()
        val s0 = System.nanoTime()
        span("query", 0) { qid =>
          var df: DataFrame = null
          span("operators.build", qid)(_ => df = w.build(spark, q))
          buildS = (System.nanoTime() - s0) / 1e9
          span("sink.execute", qid) { _ =>
            if (wordcount) df.write.mode("overwrite").text(output)
            else if (check) observed(df, obs).write.mode("overwrite").parquet(output)
            else observed(df, obs).write.format("noop").mode("overwrite").save()
          }
        }
        val wall = (System.nanoTime() - s0) / 1e9
        val cpu = (processCpuNs() - c0) / 1e9
        val (rows, digest) =
          if (wordcount) (-1L, 0L)
          else {
            val m = obs.get
            (m("n").asInstanceOf[Long],
              Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
          }
        Exec(q, pass, buildS, wall - buildS, cpu, rows, digest, heapAfterGcMb(),
          output, "")
      } catch {
        case e: Throwable =>
          Exec(q, pass, buildS, 0, 0, -1, 0, heapAfterGcMb(), output,
            String.valueOf(e.getMessage).linesIterator.toSeq.headOption.getOrElse(e.toString))
      }
    }

    def runPass(pass: Int, check: Boolean, tr: Option[Trace]): Seq[Exec] = {
      if (!w.cold) spark.catalog.clearCache()
      w.queries.map(q => runOne(q, pass, check, tr))
    }

    // warm-up: JIT, codegen and file listing. The first pass writes the
    // checked outputs; pass times were still falling after it, so a
    // second one runs before the measured phase.
    val w0 = System.nanoTime()
    val warm = runPass(-2, check = true, None)
    runPass(-1, check = false, None)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val readyEpochMs = System.currentTimeMillis()

    // measured phase: whole passes; in a traced run odd passes carry
    // the listeners and even ones do not, which gives the overhead
    val execs = mutable.ArrayBuffer[Exec]()
    val passTraced = mutable.ArrayBuffer[Boolean]()
    val m0 = System.nanoTime()
    var pass = 0
    while (pass < 2 || (System.nanoTime() - m0) / 1e9 < seconds) {
      val tr = trace.filter(_ => pass % 2 == 1)
      tr.foreach(_.attach())
      execs ++= runPass(pass, check = false, tr)
      tr.foreach(_.detach())
      passTraced += tr.isDefined
      pass += 1
    }
    val measuredS = (System.nanoTime() - m0) / 1e9

    val layers = trace.map(_.report(passTraced.count(identity), s"$out/spans.jsonl"))
    spark.stop()

    val result = mutable.LinkedHashMap[String, Any](
      "session_s" -> sessionS, "warmup_s" -> warmupS,
      "ready_epoch_ms" -> readyEpochMs, "measured_s" -> measuredS,
      "warmup" -> warm, "execs" -> execs.toSeq, "pass_traced" -> passTraced.toSeq,
      "oracle" -> w.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    layers.foreach { case (metrics, self) =>
      result("layers") = metrics
      result("self_s") = self
      result("span_file") = s"$out/spans.jsonl"
    }
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(s"$out/result.json"), result)
  }
}
