package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main, the tools and the test
  * base build their session through [[local]], so the confs the
  * oracle gate runs with are the confs every other run gets.
  *
  * Confs are applied in this order, a later entry overriding an
  * earlier one:
  *
  *  1. [[ShuffleIo]]'s shuffle-I/O tuning (serialized writer, tmpfs
  *     shuffle dirs).
  *  1. The semantic confs. The session zone is UTC and parquet int64
  *     nanos read as longs. Naive parquet timestamps read as LTZ (the
  *     pre-Spark-4 behaviour): the testdata encodes
  *     ts/o_orderdate/l_shipdate as timestamp[us] without a zone, and
  *     the UTC session makes the LTZ reading value-identical to
  *     DuckDB's naive interpretation. AQE on, UI off, and
  *     `shuffle.partitions` = the local thread count.
  *  1. Long-run hygiene. Local-checkpoint blocks (every iterative
  *     loop's lineage cut) are freed by ContextCleaner only after a GC
  *     drops their RDD references into its queue, and on a heap that
  *     never fills the only guaranteed GC is Spark's periodic one,
  *     whose default 30-minute interval is close to a whole
  *     multi-rep bench run. Measured effect of the backlog: the
  *     cache-retained suite pass after a ~35-minute median phase ran
  *     193 s with q1_agg at 9.9 s, against 114 s and a sub-second
  *     q1_agg on a fresh JVM. A 2-minute cadence bounds the pile-up;
  *     `-XX:+ExplicitGCInvokesConcurrent` (build.sbt) keeps each cycle
  *     concurrent. The SQL status store also retains up to 1000
  *     executions' plan graphs with the UI disabled, so the retained
  *     executions, jobs and stages are capped.
  *  1. The caller's `extra` confs.
  *  1. `SPARK_GRAFT_CONF`, `k=v;k=v` (A/B overrides without a rebuild).
  */
object Session {
  /** Local thread count: `SPARK_GRAFT_CPUS`, else every core the JVM
    * sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `k=v;k=v` → ordered, trimmed pairs. A value may itself contain
    * `=`; empty segments and segments without a key and `=` are
    * dropped. */
  private[graft] def parseConf(s: String): Seq[(String, String)] =
    s.split(";").toSeq.map(_.split("=", 2).map(_.trim))
      .collect { case Array(k, v) if k.nonEmpty => k -> v }

  /** Every conf [[local]] sets, in the order it sets them. */
  private[graft] def confs(cpus: Int, extra: Map[String, String],
      overrides: String): Seq[(String, String)] =
    ShuffleIo.confs ++ Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.cleaner.periodicGC.interval" -> "2min",
      "spark.sql.ui.retainedExecutions" -> "15",
      "spark.ui.retainedJobs" -> "200",
      "spark.ui.retainedStages" -> "200",
    ) ++ extra ++ parseConf(overrides)

  /** A `local[cpus]` session with every conf above, log level WARN. */
  def local(cpus: Int = Session.cpus,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = confs(cpus, extra, sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
