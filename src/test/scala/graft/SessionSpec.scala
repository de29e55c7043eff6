package graft

import graft.core.Session

/** The session factory ([[graft.core.Session]]): the confs every main
  * and every test session run with, their override order, and a
  * single home for session building. */
class SessionSpec extends SparkSpecBase {

  test("a factory session carries the semantic, shuffle-I/O and hygiene confs") {
    // SparkSpecBase builds through Session.local(4, extra)
    val sc = spark.sparkContext
    assert(sc.master == "local[4]")
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.ui.retainedExecutions" -> "15",
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    Seq(
      "spark.ui.enabled" -> "false",
      "spark.shuffle.sort.bypassMergeThreshold" -> "0",
      "spark.cleaner.periodicGC.interval" -> "2min",
      "spark.ui.retainedJobs" -> "200",
      "spark.ui.retainedStages" -> "200",
    ).foreach { case (k, v) => assert(sc.getConf.get(k) == v, k) }
    assert(spark.conf.get("spark.sql.warehouse.dir").endsWith("graft_warehouse"))
  }

  test("confs: partitions follow cpus, extra overrides a fixed conf, SPARK_GRAFT_CONF overrides extra") {
    val confs = Session.confs(2,
      Map("spark.sql.adaptive.enabled" -> "false", "spark.ui.enabled" -> "true"),
      "spark.ui.enabled=false")
    // the builder applies confs in order, so the last entry per key wins
    val resolved = confs.toMap
    assert(resolved("spark.sql.shuffle.partitions") == "2")
    assert(resolved("spark.shuffle.sort.bypassMergeThreshold") == "0")
    assert(resolved("spark.sql.adaptive.enabled") == "false")
    assert(resolved("spark.ui.enabled") == "false")
  }

  test("SPARK_GRAFT_CONF parsing keeps '=' in values and drops empty or key-less segments") {
    assert(Session.parseConf("") == Nil)
    assert(Session.parseConf(
      "a.b=x=y; ;;novalue;=orphan; c = 3 ;d=") ==
      Seq("a.b" -> "x=y", "c" -> "3", "d" -> ""))
  }

  test("SparkSession.builder appears in main code only inside graft/core/Session.scala") {
    assert(MainSources.containing("SparkSession.builder") ==
      Seq("graft/core/Session.scala"))
  }

  test("SparkEntry.queries and oracleSql are built once") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("query selection is by comma-separated name prefix") {
    assert(SparkEntry.prefixes(" graph_kcore, ,q1_ ") == Seq("graph_kcore", "q1_"))
    val names = SparkEntry.select(Some(Seq("graph_kcore", "q1_"))).map(_._1)
    assert(names == names.sorted && names.contains("graph_kcore") &&
      names.contains("q1_agg"))
    assert(names.forall(n => n.startsWith("graph_kcore") || n.startsWith("q1_")))
    assert(SparkEntry.select(None).size == SparkEntry.queries.size)
    assert(SparkEntry.select(Some(Nil)).isEmpty)
  }
}
