package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Query-level developer tooling in one main, one subcommand each.
  * `<prefixes>` selects queries the way SPARK_GRAFT_BENCH_FILTER does:
  * comma-separated name prefixes.
  *
  * {{{
  * smoke <sfDir> <prefixes> [sql]
  *     show 6 rows and the row count of each query; `sql` also prints
  *     its oracle SQL
  * probe <sfDir> <prefixes> [reps=1]
  *     after an untimed warm-up, per-job / per-stage wall, task counts,
  *     CPU, GC and shuffle bytes of each rep: the local stand-in for
  *     the Spark UI's stage table
  * plans <sfDir> <outDir> <suffix> [prefixes=all]
  *     materialize each query through the noop sink so AQE settles,
  *     then write `.explain("formatted")` plus the final executed plan
  *     to <outDir>/<name>_<suffix>.txt
  * }}}
  */
object Tool {
  private type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val (selection, run): (Option[String], (SparkSession, Seq[(String, Query)]) => Unit) =
      args.toSeq match {
        case Seq("smoke", sf, p, rest @ _*) if rest == Nil || rest == Seq("sql") =>
          (Some(p), smoke(_, sf, _, rest.nonEmpty))
        case Seq("probe", sf, p, rest @ _*)
            if rest.size <= 1 && rest.forall(_.toIntOption.exists(_ > 0)) =>
          (Some(p), probe(_, sf, _, rest.headOption.fold(1)(_.toInt)))
        case Seq("plans", sf, out, suffix, rest @ _*) if rest.size <= 1 =>
          (rest.headOption, plans(_, sf, out, suffix, _))
        case _ =>
          System.err.println("usage: graft.Tool smoke <sfDir> <prefixes> [sql]\n" +
            "       graft.Tool probe <sfDir> <prefixes> [reps]\n" +
            "       graft.Tool plans <sfDir> <outDir> <suffix> [prefixes]")
          sys.exit(2)
      }
    val selected = SparkEntry.select(selection.map(SparkEntry.prefixes))
    if (selected.isEmpty) {
      System.err.println(s"[tool] ${selection.getOrElse("")} matches no query")
      sys.exit(1)
    }
    val spark = core.Session.local()
    try run(spark, selected) finally spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def smoke(spark: SparkSession, sfDir: String,
      selected: Seq[(String, Query)], sql: Boolean): Unit =
    selected.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      df.show(6, false)
      println(s"[smoke] $name rows=" + df.count())
      if (sql) println("ORACLE_SQL_BEGIN\n" +
        SparkEntry.oracleSql.getOrElse(name, "(rows-only)") + "\nORACLE_SQL_END")
    }

  private def plans(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, selected: Seq[(String, Query)]): Unit = {
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try {
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(s"plans: $name")
        val df = fn(spark, sfDir)
        noop(df)
        val qe = df.queryExecution
        val txt = qe.explainString(ExplainMode.fromString("formatted")) +
          "\n===== executedPlan (post-AQE where applicable) =====\n" +
          qe.executedPlan.toString
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        System.err.println(s"[plans] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
  }

  private case class St(var tasks: Int = 0, var taskTimeMs: Long = 0,
    var cpuMs: Long = 0, var gcMs: Long = 0, var deserMs: Long = 0,
    var shufReadB: Long = 0, var shufWriteB: Long = 0,
    var submit: Long = 0, var done: Long = 0, var name: String = "")

  private def probe(spark: SparkSession, sfDir: String,
      selected: Seq[(String, Query)], reps: Int): Unit = {
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, St]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Seq[Int], String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(e.jobId, (e.time, -1L, e.stageIds, desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) jobs.put(e.jobId, (j._1, e.time, j._3, j._4))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val st = stages.computeIfAbsent(i.stageId, _ => St())
        st.tasks = i.numTasks
        st.name = i.name.takeWhile(_ != '\n')
        st.submit = i.submissionTime.getOrElse(-1L)
        st.done = i.completionTime.getOrElse(-1L)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val st = stages.computeIfAbsent(e.stageId, _ => St())
        val m = e.taskMetrics
        if (m != null) {
          st.taskTimeMs += m.executorRunTime
          st.cpuMs += m.executorCpuTime / 1000000
          st.gcMs += m.jvmGCTime
          st.deserMs += m.executorDeserializeTime
          st.shufReadB += m.shuffleReadMetrics.totalBytesRead
          st.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        }
      }
    })
    selected.foreach { case (name, fn) =>
      // warm up (codegen, file listing) untimed
      noop(fn(spark, sfDir))
      for (r <- 1 to reps) {
        spark.catalog.clearCache()
        jobs.clear(); stages.clear()
        val t0 = System.nanoTime()
        noop(fn(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(600) // let the listener bus drain
        println(f"===== $name rep $r: wall=$wall%.3f s =====")
        val js = jobs.asScala.toSeq.sortBy(_._1)
        var covered = 0L
        js.foreach { case (id, (s, e, stIds, desc)) =>
          val dur = if (e > 0) e - s else -1
          covered += math.max(dur, 0)
          println(f"job $id%3d ${dur}%6d ms  stages=${stIds.size}%2d  $desc")
          stIds.sorted.foreach { sid =>
            val st = stages.get(sid)
            if (st != null && st.submit > 0)
              println(f"    stage $sid%4d ${st.done - st.submit}%6d ms tasks=${st.tasks}%3d run=${st.taskTimeMs}%6d cpu=${st.cpuMs}%6d gc=${st.gcMs}%5d deser=${st.deserMs}%5d shufR=${st.shufReadB}%9d shufW=${st.shufWriteB}%9d  ${st.name}")
          }
        }
        println(f"jobs=${js.size} sum(job wall)=${covered} ms  (query wall ${wall * 1000}%.0f ms; gap = driver/planning)")
      }
    }
  }
}
