package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.graftbench.CachedScans
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed interval. Times are epoch microseconds; `parent` is 0 for
  * a root span, and every span of one query execution shares `trace`. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** One per-layer metric as the benchmark prints it. */
final case class Metric(value: Double, unit: String)

/** Spans and counters for the traced run, recorded only from outside
  * the engine: the benchmark wraps its own calls into the operator
  * layer (`operators.build`) and the Dataset action (`sink.execute`)
  * in spans, and a `SparkListener` plus a `QueryExecutionListener`
  * registered here turn public Spark events into job and stage spans,
  * planning phases, task metrics and cache counters.
  *
  * Listeners are attached only around traced passes; `detach` waits
  * for the asynchronous listener bus to go quiet first, so no event of
  * a traced pass is lost. */
final class Trace(spark: SparkSession, cores: Int) {
  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000

  private val ids = new AtomicLong(1)
  private val events = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val SpanProp = "graftbench.span"

  /** Runs `body` inside a span; jobs it launches carry the span id as
    * a local property, which links them to it. */
  def span[T](name: String, parent: Long, trace: Long)(body: Long => T): T = {
    val id = ids.getAndIncrement()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val start = nowUs
    try body(id)
    finally {
      spans.add(Span(id, parent, trace, name, start, nowUs))
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  private final class Job(val id: Int, val startMs: Long, val stageIds: Seq[Int],
      val parent: Long) { @volatile var endMs: Long = -1L }
  private final class Stage(val id: Int) {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var inRecords = 0L
    var shWriteBytes = 0L; var shWriteNs = 0L
    var shReadBytes = 0L; var fetchWaitMs = 0L; var spillBytes = 0L
    var submitMs = -1L; var doneMs = -1L; var completed = false
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  // stages of the recorded jobs: events of an untraced pass that the
  // bus delivers after the next attach belong to no recorded job
  private val jobStages = ConcurrentHashMap.newKeySet[Int]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private def stage(id: Int) = stages.computeIfAbsent(id, i => new Stage(i))
  private val rddNames = new ConcurrentHashMap[Int, String]()
  // (rddId, split, memBytes) in arrival order; replayed for the peak
  private val blockUpdates = new ConcurrentLinkedQueue[(Int, Int, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(jobStages.add)
      jobs.put(e.jobId, new Job(e.jobId, e.time, e.stageIds, parent))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      events.incrementAndGet()
      e.stageInfo.rddInfos.foreach(r => rddNames.put(r.id, String.valueOf(r.name)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val i = e.stageInfo
      if (jobStages.contains(i.stageId)) {
        val s = stage(i.stageId)
        s.synchronized {
          s.submitMs = i.submissionTime.getOrElse(-1L)
          s.doneMs = i.completionTime.getOrElse(-1L)
          s.completed = i.failureReason.isEmpty
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (m != null && jobStages.contains(e.stageId)) {
        val s = stage(e.stageId)
        s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.inBytes += m.inputMetrics.bytesRead
          s.inRecords += m.inputMetrics.recordsRead
          s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shWriteNs += m.shuffleWriteMetrics.writeTime
          s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.spillBytes += m.diskBytesSpilled
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      events.incrementAndGet()
      e.blockUpdatedInfo.blockId match {
        case RDDBlockId(rdd, split) =>
          blockUpdates.add((rdd, split, e.blockUpdatedInfo.memSize))
        case _ =>
      }
    }
  }

  // planning phases (ms) of every Dataset action, and cache usage
  private val phases = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  private val builders = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
  private val cacheNames = ConcurrentHashMap.newKeySet[String]()
  private val cacheScans = new AtomicLong(0)
  private def countScans(plan: SparkPlan): Unit =
    CachedScans(plan).foreach { r =>
      cacheScans.incrementAndGet()
      // a cache first seen here was materialized by this action, and
      // filling it read its own inputs, cached ones included
      if (builders.synchronized(builders.add(r.cache))) {
        cacheNames.add(r.rddName)
        countScans(r.fill)
      }
    }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      phases.add((ms("analysis"), ms("optimization"), ms("planning")))
      countScans(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      events.incrementAndGet()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    awaitQuiet()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Wait until no listener event has arrived for 300 ms (at most 10 s):
    * the listener bus is asynchronous. */
  private def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var last = -1L
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = events.get()
      if (now == last && jobs.values.asScala.forall(_.endMs >= 0)) quiet += 1
      else quiet = 0
      last = now
    }
  }

  /** Total length of the union of intervals. */
  private def unionLen(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Job and stage spans derived from the listener records. Jobs hang
    * off the harness span that launched them; stages off their job. */
  private def engineSpans(): Seq[Span] = {
    val byId = spans.asScala.map(s => s.id -> s).toMap
    val stageJob = mutable.Map[Int, Job]()
    val out = mutable.ArrayBuffer[Span]()
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val trace = byId.get(j.parent).map(_.trace).getOrElse(0L)
      val jid = ids.getAndIncrement()
      out += Span(jid, j.parent, trace, "job", j.startMs * 1000, j.endMs * 1000)
      j.stageIds.foreach { sid =>
        stageJob.getOrElseUpdate(sid, j)
        Option(stages.get(sid)).filter(s => s.completed && s.submitMs >= 0)
          .foreach(s => out += Span(ids.getAndIncrement(), jid, trace, "stage",
            s.submitMs * 1000, s.doneMs * 1000))
      }
    }
    out.toSeq
  }

  /** Self time per span name: duration minus the part of it that its
    * children cover. */
  private def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = unionLen(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
          .filter(iv => iv._2 > iv._1))
        (s.durUs - covered) / 1e6
      }.sum
    }
  }

  /** Per-layer metrics averaged per traced pass, the self time of each
    * span kind, and the span file. */
  def report(passes: Int, spanFile: String): (Map[String, Metric], Map[String, Double]) = {
    val harness = spans.asScala.toSeq
    val engine = engineSpans()
    val all = harness ++ engine
    val w = new java.io.PrintWriter(spanFile, "UTF-8")
    try all.sortBy(_.startUs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
        s""""name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs}}""")
    } finally w.close()

    val n = math.max(passes, 1).toDouble
    val queries = harness.filter(_.name == "query")
    val jobIv = jobs.values.asScala.toSeq.filter(_.endMs >= 0).map(j => (j.startMs * 1000, j.endMs * 1000))
    val wallUs = queries.map(_.durUs).sum.toDouble
    val jobUs = queries.map { q =>
      unionLen(jobIv.map { case (s, e) => (math.max(s, q.startUs), math.min(e, q.endUs)) }
        .filter(iv => iv._2 > iv._1))
    }.sum.toDouble
    val gapUs = wallUs - jobUs
    val st = stages.values.asScala.toSeq
    val done = st.filter(_.completed)
    def sumL(f: Stage => Long) = st.map(f).sum.toDouble
    val ph = phases.asScala.toSeq
    val builds = builders.size.toDouble
    val reads = (cacheScans.get - builders.size).toDouble
    val cacheRdds = rddNames.asScala.collect { case (id, nm) if cacheNames.contains(nm) => id }.toSet
    var cur = 0L; var peak = 0L
    val held = mutable.Map[(Int, Int), Long]()
    blockUpdates.asScala.foreach { case (rdd, split, mem) =>
      if (cacheRdds.contains(rdd)) {
        cur += mem - held.getOrElse((rdd, split), 0L)
        if (mem > 0) held((rdd, split)) = mem else held.remove((rdd, split))
        peak = math.max(peak, cur)
      }
    }
    val taskRunMs = sumL(_.runMs)
    val metrics = Seq[(String, Double, String)](
      ("operators.build_s", harness.filter(_.name == "operators.build").map(_.durUs).sum / 1e6 / n, "s"),
      ("plan.analysis_s", ph.map(_._1).sum / 1e3 / n, "s"),
      ("plan.optimization_s", ph.map(_._2).sum / 1e3 / n, "s"),
      ("plan.planning_s", ph.map(_._3).sum / 1e3 / n, "s"),
      ("plan.executions", ph.size / n, "count"),
      ("driver.gap_s", gapUs / 1e6 / n, "s"),
      ("driver.gap_share", if (wallUs > 0) gapUs / wallUs else 0.0, "ratio"),
      ("sched.jobs", jobs.size / n, "count"),
      ("sched.stages", done.size / n, "count"),
      ("sched.tasks", sumL(_.tasks) / n, "count"),
      ("sched.job_s", jobUs / 1e6 / n, "s"),
      ("sched.slot_busy_share",
        if (jobUs > 0) taskRunMs * 1000 / (cores * jobUs) else 0.0, "ratio"),
      ("exec.task_run_s", taskRunMs / 1e3 / n, "s"),
      ("exec.task_cpu_s", sumL(_.cpuNs) / 1e9 / n, "s"),
      ("exec.gc_s", sumL(_.gcMs) / 1e3 / n, "s"),
      ("scan.bytes", sumL(_.inBytes) / n, "bytes"),
      ("scan.records", sumL(_.inRecords) / n, "count"),
      ("shuffle.write_bytes", sumL(_.shWriteBytes) / n, "bytes"),
      ("shuffle.read_bytes", sumL(_.shReadBytes) / n, "bytes"),
      ("shuffle.write_s", sumL(_.shWriteNs) / 1e9 / n, "s"),
      ("shuffle.fetch_wait_s", sumL(_.fetchWaitMs) / 1e3 / n, "s"),
      ("spill.bytes", sumL(_.spillBytes) / n, "bytes"),
      ("cache.builds", builds / n, "count"),
      ("cache.reads", reads / n, "count"),
      ("cache.reuse_ratio", if (builds > 0) reads / builds else 0.0, "ratio"),
      ("cache.peak_mb", peak / 1048576.0, "MB"))
    (ListMap(metrics.map { case (k, v, u) => k -> Metric(v, u) }: _*), selfTimes(all))
  }
}
