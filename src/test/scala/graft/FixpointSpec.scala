package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.operators.{Dedup, Graph}

/** The loop combinator's contracts ([[graft.core.Fixpoint]]): one
  * non-convergence policy (closure loops raise, bounded unrolls
  * return their N-round state), round tagging on every round's jobs,
  * and a single home for the lineage-cut machinery. */
class FixpointSpec extends SparkSpecBase {
  import spark.implicits._

  test("components on a path longer than maxRounds raises") {
    // min-label propagation needs ~diameter rounds; a 12-node path
    // cannot settle in 3
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalStateException] {
      Dedup.components(path, maxRounds = 3)
    }
    assert(e.getMessage.contains("components") && e.getMessage.contains("3 rounds"),
      e.getMessage)
    // the same path within budget is one component labeled 1
    assert(Dedup.components(path, maxRounds = 20).collect()
      .forall(_.getLong(1) == 1L))
  }

  test("a capped corenessOf returns its upper bound") {
    val chain = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L)
    val sym = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    def cmap(rounds: Int) = Graph.corenessOf(sym, maxRounds = rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one h-index round from the degree start: the inner nodes 3 and 4
    // still read 2, above the fixpoint's 1
    assert(cmap(1) == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L,
      5L -> 1L, 6L -> 1L))
    assert(cmap(8).values.forall(_ == 1L))
  }

  test("kcore's round jobs carry the \"kcore round <r>\" description") {
    val descs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<none>"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("caller")
      // K4 plus a pendant: round 1 peels the pendant, round 2 is stable
      val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
      val out = Graph.kcoreOf((k4 :+ (4L -> 5L)).toDF("a", "b"), 3, 6)
      assert(sc.getLocalProperty("spark.job.description") == "caller",
        "the caller's description is restored after the loop")
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!descs.asScala.exists(_ == "caller") && System.nanoTime() < deadline)
        Thread.sleep(50)
      val seen = descs.asScala.toSeq
      assert(seen.contains("kcore round 1") && seen.contains("kcore round 2"),
        seen.mkString(", "))
      assert(!seen.contains("kcore round 3"), seen.mkString(", "))
      // the output action after the loop runs under the caller's own
      assert(seen.contains("caller"), seen.mkString(", "))
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("localCheckpoint appears in main code only inside graft/core/Fixpoint.scala") {
    val offenders = MainSources.containing("localCheckpoint")
      .filterNot(_ == "graft/core/Fixpoint.scala")
    assert(offenders.isEmpty,
      s"lineage cuts belong to graft.core.Fixpoint: ${offenders.mkString(", ")}")
  }
}
