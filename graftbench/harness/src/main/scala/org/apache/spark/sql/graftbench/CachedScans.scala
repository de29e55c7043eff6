package org.apache.spark.sql.graftbench

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Reads of Spark-cached data in an executed plan. The cache builder
  * type is `private[sql]`, hence this package. */
object CachedScans extends AdaptiveSparkPlanHelper {
  /** One cached read: the identity of the cache it reads, the name its
    * storage blocks are registered under, and the plan that fills it. */
  final case class Read(cache: AnyRef, rddName: String, fill: SparkPlan)

  def apply(plan: SparkPlan): Seq[Read] =
    collectWithSubqueries(plan) { case s: InMemoryTableScanExec =>
      val b = s.relation.cacheBuilder
      Read(b, b.cachedName, b.cachedPlan)
    }
}
