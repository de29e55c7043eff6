package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite, built by the same factory as
  * every main, so the tests run with the confs the oracle gate runs
  * with. */
trait SparkSpecBase extends AnyFunSuite {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = graft.core.Session.local(4, Map(
    "spark.app.name" -> getClass.getSimpleName,
    "spark.sql.warehouse.dir" ->
      s"${System.getProperty("java.io.tmpdir")}/graft_warehouse"))
}
