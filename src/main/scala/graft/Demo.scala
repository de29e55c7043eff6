package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Runnable usage tour of the library surface (also the forked-JVM
  * drive target for APIs the sbt-console classloader can't host,
  * e.g. kryo-buffered typed aggregators).
  *
  * {{{ sbt "runMain graft.Demo /root/testdata/sf0.001" }}}
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = core.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    println("== wordcount (reference flagship) ==")
    operators.TextMR.wordcount(spark, dir).show(5, truncate = false)

    println("== top-3 frequent tokens via the TopKFreq typed aggregator ==")
    val words = core.Tables(spark, dir).documents
      .select(explode(split(col("text"), "[^A-Za-z]+")).as("w"))
      .filter(col("w") =!= "").as[String]
    println(words.select(functions.TopKFreq.topK(3, 4096).toColumn).head())

    println("== cosine_sim from SQL (GraftFunctions) ==")
    GraftFunctions.register(spark)
    spark.sql("""SELECT cosine_sim(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)),
                                   array(CAST(2 AS FLOAT), CAST(4 AS FLOAT))) AS c""").show()

    println("== parseJsonSafe quarantine ==")
    val dirty = spark.range(2).toDF("id").withColumn("j",
      when(col("id") === 0, lit("""{"k": 9}""")).otherwise(lit("broken{{")))
    sources.IO.parseJsonSafe(dirty, "j",
      StructType(Seq(StructField("k", LongType)))).show(truncate = false)

    println("== minhash near-dup pairs ==")
    operators.Dedup.minhashLsh(spark, dir).show(5)

    println("== stateful streaming sessionizer (flatMapGroupsWithState) ==")
    val stage = java.nio.file.Files.createTempDirectory("graft_demo_ev")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    val sessions = streaming.Streams.runToMemory(
      streaming.Streams.sessionizeWithState(spark,
        streaming.Streams.readEvents(spark, stage.toString)),
      "demo_sessions",
      org.apache.spark.sql.streaming.OutputMode.Append())
    println(s"closed sessions: ${sessions.count()}")
    sessions.orderBy("user_id", "start_s").show(3)

    spark.stop()
  }
}
