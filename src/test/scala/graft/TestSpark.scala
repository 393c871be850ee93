package graft

import org.apache.spark.sql.SparkSession

/** Shared test session (one JVM-wide session; suites run sequentially in
  * the forked test JVM): the engine's settings, with a fixed small
  * master and shuffle width. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.configure(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfDir = "/root/testdata/sf0.001"
}
