package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM (suites share it). */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession.create("graft-test", "local[16]")
  val SfDir = "/root/testdata/sf0.001"
}

trait SharedSpark {
  lazy val spark: SparkSession = SharedSpark.spark
  val sfDir: String = SharedSpark.SfDir
}
