package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test run (SURVEY §5.2). */
object SharedSpark {
  lazy val spark: SparkSession = Harness.session(Harness.deploymentConf())

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}
