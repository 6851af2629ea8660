package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM (forked once by sbt): the
  * harness session at four cores. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf0001 = "/root/testdata/sf0.001"
}
