package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the harness session carries every setting Bench times") {
    assert(spark.sparkContext.master === "local[4]")
    val want = Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "4000",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")
    for ((k, v) <- want) assert(spark.conf.get(k) === v, k)
    assert(LogManager.getRootLogger.getLevel === Level.WARN)
  }

  test("sessions are built only in GraftSession and Main") {
    val needle = "SparkSession" + ".builder()"
    def callers(dir: String): Set[String] = {
      val files = Files.walk(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
      files.filter(p => Files.readString(p).contains(needle))
        .map(_.getFileName.toString).toSet
    }
    assert(callers("src/main/scala") === Set("GraftSession.scala", "Main.scala"))
    assert(callers("src/test/scala") === Set.empty[String])
  }
}
