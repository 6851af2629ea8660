package graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Also writes manifest.json: per query, the row count, the sorted
  * schema, an order-independent value fingerprint (sum of the low 60
  * bits of md5(to_json(struct(sorted cols))) per row), and the sha256
  * of the declared oracle SQL text. When a driver-side CORRECTNESS
  * artifact disagrees with a builder-side sweep, the two manifests
  * make the divergence diffable — same fingerprint ⇒ the Spark dump is
  * identical and the break is oracle-environment-side; different
  * sql_sha256 ⇒ the oracle text drifted (r10's q213 lesson).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir>; SPARK_GRAFT_ONLY narrows the dump to the
    // matching query names
    val sfDir = args(0); val outDir = args(1)
    // the session Bench times
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    val manifest = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // fingerprint from the parquet actually written (what the
        // driver will read), not the in-memory frame
        val back = spark.read.parquet(s"$outDir/$name")
        val cols = back.columns.sorted
        val fpRow = back
          .select(to_json(struct(cols.toIndexedSeq.map(col): _*)).as("js"))
          .agg(
            coalesce(sum(conv(substring(md5(col("js")), 1, 15), 16, 10)
              .cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0)))
              .as("fp"),
            count(lit(1)).as("n"))
          .collect()(0)
        val schemaStr = back.schema.fields.sortBy(_.name)
          .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
        manifest(name) =
          s"""{"rows": ${fpRow.getLong(1)}, "fingerprint": "${fpRow.getDecimal(0)}", "schema": "$schemaStr"}"""
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        manifest(name) = s"""{"error": true}"""
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    def sha256(s: String): String = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val sqlHashes = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(sha256(v))}" }
    val manifestJson =
      s"""{"spark_version": ${q(spark.version)},
         |"queries": ${manifest.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}")},
         |"oracle_sql_sha256": ${sqlHashes.mkString("{", ",", "}")}}""".stripMargin
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifestJson)
    spark.stop()
  }
}
