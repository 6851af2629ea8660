package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog._
import graft.operators.DocPipeline
import graft.sources.FakePdfDecoder

/** Harness contract (see SURVEY.md §7): one named query per implemented
  * operator, each with DuckDB oracle SQL where ANSI-expressible. The
  * queries live in `graft.catalog`, one [[catalog.QuerySpec]] per query
  * in a file per family; the engine-parity conventions every oracle
  * pair follows are on [[catalog.Parity]].
  */
object SparkEntry {

  /** Flagship query on sf=0.001: the reference's end-to-end pipeline
    * (decode → explode pages → extract → filter → key) over the documents
    * table with the deterministic stand-in decoder. Driver smoke-checks
    * rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val cfg = PipelineConfig(minWordsPerPage = 5, getLanguage = true,
      saveFigures = true, maxPages = Some(8), getDrawings = true,
      extractExif = true, computeHash = Some("sha256"))
    val docs = Tables.documents(spark, sfDir)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .drop("text")
    val keyed = DocPipeline.withKeys(docs, col("doc_id"), cfg)
    val hashed = DocPipeline.withComputedHash(keyed, "payload", "sha256")
    val decoded = DocPipeline.decodePages(hashed, FakePdfDecoder(40), "payload",
      withDrawings = cfg.getDrawings)
    val tagged = DocPipeline.explodePages(decoded.drop("payload"), cfg)
    DocPipeline.channels(tagged)._1
  }

  /** `SPARK_GRAFT_ONLY`'s comma-separated query-name substrings; unset
    * means every query. */
  def only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").filter(_.nonEmpty).toSet)

  /** Whether `name` passes the [[only]] filter. */
  def isSelected(name: String): Boolean = only.forall(_.exists(name.contains))

  /** The [[queries]] a harness run covers, in [[queries]]' order. */
  def selected: Seq[(String, (SparkSession, String) => DataFrame)] =
    queries.toSeq.filter { case (n, _) => isSelected(n) }

  /** Every catalog query with its oracle, built once; names are unique. */
  lazy val catalog: Seq[QuerySpec] = {
    val all = RelationalQueries.specs ++ TemporalQueries.specs ++
      EventQueries.specs ++ TimeSeriesQueries.specs ++ ExtractionQueries.specs ++
      TextQueries.specs ++ DedupQueries.specs ++ SimilarityQueries.specs ++
      DescriptiveQueries.specs ++ InferenceQueries.specs ++ GraphQueries.specs ++
      CurationQueries.specs ++ DecodeQueries.specs
    val dups = all.groupBy(_.name).collect { case (n, v) if v.size > 1 => n }
    require(dups.isEmpty, s"duplicate catalog query names: ${dups.mkString(", ")}")
    all
  }

  /** Every query by name. Iteration follows the hash order of the name
    * set, so [[selected]] runs the catalog in one fixed order. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.build).toMap

  /** Oracle SQL with every `round()` rewritten to the portable floor
    * form — see Parity.pround/portableSqlRounds. Keep authoring new
    * oracles with plain `round(x, n)`; the rewrite keeps both engines
    * exact. Rows-only queries (`oracle = None`) have no entry. */
  lazy val oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(sql => q.name -> Parity.portableSqlRounds(sql))).toMap
}
