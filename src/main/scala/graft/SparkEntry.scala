package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full declared operator surface (SURVEY §2.b): each key
  * is one operator exercised end-to-end on the testdata tables; `oracleSql`
  * carries the equivalent DuckDB SQL: SQL-expressible ops replay their
  * full computation; hash-family ops (MinHash/SimHash/sign-LSH) are gated
  * by the planted-twin contract (closed-form survivals stated as VALUES),
  * so every query is hash-checked — none are rows-only.
  */
object SparkEntry {

  private val all: Seq[QueryDef] =
    RelationalQueries.queries ++
      AggQueries.queries ++
      WindowQueries.queries ++
      AnalyticQueries.queries ++
      SqlQueries.queries ++
      SourceQueries.queries ++
      FunctionQueries.queries ++
      EventQueries.queries ++
      LlmQueries.queries ++
      StreamingQueries.queries ++
      ExtensionQueries.queries ++
      SketchQueries.queries ++
      GraphAnnQueries.queries ++
      MiningQueries.queries ++
      CurationQueries.queries ++
      RetrievalQueries.queries ++
      ClusteringQueries.queries

  require(all.map(_.name).distinct.size == all.size, "duplicate query names")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * TPC-H Q1 pricing summary (SURVEY §7.2 minimum slice). */
  def entry(spark: SparkSession): DataFrame =
    all.find(_.name == "q1_pricing").get.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.sql.map(q.name -> _)).toMap

  /** Local thread count and shuffle width of every main's session:
    * `SPARK_GRAFT_CPUS`, default 32. */
  def cpus(env: Map[String, String]): Int =
    env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The session master: `SPARK_GRAFT_MASTER`, else the `spark.master`
    * that `spark-submit --master` sets as a system property, else
    * `local[cpus]`. A builder `.master(...)` overrides spark-submit's
    * choice, so the property must be consulted here. */
  def master(env: Map[String, String], props: Map[String, String]): String =
    env.get("SPARK_GRAFT_MASTER")
      .orElse(props.get("spark.master"))
      .getOrElse(s"local[${cpus(env)}]")

  /** The one session factory of the mains: [[master]], shuffle width
    * [[cpus]], UTC session time zone, UI off, log level WARN. */
  def session(appName: String): SparkSession = {
    val env = sys.env
    val spark = SparkSession.builder()
      .master(master(env, sys.props.toMap))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus(env).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop everything a query persisted. Library operators persist()
    * multi-consumer subtrees and return lazily, so they cannot unpersist
    * themselves; a driver running many queries releases between queries
    * or blocks accumulate for the life of the JVM. Caches.release() also
    * drops the registry's strong plan references (clearCache alone frees
    * blocks but would let the tracked DataFrames pile up). */
  def releaseCaches(spark: SparkSession): Unit = {
    graft.llm.Caches.release()
    spark.catalog.clearCache()
  }
}
