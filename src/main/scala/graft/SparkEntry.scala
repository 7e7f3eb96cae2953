package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The full declared operator surface (SURVEY.md §2B) is assembled from the
  * per-category query files under `graft.queries`; this object is the single
  * registry the driver's Verify/Bench harnesses iterate.
  */
object SparkEntry {

  /** Every declared query, in SURVEY §2B order. */
  val all: Seq[Q] =
    graft.queries.Relational.qs ++
      graft.queries.Aggregates.qs ++
      graft.queries.Scalars.qs ++
      graft.queries.LlmOps.qs ++
      graft.queries.TextOps.qs ++
      graft.queries.Analytics.qs ++
      graft.queries.StatTests.qs ++
      graft.queries.SeriesOps.qs ++
      graft.queries.Composite.qs ++
      graft.queries.Typed.qs ++
      graft.queries.Extensibility.qs ++
      graft.queries.EventTime.qs

  require(all.map(_.name).distinct.size == all.size,
    s"duplicate query names: ${all.groupBy(_.name).filter(_._2.size > 1).keys}")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Aggregates.qs.head.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2B. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries are engine-verified only.
    */
  def oracleSql: Map[String, String] =
    all.collect { case Q(n, _, Some(sql)) => n -> sql }.toMap

  /** The production session shape on `local[cpus]`, one shuffle partition
    * per core. The DSv2 session catalog lets vanilla `spark.sql` read and
    * write named versioned tables (q232's INSERT leg) and passes every
    * other table through; the extensions make catalog reads columnar and
    * register the native functions and rules, as on a deployed cluster.
    * Verify, Bench and the test suites build from this, so correctness is
    * checked and time is measured on the configuration users run. Callers
    * add their own app name, warehouse and log level.
    */
  def session(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalog.spark_catalog",
        "graft.sources.GraftSparkSessionCatalog")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.ui.enabled", "false")
}
