package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Plan capture for performance evidence (`plans/rNN/`): builds each named
  * declared query on the production session shape ([[SparkEntry.session]]
  * on `local[SPARK_GRAFT_CPUS]`) and writes its `explain("formatted")` to
  * `<outDir>/<query>.txt`, without running it. The sf dir's absolute path
  * is shortened to its basename (`file:sf0.1/documents.parquet`), so plans
  * captured on different machines compare line for line. Usage:
  * {{{
  *   sbt "Test/runMain graft.Plans <sfDir> <outDir> <query...>"
  * }}}
  * To time named queries, run [[Bench]] with SPARK_GRAFT_ONLY.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names @ _*) = args: @unchecked
    val spark = SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.views(spark, sfDir)
    val sfPath = Paths.get(sfDir).toAbsolutePath.normalize
    Files.createDirectories(Paths.get(outDir))
    try names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(FormattedMode)
        .replace(sfPath.toString, sfPath.getFileName.toString)
      Files.writeString(Paths.get(outDir, s"$name.txt"), plan)
      // a query that caches must not leak its cached relation into the
      // next query's plan
      spark.catalog.clearCache()
    } finally spark.stop()
  }
}
