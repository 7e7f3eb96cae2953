package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.VersionedTable
import graft.sources.VersionedTable.{ColumnBounds, ColumnEquals}

/** One-shot measurement of the versioned-table data-skipping layers
  * (zone maps + Bloom index) against the same reads without skipping —
  * the numbers quoted in README §Scale evidence.
  *
  * Commits lineitem (sf dir from SPARK_GRAFT_SF_DIR) date-clustered into
  * 64 files with a Bloom filter on l_orderkey, then times (median of 5):
  *  - a one-month shipdate range: readVersionPruned vs readVersion+where
  *  - a single-order point lookup: Bloom-pruned vs full scan
  * and prints files touched for each. File counts are the scale-honest
  * metric — at 100 TB the win is not opening footers at all; local[32]
  * wall-clock only bounds the constant factors.
  */
object SkipProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = java.nio.file.Files.createTempDirectory("graft-skipprobe").toString

    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_shipdate"))
    // cluster on the date; Bloom on the orderkey (which interleaves
    // across every date file — the zone map cannot serve it)
    VersionedTable.commitClustered(spark, li, t,
      clusterCols = Seq("l_shipdate"), numFiles = 64,
      bloomCols = Seq("l_orderkey"))

    val monthB = Seq(ColumnBounds("l_shipdate",
      Some(java.sql.Date.valueOf("1995-03-01")),
      Some(java.sql.Date.valueOf("1995-03-31"))))
    val keyE = Seq(ColumnEquals("l_orderkey", 1285L))

    def med5(mk: () => Long): (Double, Long) = {
      val times = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); val n = mk(); ((System.nanoTime() - t0) / 1e6, n)
      }
      (times.map(_._1).sorted.apply(2), times.head._2)
    }
    def touched(sel: Option[(Seq[String], Int)]) =
      sel.map { case (k, n) => s"${k.size}/$n" }.getOrElse("?")

    val full = VersionedTable.readVersion(spark, t, 1L)
    val (tFullRange, nRange) = med5(() => full
      .where(col("l_shipdate").between("1995-03-01", "1995-03-31")).count())
    val (tPrunedRange, _) = med5(() =>
      VersionedTable.readVersionPruned(spark, t, 1L, monthB).count())
    val selRange =
      VersionedTable.pruneSelection(spark, t, 1L, full.schema, monthB)

    val (tFullPoint, nPoint) = med5(() =>
      full.where(col("l_orderkey") === 1285L).count())
    val (tPrunedPoint, _) = med5(() =>
      VersionedTable.readVersionPruned(spark, t, 1L, Nil, keyE).count())
    val selPoint =
      VersionedTable.pruneSelection(spark, t, 1L, full.schema, Nil, keyE)

    println(f"range 1-month: rows=$nRange full=${tFullRange}%.0fms " +
      f"pruned=${tPrunedRange}%.0fms files=${touched(selRange)}")
    println(f"point lookup:  rows=$nPoint full=${tFullPoint}%.0fms " +
      f"pruned=${tPrunedPoint}%.0fms files=${touched(selPoint)}")
    spark.stop()
  }
}
