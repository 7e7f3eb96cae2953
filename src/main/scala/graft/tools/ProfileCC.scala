package graft.tools

import graft.Tables
import graft.api.Graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale profile for the connected-components operator (dupClusters, the
  * body of q31_dup_clusters; q74_survivorship clusters exact duplicates
  * by signature key and runs no components loop): separates the two
  * cost axes the docstrings claim —
  *
  *  1. **Volume axis**: m disjoint id-offset copies of the real sf-dir
  *     exact-dup pair graph (component structure, hence diameter and
  *     round count, unchanged) at m = 1, 4, 16. If round-count dominates,
  *     wall time grows far slower than m.
  *  2. **Diameter axis**: synthetic path graphs with a FIXED edge count
  *     split into chains of length L = 16, 256, 4096. Pointer jumping
  *     converges in ~log2(L) rounds; time should track rounds, not rows.
  *
  * Usage: runMain graft.tools.ProfileCC [sfDir] [reps]
  * Prints one line per cell: label, edges, rounds, median seconds.
  */
object ProfileCC {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.views(spark, sfDir)

    def timed(label: String, mkPairs: () => DataFrame): Unit = {
      val times = (1 to reps).map { _ =>
        val pairs = mkPairs()
        val nEdges = pairs.count()
        val t0 = System.nanoTime()
        val fp = Graft.dupClustersFx(pairs, maxIter = 30)
        fp.state.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        (dt, fp.rounds, nEdges)
      }
      val med = times.map(_._1).sorted.apply((reps - 1) / 2)
      println(f"PROFILE_CC $label edges=${times.head._3}%d " +
        f"rounds=${times.head._2}%d median=${med}%.2f s " +
        f"(${times.map(t => f"${t._1}%.2f").mkString(",")})")
    }

    val base = Graft.exactDupPairs(spark.table("documents"),
      id = col("doc_id"), text = col("text")).cache()
    base.count()
    for (m <- Seq(1, 4, 16)) {
      timed(s"volume_x$m", () =>
        (0 until m).map { i =>
          val off = lit(i * 10000000L)
          base.select((col("id_a") + off).as("id_a"),
            (col("id_b") + off).as("id_b"))
        }.reduce(_ union _))
    }

    // diameter axis: 65,536 edges total, chains of length L
    val nEdges = 65536L
    for (l <- Seq(16, 256, 4096)) {
      timed(s"diameter_L$l", () =>
        spark.range(nEdges).select(
          (expr(s"id DIV $l") * (l + 1) + col("id") % l).as("id_a"),
          (expr(s"id DIV $l") * (l + 1) + col("id") % l + 1).as("id_b")))
    }
    spark.stop()
  }
}
