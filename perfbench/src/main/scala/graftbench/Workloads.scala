package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Graft
import graft.sources.{GraftSql, Sinks, VersionedTable}
import graft.sources.VersionedTable.{ColumnBounds, ColumnEquals}
import graft.{SparkEntry, Tables}

object Dirs {
  def du(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else f.length
    val f = new File(path)
    if (f.exists) walk(f) else 0L
  }

  def parquetFiles(path: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new File(path))
  }

  def rm(path: String): Unit = {
    def walk(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(walk)
      f.delete()
    }
    walk(new File(path))
  }

  /** `table`'s bytes against `latest` written once as one plain parquet
    * file under `plain`.
    */
  def space(spark: SparkSession, latest: DataFrame, table: String,
      plain: String): Map[String, Long] = {
    rm(plain)
    latest.coalesce(1).write.parquet(plain)
    val plainBytes = Option(new File(plain).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    Map("dir_bytes" -> du(table), "plain_bytes" -> plainBytes,
      "manifest_bytes" -> du(s"$table/_manifests"))
  }
}

/** Dedup and near-dup clustering over a seeded corpus. Each pass appends
  * its cleaned corpus (one survivor per duplicate cluster) to a versioned
  * table and publishes the per-cluster audit through Sinks.parquet.
  */
final class TextDedup(spark: SparkSession, inputs: String, work: String)
    extends Workload {
  private var table = ""
  val keepEvery = false
  override val oracles = Seq("q31_neardup", "q31_simhash_hamming",
    "q31_ngram_jaccard", "q31_dup_clusters", "q74_survivorship")

  def setup(i: Int): Unit = {
    if (table.nonEmpty) Dirs.rm(table)
    table = s"$work/cleaned_$i"
    val docs = Tables(spark, inputs, "documents")
    docs.count()
    VersionedTable.commit(spark,
      docs.limit(0).withColumn("pass", lit(0L)), table)
  }

  private def declared(c: Ctx, q: String): Array[Row] =
    c.collect(c.build(SparkEntry.queries(q)(spark, inputs)))

  private def auditDir = s"$work/audit"
  private val auditSchema = StructType(Seq(StructField("cluster", LongType),
    StructField("keep_doc", LongType), StructField("n_members", LongType),
    StructField("max_chars", LongType)))

  def round(r: Int): Seq[Op] = {
    var survivors: Array[Row] = null
    Seq(
      Op("exact_dup_pairs", "read", "api")(declared(_, "q31_neardup")),
      Op("simhash_hamming", "read", "api")(declared(_, "q31_simhash_hamming")),
      Op("dup_clusters", "read", "api") { c =>
        // q31_dup_clusters' body, through dupClustersFx for its round count
        val fx = c.build(Graft.dupClustersFx(Graft.exactDupPairs(
          Tables(spark, inputs, "documents"), col("doc_id"), col("text"))))
        c.extra("fixpoint_rounds") = fx.rounds
        c.collect(fx.state.select(col("id"), col("cluster")).orderBy(col("id")))
      },
      Op("ngram_jaccard", "read", "api")(declared(_, "q31_ngram_jaccard")),
      Op("minhash_lsh", "read", "api")(declared(_, "q31_minhash_lsh")),
      Op("survivorship", "read", "api") { c =>
        survivors = declared(c, "q74_survivorship")
        survivors
      },
      Op("append_cleaned", "write", "vt") { c =>
        val keep = survivors.map(s => Row(s.getLong(1))).toSeq.asJava
        c.extra("rows_changed") = keep.size.toDouble
        c.build {
          val docs = Tables(spark, inputs, "documents")
          val ids = spark.createDataFrame(keep,
            StructType(Seq(StructField("keep_doc", LongType))))
          VersionedTable.append(spark, table,
            docs.join(ids, docs("doc_id") === ids("keep_doc"), "left_semi")
              .withColumn("pass", lit(r.toLong)))
        }
        Array.empty
      },
      Op("write_audit", "write", "sinks") { c =>
        // the per-cluster audit (survivor, members, longest text) is
        // published as plain parquet, one directory per cluster size
        c.build(Sinks.parquet(spark.createDataFrame(survivors.toSeq.asJava,
          auditSchema), auditDir, partitionBy = Seq("n_members")))
        Array.empty
      },
      Op("audit_readback", "read", "sinks") { c =>
        c.collect(c.build(spark.read.parquet(auditDir)))
      })
  }

  private var lastBytes = 0L
  override def afterOp(op: Op, c: Ctx): Unit = op.name match {
    case "append_cleaned" =>
      val b = Dirs.du(table)
      c.extra("bytes_written") = (b - lastBytes).toDouble
      lastBytes = b
    case "write_audit" =>
      c.extra("files_written") = Dirs.parquetFiles(auditDir)
      c.extra("bytes_written") = Dirs.du(auditDir).toDouble
    case _ => ()
  }

  def space(): Map[String, Long] = Dirs.space(spark,
    VersionedTable.readLatest(spark, table), table, s"$work/plain")

  def finish(): Unit =
    VersionedTable.readLatest(spark, table).write.parquet(s"$work/final")
}

/** A keyed table under a seeded stream of MERGE/UPDATE/DELETE/INSERT,
  * pruned point and range reads, time travel and aggregates, with the
  * lifecycle verbs once a round.
  */
final class LakehouseChurn(spark: SparkSession, inputs: String,
    work: String) extends Workload {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private implicit val formats: Formats = DefaultFormats
  private val spec = JsonMethods.parse(new File(s"$inputs/ops.json"))
  private val epoch = java.time.LocalDate.parse((spec \ "epoch").extract[String])
  private val keep = (spec \ "keep").extract[Int]
  private val rounds = (spec \ "rounds").children.map(_.children)
  override def roundsAvailable: Int = rounds.size
  private val files = 8
  private var table = ""
  private var targetBytes = 0L
  private val writeVersions = mutable.ArrayBuffer.empty[Long]
  val keepEvery = true

  private val rowSchema = StructType(Seq(StructField("k", LongType),
    StructField("d", IntegerType), StructField("cat", StringType),
    StructField("v", DoubleType), StructField("n", LongType)))

  private def day(i: Int) = java.sql.Date.valueOf(epoch.plusDays(i))
  private def dayLit(i: Int) = s"DATE'${epoch.plusDays(i)}'"

  def setup(i: Int): Unit = {
    if (table.nonEmpty) Dirs.rm(table)
    table = s"$work/lake_$i"
    writeVersions.clear()
    VersionedTable.setSkippingPolicy(spark, table, Seq("d"), Seq("k"))
    val base = spark.read.parquet(s"$inputs/base.parquet")
    writeVersions += VersionedTable.commitClustered(spark, base, table,
      Seq("d"), numFiles = files, statsCols = Seq("d"), bloomCols = Seq("k"))
    // OPTIMIZE rewrites toward the seeded layout's data file size
    val parts = new File(s"$table/data").listFiles.toSeq
      .flatMap(d => Option(d.listFiles).toSeq.flatten)
      .filter(f => f.getName.startsWith("part-"))
    targetBytes = math.max(1L, parts.map(_.length).sum / files)
  }

  private def source(rows: JValue): DataFrame = {
    val rs = rows.children.map { r =>
      val xs = r.children
      Row(xs(0).extract[Long], xs(1).extract[Int], xs(2).extract[String],
        xs(3).extract[Double], xs(4).extract[Long])
    }
    spark.createDataFrame(rs.asJava, rowSchema)
      .withColumn("d", date_add(lit(day(0)), col("d")))
  }

  private def readCols(df: DataFrame) = df.select(col("k"),
    datediff(col("d"), lit(day(0))).as("d"), col("cat"), col("v"), col("n"))

  private def totals(df: DataFrame) = df.groupBy(col("cat"))
    .agg(count(lit(1)).as("c"), sum(col("v")).as("sv"), sum(col("n")).as("sn"))

  private def verb(c: Ctx)(body: => Any): Array[Row] = {
    c.build(body)
    Array.empty
  }

  def round(r: Int): Seq[Op] = rounds(r).map { op =>
    val t = (op \ "op").extract[String]
    def int(k: String) = (op \ k).extract[Int]
    t match {
      case "point" => Op(t, "read", "vt") { c =>
        c.collect(c.build(readCols(VersionedTable.readLatestPruned(spark,
          table, Nil, Seq(ColumnEquals("k", (op \ "key").extract[Long]))))))
      }
      case "range" => Op(t, "read", "vt") { c =>
        c.collect(c.build(totals(VersionedTable.readLatestPruned(spark, table,
          Seq(ColumnBounds("d", Some(day(int("lo"))), Some(day(int("hi")))))))))
      }
      case "agg" => Op(t, "read", "vt") { c =>
        c.collect(c.build(GraftSql.sql(spark,
          s"""SELECT cat, count(*) AS c, sum(v) AS sv, sum(n) AS sn
             |FROM '$table' LATEST GROUP BY cat""".stripMargin)))
      }
      case "asof" => Op(t, "read", "vt") { c =>
        val v = writeVersions(int("write"))
        c.collect(c.build(GraftSql.sql(spark,
          s"""SELECT cat, count(*) AS c, sum(v) AS sv, sum(n) AS sn
             |FROM '$table' VERSION AS OF $v GROUP BY cat""".stripMargin)))
      }
      case "merge" => Op(t, "write", "vt") { c =>
        verb(c) {
          source(op \ "rows").createOrReplaceTempView("bench_src")
          GraftSql.sql(spark,
            s"""MERGE INTO '$table' USING bench_src AS s ON k
               |WHEN MATCHED AND s.v < 0 THEN DELETE
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
        }
      }
      case "insert" => Op(t, "write", "vt") { c =>
        verb(c) {
          source(op \ "rows").createOrReplaceTempView("bench_src")
          GraftSql.sql(spark,
            s"INSERT INTO '$table' SELECT * FROM bench_src").collect()
        }
      }
      case "update" => Op(t, "write", "vt") { c =>
        verb(c)(GraftSql.sql(spark,
          s"""UPDATE '$table' SET v = v + 1.0, n = n + 1
             |WHERE cat = '${(op \ "cat").extract[String]}'
             |AND d BETWEEN ${dayLit(int("lo"))} AND ${dayLit(int("hi"))}"""
            .stripMargin).collect())
      }
      case "delete" => Op(t, "write", "vt") { c =>
        verb(c)(GraftSql.sql(spark,
          s"""DELETE FROM '$table' WHERE cat = '${(op \ "cat").extract[String]}'
             |AND d = ${dayLit(int("day"))}""".stripMargin).collect())
      }
      case "optimize" => Op(t, "write", "vt") { c =>
        verb(c)(VersionedTable.optimize(spark, table, targetBytes,
          clusterCols = Seq("d")))
      }
      case "expire" => Op(t, "write", "vt") { c =>
        verb(c)(GraftSql.sql(spark,
          s"EXPIRE VERSIONS '$table' KEEP $keep").collect())
      }
      case "vacuum" => Op(t, "write", "vt") { c =>
        // the SQL form retains whole hours; the verb takes milliseconds
        verb(c)(VersionedTable.vacuum(spark, table, 1L))
      }
    }
  }

  private val commits = Set("merge", "insert", "update", "delete", "optimize")
  private var lastBytes = 0L

  /** Record the version each committing write made; the time-travel
    * reads address versions by write index. Called untimed, after every
    * operation, in both runs.
    */
  override def settle(op: Op): Unit = if (commits(op.name))
    writeVersions += VersionedTable.latestVersion(spark, table).get

  override def afterOp(op: Op, c: Ctx): Unit = {
    if (op.kind == "read") {
      c.extra("files_touched") = c.df.inputFiles.length
      c.extra("files_total") =
        VersionedTable.readLatest(spark, table).inputFiles.length
    } else {
      val b = Dirs.du(table)
      c.extra("bytes_written") = math.max(0L, b - lastBytes).toDouble
      lastBytes = b
    }
  }

  def space(): Map[String, Long] = Dirs.space(spark,
    VersionedTable.readLatest(spark, table), table, s"$work/plain")

  def finish(): Unit =
    readCols(VersionedTable.readLatest(spark, table))
      .write.parquet(s"$work/final")
}
