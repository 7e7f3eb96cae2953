package graft

import graft.sources.Sinks
import org.apache.spark.sql.functions._

/** Writer surface round-trips: parquet (partitioned), CSV, JSON. */
class SinksSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-sink").toString

  /** pruneSelection typed by the version's own snapshot schema, as
    * readVersionPruned calls it.
    */
  private def prune(t: String, v: Long,
      bounds: Seq[graft.sources.VersionedTable.ColumnBounds],
      eqs: Seq[graft.sources.VersionedTable.ColumnEquals] = Nil,
      ins: Seq[graft.sources.VersionedTable.ColumnIn] = Nil) = {
    import graft.sources.VersionedTable
    VersionedTable.pruneSelection(spark, t, v,
      VersionedTable.readVersion(spark, t, v).schema, bounds, eqs, ins)
  }

  test("parquet round-trip with directory partitioning prunes by partition") {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val out = tmp() + "/docs"
    Sinks.parquet(docs, out, partitionBy = Seq("lang"))
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    // partition pruning: the lang filter must become a PartitionFilter
    val plan = back.filter(col("lang") === "en").queryExecution
      .executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"lang filter not pruned:\n$plan")
  }

  test("_metadata provenance: per-file row counts over a multi-file write") {
    val out = tmp() + "/prov"
    spark.range(100).withColumn("part", col("id") % 4)
      .repartition(4, col("part")).write.parquet(out)
    val perFile = spark.read.parquet(out)
      .groupBy(col("_metadata.file_name").as("file_name"))
      .agg(count(lit(1)).as("n"))
      .collect()
    assert(perFile.length > 1, "expected multiple files from 4 partitions")
    assert(perFile.map(_.getLong(1)).sum == 100L, "counts partition the rows")
    assert(perFile.forall(_.getString(0).endsWith(".parquet")))
  }

  test("zorderKey interleaves bits exactly; z-ordered write round-trips") {
    import spark.implicits._
    import graft.api.Graft
    // reference Morton interleave on the driver
    def morton(a: Long, b: Long): Long =
      (0 until 31).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (12345L, 67890L),
      ((1L << 30) - 1, 42L))
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), Graft.zorderKey(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (a, b, z) => assert(z == morton(a, b), s"($a,$b)") }
    // layout write: multiple files, content-identical after round-trip
    val out = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val ev = Tables(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type", "value")
    Sinks.zorderedParquet(ev, out, "user_id", "event_id", nFiles = 4)
    val back = spark.read.parquet(out)
    assert(back.count() == ev.count())
    assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty)
    assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet")) > 1)
  }

  test("refreshPartitions overwrites only the partitions present in the frame") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-dynpart").toString
    val full = Seq((1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0),
      (4, "c", 40.0)).toDF("id", "part", "v")
    Sinks.refreshPartitions(full, out, Seq("part"))
    def filesIn(p: String) = new java.io.File(s"$out/part=$p")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val bBefore = filesIn("b")
    // recompute ONLY partition a (one row dropped, one changed)
    val fixedA = Seq((1, "a", 11.0)).toDF("id", "part", "v")
    Sinks.refreshPartitions(fixedA, out, Seq("part"))
    val back = spark.read.parquet(out)
    assert(back.count() == 3, "partition a replaced, b and c intact")
    assert(back.where(col("part") === "a").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq == Seq((1, 11.0)))
    assert(filesIn("b") == bBefore,
      "untouched partition's files must not be rewritten")
  }

  test("directory partitioning + selective dim join prunes at runtime (DPP)") {
    val out = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    Tables(spark, sfDir, "orders")
      .withColumn("oday", dayofmonth(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("oday").parquet(out)
    val fact = spark.read.parquet(out)
    // dim side carries a selective filter on the partition key -> Spark
    // should inject a runtime partition filter (DPP) into the fact scan
    val dim = Tables(spark, sfDir, "nation")
      .where(col("n_nationkey") < 3)
      .select(col("n_nationkey").as("oday"))
    val joined = fact.join(dim, Seq("oday"))
      .agg(sum(col("o_totalprice")).as("s"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "expected a dynamic partition pruning filter in the fact scan:\n" + plan)
    joined.collect() // and it executes
  }

  test("schema evolution: mergeSchema unifies batches, old rows null-fill") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "a")).toDF("id", "x").write.parquet(out + "/b1")
    Seq((2L, "b", 9.5)).toDF("id", "x", "score").write.parquet(out + "/b2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(out + "/b1", out + "/b2")
    assert(merged.columns.toSet == Set("id", "x", "score"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score")),
      "pre-evolution rows read the added column as null")
    assert(rows(1).getAs[Double]("score") == 9.5)
  }

  test("corrupt JSON quarantines in _corrupt_record; DROPMALFORMED drops") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-dirty")
    java.nio.file.Files.write(dir.resolve("part.json"), java.util.Arrays.asList(
      """{"id": 1, "v": 2.5}""",
      """{"id": oops not json""",
      """{"id": 3, "v": 9.0}"""))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType),
      StructField("_corrupt_record", StringType)))
    val permissive = spark.read.schema(schema).json(dir.toString).cache()
    assert(permissive.count() == 3, "PERMISSIVE keeps every line")
    val bad = permissive.where(col("_corrupt_record").isNotNull).collect()
    assert(bad.length == 1 && bad.head.isNullAt(0),
      "the malformed line lands whole in _corrupt_record with null fields")
    permissive.unpersist()
    val dropped = spark.read
      .schema(StructType(schema.fields.take(2)))
      .option("mode", "DROPMALFORMED").json(dir.toString)
    assert(dropped.count() == 2, "DROPMALFORMED keeps only clean rows")
  }

  test("csv round-trip preserves values") {
    val df = Tables(spark, sfDir, "nation")
    val out = tmp() + "/nation_csv"
    Sinks.csv(df, out)
    val back = spark.read.option("header", "true")
      .schema(df.schema).csv(out)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      df.orderBy("n_nationkey").collect().toSeq)
  }

  test("bucketed tables join without any shuffle") {
    val orders = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val lineitem = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    Sinks.bucketedTable(orders, "b_orders", Seq("o_orderkey"), 4,
      sortCols = Seq("o_orderkey"))
    Sinks.bucketedTable(lineitem, "b_lineitem", Seq("l_orderkey"), 4,
      sortCols = Seq("l_orderkey"))
    // at fixture size the planner would rather broadcast; disable it so
    // the shuffle-free bucketed SortMergeJoin path is what gets planned
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketing unused:\n$plan")
      // co-located join returns the same rows as the shuffled one
      val plain = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      assert(joined.count() == plain.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("json round-trip preserves values") {
    val df = Tables(spark, sfDir, "region")
    val out = tmp() + "/region_json"
    Sinks.json(df, out)
    val back = spark.read.schema(df.schema).json(out)
    assert(back.orderBy("r_regionkey").collect().toSeq ==
      df.orderBy("r_regionkey").collect().toSeq)
  }

  test("orc round-trip preserves values and schema") {
    val df = Tables(spark, sfDir, "documents")
    val out = tmp() + "/docs_orc"
    Sinks.orc(df, out)
    val back = spark.read.orc(out)
    assert(back.schema == df.schema)
    assert(back.orderBy("doc_id").collect().toSeq ==
      df.orderBy("doc_id").collect().toSeq)
  }

  test("compactParquet merges a many-file layout, preserving rows") {
    val in = tmp() + "/shattered"
    val df = spark.range(10000).withColumn("v", col("id") * 7)
    df.repartition(64).write.parquet(in) // 64 tiny files
    def files(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files(in) == 64)
    val out = tmp() + "/compacted"
    val n = Sinks.compactParquet(spark, in, out,
      targetFileBytes = 1L << 30) // everything fits one file
    assert(n == 1 && files(out) == 1, s"wrote $n files")
    val back = spark.read.parquet(out)
    assert(back.count() == 10000 &&
      back.agg(sum(col("v"))).head.getLong(0) ==
        df.agg(sum(col("v"))).head.getLong(0))
  }

  test("VersionedTable: atomic commit, time travel, crash + conflict safety") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vtable"
    // no versions yet
    assert(VersionedTable.latestVersion(spark, t).isEmpty)
    intercept[IllegalArgumentException](VersionedTable.readLatest(spark, t))

    val v1 = VersionedTable.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    val v2 = VersionedTable.commit(spark,
      Seq((1L, "a2"), (3L, "c")).toDF("k", "v"), t)
    assert((v1, v2) == (1L, 2L))

    // time travel: v1 exactly as committed, latest = v2
    assert(VersionedTable.readVersion(spark, t, 1L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(VersionedTable.readLatest(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a2"), (3L, "c")))

    // CRASHED writer: data directory without a manifest is INVISIBLE
    Seq((9L, "ghost")).toDF("k", "v")
      .write.parquet(t + "/data/v=3")
    assert(VersionedTable.latestVersion(spark, t).contains(2L))
    intercept[IllegalArgumentException](
      VersionedTable.readVersion(spark, t, 3L))

    // diff composes snapshotDiff over committed versions
    val d = VersionedTable.diffVersions(spark, t, 1L, 2L, "k", Seq("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(d == Set((1L, "changed"), (2L, "removed"), (3L, "added")), d)

    // put-if-absent publish: a racing writer landing the SAME version
    // first makes the loser's publish throw — nothing half-visible
    val conflict = new java.io.File(t + "/_manifests/v00000003.json")
    assert(conflict.createNewFile())
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.publish(spark, t, 3L, "data/loser-dir")
    }
    assert(VersionedTable.versions(spark, t) == Seq(1L, 2L, 3L))
    // and a full commit after the stray manifest simply takes the next
    // free version — optimistic max+1, no lost update
    assert(VersionedTable.commit(spark,
      Seq((4L, "d")).toDF("k", "v"), t) == 4L)
  }

  test("VersionedTable: losing racer cannot clobber the winning snapshot") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vtable_race"
    VersionedTable.commit(spark, Seq((1L, "base")).toDF("k", "v"), t)
    // both racers observed latest=1 and target version 2; each writes its
    // OWN uuid data dir (exactly what commit does), then publishes
    val winner = t + "/data/winner-uuid"
    val loser = t + "/data/loser-uuid"
    Seq((2L, "winner")).toDF("k", "v").write.parquet(winner)
    Seq((2L, "LOSER")).toDF("k", "v").write.parquet(loser)
    VersionedTable.publish(spark, t, 2L, "data/winner-uuid")
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.publish(spark, t, 2L, "data/loser-uuid")
    }
    // the committed version still reads the WINNER's bytes — the loser's
    // write went to its own orphaned dir, not the winner's
    assert(VersionedTable.readVersion(spark, t, 2L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((2L, "winner")))
  }

  test("VersionedTable.commitMerge applies CDC atomically as a new version") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vtable_merge"
    VersionedTable.commit(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), t)
    // upsert k=1, delete k=2, insert k=4; highest change version wins
    val changes = Seq(
      (1L, "a9", 10L, "u"), (1L, "a5", 5L, "u"),
      (2L, "b", 7L, "d"), (4L, "d", 1L, "u"))
      .toDF("k", "v", "ver", "op")
    val v = VersionedTable.commitMerge(spark, t, changes,
      key = "k", version = "ver", op = "op")
    assert(v == 2L)
    assert(VersionedTable.readLatest(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a9"), (3L, "c"), (4L, "d")))
    // pre-merge snapshot still readable, untouched (isolation)
    assert(VersionedTable.readVersion(spark, t, 1L).count() == 3)
  }

  test("VersionedTable.commitMerge: widened batch null-fills, narrowing fails") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vtable_evolve"
    VersionedTable.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    // widened change batch: new data column `score` evolves the table;
    // untouched pre-merge rows take null for it (union-byname contract)
    val widened = Seq((2L, "b2", Some(0.5), 1L, "u"),
      (3L, "c", None: Option[Double], 1L, "u"))
      .toDF("k", "v", "score", "ver", "op")
    val v = VersionedTable.commitMerge(spark, t, widened,
      key = "k", version = "ver", op = "op")
    val got = VersionedTable.readVersion(spark, t, v).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(got == Set((1L, "a", None), (2L, "b2", Some(0.5)), (3L, "c", None)))
    // a batch MISSING a snapshot column fails typed — never silently
    // nulls out surviving data
    val narrowing = Seq((1L, 2L, "u")).toDF("k", "ver", "op")
    val err = intercept[IllegalArgumentException] {
      VersionedTable.commitMerge(spark, t, narrowing,
        key = "k", version = "ver", op = "op")
    }
    assert(err.getMessage.contains("missing snapshot columns"), err.getMessage)
    // a BASE data column named like the version/op parameter would make
    // the metadata/data split ambiguous — fails naming the collision,
    // not a misleading "missing snapshot columns"
    val t2 = tmp() + "/vtable_collide"
    VersionedTable.commit(spark, Seq((1L, 7L, "x")).toDF("k", "ver", "v"), t2)
    val collide = intercept[IllegalArgumentException] {
      VersionedTable.commitMerge(spark, t2,
        Seq((1L, 8L, "y", 1L, "u")).toDF("k", "ver", "v", "cver", "op"),
        key = "k", version = "ver", op = "op")
    }
    assert(collide.getMessage.contains("collide"), collide.getMessage)
  }

  test("VersionedTable.commitMerge: disjoint races rebase, overlapping conflict") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vtable_merge_race"
    VersionedTable.commit(spark, Seq((1L, "a")).toDF("k", "v"), t)
    // a concurrent writer lands v2 AFTER this merge pinned base = v1
    VersionedTable.commit(spark,
      Seq((1L, "a"), (2L, "concurrent")).toDF("k", "v"), t)
    val changes = Seq((3L, "c", 1L, "u")).toDF("k", "v", "ver", "op")
    // the batch's key (3) is DISJOINT from everything the winner wrote:
    // since r16 the merge REBASES internally instead of conflicting —
    // the winner's rows survive and the result equals a serial replay
    // (never the old lost-update hazard: the published tokens are the
    // WINNER's, not the stale base's)
    val rb0 = VersionedTable.cowRebases.get()
    val v3 = VersionedTable.commitMergeFrom(spark, t, baseVersion = 1L,
      changes, key = "k", version = "ver", op = "op")
    assert(v3 == 3L)
    assert(VersionedTable.cowRebases.get() == rb0 + 1)
    assert(VersionedTable.readLatest(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "concurrent"), (3L, "c")))
    // an OVERLAPPING race still conflicts honestly: v4 rewrites the file
    // holding k=1, so a merge touching k=1 pinned at the stale v3 finds
    // its touched file un-referenced (guard 1) and must re-derive
    VersionedTable.updateWhere(spark, t, col("k") === 1L,
      Map("v" -> lit("A")))
    val overlap = Seq((1L, "z", 1L, "u")).toDF("k", "v", "ver", "op")
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.commitMergeFrom(spark, t, baseVersion = 3L, overlap,
        key = "k", version = "ver", op = "op")
    }
    // retry from the new latest succeeds
    val v5 = VersionedTable.commitMerge(spark, t, overlap,
      key = "k", version = "ver", op = "op")
    assert(v5 == 5L)
    assert(VersionedTable.readLatest(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "z"), (2L, "concurrent"), (3L, "c")))
  }

  test("VersionedTable.mergeInto: upsert + conditional delete in one commit") {
    import graft.sources.VersionedTable
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val t = tmp() + "/vtable_mergeinto"
    VersionedTable.commit(spark,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "v", "qty"), t)
    // qty = 0 rows are deletes; others upsert (replace 1, insert 4);
    // deleting the absent key 9 is a no-op
    val source = Seq((1L, "a2", 11), (2L, "b", 0), (4L, "d", 40),
      (9L, "x", 0)).toDF("k", "v", "qty")
    val v = VersionedTable.mergeInto(spark, t, source,
      key = "k", deleteWhen = col("qty") === 0)
    assert(v == 2L)
    assert(VersionedTable.readLatest(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet ==
      Set((1L, "a2", 11), (3L, "c", 30), (4L, "d", 40)))
    // reserved-column collision fails fast
    intercept[IllegalArgumentException] {
      VersionedTable.mergeInto(spark, t,
        source.withColumnRenamed("qty", "__op"), key = "k")
    }
  }

  test("VersionedTable.vacuum reclaims out-of-grace orphans only") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vtable_vacuum"
    VersionedTable.commit(spark, Seq((1L, "a")).toDF("k", "v"), t)
    VersionedTable.commit(spark, Seq((1L, "a2")).toDF("k", "v"), t)
    // two orphans: a crashed writer (no manifest names these dirs)
    Seq((9L, "ghost")).toDF("k", "v").write.parquet(t + "/data/crash-orphan")
    Seq((8L, "race")).toDF("k", "v").write.parquet(t + "/data/loser-orphan")
    // generous grace: NOTHING is old enough — orphans survive (this is
    // the in-flight-writer protection window)
    assert(VersionedTable.vacuum(spark, t, graceMs = 3600L * 1000).isEmpty)
    // a non-positive grace would disable the in-flight-writer protection
    // entirely — refused, not honored
    intercept[IllegalArgumentException] {
      VersionedTable.vacuum(spark, t, graceMs = 0L)
    }
    // minimal grace (everything already written is out of it): exactly
    // the two orphans go; committed dirs survive
    Thread.sleep(50)
    val deleted = VersionedTable.vacuum(spark, t, graceMs = 10L)
    assert(deleted == Seq("data/crash-orphan", "data/loser-orphan"), deleted)
    assert(!new java.io.File(t + "/data/crash-orphan").exists)
    // both committed versions still read back exactly
    assert(VersionedTable.readVersion(spark, t, 1L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "a")))
    assert(VersionedTable.readLatest(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "a2")))
    // idempotent: a second vacuum finds nothing
    assert(VersionedTable.vacuum(spark, t, graceMs = 10L).isEmpty)
  }

  test("VersionedTable.compactManifests folds the log; every version resolves") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vtable_compact"
    (1 to 12).foreach(i =>
      VersionedTable.commit(spark, Seq((i.toLong, s"v$i")).toDF("k", "v"), t))
    // fold all 12, keep a 3-manifest hot tail -> 9 retired
    assert(VersionedTable.compactManifests(spark, t, keepRecent = 3) == 9)
    assert(VersionedTable.versions(spark, t) == (1L to 12L),
      "discovery sees checkpointed AND listed versions")
    // time travel reaches a retired version via the checkpoint and a
    // recent one via its manifest
    assert(VersionedTable.readVersion(spark, t, 1L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "v1")))
    assert(VersionedTable.readVersion(spark, t, 12L).collect()
      .map(_.getString(1)).toSeq == Seq("v12"))
    // the chain continues past the checkpoint
    VersionedTable.commit(spark, Seq((99L, "z")).toDF("k", "v"), t)
    assert(VersionedTable.latestVersion(spark, t).contains(13L))
    // re-compacting at the new latest folds the growth (only v10 of the
    // pre-tail manifests still exists); at the SAME latest it's a no-op
    assert(VersionedTable.compactManifests(spark, t, keepRecent = 3) == 1)
    assert(VersionedTable.compactManifests(spark, t, keepRecent = 3) == 0)
    // vacuum keeps honoring checkpoint-only references: nothing reclaimed,
    // retired versions still read back
    Thread.sleep(50)
    assert(VersionedTable.vacuum(spark, t, graceMs = 10L).isEmpty)
    assert(VersionedTable.readVersion(spark, t, 5L).collect()
      .map(_.getString(1)).toSeq == Seq("v5"))
    // history: every version rowed; retired ones keep dir but lose
    // writer/batch provenance (the checkpoint folds pairs only)
    val h = VersionedTable.history(spark, t).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq == (1L to 13L))
    assert(h.forall(!_.isNullAt(1)), "every version resolves a data dir")
    assert(h.take(9).forall(_.isNullAt(2)), "retired tail has no writer")
    assert(!h.last.isNullAt(2), "surviving manifests keep writer provenance")
  }

  test("VersionedTable.changesSince nets out intermediate churn") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vtable_cdc"
    VersionedTable.commit(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), t)
    // v2: update 2, delete 3, add 4; v3: add 5 then v4: delete 5 (churn)
    VersionedTable.mergeInto(spark, t,
      Seq((2L, "b2"), (3L, "x"), (4L, "d")).toDF("k", "v"), "k",
      deleteWhen = col("v") === "x")
    VersionedTable.mergeInto(spark, t, Seq((5L, "e")).toDF("k", "v"), "k")
    VersionedTable.mergeInto(spark, t, Seq((5L, "e")).toDF("k", "v"), "k",
      deleteWhen = col("v") === "e")
    val ch = VersionedTable.changesSince(spark, t, fromVersion = 1L,
        key = "k", hashCols = Seq("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // NET vs v1: 2 changed, 3 removed, 4 added — 5's add+delete nets out
    assert(ch == Set((2L, "changed"), (3L, "removed"), (4L, "added")), ch)
    // caught-up consumer sees nothing
    assert(VersionedTable.changesSince(spark, t, 4L, "k", Seq("v")).isEmpty)
    intercept[IllegalArgumentException] {
      VersionedTable.changesSince(spark, t, 99L, "k", Seq("v"))
    }
  }

  test("compactParquet sizes a hive-partitioned input recursively") {
    // data files live under k=0/…k=3/ subdirectories: a flat listing sees
    // 0 bytes -> n=1 -> single-file rewrite regardless of target. The
    // recursive sizing must produce >1 file at a small target.
    val in = tmp() + "/partitioned"
    spark.range(20000)
      .withColumn("k", (col("id") % 4).cast("int"))
      .withColumn("payload", md5(col("id").cast("string")))
      .write.partitionBy("k").parquet(in)
    val out = tmp() + "/compacted_part"
    val n = Sinks.compactParquet(spark, in, out, targetFileBytes = 64L << 10)
    def files(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(n > 1, s"partitioned input sized to $n file(s) — flat listing?")
    assert(files(out) == n, s"expected $n output files")
    val back = spark.read.parquet(out)
    assert(back.count() == 20000)
    // the partition column survives as a data column via discovery
    assert(back.columns.contains("k"))
  }

  test("zone maps: clustered commit + pruned read skip out-of-range files") {
    import graft.sources.VersionedTable
    import graft.sources.VersionedTable.ColumnBounds
    val t = tmp() + "/vt_skip"
    // nv: all-null for id < 5000 — range-clustered on id, the low files
    // are all-null in nv and must prune for any nv range
    val df = spark.range(10000).select(col("id"),
      (col("id") % 7).as("m"),
      when(col("id") < 5000, lit(null).cast("long"))
        .otherwise(col("id")).as("nv"))
    val v = VersionedTable.commitClustered(spark, df, t,
      clusterCols = Seq("id"), numFiles = 8, statsCols = Seq("id", "nv"))
    assert(v == 1L)
    // the sidecar is invisible to the plain read
    val full = VersionedTable.readVersion(spark, t, 1L)
    assert(full.count() == 10000 && full.columns.toSeq == Seq("id", "m", "nv"))

    // narrow id range -> at most 2 of 8 range-clustered files survive
    val idBounds = Seq(ColumnBounds("id", Some(2000L), Some(2999L)))
    val (kept, total) = prune(t, 1L, idBounds).get
    assert(total == 8, s"expected 8 stats rows, got $total")
    assert(kept.nonEmpty && kept.size <= 2, s"kept ${kept.size}/8 files")
    val pruned = VersionedTable.readVersionPruned(spark, t, 1L, idBounds)
    val expect = full.where(col("id").between(2000L, 2999L))
    assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty)

    // all-null files prune on the null-bearing column (min/max null fail
    // every range test), and the surviving rows are exact
    val nvBounds = Seq(ColumnBounds("nv", Some(0L), None))
    val (keptNv, _) = prune(t, 1L, nvBounds).get
    assert(keptNv.size < 8, s"all-null nv files not pruned: ${keptNv.size}/8")
    val prunedNv = VersionedTable.readVersionPruned(spark, t, 1L, nvBounds)
    val expectNv = full.where(col("nv") >= 0L)
    assert(prunedNv.exceptAll(expectNv).isEmpty &&
      expectNv.exceptAll(prunedNv).isEmpty)

    // a bound on a column WITHOUT stats prunes nothing but still filters
    val mixed = Seq(ColumnBounds("m", Some(3L), Some(3L)),
      ColumnBounds("id", Some(2000L), Some(2999L)))
    val prunedMix = VersionedTable.readVersionPruned(spark, t, 1L, mixed)
    val expectMix = full.where(col("m") === 3L &&
      col("id").between(2000L, 2999L))
    assert(prunedMix.exceptAll(expectMix).isEmpty &&
      expectMix.exceptAll(prunedMix).isEmpty)

    // fully out-of-range -> zero files, empty result, schema intact
    val none = VersionedTable.readLatestPruned(spark, t,
      Seq(ColumnBounds("id", Some(50000L), None)))
    assert(none.count() == 0 && none.columns.toSeq == full.columns.toSeq)

    // plan quality: the residual filter still reaches the parquet scan of
    // the surviving files (file-level skip ABOVE row-group pushdown, not
    // instead of it)
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PushedFilters") &&
      prunedPlan.contains("GreaterThanOrEqual(id,2000)"),
      s"residual not pushed to scan:\n$prunedPlan")

    // no sidecar -> graceful full-scan fallback with identical rows
    val t2 = tmp() + "/vt_nostats"
    import spark.implicits._
    VersionedTable.commit(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), t2)
    assert(prune(t2, 1L, Seq(ColumnBounds("k", Some(2L), None))).isEmpty)
    val fb = VersionedTable.readLatestPruned(spark, t2,
      Seq(ColumnBounds("k", Some(2L), None)))
    assert(fb.collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("bloom index: point lookups skip files on a non-clustered column") {
    import graft.sources.VersionedTable
    import graft.sources.VersionedTable.{ColumnBounds, ColumnEquals}
    val t = tmp() + "/vt_bloom"
    // clustered by grp, bloom on id: ids INTERLEAVE across the grp-ranged
    // files (id % 16 spreads every id range over all groups), so zone
    // maps on id are useless and only the Bloom filter can skip
    val df = spark.range(20000).select(col("id"), (col("id") % 16).as("grp"),
      md5(col("id").cast("string")).as("payload"))
    VersionedTable.commitClustered(spark, df, t, clusterCols = Seq("grp"),
      numFiles = 8, bloomCols = Seq("id"))
    val full = VersionedTable.readVersion(spark, t, 1L)

    // a present id lives in exactly one group -> exactly one file really
    // holds it; Bloom keeps that file plus <= a false positive or two
    val hit = Seq(ColumnEquals("id", 12345L))
    val (kept, total) = prune(t, 1L, Nil, hit).get
    assert(total == 8 && kept.nonEmpty && kept.size <= 3,
      s"bloom kept ${kept.size}/$total files for a single-file id")
    val got = VersionedTable.readVersionPruned(spark, t, 1L, Nil, hit)
    assert(got.collect().map(_.getLong(0)).toSeq == Seq(12345L))

    // an ABSENT id: every filter should reject it (k=7 at 10 bits/row);
    // the read must come back empty without error
    val miss = Seq(ColumnEquals("id", 999999999L))
    val (keptM, _) = prune(t, 1L, Nil, miss).get
    assert(keptM.size <= 1, s"absent id kept ${keptM.size}/8 files")
    assert(VersionedTable.readVersionPruned(spark, t, 1L, Nil, miss).count() == 0)

    // equality composes with a range bound on the cluster column
    val both = VersionedTable.readVersionPruned(spark, t, 1L,
      Seq(ColumnBounds("grp", Some(0L), Some(3L))), hit)
    val expect = full.where(col("grp").between(0L, 3L) && col("id") === 12345L)
    assert(both.exceptAll(expect).isEmpty && expect.exceptAll(both).isEmpty)

    // no Bloom for a column -> equality falls back to its zone map: on
    // the CLUSTER column the point range prunes to one file
    val (keptG, _) = prune(t, 1L, Nil, Seq(ColumnEquals("grp", 5L))).get
    assert(keptG.size <= 2, s"zone-map point lookup kept ${keptG.size}/8")
    val g5 = VersionedTable.readVersionPruned(spark, t, 1L, Nil,
      Seq(ColumnEquals("grp", 5L)))
    assert(g5.count() == full.where(col("grp") === 5L).count())

    // ensureStats reports bloom coverage: present -> false, new col -> true
    assert(!VersionedTable.ensureStats(spark, t, 1L, Seq("grp"),
      bloomCols = Seq("id")))
    assert(VersionedTable.ensureStats(spark, t, 1L, Seq("grp"),
      bloomCols = Seq("payload")))
    val byHash = Seq(ColumnEquals("payload",
      full.where(col("id") === 777L).head().getString(2)))
    val prunedS = VersionedTable.readVersionPruned(spark, t, 1L, Nil, byHash)
    assert(prunedS.collect().map(_.getLong(0)).toSeq == Seq(777L),
      "string-typed bloom lookup")
  }

  test("zone maps prune timestamp-typed range bounds") {
    import graft.sources.VersionedTable
    import graft.sources.VersionedTable.ColumnBounds
    val t = tmp() + "/vt_ts"
    val ev = Tables(spark, sfDir, "events").select(col("event_id"), col("ts"))
    VersionedTable.commitClustered(spark, ev, t,
      clusterCols = Seq("ts"), numFiles = 8)
    val full = VersionedTable.readVersion(spark, t, 1L)
    // one mid-range day: java.sql.Timestamp values through lit() must
    // compare correctly against the sidecar's native timestamp min/max
    val span = full.agg(min(col("ts")), max(col("ts"))).head()
    val lo = new java.sql.Timestamp(span.getTimestamp(0).getTime + 86400000L)
    val hi = new java.sql.Timestamp(lo.getTime + 86400000L)
    val bounds = Seq(ColumnBounds("ts", Some(lo), Some(hi)))
    val (kept, total) = prune(t, 1L, bounds).get
    assert(total == 8 && kept.nonEmpty && kept.size < 8,
      s"timestamp bounds kept ${kept.size}/$total")
    val got = VersionedTable.readVersionPruned(spark, t, 1L, bounds)
    val want = full.where(col("ts") >= lit(lo) && col("ts") <= lit(hi))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("zone maps: ensureStats backfills an existing version once") {
    import graft.sources.VersionedTable
    import graft.sources.VersionedTable.ColumnBounds
    val t = tmp() + "/vt_backfill"
    VersionedTable.commitClustered(spark, spark.range(1000).toDF("id"), t,
      clusterCols = Seq("id"), numFiles = 4)
    // already covered -> no rewrite; a NEW column -> rewrite
    assert(!VersionedTable.ensureStats(spark, t, 1L, Seq("id")))
    val t2 = tmp() + "/vt_backfill2"
    VersionedTable.commit(spark, spark.range(1000).toDF("id")
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")), t2)
    assert(VersionedTable.ensureStats(spark, t2, 1L, Seq("id")))
    val (kept, total) = prune(t2, 1L,
      Seq(ColumnBounds("id", Some(0L), Some(99L)))).get
    assert(total == 4 && kept.size < 4, s"kept ${kept.size}/$total")
  }

  test("IN-list pruning keeps the union of per-value files, exact rows") {
    import graft.sources.VersionedTable
    import graft.sources.VersionedTable.ColumnIn
    val t = tmp() + "/vt_inlist"
    val df = spark.range(20000).select(col("id"), (col("id") % 16).as("grp"))
    VersionedTable.commitClustered(spark, df, t, clusterCols = Seq("grp"),
      numFiles = 8, bloomCols = Seq("id"))
    // two present ids + one absent: ~2 real files + at most a false
    // positive or two survive; rows are exactly the present pair
    val probe = Seq(ColumnIn("id", Seq(100L, 15001L, 888888L)))
    val (kept, total) = prune(t, 1L, Nil, Nil, probe).get
    assert(total == 8 && kept.size <= 4, s"IN-list kept ${kept.size}/8")
    val got = VersionedTable.readVersionPruned(spark, t, 1L, Nil, Nil, probe)
    assert(got.collect().map(_.getLong(0)).sorted.toSeq == Seq(100L, 15001L))
    // an over-cap list prunes nothing but still filters exactly
    val big = ColumnIn("id", (0L until 300L).map(_ * 64L))
    val (keptBig, _) = prune(t, 1L, Nil, Nil, Seq(big)).get
    assert(keptBig.size == 8, "over-cap IN-list must not prune")
    assert(VersionedTable.readVersionPruned(spark, t, 1L, Nil, Nil, Seq(big))
      .count() == 300L)
  }

  /** The call sites ("collect at X.scala:N") of the jobs `body` launches,
    * each flagged when it is a schema-inference or listing job (its
    * stage starts in DataFrameReader/DataSource, as the benchmark tracer
    * classifies them). Listener events arrive asynchronously but in
    * order, so a marker job closes the window: once its start arrives,
    * every earlier start has.
    */
  private def jobsOf(body: => Any): Seq[(String, Boolean)] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = "graft.test.marker"
    val seen = new java.util.concurrent.LinkedBlockingQueue[(String, Boolean)]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        seen.put(
          if (p.exists(_.getProperty(marker) != null)) (marker, false)
          else (j.stageInfos.lastOption.map(_.name).getOrElse(""),
            p.exists(x => Option(x.getProperty("spark.job.description"))
              .exists(_.contains("Listing leaf files"))) ||
            j.stageInfos.exists { st =>
              val top = st.details.takeWhile(_ != '\n')
              top.contains("DataFrameReader.") || top.contains("DataSource.")
            }))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
      val out = Seq.newBuilder[(String, Boolean)]
      var j = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (j != null && j._1 != marker) {
        out += j
        j = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(j != null, "the marker job never reached the listener")
      out.result()
    } finally sc.removeSparkListener(l)
  }

  test("pruned reads launch at most one job per sidecar dir, no inference") {
    import graft.sources.{GraftSql, VersionedTable}
    import graft.sources.VersionedTable.{ColumnBounds, ColumnEquals}
    val t = tmp() + "/vt_jobs"
    VersionedTable.setSkippingPolicy(spark, t, Seq("d"), Seq("k"))
    val df = spark.range(4000).select(col("id").as("k"),
      (col("id") % 40).as("d"), (col("id") % 3).as("cat"))
    VersionedTable.commitClustered(spark, df, t, Seq("d"), numFiles = 4,
      statsCols = Seq("d"), bloomCols = Seq("k"))
    GraftSql.sql(spark, s"UPDATE '$t' SET cat = 9 WHERE d = 5").collect()
    // two data dirs, both with a sidecar: the base dir's kept files and
    // the dir the UPDATE wrote
    val latest = VersionedTable.latestVersion(spark, t).get
    val dirs = VersionedTable.history(spark, t)
      .where(col("version") === latest).head().getString(1).split(';')
      .map(_.takeWhile(_ != '!').split('/').take(2).mkString("/")).distinct
    assert(dirs.length == 2 && dirs.forall(d =>
      new java.io.File(s"$t/$d/_stats").isDirectory), dirs.mkString(";"))

    val point = Seq(ColumnEquals("k", 1234L))
    var pointDf: org.apache.spark.sql.DataFrame = null
    val pointJobs = jobsOf {
      pointDf = VersionedTable.readLatestPruned(spark, t, Nil, point) }
    assert(pointJobs.size <= dirs.length && !pointJobs.exists(_._2),
      s"point read built with ${pointJobs.size} jobs for ${dirs.length} " +
        s"dirs: $pointJobs")
    assert(pointDf.collect().map(_.getLong(0)).toSeq == Seq(1234L))

    val range = Seq(ColumnBounds("d", Some(10L), Some(12L)))
    val rangeJobs = jobsOf(VersionedTable.readVersionPruned(spark, t, 1L, range))
    assert(rangeJobs.size <= 1 && !rangeJobs.exists(_._2),
      s"one-dir range read built with ${rangeJobs.size} jobs: $rangeJobs")
    val latestRangeJobs = jobsOf(VersionedTable.readLatestPruned(spark, t, range))
    assert(latestRangeJobs.size <= dirs.length &&
      !latestRangeJobs.exists(_._2), latestRangeJobs.toString)
  }

  test("Bloom probe hashes equal the executor's xxhash64 for each type") {
    import graft.sources.VersionedTable
    import graft.sources.VersionedTable.ColumnEquals
    import org.apache.spark.sql.types.DecimalType
    val t = tmp() + "/vt_bloom_types"
    val cols = Seq("l", "i", "s", "dt", "ts", "dec", "dbl")
    val df = spark.range(400).select((col("id") / 100).cast("int").as("g"),
      col("id").as("l"), col("id").cast("int").as("i"),
      concat(lit("s"), col("id")).as("s"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")),
        col("id").cast("int")).as("dt"),
      timestamp_seconds(lit(1600000000L) + col("id") * 3600L).as("ts"),
      (col("id") * 1.25).cast(DecimalType(12, 2)).as("dec"),
      (col("id") * 0.5).as("dbl"))
    VersionedTable.commitClustered(spark, df, t, clusterCols = Seq("g"),
      numFiles = 4, bloomCols = cols)
    val full = VersionedTable.readVersion(spark, t, 1L)
    val row = full.where(col("l") === 237L).head()
    val holder = full.where(col("l") === 237L)
      .select(col("_metadata.file_name")).head().getString(0)
    // the values as a caller passes them (the JVM types Spark returns),
    // plus an Int value probing the bigint column
    val probes: Seq[(String, Any)] =
      cols.map(c => c -> row.getAs[Any](c)) :+ ("l" -> 237)
    probes.foreach { case (c, v) =>
      val dt = full.schema(c).dataType
      val want = spark.range(1).select((0 until 7).map(s =>
        xxhash64(lit(v).cast(dt), lit(s))): _*).head()
      assert(VersionedTable.bloomHashes(spark, Seq(dt -> v)) ==
        Seq((0 until 7).map(want.getLong)), s"$c ($dt) = $v")
      val (kept, total) = prune(t, 1L, Nil, Seq(ColumnEquals(c, v))).get
      assert(total == 4 && kept.map(_.split('/').last) == Seq(holder),
        s"$c = $v kept $kept, the value lives in $holder")
      assert(VersionedTable.readVersionPruned(spark, t, 1L, Nil,
        Seq(ColumnEquals(c, v))).select("l").collect().map(_.getLong(0))
        .toSeq == Seq(237L), s"$c = $v")
    }
  }

  test("an unreadable sidecar degrades its dir to a full scan, never fails") {
    import graft.sources.VersionedTable
    import graft.sources.VersionedTable.{ColumnBounds, ColumnEquals}
    val t = tmp() + "/vt_bad_stats"
    VersionedTable.setSkippingPolicy(spark, t, Seq("id"), Seq("m"))
    VersionedTable.commitClustered(spark,
      spark.range(2000).select(col("id"), (col("id") % 7).as("m")), t,
      Seq("id"), numFiles = 4)
    VersionedTable.append(spark, t,
      spark.range(2000, 3000).select(col("id"), (col("id") % 7).as("m"))
        .repartitionByRange(2, col("id")))
    val dirs = VersionedTable.history(spark, t)
      .where(col("version") === 2L).head().getString(1).split(';').toSeq
    assert(dirs.size == 2, dirs.mkString(";"))
    // truncate the base dir's sidecar mid-file (and drop its checksum, so
    // the parquet footer read itself is what fails)
    val stats = new java.io.File(s"$t/${dirs.head}/_stats")
    val part = stats.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    java.nio.file.Files.write(part.toPath,
      java.util.Arrays.copyOf(bytes, bytes.length / 2))
    new java.io.File(stats, s".${part.getName}.crc").delete()

    val baseFiles = new java.io.File(s"$t/${dirs.head}").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val full = VersionedTable.readLatest(spark, t)
    Seq(
      (Seq(ColumnBounds("id", Some(2100L), Some(2150L))), Nil,
        col("id").between(2100L, 2150L)),
      (Nil, Seq(ColumnEquals("m", 3L)), col("m") === 3L)
    ).foreach { case (bounds, eqs, cond) =>
      prune(t, 2L, bounds, eqs).foreach { case (kept, _) =>
        val keptBase = kept.filter(_.startsWith(dirs.head + "/"))
          .map(_.split('/').last).toSet
        assert(keptBase == baseFiles,
          s"the unreadable sidecar's dir pruned: $keptBase vs $baseFiles")
      }
      val got = VersionedTable.readLatestPruned(spark, t, bounds, eqs)
      val want = full.where(cond)
      assert(got.count() == want.count() &&
        got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
  }

  test("pruned-read law: random bounds always equal the filtered full read") {
    import graft.sources.VersionedTable
    import graft.sources.VersionedTable.{ColumnBounds, ColumnEquals}
    val rnd = new scala.util.Random(20260814L)
    val t = tmp() + "/vt_law"
    // non-monotone a, nullable b: bounds straddle file edges, miss
    // entirely, or land on all-null stretches depending on the draw
    val df = spark.range(5000).select(
      (col("id") * 37 % 1000).as("a"),
      when(col("id") % 11 === 0, lit(null).cast("long"))
        .otherwise(col("id") % 500).as("b"))
    VersionedTable.commitClustered(spark, df, t, Seq("a"), numFiles = 6,
      statsCols = Seq("a", "b"), bloomCols = Seq("b"))
    val full = VersionedTable.readVersion(spark, t, 1L)
    (1 to 8).foreach { _ =>
      val c = if (rnd.nextBoolean()) "a" else "b"
      val lo = (rnd.nextInt(1100) - 50).toLong
      val hi = lo + rnd.nextInt(400)
      val bounds = Seq(ColumnBounds(c, Some(lo), Some(hi)))
      val eqs =
        if (rnd.nextBoolean()) Seq(ColumnEquals("b", rnd.nextInt(600).toLong))
        else Nil
      val got = VersionedTable.readVersionPruned(spark, t, 1L, bounds, eqs)
      val want = full.where(eqs.foldLeft(col(c).between(lo, hi))(
        (p, e) => p && col(e.column) === lit(e.value)))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"pruned($c in [$lo,$hi], eq=$eqs) diverged from the full read")
    }
  }

  test("z-ordered commit prunes range reads on EITHER dimension") {
    import graft.sources.VersionedTable
    import graft.sources.VersionedTable.ColumnBounds
    val t = tmp() + "/vt_zorder"
    // 100x100 grid: under a 1-D x-clustering, a y-range prunes nothing;
    // under Morton order each file is a compact rectangle, so a narrow
    // range in EITHER dim keeps only the files whose rectangles touch it
    val grid = spark.range(10000).select(
      (col("id") % 100).as("x"), (col("id") / 100).cast("long").as("y"))
    VersionedTable.commitZordered(spark, grid, t, "x", "y", numFiles = 16)
    val full = VersionedTable.readVersion(spark, t, 1L)
    def kept(b: ColumnBounds) =
      prune(t, 1L, Seq(b)).get._1.size
    val kx = kept(ColumnBounds("x", Some(0L), Some(12L)))
    val ky = kept(ColumnBounds("y", Some(0L), Some(12L)))
    assert(kx < 16 && kx <= 8, s"x-range kept $kx/16 files")
    assert(ky < 16 && ky <= 8, s"y-range kept $ky/16 files")
    // and the pruned read stays exact on both axes
    val px = VersionedTable.readVersionPruned(spark, t, 1L,
      Seq(ColumnBounds("x", Some(0L), Some(12L))))
    val ex = full.where(col("x").between(0L, 12L))
    assert(px.exceptAll(ex).isEmpty && ex.exceptAll(px).isEmpty)
    val py = VersionedTable.readVersionPruned(spark, t, 1L,
      Seq(ColumnBounds("y", Some(0L), Some(12L))))
    val ey = full.where(col("y").between(0L, 12L))
    assert(py.exceptAll(ey).isEmpty && ey.exceptAll(py).isEmpty)

    // OPTIMIZE ... ZORDER BY re-imposes the layout POST-HOC: scramble
    // the table with an unclustered rewrite, z-order it back, and either
    // dimension prunes again on the new version
    VersionedTable.optimize(spark, t, targetFileBytes = 1L << 16)
    val v3 = VersionedTable.optimize(spark, t,
      targetFileBytes = 1L << 9, zorderCols = Seq("x", "y"))
    assert(v3 == 3L)
    def kept3(b: ColumnBounds) =
      prune(t, v3, Seq(b)).get match {
        case (k, total) => (k.size, total)
      }
    val (k3x, tot) = kept3(ColumnBounds("x", Some(0L), Some(12L)))
    val (k3y, _) = kept3(ColumnBounds("y", Some(0L), Some(12L)))
    assert(tot > 1 && k3x < tot && k3y < tot,
      s"post-hoc zorder must prune both dims: x=$k3x y=$k3y of $tot")
    val p3 = VersionedTable.readVersionPruned(spark, t, v3,
      Seq(ColumnBounds("y", Some(0L), Some(12L))))
    assert(p3.exceptAll(ey).isEmpty && ey.exceptAll(p3).isEmpty)
    // and the statement spelling drives the same verb
    val v4 = graft.sources.GraftSql.sql(spark,
      s"OPTIMIZE '$t' TARGET 1 MB ZORDER BY (x, y)").head().getLong(0)
    assert(v4 == 4L)
    assert(VersionedTable.readVersion(spark, t, 4L).count() == 10000L)
  }

  test("skipping policy persists across merge and streaming commit paths") {
    import graft.sources.VersionedTable
    import graft.sources.VersionedTable.{ColumnBounds, ColumnEquals}
    import spark.implicits._
    val t = tmp() + "/vt_policy"
    VersionedTable.setSkippingPolicy(spark, t,
      statsCols = Seq("k"), bloomCols = Seq("name"))
    // plain commit with NO explicit columns picks up the policy
    val base = spark.range(4000).select(col("id").as("k"),
      concat(lit("u"), col("id")).as("name"))
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
    VersionedTable.commit(spark, base, t)
    assert(prune(t, 1L,
      Seq(ColumnBounds("k", Some(0L), Some(10L)))).exists(_._2 == 4))

    // mergeInto writes v2 through the merge path — the sidecar must
    // follow, with both the zone map and the bloom filter intact
    VersionedTable.mergeInto(spark, t,
      Seq((99999L, "new-row")).toDF("k", "name"), key = "k")
    val sel = prune(t, 2L, Seq(ColumnBounds("k", Some(0L), Some(10L)))).get
    assert(sel._2 >= 1, "merge commit lost the stats sidecar")
    val hit = VersionedTable.readLatestPruned(spark, t, Nil,
      Seq(ColumnEquals("name", "u1234")))
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(1234L),
      "bloom lookup after merge")

    // the streaming first-batch path honors the policy too
    val t2 = tmp() + "/vt_policy_stream"
    VersionedTable.setSkippingPolicy(spark, t2, statsCols = Seq("k"))
    VersionedTable.mergeBatchIfNew(spark, t2,
      Seq((1L, "a"), (2L, "b")).toDF("k", "name"), key = "k", batchId = 0L)
    assert(prune(t2, 1L, Seq(ColumnBounds("k", Some(1L), Some(1L)))).isDefined,
      "first streaming batch lost the sidecar")

    // a policy column absent from the snapshot schema is skipped, not fatal
    val t3 = tmp() + "/vt_policy_evolve"
    VersionedTable.setSkippingPolicy(spark, t3, statsCols = Seq("k", "ghost"))
    VersionedTable.commit(spark, Seq((1L, "a")).toDF("k", "name"), t3)
    assert(prune(t3, 1L, Seq(ColumnBounds("k", Some(0L), Some(9L)))).isDefined)

    // explicit columns override the policy for that commit
    VersionedTable.commit(spark, Seq((1L, "a")).toDF("k", "name"), t3,
      statsCols = Seq("name"))
    val stats2 = prune(t3, 2L, Seq(ColumnBounds("k", Some(0L), Some(0L))))
    assert(stats2.isDefined, "explicit-cols commit wrote a sidecar")
  }

  test("refreshRollup maintains a keyed rollup incrementally from the feed") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val base = tmp() + "/vt_roll_base"
    val roll = tmp() + "/vt_roll"
    def fullRollup() = VersionedTable.readLatest(spark, base)
      .groupBy("k").agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
    def assertCurrent(): Unit = {
      val got = VersionedTable.readLatest(spark, roll)
      val want = fullRollup()
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"rollup diverged: got ${got.collect().toSeq} want ${want.collect().toSeq}")
    }
    // first refresh = full aggregate
    VersionedTable.commit(spark,
      Seq((1L, "a", 10L), (2L, "a", 5L), (3L, "b", 7L))
        .toDF("id", "k", "v"), base)
    assert(VersionedTable.refreshRollup(spark, base, roll,
      keys = Seq("k"), sumCols = Seq("v")).contains(1L))
    assertCurrent()
    // already current -> None (exactly-once token)
    assert(VersionedTable.refreshRollup(spark, base, roll,
      Seq("k"), Seq("v")).isEmpty)

    // merges drive the INCREMENTAL path: upsert into group a, delete all
    // of group b, create group c — refresh must equal full recompute and
    // must DELETE the vanished group
    VersionedTable.mergeInto(spark, base,
      Seq((2L, "a", 50L), (4L, "c", 3L)).toDF("id", "k", "v"), key = "id")
    VersionedTable.mergeInto(spark, base,
      Seq((3L, "b", 0L)).toDF("id", "k", "v"), key = "id",
      deleteWhen = lit(true))
    assert(VersionedTable.refreshRollup(spark, base, roll,
      Seq("k"), Seq("v")).contains(2L))
    assertCurrent()
    assert(VersionedTable.readLatest(spark, roll)
      .where(col("k") === "b").isEmpty, "vanished group must be deleted")
    // the merge recorded the applied base version; replay no-ops
    assert(VersionedTable.refreshRollup(spark, base, roll,
      Seq("k"), Seq("v")).isEmpty)

    // a full-snapshot commit breaks feed coverage -> full recompute path
    VersionedTable.commit(spark,
      Seq((9L, "z", 100L)).toDF("id", "k", "v"), base)
    assert(VersionedTable.refreshRollup(spark, base, roll,
      Seq("k"), Seq("v")).isDefined)
    assertCurrent()

    // statement spelling; already-current -> empty result
    VersionedTable.mergeInto(spark, base,
      Seq((9L, "z", 150L)).toDF("id", "k", "v"), key = "id")
    assert(graft.sources.GraftSql.sql(spark,
        s"REFRESH ROLLUP '$roll' FROM '$base' KEY k SUM (v)")
      .count() == 1L)
    assertCurrent()
    assert(graft.sources.GraftSql.sql(spark,
        s"REFRESH ROLLUP '$roll' FROM '$base' KEY k SUM (v)")
      .isEmpty, "already-current refresh must return no version")
  }

  test("expireVersions retires history physically; vacuum reclaims the bytes") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vt_expire"
    (1 to 5).foreach(i =>
      VersionedTable.commit(spark, Seq((i.toLong, s"v$i")).toDF("k", "v"), t))
    // fold everything into a checkpoint first: expiry must work on
    // checkpoint-resolved versions, not just live manifests
    VersionedTable.compactManifests(spark, t, keepRecent = 1)
    assert(VersionedTable.expireVersions(spark, t, keepLast = 2) ==
      Seq(1L, 2L, 3L))
    assert(VersionedTable.versions(spark, t) == Seq(4L, 5L))
    intercept[IllegalArgumentException](VersionedTable.readVersion(spark, t, 2L))
    assert(VersionedTable.readVersion(spark, t, 4L).head().getString(1) == "v4")
    // the dropped dirs are unreferenced now: vacuum reclaims exactly them
    Thread.sleep(50)
    val reclaimed = VersionedTable.vacuum(spark, t, graceMs = 10L)
    assert(reclaimed.size == 3, s"reclaimed ${reclaimed.size} dirs")
    assert(VersionedTable.readLatest(spark, t).head().getString(1) == "v5")
    // idempotent; numbering continues; later compaction still resolves
    assert(VersionedTable.expireVersions(spark, t, keepLast = 2).isEmpty)
    assert(VersionedTable.commit(spark,
      Seq((9L, "v6")).toDF("k", "v"), t) == 6L)
    VersionedTable.compactManifests(spark, t, keepRecent = 1)
    assert((4L to 6L).forall(v =>
      VersionedTable.readVersion(spark, t, v).count() == 1))
    // RESTORE rolls back as a forward version; history keeps moving
    assert(graft.sources.GraftSql.sql(spark, s"RESTORE '$t' TO VERSION 5")
      .head().getLong(0) == 7L)
    assert(VersionedTable.readLatest(spark, t).head().getString(1) == "v5")
    assert(VersionedTable.history(spark, t).orderBy("version").collect()
      .last.getString(4) == "restore")
    // statement spelling for expiry
    assert(graft.sources.GraftSql.sql(spark, s"EXPIRE VERSIONS '$t' KEEP 1")
      .collect().map(_.getLong(0)).toSeq == Seq(4L, 5L, 6L))
    assert(VersionedTable.versions(spark, t) == Seq(7L))
  }

  test("merge commits persist their change batch as a readable change feed") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vt_cdf"
    VersionedTable.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    VersionedTable.mergeInto(spark, t,
      Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), key = "k")
    // the feed is the exact batch, op-tagged; v1 (full snapshot) has none
    val ch = VersionedTable.readChanges(spark, t, 2L)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(ch.toSeq == Seq((2L, "b2"), (3L, "c")), ch.mkString(","))
    assert(VersionedTable.readChanges(spark, t, 2L).columns.contains("__op"))
    intercept[IllegalArgumentException](
      VersionedTable.readChanges(spark, t, 1L))
    // the sidecar is invisible to snapshot reads
    assert(VersionedTable.readVersion(spark, t, 2L).count() == 3)
    // a consumer catching up: deltas per merged version reproduce the
    // net diff the snapshot pair would give
    val delta = VersionedTable.readChanges(spark, t, 2L)
      .select(col("k")).orderBy("k").collect().map(_.getLong(0))
    val net = VersionedTable.diffVersions(spark, t, 1L, 2L, "k", Seq("v"))
      .orderBy("k").collect().map(_.getLong(0))
    assert(delta.toSeq == net.toSeq)
  }

  test("deleteWhere / updateWhere: copy-on-write DML with pinned base") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vt_dml"
    VersionedTable.commit(spark,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, null, 30.0))
        .toDF("k", "tag", "v"), t)

    // DELETE: NULL-predicate rows are KEPT (k=3's tag is null)
    val v2 = VersionedTable.deleteWhere(spark, t, col("tag") === "a")
    assert(v2 == 2L)
    assert(VersionedTable.readLatest(spark, t).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L))

    // UPDATE: assignments see OLD values; non-matching rows untouched;
    // the int-literal assignment must not widen the double column
    val v3 = VersionedTable.updateWhere(spark, t, col("k") === 2L,
      Map("v" -> (col("v") + lit(1)), "tag" -> upper(col("tag"))))
    assert(v3 == 3L)
    val rows = VersionedTable.readLatest(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((2L, "B", 21.0), (3L, null, 30.0)))
    assert(VersionedTable.readLatest(spark, t).schema("v").dataType ==
      org.apache.spark.sql.types.DoubleType)

    // unknown column fails typed; time travel still reads every state
    intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, t, lit(true), Map("ghost" -> lit(1)))
    }
    assert(VersionedTable.readVersion(spark, t, 1L).count() == 3)
    // base-pinned publish: a commit racing between the DML's base read
    // and its publish makes it CONFLICT instead of silently dropping the
    // racer (the pinned-base seam simulates the interleaving)
    val stray = new java.io.File(t + "/_manifests/v00000004.json")
    assert(stray.createNewFile())
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.deleteWhereFrom(spark, t, 3L, col("k") === 2L, 5000000L)
    }
    assert(stray.delete())
    // op provenance: commit, delete, update
    assert(VersionedTable.history(spark, t).orderBy("version").collect()
      .map(_.getString(4)).toSeq == Seq("commit", "delete", "update"))
  }

  test("CHECK constraints gate every commit path; violations publish nothing") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vt_check"
    VersionedTable.setConstraints(spark, t, Map(
      "qty_pos" -> "qty > 0",
      "name_len" -> "length(name) <= 8"))
    // clean snapshot commits; NULL qty passes (SQL CHECK semantics)
    val v1 = VersionedTable.commit(spark,
      Seq((1L, Some(5L), "ok"), (2L, None, "also-ok"))
        .toDF("k", "qty", "name"), t)
    assert(v1 == 1L)
    // a violating commit aborts BEFORE publish: latest stays v1 and the
    // orphan dir is invisible
    val e = intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.commit(spark,
        Seq((3L, Some(-2L), "bad")).toDF("k", "qty", "name"), t)
    }
    assert(e.name == "qty_pos" && e.violations == 1L)
    assert(VersionedTable.latestVersion(spark, t).contains(1L))
    // the merge path is gated too
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.mergeInto(spark, t,
        Seq((9L, Some(1L), "way-too-long-name")).toDF("k", "qty", "name"),
        key = "k")
    }
    assert(VersionedTable.latestVersion(spark, t).contains(1L))
    // and a clean merge still commits
    assert(VersionedTable.mergeInto(spark, t,
      Seq((9L, Some(1L), "fine")).toDF("k", "qty", "name"), key = "k") == 2L)
    // op provenance landed in history: v1 commit, v2 merge
    val ops = VersionedTable.history(spark, t).orderBy("version")
      .collect().map(_.getString(4))
    assert(ops.toSeq == Seq("commit", "merge"), ops.mkString(","))

    // every verb that writes a data dir goes through one write tail: a
    // violating row throws and publishes nothing, and a clean write's
    // fresh dir carries the skipping policy's `_stats` sidecar. Seeded
    // tables hold 4 clustered files under a skipping policy, so merge,
    // update and delete take the file-granular path.
    def rows(kq: (Long, Long)*) =
      kq.map { case (k, q) => (k, q, s"n$k") }.toDF("k", "qty", "name")
    val qtyOnly = Map("qty_pos" -> "qty > 0")
    // compaction, OPTIMIZE, RESTORE and DELETE only move existing rows:
    // their violating row is k = 7, which a constraint set after the
    // seed forbids (DELETE of k = 3 rewrites k = 7's file)
    val noK7 = qtyOnly + ("k_not_7" -> "k <> 7")
    def gated(cs: Map[String, String])(verb: String => Any)(tt: String) = {
      VersionedTable.setConstraints(spark, tt, cs)
      verb(tt)
    }
    case class Verb(name: String, seeded: Boolean, granular: Boolean,
        bad: String => Any, good: String => Any)
    val big = 1L << 30
    val verbs = Seq(
      Verb("commit", true, false,
        VersionedTable.commit(spark, rows((1L, -1L)), _),
        VersionedTable.commit(spark, rows((1L, 1L)), _)),
      Verb("commitClustered", true, false,
        VersionedTable.commitClustered(spark, rows((1L, -1L), (2L, 2L)), _,
          Seq("k")),
        VersionedTable.commitClustered(spark, rows((1L, 1L), (2L, 2L)), _,
          Seq("k"))),
      Verb("append", true, false,
        VersionedTable.append(spark, _, rows((1000L, -1L))),
        VersionedTable.append(spark, _, rows((1000L, 3L)))),
      Verb("appendBatchIfNew", false, false,
        VersionedTable.appendBatchIfNew(spark, _, rows((1L, -1L)), 0L),
        VersionedTable.appendBatchIfNew(spark, _, rows((1L, 1L)), 0L)),
      Verb("mergeBatchIfNew", false, false,
        VersionedTable.mergeBatchIfNew(spark, _, rows((1L, -1L)), "k", 0L),
        VersionedTable.mergeBatchIfNew(spark, _, rows((1L, 1L)), "k", 0L)),
      Verb("replicaBatchIfNew", false, false,
        VersionedTable.replicaBatchIfNew(spark, _, rows((1L, -1L))
          .withColumn("ver", lit(1L)).withColumn("op", lit("u")),
          "k", "ver", "op", 0L),
        VersionedTable.replicaBatchIfNew(spark, _, rows((1L, 1L))
          .withColumn("ver", lit(1L)).withColumn("op", lit("u")),
          "k", "ver", "op", 0L)),
      Verb("mergeInto", true, true,
        VersionedTable.mergeInto(spark, _, rows((5L, -1L)), "k"),
        VersionedTable.mergeInto(spark, _, rows((5L, 9L)), "k")),
      Verb("mergeUpdate", true, true,
        VersionedTable.mergeUpdate(spark, _, Seq(5L).toDF("k"), "k",
          Map("qty" -> lit(-1L))),
        VersionedTable.mergeUpdate(spark, _, Seq(5L).toDF("k"), "k",
          Map("qty" -> lit(42L)))),
      Verb("updateWhere", true, true,
        VersionedTable.updateWhere(spark, _, col("k") === 5L,
          Map("qty" -> lit(-1L))),
        VersionedTable.updateWhere(spark, _, col("k") === 5L,
          Map("qty" -> lit(3L)))),
      Verb("deleteWhere", true, true,
        gated(noK7)(VersionedTable.deleteWhere(spark, _, col("k") === 3L)),
        VersionedTable.deleteWhere(spark, _, col("k") === 7L)),
      Verb("overwriteWhere", true, false,
        VersionedTable.overwriteWhere(spark, _, col("k") === 5L,
          rows((5L, -1L))),
        VersionedTable.overwriteWhere(spark, _, col("k") === 5L,
          rows((5L, 2L)))),
      Verb("compactSmallFiles", true, false,
        gated(noK7)(VersionedTable.compactSmallFiles(spark, _, big, big)),
        gated(qtyOnly)(VersionedTable.compactSmallFiles(spark, _, big, big))),
      Verb("optimize", true, false,
        gated(noK7)(VersionedTable.optimize(spark, _)),
        gated(qtyOnly)(VersionedTable.optimize(spark, _))),
      Verb("restore", true, false,
        gated(noK7)(VersionedTable.restore(spark, _, 1L)),
        gated(qtyOnly)(VersionedTable.restore(spark, _, 1L))))
    verbs.foreach { vb =>
      val tt = tmp() + s"/vt_gate_${vb.name}"
      VersionedTable.setConstraints(spark, tt, qtyOnly)
      VersionedTable.setSkippingPolicy(spark, tt, Seq("k"))
      if (vb.seeded) VersionedTable.commitClustered(spark,
        spark.range(400).select(col("id").as("k"),
          (col("id") % 7 + 1).as("qty"),
          concat(lit("n"), col("id")).as("name")),
        tt, clusterCols = Seq("k"), numFiles = 4)
      val before = VersionedTable.latestVersion(spark, tt)
      withClue(vb.name) {
        intercept[VersionedTable.ConstraintViolationException](vb.bad(tt))
        assert(VersionedTable.latestVersion(spark, tt) == before)
        VersionedTable.lastCowRewrite.set((-7, -7))
        vb.good(tt)
        val latest = VersionedTable.latestVersion(spark, tt).get
        assert(latest == before.getOrElse(0L) + 1L)
        if (vb.granular) {
          val (rewritten, total) = VersionedTable.lastCowRewrite.get()
          assert(total >= 3 && rewritten >= 1 && rewritten < total,
            s"$rewritten of $total files rewritten")
        }
        val wrote = VersionedTable.history(spark, tt)
          .where(col("version") === latest).head().getString(1)
          .split(';').last
        assert(new java.io.File(s"$tt/$wrote/_stats").isDirectory, wrote)
      }
    }
  }

  test("optimize rewrites the latest snapshot as a new compacted version") {
    import graft.sources.VersionedTable
    import graft.sources.VersionedTable.ColumnBounds
    val t = tmp() + "/vt_opt"
    val df = spark.range(20000).select(col("id"),
      md5(col("id").cast("string")).as("payload"))
    VersionedTable.commit(spark, df.repartition(16), t,
      maxRecordsPerFile = 500L) // many small files
    def nFiles(v: Long) = VersionedTable.readVersion(spark, t, v)
      .select(col("_metadata.file_name")).distinct().count()
    val before = nFiles(1L)
    assert(before >= 16, s"setup expected many small files, got $before")
    // everything fits one file at a 1 GiB target; cluster + stats on id
    val v2 = VersionedTable.optimize(spark, t,
      targetFileBytes = 1L << 30, clusterCols = Seq("id"))
    assert(v2 == 2L && nFiles(2L) < before)
    // same rows; v1 still time-travel-readable at its old layout
    val a = VersionedTable.readVersion(spark, t, 1L)
    val b = VersionedTable.readVersion(spark, t, 2L)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(nFiles(1L) == before)
    // the rewrite clustered + wrote stats -> pruned reads work on v2
    assert(prune(t, 2L, Seq(ColumnBounds("id", Some(0L), Some(10L)))).isDefined)
    // statement spelling drives the same verb
    val v3 = graft.sources.GraftSql.sql(spark,
        s"OPTIMIZE '$t' TARGET 1024 MB CLUSTER BY (id)")
      .head().getLong(0)
    assert(v3 == 3L)
  }

  test("refreshRollup re-aggregates PRE-image groups when a merge moves rows") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val base = tmp() + "/vt_move_base"
    val roll = tmp() + "/vt_move_roll"
    def fullRollup() = VersionedTable.readLatest(spark, base)
      .groupBy("grp").agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
    VersionedTable.commit(spark,
      Seq((1L, "a", 10L), (2L, "a", 5L), (3L, "b", 7L), (4L, "c", 2L))
        .toDF("id", "grp", "v"), base)
    assert(VersionedTable.refreshRollup(spark, base, roll,
      keys = Seq("grp"), sumCols = Seq("v")).contains(1L))
    // the hazard batch: id=1 MOVES a→b (pre-image group a must shrink),
    // and id=3's delete row LIES about its group ("x" instead of the
    // stored "b") — both pre-image groups are recoverable only from the
    // predecessor snapshot via the recorded merge key
    VersionedTable.mergeInto(spark, base,
      Seq((1L, "b", 10L), (3L, "x", 0L)).toDF("id", "grp", "v"),
      key = "id", deleteWhen = col("v") === 0L)
    assert(VersionedTable.refreshRollup(spark, base, roll,
      Seq("grp"), Seq("v")).isDefined)
    val got = VersionedTable.readLatest(spark, roll)
    val want = fullRollup()
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"rollup diverged after group move: got ${got.collect().toSeq} " +
        s"want ${want.collect().toSeq}")
    // the OLD groups specifically: a lost id=1 (now only id=2 -> 5), b
    // gained id=1 but lost id=3 (-> 10)
    val byGrp = got.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    assert(byGrp("a") == ((1L, 5L)), s"stale pre-image group a: $byGrp")
    assert(byGrp("b") == ((1L, 10L)), s"group b wrong: $byGrp")
    assert(!byGrp.contains("x"), "phantom group from a lying delete row")
  }

  test("rollup group-move refresh rides the incremental path, not recompute") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val base = tmp() + "/vt_move2_base"
    val roll = tmp() + "/vt_move2_roll"
    VersionedTable.commit(spark,
      Seq((1L, "a", 10L), (2L, "b", 5L)).toDF("id", "grp", "v"), base)
    VersionedTable.refreshRollup(spark, base, roll, Seq("grp"), Seq("v"))
    VersionedTable.mergeInto(spark, base,
      Seq((1L, "b", 10L)).toDF("id", "grp", "v"), key = "id")
    VersionedTable.refreshRollup(spark, base, roll, Seq("grp"), Seq("v"))
    // the target's newest version must come from the incremental
    // mergeInto (op "merge"), proving the feed path handled the move —
    // a silent fallback to full recompute would commit op "rollup"
    val lastOp = VersionedTable.history(spark, roll)
      .orderBy(col("version").desc).head().getString(4)
    assert(lastOp == "merge", s"expected incremental path, got op=$lastOp")
    val gotA = VersionedTable.readLatest(spark, roll)
      .where(col("grp") === "a").collect()
    assert(gotA.isEmpty, "moved-away group a must be deleted from rollup")
    val gotB = VersionedTable.readLatest(spark, roll)
      .where(col("grp") === "b").head()
    assert(gotB.getLong(1) == 2L && gotB.getLong(2) == 15L)
  }

  test("two-key rollup group-move refresh rides the incremental path") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val base = tmp() + "/vt_mk_base"
    val roll = tmp() + "/vt_mk_roll"
    VersionedTable.commit(spark,
      Seq((1L, "a", "x", 10L), (2L, "a", "y", 5L), (3L, "b", "x", 7L))
        .toDF("id", "g1", "g2", "v"), base)
    VersionedTable.refreshRollup(spark, base, roll,
      Seq("g1", "g2"), Seq("v"))
    assert(VersionedTable.readLatest(spark, roll).count() == 3L)
    // a merge MOVES id=1 from (a,x) to (b,y): the pre-image group (a,x)
    // must re-aggregate (and vanish), the post-image (b,y) must appear,
    // untouched groups stay — all through the incremental path
    VersionedTable.mergeInto(spark, base,
      Seq((1L, "b", "y", 11L)).toDF("id", "g1", "g2", "v"), key = "id")
    VersionedTable.refreshRollup(spark, base, roll,
      Seq("g1", "g2"), Seq("v"))
    val lastOp = VersionedTable.history(spark, roll)
      .orderBy(col("version").desc).head().getString(4)
    assert(lastOp == "merge", s"expected incremental path, got op=$lastOp")
    val got = VersionedTable.readLatest(spark, roll)
      .orderBy("g1", "g2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("a", "y", 1L, 5L), ("b", "x", 1L, 7L),
      ("b", "y", 1L, 11L)), got.mkString(","))
    // and it stays exactly the full recompute (the IVM contract)
    val scratch = tmp() + "/vt_mk_scratch"
    VersionedTable.refreshRollup(spark, base, scratch,
      Seq("g1", "g2"), Seq("v"))
    val full = VersionedTable.readLatest(spark, scratch)
      .orderBy("g1", "g2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(full.toSeq == got.toSeq)
    // the statement spelling takes the composite form: KEY (g1, g2)
    VersionedTable.mergeInto(spark, base,
      Seq((4L, "c", "z", 2L)).toDF("id", "g1", "g2", "v"), key = "id")
    val stmt = graft.sources.GraftSql.sql(spark,
      s"REFRESH ROLLUP '$roll' FROM '$base' KEY (g1, g2) SUM (v)")
    assert(stmt.collect().nonEmpty, "refresh must commit a version")
    assert(VersionedTable.readLatest(spark, roll)
      .where(col("g1") === "c").head().getLong(3) == 2L)
  }

  test("optimize and restore conflict instead of clobbering a racing commit") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vt_opt_race"
    VersionedTable.commit(spark, Seq((1L, "old")).toDF("k", "v"), t)
    // racer lands AFTER the optimizer pinned version 1
    VersionedTable.commit(spark, Seq((2L, "racer")).toDF("k", "v"), t)
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.optimizeFrom(spark, t, base = 1L,
        targetFileBytes = 1L << 30, clusterCols = Nil)
    }
    // the racer's commit is intact — no lost update, only a conflict
    assert(VersionedTable.readLatest(spark, t).head().getString(1) == "racer")
    assert(VersionedTable.latestVersion(spark, t).contains(2L))
    // restore shares the pinned tail: rolling back to v1 now succeeds
    // (no race) and commits FORWARD as v3
    assert(VersionedTable.restore(spark, t, 1L) == 3L)
    assert(VersionedTable.readLatest(spark, t).head().getString(1) == "old")
  }

  test("ensureStats backfill is additive: old columns keep pruning") {
    import graft.sources.VersionedTable
    import graft.sources.VersionedTable.{ColumnBounds, ColumnEquals}
    val t = tmp() + "/vt_additive"
    val df = spark.range(8000).select(col("id"),
      concat(lit("u"), col("id")).as("name"))
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
    VersionedTable.commit(spark, df, t, statsCols = Seq("id"))
    val before = prune(t, 1L, Seq(ColumnBounds("id", Some(0L), Some(99L)))).get
    assert(before._1.size < before._2, "id pruned before the backfill")
    // backfilling a DIFFERENT column must union, not replace: the id
    // zone map survives the rewrite
    assert(VersionedTable.ensureStats(spark, t, 1L, Nil,
      bloomCols = Seq("name")))
    val after = prune(t, 1L, Seq(ColumnBounds("id", Some(0L), Some(99L)))).get
    assert(after._1.size == before._1.size && after._2 == before._2,
      s"id zone map lost by name backfill: $after vs $before")
    // and the new bloom column actually prunes too
    val hit = prune(t, 1L, Nil, Seq(ColumnEquals("name", "u6000"))).get
    assert(hit._1.size < hit._2, s"name bloom not pruning: $hit")
    // re-request of covered columns -> no rewrite
    assert(!VersionedTable.ensureStats(spark, t, 1L, Seq("id"),
      bloomCols = Seq("name")))
  }

  test("append is O(new data): base files reused, never rewritten") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vt_append"
    VersionedTable.setSkippingPolicy(spark, t, statsCols = Seq("k"))
    VersionedTable.commit(spark,
      spark.range(1000).select(col("id").as("k"),
          concat(lit("a"), col("id")).as("name"))
        .repartitionByRange(2, col("k")).sortWithinPartitions(col("k")), t)
    def dirFiles(rel: String): Set[String] = {
      val d = new java.io.File(t, rel)
      Option(d.listFiles).toSeq.flatten
        .map(f => f.getName + ":" + f.lastModified).toSet
    }
    val hist1 = VersionedTable.history(spark, t).head()
    val v1Dir = hist1.getString(1)
    val v1Files = dirFiles(v1Dir)
    // append 100 rows -> v2; the manifest must reference the v1 dir
    // UNCHANGED (same files, same mtimes) plus exactly one new dir
    val batch = spark.range(1000, 1100).select(col("id").as("k"),
      concat(lit("b"), col("id")).as("name"))
    assert(VersionedTable.append(spark, t, batch) == 2L)
    val v2Dirs = VersionedTable.history(spark, t)
      .orderBy(col("version").desc).head().getString(1).split(";")
    assert(v2Dirs.length == 2 && v2Dirs.head == v1Dir,
      s"append must reuse the base dir: ${v2Dirs.toSeq}")
    assert(dirFiles(v1Dir) == v1Files, "append rewrote base files")
    // contents: v2 = v1 + batch; v1 time-travels unchanged
    assert(VersionedTable.readVersion(spark, t, 2L).count() == 1100L)
    assert(VersionedTable.readVersion(spark, t, 1L).count() == 1000L)
    val got = VersionedTable.readLatest(spark, t)
      .where(col("k") >= 1000L).orderBy("k").collect()
    assert(got.length == 100 && got.head.getString(1) == "b1000")
    // column ORDER in the batch is realigned by name
    assert(VersionedTable.append(spark, t,
      Seq(("z5000", 5000L)).toDF("name", "k")) == 3L)
    assert(VersionedTable.readLatest(spark, t)
      .where(col("k") === 5000L).head().getString(1) == "z5000")
    // schema mismatch fails typed, publishes nothing
    intercept[IllegalArgumentException] {
      VersionedTable.append(spark, t,
        Seq((1L, "x", true)).toDF("k", "name", "extra"))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.append(spark, t, Seq(Tuple1(1L)).toDF("k"))
    }
    assert(VersionedTable.latestVersion(spark, t).contains(3L))
    // append at a STALE base: the conflict resolves INTERNALLY (r15
    // semantic rebase) — the already-written dir re-publishes on the
    // new latest, identical to a serial replay, zero caller retries
    val rebasesBefore = VersionedTable.appendRebases.get()
    assert(VersionedTable.appendFrom(spark, t, base = 2L,
      Seq((6000L, "late")).toDF("k", "name"), 5000000L) == 4L)
    assert(VersionedTable.appendRebases.get() == rebasesBefore + 1,
      "the internal rebase must be observable")
    // rebase == serial replay: v4 = v3 + the late row; v3 untouched
    assert(VersionedTable.readVersion(spark, t, 4L).count() == 1102L)
    assert(VersionedTable.readVersion(spark, t, 3L).count() == 1101L)
    assert(VersionedTable.readLatest(spark, t)
      .where(col("k") === 6000L).head().getString(1) == "late")
    // pruned reads span dirs: every dir carries the policy's sidecar, so
    // a narrow k range keeps a strict subset of ALL files
    val sel = prune(t, 3L,
      Seq(VersionedTable.ColumnBounds("k", Some(0L), Some(10L)))).get
    assert(sel._1.size < sel._2, s"multi-dir prune kept ${sel._1.size}/${sel._2}")
    val pruned = VersionedTable.readVersionPruned(spark, t, 3L,
      Seq(VersionedTable.ColumnBounds("k", Some(0L), Some(10L))))
    assert(pruned.count() == 11L)
    // vacuum must treat EVERY referenced dir of the multi-dir versions as
    // live — and the rebased append left NO orphan (its dir committed)
    Thread.sleep(50)
    val reclaimed = VersionedTable.vacuum(spark, t, graceMs = 10L)
    assert(reclaimed.isEmpty, s"rebased append must not orphan: $reclaimed")
    assert((1L to 4L).forall(v =>
      VersionedTable.readVersion(spark, t, v).count() >= 1000L),
      "vacuum touched a dir referenced by a live multi-dir version")
    // optimize compacts the 4-dir version back to one dir, same rows
    val v5 = VersionedTable.optimize(spark, t, targetFileBytes = 1L << 30)
    val v5Dirs = VersionedTable.history(spark, t)
      .orderBy(col("version").desc).head().getString(1).split(";")
    assert(v5 == 5L && v5Dirs.length == 1)
    assert(VersionedTable.readVersion(spark, t, 5L).count() == 1102L)
    // rollup rides appended versions incrementally: the new dir IS the
    // delta (no change feed needed)
    val roll = tmp() + "/vt_append_roll"
    val base2 = tmp() + "/vt_append_base2"
    VersionedTable.commit(spark,
      Seq((1L, "g1", 10L), (2L, "g2", 5L)).toDF("id", "grp", "v"), base2)
    VersionedTable.refreshRollup(spark, base2, roll, Seq("grp"), Seq("v"))
    VersionedTable.append(spark, base2,
      Seq((3L, "g1", 7L), (4L, "g3", 1L)).toDF("id", "grp", "v"))
    VersionedTable.refreshRollup(spark, base2, roll, Seq("grp"), Seq("v"))
    val lastOp = VersionedTable.history(spark, roll)
      .orderBy(col("version").desc).head().getString(4)
    assert(lastOp == "merge",
      s"append delta should ride the incremental path, got op=$lastOp")
    val m = VersionedTable.readLatest(spark, roll).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m == Map("g1" -> ((2L, 17L)), "g2" -> ((1L, 5L)),
      "g3" -> ((1L, 1L))), s"rollup after append: $m")
  }

  test("readChanges(from, to): bounded windows, neutral ops, horizons") {
    import graft.sources.{GraftSql, VersionedTable}
    import spark.implicits._
    val t = tmp() + "/vt_range"
    VersionedTable.commit(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t)
    VersionedTable.mergeInto(spark, t,
      Seq((2L, 21L), (3L, 30L)).toDF("k", "v"), key = "k")        // v2
    VersionedTable.append(spark, t, Seq((4L, 40L)).toDF("k", "v")) // v3
    VersionedTable.deleteWhereLazy(spark, t, "k = 1")              // v4
    VersionedTable.optimize(spark, t, targetFileBytes = 1L << 30)  // v5
    VersionedTable.addColumn(spark, t, "tag", "INT", Some("0"))    // v6
    VersionedTable.mergeInto(spark, t,
      Seq((5L, 50L, 1)).toDF("k", "v", "tag"), key = "k")          // v7
    // a mid-chain window unions the merge + insert + synthesized delete
    val w24 = VersionedTable.readChanges(spark, t, 2L, 4L)
      .select(col("k"), col("__op"), col("_commit_version")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(w24 == Set((2L, "u", 2L), (3L, "u", 2L), (4L, "u", 3L),
      (1L, "d", 4L)), s"got $w24")
    // neutral versions (optimize v5, schema v6) contribute nothing; the
    // widened v7 batch unions by name with nulls backfilled
    val w27 = VersionedTable.readChanges(spark, t, 2L, 7L)
    assert(w27.where(col("_commit_version").isin(5L, 6L)).isEmpty)
    assert(w27.where(col("_commit_version") === 7L)
      .select(col("tag")).head().getInt(0) == 1)
    assert(w27.where(col("_commit_version") === 2L)
      .select(col("tag")).collect().forall(_.isNullAt(0)))
    // an all-neutral window is EMPTY, not an error
    assert(VersionedTable.readChanges(spark, t, 5L, 6L).isEmpty)
    // a CoW commit with no row-level log fails the completeness contract
    VersionedTable.updateWhere(spark, t, col("k") === 2L,
      Map("v" -> lit(99L)))                                        // v8
    interceptMsg("no row-level change log")(
      VersionedTable.readChanges(spark, t, 7L, 8L))
    // bounds: beyond latest / inverted windows fail typed
    intercept[IllegalArgumentException](
      VersionedTable.readChanges(spark, t, 2L, 99L))
    intercept[IllegalArgumentException](
      VersionedTable.readChanges(spark, t, 4L, 2L))
    // ACROSS A COMPACTION HORIZON: without a mirror the folded version
    // cannot be classified (typed error); with the feed enabled the
    // mirror answers and the same window succeeds
    val t2 = tmp() + "/vt_range_cdf"
    VersionedTable.commit(spark, Seq((1L, 10L)).toDF("k", "v"), t2)
    VersionedTable.enableChangeFeed(spark, t2)
    VersionedTable.mergeInto(spark, t2,
      Seq((2L, 20L)).toDF("k", "v"), key = "k")                    // v2
    VersionedTable.mergeInto(spark, t2,
      Seq((3L, 30L)).toDF("k", "v"), key = "k")                    // v3
    VersionedTable.mergeInto(spark, t2,
      Seq((4L, 40L)).toDF("k", "v"), key = "k")                    // v4
    VersionedTable.compactManifests(spark, t2, keepRecent = 1)
    val folded = VersionedTable.readChanges(spark, t2, 2L, 4L)
      .select(col("k"), col("_commit_version")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(folded == Set((2L, 2L), (3L, 3L), (4L, 4L)),
      s"mirror must answer across the horizon: $folded")
    // the statement spelling drives the same window
    assert(GraftSql.sql(spark, s"READ CHANGES '$t2' VERSION 2 TO 3")
      .count() == 2L)
    // the no-mirror horizon: same compaction on a bare table
    val t3 = tmp() + "/vt_range_bare"
    VersionedTable.commit(spark, Seq((1L, 10L)).toDF("k", "v"), t3)
    VersionedTable.mergeInto(spark, t3,
      Seq((2L, 20L)).toDF("k", "v"), key = "k")                    // v2
    VersionedTable.mergeInto(spark, t3,
      Seq((3L, 30L)).toDF("k", "v"), key = "k")                    // v3
    VersionedTable.compactManifests(spark, t3, keepRecent = 1)
    interceptMsg("checkpoint-folded")(
      VersionedTable.readChanges(spark, t3, 2L, 3L))
  }

  private def interceptMsg(needle: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage != null && e.getMessage.contains(needle),
      s"expected '$needle' in: ${e.getMessage}")
  }

  test("append rebase law: disjoint writers == serial replay; guards hold") {
    import graft.sources.VersionedTable
    import spark.implicits._
    // two writers pinned at the SAME base publish disjoint batches; the
    // loser's internal rebase must leave exactly the table a serial
    // replay produces — proven against a twin table replayed serially
    val t = tmp() + "/vt_rebase"
    val twin = tmp() + "/vt_rebase_twin"
    val seed = Seq((1L, "s")).toDF("k", "tag")
    val a = Seq((10L, "a")).toDF("k", "tag")
    val b = Seq((20L, "b")).toDF("k", "tag")
    VersionedTable.commit(spark, seed, t)
    VersionedTable.appendFrom(spark, t, 1L, a, 5000000L) // wins v2
    assert(VersionedTable.appendFrom(spark, t, 1L, b, 5000000L) == 3L,
      "stale-pinned blind append must rebase to the next free slot")
    VersionedTable.commit(spark, seed, twin)
    VersionedTable.append(spark, twin, a)
    VersionedTable.append(spark, twin, b)
    val got = VersionedTable.readLatest(spark, t)
      .orderBy("k").collect().toSeq
    val want = VersionedTable.readLatest(spark, twin)
      .orderBy("k").collect().toSeq
    assert(got == want, s"rebase != serial replay: $got vs $want")
    // versions stay gap-free and each one time-travels consistently
    assert(VersionedTable.versions(spark, t) == Seq(1L, 2L, 3L))
    assert(VersionedTable.readVersion(spark, t, 2L).count() == 2L)
    // guard 1: a schema change between pin and publish REFUSES the
    // rebase (the written dir has the old logical shape) — the caller's
    // retry must realign instead
    val t2 = tmp() + "/vt_rebase_schema"
    VersionedTable.commit(spark, seed, t2)
    VersionedTable.addColumn(spark, t2, "extra", "INT", Some("7")) // v2
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.appendFrom(spark, t2, 1L,
        Seq((30L, "c")).toDF("k", "tag"), 5000000L)
    }
    // guard 2: an exactly-once batch token that already won stays
    // exactly-once — the replayed batch must NOT rebase-commit twice
    val t3 = tmp() + "/vt_rebase_batch"
    VersionedTable.commit(spark, seed, t3)
    assert(VersionedTable.appendBatchIfNew(spark, t3, a, 42L).contains(2L))
    intercept[VersionedTable.CommitConflictException] {
      // a stale replica of batch 42 pinned at v1: the slot conflict must
      // surface (latest already carries the token), never double-apply
      VersionedTable.appendFrom(spark, t3, 1L, a, 5000000L,
        batchId = Some(42L))
    }
    assert(VersionedTable.readLatest(spark, t3).count() == 2L)
    // deferred deletes do NOT block a rebase: the predicate's scoped
    // dirs exclude the rebased dir, same as a serial append
    val t4 = tmp() + "/vt_rebase_del"
    VersionedTable.commit(spark, Seq((1L, "dead"), (2L, "live"))
      .toDF("k", "tag"), t4)
    VersionedTable.deleteWhereLazy(spark, t4, "tag = 'dead'") // v2
    assert(VersionedTable.appendFrom(spark, t4, 1L,
      Seq((3L, "dead")).toDF("k", "tag"), 5000000L) == 3L)
    val kept = VersionedTable.readLatest(spark, t4)
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L, 3L),
      s"appended row must be outside the old predicate's scope: $kept")
  }

  test("state-machine law: random verb sequences match an in-memory model") {
    import graft.sources.VersionedTable
    import spark.implicits._
    // every mutating verb against a driver-side model of (key -> value):
    // after each step latest == model, and at the end EVERY version
    // time-travels to exactly the model state it committed — the
    // whole-table linearizability law the per-verb tests only sample.
    val rnd = new scala.util.Random(12) // deterministic sequence
    val t = tmp() + "/vt_model"
    var history = Vector.empty[Map[Long, Long]]
    def model = history.last
    val seed = (0L until 20L).map(k => k -> k * 10L).toMap
    VersionedTable.commit(spark, seed.toSeq.toDF("k", "v"), t)
    history :+= seed
    (1 to 30).foreach { step =>
      rnd.nextInt(8) match {
        case 0 => // append fresh keys (O(new-data) insert)
          val base = 1000L * step
          val rows = (0 until 1 + rnd.nextInt(3))
            .map(i => (base + i, rnd.nextLong(100)))
          VersionedTable.append(spark, t, rows.toDF("k", "v"))
          history :+= model ++ rows.toMap
        case 1 => // merge: upserts + value-conditional deletes + insert
          val keys = model.keys.toSeq.sorted
          val ups =
            if (keys.isEmpty) Seq.empty
            else Seq.fill(2)(keys(rnd.nextInt(keys.size))).distinct
              .map(k => (k, rnd.nextLong(100)))
          val src = ups :+ ((5000L + step, rnd.nextLong(100)))
          VersionedTable.mergeInto(spark, t, src.toDF("k", "v"),
            key = "k", deleteWhen = col("v") < 20L)
          history :+= src.foldLeft(model) { case (m, (k, v)) =>
            if (v < 20L) m - k else m.updated(k, v)
          }
        case 2 => // copy-on-write UPDATE
          VersionedTable.updateWhere(spark, t, col("k") % 3 === 0,
            Map("v" -> (col("v") + lit(7L))))
          history :+= model.map { case (k, v) =>
            k -> (if (k % 3 == 0) v + 7L else v)
          }
        case 3 => // copy-on-write DELETE
          VersionedTable.deleteWhere(spark, t, col("v") > 90L)
          history :+= model.filter(_._2 <= 90L)
        case 4 => // physical rewrite, logically a no-op
          VersionedTable.optimize(spark, t, targetFileBytes = 1L << 30)
          history :+= model
        case 5 => // roll back to a random prior version, as a new version
          val target = 1 + rnd.nextInt(history.size)
          VersionedTable.restore(spark, t, target.toLong)
          history :+= history(target - 1)
        case 6 => // atomic predicate-region overwrite (replaceWhere)
          val m = rnd.nextInt(4) + 2
          val rows = model.keys.filter(_ % m == 0).toSeq.sorted
            .map(k => (k, rnd.nextLong(100)))
          VersionedTable.overwriteWhere(spark, t, col("k") % m === 0,
            rows.toDF("k", "v"))
          history :+= model.filter(_._1 % m != 0) ++ rows.toMap
        case 7 => // merge-on-read delete (pure metadata, stacking)
          val lo = rnd.nextLong(95)
          VersionedTable.deleteWhereLazy(spark, t,
            s"v >= $lo AND v < ${lo + 10L}")
          history :+= model.filter { case (_, v) =>
            !(v >= lo && v < lo + 10L)
          }
      }
      val got = VersionedTable.readLatest(spark, t).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == model, s"step $step diverged: got $got want $model")
    }
    history.zipWithIndex.foreach { case (m, i) =>
      val got = VersionedTable.readVersion(spark, t, i + 1L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == m, s"version ${i + 1} lost its committed state")
    }
  }

  test("convert adopts existing parquet zero-copy; first CoW takes ownership") {
    import graft.sources.{GraftSql, VersionedTable}
    import spark.implicits._
    val dir = tmp()
    val src = dir + "/plain_parquet"
    val t = dir + "/vt_adopted"
    val orig = spark.range(1000).select(col("id").as("k"),
      concat(lit("n"), col("id")).as("name"))
    orig.write.parquet(src)
    val srcFiles = Option(new java.io.File(src).listFiles).toSeq.flatten
      .map(f => f.getName + ":" + f.lastModified).toSet
    // adoption is one metadata write: same rows, source untouched
    assert(GraftSql.sql(spark,
      s"CONVERT TO VERSIONED '$t' FROM '$src'").head().getLong(0) == 1L)
    val v1 = VersionedTable.readLatest(spark, t)
    assert(v1.count() == 1000L &&
      v1.exceptAll(orig).isEmpty && orig.exceptAll(v1).isEmpty)
    // converting twice, or over an existing table, fails typed
    intercept[IllegalArgumentException](VersionedTable.convert(spark, t, src))
    // adopting a dir INSIDE a table's managed data/ namespace is refused:
    // vacuum compares managed dirs by relative name, so an absolute
    // reference into data/ would read as unreferenced and be reclaimed
    val t2 = dir + "/vt_adopted2"
    intercept[IllegalArgumentException](
      VersionedTable.convert(spark, t2, t + "/data"))
    // appends reference the adopted dir alongside managed dirs
    VersionedTable.append(spark, t, Seq((5000L, "new")).toDF("k", "name"))
    assert(VersionedTable.readLatest(spark, t).count() == 1001L)
    // vacuum NEVER reclaims the adopted dir (it is referenced, and
    // outside the table's managed data/ namespace entirely)
    Thread.sleep(50)
    assert(VersionedTable.vacuum(spark, t, graceMs = 10L).isEmpty)
    // the first copy-on-write verb rewrites into a managed dir: after
    // OPTIMIZE the table is self-contained and the source still intact
    val v3 = VersionedTable.optimize(spark, t, targetFileBytes = 1L << 30)
    val ownedDirs = VersionedTable.history(spark, t)
      .orderBy(col("version").desc).head().getString(1)
    assert(ownedDirs.startsWith("data/") && !ownedDirs.contains(";"),
      s"optimize must take ownership: $ownedDirs")
    assert(VersionedTable.readVersion(spark, t, v3).count() == 1001L)
    assert(Option(new java.io.File(src).listFiles).toSeq.flatten
      .map(f => f.getName + ":" + f.lastModified).toSet == srcFiles,
      "adoption or optimize touched the source bytes")
    // time travel back to the adopted version still works
    assert(VersionedTable.readVersion(spark, t, 1L).count() == 1000L)

    // grammar invariant: a foreign DIR named *.parquet would be
    // indistinguishable from a kept-file manifest token (dirScopeOf
    // would return its PARENT — silently no-op granular verbs, broken
    // del-predicate scopes) — refused at the door like ';'/'!'
    val badSrc = dir + "/events.parquet"
    orig.write.parquet(badSrc)
    val badName = intercept[IllegalArgumentException](
      VersionedTable.convert(spark, dir + "/vt_badname", badSrc))
    assert(badName.getMessage.contains(".parquet"), badName.getMessage)

    // statement-scoped rewrite views: time travel through GraftSql must
    // not leak temp views (they are scaffolding, dropped once the
    // statement is analyzed — the returned DataFrame still executes)
    val viewsBefore = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_")).toSet
    val tt = GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM '$t' VERSION AS OF 1")
    assert(spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_")).toSet == viewsBefore,
      "rewrite views leaked past the statement")
    assert(tt.head().getLong(0) == 1000L,
      "the analyzed plan must survive its scaffolding views' drop")
  }

  test("granular verbs fall back on grammar-unsafe foreign file names") {
    import graft.sources.VersionedTable
    // an adopted dir holding a file named 'we!rd.parquet': '!' has no
    // representable kept-token form (the kept-file spelling would parse
    // as an exclusion token with a bogus scope), so UPDATE/DELETE/MERGE
    // must take the whole-snapshot path — correct results, never a
    // corrupted manifest
    val dir = tmp()
    val src = dir + "/foreign"
    val df = spark.range(6000).select(col("id").as("k"),
      (col("id") % 6).as("grp"), (col("id") % 50).cast("double").as("v"))
    df.repartitionByRange(6, col("grp")).write.parquet(src)
    val f = new java.io.File(src)
    val part = f.listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(part.renameTo(new java.io.File(src, "we!rd.parquet")))
    val t = dir + "/vt_bang"
    VersionedTable.convert(spark, t, src)
    assert(VersionedTable.readLatest(spark, t).count() == 6000)
    // sentinel: the granular path would overwrite this; whole-snapshot
    // never touches it
    VersionedTable.lastCowRewrite.set((-7, -7))
    val v2 = VersionedTable.updateWhere(spark, t, col("grp") === 2L,
      Map("v" -> lit(-1.0)))
    assert(v2 == 2L)
    assert(VersionedTable.lastCowRewrite.get() == ((-7, -7)),
      "grammar-unsafe names must take the whole-snapshot path")
    val got = VersionedTable.readLatest(spark, t)
    assert(got.where(col("grp") === 2L)
      .where(col("v") =!= -1.0).count() == 0)
    assert(got.where(col("grp") =!= 2L)
      .where(col("v") === -1.0).count() == 0)
    assert(got.count() == 6000)
    // the verb MATERIALIZED the grammar-unsafe layout: v2 is fully
    // managed, so later verbs are free to go granular again
    import spark.implicits._
    val v3 = VersionedTable.mergeInto(spark, t,
      Seq((1L, 1L, 999.0)).toDF("k", "grp", "v"), key = "k")
    assert(VersionedTable.readVersion(spark, t, v3)
      .where(col("k") === 1L).head().getDouble(2) == 999.0)

    // merge falls back the same way while the '!' file is still
    // referenced (a second adopted table, merged at v1)
    val src2 = dir + "/foreign2"
    df.repartitionByRange(6, col("grp")).write.parquet(src2)
    val f2 = new java.io.File(src2)
    val part2 = f2.listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(part2.renameTo(new java.io.File(src2, "al!so.parquet")))
    val t2 = dir + "/vt_bang2"
    VersionedTable.convert(spark, t2, src2)
    VersionedTable.lastCowRewrite.set((-7, -7))
    val m2 = VersionedTable.mergeInto(spark, t2,
      Seq((2L, 2L, 777.0)).toDF("k", "grp", "v"), key = "k")
    assert(VersionedTable.lastCowRewrite.get() == ((-7, -7)),
      "grammar-unsafe names must force the whole-snapshot merge")
    assert(VersionedTable.readVersion(spark, t2, m2)
      .where(col("k") === 2L).head().getDouble(2) == 777.0)
    assert(VersionedTable.readVersion(spark, t2, m2).count() == 6000)
  }

  test("mergeUpdate: partial-column MERGE, unmentioned columns survive") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vt_mergeset"
    val df = spark.range(20000).select(col("id").as("k"),
      (col("id") % 100).cast("double").as("v"),
      concat(lit("n"), col("id")).as("name"))
    VersionedTable.commitClustered(spark, df, t, clusterCols = Seq("k"),
      numFiles = 8, maxRecordsPerFile = 3000L)
    def inventory(): Map[String, (Long, Long)] = {
      val data = new java.io.File(t + "/data")
      data.listFiles().filter(_.isDirectory).flatMap { d =>
        d.listFiles().filter(_.getName.endsWith(".parquet")).map(f =>
          s"${d.getName}/${f.getName}" -> (f.lastModified(), f.length()))
      }.toMap
    }
    val before = inventory()
    // low-key batch + one unmatched key (ignored, never inserted);
    // assignments see the OLD row (t) and the source row (s)
    val src = Seq((10L, 5.0), (11L, 7.0), (999999L, 1.0))
      .toDF("k", "delta")
    val v2 = VersionedTable.mergeUpdate(spark, t, src, "k",
      Map("v" -> (col("t.v") + col("s.delta"))))
    assert(v2 == 2L)
    // file-granular: only the key-holding files rewrote
    val (rewrote, total) = VersionedTable.lastCowRewrite.get()
    assert(rewrote > 0 && rewrote < total,
      s"partial-column merge must rewrite a strict subset: " +
        s"$rewrote of $total")
    val after = inventory()
    before.foreach { case (f, sig) =>
      assert(after.get(f).contains(sig), s"$f changed under mergeUpdate") }
    // result == the relational model: v re-evaluated for matched keys,
    // name/k verbatim everywhere, no insert of the unmatched key
    val model = df.withColumn("v",
      when(col("k") === 10L, col("v") + 5.0)
        .when(col("k") === 11L, col("v") + 7.0).otherwise(col("v")))
    val got = VersionedTable.readLatest(spark, t)
    assert(got.count() == 20000)
    assert(got.exceptAll(model).isEmpty && model.exceptAll(got).isEmpty)
    // the change feed carries the COMPOSED full rows (post-image)
    val feed = VersionedTable.readChanges(spark, t, v2)
    assert(feed.count() == 2 &&
      feed.columns.toSet == Set("k", "v", "name", "__op", "__ver"))
    assert(feed.where(col("__op") =!= "u").count() == 0)
    // SET may not re-key; unknown columns fail typed
    val rekey = intercept[IllegalArgumentException](
      VersionedTable.mergeUpdate(spark, t, src, "k",
        Map("k" -> lit(1L))))
    assert(rekey.getMessage.contains("key"), rekey.getMessage)
    val unknown = intercept[IllegalArgumentException](
      VersionedTable.mergeUpdate(spark, t, src, "k",
        Map("nope" -> lit(1L))))
    assert(unknown.getMessage.contains("nope"), unknown.getMessage)
    // CONDITIONAL partial update: WHEN MATCHED AND cond — only matched
    // pairs passing the condition update; the rest survive verbatim
    // (NULL condition = no update, per SQL)
    val condSrc = Seq((100L, 50.0), (101L, 1.0)).toDF("k", "delta")
    VersionedTable.mergeUpdate(spark, t, condSrc, "k",
      Map("v" -> (col("t.v") + col("s.delta"))),
      updateWhen = col("s.delta") > 10.0)
    val afterCond = VersionedTable.readLatest(spark, t)
    assert(afterCond.where(col("k") === 100L).head().getDouble(1) == 50.0,
      "k=100 passes the condition: v 0.0 + 50.0")
    assert(afterCond.where(col("k") === 101L).head().getDouble(1) == 1.0,
      "k=101 fails the condition and must survive verbatim")

    // deferred deletes stay respected: lazily delete a key, then a
    // partial update of ANOTHER key must not resurrect it
    VersionedTable.deleteWhereLazy(spark, t, "k = 20")
    VersionedTable.mergeUpdate(spark, t,
      Seq((30L, 1.0)).toDF("k", "delta"), "k",
      Map("v" -> (col("t.v") + col("s.delta"))))
    val latest = VersionedTable.readLatest(spark, t)
    assert(latest.where(col("k") === 20L).count() == 0,
      "a lazily-deleted row must not resurrect through mergeUpdate")
    assert(latest.where(col("k") === 30L).head().getDouble(1) == 31.0)
  }

  test("compactSmallFiles: only the small-file tail rewrites; big files stay") {
    import graft.sources.{GraftSql, VersionedTable}
    val t = tmp() + "/vt_compact"
    // one BIG file plus a drip of small appended dirs — the steady-state
    // shape of an ingesting table after its first real compaction
    // sha2 payload: high-entropy bytes so the big file stays big under
    // zstd (plain range ids compress to nothing)
    def slice(from: Long, until: Long) =
      spark.range(from, until).select(col("id"),
        (col("id") % 100).cast("double").as("v"),
        sha2(col("id").cast("string"), 256).as("h")).coalesce(1)
    VersionedTable.commit(spark, slice(0, 200000), t)
    (0 until 4).foreach { i =>
      VersionedTable.append(spark, t,
        slice(300000L + i * 100, 300000L + (i + 1) * 100))
    }
    def files(): Map[String, (Long, Long)] = {
      val data = new java.io.File(t + "/data")
      data.listFiles().filter(_.isDirectory).flatMap { d =>
        d.listFiles().filter(_.getName.endsWith(".parquet")).map(f =>
          s"${d.getName}/${f.getName}" -> (f.lastModified(), f.length()))
      }.toMap
    }
    val before = files()
    val bigFile = before.maxBy(_._2._2)
    assert(bigFile._2._2 > (512L << 10),
      s"fixture needs a big file: ${bigFile._2._2}")
    // compact the small tail through the statement spelling
    val v = GraftSql.sql(spark,
      s"OPTIMIZE '$t' COMPACT UNDER 1 MB TARGET 128 MB")
      .head().getLong(0)
    assert(v == 6L)
    val (rewrote, total) = VersionedTable.lastCowRewrite.get()
    assert(rewrote == 4 && total == 5,
      s"exactly the 4 small files compact: $rewrote of $total")
    // the big file is untouched on disk AND still referenced
    val after = files()
    assert(after.get(bigFile._1).contains(bigFile._2),
      "the big file must not rewrite")
    val latest = VersionedTable.readLatest(spark, t)
    assert(latest.count() == 200400)
    // op provenance + time travel into the pre-compaction state
    assert(VersionedTable.history(spark, t)
      .orderBy(col("version").desc)
      .select(col("op")).head().getString(0) == "optimize")
    assert(VersionedTable.readVersion(spark, t, 5L).count() == 200400)
    // nothing left to compact: clean no-op, no new version
    assert(VersionedTable.compactSmallFiles(spark, t,
      minFileBytes = 1L << 20) == v)
    assert(VersionedTable.latestVersion(spark, t).contains(v))

    // deferred deletes: compacted rows materialize them, kept files keep
    // their predicate scopes, visible state is unchanged by compaction
    (4 until 6).foreach { i =>
      VersionedTable.append(spark, t,
        slice(300000L + i * 100, 300000L + (i + 1) * 100))
    }
    VersionedTable.deleteWhereLazy(spark, t,
      "id >= 300400 AND id < 300450")
    val preCompact = VersionedTable.readLatest(spark, t).count()
    assert(preCompact == 200550)
    VersionedTable.compactSmallFiles(spark, t, minFileBytes = 1L << 20)
    assert(VersionedTable.readLatest(spark, t).count() == 200550,
      "compaction must not change visible state under deferred deletes")

    // concurrency: a DISJOINT append racing a stale-pinned compaction
    // rebases internally (the winner still references every compacted
    // file); a winner that REWROTE a compacted file conflicts honestly.
    // First give the pin a compactable tail (>= 2 small files).
    VersionedTable.append(spark, t, slice(400000L, 400100L))
    val basePin = VersionedTable.latestVersion(spark, t).get
    VersionedTable.append(spark, t, slice(400100L, 400200L))
    val rb0 = VersionedTable.cowRebases.get()
    VersionedTable.compactSmallFilesFrom(spark, t, basePin,
      minFileBytes = 1L << 20, targetFileBytes = 128L << 20)
    assert(VersionedTable.cowRebases.get() == rb0 + 1,
      "a disjoint append must rebase the compaction, not conflict")
    assert(VersionedTable.readLatest(spark, t).count() == 200750)
    val stale = VersionedTable.latestVersion(spark, t).get
    VersionedTable.optimize(spark, t) // whole-snapshot rewrite wins
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.compactSmallFilesFrom(spark, t, stale,
        minFileBytes = 1L << 20, targetFileBytes = 128L << 20)
    }
  }

  test("mergeUpdate pins its base: overlapping race conflicts, disjoint rebases") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vt_musrace"
    val df = spark.range(8000).select(col("id").as("k"),
      (col("id") % 4).as("grp"), (col("id") % 100).cast("double").as("v"))
    VersionedTable.commitClustered(spark, df, t, clusterCols = Seq("grp"),
      numFiles = 4)
    // winner: v2 rewrites grp 0's file
    VersionedTable.updateWhere(spark, t, col("grp") === 0L,
      Map("v" -> lit(500.0)))
    // OVERLAPPING race: a partial update pinned at v1 touching a grp-0
    // key composed its post-image from v1 — publishing it would erase
    // the winner's update, so guard 1 (touched file no longer
    // referenced) must surface an honest conflict
    val src0 = Seq((0L, 1.0)).toDF("k", "delta")
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.mergeUpdateKeysFrom(spark, t, 1L, src0, Seq("k"),
        Map("v" -> (col("t.v") + col("s.delta"))))
    }
    assert(VersionedTable.readLatest(spark, t)
      .where(col("k") === 0L).head().getDouble(2) == 500.0,
      "the winner's update must survive the conflicted partial merge")
    // DISJOINT race: a stale partial update of a grp-3 key rebases
    // internally (the winner never touched its file or its keys) and
    // the result equals the serial replay
    val rb0 = VersionedTable.cowRebases.get()
    val v3 = VersionedTable.mergeUpdateKeysFrom(spark, t, 1L,
      Seq((3L, 1.0)).toDF("k", "delta"), Seq("k"),
      Map("v" -> (col("t.v") + col("s.delta"))))
    assert(VersionedTable.cowRebases.get() == rb0 + 1,
      "the disjoint partial merge must rebase, not retry")
    val got = VersionedTable.readVersion(spark, t, v3)
    assert(got.where(col("k") === 0L).head().getDouble(2) == 500.0)
    assert(got.where(col("k") === 3L).head().getDouble(2) == 4.0)
    assert(got.count() == 8000)
  }

  test("file-level vacuum reclaims rewritten-away files; reads stay identical") {
    import graft.sources.VersionedTable
    val t = tmp() + "/vt_filevac"
    val df = spark.range(20000).select(col("id"),
      (col("id") % 4 + 2020).as("yr"),
      (col("id") % 100).cast("double").as("v"))
    VersionedTable.commitClustered(spark, df, t, clusterCols = Seq("yr"),
      numFiles = 8, maxRecordsPerFile = 3000L)
    def dataFiles(): Set[String] = {
      val data = new java.io.File(t + "/data")
      data.listFiles().filter(_.isDirectory).flatMap { d =>
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"data/${d.getName}/${f.getName}")
      }.toSet
    }
    // UPDATE one year: the matched files rewrite into a fresh dir; v2
    // references the base dir through kept/exclusion tokens
    VersionedTable.updateWhere(spark, t, col("yr") === 2021L,
      Map("v" -> lit(-1.0)))
    val (rewrote, total) = VersionedTable.lastCowRewrite.get()
    assert(rewrote > 0 && rewrote < total)
    val filesWhileV1Lives = dataFiles()

    // while v1 (whole-dir) lives, vacuum must reclaim NOTHING
    Thread.sleep(30)
    assert(VersionedTable.vacuum(spark, t, graceMs = 10L).isEmpty,
      "a live whole-dir version protects every file")

    // expire v1 → only v2's kept/exclusion references remain; the
    // rewritten-away files are now dead bytes and must reclaim
    assert(VersionedTable.expireVersions(spark, t, keepLast = 1) == Seq(1L))
    val preVacuum = VersionedTable.readLatest(spark, t)
      .orderBy(col("id")).collect()
    Thread.sleep(30)
    val reclaimed = VersionedTable.vacuum(spark, t, graceMs = 10L)
    assert(reclaimed.nonEmpty, "rewritten-away files must reclaim")
    assert(reclaimed.forall(_.endsWith(".parquet")),
      s"only files may reclaim here: $reclaimed")
    assert(reclaimed.size == rewrote,
      s"exactly the rewritten-away files reclaim: $reclaimed")
    assert(reclaimed.forall(filesWhileV1Lives),
      "reclaimed files must be pre-verb bytes")
    // the live version reads byte-identical after the reclaim —
    // exclusion-token listings list-then-subtract, so deleting an
    // excluded file changes no kept set
    val postVacuum = VersionedTable.readLatest(spark, t)
      .orderBy(col("id")).collect()
    assert(postVacuum.toSeq == preVacuum.toSeq,
      "file-level vacuum must not change any live read")
    assert(postVacuum.length == 20000)
    // idempotent: a second vacuum finds nothing
    Thread.sleep(30)
    assert(VersionedTable.vacuum(spark, t, graceMs = 10L).isEmpty)
    // kept files are still physically present (they are referenced)
    assert(dataFiles().size == filesWhileV1Lives.size - rewrote)
    // pruned reads still work over the post-vacuum layout (the stats
    // sidecar may still describe reclaimed files — the version's
    // restriction, not the sidecar, decides what opens)
    import graft.sources.VersionedTable.ColumnBounds
    val pruned = VersionedTable.readLatestPruned(spark, t,
      bounds = Seq(ColumnBounds("yr", Some(2022L), Some(2022L))))
    assert(pruned.count() == 5000)
  }

  test("merge determinism gate walks the whole change plan") {
    import graft.sources.VersionedTable
    // rand() in a Project BENEATH the root Filter: the root-only gate
    // (QueryPlan.expressions) missed it, and the granular path would
    // evaluate the batch at probe and apply time with different rows —
    // silent duplicates. The recursive gate must fall back.
    val t = tmp() + "/vt_nondet_merge"
    val df = spark.range(20000).select(col("id").as("k"),
      (col("id") % 100).as("v"))
    VersionedTable.commitClustered(spark, df, t, clusterCols = Seq("k"),
      numFiles = 8, maxRecordsPerFile = 3000L)
    val changes = df
      .select(col("k"),
        (col("v") + (rand() * lit(0.0)).cast("long")).as("v"))
      .where(col("k") < 10L)
    VersionedTable.lastCowRewrite.set((-7, -7))
    val v2 = VersionedTable.mergeInto(spark, t, changes, key = "k")
    assert(VersionedTable.lastCowRewrite.get() == ((-7, -7)),
      "a nondeterministic subtree must force the whole-snapshot path")
    assert(VersionedTable.readVersion(spark, t, v2).count() == 20000)
  }

  test("small-table granular bypass: whole-snapshot when fresh, granular when stale-pinned") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vt_bypass"
    // ONE data file — the probe pass cannot pay for itself here
    val df = spark.range(100).coalesce(1)
      .select(col("id").as("k"), (col("id") % 10).as("v"))
    VersionedTable.commit(spark, df, t)
    VersionedTable.lastCowRewrite.set((-7, -7))
    val v2 = VersionedTable.updateWhere(spark, t, col("k") < 10L,
      Map("v" -> lit(99L)))
    assert(v2 == 2L)
    assert(VersionedTable.lastCowRewrite.get() == ((-7, -7)),
      "a fresh-base tiny-table verb must skip the probe pass")
    val got = VersionedTable.readLatest(spark, t)
    assert(got.where(col("k") < 10L).where(col("v") =!= 99L).count() == 0)
    assert(got.count() == 100)
    // a STALE-pinned base keeps granularity (it powers the internal
    // disjoint rebase): insert-only merge pinned at v1 while v2 won the
    // slot — must rebase internally, not conflict, and the probe runs
    VersionedTable.lastCowRewrite.set((-7, -7))
    val v3 = VersionedTable.commitMergeFrom(spark, t, baseVersion = 1L,
      Seq((5000L, 1L, 2L, "u")).toDF("k", "v", "ver", "op"),
      key = "k", version = "ver", op = "op")
    assert(v3 == 3L)
    assert(VersionedTable.lastCowRewrite.get() != ((-7, -7)),
      "a stale-pinned base must stay on the granular (probing) path")
    val rebased = VersionedTable.readVersion(spark, t, v3)
    assert(rebased.count() == 101)
    // the winner's (v2) updates survive the rebase — never a lost update
    assert(rebased.where(col("k") < 10L)
      .where(col("v") =!= 99L).count() == 0)
  }

  test("expireVersionsOlderThan retires only the contiguous old prefix") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vt_age_expire"
    (1 to 4).foreach(i =>
      VersionedTable.commit(spark, Seq((i.toLong, s"v$i")).toDF("k", "v"), t))
    // nothing is older than an hour -> nothing expires
    assert(VersionedTable.expireVersionsOlderThan(spark, t,
      maxAgeMs = 3600L * 1000L).isEmpty)
    // everything is "older than 0ms" except the protected newest
    Thread.sleep(20)
    assert(graft.sources.GraftSql.sql(spark,
        s"EXPIRE VERSIONS '$t' OLDER THAN 0 HOURS")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(VersionedTable.versions(spark, t) == Seq(4L))
    assert(VersionedTable.readLatest(spark, t).head().getString(1) == "v4")
  }

  test("N-writer hammer: gap-free versions, no lost updates under racing") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vt_hammer"
    VersionedTable.commit(spark,
      Seq((-1L, 0L)).toDF("writer", "commits"), t)
    val writers = 8
    val perWriter = 4
    val conflicts = new java.util.concurrent.atomic.AtomicLong(0)
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // each writer upserts its own row, bumping its commit count — the
    // merge derives from the LATEST snapshot each attempt, so optimistic
    // retries must converge with every writer's final count = perWriter
    // (a lost update would leave a smaller count)
    val threads = (0 until writers).map { w =>
      new Thread(() => {
        try {
          var done = 0
          while (done < perWriter) {
            val mine = VersionedTable.readLatest(spark, t)
              .where(col("writer") === w.toLong).collect()
            val cur = if (mine.isEmpty) 0L else mine.head.getLong(1)
            try {
              VersionedTable.mergeInto(spark, t,
                Seq((w.toLong, cur + 1L)).toDF("writer", "commits"),
                key = "writer")
              done += 1
            } catch {
              case _: VersionedTable.CommitConflictException =>
                conflicts.incrementAndGet() // re-read and retry
            }
          }
        } catch { case e: Throwable => failures.add(e) }
      }, s"hammer-$w")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    // every commit produced exactly one version: gap-free chain of
    // 1 (seed) + writers*perWriter merges
    val vs = VersionedTable.versions(spark, t)
    assert(vs == (1L to (1L + writers * perWriter)),
      s"version chain has gaps: $vs")
    // no lost updates: every writer's final count survived
    val counts = VersionedTable.readLatest(spark, t)
      .where(col("writer") >= 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == (0 until writers).map(_.toLong -> perWriter.toLong)
      .toMap, s"lost updates: $counts (conflicts seen: ${conflicts.get()})")
    // every intermediate version stays readable (winners' snapshots
    // were never disturbed by losers)
    vs.foreach(v =>
      assert(VersionedTable.readVersion(spark, t, v).count() >= 1L))
  }


  test("overwriteWhere atomically replaces exactly the predicate region") {
    import graft.sources.{GraftSql, VersionedTable}
    import spark.implicits._
    val t = tmp() + "/vt_overwrite"
    VersionedTable.commit(spark,
      spark.range(100).select(col("id").as("k"),
        (col("id") % 10).as("grp"), (col("id") * 2).as("v")), t)
    // replace group 3 with a re-derived batch (fewer rows, new values)
    val batch = Seq((3L, 3L, 1000L), (13L, 3L, 1001L)).toDF("k", "grp", "v")
    val v2 = VersionedTable.overwriteWhere(spark, t, col("grp") === 3L, batch)
    assert(v2 == 2L)
    val after = VersionedTable.readLatest(spark, t)
    // outside the region: untouched; inside: exactly the batch
    assert(after.where(col("grp") =!= 3L).count() == 90L)
    assert(after.where(col("grp") === 3L).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet ==
      Set((3L, 1000L), (13L, 1001L)))
    // ONE version: the delete and insert are never separately visible
    assert(VersionedTable.versions(spark, t) == Seq(1L, 2L))
    // idempotent: re-running the same overwrite converges (new version,
    // same state)
    VersionedTable.overwriteWhere(spark, t, col("grp") === 3L, batch)
    assert(VersionedTable.readLatest(spark, t).exceptAll(after).isEmpty)
    // region guard: a replacement row OUTSIDE the predicate fails typed,
    // and nothing is published
    val before = VersionedTable.versions(spark, t)
    intercept[IllegalArgumentException](
      VersionedTable.overwriteWhere(spark, t, col("grp") === 3L,
        Seq((4L, 4L, 9L)).toDF("k", "grp", "v")))
    assert(VersionedTable.versions(spark, t) == before)
    // schema contract: missing/unknown columns fail typed
    intercept[IllegalArgumentException](
      VersionedTable.overwriteWhere(spark, t, col("grp") === 3L,
        Seq((3L, 3L)).toDF("k", "grp")))
    // the SQL spelling drives the same verb (source SELECT may itself
    // time-travel — the LATEST view pins the pre-overwrite snapshot)
    GraftSql.sql(spark,
      s"INSERT OVERWRITE '$t' WHERE grp = 4 " +
        s"SELECT k, grp, v + 1 AS v FROM '$t' LATEST WHERE grp = 4")
    assert(VersionedTable.readLatest(spark, t)
      .where(col("grp") === 4L).agg(sum(col("v"))).head().getLong(0) ==
      (4L to 94L by 10L).map(_ * 2L + 1L).sum)
  }

  test("shallowClone forks zero-copy; clone and source evolve independently") {
    import graft.sources.{GraftSql, VersionedTable}
    import spark.implicits._
    val dir = tmp()
    val src = dir + "/vt_clone_src"
    val tgt = dir + "/vt_clone_tgt"
    VersionedTable.commit(spark,
      spark.range(500).select(col("id").as("k"), (col("id") * 3).as("v")),
      src, statsCols = Seq("k"))
    VersionedTable.setConstraints(spark, src, Map("pos_v" -> "v >= 0"))
    VersionedTable.append(spark, src,
      Seq((9000L, 1L)).toDF("k", "v"))
    val srcBytes = Option(new java.io.File(src + "/data").listFiles)
      .toSeq.flatten.map(f => f.getName + ":" + f.lastModified).toSet
    // clone latest (v2 = 501 rows) — one metadata write, no data movement
    assert(GraftSql.sql(spark, s"CLONE '$src' TO '$tgt'")
      .head().getLong(0) == 1L)
    assert(VersionedTable.readLatest(spark, tgt).count() == 501L)
    assert(Option(new java.io.File(src + "/data").listFiles)
      .toSeq.flatten.map(f => f.getName + ":" + f.lastModified).toSet
      == srcBytes, "clone moved source bytes")
    // a pinned-version clone sees that version's state
    val tgtV1 = dir + "/vt_clone_v1"
    VersionedTable.shallowClone(spark, tgtV1, src, version = Some(1L))
    assert(VersionedTable.readLatest(spark, tgtV1).count() == 500L)
    // constraints traveled: a violating commit on the CLONE aborts
    intercept[VersionedTable.ConstraintViolationException](
      VersionedTable.append(spark, tgt, Seq((1L, -5L)).toDF("k", "v")))
    // the clone evolves without touching the source...
    VersionedTable.deleteWhere(spark, tgt, col("k") < 100L)
    assert(VersionedTable.readLatest(spark, tgt).count() == 401L)
    assert(VersionedTable.readLatest(spark, src).count() == 501L)
    // ...and the source evolves without touching the clone
    VersionedTable.append(spark, src, Seq((9001L, 2L)).toDF("k", "v"))
    assert(VersionedTable.readLatest(spark, tgt).count() == 401L)
    // vacuum on the clone never reclaims source dirs (absolute refs are
    // not candidates in the clone's managed namespace) — it may reclaim
    // the clone's OWN orphan from the aborted constraint-violating
    // append, which is correct
    Thread.sleep(50)
    assert(VersionedTable.vacuum(spark, tgt, graceMs = 10L)
      .forall(_.startsWith("data/")))
    assert(VersionedTable.readLatest(spark, src).count() == 502L)
    assert(VersionedTable.readLatest(spark, tgt).count() == 401L)
    // guards: clone onto itself / over an existing table fails typed
    intercept[IllegalArgumentException](
      VersionedTable.shallowClone(spark, src, src))
    intercept[IllegalArgumentException](
      VersionedTable.shallowClone(spark, tgt, src))
  }

  test("deleteWhereLazy: merge-on-read delete is O(metadata) and exact") {
    import graft.sources.{GraftSql, VersionedTable}
    import spark.implicits._
    val t = tmp() + "/vt_lazy"
    VersionedTable.commit(spark,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, null, 30.0),
        (4L, "d", 40.0)).toDF("k", "tag", "v"), t)
    def dataDirs = Option(new java.io.File(t + "/data").listFiles)
      .toSeq.flatten.filter(_.isDirectory).map(_.getName).toSet
    val dirsBefore = dataDirs

    // v2: pure metadata — no data dir written; NULL-predicate rows KEPT
    assert(VersionedTable.deleteWhereLazy(spark, t, "tag = 'a'") == 2L)
    assert(dataDirs == dirsBefore, "lazy delete must write no data dir")
    assert(VersionedTable.readLatest(spark, t).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L))

    // v3: stacked predicates conjoin; still no data dir
    assert(VersionedTable.deleteWhereLazy(spark, t, "v >= 40") == 3L)
    assert(dataDirs == dirsBefore)
    assert(VersionedTable.readLatest(spark, t).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L))

    // time travel is untouched — each version keeps ITS del stack
    assert(VersionedTable.readVersion(spark, t, 1L).count() == 4)
    assert(VersionedTable.readVersion(spark, t, 2L).count() == 3)

    // v4: rows appended AFTER a lazy delete are out of its scope even
    // when they match the predicate
    VersionedTable.append(spark, t,
      Seq((5L, "a", 40.0)).toDF("k", "tag", "v"))
    assert(VersionedTable.readLatest(spark, t).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L, 5L),
      "rows inserted after a lazy delete must survive it")

    // validation: unresolvable column fails analysis, nondeterministic
    // predicates are refused — neither publishes a version
    intercept[org.apache.spark.sql.AnalysisException](
      VersionedTable.deleteWhereLazy(spark, t, "ghost = 1"))
    intercept[IllegalArgumentException](
      VersionedTable.deleteWhereLazy(spark, t, "rand() < 0.5"))
    assert(VersionedTable.latestVersion(spark, t).contains(4L))

    // v5: any CoW verb materializes the filtered state into clean dirs
    VersionedTable.optimize(spark, t, targetFileBytes = 1L << 30)
    assert(VersionedTable.readLatest(spark, t).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L, 5L))

    // base-pinned: a racing commit conflicts, never a lost update
    val stray = new java.io.File(t + "/_manifests/v00000006.json")
    assert(stray.createNewFile())
    intercept[VersionedTable.CommitConflictException](
      VersionedTable.deleteWhereLazyFrom(spark, t, 5L, "k = 2"))
    assert(stray.delete())

    // v6: the statement spelling
    GraftSql.sql(spark, s"DELETE FROM '$t' WHERE k = 2 DEFERRED").collect()
    assert(VersionedTable.readLatest(spark, t).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(3L, 5L))

    // provenance before compaction retires anything
    assert(VersionedTable.history(spark, t).orderBy("version").collect()
      .map(_.getString(4)).toSeq == Seq("commit", "lazydelete",
        "lazydelete", "insert", "optimize", "lazydelete"))

    // a deferred delete's change log is SYNTHESIZED (r13): exactly the
    // rows v2's predicate removed from v1, tagged as deletes — never the
    // base dir's earlier batch misattributed to it
    val lazyFeed = VersionedTable.readChanges(spark, t, 2L).collect()
    assert(lazyFeed.length == 1 &&
      lazyFeed.head.getString(lazyFeed.head.fieldIndex("__op")) == "d",
      lazyFeed.mkString(","))

    // del-carrying manifests RETIRE under compaction like any other
    // (r14): the checkpoint folds their del-sidecar refs next to the
    // dirs, so every folded version keeps filtering — previously they
    // were permanently compaction-exempt
    VersionedTable.compactManifests(spark, t, keepRecent = 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(t, "_manifests", "v00000002.json")),
      "del-carrying manifest must fold into the checkpoint and retire")
    assert(VersionedTable.readVersion(spark, t, 1L).count() == 4,
      "del-free manifest folds into the checkpoint and stays readable")
    assert(VersionedTable.readVersion(spark, t, 2L).count() == 3,
      "folded del-carrying version must keep filtering")
    assert(VersionedTable.readVersion(spark, t, 3L).count() == 2)
    assert(VersionedTable.readLatest(spark, t).count() == 2)
  }

  test("deleteWhereLazy filters survive the file-pruned read path") {
    import graft.sources.VersionedTable
    val t = tmp() + "/vt_lazy_prune"
    // clustered commit → several files with zone maps on k, so a narrow
    // bound takes readVersionPruned's kept-files branch — the one that
    // re-reads file lists directly and must re-apply the del filters
    VersionedTable.commitClustered(spark,
      spark.range(0, 1000).select(col("id").as("k"),
        (col("id") % 7).as("v")),
      t, clusterCols = Seq("k"), numFiles = 8)
    VersionedTable.deleteWhereLazy(spark, t, "k % 2 = 0")
    val sel = prune(t, 2L,
      Seq(VersionedTable.ColumnBounds("k", Some(100L), Some(299L))))
    assert(sel.exists { case (kept, total) => kept.size < total },
      s"bounds must actually prune files: $sel")
    val got = VersionedTable.readVersionPruned(spark, t, 2L,
        Seq(VersionedTable.ColumnBounds("k", Some(100L), Some(299L))))
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got == (101L to 299L by 2).toSeq,
      "pruned read must apply the deferred-delete filter per dir")
  }

  test("shallowClone carries deferred deletes; source and clone diverge") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val dir = tmp()
    val src = dir + "/vt_lzclone_src"
    val tgt = dir + "/vt_lzclone_tgt"
    VersionedTable.commit(spark,
      (1L to 10L).map(k => (k, k * 2L)).toDF("k", "v"), src)
    VersionedTable.deleteWhereLazy(spark, src, "k <= 3")
    VersionedTable.shallowClone(spark, tgt, src)
    assert(VersionedTable.readLatest(spark, tgt).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == (4L to 10L).toSeq,
      "the clone must inherit the source's deferred deletes")
    // the clone's own lazy delete does not touch the source
    VersionedTable.deleteWhereLazy(spark, tgt, "k >= 9")
    assert(VersionedTable.readLatest(spark, tgt).count() == 5)
    assert(VersionedTable.readLatest(spark, src).count() == 7)
  }

  test("deferred deletes synthesize an exact, scoped change feed") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vt_lazy_cdc"
    VersionedTable.commit(spark,
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("k", "v"), t)
    VersionedTable.deleteWhereLazy(spark, t, "k <= 2")           // v2
    // v2's feed is exactly the deleted rows, mergeInto-tagged
    val f2 = VersionedTable.readChanges(spark, t, 2L)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(f2.toSeq == Seq((1L, 10L, "d"), (2L, 20L, "d")), f2.mkString(","))
    // an append lands a row MATCHING the first predicate (k=0 — out of
    // its scope, so it survives), then a second delete spans both dirs:
    // its feed reports ONLY the newly deleted rows — k=1,2 are already
    // gone and never re-report; (4,40) falls in dir1, (0,60) in dir2
    VersionedTable.append(spark, t,
      Seq((0L, 60L), (5L, 1L)).toDF("k", "v"))                   // v3
    VersionedTable.deleteWhereLazy(spark, t, "v >= 40")          // v4
    val f4 = VersionedTable.readChanges(spark, t, 4L)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(2)))
    assert(f4.toSeq == Seq((0L, "d"), (4L, "d")), f4.mkString(","))
    assert(VersionedTable.readLatest(spark, t).orderBy("k").collect()
      .map(_.getLong(0)).toSeq == Seq(3L, 5L))
    // the APPEND (v3) is enumerable too: its new dir as upsert rows
    val f3 = VersionedTable.readChanges(spark, t, 3L)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(2)))
    assert(f3.toSeq == Seq((0L, "u"), (5L, "u")), f3.mkString(","))
    // the _cdf mirror carries deferred-delete AND append versions
    VersionedTable.enableChangeFeed(spark, t)
    val mirrored = new java.io.File(t + "/_cdf").listFiles
      .map(_.getName).filter(_.startsWith("v")).sorted.toSeq
    assert(mirrored == Seq("v00000002", "v00000003", "v00000004"), mirrored)
  }

  test("refreshRollup rides the incremental path across a deferred delete") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val base = tmp() + "/vt_lazy_roll_base"
    val roll = tmp() + "/vt_lazy_roll_tgt"
    VersionedTable.commit(spark,
      Seq((1L, "a", 10L), (2L, "a", 5L), (3L, "b", 7L))
        .toDF("id", "grp", "v"), base)
    VersionedTable.refreshRollup(spark, base, roll, Seq("grp"), Seq("v"))
    VersionedTable.deleteWhereLazy(spark, base, "v <= 5")
    VersionedTable.refreshRollup(spark, base, roll, Seq("grp"), Seq("v"))
    // incremental (op merge), not full recompute (op rollup)
    val lastOp = VersionedTable.history(spark, roll)
      .orderBy(col("version").desc).head().getString(4)
    assert(lastOp == "merge", s"expected incremental path, got op=$lastOp")
    val got = VersionedTable.readLatest(spark, roll).orderBy("grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a", 1L, 10L), ("b", 1L, 7L)), got.mkString(","))
    // a delete that ERASES a whole group must drop it from the rollup
    VersionedTable.deleteWhereLazy(spark, base, "grp = 'b'")
    VersionedTable.refreshRollup(spark, base, roll, Seq("grp"), Seq("v"))
    val after = VersionedTable.readLatest(spark, roll).orderBy("grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(after.toSeq == Seq(("a", 1L, 10L)), after.mkString(","))
  }

  test("TIMESTAMP AS OF resolves versions; expire forgets the mirror") {
    import graft.sources.{GraftSql, VersionedTable}
    import spark.implicits._
    val t = tmp() + "/vt_asof"
    val t0 = System.currentTimeMillis() - 5L
    VersionedTable.commit(spark, Seq((1L, "a")).toDF("k", "v"), t)
    Thread.sleep(15)
    val mid = System.currentTimeMillis()
    Thread.sleep(15)
    VersionedTable.mergeInto(spark, t, Seq((2L, "b")).toDF("k", "v"), "k")
    // at `mid` only v1 existed; now = v2; before t0 = nothing
    assert(VersionedTable.readAsOf(spark, t, mid).count() == 1L)
    assert(VersionedTable.readAsOf(spark, t,
      System.currentTimeMillis()).count() == 2L)
    intercept[IllegalArgumentException](
      VersionedTable.readAsOf(spark, t, t0 - 60000L))
    // history surfaces the commit stamp; the statement spelling resolves
    val hist = VersionedTable.history(spark, t).orderBy("version").collect()
    assert(hist.forall(r => !r.isNullAt(5) && r.getLong(5) >= t0),
      hist.mkString(","))
    val midTs = new java.sql.Timestamp(mid)
    assert(GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM '$t' TIMESTAMP AS OF '$midTs'")
      .head().getLong(0) == 1L)
    // retention split (r15): EXPIRE retires metadata only — the expired
    // version's mirror dir keeps serving a lagging subscriber (the r15
    // hammer caught the old immediate delete losing an unconsumed
    // replica batch); VACUUM's grace then completes the documented
    // expire-then-vacuum right-to-be-forgotten erasure
    VersionedTable.enableChangeFeed(spark, t)
    VersionedTable.mergeInto(spark, t, Seq((3L, "c")).toDF("k", "v"), "k")
    assert(new java.io.File(t + "/_cdf/v00000002").exists)
    VersionedTable.expireVersions(spark, t, keepLast = 1)
    assert(new java.io.File(t + "/_cdf/v00000002").exists,
      "a lagging subscriber keeps its catch-up window through expiry")
    Thread.sleep(30)
    VersionedTable.vacuum(spark, t, graceMs = 10L)
    assert(!new java.io.File(t + "/_cdf/v00000002").exists,
      "vacuum must reclaim the expired version's mirror dir")
    assert(new java.io.File(t + "/_cdf/v00000003").exists,
      "kept version's mirror dir must survive")
  }

  test("racing ADD CONSTRAINTs all survive (generation CAS)") {
    import graft.sources.{GraftSql, VersionedTable}
    import spark.implicits._
    val t = tmp() + "/vt_cons_race"
    VersionedTable.commit(spark,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t)
    // legacy single-file tables still read: simulate a pre-generation
    // build's mutable _constraints.json, then CAS on top of it
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_constraints.json"),
      """{"legacy_pos":"k > 0"}""".getBytes("UTF-8"))
    assert(VersionedTable.constraintsOf(spark, t).toMap ==
      Map("legacy_pos" -> "k > 0"))
    // 8 concurrent ADDs: with the old read-modify-write of one mutable
    // file, racers could last-write-win and silently drop each other;
    // the generation CAS makes every one survive (losers re-read and
    // retry at the next generation)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 8).map { i =>
      new Thread(() =>
        try VersionedTable.addConstraints(spark, t,
          Map(s"c_$i" -> s"v >= $i"))
        catch { case e: Throwable => errs.add(e); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs)
    val names = VersionedTable.constraintsOf(spark, t).map(_._1).toSet
    assert(names == (0 until 8).map(i => s"c_$i").toSet + "legacy_pos",
      names)
    // the merged state gates commits like any other constraint set
    intercept[VersionedTable.ConstraintViolationException](
      VersionedTable.append(spark, t, Seq((3L, -1L)).toDF("k", "v")))
    // and the statement spelling rides the same atomic verb
    GraftSql.sql(spark, s"ADD CONSTRAINT '$t' c_stmt CHECK (v < 1000)")
    assert(VersionedTable.constraintsOf(spark, t).toMap
      .contains("c_stmt"))
  }

  test("readChanges refuses zero-copy bootstraps (clone/convert)") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val dir = tmp()
    val src = dir + "/vt_attr_src"
    val tgt = dir + "/vt_attr_tgt"
    VersionedTable.commit(spark, Seq((1L, "a")).toDF("k", "v"), src)
    VersionedTable.mergeInto(spark, src,
      Seq((2L, "b")).toDF("k", "v"), key = "k")
    // src v2's dir carries a _changes sidecar from the SOURCE merge; a
    // clone of v2 references that dir as its own v1 — handing that batch
    // to a CDC consumer polling the clone would double-apply it
    VersionedTable.shallowClone(spark, tgt, src)
    val e = intercept[IllegalArgumentException](
      VersionedTable.readChanges(spark, tgt, 1L))
    assert(e.getMessage.contains("clone"), e.getMessage)
    // convert: the adopted dir is foreign by the same argument
    val raw = dir + "/raw_parquet"
    Seq((5L, "x")).toDF("k", "v").write.parquet(raw)
    val cvt = dir + "/vt_attr_cvt"
    VersionedTable.convert(spark, cvt, raw)
    intercept[IllegalArgumentException](
      VersionedTable.readChanges(spark, cvt, 1L))
  }

  test("resolveDir: legacy dir-less manifest degrades iff data/v=N exists") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vt_legacy"
    VersionedTable.commit(spark, Seq((1L, "a")).toDF("k", "v"), t)
    // a pre-writer-unique-layout build committed v2: manifest body has
    // no dir field, data lives at the fixed data/v=2
    Seq((2L, "b")).toDF("k", "v").write.parquet(t + "/data/v=2")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_manifests", "v00000002.json"),
      """{"version": 2}""".getBytes("UTF-8"))
    assert(VersionedTable.readVersion(spark, t, 2L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((2L, "b")))
    // a dir-less manifest with NO legacy dir on disk stays a loud error
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_manifests", "v00000003.json"),
      """{"version": 3}""".getBytes("UTF-8"))
    intercept[IllegalStateException](
      VersionedTable.readVersion(spark, t, 3L))
  }

  test("rollup MIN/MAX stay incremental and shrink exactly under deletes") {
    import graft.sources.{GraftSql, VersionedTable}
    import spark.implicits._
    val base = tmp() + "/mm_base"
    val roll = tmp() + "/mm_roll"
    VersionedTable.commit(spark, Seq(
      (1L, 10L, 5.0), (2L, 10L, 7.0), (3L, 20L, 1.0), (4L, 20L, 9.0))
      .toDF("id", "grp", "x"), base)
    def refresh() = GraftSql.sql(spark,
      s"REFRESH ROLLUP '$roll' FROM '$base' KEY grp " +
        "SUM (x) MIN (x) MAX (x)")
    refresh()
    // delete group 10's MAX row — a delta-subtraction IVM cannot shrink
    // an extremum; the churn-bound recompute of the touched group must
    refresh() // already current: no-op
    VersionedTable.mergeInto(spark, base,
      Seq((2L, 10L, 7.0)).toDF("id", "grp", "x"), key = "id",
      deleteWhen = lit(true))
    refresh()
    val ops = VersionedTable.history(spark, roll).select("op").collect()
      .map(_.getString(0)).toSeq
    assert(ops.count(_ == "rollup") == 1 && ops.contains("merge"),
      s"MIN/MAX refresh fell back to wholesale recompute: $ops")
    val got = VersionedTable.readLatest(spark, roll)
      .select("grp", "n", "sum_x", "min_x", "max_x").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got == Map(
      10L -> (1L, 5.0, 5.0, 5.0),
      20L -> (2L, 10.0, 1.0, 9.0)), got.toString)
    // MIN/MAX without any SUM parses too
    val roll2 = tmp() + "/mm_roll2"
    GraftSql.sql(spark,
      s"REFRESH ROLLUP '$roll2' FROM '$base' KEY grp SUM () MAX (x)")
    val got2 = VersionedTable.readLatest(spark, roll2)
      .select("grp", "n", "max_x").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got2 == Map(10L -> (1L, 5.0), 20L -> (2L, 9.0)), got2.toString)
  }

  test("file-granular CoW: DML rewrites only matched files; untouched bytes stay") {
    import graft.sources.VersionedTable
    import graft.sources.VersionedTable.ColumnBounds
    val t = tmp() + "/vt_fgcow"
    // a 4-year table, year-clustered so each file covers one year slice —
    // the layout where an UPDATE of one year must NOT rewrite the others
    val df = spark.range(20000).select(
      col("id"), (col("id") % 4 + 2020).as("yr"),
      (col("id") % 100).cast("double").as("v"))
    VersionedTable.commitClustered(spark, df, t, clusterCols = Seq("yr"),
      numFiles = 8, maxRecordsPerFile = 3000L)
    def inventory(): Map[String, (Long, Long)] = {
      val data = new java.io.File(t + "/data")
      data.listFiles().filter(_.isDirectory).flatMap { d =>
        d.listFiles().filter(_.getName.endsWith(".parquet")).map(f =>
          s"${d.getName}/${f.getName}" -> (f.lastModified(), f.length()))
      }.toMap
    }
    val before = inventory()
    assert(before.size >= 4, s"need a multi-file base: ${before.size}")

    // UPDATE one year — file-granular: only the files holding 2021 rows
    // rewrite; the rest are referenced in place, byte-identical
    val matched2021 = VersionedTable.readVersion(spark, t, 1L)
      .where(col("yr") === 2021)
      .select(col("_metadata.file_name")).distinct().count()
    val v2 = VersionedTable.updateWhere(spark, t, col("yr") === 2021,
      Map("v" -> (col("v") + 1000.0)))
    assert(v2 == 2L)
    val (rewritten, total) = VersionedTable.lastCowRewrite.get()
    assert(rewritten == matched2021,
      s"skip-probe: rewrote $rewritten files, $matched2021 matched")
    assert(rewritten < total && rewritten > 0,
      s"expected a partial rewrite: $rewritten of $total")
    // every pre-verb file still on disk, same mtime + length: CoW never
    // mutates a committed byte, and file-granular CoW never even reads
    // the unmatched ones
    val after = inventory()
    before.foreach { case (f, sig) =>
      assert(after.get(f).contains(sig), s"$f changed under CoW") }
    // full-rewrite equivalence
    val expect = df.select(col("id"), col("yr"),
      when(col("yr") === 2021, col("v") + 1000.0).otherwise(col("v")).as("v"))
    val got = VersionedTable.readLatest(spark, t)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    assert(got.count() == 20000)
    // manifest stays O(churn): the kept references compress to an
    // EXCLUSION token (dir!touched,...) — tokens scale with the touched
    // set, never with the kept file count
    val m2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t + "/_manifests/v00000002.json")), "UTF-8")
    val dirList = """"dir":"([^"]+)"""".r.findFirstMatchIn(m2).get.group(1)
    assert(dirList.contains("!"),
      s"expected an exclusion token in: $dirList")
    assert(dirList.split(';').length <= rewritten + 2,
      s"manifest tokens must be O(touched): $dirList")

    // pruned reads still work over the mixed kept-file + fresh-dir layout
    // (the base dir's sidecar is consulted RESTRICTED to referenced files)
    val pruned = VersionedTable.readVersionPruned(spark, t, v2,
      Seq(ColumnBounds("yr", Some(2020L), Some(2020L))))
    assert(pruned.count() == 5000)
    assert(pruned.agg(sum(col("v"))).head.getDouble(0) ==
      expect.where(col("yr") === 2020).agg(sum(col("v"))).head.getDouble(0))

    // DELETE one year: same file-granular law
    val v3 = VersionedTable.deleteWhere(spark, t, col("yr") === 2023)
    val (rewritten3, total3) = VersionedTable.lastCowRewrite.get()
    assert(rewritten3 > 0 && rewritten3 < total3)
    assert(VersionedTable.readLatest(spark, t).count() == 15000)
    assert(VersionedTable.readLatest(spark, t)
      .where(col("yr") === 2023).count() == 0)

    // no-match verb: metadata-only version — zero files rewritten, rows
    // unchanged, version still advances (verb-per-version provenance)
    val v4 = VersionedTable.deleteWhere(spark, t, col("yr") === 1999)
    assert(v4 == 4L)
    assert(VersionedTable.lastCowRewrite.get()._1 == 0)
    assert(VersionedTable.readLatest(spark, t).count() == 15000)

    // deferred deletes COMPOSE: the del sidecar travels by name across a
    // file-granular verb — kept files keep their filters, the fresh dir
    // is out of scope, and the rewritten rows were read through them
    VersionedTable.deleteWhereLazy(spark, t, "id % 1000 = 0")
    val v6 = VersionedTable.updateWhere(spark, t, col("yr") === 2022,
      Map("v" -> lit(0.0)))
    val model = df
      .where(col("yr") =!= 2023)
      .where(!(col("id") % 1000 === 0))
      .select(col("id"), col("yr"),
        when(col("yr") === 2022, 0.0)
          .when(col("yr") === 2021, col("v") + 1000.0)
          .otherwise(col("v")).as("v"))
    val got6 = VersionedTable.readLatest(spark, t)
    assert(got6.exceptAll(model).isEmpty && model.exceptAll(got6).isEmpty)

    // time travel reaches every intermediate state exactly
    assert(VersionedTable.readVersion(spark, t, 1L).count() == 20000)
    assert(VersionedTable.readVersion(spark, t, v3).count() == 15000)
    // vacuum keeps the partially-referenced base dir (file tokens count)
    assert(VersionedTable.vacuum(spark, t, graceMs = 3600L * 1000L).isEmpty)
    assert(VersionedTable.readLatest(spark, t).count() == model.count())
    // history records the verbs
    assert(VersionedTable.history(spark, t).orderBy("version").collect()
      .map(_.getString(4)).toSeq ==
      Seq("commit", "update", "delete", "delete", "lazydelete", "update"))
    assert(v6 == 6L)
  }

  test("file-granular MERGE: only key-holding files rewrite; feed intact") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val t = tmp() + "/vt_fgmerge"
    // id-clustered: a small-key change batch maps to the low files only
    val df = spark.range(20000).select(col("id").as("k"),
      (col("id") % 100).as("v"))
    VersionedTable.commitClustered(spark, df, t, clusterCols = Seq("k"),
      numFiles = 8, maxRecordsPerFile = 3000L)
    def inventory(): Map[String, (Long, Long)] = {
      val data = new java.io.File(t + "/data")
      data.listFiles().filter(_.isDirectory).flatMap { d =>
        d.listFiles().filter(_.getName.endsWith(".parquet")).map(f =>
          s"${d.getName}/${f.getName}" -> (f.lastModified(), f.length()))
      }.toMap
    }
    val before = inventory()
    // upsert two low keys, delete one, insert a fresh key — all the
    // touched keys live in the low id range, so only those files rewrite
    val src = Seq((10L, 777L), (11L, -1L), (99999L, 888L)).toDF("k", "v")
    val v2 = VersionedTable.mergeInto(spark, t, src, key = "k",
      deleteWhen = col("v") < 0L)
    assert(v2 == 2L)
    val (rewrote, total) = VersionedTable.lastCowRewrite.get()
    assert(rewrote > 0 && rewrote < total,
      s"merge must rewrite a strict subset: $rewrote of $total")
    val after = inventory()
    before.foreach { case (f, sig) =>
      assert(after.get(f).contains(sig), s"$f changed under merge") }
    // result == the relational model
    val model = df.where(col("k") =!= 11L)
      .withColumn("v", when(col("k") === 10L, 777L).otherwise(col("v")))
      .unionByName(Seq((99999L, 888L)).toDF("k", "v"))
    val got = VersionedTable.readLatest(spark, t)
    assert(got.exceptAll(model).isEmpty && model.exceptAll(got).isEmpty)
    // the change feed landed in the fresh dir exactly as supplied
    val feed = VersionedTable.readChanges(spark, t, v2)
    assert(feed.count() == 3 &&
      feed.columns.toSet == Set("k", "v", "__op", "__ver"))
    // a widening merge falls back to the whole-snapshot path (schema
    // migration must materialize) and still works
    val wide = Seq((10L, 1L, "x")).toDF("k", "v", "note")
    VersionedTable.mergeInto(spark, t, wide, key = "k")
    val latest = VersionedTable.readLatest(spark, t)
    assert(latest.columns.toSeq == Seq("k", "v", "note"))
    assert(latest.where(col("k") === 10L).head().getString(2) == "x")
    assert(latest.where(col("k") =!= 10L)
      .where(col("note").isNotNull).count() == 0)
  }

  test("CoW rebase law: disjoint file-granular verbs == serial replay; guards hold") {
    import graft.sources.VersionedTable
    val t = tmp() + "/vt_cowrebase"
    val df = spark.range(8000).select(col("id"), (col("id") % 4).as("grp"),
      (col("id") % 100).cast("double").as("v"))
    VersionedTable.commitClustered(spark, df, t, clusterCols = Seq("grp"),
      numFiles = 4)
    val rebases0 = VersionedTable.cowRebases.get()

    // disjoint regions: A updates grp 0 (v2); B pins the STALE base v1
    // and deletes grp 3 — the slot conflict must resolve INTERNALLY (A's
    // files are disjoint from B's touched set, A added no grp-3 rows)
    VersionedTable.updateWhere(spark, t, col("grp") === 0,
      Map("v" -> lit(-1.0)))
    val vB = VersionedTable.deleteWhereFrom(spark, t, 1L,
      col("grp") === 3, 5000000L)
    assert(vB == 3L)
    assert(VersionedTable.cowRebases.get() == rebases0 + 1,
      "the disjoint delete must rebase, not retry")
    val model = df.select(col("id"), col("grp"),
        when(col("grp") === 0, -1.0).otherwise(col("v")).as("v"))
      .where(col("grp") =!= 3)
    val got = VersionedTable.readLatest(spark, t)
    assert(got.exceptAll(model).isEmpty && model.exceptAll(got).isEmpty,
      "rebased result must equal the serial replay")

    // guard 1: OVERLAPPING regions conflict honestly — A rewrites grp 1's
    // files (v4); B pinned at v3 touches the same files
    VersionedTable.updateWhere(spark, t, col("grp") === 1,
      Map("v" -> lit(-2.0)))
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.deleteWhereFrom(spark, t, 3L, col("grp") === 1,
        5000000L)
    }

    // disjoint APPEND rebase: appender lands grp-7 rows at v5; B pinned
    // at v4 deletes grp 1 — the appended file holds no grp-1 row, so the
    // delete rebases over it and the appended rows survive
    val extra = spark.range(8000, 8100).select(col("id"),
      lit(7L).as("grp"), lit(50.0).as("v"))
    VersionedTable.append(spark, t, extra)
    val vD = VersionedTable.deleteWhereFrom(spark, t, 4L,
      col("grp") === 1, 5000000L)
    assert(vD == 6L)
    assert(VersionedTable.readLatest(spark, t)
      .where(col("grp") === 1).count() == 0)
    assert(VersionedTable.readLatest(spark, t)
      .where(col("grp") === 7).count() == 100)

    // guard 2: an appended file that DOES hold matching rows conflicts —
    // a serial replay would have deleted those rows too
    VersionedTable.append(spark, t, spark.range(9000, 9050).select(
      col("id"), lit(9L).as("grp"), lit(1.0).as("v")))
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.deleteWhereFrom(spark, t, 6L, col("grp") === 9,
        5000000L)
    }
    // the honest re-derive from latest then succeeds
    VersionedTable.deleteWhere(spark, t, col("grp") === 9)
    assert(VersionedTable.readLatest(spark, t)
      .where(col("grp") === 9).count() == 0)

    // guard 3: a deferred delete landing between pin and publish blocks
    // the rebase (the loser's probe never saw the new keep filter)
    val base = VersionedTable.latestVersion(spark, t).get
    VersionedTable.deleteWhereLazy(spark, t, "id % 500 = 0")
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.deleteWhereFrom(spark, t, base, col("grp") === 2,
        5000000L)
    }
  }
}
