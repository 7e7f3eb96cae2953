package graft

import graft.sources.Catalog
import org.scalatest.funsuite.AnyFunSuite

/** Hive-metastore-backed registration parity with the temp-view path
  * (VERDICT r1 item 10). Runs in its own forked JVM (see build.sbt
  * testGrouping): catalogImplementation is a static conf.
  */
class CatalogSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("hive catalog tables answer queries identically to temp views") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-hive").toString
    val spark = Catalog.hiveSession(tmp)
    try {
      spark.sparkContext.setLogLevel("WARN")
      assert(spark.conf.get("spark.sql.catalogImplementation") == "hive")
      Catalog.registerHiveTables(spark, sfDir)
      Catalog.registerViews(spark, sfDir)
      val viaHive = spark.sql(
        """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q
          |FROM graft.lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin).collect()
      val viaView = spark.sql(
        """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q
          |FROM lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin).collect()
      assert(viaHive.toSeq == viaView.toSeq)
      assert(viaHive.nonEmpty)
      // events parity: the metastore path must expose the SAME ts type and
      // values as the view path (raw registration would leak BIGINT nanos)
      val evHive = spark.table("graft.events")
      val evView = spark.table("events")
      assert(evHive.schema == evView.schema,
        s"hive ${evHive.schema.treeString} vs view ${evView.schema.treeString}")
      val h = evHive.orderBy("event_id").collect()
      val v = evView.orderBy("event_id").collect()
      assert(h.nonEmpty && h.toSeq == v.toSeq)
      // metastore survives: table is listed in the catalog, and external —
      // dropping must not delete the fixture parquet
      assert(spark.catalog.tableExists("graft.lineitem"))
      // ANALYZE feeds CBO: row count + column NDV/min/max land in the
      // metastore, which is what join reordering and broadcast decisions
      // read at planning time on a real warehouse (temp views never carry
      // these). Run before the DROP below retires the table.
      spark.sql("ANALYZE TABLE graft.lineitem COMPUTE STATISTICS " +
        "FOR COLUMNS l_orderkey, l_quantity")
      val tblStats = spark.sql("DESCRIBE TABLE EXTENDED graft.lineitem")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val rowCount = Tables(spark, sfDir, "lineitem").count()
      assert(tblStats("Statistics").contains(s"$rowCount rows"),
        s"CBO table stats missing: ${tblStats.get("Statistics")}")
      val colStats = spark.sql(
        "DESCRIBE TABLE EXTENDED graft.lineitem l_orderkey")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(colStats.get("distinct_count").exists(_.toLong > 0),
        s"column NDV missing: $colStats")
      spark.sql("DROP TABLE graft.lineitem")
      assert(new java.io.File(s"$sfDir/lineitem.parquet").exists())
    } finally spark.stop()
  }

  /** The production session shape ([[SparkEntry.session]]) with its own
    * fresh temp warehouse, so managed tables never collide with a
    * previous run's leftovers in the default ./spark-warehouse.
    */
  private def graftSession(app: String) =
    SparkEntry.session("4").appName(app)
      .config("spark.sql.warehouse.dir", java.nio.file.Files
        .createTempDirectory(s"$app-wh").toString)
      .getOrCreate()

  // ---- textual lakehouse SQL (GraftSql over VersionedTable) ----------

  private def plainSession() = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]").appName("graft-sql")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("textual MERGE INTO executes end-to-end against a versioned table") {
    val spark = plainSession()
    try {
      spark.sparkContext.setLogLevel("WARN")
      import graft.sources.{GraftSql, VersionedTable}
      import spark.implicits._
      val tbl = java.nio.file.Files.createTempDirectory("graft-sql").toString + "/t"
      VersionedTable.commit(spark,
        Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
          .toDF("k", "name", "v"), tbl)
      Seq((2L, "b2", 21.0), (3L, "c", -1.0), (4L, "d", 40.0))
        .toDF("k", "name", "v").createOrReplaceTempView("updates")
      val out = GraftSql.sql(spark,
        s"""MERGE INTO '$tbl' USING updates AS s ON t.k = s.k
           |WHEN MATCHED AND s.v <= 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(out.collect().map(_.getLong(0)).toSeq == Seq(2L),
        "MERGE returns the committed version")
      val latest = VersionedTable.readLatest(spark, tbl)
        .orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      assert(latest.toSeq == Seq((1L, "a", 10.0), (2L, "b2", 21.0),
        (4L, "d", 40.0)),
        "upsert replaced k=2, delete dropped k=3, insert added k=4")

      // pure delete-merge with a subquery source (no upsert clauses)
      GraftSql.sql(spark,
        s"""MERGE INTO '$tbl'
           |USING (SELECT * FROM updates WHERE v > 30) AS s ON k
           |WHEN MATCHED THEN DELETE""".stripMargin)
      assert(VersionedTable.readLatest(spark, tbl)
        .orderBy("k").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))

      // time travel reads every committed state; two versions join in one
      // statement; a plain statement passes through untouched
      val v1 = GraftSql.sql(spark,
        s"SELECT k, v FROM '$tbl' VERSION AS OF 1 ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(v1.toSeq == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
      val both = GraftSql.sql(spark,
        s"""SELECT a.k FROM '$tbl' VERSION AS OF 1 a
           |JOIN '$tbl' VERSION AS OF 3 b ON a.k = b.k
           |ORDER BY a.k""".stripMargin)
        .collect().map(_.getLong(0))
      assert(both.toSeq == Seq(1L, 2L))
      assert(GraftSql.sql(spark, "SELECT 1 AS one").collect()
        .head.getInt(0) == 1)

      // maintenance statements compile to their verbs
      assert(GraftSql.sql(spark, s"DESCRIBE HISTORY '$tbl'").collect()
        .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      assert(GraftSql.sql(spark, s"COMPACT MANIFESTS '$tbl' KEEP 1")
        .collect().head.getInt(0) == 2, "versions 1-2 fold into the checkpoint")
      assert(GraftSql.sql(spark, s"SELECT k FROM '$tbl' VERSION AS OF 1")
        .count() == 3, "retired versions still time-travel via the checkpoint")
      assert(GraftSql.sql(spark, s"VACUUM '$tbl' RETAIN 1 HOURS").isEmpty,
        "everything inside the grace window survives")

      // the skipping-policy statement persists config the next commit obeys
      assert(GraftSql.sql(spark,
          s"SET SKIPPING ON '$tbl' STATS (k) BLOOM (k) BITS 12")
        .collect().head.getString(0) == "ok")
      GraftSql.sql(spark,
        s"""MERGE INTO '$tbl' USING (SELECT CAST(9 AS BIGINT) AS k,
           |'z' AS name, CAST(90.0 AS DOUBLE) AS v) AS s ON k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      import graft.sources.VersionedTable.ColumnBounds
      val latestV = VersionedTable.latestVersion(spark, tbl).get
      assert(VersionedTable.pruneSelection(spark, tbl, latestV,
        VersionedTable.readVersion(spark, tbl, latestV).schema,
        Seq(ColumnBounds("k", Some(9L), Some(9L)))).isDefined,
        "statement-set policy did not reach the merge commit's sidecar")

      // LATEST references read the newest version; a string literal that
      // looks like a path is untouched (no LATEST marker)
      assert(GraftSql.sql(spark,
          s"SELECT count(*) AS n FROM '$tbl' LATEST WHERE k = 9")
        .head().getLong(0) == 1L)
      assert(GraftSql.sql(spark,
          s"SELECT '$tbl' AS p").head().getString(0) == tbl,
        "a path-shaped string literal must not be rewritten")

      // DESCRIBE SKIPPING reports per-version coverage + the policy.
      // The file-granular merge's fresh dir carries the policy sidecar
      // (the pruneSelection probe above proved pruning works), but the
      // KEPT files of pre-policy commits are honestly unindexed — the
      // per-version intersection is false until a backfill indexes them
      val desc = GraftSql.sql(spark, s"DESCRIBE SKIPPING '$tbl'").collect()
      assert(desc.length == latestV.toInt, "one row per version")
      assert(desc.last.getString(4) == "k",
        s"policy column missing: ${desc.last}")
      VersionedTable.ensureStats(spark, tbl, latestV, Seq("k"),
        bloomCols = Seq("k"), bloomBitsPerRow = 12)
      val desc2 = GraftSql.sql(spark, s"DESCRIBE SKIPPING '$tbl'").collect()
      val last = desc2.last
      assert(last.getBoolean(1) && last.getString(2).contains("k") &&
        last.getString(3).contains("k") && last.getString(4) == "k",
        s"unexpected coverage row after backfill: $last")

      // textual DML: UPDATE with a function call containing a comma in
      // SET (top-level split must not break on it), then DELETE
      val uv = GraftSql.sql(spark,
        s"UPDATE '$tbl' SET v = greatest(v, 15.0), name = upper(name) " +
          "WHERE k = 1").head().getLong(0)
      val afterU = VersionedTable.readLatest(spark, tbl)
        .where("k = 1").head()
      assert(afterU.getString(1) == "A" && afterU.getDouble(2) == 15.0,
        s"UPDATE applied wrong values: $afterU")
      val dv = GraftSql.sql(spark,
        s"DELETE FROM '$tbl' WHERE k = 9").head().getLong(0)
      assert(dv == uv + 1)
      assert(VersionedTable.readLatest(spark, tbl)
        .where("k = 9").isEmpty)

      // statement-added CHECK constraint gates the next textual MERGE
      GraftSql.sql(spark, s"ADD CONSTRAINT '$tbl' v_nonneg CHECK (v >= 0)")
      assert(GraftSql.sql(spark, s"DESCRIBE CONSTRAINTS '$tbl'")
        .collect().map(_.getString(0)).toSeq == Seq("v_nonneg"))
      intercept[VersionedTable.ConstraintViolationException] {
        GraftSql.sql(spark,
          s"""MERGE INTO '$tbl' USING (SELECT CAST(7 AS BIGINT) AS k,
             |'neg' AS name, CAST(-1.0 AS DOUBLE) AS v) AS s ON k
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
    } finally spark.stop()
  }

  test("textual MERGE INTO rejects the spellings the verb cannot honor") {
    val spark = plainSession()
    try {
      spark.sparkContext.setLogLevel("WARN")
      import graft.sources.{GraftSql, VersionedTable}
      import spark.implicits._
      val tbl = java.nio.file.Files.createTempDirectory("graft-sql").toString + "/t"
      VersionedTable.commit(spark,
        Seq((1L, 1.0)).toDF("k", "v"), tbl)
      Seq((1L, 2.0)).toDF("k", "v").createOrReplaceTempView("u2")
      def rejects(stmt: String, needle: String): Unit = {
        val e = intercept[IllegalArgumentException](GraftSql.sql(spark, stmt))
        assert(e.getMessage.contains(needle), e.getMessage)
      }
      // unconditional DELETE alongside upsert clauses: the predicate sees
      // the source row, so every row would delete — must fail, not guess
      rejects(
        s"""MERGE INTO '$tbl' USING u2 ON k
           |WHEN MATCHED THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin, "unconditional")
      // UPDATE without INSERT: the verb's upsert is all-or-nothing
      rejects(
        s"""MERGE INTO '$tbl' USING u2 ON k
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin, "BOTH")
      // ON must be one equi-key with the same name on both sides
      rejects(
        s"""MERGE INTO '$tbl' USING u2 ON t.k = s.kk
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin, "SAME column")
      // column-level SET stands alone (a partial row has nothing to
      // INSERT) — combining fails loudly
      rejects(
        s"""MERGE INTO '$tbl' USING u2 ON k
           |WHEN MATCHED THEN UPDATE SET v = v + 1
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin, "stands alone")
      // garbage after THEN is unparseable, loudly
      rejects(
        s"""MERGE INTO '$tbl' USING u2 ON k
           |WHEN MATCHED THEN UPSERT EVERYTHING""".stripMargin,
        "unparseable")
      // nothing committed by any rejected statement
      assert(VersionedTable.latestVersion(spark, tbl).contains(1L))

      // the standalone assignments form WORKS: matched rows re-evaluate
      // only the named column, expressions see t (old row) and s (source);
      // a comma inside a string literal is ONE assignment (the splitter
      // is quote-aware)
      GraftSql.sql(spark,
        s"""MERGE INTO '$tbl' USING u2 ON k
           |WHEN MATCHED THEN UPDATE SET
           |  v = t.v + s.v + length('x,y') - 3""".stripMargin)
      assert(VersionedTable.readLatest(spark, tbl)
        .head().getDouble(1) == 3.0)
      // WHEN MATCHED AND cond gates which matched rows update
      GraftSql.sql(spark,
        s"""MERGE INTO '$tbl' USING u2 ON k
           |WHEN MATCHED AND s.v > 100 THEN UPDATE SET v = 0""".stripMargin)
      assert(VersionedTable.readLatest(spark, tbl)
        .head().getDouble(1) == 3.0,
        "a failing AND-condition must leave the row verbatim")
      GraftSql.sql(spark,
        s"""MERGE INTO '$tbl' USING u2 ON k
           |WHEN MATCHED AND s.v > 1 THEN UPDATE SET v = t.v * 2""".stripMargin)
      assert(VersionedTable.readLatest(spark, tbl)
        .head().getDouble(1) == 6.0)
    } finally spark.stop()
  }

  test("SQL-only lifecycle: CREATE VERSIONED TABLE, INSERT INTO, DML, audit") {
    val spark = plainSession()
    try {
      spark.sparkContext.setLogLevel("WARN")
      import graft.sources.{GraftSql, VersionedTable}
      val tbl =
        java.nio.file.Files.createTempDirectory("graft-sql-life").toString + "/t"
      spark.range(5)
        .selectExpr("id AS k", "CAST(id * 10 AS DOUBLE) AS v")
        .createOrReplaceTempView("seed")
      // bootstrap from a SELECT
      assert(GraftSql.sql(spark,
        s"CREATE VERSIONED TABLE '$tbl' AS SELECT k, v FROM seed WHERE k < 3")
        .head().getLong(0) == 1L)
      // create over an existing table fails loudly, commits nothing
      intercept[IllegalArgumentException](GraftSql.sql(spark,
        s"CREATE VERSIONED TABLE '$tbl' AS SELECT * FROM seed"))
      assert(VersionedTable.latestVersion(spark, tbl).contains(1L))
      // append by SELECT binds by NAME (column order free)
      assert(GraftSql.sql(spark,
        s"INSERT INTO '$tbl' SELECT v, k FROM seed WHERE k >= 3")
        .head().getLong(0) == 2L)
      // append by VALUES binds by POSITION, casting to the table's types
      assert(GraftSql.sql(spark,
        s"INSERT INTO '$tbl' VALUES (100, 1.5), (101, 2.5)")
        .head().getLong(0) == 3L)
      val latest = GraftSql.sql(spark,
        s"SELECT k, v FROM '$tbl' LATEST ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(latest.toSeq == Seq((0L, 0.0), (1L, 10.0), (2L, 20.0),
        (3L, 30.0), (4L, 40.0), (100L, 1.5), (101L, 2.5)))
      // a VALUES arity mismatch fails typed, commits nothing
      interceptMsg(spark, s"INSERT INTO '$tbl' VALUES (1, 2.0, 'x')",
        "arity")
      // every version stays time-travel-readable
      assert(GraftSql.sql(spark,
        s"SELECT count(*) AS n FROM '$tbl' VERSION AS OF 1")
        .head().getLong(0) == 3L)
      // DML statements mutate; DESCRIBE HISTORY audits each verb
      GraftSql.sql(spark, s"UPDATE '$tbl' SET v = v + 1 WHERE k >= 100")
      GraftSql.sql(spark, s"DELETE FROM '$tbl' WHERE k = 101")
      val hist = GraftSql.sql(spark, s"DESCRIBE HISTORY '$tbl'")
        .orderBy("version").collect()
      assert(hist.map(_.getString(4)).toSeq ==
        Seq("commit", "insert", "insert", "update", "delete"))
      // the insert versions reference the base dirs plus ONE new dir —
      // the O(new-data) contract, visible in the audit trail
      val dirs = hist.map(_.getString(1))
      assert(dirs(0).split(";").length == 1 &&
        dirs(1).split(";").length == 2 && dirs(2).split(";").length == 3,
        s"append dir chains wrong: ${dirs.toSeq}")
      assert(dirs(1).startsWith(dirs(0)), "insert must reuse the base dir")
      val fin = GraftSql.sql(spark,
        s"SELECT k, v FROM '$tbl' LATEST ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(fin.toSeq == Seq((0L, 0.0), (1L, 10.0), (2L, 20.0),
        (3L, 30.0), (4L, 40.0), (100L, 2.5)))
      // CLUSTER BY at CREATE: the first snapshot is range-clustered and
      // carries its zone-map sidecar — SQL-born tables prune from birth
      val tbl2 = tbl + "2"
      GraftSql.sql(spark,
        s"CREATE VERSIONED TABLE '$tbl2' CLUSTER BY (k) AS SELECT * FROM seed")
      val skip = GraftSql.sql(spark, s"DESCRIBE SKIPPING '$tbl2'").head()
      assert(skip.getBoolean(1) && skip.getString(2) == "k",
        s"clustered create must write the k sidecar: $skip")
      // ENABLE CHANGE FEED backfills the table's two INSERT versions
      // (appends are enumerable since r13), then a textual MERGE mirrors
      // its batch — statement-only CDF opt-in
      assert(GraftSql.sql(spark, s"ENABLE CHANGE FEED '$tbl'").count() == 2L)
      spark.sql("SELECT 100 AS k, CAST(9.9 AS DOUBLE) AS v")
        .createOrReplaceTempView("cdf_src")
      GraftSql.sql(spark, s"MERGE INTO '$tbl' USING cdf_src ON k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      assert(new java.io.File(s"$tbl/_cdf").listFiles
        .count(_.getName.startsWith("v")) == 3,
        "textual MERGE must mirror its batch into the enabled feed")
      // INSERT OVERWRITE replaces exactly the predicate's region
      GraftSql.sql(spark, s"INSERT OVERWRITE '$tbl' WHERE k >= 100 " +
        "VALUES (100, 1.0)")
      assert(GraftSql.sql(spark,
        s"SELECT k, v FROM '$tbl' LATEST WHERE k >= 100").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((100L, 1.0)))
      // CLONE forks; the fork answers queries and mutates independently
      val fork = tbl + "_fork"
      GraftSql.sql(spark, s"CLONE '$tbl' TO '$fork'")
      GraftSql.sql(spark, s"DELETE FROM '$fork' WHERE k = 100")
      assert(GraftSql.sql(spark,
          s"SELECT count(*) AS n FROM '$fork' LATEST").head().getLong(0) + 1 ==
        GraftSql.sql(spark,
          s"SELECT count(*) AS n FROM '$tbl' LATEST").head().getLong(0))
    } finally spark.stop()
  }

  test("maintenance statements: ENSURE STATS, MIRROR CHANGE FEED, READ CHANGES") {
    val spark = plainSession()
    try {
      spark.sparkContext.setLogLevel("WARN")
      import graft.sources.{GraftSql, VersionedTable}
      val tbl = java.nio.file.Files
        .createTempDirectory("graft-sql-maint").toString + "/t"
      spark.range(10).selectExpr("id AS k", "id * 2 AS v")
        .createOrReplaceTempView("mseed")
      GraftSql.sql(spark,
        s"CREATE VERSIONED TABLE '$tbl' AS SELECT k, v FROM mseed")
      // ENSURE STATS backfills the sidecar retroactively (true = rewrote);
      // a repeat covering the same columns is a no-op (false)
      assert(GraftSql.sql(spark,
        s"ENSURE STATS ON '$tbl' STATS (k) BLOOM (v) BITS 12")
        .head().getBoolean(0))
      assert(!GraftSql.sql(spark, s"ENSURE STATS ON '$tbl' STATS (k)")
        .head().getBoolean(0))
      // feed lifecycle through statements alone: enable, merge, mirror,
      // read one version's change batch
      GraftSql.sql(spark, s"ENABLE CHANGE FEED '$tbl'")
      spark.createDataFrame(Seq((3L, 99L), (100L, 1L))).toDF("k", "v")
        .createOrReplaceTempView("mdelta")
      GraftSql.sql(spark,
        s"""MERGE INTO '$tbl' USING mdelta ON k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val v2 = VersionedTable.latestVersion(spark, tbl).get
      // the merge auto-mirrored; the explicit pass finds nothing new
      assert(GraftSql.sql(spark, s"MIRROR CHANGE FEED '$tbl'").isEmpty)
      val changes = GraftSql.sql(spark,
        s"READ CHANGES '$tbl' VERSION $v2").collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"),
          r.getAs[String]("__op"))).toSet
      assert(changes == Set((3L, 99L, "u"), (100L, 1L, "u")), changes)
    } finally spark.stop()
  }

  test("name-addressed lifecycle: every verb through db.t, zero paths") {
    val spark = plainSession()
    try {
      spark.sparkContext.setLogLevel("WARN")
      import graft.sources.{GraftCatalog, GraftSql, VersionedTable}
      val loc = java.nio.file.Files
        .createTempDirectory("graft-named").toString + "/t"
      spark.range(5).selectExpr("id AS k", "id * 10 AS v")
        .createOrReplaceTempView("nseed")
      // bootstrap: explicit LOCATION so the path-parity asserts can see it
      GraftSql.sql(spark,
        s"""CREATE VERSIONED TABLE graft_nb.t LOCATION '$loc'
           |AS SELECT k, v FROM nseed""".stripMargin)
      assert(GraftCatalog.resolve(spark, "graft_nb.t").contains(loc))
      // every statement below names the table — no path anywhere
      GraftSql.sql(spark,
        "INSERT INTO graft_nb.t VALUES (100, 1), (101, 2)")
      spark.createDataFrame(Seq((3L, 999L), (200L, 5L))).toDF("k", "v")
        .createOrReplaceTempView("ndelta")
      GraftSql.sql(spark,
        """MERGE INTO graft_nb.t USING ndelta ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      GraftSql.sql(spark, "DELETE FROM graft_nb.t WHERE k = 101")
      GraftSql.sql(spark, "UPDATE graft_nb.t SET v = v + 1 WHERE k = 0")
      // reads: latest needs NO marker in name position; time travel and
      // history ride the same name; parity with the path-addressed read
      val byName = GraftSql.sql(spark,
        "SELECT k, v FROM graft_nb.t ORDER BY k").collect().toSeq
      val byPath = GraftSql.sql(spark,
        s"SELECT k, v FROM '$loc' LATEST ORDER BY k").collect().toSeq
      assert(byName == byPath && byName.nonEmpty)
      assert(byName.map(r => (r.getLong(0), r.getLong(1))) ==
        Seq((0L, 1L), (1L, 10L), (2L, 20L), (3L, 999L), (4L, 40L),
          (100L, 1L), (200L, 5L)))
      assert(GraftSql.sql(spark,
        "SELECT count(*) AS n FROM graft_nb.t VERSION AS OF 1")
        .head().getLong(0) == 5L)
      assert(GraftSql.sql(spark, "DESCRIBE HISTORY graft_nb.t")
        .count() == 5L) // create + insert + merge + delete + update
      // a JOIN of two name refs, and a name ref in a subquery source
      assert(GraftSql.sql(spark,
        """SELECT count(*) AS n FROM graft_nb.t a
          |JOIN graft_nb.t VERSION AS OF 1 b ON a.k = b.k""".stripMargin)
        .head().getLong(0) == 5L)
      // maintenance verbs resolve names too — incl. REFRESH ROLLUP,
      // whose FROM takes a table OPERAND (not a read reference): the
      // bootstrap refresh creates the rollup at a path, adoption binds
      // it, and the name-addressed refresh drives the same verb
      val rollLoc = java.nio.file.Files
        .createTempDirectory("graft-named-roll").toString + "/r"
      GraftSql.sql(spark,
        s"REFRESH ROLLUP '$rollLoc' FROM graft_nb.t KEY k SUM (v)")
      GraftSql.sql(spark,
        s"CREATE VERSIONED TABLE graft_nb.roll LOCATION '$rollLoc'")
      GraftSql.sql(spark,
        "REFRESH ROLLUP graft_nb.roll FROM graft_nb.t KEY k SUM (v)")
      assert(GraftSql.sql(spark,
        "SELECT count(*) AS n FROM graft_nb.roll").head().getLong(0) == 7L)
      GraftSql.sql(spark, "DROP VERSIONED TABLE graft_nb.roll")
      GraftSql.sql(spark, "COMPACT MANIFESTS graft_nb.t KEEP 2")
      assert(GraftSql.sql(spark, "SHOW VERSIONED TABLES IN graft_nb")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("graft_nb.t", loc)))
      // direct catalog read = empty stub with the creation-time schema,
      // never stale data (the versioned reader is the only real path)
      assert(spark.table("graft_nb.t").isEmpty)
      assert(spark.table("graft_nb.t").columns.toSeq == Seq("k", "v"))
      // unregistered qualified tokens pass through: s.flag in a MERGE
      // condition, foreign db.table in plain SQL
      spark.createDataFrame(Seq((3L, 0L))).toDF("k", "v")
        .createOrReplaceTempView("ndel")
      GraftSql.sql(spark,
        """MERGE INTO graft_nb.t USING ndel AS s ON k
          |WHEN MATCHED AND s.v = 0 THEN DELETE""".stripMargin)
      assert(GraftSql.sql(spark,
        "SELECT count(*) AS n FROM graft_nb.t WHERE k = 3")
        .head().getLong(0) == 0L)
      // DROP is metadata-only: data survives, adoption re-binds
      GraftSql.sql(spark, "DROP VERSIONED TABLE graft_nb.t")
      assert(GraftCatalog.resolve(spark, "graft_nb.t").isEmpty)
      assert(VersionedTable.latestVersion(spark, loc).isDefined)
      GraftSql.sql(spark,
        s"CREATE VERSIONED TABLE graft_nb.t2 LOCATION '$loc'")
      assert(GraftSql.sql(spark, "SELECT count(*) AS n FROM graft_nb.t2")
        .head().getLong(0) == 6L)
      // guards: double-create, adopt-nothing, purge erases
      interceptMsg(spark,
        s"CREATE VERSIONED TABLE graft_nb.t2 LOCATION '$loc'",
        "already exists")
      interceptMsg(spark,
        s"CREATE VERSIONED TABLE graft_nb.t3 LOCATION '${loc}_nope'",
        "no versioned table")
      GraftSql.sql(spark, "DROP VERSIONED TABLE graft_nb.t2 PURGE")
      assert(VersionedTable.latestVersion(spark, loc).isEmpty,
        "PURGE must erase the manifest root")
    } finally spark.stop()
  }

  test("name binding persists in a HIVE metastore (multi-session shape)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-hive-nb").toString
    val spark = Catalog.hiveSession(tmp)
    try {
      spark.sparkContext.setLogLevel("WARN")
      import graft.sources.{GraftCatalog, GraftSql}
      assert(spark.conf.get("spark.sql.catalogImplementation") == "hive")
      spark.range(4).selectExpr("id AS k", "id AS v")
        .createOrReplaceTempView("hseed")
      // default LOCATION: under the warehouse dir, Hive layout
      GraftSql.sql(spark,
        "CREATE VERSIONED TABLE graft_hnb.t AS SELECT k, v FROM hseed")
      val loc = GraftCatalog.resolve(spark, "graft_hnb.t").get
      assert(loc.contains("graft_hnb.db"),
        s"default location should follow the warehouse layout: $loc")
      GraftSql.sql(spark, "INSERT INTO graft_hnb.t VALUES (9, 9)")
      assert(GraftSql.sql(spark,
        "SELECT count(*) AS n FROM graft_hnb.t").head().getLong(0) == 5L)
      // the binding is a real metastore entry (Derby-persisted), not
      // session state: the properties survive a catalog cache drop
      spark.catalog.clearCache()
      assert(GraftCatalog.resolve(spark, "graft_hnb.t").contains(loc))
    } finally spark.stop()
  }

  private def interceptMsg(spark: org.apache.spark.sql.SparkSession,
      stmt: String, needle: String): Unit = {
    val e = intercept[IllegalArgumentException](
      graft.sources.GraftSql.sql(spark, stmt))
    assert(e.getMessage.toLowerCase.contains(needle),
      s"expected '$needle' in: ${e.getMessage}")
  }

  test("two JVMs: metastore binding crosses processes; appends brawl cross-process") {
    import graft.sources.{GraftCatalog, GraftSql, VersionedTable}
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files.createTempDirectory("graft-2proc").toString
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    def spawn(main: String, args: String*): Process =
      new ProcessBuilder((Seq(javaBin, "-Xmx2g", "-cp", cp, main) ++
        args): _*).redirectErrorStream(true).start()
    def drain(p: Process): (Int, String) = {
      val out = scala.io.Source.fromInputStream(p.getInputStream)
        .mkString // read fully BEFORE waitFor — a full pipe deadlocks
      (p.waitFor(), out)
    }
    // process 1 creates the named table in the SHARED Derby metastore and
    // exits (embedded Derby admits one JVM at a time — the serialized
    // shape; a metastore SERVICE would allow true concurrency, but the
    // binding semantics under test are identical)
    val (c1, out1) = drain(spawn("graft.ChildCatalogWriter", wh, "gbrawl.t"))
    assert(c1 == 0, s"child writer failed:\n${out1.takeRight(3000)}")
    val loc = out1.linesIterator.find(_.startsWith("CHILD_LOCATION="))
      .get.stripPrefix("CHILD_LOCATION=")
    // process 2 (this JVM): the binding resolves from the metastore alone
    val spark = graft.sources.Catalog.hiveSession(wh)
    try {
      spark.sparkContext.setLogLevel("WARN")
      assert(GraftCatalog.resolve(spark, "gbrawl.t").contains(loc),
        "name→location binding did not survive the process boundary")
      GraftSql.sql(spark, "INSERT INTO gbrawl.t VALUES (200, 2000)")
      assert(GraftSql.sql(spark,
        "SELECT count(*) AS n FROM gbrawl.t").head().getLong(0) == 7L,
        "both processes' batches must be present")
      // gap-free chain across the boundary: create, child insert, ours
      assert(VersionedTable.versions(spark, loc) == Seq(1L, 2L, 3L))

      // CONCURRENT cross-process appends to the table path: a third JVM
      // (no Derby — runs truly in parallel) drips 10 appends while this
      // one drips 10; the put-if-absent publish is hard-link-atomic
      // ACROSS processes, and the blind-append rebase absorbs every
      // collision with no retry wrapper on either side
      val base = VersionedTable.latestVersion(spark, loc).get
      val child = spawn("graft.ChildAppender", loc, "11", "10")
      import spark.implicits._
      (0 until 10).foreach { i =>
        VersionedTable.append(spark, loc,
          Seq((12L, i.toLong)).toDF("k", "v"))
      }
      val (c2, out2) = drain(child)
      assert(c2 == 0 && out2.contains("CHILD_APPENDS_OK"),
        s"child appender failed:\n${out2.takeRight(3000)}")
      val vs = VersionedTable.versions(spark, loc)
      assert(vs == (1L to (base + 20L)),
        s"chain must be gap-free across two processes: $vs")
      val rows = VersionedTable.readLatest(spark, loc)
        .where(col("k").isin(11L, 12L)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == (0 until 10).flatMap(i =>
        Seq((11L, i.toLong), (12L, i.toLong))).toSet,
        s"every cross-process append exactly once: $rows")
      // catalog properties stayed stable through the brawl
      assert(GraftCatalog.resolve(spark, "gbrawl.t").contains(loc))
    } finally spark.stop()
  }

  test("vanilla Spark SQL reads AND writes a named versioned table (DSv2)") {
    import org.apache.spark.sql.functions._
    // production session shape: extensions + catalog together — the
    // ColumnarCatalogRead splice makes every vanilla read columnar
    val spark = graftSession("graft-dsv2")
    try {
      spark.sparkContext.setLogLevel("WARN")
      import graft.sources.{GraftCatalog, VersionedTable}
      import graft.sources.VersionedTable.ColumnBounds
      val root = java.nio.file.Files
        .createTempDirectory("graft-dsv2").toString + "/t"
      VersionedTable.commitClustered(spark,
        spark.range(10000).select(col("id"), (col("id") % 10).as("b"),
          (col("id") % 100).cast("double").as("v")),
        root, clusterCols = Seq("id"), numFiles = 8)
      GraftCatalog.create(spark, "dsv2.t", root)

      // spark.table and plain spark.sql — NO GraftSql pre-pass anywhere
      assert(spark.table("dsv2.t").count() == 10000)
      assert(spark.sql("SELECT count(*) AS n FROM dsv2.t")
        .head().getLong(0) == 10000L)
      assert(spark.table("dsv2.t").schema.fieldNames.toSeq ==
        Seq("id", "b", "v"))

      // filtered + projected read: values exact, plan carries the pushed
      // filter (the file-pruning translation's visible fingerprint)
      val q = spark.sql(
        "SELECT id, v FROM dsv2.t WHERE id >= 2000 AND id < 3000")
      assert(q.count() == 1000)
      assert(q.agg(sum(col("id"))).head().getLong(0) ==
        (2000L until 3000L).sum)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") &&
        plan.contains("GreaterThanOrEqual(id,2000)"),
        s"pushed filter missing from plan:\n$plan")
      // COLUMNAR plan pin (r17): the ColumnarCatalogRead splice must
      // put a vectorized parquet scan in the plan — no RDD[Row] bridge
      // (RowDataSourceScan) anywhere — and the manifest-level file
      // pruning must be visible as a scan over FEWER than the table's 8
      // files (the splice consumed the translated bounds)
      assert(plan.contains("FileScan parquet") &&
        plan.contains("Batched: true"),
        s"catalog read must be a vectorized parquet scan:\n$plan")
      assert(!plan.contains("GraftV1Scan"),
        s"the V1 row bridge must not run when extensions are on:\n$plan")
      val scannedFiles = "InMemoryFileIndex\\((\\d+) paths\\)".r
        .findFirstMatchIn(plan).map(_.group(1).toInt)
      assert(scannedFiles.exists(_ < 8),
        s"file pruning must reach the spliced scan (got $scannedFiles):\n$plan")
      // the same bounds prune files at the manifest level (the vanilla
      // scan routes through readLatestPruned — pruneSelection parity)
      val (kept, total) = VersionedTable.pruneSelection(spark, root, 1L,
        VersionedTable.readVersion(spark, root, 1L).schema,
        Seq(ColumnBounds("id", Some(2000L), Some(2999L)))).get
      assert(kept.size < total, s"no file pruning: ${kept.size}/$total")

      // joins/aggregations over the named table are plain Spark SQL
      val agg = spark.sql(
        """SELECT b, count(*) AS n FROM dsv2.t GROUP BY b ORDER BY b""")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(agg.toSeq == (0L until 10L).map(b => (b, 1000L)))

      // a verb through the path API is visible to the NEXT vanilla read
      // (each statement resolves the latest version)
      VersionedTable.deleteWhere(spark, root, col("id") < 1000)
      assert(spark.sql("SELECT count(*) AS n FROM dsv2.t")
        .head().getLong(0) == 9000L)

      // a DEFERRED delete's keep-filter is exactly the residual the
      // old ParquetScan-delegation idea could NOT express — the plan
      // splice carries it as an ordinary Filter node, so the vanilla
      // read stays BOTH columnar and exact; RESTORE afterwards so the
      // rest of the test's row arithmetic sees the pre-delete snapshot
      val vBeforeLazy = VersionedTable.latestVersion(spark, root).get
      VersionedTable.deleteWhereLazy(spark, root,
        "id >= 9000 AND id < 9500")
      val lazyQ = spark.sql("SELECT count(*) AS n FROM dsv2.t")
      assert(lazyQ.head().getLong(0) == 8500L,
        "deferred delete must be read-applied through the catalog")
      val lazyPlan = lazyQ.queryExecution.executedPlan.toString
      assert(lazyPlan.contains("FileScan parquet") &&
        !lazyPlan.contains("GraftV1Scan"),
        s"deferred-delete read must stay columnar:\n$lazyPlan")
      VersionedTable.restore(spark, root, vBeforeLazy)
      assert(spark.sql("SELECT count(*) AS n FROM dsv2.t")
        .head().getLong(0) == 9000L)

      // analysis-time version pinning: a statement analyzed BEFORE a
      // new commit executes against its own snapshot — schema and rows
      // from one version, even when the table moved (or evolved)
      // between analysis and execution
      val pinnedQ = spark.sql("SELECT count(*) AS n FROM dsv2.t")
      VersionedTable.append(spark, root,
        spark.range(20000, 20500).select(col("id"),
          (col("id") % 10).as("b"),
          (col("id") % 100).cast("double").as("v")))
      assert(pinnedQ.head().getLong(0) == 9000L,
        "the pre-append analysis must read its pinned version")
      assert(spark.sql("SELECT count(*) AS n FROM dsv2.t")
        .head().getLong(0) == 9500L)

      // ---- vanilla WRITE path (r17): INSERT INTO through the same
      // commit protocol ----------------------------------------------
      val vBeforeIns = VersionedTable.latestVersion(spark, root).get
      spark.sql(
        "INSERT INTO dsv2.t VALUES (30000, 0, 1.5), (30001, 1, 2.5)")
      assert(VersionedTable.latestVersion(spark, root)
        .contains(vBeforeIns + 1),
        "a vanilla INSERT must land as ONE append version")
      assert(spark.sql("SELECT count(*) AS n FROM dsv2.t")
        .head().getLong(0) == 9502L)
      // O(new-data): the append referenced the prior tokens and added
      // exactly one fresh dir (never a snapshot rewrite)
      val insDirs = VersionedTable.history(spark, root)
        .orderBy(col("version").desc).head().getString(1)
      assert(insDirs.contains(";"),
        s"INSERT must reference prior dirs alongside its own: $insDirs")
      // INSERT INTO ... SELECT binds by position like SQL requires
      spark.sql("""INSERT INTO dsv2.t
        SELECT id, id % 10, CAST(id % 100 AS DOUBLE)
        FROM range(40000, 40100)""")
      assert(spark.sql("SELECT count(*) AS n FROM dsv2.t")
        .head().getLong(0) == 9602L)

      // CHECK constraints gate the vanilla write pre-publish
      VersionedTable.addConstraints(spark, root, Map("v_nonneg" -> "v >= 0"))
      intercept[Exception](spark.sql(
        "INSERT INTO dsv2.t VALUES (50000, 0, -5.0)"))
      assert(spark.sql("SELECT count(*) AS n FROM dsv2.t")
        .head().getLong(0) == 9602L,
        "a constraint-violating INSERT must not commit")

      // concurrent vanilla INSERTs + path-API appends rebase internally
      // (never a surfaced conflict, never a lost batch)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (0 until 4).map { i =>
        new Thread(() =>
          try {
            if (i % 2 == 0)
              spark.sql(s"INSERT INTO dsv2.t VALUES (${60000 + i}, 0, 1.0)")
            else VersionedTable.append(spark, root,
              spark.range(61000 + i, 61001 + i).select(col("id"),
                lit(0L).as("b"), lit(1.0).as("v")))
          } catch { case t: Throwable => errs.add(t) })
      }
      threads.foreach(_.start()); threads.foreach(_.join(120000))
      assert(errs.isEmpty, s"concurrent writes failed: ${errs.peek()}")
      assert(spark.sql("SELECT count(*) AS n FROM dsv2.t")
        .head().getLong(0) == 9606L)

      // INSERT OVERWRITE replaces as one atomic version; time travel
      // into the pre-overwrite state still works
      val vBeforeOw = VersionedTable.latestVersion(spark, root).get
      spark.sql("INSERT OVERWRITE dsv2.t VALUES (1, 1, 1.0)")
      assert(spark.sql("SELECT count(*) AS n FROM dsv2.t")
        .head().getLong(0) == 1L)
      assert(VersionedTable.readVersion(spark, root, vBeforeOw)
        .count() == 9606L)

      // foreign tables pass through the extension untouched
      spark.range(5).createOrReplaceTempView("plain_v")
      assert(spark.sql("SELECT count(*) AS n FROM plain_v")
        .head().getLong(0) == 5L)
      spark.sql("CREATE TABLE dsv2.plain_t (x INT) USING parquet")
      spark.sql("INSERT INTO dsv2.plain_t VALUES (1), (2)")
      assert(spark.table("dsv2.plain_t").count() == 2)

      // DROP VERSIONED TABLE unbinds; the vanilla read then fails to
      // resolve instead of reading stale data
      GraftCatalog.drop(spark, "dsv2.t")
      intercept[Exception](spark.table("dsv2.t").count())
    } finally spark.stop()
  }

  test("vanilla Spark SQL DML: UPDATE / DELETE / MERGE on a named table") {
    import org.apache.spark.sql.functions._
    val spark = graftSession("graft-vanilla-dml")
    try {
      spark.sparkContext.setLogLevel("WARN")
      import graft.sources.{GraftCatalog, VersionedTable}
      val root = java.nio.file.Files
        .createTempDirectory("graft-vdml").toString + "/t"
      VersionedTable.commitClustered(spark,
        spark.range(100).select(col("id"), (col("id") % 10).as("b"),
          (col("id") % 7).cast("double").as("v")),
        root, clusterCols = Seq("id"), numFiles = 4)
      GraftCatalog.create(spark, "vdml.t", root)
      def count() = spark.table("vdml.t").count()

      // DELETE — one atomic version, correct rows, op provenance
      val vDel = spark.sql("DELETE FROM vdml.t WHERE id < 10")
        .head().getLong(0)
      assert(count() == 90 && vDel == 2L)

      // UPDATE with WHERE; assignments see OLD values
      spark.sql("UPDATE vdml.t SET v = v + 100.0 WHERE b = 3")
      assert(spark.table("vdml.t").filter("v >= 100").count() == 9)
      // UPDATE without WHERE, multi-assignment over old values
      spark.sql("UPDATE vdml.t SET v = v * 2.0, b = b + 1")
      assert(spark.table("vdml.t").agg(min("b"), max("b"))
        .head().toSeq == Seq(1L, 10L))

      // MERGE upsert; the source's EXTRA column must NOT widen the
      // table (ANSI: only the star-expanded columns flow)
      spark.range(95, 105).select(col("id"), lit(0L).as("b"),
        lit(-1.0).as("v"), lit("junk").as("extra"))
        .createOrReplaceTempView("up")
      spark.sql("""MERGE INTO vdml.t AS t USING up AS s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      assert(count() == 95)
      assert(spark.table("vdml.t").columns.toSeq == Seq("id", "b", "v"),
        "a source helper column must never widen the table through " +
          "vanilla MERGE")
      assert(spark.table("vdml.t").filter("v = -1.0").count() == 10)

      // MERGE partial-column update: old row as t, source as s, AND
      // condition gates which matched pairs update
      spark.range(0, 200, 2).select(col("id"), lit(5.0).as("delta"))
        .createOrReplaceTempView("adj")
      val before16 = spark.table("vdml.t").filter("id = 16")
        .head().getDouble(2)
      val before14 = spark.table("vdml.t").filter("id = 14")
        .head().getDouble(2)
      spark.sql("""MERGE INTO vdml.t AS t USING adj AS s ON t.id = s.id
        WHEN MATCHED AND t.b > 5 THEN UPDATE SET v = t.v + s.delta""")
      assert(spark.table("vdml.t").filter("id = 16").head().getDouble(2)
        == before16 + 5.0, "matched + condition row must update")
      assert(spark.table("vdml.t").filter("id = 14").head().getDouble(2)
        == before14, "condition-failing row must survive verbatim")

      // pure delete-merge: condition over BOTH sides (old row t,
      // source s); unmatched source rows IGNORED (ANSI), no widening
      spark.range(90, 200).select(col("id"),
        (col("id") % 2 === 1).as("kill")).createOrReplaceTempView("ks")
      val beforeDel = count()
      spark.sql("""MERGE INTO vdml.t AS t USING ks AS s ON t.id = s.id
        WHEN MATCHED AND s.kill AND t.b >= 0 THEN DELETE""")
      assert(count() == beforeDel - 7,
        "exactly the matched odd ids 91..103 must delete")
      assert(spark.table("vdml.t").columns.length == 3)

      // a pure delete-merge condition may name the KEY through the
      // source alias (ANSI-legal; a USING join would drop s.id)
      val beforeKeyDel = count()
      spark.sql("""MERGE INTO vdml.t AS t USING ks AS s ON t.id = s.id
        WHEN MATCHED AND s.id = 92 THEN DELETE""")
      assert(count() == beforeKeyDel - 1,
        "s.<key> in a delete condition must resolve")

      // composite-key MERGE
      spark.range(0, 50).select(col("id"), (col("id") % 10 + 1).as("b"),
        lit(7.5).as("nv")).createOrReplaceTempView("ck")
      spark.sql("""MERGE INTO vdml.t AS t USING ck AS s
        ON t.id = s.id AND t.b = s.b
        WHEN MATCHED THEN UPDATE SET v = s.nv""")
      assert(spark.table("vdml.t").filter("v = 7.5").count() > 0)

      // CHECK constraints gate vanilla UPDATE pre-publish
      VersionedTable.addConstraints(spark, root, Map("v_sane" -> "v < 1e6"))
      intercept[Exception](
        spark.sql("UPDATE vdml.t SET v = 1e7 WHERE id = 20"))
      assert(spark.table("vdml.t").filter("v >= 1e6").count() == 0)

      // op provenance: every vanilla statement is a first-class version
      val ops = VersionedTable.history(spark, root)
        .orderBy(col("version")).select("op").collect()
        .map(_.getString(0)).toSeq
      assert(ops.startsWith(Seq("commit", "delete", "update", "update",
        "merge", "merge", "merge", "merge")), s"unexpected ops: $ops")

      // rejected spellings fail TYPED (never a silent wrong answer)
      def rejected(stmt: String, needle: String): Unit = {
        val e = intercept[Exception](spark.sql(stmt))
        assert(e.getMessage.contains(needle),
          s"wrong error for $stmt:\n${e.getMessage}")
      }
      rejected("""MERGE INTO vdml.t AS t USING up AS s ON t.id = s.id
        WHEN NOT MATCHED THEN INSERT *""", "upsert merges need BOTH")
      rejected("""MERGE INTO vdml.t AS t USING up AS s ON t.id > s.id
        WHEN MATCHED THEN UPDATE SET v = s.v""", "unsupported ON clause")
      rejected("DELETE FROM vdml.t WHERE id IN (SELECT id FROM up)",
        "subqueries are not supported")
      rejected("""MERGE INTO vdml.t AS t USING up AS s ON t.id = s.id
        WHEN MATCHED AND t.b = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""",
        "SOURCE columns only")

      // a FOREIGN table keeps Spark's own behavior (our rule must not
      // intercept what it does not own)
      spark.sql("CREATE TABLE vdml.plain (x INT) USING parquet")
      spark.sql("INSERT INTO vdml.plain VALUES (1)")
      val e = intercept[Exception](
        spark.sql("DELETE FROM vdml.plain WHERE x = 1"))
      assert(!e.getMessage.contains("graft vanilla DML"),
        "foreign-table DML must surface Spark's own error")
      GraftCatalog.drop(spark, "vdml.t")
    } finally spark.stop()
  }

  test("vanilla CREATE TABLE USING graft, CTAS, format(\"graft\") I/O") {
    import org.apache.spark.sql.functions._
    val spark = graftSession("graft-vanilla-create")
    try {
      spark.sparkContext.setLogLevel("WARN")
      import graft.sources.VersionedTable
      spark.sql("CREATE DATABASE IF NOT EXISTS cr")

      // plain CREATE at the catalog's default location; the created
      // table takes INSERT and DML like any bound versioned table
      spark.sql("CREATE TABLE cr.t1 (id BIGINT, v DOUBLE) USING graft")
      assert(spark.table("cr.t1").count() == 0)
      spark.sql("INSERT INTO cr.t1 VALUES (1, 1.5), (2, 2.5)")
      assert(spark.table("cr.t1").count() == 2)
      spark.sql("UPDATE cr.t1 SET v = v * 2 WHERE id = 1")
      assert(spark.table("cr.t1").filter("id = 1").head().getDouble(1)
        == 3.0)

      // CTAS = empty creating commit + the SELECT as an insert version
      spark.sql("""CREATE TABLE cr.t2 USING graft AS
        SELECT id, CAST(id % 3 AS DOUBLE) AS v FROM range(100)""")
      assert(spark.table("cr.t2").count() == 100)
      val loc2 = graft.sources.GraftCatalog.resolve(spark, "cr.t2").get
      assert(VersionedTable.history(spark, loc2)
        .orderBy(col("version")).select("op").collect()
        .map(_.getString(0)).toSeq == Seq("commit", "insert"))

      // format("graft"): path-addressed latest-snapshot read (columnar
      // through the same splice) and commit-protocol writes
      val df = spark.read.format("graft").load(loc2)
      assert(df.count() == 100)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("FileScan parquet") &&
        !plan.contains("GraftV1Scan"),
        s"format(graft) read must be columnar:\n$plan")
      spark.range(100, 110).selectExpr("id", "CAST(0.0 AS DOUBLE) AS v")
        .write.format("graft").mode("append").save(loc2)
      assert(spark.table("cr.t2").count() == 110,
        "a format(graft) append must be visible to the bound name")
      // a path write can CREATE a fresh table; Ignore/ErrorIfExists gate
      val loc4 = java.nio.file.Files
        .createTempDirectory("graft-vcr").toString + "/t4"
      spark.range(5).selectExpr("id").write.format("graft").save(loc4)
      assert(VersionedTable.readLatest(spark, loc4).count() == 5)
      intercept[Exception](spark.range(5).selectExpr("id").write
        .format("graft").mode("errorifexists").save(loc4))

      // explicit LOCATION; vanilla DROP unbinds metadata-only
      val loc3 = java.nio.file.Files
        .createTempDirectory("graft-vcr").toString + "/t3"
      spark.sql(s"CREATE TABLE cr.t3 (k INT) USING graft LOCATION '$loc3'")
      spark.sql("INSERT INTO cr.t3 VALUES (7)")
      spark.sql("DROP TABLE cr.t3")
      assert(!spark.catalog.tableExists("cr.t3"))
      assert(VersionedTable.readLatest(spark, loc3).count() == 1,
        "vanilla DROP unbinds the name; versions survive")

      // an implicit rebind over a live root is refused; PARTITIONED BY
      // is a typed error; foreign providers pass through
      intercept[Exception](spark.sql(
        s"CREATE TABLE cr.t5 (k INT) USING graft LOCATION '$loc3'"))
      val e = intercept[Exception](spark.sql(
        "CREATE TABLE cr.t6 (k INT, p INT) USING graft PARTITIONED BY (p)"))
      assert(e.getMessage.contains("PARTITIONED BY"))
      spark.sql("CREATE TABLE cr.plain (x INT) USING parquet")
      spark.sql("INSERT INTO cr.plain VALUES (1)")
      assert(spark.table("cr.plain").count() == 1)
    } finally spark.stop()
  }

  test("vanilla ALTER TABLE and TRUNCATE TABLE on a named table") {
    val spark = graftSession("graft-vanilla-alter")
    try {
      spark.sparkContext.setLogLevel("WARN")
      import graft.sources.{GraftCatalog, VersionedTable}
      spark.sql("CREATE DATABASE IF NOT EXISTS al")
      spark.sql("""CREATE TABLE al.t USING graft AS
        SELECT id, CAST(id AS INT) AS small FROM range(10)""")

      // the four chain ops through vanilla ALTER TABLE — each an
      // O(metadata) version; nested paths ride the same dotted-path
      // verbs (SchemaEvolutionSpec covers them)
      spark.sql("ALTER TABLE al.t ADD COLUMN tag STRING")
      assert(spark.table("al.t").columns.toSeq ==
        Seq("id", "small", "tag"))
      spark.sql("ALTER TABLE al.t RENAME COLUMN tag TO label")
      assert(spark.table("al.t").columns.toSeq ==
        Seq("id", "small", "label"))
      spark.sql("ALTER TABLE al.t ALTER COLUMN small TYPE BIGINT")
      assert(spark.table("al.t").schema("small").dataType.sql == "BIGINT")
      spark.sql("ALTER TABLE al.t DROP COLUMN label")
      assert(spark.table("al.t").columns.toSeq == Seq("id", "small"))
      assert(spark.table("al.t").count() == 10,
        "evolution is metadata-only; rows survive every op")

      // non-chain changes fail typed — a silent no-op would misreport
      // what the chain replays
      val e = intercept[Exception](
        spark.sql("ALTER TABLE al.t ALTER COLUMN small COMMENT 'x'"))
      assert(e.getMessage.contains("unsupported ALTER"))

      // TRUNCATE = one atomic zero-row overwrite version; time travel
      // into the pre-truncate snapshot still works
      val loc = GraftCatalog.resolve(spark, "al.t").get
      val vBefore = VersionedTable.latestVersion(spark, loc).get
      spark.sql("TRUNCATE TABLE al.t")
      assert(spark.table("al.t").count() == 0)
      assert(VersionedTable.latestVersion(spark, loc)
        .contains(vBefore + 1))
      assert(VersionedTable.readVersion(spark, loc, vBefore).count() == 10)

      // foreign tables keep Spark's own ALTER behavior
      spark.sql("CREATE TABLE al.p (x INT) USING parquet")
      spark.sql("ALTER TABLE al.p ADD COLUMN y INT")
      assert(spark.table("al.p").columns.toSeq == Seq("x", "y"))
    } finally spark.stop()
  }

  test("vanilla time travel: VERSION AS OF / TIMESTAMP AS OF on db.t") {
    val spark = graftSession("graft-vanilla-tt")
    try {
      spark.sparkContext.setLogLevel("WARN")
      spark.sql("CREATE DATABASE IF NOT EXISTS tt")
      spark.sql("CREATE TABLE tt.t USING graft AS SELECT id FROM range(10)")
      Thread.sleep(30)
      val tsMid = java.sql.Timestamp.from(java.time.Instant.now())
      Thread.sleep(30)
      spark.sql("INSERT INTO tt.t SELECT id FROM range(10, 30)")
      spark.sql("ALTER TABLE tt.t ADD COLUMN tag STRING")

      assert(spark.table("tt.t").count() == 30)
      // a version pin travels ROWS AND SCHEMA (pre-evolution snapshot
      // has no tag column)
      assert(spark.sql("SELECT count(*) AS n FROM tt.t VERSION AS OF 2")
        .head().getLong(0) == 10)
      assert(spark.sql("SELECT * FROM tt.t VERSION AS OF 2")
        .columns.toSeq == Seq("id"))
      // timestamp resolution: newest version at or before the stamp
      assert(spark.sql(
        s"SELECT count(*) AS n FROM tt.t TIMESTAMP AS OF '$tsMid'")
        .head().getLong(0) == 10)
      // the time-traveled read keeps the columnar splice
      val p = spark.sql("SELECT * FROM tt.t VERSION AS OF 2")
        .queryExecution.executedPlan.toString
      assert(p.contains("FileScan parquet") && !p.contains("GraftV1Scan"),
        s"time-traveled catalog read must stay columnar:\n$p")
      // non-numeric version fails typed
      val e = intercept[Exception](
        spark.sql("SELECT * FROM tt.t VERSION AS OF 'abc'").collect())
      assert(e.getMessage.contains("numeric commit version"))
    } finally spark.stop()
  }

  test("parser extension: engine grammar straight through spark.sql") {
    val spark = graftSession("graft-parser")
    try {
      spark.sparkContext.setLogLevel("WARN")
      spark.sql("CREATE DATABASE IF NOT EXISTS pp")
      spark.sql("""CREATE TABLE pp.t USING graft AS
        SELECT id, CAST(id % 5 AS DOUBLE) v FROM range(1000)""")
      val loc = graft.sources.GraftCatalog.resolve(spark, "pp.t").get

      // maintenance grammar with NO GraftSql.sql wrapper — delegate
      // parse first, engine grammar only on ParseException, so valid
      // Spark SQL can never change meaning
      assert(spark.sql(s"DESCRIBE HISTORY '$loc'").count() >= 2)
      assert(spark.sql(
        s"SELECT count(*) AS n FROM '$loc' VERSION AS OF 2")
        .head().getLong(0) == 1000,
        "time-travel path reads resolve BEFORE the per-statement " +
          "views drop (the parser hands back the analyzed plan)")
      assert(spark.sql("OPTIMIZE pp.t TARGET 64 MB").count() == 1)
      assert(spark.sql("EXPIRE VERSIONS pp.t KEEP 1").columns.nonEmpty)
      spark.sql(s"VACUUM '$loc' RETAIN 1 HOURS")
      assert(spark.sql("SHOW VERSIONED TABLES IN pp").count() == 1)
      assert(spark.sql(s"DELETE FROM '$loc' WHERE id < 10")
        .columns.toSeq == Seq("version"))
      assert(spark.table("pp.t").count() == 990)

      // a leading SQL comment must not defeat the grammar gate (script
      // files prepend them to every statement)
      assert(spark.sql(
        s"-- nightly maintenance\nDESCRIBE HISTORY '$loc'").count() >= 1)

      // plain Spark SQL untouched; garbage keeps Spark's ParseException
      assert(spark.sql("SELECT 1 AS x").head().getInt(0) == 1)
      intercept[org.apache.spark.sql.catalyst.parser.ParseException](
        spark.sql("FLUMMOX TABLE x"))
    } finally spark.stop()
  }

  test("catalog WITHOUT extensions falls back to the V1 row bridge") {
    import org.apache.spark.sql.functions._
    // bare catalog config (no GraftExtensions): the ColumnarCatalogRead
    // splice is absent, so reads go through the V1Scan bridge — slower
    // at the seam, but every answer identical; a user who only sets the
    // catalog conf must never get a wrong result
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("graft-dsv2-bridge")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.catalog.spark_catalog",
        "graft.sources.GraftSparkSessionCatalog")
      .config("spark.sql.warehouse.dir", java.nio.file.Files
        .createTempDirectory("graft-bridge-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      import graft.sources.{GraftCatalog, VersionedTable}
      val root = java.nio.file.Files
        .createTempDirectory("graft-bridge").toString + "/t"
      VersionedTable.commitClustered(spark,
        spark.range(2000).select(col("id"),
          (col("id") % 7).cast("double").as("v")),
        root, clusterCols = Seq("id"), numFiles = 4)
      GraftCatalog.create(spark, "bridge.t", root)

      val q = spark.sql(
        "SELECT sum(v) AS s FROM bridge.t WHERE id >= 500 AND id < 1500")
      assert(q.head().getDouble(0) ==
        (500L until 1500L).map(_ % 7).sum.toDouble)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("Scan graft.sources.GraftV1Scan"),
        s"without extensions the V1 bridge must serve the read:\n$plan")
      // a deferred delete reads through the bridge too (same
      // readVersionPruned path the splice uses)
      VersionedTable.deleteWhereLazy(spark, root, "id < 100")
      assert(spark.sql("SELECT count(*) AS n FROM bridge.t")
        .head().getLong(0) == 1900L)
      GraftCatalog.drop(spark, "bridge.t")
    } finally spark.stop()
  }
}
