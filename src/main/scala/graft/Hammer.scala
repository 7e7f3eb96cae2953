package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{GraftCatalog, GraftSql, VersionedTable}

/** Multi-writer concurrency hammer for the versioned-table commit
  * protocol — the runnable artifact behind the optimistic-concurrency
  * claims (the spec-sized version lives in SinksSpec; this one runs a
  * larger mixed-verb brawl and records the evidence).
  *
  * Phase 1 (the brawl): N merge writers each upsert THEIR OWN key
  * `perWriter` times (read-modify-write against latest, so any lost
  * update shows up as a final count below `perWriter`); one DML writer
  * bumps a dedicated row through copy-on-write `updateWhere`; one
  * OVERWRITE writer bumps its own one-row region through
  * `overwriteWhere` (replaceWhere semantics — the r12 verb a publish
  * race would now hide in); one append writer drip-inserts fresh rows
  * through O(new-data) `append`; one LAZY-DELETE writer appends a
  * sacrificial row then `deleteWhereLazy`s it (racing OPTIMIZE's
  * materialize-and-reset of the del stack); one maintenance thread
  * loops `optimize` + `compactManifests` + `vacuum` against the churn,
  * paced at ~10 Hz like phase 5's.
  * The DML, append, and lazy-delete writers drive their verbs through
  * the NAME-ADDRESSED statement surface (r15: `UPDATE graft_hammer.t`,
  * `INSERT INTO graft_hammer.t VALUES`, `DELETE ... DEFERRED` via
  * [[graft.sources.GraftCatalog]] resolution), so concurrent catalog
  * lookups race the same commits the path verbs do.
  * Every verb retries on [[VersionedTable.CommitConflictException]] —
  * the protocol's contract is "conflict, retry", never "silently lose".
  *
  * Phase 2 (restore contention): with writers quiesced, racing
  * `restore(latest)` threads brawl over the tail — every restore
  * replays identical content, so ANY interleaving must leave the state
  * bit-identical while each success claims exactly one version.
  *
  * Phase 3 (clone-then-race): `shallowClone` the table, then race merge
  * writers on the CLONE against append writers on the SOURCE — the
  * zero-copy fork must give complete isolation both ways.
  *
  * Phase 4 (schema brawl, r13; + widen r14): on a fresh table, race
  * ALTER ADD COLUMN / a RENAME ping-pong / an add-then-WIDEN against
  * appends (which must realign to whatever logical schema wins each
  * slot) and a concurrent OPTIMIZE (which materializes the mapping
  * chain mid-flight) — a lost ALTER shows as a missing column or a
  * still-narrow type, a lost append as a missing row.
  *
  * Phase 5 (CDC-consumer brawl, r14; + ALTER cross-phase r15): on a
  * feed-enabled table, the three consumers the specs only drive
  * single-threaded — the `_cdf` mirror, the versioned replica, the
  * incremental rollup — run LIVE against merge/append/lazy-delete
  * writers, an ALTER ADD/DROP ping-pong (r15: schema evolution races
  * the live consumers; writers realign-and-retry on mid-flight schema
  * changes, the way a real pipeline absorbs someone else's ALTER), and
  * a maintenance loop that optimizes, compacts, and EXPIRES
  * 30-second-old history mid-consumption. After quiesce + one catch-up
  * pass each, the replica must equal the source and the rollup the
  * from-scratch aggregate — a refresh-vs-compaction, mirror-vs-expiry,
  * or consumer-vs-ALTER hole shows as non-convergence.
  *
  * Phase 6 (pure-append fleet, r15): N appenders drip batches with NO
  * retry wrapper — the blind-append semantic rebase must resolve every
  * slot collision internally (zero caller-visible conflicts, gap-free
  * chain, every row exactly once), with the rebase count recorded as
  * proof the race actually collided.
  *
  * Invariants checked after all phases (exit non-zero on any failure):
  *  - both version chains are GAP-FREE 1..latest: every successful verb
  *    claimed exactly one version, no manifest was overwritten or lost;
  *  - zero lost updates across every verb's dedicated region;
  *  - lazy-deleted rows stay deleted (whether a concurrent OPTIMIZE
  *    materialized them or the read path still filters);
  *  - every version still resolves and reads after compaction + vacuum
  *    ran concurrently with the writers;
  *  - conflicts were actually OBSERVED (a race that never collided
  *    would prove nothing).
  *
  * Usage (writes HAMMER.json):
  * {{{
  *   sbt -batch "set fork := true" "runMain graft.Hammer"
  * }}}
  */
object Hammer {

  def main(args: Array[String]): Unit = {
    val writers = sys.env.getOrElse("SPARK_GRAFT_HAMMER_WRITERS", "12").toInt
    val perWriter = sys.env.getOrElse("SPARK_GRAFT_HAMMER_COMMITS", "5").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = java.nio.file.Files.createTempDirectory("graft-hammer")
      .toString
    // one run leaves hundreds of MB of tables: drop them once HAMMER.json
    // holds the invariants
    val failed =
      try brawl(spark, root, writers, perWriter)
      finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(root))
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** Runs every phase on tables under `root`, writes HAMMER.json and
    * returns the number of broken invariants.
    */
  private def brawl(spark: SparkSession, root: String, writers: Int,
      perWriter: Int): Int = {
    import spark.implicits._

    val t = root + "/table"
    val DmlKey = -999L
    val OwKey = -5000L
    VersionedTable.commit(spark,
      Seq((DmlKey, 0L), (OwKey, 0L)).toDF("writer", "commits"), t)
    // name-bind the brawl table: three of the writers below go through
    // the statement surface by NAME, racing catalog resolution against
    // the same commit slots the path verbs fight over
    val tName = "graft_hammer.t"
    GraftCatalog.create(spark, tName, t)

    val conflicts = new AtomicLong(0)
    val updates = new AtomicLong(0)
    val overwrites = new AtomicLong(0)
    val appends = new AtomicLong(0)
    val sacAppends = new AtomicLong(0)
    val lazyDeletes = new AtomicLong(0)
    val optimizes = new AtomicLong(0)
    val restores = new AtomicLong(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stopMaint = new java.util.concurrent.atomic.AtomicBoolean(false)

    def guarded(body: => Unit): Unit =
      try body catch { case e: Throwable => failures.add(e) }
    def retrying(counter: AtomicLong)(body: => Unit): Unit = {
      var done = false
      while (!done && failures.isEmpty) {
        try { body; done = true }
        catch {
          case _: VersionedTable.CommitConflictException =>
            conflicts.incrementAndGet()
        }
      }
      if (done) { counter.incrementAndGet(); () }
    }

    // pace the maintenance/consumer loops (phases 1 and 5) at ~10 Hz
    // instead of a hot spin — an unpaced OPTIMIZE thrash turned every
    // widened conflict window into another writer loss, tripled a
    // phase's wall clock, and made its length and conflict count follow
    // maintenance speed rather than writer behaviour (real maintenance
    // is periodic; the races still collide constantly at 10 Hz)
    def paced(body: => Unit): Unit = { body; Thread.sleep(100L) }

    // ---- phase 1: the mixed-verb brawl --------------------------------
    val mergeThreads = (0 until writers).map { w =>
      new Thread(() => guarded {
        var done = 0
        while (done < perWriter && failures.isEmpty) {
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
              conflicts.incrementAndGet()
          }
        }
      }, s"merge-$w")
    }
    val dmlThread = new Thread(() => guarded {
      (0 until perWriter).foreach { _ =>
        retrying(updates) {
          GraftSql.sql(spark,
            s"UPDATE $tName SET commits = commits + 1 " +
              s"WHERE writer = $DmlKey")
        }
      }
    }, "dml")
    val overwriteThread = new Thread(() => guarded {
      // replaceWhere the one-row OwKey region with its incremented dual:
      // the read-increment-swap is the same lost-update shape as the DML
      // row, but through the r12 overwrite path
      (0 until perWriter).foreach { _ =>
        var done = false
        while (!done && failures.isEmpty) {
          val cur = VersionedTable.readLatest(spark, t)
            .where(col("writer") === OwKey).head().getLong(1)
          try {
            VersionedTable.overwriteWhere(spark, t,
              col("writer") === OwKey,
              Seq((OwKey, cur + 1L)).toDF("writer", "commits"))
            done = true; overwrites.incrementAndGet()
          } catch {
            case _: VersionedTable.CommitConflictException =>
              conflicts.incrementAndGet()
          }
        }
      }
    }, "overwrite")
    val appendThread = new Thread(() => guarded {
      (0 until perWriter).foreach { _ =>
        retrying(appends) {
          GraftSql.sql(spark,
            s"INSERT INTO $tName VALUES (${1000L + appends.get()}, 0)")
        }
      }
    }, "append")
    val lazyThread = new Thread(() => guarded {
      // append a sacrificial row, then deferred-delete it — racing the
      // maintenance thread's OPTIMIZE, which materializes the del stack
      // and resets it mid-flight
      (0 until perWriter).foreach { i =>
        val k = 2000L + i
        retrying(sacAppends) {
          GraftSql.sql(spark, s"INSERT INTO $tName VALUES ($k, 0)")
        }
        retrying(lazyDeletes) {
          GraftSql.sql(spark,
            s"DELETE FROM $tName WHERE writer = $k DEFERRED")
        }
      }
    }, "lazydelete")
    val maintThread = new Thread(() => guarded {
      while (!stopMaint.get() && failures.isEmpty) paced {
        try {
          VersionedTable.optimize(spark, t, targetFileBytes = 1L << 30)
          optimizes.incrementAndGet()
        } catch {
          case _: VersionedTable.CommitConflictException =>
            conflicts.incrementAndGet()
        }
        VersionedTable.compactManifests(spark, t, keepRecent = 4)
        // generous grace: losers' orphans reclaim, in-flight writers safe
        VersionedTable.vacuum(spark, t, graceMs = 3600L * 1000L)
      }
    }, "maintenance")

    val t0 = System.nanoTime()
    val all = mergeThreads ++
      Seq(dmlThread, overwriteThread, appendThread, lazyThread)
    all.foreach(_.start()); maintThread.start()
    all.foreach(_.join(600000))
    stopMaint.set(true); maintThread.join(600000)

    // ---- phase 2: restore contention (quiesced writers) ---------------
    // every racer restores the CURRENT latest: content is identical no
    // matter who wins which version slot, so the state must come out
    // bit-identical while the chain grows by exactly the success count
    val stateBefore = VersionedTable.readLatest(spark, t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val restoreThreads = (0 until 4).map { i =>
      new Thread(() => guarded {
        (0 until 2).foreach { _ =>
          retrying(restores) {
            val latest = VersionedTable.latestVersion(spark, t).get
            VersionedTable.restore(spark, t, latest)
          }
        }
      }, s"restore-$i")
    }
    restoreThreads.foreach(_.start()); restoreThreads.foreach(_.join(600000))

    // ---- phase 3: clone-then-race --------------------------------------
    val c = root + "/clone"
    VersionedTable.shallowClone(spark, c, t)
    val cloneMergers = (0 until 4).map { w =>
      new Thread(() => guarded {
        var done = 0
        while (done < perWriter && failures.isEmpty) {
          val key = 9000L + w
          val mine = VersionedTable.readLatest(spark, c)
            .where(col("writer") === key).collect()
          val cur = if (mine.isEmpty) 0L else mine.head.getLong(1)
          try {
            VersionedTable.mergeInto(spark, c,
              Seq((key, cur + 1L)).toDF("writer", "commits"),
              key = "writer")
            done += 1
          } catch {
            case _: VersionedTable.CommitConflictException =>
              conflicts.incrementAndGet()
          }
        }
      }, s"clone-merge-$w")
    }
    val srcAppends = new AtomicLong(0)
    val srcAppender = new Thread(() => guarded {
      (0 until perWriter).foreach { _ =>
        retrying(srcAppends) {
          VersionedTable.append(spark, t,
            Seq((3000L + srcAppends.get(), 0L)).toDF("writer", "commits"))
        }
      }
    }, "src-append")
    (cloneMergers :+ srcAppender).foreach(_.start())
    (cloneMergers :+ srcAppender).foreach(_.join(600000))

    // ---- phase 4: schema-evolution brawl -------------------------------
    // ALTERs are O(metadata) base-pinned publishes — race them against
    // appends (which must realign to whatever logical schema wins each
    // slot) and a concurrent OPTIMIZE (which MATERIALIZES the chain
    // mid-flight). A lost ALTER shows as a column missing from the final
    // schema; a lost append as a missing row; any interleaving must
    // leave a gap-free chain. The appender also retries on the
    // schema-mismatch refusal — the application-level retry every
    // pipeline appending into an evolving table needs.
    val t2 = root + "/schevo"
    VersionedTable.commit(spark, Seq((0L, 0L)).toDF("id", "v"), t2)
    val alters = new AtomicLong(0)
    val renames = new AtomicLong(0)
    val evoAppends = new AtomicLong(0)
    val evoOptimizes = new AtomicLong(0)
    val stopEvoMaint = new java.util.concurrent.atomic.AtomicBoolean(false)
    val addThread = new Thread(() => guarded {
      (0 until perWriter).foreach { i =>
        retrying(alters) {
          VersionedTable.addColumn(spark, t2, s"x$i", "INT",
            Some(i.toString))
        }
      }
    }, "schema-add")
    val renameThread = new Thread(() => guarded {
      // ping-pong a scratch column nothing else names: every successful
      // rename must survive, whether the chain still maps it or a racing
      // OPTIMIZE materialized it mid-sequence
      retrying(alters) {
        VersionedTable.addColumn(spark, t2, "pp0", "INT", Some("0"))
      }
      (0 until perWriter).foreach { i =>
        retrying(renames) {
          VersionedTable.renameColumn(spark, t2, s"pp$i", s"pp${i + 1}")
        }
      }
    }, "schema-rename")
    val widenThread = new Thread(() => guarded {
      // add-then-WIDEN its own column (r14): the widen races the same
      // appends/adds/renames/OPTIMIZEs — a lost widen shows as the final
      // column still narrow, a replay corruption as a changed value
      retrying(alters) {
        VersionedTable.addColumn(spark, t2, "wd", "INT", Some("3"))
      }
      retrying(alters) {
        VersionedTable.widenColumn(spark, t2, "wd", "BIGINT")
      }
    }, "schema-widen")
    val evoAppender = new Thread(() => guarded {
      (0 until perWriter).foreach { i =>
        var done = false
        while (!done && failures.isEmpty) {
          try {
            // clone the seed row under the CURRENT logical schema — an
            // ALTER landing after this read either conflicts the publish
            // or fails the width check; both retry with a fresh read
            val batch = VersionedTable.readLatest(spark, t2).limit(1)
              .withColumn("id", lit(100L + i))
            VersionedTable.append(spark, t2, batch)
            done = true; evoAppends.incrementAndGet()
          } catch {
            case _: VersionedTable.CommitConflictException =>
              conflicts.incrementAndGet()
            case e: IllegalArgumentException
                if e.getMessage.contains("schema must match") =>
              conflicts.incrementAndGet()
          }
        }
      }
    }, "schema-append")
    val evoMaint = new Thread(() => guarded {
      while (!stopEvoMaint.get() && failures.isEmpty) {
        try {
          VersionedTable.optimize(spark, t2, targetFileBytes = 1L << 30)
          evoOptimizes.incrementAndGet()
        } catch {
          case _: VersionedTable.CommitConflictException =>
            conflicts.incrementAndGet()
        }
      }
    }, "schema-maint")
    val evoThreads = Seq(addThread, renameThread, widenThread, evoAppender)
    evoThreads.foreach(_.start()); evoMaint.start()
    evoThreads.foreach(_.join(600000))
    stopEvoMaint.set(true); evoMaint.join(600000)

    // ---- phase 5: CDC-consumer brawl (r14) ------------------------------
    // The consumers the specs only ever run single-threaded — the _cdf
    // mirror, the versioned replica, the incremental rollup — race LIVE
    // against merge/append/lazy-delete writers AND a maintenance loop
    // that optimizes, compacts and EXPIRES history out from under them.
    // A refresh-vs-compaction or mirror-vs-expiry hole shows as a
    // replica/rollup that cannot converge once the dust settles; the
    // commit protocol itself must keep both consumer tables' chains
    // gap-free (they are single-writer, but their BASE reads race
    // everything).
    val t3 = root + "/feedsrc"
    val t3rep = root + "/feedreplica"
    val t3roll = root + "/feedrollup"
    val seed = Seq((-1L, 0L, 0L)).toDF("id", "grp", "x")
    VersionedTable.commit(spark, seed, t3)
    VersionedTable.commit(spark, seed, t3rep) // bootstrap = same seed;
    // everything AFTER v1 reaches the replica through the feed alone
    VersionedTable.enableChangeFeed(spark, t3)
    val p5Merges = new AtomicLong(0)
    val p5Appends = new AtomicLong(0)
    val p5SacAppends = new AtomicLong(0)
    val p5LazyDeletes = new AtomicLong(0)
    val p5Optimizes = new AtomicLong(0)
    val p5Expiries = new AtomicLong(0)
    val p5Mirrors = new AtomicLong(0)
    val p5Refreshes = new AtomicLong(0)
    val p5ReplicaBatches = new AtomicLong(0)
    val p5Retries = new AtomicLong(0)
    val stopP5 = new java.util.concurrent.atomic.AtomicBoolean(false)
    // transient consumer collisions that are DOCUMENTED-inherent (a
    // version expiring mid-read) retry like commit conflicts do —
    // anything else is a failure
    def consuming(counter: AtomicLong)(body: => Unit): Unit =
      try { body; counter.incrementAndGet(); () }
      catch {
        case _: VersionedTable.CommitConflictException =>
          conflicts.incrementAndGet()
        case e: IllegalArgumentException
            if e.getMessage != null &&
              (e.getMessage.contains("expired") ||
                e.getMessage.contains("never committed")) =>
          p5Retries.incrementAndGet()
        case e: java.io.FileNotFoundException =>
          val _ = e; p5Retries.incrementAndGet()
        case e: org.apache.spark.SparkException
            if e.getMessage != null &&
              (e.getMessage.contains("FAILED_READ_FILE") ||
                e.getMessage.contains("does not exist")) =>
          // the listing-vs-reclaim window (a file read after vacuum
          // erased it) — Spark 4 wraps the FileNotFound in
          // FAILED_READ_FILE; the retry relists and moves on
          val _ = e; p5Retries.incrementAndGet()
      }
    // r15 cross-phase: an ALTER ping-pong (ADD xc / DROP xc) runs INSIDE
    // the CDC brawl, so schema evolution races the live consumers — the
    // StreamingSpec widen golden only ever drove this single-threaded.
    // Writers align their frames to whatever logical schema each
    // iteration observes and treat a mid-flight schema change exactly
    // like a commit conflict (re-read, realign, retry) — what a real
    // multi-writer pipeline does after someone else's ALTER lands.
    val p5Alters = new AtomicLong(0)
    def alignedSrc(rows: Seq[(Long, Long, Long)]) = {
      var df = rows.toDF("id", "grp", "x")
      VersionedTable.readLatest(spark, t3).schema
        .filterNot(f => Set("id", "grp", "x")(f.name))
        .foreach(f => df = df.withColumn(f.name, lit(null).cast(f.dataType)))
      df
    }
    def schemaMoved(e: IllegalArgumentException): Boolean =
      e.getMessage != null &&
        (e.getMessage.contains("missing snapshot columns") ||
          e.getMessage.contains("schema must match") ||
          e.getMessage.contains("active schema mapping"))
    val p5MergeThreads = (0 until 4).map { w =>
      new Thread(() => guarded {
        var done = 0
        while (done < perWriter && failures.isEmpty) {
          val mine = VersionedTable.readLatest(spark, t3)
            .where(col("id") === w.toLong)
            .select(col("x")).collect()
          val cur = if (mine.isEmpty) 0L else mine.head.getLong(0)
          try {
            VersionedTable.mergeInto(spark, t3,
              alignedSrc(Seq((w.toLong, w.toLong % 2, cur + 1L))),
              key = "id")
            done += 1; p5Merges.incrementAndGet()
          } catch {
            case _: VersionedTable.CommitConflictException =>
              conflicts.incrementAndGet()
            case e: IllegalArgumentException if schemaMoved(e) =>
              p5Retries.incrementAndGet()
          }
        }
      }, s"p5-merge-$w")
    }
    // schema-change-aware retry: conflicts count as conflicts; an ALTER
    // landing between the align and the verb re-aligns and retries
    def retryingAligned(counter: AtomicLong)(body: => Unit): Unit = {
      var done = false
      while (!done && failures.isEmpty) {
        try { body; done = true }
        catch {
          case _: VersionedTable.CommitConflictException =>
            conflicts.incrementAndGet()
          case e: IllegalArgumentException if schemaMoved(e) =>
            p5Retries.incrementAndGet()
        }
      }
      if (done) { counter.incrementAndGet(); () }
    }
    val p5Appender = new Thread(() => guarded {
      (0 until perWriter).foreach { _ =>
        retryingAligned(p5Appends) {
          val k = 500L + p5Appends.get()
          VersionedTable.append(spark, t3,
            alignedSrc(Seq((k, k % 2, 1L))))
        }
      }
    }, "p5-append")
    val p5Lazy = new Thread(() => guarded {
      (0 until perWriter).foreach { i =>
        val k = 600L + i
        retryingAligned(p5SacAppends) {
          VersionedTable.append(spark, t3,
            alignedSrc(Seq((k, k % 2, 1L))))
        }
        // a NEW deferred delete is refused while a chain is active (by
        // design) — the retry waits out the window until a CoW verb
        // (any racing merge/optimize) materializes the mapping
        retryingAligned(p5LazyDeletes) {
          VersionedTable.deleteWhereLazy(spark, t3, s"id = $k")
        }
      }
    }, "p5-lazydelete")
    // the alter ping-pong also tolerates "already exists"/"no column":
    // a racing merge can legitimately materialize-then-lose xc between
    // this thread's DROP and its next ADD (the diff a CoW verb applies
    // is the whole mapped snapshot), so a presence mismatch is protocol
    // noise here, not a failure — mirroring retryingAligned's
    // schemaMoved handling
    def retryingAlter(counter: AtomicLong)(body: => Unit): Unit = {
      var done = false
      while (!done && failures.isEmpty) {
        try { body; done = true }
        catch {
          case _: VersionedTable.CommitConflictException =>
            conflicts.incrementAndGet()
          case e: IllegalArgumentException
              if Option(e.getMessage).exists(m =>
                m.contains("already exists") || m.contains("no column")) =>
            // the ping-pong's TARGET state already holds (or the other
            // half raced ahead) — count it done and move to the next leg
            done = true
        }
      }
      if (done) { counter.incrementAndGet(); () }
    }
    val p5Alter = new Thread(() => guarded {
      (0 until perWriter).foreach { _ =>
        retryingAlter(p5Alters) {
          VersionedTable.addColumn(spark, t3, "xc", "INT", Some("5"))
        }
        retryingAlter(p5Alters) {
          VersionedTable.dropColumn(spark, t3, "xc")
        }
      }
    }, "p5-alter")
    val p5Maint = new Thread(() => guarded {
      while (!stopP5.get() && failures.isEmpty) paced {
        try {
          VersionedTable.optimize(spark, t3, targetFileBytes = 1L << 30)
          p5Optimizes.incrementAndGet()
        } catch {
          case _: VersionedTable.CommitConflictException =>
            conflicts.incrementAndGet()
        }
        VersionedTable.compactManifests(spark, t3, keepRecent = 4)
        // aggressive retention: versions age out FAST, mid-consumption —
        // the feed-retention-on-expiry path must keep every pending
        // change batch reachable for the replica
        p5Expiries.addAndGet(
          VersionedTable.expireVersionsOlderThan(spark, t3, 30000L).size)
        VersionedTable.vacuum(spark, t3, graceMs = 3600L * 1000L)
      }
    }, "p5-maintenance")
    // consumer 1: the _cdf mirror, self-healing, racing the writers'
    // own post-commit mirrors AND expiry's retention mirror
    val p5Mirror = new Thread(() => guarded {
      while (!stopP5.get() && failures.isEmpty) paced {
        consuming(p5Mirrors) {
          VersionedTable.mirrorChangeFeed(spark, t3); ()
        }
      }
    }, "p5-mirror")
    // consumer 2: the versioned replica, drained from whatever _cdf dirs
    // exist beyond its high-water mark (the streaming sink's batch body,
    // driven by hand so it can race without a streaming runtime)
    val cdfVer = """v(\d{8})""".r
    val repApplied = new AtomicLong(0L)
    def drainReplica(): Unit = {
      val (h3, root3) = (org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(t3, "_cdf"))
      if (!h3.exists(root3)) return
      val pend = h3.listStatus(root3).toSeq.map(_.getPath)
        .flatMap(p => p.getName match {
          case cdfVer(n) if n.toLong > repApplied.get() => Some((n.toLong, p))
          case _ => None
        }).sortBy(_._1)
      if (pend.isEmpty) return
      val changes = spark.read.parquet(pend.map(_._2.toString): _*)
        .select(col("id"), col("grp"), col("x"), col("__op"),
          col("_commit_version"))
      VersionedTable.replicaBatchIfNew(spark, t3rep, changes, key = "id",
        version = "_commit_version", op = "__op", batchId = pend.last._1)
      repApplied.set(pend.last._1)
      p5ReplicaBatches.incrementAndGet(); ()
    }
    val p5Replica = new Thread(() => guarded {
      while (!stopP5.get() && failures.isEmpty) paced {
        consuming(new AtomicLong) { drainReplica() }
      }
    }, "p5-replica")
    // consumer 3: the incremental rollup, riding merge/append/lazydelete
    // deltas while compaction retires the manifests it plans from
    val p5Rollup = new Thread(() => guarded {
      while (!stopP5.get() && failures.isEmpty) paced {
        consuming(p5Refreshes) {
          VersionedTable.refreshRollup(spark, t3, t3roll,
            keys = Seq("grp"), sumCols = Seq("x")); ()
        }
      }
    }, "p5-rollup")
    val p5Writers = p5MergeThreads ++ Seq(p5Appender, p5Lazy, p5Alter)
    val p5Consumers = Seq(p5Mirror, p5Replica, p5Rollup)
    p5Writers.foreach(_.start()); p5Maint.start()
    p5Consumers.foreach(_.start())
    p5Writers.foreach(_.join(600000))
    stopP5.set(true)
    p5Maint.join(600000); p5Consumers.foreach(_.join(600000))
    // quiesced catch-up: one mirror, one drain, one refresh — after this
    // the consumers must have CONVERGED or the race ate something. A
    // merge whose aligned source raced a DROP can legitimately RE-ADD
    // xc (merge schema-widening is a feature, and full-row sources are
    // TOCTOU against concurrent ALTERs by design) — one quiesced DROP
    // settles the schema before the invariants read it
    if (failures.isEmpty) {
      if (VersionedTable.readLatest(spark, t3).columns.contains("xc"))
        VersionedTable.dropColumn(spark, t3, "xc")
      VersionedTable.mirrorChangeFeed(spark, t3)
      drainReplica()
      VersionedTable.refreshRollup(spark, t3, t3roll,
        keys = Seq("grp"), sumCols = Seq("x"))
    }

    // ---- phase 6: pure-append fleet (r15 semantic rebase) ---------------
    // N appenders drip batches with NO application-level retry wrapper:
    // every slot collision must resolve INTERNALLY (the blind-append
    // rebase in publishAppendRebasing) or the thread dies and the hammer
    // fails. r14 measured a 26× retry tax under contention — this phase
    // pins its removal: zero caller-visible conflicts, full throughput.
    val t6 = root + "/appendfleet"
    VersionedTable.commit(spark,
      Seq((-1L, -1L)).toDF("writer", "seq"), t6)
    val rebasesBefore = VersionedTable.appendRebases.get()
    val p6Appenders = (0 until writers).map { w =>
      new Thread(() => guarded {
        (0 until perWriter).foreach { i =>
          // deliberately NOT wrapped in retrying(): a surfaced conflict
          // here is a protocol regression, recorded as a failure
          VersionedTable.append(spark, t6,
            Seq((w.toLong, i.toLong)).toDF("writer", "seq")); ()
        }
      }, s"p6-append-$w")
    }
    p6Appenders.foreach(_.start()); p6Appenders.foreach(_.join(600000))
    val p6Rebases = VersionedTable.appendRebases.get() - rebasesBefore

    // ---- phase 7: disjoint CoW-updater fleet (r16 file-granular rebase) --
    // N updaters each own ONE clustered region of a fresh table and bump
    // only their region through copy-on-write updateWhere, with NO retry
    // wrapper: region-disjoint updates touch disjoint FILE sets (the
    // region-clustered layout), so every slot collision must resolve
    // internally (publishCowRebasing's guards all hold) — a surfaced
    // conflict is a protocol regression recorded as a failure. This is
    // the DML sibling of phase 6: before r16, CoW verbs serialized on
    // the version slot with a caller-retry tax even when provably
    // disjoint.
    val t7 = root + "/cowfleet"
    val p7Writers = math.min(writers, 8)
    // one PURE-region data dir per writer, seeded as commit + appends:
    // the only layout that GUARANTEES file-disjoint regions (a single
    // clustered/unioned write lets range sampling or AQE coalescing
    // co-locate two regions in one file, which would make the writers'
    // touched sets legitimately overlap and the conflict surface
    // honestly; the fleet pins the DISJOINT contract, so the layout must
    // be deterministic)
    def region7(w: Int) = spark.range(1000L).coalesce(1)
      .select(lit(w.toLong).as("region"),
        (col("id") + w * 1000L).as("k"), lit(0L).as("bumps"))
    VersionedTable.commit(spark, region7(0), t7)
    (1 until p7Writers).foreach(w =>
      VersionedTable.append(spark, t7, region7(w)))
    val cowRebasesBefore = VersionedTable.cowRebases.get()
    val p7Updaters = (0 until p7Writers).map { w =>
      new Thread(() => guarded {
        (0 until perWriter).foreach { _ =>
          // deliberately NOT wrapped in retrying(): a surfaced conflict
          // between disjoint regions is a failure
          VersionedTable.updateWhere(spark, t7,
            col("region") === w.toLong,
            Map("bumps" -> (col("bumps") + lit(1L)))); ()
        }
      }, s"p7-update-$w")
    }
    p7Updaters.foreach(_.start()); p7Updaters.foreach(_.join(600000))
    val p7Rebases = VersionedTable.cowRebases.get() - cowRebasesBefore
    val wallS = (System.nanoTime() - t0) / 1e9

    // ---- invariants -----------------------------------------------------
    var failed = failures.size()
    failures.forEach(e => System.err.println(s"[hammer] writer died: $e"))
    def check(name: String, ok: Boolean, detail: => String): Unit =
      if (!ok) { failed += 1; System.err.println(s"[hammer] FAIL $name: $detail") }

    val vs = VersionedTable.versions(spark, t)
    val expectVersions =
      1L + writers * perWriter + updates.get() + overwrites.get() +
        appends.get() + sacAppends.get() + lazyDeletes.get() +
        optimizes.get() + restores.get() + srcAppends.get()
    check("gap-free chain", vs == (1L to vs.last) && vs.last == expectVersions,
      s"versions=${vs.last} expected 1..$expectVersions")
    val finalRows = VersionedTable.readLatest(spark, t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    check("no lost merge updates",
      (0 until writers).forall(w => finalRows.get(w.toLong)
        .contains(perWriter.toLong)),
      s"final=$finalRows")
    check("no lost DML updates",
      finalRows.get(DmlKey).contains(updates.get()), s"final=$finalRows")
    check("no lost overwrites",
      finalRows.get(OwKey).contains(overwrites.get()), s"final=$finalRows")
    check("no lost appends",
      finalRows.keys.count(k => k >= 1000L && k < 2000L) == appends.get(),
      s"final=$finalRows")
    check("lazy-deleted rows stay deleted",
      finalRows.keys.count(k => k >= 2000L && k < 3000L) ==
        sacAppends.get() - lazyDeletes.get(),
      s"final=$finalRows sac=${sacAppends.get()} del=${lazyDeletes.get()}")
    check("restore contention left state bit-identical",
      finalRows.filter(_._1 < 3000L) == stateBefore.filter(_._1 < 3000L),
      s"before=$stateBefore after=$finalRows")
    check("every version reads post-compaction",
      vs.forall(v => VersionedTable.readVersion(spark, t, v).count() >= 1L),
      "a compacted/vacuumed version failed to resolve")
    // clone isolation both ways
    val cvs = VersionedTable.versions(spark, c)
    check("clone chain gap-free",
      cvs == (1L to cvs.last) && cvs.last == 1L + 4L * perWriter,
      s"clone versions=$cvs")
    val cloneRows = VersionedTable.readLatest(spark, c).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    check("clone merges all landed",
      (0 until 4).forall(w => cloneRows.get(9000L + w)
        .contains(perWriter.toLong)),
      s"clone=$cloneRows")
    check("source appends invisible to clone",
      !cloneRows.keys.exists(_ >= 3000L) || cloneRows.keys
        .filter(k => k >= 3000L && k < 4000L).isEmpty,
      s"clone=$cloneRows")
    check("clone merges invisible to source",
      !finalRows.keys.exists(_ >= 9000L), s"final=$finalRows")
    check("races actually collided", conflicts.get() > 0,
      "zero conflicts observed — raise writers/commits")
    // phase-4 invariants: schema brawl
    val evs = VersionedTable.versions(spark, t2)
    val expectEvo = 1L + alters.get() + renames.get() + evoAppends.get() +
      evoOptimizes.get()
    check("schema-brawl chain gap-free",
      evs == (1L to evs.last) && evs.last == expectEvo,
      s"versions=${evs.last} expected 1..$expectEvo")
    val evoFinal = VersionedTable.readLatest(spark, t2)
    val evoCols = evoFinal.columns.toSet
    check("no lost ALTER ADDs",
      (0 until perWriter).forall(i => evoCols.contains(s"x$i")),
      s"cols=$evoCols")
    check("rename ping-pong landed at its final name",
      evoCols.contains(s"pp${renames.get()}") &&
        (renames.get() == 0L || !evoCols.contains("pp0")),
      s"cols=$evoCols renames=${renames.get()}")
    check("no lost appends through the mapping",
      evoFinal.where(col("id") >= 100L).count() == evoAppends.get(),
      s"rows=${evoFinal.where(col("id") >= 100L).count()} " +
        s"appends=${evoAppends.get()}")
    check("added defaults backfilled the seed row",
      {
        val r = evoFinal.where(col("id") === 0L)
          .selectExpr((0 until perWriter).map(i => s"x$i"): _*).head()
        (0 until perWriter).forall(i => !r.isNullAt(i) && r.getInt(i) == i)
      },
      "the seed row lost an added column's default")
    check("widen survived the brawl at the wide type with the same value",
      evoFinal.schema("wd").dataType ==
        org.apache.spark.sql.types.LongType &&
        evoFinal.where(col("id") === 0L).head()
          .getAs[Long]("wd") == 3L,
      s"wd=${evoFinal.schema("wd").dataType} " +
        s"rows=${evoFinal.select("id", "wd").collect().take(3).toSeq}")
    // phase-5 invariants: CDC-consumer brawl
    val p5vs = VersionedTable.versions(spark, t3)
    check("p5 source chain gap-free (contiguous surviving suffix)",
      p5vs == (p5vs.head to p5vs.last),
      s"versions=$p5vs")
    val srcFinal = VersionedTable.readLatest(spark, t3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    check("p5 no lost merge updates",
      (0 until 4).forall(w =>
        srcFinal.get(w.toLong).map(_._2).contains(perWriter.toLong)),
      s"src=$srcFinal")
    check("p5 lazy-deleted rows stay deleted",
      srcFinal.keys.count(k => k >= 600L && k < 700L) ==
        p5SacAppends.get() - p5LazyDeletes.get(),
      s"src=${srcFinal.keys.filter(_ >= 600L)}")
    val repFinal = VersionedTable.readLatest(spark, t3rep)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    check("p5 replica converged to the source through the brawl",
      repFinal == srcFinal,
      s"missing=${(srcFinal.toSet -- repFinal.toSet).take(5)} " +
        s"surplus=${(repFinal.toSet -- srcFinal.toSet).take(5)}")
    val rollGot = VersionedTable.readLatest(spark, t3roll)
      .select("grp", "n", "sum_x").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rollWant = VersionedTable.readLatest(spark, t3)
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    check("p5 rollup converged to the from-scratch aggregate",
      rollGot == rollWant, s"got=$rollGot want=$rollWant")
    check("p5 alter ping-pong completed; xc settled dropped",
      p5Alters.get() == 2L * perWriter &&
        !VersionedTable.readLatest(spark, t3).columns.contains("xc"),
      s"alters=${p5Alters.get()} cols=" +
        VersionedTable.readLatest(spark, t3).columns.mkString(","))
    // phase-6 invariants: the append fleet
    val p6vs = VersionedTable.versions(spark, t6)
    check("p6 append-fleet chain gap-free, one version per append",
      p6vs == (1L to p6vs.last) &&
        p6vs.last == 1L + writers.toLong * perWriter,
      s"versions=$p6vs expected 1..${1L + writers.toLong * perWriter}")
    val p6Rows = VersionedTable.readLatest(spark, t6)
      .where(col("writer") >= 0L).count()
    check("p6 every unretried append landed exactly once",
      p6Rows == writers.toLong * perWriter,
      s"rows=$p6Rows expected ${writers.toLong * perWriter}")
    check("p6 rebases actually happened (the race collided)",
      p6Rebases > 0, "zero rebases — raise writers/commits")
    // phase-7 invariants: the disjoint CoW-updater fleet
    val p7vs = VersionedTable.versions(spark, t7)
    val p7Expect = p7Writers.toLong + p7Writers.toLong * perWriter
    check("p7 CoW-fleet chain gap-free, one version per update",
      p7vs == (1L to p7vs.last) && p7vs.last == p7Expect,
      s"versions=$p7vs expected 1..$p7Expect")
    val p7Bad = VersionedTable.readLatest(spark, t7)
      .where(col("bumps") =!= perWriter.toLong).count()
    check("p7 every region bumped exactly perWriter times (serial-replay equal)",
      p7Bad == 0L, s"$p7Bad rows off target")
    check("p7 CoW rebases actually happened (the race collided)",
      p7Rebases > 0, "zero CoW rebases — raise writers/commits")

    val lost = (0 until writers).count(w =>
      !finalRows.get(w.toLong).contains(perWriter.toLong)) +
      (if (finalRows.get(DmlKey).contains(updates.get())) 0 else 1) +
      (if (finalRows.get(OwKey).contains(overwrites.get())) 0 else 1)
    val json = s"""{"writers":$writers,"per_writer":$perWriter,""" +
      s""""merges":${writers * perWriter},"dml_updates":${updates.get()},""" +
      s""""overwrites":${overwrites.get()},""" +
      s""""appends":${appends.get() + srcAppends.get()},""" +
      s""""lazy_deletes":${lazyDeletes.get()},""" +
      s""""restores":${restores.get()},""" +
      s""""clone_merges":${4 * perWriter},""" +
      s""""optimizes":${optimizes.get() + evoOptimizes.get()},""" +
      s""""schema_alters":${alters.get() + renames.get()},""" +
      s""""schema_appends":${evoAppends.get()},""" +
      s""""cdc_merges":${p5Merges.get()},""" +
      s""""cdc_appends":${p5Appends.get() + p5SacAppends.get()},""" +
      s""""cdc_lazy_deletes":${p5LazyDeletes.get()},""" +
      s""""cdc_optimizes":${p5Optimizes.get()},""" +
      s""""cdc_expired_versions":${p5Expiries.get()},""" +
      s""""cdc_mirror_passes":${p5Mirrors.get()},""" +
      s""""cdc_replica_batches":${p5ReplicaBatches.get()},""" +
      s""""cdc_rollup_refreshes":${p5Refreshes.get()},""" +
      s""""cdc_consumer_retries":${p5Retries.get()},""" +
      s""""cdc_schema_alters":${p5Alters.get()},""" +
      s""""fleet_appends":${writers * perWriter},""" +
      s""""fleet_rebases":$p6Rebases,""" +
      s""""cow_fleet_updates":${p7Writers * perWriter},""" +
      s""""cow_fleet_rebases":$p7Rebases,""" +
      s""""conflicts":${conflicts.get()},"versions":${vs.last},""" +
      s""""lost_updates":$lost,"failures":$failed,""" +
      f""""wall_s":$wallS%.1f}"""
    println(s"[hammer] $json")
    java.nio.file.Files.write(java.nio.file.Paths.get("HAMMER.json"),
      json.getBytes("UTF-8"))
    failed
  }
}
